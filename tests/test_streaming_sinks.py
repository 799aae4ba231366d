"""Structured Streaming operators + DOT/JSON sinks."""

from __future__ import annotations

import json

import pytest
from pyspark.errors import AnalysisException
from pyspark.sql import functions as F
from pyspark.sql.streaming import DataStreamWriter

from tree_sitter_codeviews_spark import streaming
from tree_sitter_codeviews_spark.operators.relational import events_sessions
from tree_sitter_codeviews_spark.sources import sinks
from tree_sitter_codeviews_spark.sources.testdata import load_table


def test_stream_windows_equals_batch(spark, sf_tiny):
    got = streaming.run_available_now(
        streaming.windowed_event_counts(streaming.stream_events(spark, sf_tiny))
    )
    ev = load_table(spark, sf_tiny, "events")
    want = (
        ev.groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(
            F.count("*").alias("n_events"),
            F.sum(F.round(F.col("value") * 1e6).cast("bigint")).alias("sum_value_micro"),
        )
        .select(F.col("w.start").alias("window_start"), "event_type", "n_events", "sum_value_micro")
    )
    g = {tuple(r) for r in got.collect()}
    w = {tuple(r) for r in want.collect()}
    assert g == w and len(g) > 0


def test_stream_sessionize_matches_batch(spark, sf_tiny):
    # single bounded batch => the stateful operator's per-user totals equal
    # the batch sessionizer's
    out = streaming.run_available_now(
        streaming.sessionize_stream(streaming.stream_events(spark, sf_tiny)),
        mode="update",
    )
    got = {r.user_id: (r.n_sessions, r.n_events) for r in out.collect()}
    batch = events_sessions(spark, sf_tiny)
    want = {
        r.user_id: (r.n_sessions, r.n_events)
        for r in batch.groupBy("user_id").agg(
            F.countDistinct("session_id").alias("n_sessions"),
            F.count("*").alias("n_events"),
        ).collect()
    }
    assert got == want


SHUFFLE = "spark.sql.shuffle.partitions"


def test_drain_runs_one_state_partition_per_core(spark, sf_tiny, monkeypatch):
    """The drain's stateful operator gets one state partition per core,
    and the caller's shuffle-partition setting survives the call."""
    started = []
    real_start = DataStreamWriter.start

    def start(self, *args, **kwargs):
        q = real_start(self, *args, **kwargs)
        started.append(q)
        return q

    monkeypatch.setattr(DataStreamWriter, "start", start)
    cores = spark.sparkContext.defaultParallelism
    before = spark.conf.get(SHUFFLE)
    assert int(before) != cores  # else the check below proves nothing
    streaming.run_available_now(
        streaming.windowed_event_counts(streaming.stream_events(spark, sf_tiny))
    )
    assert spark.conf.get(SHUFFLE) == before
    (q,) = started
    assert q.lastProgress["stateOperators"][0]["numShufflePartitions"] == cores


def test_drain_restores_conf_when_start_raises(spark, sf_tiny):
    before = spark.conf.get(SHUFFLE)
    # complete mode needs a streaming aggregation; dropDuplicates is not one
    with pytest.raises(AnalysisException):
        streaming.run_available_now(
            streaming.stream_dedup_hashes(
                streaming.stream_documents(spark, sf_tiny)),
            mode="complete",
        )
    assert spark.conf.get(SHUFFLE) == before


def test_stream_sources_infer_schema_once(spark, sf_tiny):
    streaming.stream_events(spark, sf_tiny)
    streaming.stream_documents(spark, sf_tiny)
    sc = spark.sparkContext
    group = "test-stream-sources-schema-once"
    sc.setJobGroup(group, "second stream source calls")
    try:
        streaming.stream_events(spark, sf_tiny)
        streaming.stream_documents(spark, sf_tiny)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    assert list(sc.statusTracker().getJobIdsForGroup(group)) == []


def _tiny_graph(spark):
    nodes = spark.createDataFrame(
        [(1, 10, "a"), (1, 11, "b"), (2, 20, "c")],
        "graph_id long, node_id long, label string",
    )
    edges = spark.createDataFrame(
        [(1, 10, 11, "next")], "graph_id long, src long, dst long, edge_type string"
    )
    return nodes, edges


def test_dot_sink(spark):
    nodes, edges = _tiny_graph(spark)
    out = {r.graph_id: r.dot for r in sinks.graph_to_dot(nodes, edges).collect()}
    assert out[1] == (
        'digraph g1 {\n  n10 [label="a"];\n  n11 [label="b"];\n'
        '  n10 -> n11 [label="next"];\n}'
    )
    assert 'n20 [label="c"]' in out[2] and "->" not in out[2]


def test_json_sink_roundtrips(spark):
    nodes, edges = _tiny_graph(spark)
    out = {r.graph_id: json.loads(r.json) for r in sinks.graph_to_json(nodes, edges).collect()}
    assert out[1]["nodes"] == [{"node_id": 10, "label": "a"}, {"node_id": 11, "label": "b"}]
    assert out[1]["links"] == [{"src": 10, "dst": 11, "edge_type": "next"}]
    assert "links" not in out[2] or not out[2].get("links")



def test_watermark_drops_late_data(spark, tmp_path):
    """Real late-data semantics, not just a bounded drain: an event older
    than the committed watermark arriving in a later run must NOT be added
    to its (already finalized) window in append mode. Two availableNow
    drains sharing one checkpoint = two deterministic micro-batches."""
    import pandas as pd
    from pyspark.sql import functions as F

    d = tmp_path / "stream_in"
    d.mkdir()
    ckpt = str(tmp_path / "ckpt")
    out = str(tmp_path / "out")
    schema = "ts timestamp, event_type string, value double"

    def drain(name):
        # file sink (not memory): it supports checkpoint recovery, and its
        # commit log makes the cumulative output exactly-once across runs
        src = (
            spark.readStream.schema(schema).parquet(str(d) + "/*")
            .withColumn("ts", F.col("ts").cast("timestamp"))
        )
        agg = streaming.windowed_event_counts(src, window="1 hour", watermark="2 hours")
        q = (
            agg.writeStream.format("parquet").option("path", out)
            .option("checkpointLocation", ckpt)
            .outputMode("append").trigger(availableNow=True).start()
        )
        q.awaitTermination()
        rows = spark.read.parquet(out).collect()
        got = {}
        for r in rows:
            got[str(r.window_start)] = got.get(str(r.window_start), 0) + r.n_events
        return got

    batch1 = spark.createDataFrame(pd.DataFrame({
        "ts": pd.to_datetime(["2026-01-01 10:10:00", "2026-01-01 10:20:00",
                              "2026-01-01 14:00:00"]),
        "event_type": ["a", "a", "a"],
        "value": [1.0, 1.0, 1.0],
    }))
    batch1.coalesce(1).write.parquet(str(d / "f1.parquet"))
    got1 = drain("wm_run1")
    # watermark committed after run 1 = 14:00 - 2h = 12:00 > the 10:00
    # window's end, so it is finalized and emitted with the 2 on-time rows
    assert got1.get("2026-01-01 10:00:00") == 2, got1

    batch2 = spark.createDataFrame(pd.DataFrame({
        # 10:30 is behind the committed 12:00 watermark => dropped;
        # 15:00 advances the stream
        "ts": pd.to_datetime(["2026-01-01 10:30:00", "2026-01-01 15:00:00"]),
        "event_type": ["a", "a"],
        "value": [1.0, 1.0],
    }))
    batch2.coalesce(1).write.parquet(str(d / "f2.parquet"))
    got2 = drain("wm_run2")
    # the cumulative output still counts exactly the 2 on-time rows for the
    # finalized 10:00 window: the late row was discarded, not appended as a
    # correction (and no duplicate emission happened across runs)
    assert got2.get("2026-01-01 10:00:00") == 2, got2
