"""Smoke the scaling-evidence jobs (the harness the driver runs) at tiny
replication — catches drift between the bench harness and the operators."""

from __future__ import annotations

import bench_scaling


def test_geo_scaling_job_runs(spark, sf_tiny):
    out = bench_scaling.scaling_job(spark, sf_tiny, repl=2, n_parts=4)
    assert out["pages"] == 1000
    assert out["triples"] > 0 and out["tiles"] > 0


def test_dedup_scaling_job_runs(spark, sf_tiny):
    out = bench_scaling.dedup_scaling_job(spark, sf_tiny, repl=2, n_parts=4)
    assert out["pages"] == 1000
    assert out["buckets"] > 0


def test_scale2_cache_key_tracks_base_and_repl(sf_tiny):
    """The replicated-dir marker must identify (base corpus, repl factor):
    a changed SPARK_GRAFT_SF_DIR or REPL2 regenerates instead of silently
    reusing stale tables (r3 advisory)."""
    import os

    import bench

    k1 = bench._scale2_cache_key(sf_tiny, 10)
    assert k1 == bench._scale2_cache_key(sf_tiny, 10)  # deterministic
    assert k1 != bench._scale2_cache_key(sf_tiny, 5)   # repl in the key
    other = os.path.dirname(sf_tiny.rstrip("/"))        # different path
    # different base dir -> different key (other/sf0.01 exists in testdata)
    k_other = bench._scale2_cache_key(os.path.join(other, "sf0.01"), 10)
    assert k1 != k_other


def test_bench_child_and_stage_modes_roundtrip(sf_tiny, tmp_path):
    """The fresh-JVM bench children (r5 evidence-channel fix): a queries
    chunk and the per-stage mode each run in a real subprocess and write
    parseable JSON with the expected keys. The queries child applies and
    echoes ``--conf`` and splits each query's fastest rep into layers whose
    build + exec time is the reported wall."""
    import json
    import os
    import subprocess
    import sys

    import bench

    env = {**os.environ, "SPARK_GRAFT_CPUS": "4"}
    qout = tmp_path / "q.json"
    subprocess.run(
        [sys.executable, bench.__file__, "--mode", "queries",
         "--names", "geo_cell_encode,dedup_exact", "--sf-dir", sf_tiny,
         "--reps", "1", "--conf", "spark.sql.shuffle.partitions=7",
         "--out", str(qout)],
        check=True, env=env, timeout=600,
    )
    q = json.loads(qout.read_text())
    assert set(q["times"]) == {"geo_cell_encode", "dedup_exact"}
    assert all(t >= 0 for t in q["times"].values())
    assert q["conf"] == {"spark.sql.shuffle.partitions": "7"}
    assert set(q["layers"]) == set(q["times"])
    for name, lay in q["layers"].items():
        assert lay["jobs"] >= 1 and lay["tasks"] >= 1, (name, lay)
        assert 0 <= lay["task_cpu_s"], (name, lay)
        assert abs(lay["build_s"] + lay["exec_s"] - q["times"][name]) <= 0.001

    # one representative stage child per composite (one fresh JVM per
    # (query, stage) in the real run; the full plan is orchestrator glue
    # tested by test_stage_plan_delta_derivation)
    for qname, sname in (
        ("web_ingest", "quality_gate"),
        ("webtext_domain_reputation", "pagerank"),
    ):
        sout = tmp_path / f"{qname}.{sname}.json"
        subprocess.run(
            [sys.executable, bench.__file__, "--mode", "stage",
             "--query", qname, "--stage", sname,
             "--sf-dir", sf_tiny, "--reps", "1", "--out", str(sout)],
            check=True, env=env, timeout=600,
        )
        s = json.loads(sout.read_text())
        assert s["wall"] >= 0


def test_layers_count_the_jobs_of_the_streams_a_rep_starts(spark, sf_tiny):
    """A drained stream runs its jobs under its own job group; the rep's
    layer record still counts them, its stateful stage included."""
    import bench
    from tree_sitter_codeviews_spark import queries

    group = "layers-stream"
    _, build_s, exec_s, best = bench._timed_count(
        queries.events_stream_windows, spark, sf_tiny, 1, group)
    lay = bench._layers(spark, f"{group}-{best}", build_s, exec_s)
    tracker = spark.sparkContext.statusTracker()
    assert lay["jobs"] > len(tracker.getJobIdsForGroup(f"{group}-{best}"))
    # the stateful stage: one task per state partition, one per core
    cores = spark.sparkContext.defaultParallelism
    assert any("DataStreamWriter.start" in s["name"] and s["n_tasks"] == cores
               for s in lay["stages"]), lay


def test_stage_plan_delta_derivation(monkeypatch):
    """_run_stage_plan spawns one child per (query, stage) and derives
    cumulative deltas for web_ingest only."""
    import bench

    calls = []

    def fake_child(args):
        calls.append(args)
        return {"wall": float(len(calls))}  # 1.0, 2.0, ... per stage

    monkeypatch.setattr(bench, "_run_child", fake_child)
    out = bench._run_stage_plan("/tmp/x", 2)
    assert list(out["web_ingest"]) == [
        "warc_split", "html_extract", "quality_gate", "full"
    ]
    assert list(out["webtext_domain_reputation"]) == [
        "pagerank", "hits", "dup_rate", "full"
    ]
    assert len(calls) == 8 and all("--mode" in c and "stage" in c for c in calls)
    # cumulative deltas telescope to the full wall for web_ingest...
    wi = out["web_ingest"]
    assert abs(sum(st["delta"] for st in wi.values()) - wi["full"]["wall"]) < 1e-9
    # ...and the independent reputation legs carry no delta key
    assert all("delta" not in st for st in out["webtext_domain_reputation"].values())


def test_bench_compact_line_survives_tail_capture():
    """The driver records only a ~2000-char stdout tail; the compact line
    (with every SUMMARY_QUERIES entry present at both scale points) must
    parse and fit with margin."""
    import json

    import bench

    times = {k: 123.456 for k in bench.HEADLINE}
    full = {
        "metric": "headline suite wall-clock", "value": 1234.567,
        "unit": "sec", "sf": 0.1, "pages_per_sec": 23456.7, "cores": "32",
        "queries": times,
        "sf2": {"sf_equiv": 1.0, "wall": 2345.678, "pages_per_sec": 34567.8,
                "queries": {k: 123.456 for k in bench.SCALE2}},
    }
    line = json.dumps(bench.compact_summary(full))
    assert len(line) < 1900, len(line)
    parsed = json.loads(line)
    assert parsed["queries"] and parsed["sf2"]["queries"]
    for contract_key in ("metric", "value", "unit", "queries", "sf"):
        assert contract_key in parsed
    # the committed SCALING_LOCAL.json (bench_scaling.py output) folds the
    # north-rule two-level scaling evidence into the official BENCH line
    import os

    if os.path.exists(os.path.join(os.path.dirname(bench.__file__),
                                   "SCALING_LOCAL.json")):
        assert parsed["scaling"]
        for job, s in parsed["scaling"].items():
            assert set(s) == {"cores", "thr_lo", "thr_hi", "eff"}, job
            assert s["eff"] > 0
