"""Checkpoint/lineage/resume: compute-once, per-partition lineage, chunk resume."""

from __future__ import annotations

import os
import shutil

from pyspark.sql import functions as F

from tree_sitter_codeviews_spark.checkpoint import Pipeline


def _mk(spark, tmp_path, job="j1"):
    return Pipeline(spark, str(tmp_path), job)


def test_stage_computes_once_and_resumes(spark, tmp_path):
    calls = {"n": 0}

    def compute():
        calls["n"] += 1
        return spark.range(100).select(F.col("id"), (F.col("id") * 2).alias("v"))

    p1 = _mk(spark, tmp_path)
    out1 = p1.stage("s1", compute)
    assert out1.count() == 100
    assert calls["n"] == 1
    assert p1.recomputed == ["s1"]

    # fresh pipeline object, same root/job -> full resume, zero recompute
    p2 = _mk(spark, tmp_path)
    out2 = p2.stage("s1", compute)
    assert calls["n"] == 1
    assert p2.recomputed == []
    assert sorted(r["v"] for r in out2.collect()) == sorted(
        r["v"] for r in out1.collect()
    )


def test_lineage_rows_cover_every_file_and_sum_to_total(spark, tmp_path):
    p = _mk(spark, tmp_path)
    p.stage("s1", lambda: spark.range(1000).repartition(4))
    lin = p.lineage().collect()
    assert {r["stage"] for r in lin} == {"s1"}
    assert sum(r["n_rows"] for r in lin) == 1000
    assert len({r["file"] for r in lin}) >= 2  # per-partition granularity
    met = p.metrics().collect()
    assert len(met) == 1 and met[0]["n_rows"] == 1000 and met[0]["wall_s"] > 0

    # invalidate and recompute: lineage describes only the files on disk
    shutil.rmtree(os.path.join(str(tmp_path), "j1", "stages", "s1"))
    p2 = _mk(spark, tmp_path)
    p2.stage("s1", lambda: spark.range(1000).repartition(4))
    lin = p2.lineage().collect()
    assert sum(r["n_rows"] for r in lin) == 1000
    assert all(os.path.exists(r["file"]) for r in lin)
    assert sorted(r["n_rows"] for r in p2.metrics().collect()) == [1000, 1000]


def test_bookkeeping_starts_no_spark_job(spark, spark_jobs, tmp_path):
    """The metrics row and the lineage view come from the driver and the
    parquet footers: neither ``_record`` nor ``lineage()`` runs a job."""
    p = _mk(spark, tmp_path)
    out = p._stage_dir("s")  # a committed stage written outside ``stage``
    spark.range(100).repartition(3).write.parquet(out)
    with spark_jobs() as ids:
        p._record("s", "", out, 0.5)
        lin = p.lineage()
        rows = lin.collect()
    assert ids == []
    assert sum(r["n_rows"] for r in rows) == 100
    assert {(r["job_id"], r["stage"], r["chunk"]) for r in rows} == {("j1", "s", "")}
    assert lin.schema.simpleString() == (
        "struct<job_id:string,stage:string,chunk:string,file:string,n_rows:bigint>")
    met = p.metrics()
    assert met.schema.simpleString() == (
        "struct<job_id:string,stage:string,chunk:string,n_rows:bigint,"
        "wall_s:double,recorded_at:double>")
    assert [(r["stage"], r["n_rows"]) for r in met.collect()] == [("s", 100)]


def test_chunked_stage_resumes_only_pending_chunks(spark, tmp_path):
    calls: list[str] = []

    def compute_chunk(c: str):
        calls.append(c)
        lo = int(c) * 100
        return spark.range(lo, lo + 100).select(F.col("id"))

    chunks = ["0", "1", "2"]
    p1 = _mk(spark, tmp_path)
    out = p1.chunked_stage("cs", chunks, compute_chunk)
    assert out.count() == 300
    assert calls == chunks

    # wipe one chunk -> only it is pending on resume
    shutil.rmtree(os.path.join(str(tmp_path), "j1", "stages", "cs", "chunk=1"))
    p2 = _mk(spark, tmp_path)
    out2 = p2.chunked_stage("cs", chunks, compute_chunk)
    assert calls == chunks + ["1"]
    assert p2.recomputed == ["cs/1"]
    assert out2.count() == 300
    assert sorted(r["id"] for r in out2.collect()) == list(range(300))


def test_pipeline_job_end_to_end_and_resume(spark, spark_jobs, tmp_path, sf_tiny):
    """The spark-submit entry point, driven in-process: full run, the
    dedup and train-set stages checked against their DuckDB oracles over
    the job's own inputs, then a resume run that recomputes nothing,
    starts no Spark job (each stage is read back with the schema its
    footers recorded at commit) and returns identical counts."""
    import jobs.run_pipeline as rp
    from tests.oracle_util import assert_matches
    from tree_sitter_codeviews_spark import oracle

    root = tmp_path / "ckpt"
    argv = ["--sf-dir", sf_tiny, "--checkpoint-root", str(root), "--job-id", "e2e"]
    rp.main(argv, spark=spark)

    p = Pipeline(spark, str(root), "e2e")
    stages = {r["stage"] for r in p.lineage().select("stage").distinct().collect()}
    assert stages == {"pages", "entities", "triples", "tiles", "dedup_groups",
                      "emb_dedup_groups", "train_set"}

    # the oracles read the job's page text as `documents`
    def stage(name):
        return spark.read.parquet(str(root / "e2e" / "stages" / name))

    tables = tmp_path / "tables"
    tables.mkdir()
    stage("pages").select("doc_id", "text").toPandas().to_parquet(
        tables / "documents.parquet", index=False)
    shutil.copy(os.path.join(sf_tiny, "embeddings.parquet"), tables)
    groups = stage("dedup_groups")
    assert_matches(groups, str(tables), oracle.dedup_groups_sql(), "dedup_groups")
    assert_matches(stage("emb_dedup_groups"), str(tables),
                   oracle.dedup_groups_embedding_sql(), "emb_dedup_groups")
    assert_matches(stage("train_set"), str(tables), oracle.train_set_sql(), "train_set")
    assert groups.filter(F.col("doc_id") != F.col("group_id")).count() > 0

    # resume: no stage dirs are recomputed (metrics row count unchanged)
    n_metrics_before = p.metrics().count()
    with spark_jobs() as ids:
        rp.main(argv, spark=spark)
    assert ids == []
    assert Pipeline(spark, str(root), "e2e").metrics().count() == n_metrics_before
