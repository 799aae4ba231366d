"""Pins for the GEMM-based exact ANN legs (r6): the per-batch local
top-k selection must be a lossless superset of the global top-k even when
the corpus arrives in MANY small Arrow batches and partitions, including
int64 dot ties at the k boundary and rounded-cosine ties in the GT leg."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from tests.oracle_util import assert_matches
from tree_sitter_codeviews_spark import oracle
from tree_sitter_codeviews_spark.operators import ann, dedup
from tree_sitter_codeviews_spark.sources.testdata import load_table


@pytest.fixture()
def small_batches(spark):
    """Force multiple tiny Arrow batches + partitions for the duration."""
    old = spark.conf.get("spark.sql.execution.arrow.maxRecordsPerBatch")
    spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", "37")
    yield
    spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", old)


def _brute_topk(embs_rows, k=10, every=50):
    """Reference in pure numpy/python: exact integer dot, final order
    (dot desc, neighbor asc), per query."""
    ids = np.array([r["vec_id"] for r in embs_rows], dtype=np.int64)
    q = np.array(
        [np.round(np.array(r["embedding"], dtype=np.float64) * 1000)
         for r in embs_rows], dtype=np.int64,
    )
    out = set()
    for qi in range(len(ids)):
        if ids[qi] % every != 0:
            continue
        dots = q @ q[qi]
        cand = [(-dots[j], ids[j]) for j in range(len(ids)) if ids[j] != ids[qi]]
        cand.sort()
        for rank, (nd, nid) in enumerate(cand[:k], 1):
            out.add((int(ids[qi]), int(nid), rank, int(-nd)))
    return out


def test_topk_quantized_multibatch_equals_brute(spark, sf_tiny, small_batches):
    embs = load_table(spark, sf_tiny, "embeddings").repartition(7)
    got = {
        (r.query_id, r.neighbor_id, r.rank, r.dot_q)
        for r in ann.topk_quantized(embs, k=10, every=50).collect()
    }
    want = _brute_topk(load_table(spark, sf_tiny, "embeddings").collect())
    assert got == want
    assert got  # non-vacuous


def test_topk_quantized_tie_break_across_batches(spark, small_batches):
    # identical vectors => every dot ties; global order must pick the
    # LOWEST neighbor ids even when they sit in different partitions
    rows = [(int(i), [1.0, 2.0]) for i in range(0, 400, 2)]  # ids 0..398
    embs = spark.createDataFrame(
        rows, "vec_id long, embedding array<float>"
    ).repartition(11)
    got = ann.topk_quantized(embs, k=5, every=100).collect()
    by_q = {}
    for r in got:
        by_q.setdefault(r.query_id, []).append((r.rank, r.neighbor_id))
    for qid, lst in by_q.items():
        neigh = [n for _, n in sorted(lst)]
        want = [n for n in range(0, 400, 2) if n != qid][:5]
        assert neigh == want, (qid, neigh)


@pytest.mark.parametrize("fn, match", [
    (ann.topk_quantized, "query set exceeds 1 "),
    (ann.cosine_topk, "query set exceeds 1 "),
    (ann.exact_cosine_gt_candidates, "query set exceeds 1 "),
    (ann.ivf_topk, "centroid set exceeds 1;"),
    (dedup.embedding_near_dups, "corpus exceeds 1 "),
])
def test_driver_caps_raise(spark, sf_tiny, monkeypatch, fn, match):
    monkeypatch.setattr(ann, "QUERY_CAP", 1)
    monkeypatch.setattr(ann, "CENTROID_CAP", 1)
    with pytest.raises(ValueError, match=match):
        fn(load_table(spark, sf_tiny, "embeddings"))


def test_pq_d2_batch_exact_inside_contract_and_loud_outside():
    """The float64 ADC GEMM equals the int64 subtract-and-square up to
    |coordinate| = 2^20 - 1, and refuses any input at or above 2^20."""
    rng = np.random.default_rng(7)
    top = (1 << 20) - 1
    x = rng.integers(-top, top + 1, size=(9, ann.PQ_M * ann.PQ_DSUB), dtype=np.int64)
    cb = rng.integers(-top, top + 1, size=(ann.PQ_M, 5, ann.PQ_DSUB), dtype=np.int64)
    x[0, 0], cb[0, 0, 0] = top, -top
    sub = x.reshape(len(x), ann.PQ_M, 1, ann.PQ_DSUB)
    assert np.array_equal(ann._pq_d2_batch(x, cb), ((sub - cb[None]) ** 2).sum(-1))
    bad_x, bad_cb = x.copy(), cb.copy()
    bad_x[1, 2], bad_cb[2, 1, 0] = -(1 << 20), 1 << 20
    with pytest.raises(ValueError, match=r"2\^20"):
        ann._pq_d2_batch(bad_x, cb)
    with pytest.raises(ValueError, match=r"2\^20"):
        ann._pq_d2_batch(x, bad_cb)


def test_exact_gemm_exact_inside_contract_and_loud_outside():
    """The float64 GEMM equals the int64 product for signed coordinates up
    to 2^20 - 1 at the largest inner dimension, and refuses a coordinate of
    exactly +-2^20 in either operand."""
    rng = np.random.default_rng(11)
    top = (1 << 20) - 1
    a = rng.integers(-top, top + 1, size=(6, dedup.GEMM_DIM), dtype=np.int64)
    b = rng.integers(-top, top + 1, size=(dedup.GEMM_DIM, 5), dtype=np.int64)
    a[0], b[:, 0] = top, top  # one dot at the bound: 4096 * (2^20 - 1)^2
    a[1], b[:, 1] = -top, top
    assert np.array_equal(dedup.exact_gemm(a, b), a @ b)
    for edge in (1 << 20, -(1 << 20)):
        bad_a, bad_b = a.copy(), b.copy()
        bad_a[2, 3], bad_b[4, 2] = edge, edge
        with pytest.raises(ValueError, match=r"2\^20"):
            dedup.exact_gemm(bad_a, b)
        with pytest.raises(ValueError, match=r"2\^20"):
            dedup.exact_gemm(a, bad_b)


def test_embedding_near_dups_multibatch_equals_oracle(spark, sf_tiny, small_batches):
    """Pairs whose two rows sit in different Arrow batches and partitions
    are each found once, by the batch holding the smaller id."""
    embs = load_table(spark, sf_tiny, "embeddings").repartition(7)
    got = dedup.embedding_near_dups(embs, threshold=0.4)
    assert_matches(got, sf_tiny, oracle.dedup_embedding_sql(0.4), "near_dups")
    assert got.count() > 0


def test_embedding_near_dups_empty_corpus(spark):
    embs = spark.createDataFrame([], "vec_id long, embedding array<float>")
    assert dedup.embedding_near_dups(embs, threshold=0.4).count() == 0


def test_gt_candidates_cover_global_topk_multibatch(spark, sf_tiny, small_batches):
    embs = load_table(spark, sf_tiny, "embeddings").repartition(7)
    cand = ann.exact_cosine_gt_candidates(embs, k=10, every=50)
    cos = F.round(
        F.col("dot").cast("double")
        / F.sqrt(F.col("norm_a").cast("double") * F.col("norm_b").cast("double")),
        6,
    )
    from pyspark.sql import Window

    w = Window.partitionBy("query_id").orderBy(
        F.col("cos_q").desc(), F.col("neighbor_id").asc()
    )
    got = {
        (r.query_id, r.neighbor_id)
        for r in cand.withColumn("cos_q", cos)
        .withColumn("rank", F.row_number().over(w))
        .filter("rank <= 10").select("query_id", "neighbor_id").collect()
    }
    # reference: full crossJoin with the identical SQL expressions
    q = load_table(spark, sf_tiny, "embeddings").select(
        "vec_id",
        F.transform("embedding",
                    lambda x: F.round(x.cast("double") * 1000, 0).cast("long")
                    ).alias("qv"),
    ).withColumn(
        "norm",
        F.aggregate(F.transform("qv", lambda x: x * x),
                    F.lit(0).cast("long"), lambda a, v: a + v),
    )
    a = q.filter(F.col("vec_id") % 50 == 0).select(
        F.col("vec_id").alias("query_id"), F.col("qv").alias("qa"),
        F.col("norm").alias("norm_a"))
    b = q.select(F.col("vec_id").alias("neighbor_id"), F.col("qv").alias("qb"),
                 F.col("norm").alias("norm_b"))
    dot = F.aggregate(F.zip_with("qa", "qb", lambda x, y: x * y),
                      F.lit(0).cast("long"), lambda a_, v: a_ + v)
    want = {
        (r.query_id, r.neighbor_id)
        for r in a.crossJoin(b)
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .withColumn("dot", dot).withColumn("cos_q", cos)
        .withColumn("rank", F.row_number().over(w))
        .filter("rank <= 10").select("query_id", "neighbor_id").collect()
    }
    assert got == want
    assert got
