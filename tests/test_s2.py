"""S2-style Hilbert index: curve properties + Spark-vs-DuckDB parity."""

from __future__ import annotations

import numpy as np
from pyspark.sql import functions as F

from tree_sitter_codeviews_spark import layers, s2
from tree_sitter_codeviews_spark.queries import geo_s2_encode
from tree_sitter_codeviews_spark.oracle import s2_encode_sql
from tree_sitter_codeviews_spark.sources import pages as pages_src

from oracle_util import assert_matches
from tests import reference_impl


def test_hilbert_bijective_small_grid():
    res = 4
    n = 1 << res
    xs, ys = np.meshgrid(np.arange(n), np.arange(n))
    d = reference_impl.hilbert_np(xs.ravel(), ys.ravel(), res)
    assert sorted(d.tolist()) == list(range(n * n))


def test_hilbert_consecutive_ids_are_adjacent():
    """The defining Hilbert property (and why it beats Morton as a range-
    partitioning key): successive ids are unit grid steps."""
    res = 5
    n = 1 << res
    xs, ys = np.meshgrid(np.arange(n), np.arange(n))
    x = xs.ravel()
    y = ys.ravel()
    d = reference_impl.hilbert_np(x, y, res)
    order = np.argsort(d)
    dx = np.abs(np.diff(x[order]))
    dy = np.abs(np.diff(y[order]))
    assert ((dx + dy) == 1).all()


def test_hilbert_parent_is_truncation():
    """Self-similarity: encode at res-1 of the truncated coords == id >> 2."""
    rng = np.random.default_rng(7)
    for res in (8, 12, 16):
        x = rng.integers(0, 1 << res, size=500)
        y = rng.integers(0, 1 << res, size=500)
        fine = reference_impl.hilbert_np(x, y, res)
        coarse = reference_impl.hilbert_np(x >> 1, y >> 1, res - 1)
        np.testing.assert_array_equal(fine >> 2, coarse)


def test_upscale_center_consistent():
    g = np.array([0, 1, 1023])
    up = reference_impl.upscale_grid_np(g, 10, 16)
    np.testing.assert_array_equal(up, g * 64 + 32)


def test_s2_encode_matches_oracle(spark, sf_tiny):
    assert_matches(geo_s2_encode(spark, sf_tiny), sf_tiny, s2_encode_sql(), "geo_s2_encode")


def test_hilbert_coarse_col_matches_numpy_and_truncation(spark):
    """The route-key encode: hilbert_coarse_col == hilbert_np at the coarse
    res, and (self-similarity) == the level-16 branchless encode of the
    upscaled center coords truncated back down."""
    import pandas as pd
    from pyspark.sql import functions as F

    rng = np.random.default_rng(11)
    res = 2
    n = 1 << res
    pdf = pd.DataFrame({
        "x": rng.integers(0, n, size=200), "y": rng.integers(0, n, size=200)
    })
    df = spark.createDataFrame(pdf)
    got = (
        df.withColumn("d", s2.hilbert_coarse_col(F.col("x"), F.col("y"), res))
        .orderBy("x", "y").select("x", "y", "d").toPandas()
    )
    want = reference_impl.hilbert_np(
        got["x"].to_numpy(), got["y"].to_numpy(), res
    )
    np.testing.assert_array_equal(got["d"].to_numpy(), want)

    up = df.withColumns({
        "x16": s2.upscale_grid_col(F.col("x").cast("long"), res, s2.S2_RES),
        "y16": s2.upscale_grid_col(F.col("y").cast("long"), res, s2.S2_RES),
    })
    up = s2.with_hilbert_col(up, "x16", "y16", s2.S2_RES, out="h16")
    trunc = (
        up.withColumn("d2", s2.hilbert_at_level_col(F.col("h16"), res))
        .orderBy("x", "y").select("d2").toPandas()["d2"].to_numpy()
    )
    np.testing.assert_array_equal(trunc, want)


def test_zorder_repartition_partitions_are_contiguous(spark, sf_tiny):
    """Each output partition covers a contiguous, non-overlapping Hilbert
    range (spatial tiles) — the point of z-order layout."""
    pts = pages_src.doc_points_df(spark, sf_tiny)
    parts = s2.zorder_repartition(
        pts, grid_res=layers.GRID_RES, num_partitions=8, keep_key=True
    )
    ranges = (
        parts.withColumn("pid", F.spark_partition_id())
        .groupBy("pid")
        .agg(F.min("_hilbert").alias("lo"), F.max("_hilbert").alias("hi"))
        .collect()
    )
    spans = sorted((r["lo"], r["hi"]) for r in ranges)
    assert len(spans) >= 2
    for (lo1, hi1), (lo2, _hi2) in zip(spans, spans[1:]):
        assert lo1 <= hi1 < lo2  # disjoint, ordered ranges
