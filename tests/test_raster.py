"""Raster<->vector: rasterize parity, compaction parity + invariants."""

from __future__ import annotations

import numpy as np
from pyspark.sql import functions as F

from tree_sitter_codeviews_spark import cells
from tree_sitter_codeviews_spark.oracle import raster_compact_sql, vector_raster_sql
from tree_sitter_codeviews_spark.queries import geo_raster_compact, geo_vector_raster

from oracle_util import assert_matches


def test_vector_raster_matches_oracle(spark, sf_tiny):
    assert_matches(
        geo_vector_raster(spark, sf_tiny), sf_tiny, vector_raster_sql(), "geo_vector_raster"
    )


def test_raster_compact_matches_oracle(spark, sf_tiny):
    assert_matches(
        geo_raster_compact(spark, sf_tiny), sf_tiny, raster_compact_sql(), "geo_raster_compact"
    )


def test_compact_preserves_total_and_disjointness(spark, sf_tiny):
    """Compaction invariants: (a) total count preserved; (b) no output cell
    is an ancestor of another output cell (the hierarchy is an antichain)."""
    out = geo_raster_compact(spark, sf_tiny).collect()
    from tree_sitter_codeviews_spark.sources import pages as pages_src

    n_docs_total = pages_src.doc_points_df(spark, sf_tiny).count()
    assert sum(r["n_docs"] for r in out) == n_docs_total

    by_res: dict[int, set[int]] = {}
    for r in out:
        by_res.setdefault(r["res"], set()).add(r["cell_id"])
    for res_fine, cells_fine in by_res.items():
        for res_coarse, cells_coarse in by_res.items():
            if res_coarse >= res_fine:
                continue
            shift = 2 * (res_fine - res_coarse)
            ancestors = {c >> shift for c in cells_fine}
            assert not (ancestors & cells_coarse), (
                f"cell at res {res_coarse} is an ancestor of one at {res_fine}"
            )


def test_morton_decode_roundtrip(spark):
    df = spark.range(1 << 10).select(F.col("id").alias("cell_id"))
    res = 5
    back = df.select(
        "cell_id",
        F.expr(cells.morton_sql(
            cells.x_from_cell_sql("cell_id", res),
            cells.y_from_cell_sql("cell_id", res),
            res,
        )).alias("re"),
    )
    assert back.filter(F.col("cell_id") != F.col("re")).count() == 0
    # numpy side agrees
    c = np.arange(1 << 10, dtype=np.int64)
    x, y = cells.morton_decode_np(c, res)
    np.testing.assert_array_equal(cells.morton_np(x, y, res), c)
