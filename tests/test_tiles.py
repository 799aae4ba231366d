"""tile_counts: one lazy plan (finest aggregate -> GROUPING SETS rollup)
that equals the eager per-level rollup it replaced."""

from __future__ import annotations

from functools import reduce

import pytest
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from tree_sitter_codeviews_spark import cells
from tree_sitter_codeviews_spark.operators import tiles
from tree_sitter_codeviews_spark.sources.pages import doc_points_df


def _eager_rollup(points: DataFrame, res_lo: int, res_hi: int,
                  grid_res: int = 10) -> DataFrame:
    """The earlier plan, kept as the reference: the finest tile table is
    checkpointed, each coarser level re-aggregates the level below, and
    the levels are unioned."""
    shift = grid_res - res_hi
    cur = (
        points.select(F.expr(cells.morton_sql(
            f"shiftright(gx, {shift})", f"shiftright(gy, {shift})", res_hi,
        )).alias("cell_id"))
        .groupBy("cell_id").agg(F.count("*").alias("n_docs"))
        .localCheckpoint()
        .withColumn("res", F.lit(res_hi))
    )
    levels = [cur]
    for r in range(res_hi - 1, res_lo - 1, -1):
        cur = (
            cur.groupBy(cells.parent_col(F.col("cell_id")).alias("cell_id"))
            .agg(F.sum("n_docs").alias("n_docs"))
            .withColumn("res", F.lit(r))
        )
        levels.append(cur)
    return reduce(DataFrame.unionByName, levels).select("res", "cell_id", "n_docs")


@pytest.mark.parametrize("res_lo,res_hi,empty", [
    (7, 10, False), (10, 10, False), (8, 8, False), (5, 9, False), (7, 10, True),
])
def test_tile_counts_equals_eager_rollup(spark, sf_tiny, res_lo, res_hi, empty):
    pts = doc_points_df(spark, sf_tiny)
    if empty:
        pts = pts.filter("doc_id < 0")
    got = tiles.tile_counts(pts, res_lo=res_lo, res_hi=res_hi)
    want = _eager_rollup(pts, res_lo, res_hi)
    assert [(f.name, f.dataType) for f in got.schema] == \
        [(f.name, f.dataType) for f in want.schema]
    rows = sorted(map(tuple, got.collect()))
    assert rows == sorted(map(tuple, want.collect()))
    assert bool(rows) != empty
    if not empty:
        assert {r[0] for r in rows} == set(range(res_lo, res_hi + 1))


def test_tile_counts_issues_no_job_until_forced(spark, spark_jobs, sf_tiny):
    pts = doc_points_df(spark, sf_tiny)
    with spark_jobs() as built:
        out = tiles.tile_counts(pts)
    with spark_jobs() as forced:
        out.write.format("noop").mode("overwrite").save()
    assert built == []
    assert forced


def test_tile_counts_plan_is_one_expand_no_union(spark, sf_tiny):
    plan = tiles.tile_counts(doc_points_df(spark, sf_tiny)) \
        ._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Expand [") == 1, plan
    assert "Union" not in plan and "ExistingRDD" not in plan, plan


def test_tile_counts_single_level_is_one_aggregate(spark, sf_tiny):
    """One level needs no rollup: the finest count is the answer."""
    plan = tiles.tile_counts(doc_points_df(spark, sf_tiny), res_lo=10, res_hi=10) \
        ._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Exchange") == 1 and "Expand" not in plan, plan
