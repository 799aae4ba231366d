"""Tile aggregation over the cell hierarchy (raster<->vector path).

``tile_counts`` is one lazy plan with two aggregates and one consumer:

1. a map-side-combined groupBy of the raw points by their finest cell
   (one scan, one shuffle; output bounded by live cells, never by rows);
2. one GROUPING SETS aggregate over that O(cells) table, with one level
   column per resolution (parent = ``cell >> 2`` per level, so level r is
   ``shiftright(c, 2·(res_hi − r))``). Its Expand multiplies only the
   finest aggregate's rows by the number of levels; ``grouping()`` names
   each output row's level and ``coalesce`` of the level columns gives its
   cell.

Two plans rejected earlier, both measured on 5M rows, and why this is
neither:
- roll up from the same lazy subplan per level and union the levels:
  Spark has no common-subplan reuse, so every level re-scans and
  re-shuffles the raw points (4 full passes; 26 s vs 4 s at local[32]).
  Here the finest aggregate has exactly one consumer, the Expand, so
  nothing is recomputed and nothing needs a ``localCheckpoint``;
- one-pass explode of per-level (res, cell) pairs over the raw points:
  generators break whole-stage codegen in this build (11-14 s vs 2 s at
  local[8]). Here the per-level copies are made by an Expand, and only of
  the finest aggregate's rows.

Compaction (H3 ``compact`` analogue) folds complete sibling sets into their
parent, the storage-side dual of the rollup.
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .. import cells


def tile_counts(
    points: DataFrame,
    res_lo: int = 7,
    res_hi: int = 10,
    grid_res: int = 10,
) -> DataFrame:
    """points(gx, gy at grid_res) -> (res, cell_id, n_docs) for res_lo..res_hi.

    Lazy: two aggregates, two shuffles, no job until the result is forced
    (module docstring); one of each for a single level. Plan build is SQL
    text, a handful of py4j calls."""
    k = grid_res - res_hi
    x, y = (f"shiftright(gx, {k})", f"shiftright(gy, {k})") if k else ("gx", "gy")
    levels = [f"c{r}" for r in range(res_hi, res_lo - 1, -1)]
    agg = (
        points.selectExpr(f"{cells.morton_sql(x, y, res_hi)} as {levels[0]}")
        .groupBy(levels[0])
        .agg(F.expr("count(*) as n"))
    )
    if res_lo == res_hi:  # the finest aggregate is the whole answer
        return agg.selectExpr(f"{res_hi} as res", f"{levels[0]} as cell_id", "n as n_docs")
    finest = agg.selectExpr(*(f"shiftright({levels[0]}, {2 * i}) as {c}"
                              for i, c in enumerate(levels)), "n")
    res = " ".join(f"WHEN grouping({c}) = 0 THEN {res_hi - i}"
                   for i, c in enumerate(levels))
    return finest.groupingSets([[c] for c in levels], *levels).agg(
        F.expr(f"CASE {res} END as res"),
        F.expr(f"coalesce({', '.join(levels)}) as cell_id"),
        F.expr("sum(n) as n_docs"),
    ).select("res", "cell_id", "n_docs")


def compact_tiles(tiles_at_res: DataFrame, res: int) -> DataFrame:
    """Fold complete 4-sibling sets into parents, recursively.

    Input: (cell_id, <measure cols...>) at a single ``res``. Output:
    (res, cell_id, measures...) where measures of merged children are summed.
    Iterative driver loop, converges in <= res rounds (delta-counted,
    cf. SURVEY.md §4.1 fixpoint discipline)."""
    measures = [c for c in tiles_at_res.columns if c != "cell_id"]
    out_parts: list[DataFrame] = []
    cur = tiles_at_res.withColumn("res", F.lit(res))
    r = res
    while r > 0:
        parents = (
            cur.select(cells.parent_col(F.col("cell_id")).alias("p"), "cell_id", *measures)
            .groupBy("p")
            .agg(F.count("*").alias("nkids"), *[F.sum(m).alias(m) for m in measures])
        )
        full = parents.filter(F.col("nkids") == 4).drop("nkids")
        n_full = full.limit(1).count()
        keep = cur.join(
            full.select(F.col("p")),
            cells.parent_col(cur["cell_id"]) == F.col("p"),
            "left_anti",
        )
        out_parts.append(keep.select("res", "cell_id", *measures))
        if n_full == 0:
            cur = None
            break
        r -= 1
        cur = full.select(F.col("p").alias("cell_id"), *measures).withColumn("res", F.lit(r))
        cur = cur.localCheckpoint()
    if cur is not None:
        out_parts.append(cur.select("res", "cell_id", *measures))
    return reduce(lambda a, b: a.unionByName(b), out_parts)


def tile_smooth(points: DataFrame, grid_res: int = 10) -> DataFrame:
    """Raster 3x3 box convolution over the per-tile doc counts — the
    focal-statistics / heatmap-smoothing step of a raster GIS stack.

    Engine shape: the res-7 count raster is built once (one shuffle),
    then each cell EXPLODES its 9 neighbor contributions (narrow, x9 on the
    small raster — never on the points) and the convolution is a second
    groupBy on the target cell. Absent neighbors contribute 0; output keeps
    only cells present in the base raster (n_docs >= 1), with the cell id
    re-encoded as the Morton code. No join against the point table and no
    Python anywhere.
    """
    from .. import cells

    res = 7
    shift = grid_res - res
    n = 1 << res
    base = (
        points.select(
            F.shiftright(F.col("gx"), shift).alias("x"),
            F.shiftright(F.col("gy"), shift).alias("y"),
        )
        .groupBy("x", "y")
        .agg(F.count("*").alias("n_docs"))
        .localCheckpoint()  # two consumers: contributions + the keep join
    )
    offsets = F.array(*[
        F.struct(F.lit(dx).alias("dx"), F.lit(dy).alias("dy"))
        for dx in (-1, 0, 1) for dy in (-1, 0, 1)
    ])
    contrib = (
        base.select("x", "y", "n_docs", F.explode(offsets).alias("o"))
        .select(
            (F.col("x") + F.col("o.dx")).alias("tx"),
            (F.col("y") + F.col("o.dy")).alias("ty"),
            "n_docs",
        )
        .filter(
            (F.col("tx") >= 0) & (F.col("tx") < n)
            & (F.col("ty") >= 0) & (F.col("ty") < n)
        )
        .groupBy("tx", "ty")
        .agg(F.sum("n_docs").alias("smoothed"))
    )
    return (
        base.join(
            contrib,
            (base["x"] == contrib["tx"]) & (base["y"] == contrib["ty"]),
        )
        .select(
            F.expr(cells.morton_sql("x", "y", res)).alias("cell_id"),
            "n_docs",
            F.col("smoothed").cast("long").alias("smoothed"),
        )
    )
