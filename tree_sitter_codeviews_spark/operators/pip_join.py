"""Two-phase spatial containment join: cell-cover prefilter + exact refine.

Structure transplanted from the reference's use→declaration resolution
(SURVEY.md §2.3 row 1): equi-join on a cheap key (there: variable name; here:
coarse cover cell) to prune the candidate space, then an exact predicate
(there: ``scope_check`` prefix containment, ``SDFG_c.py:53-68``; here:
ray-casting point-in-polygon), then an optional "longest containment wins"
top-1 (there: ``longest_scope_match``, ``c_parser.py:134-140``; here: deepest
``admin_level``).

Physical shape at 100 TB:
- the polygon cover table is a small dim → **broadcast** equi-join (map-side,
  no shuffle of the 10^12-row points side);
- the refine predicate is one codegen'd JVM expression applied post-join
  (never a theta/cross join, no Python on the hot path);
- the prefilter key is the point's *parent* cell at cover resolution —
  computed from its fine cell by bit-truncation, no re-encode.
"""

from __future__ import annotations

import functools

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from ..localdf import arrow_local_df

from .. import cells, geometry, layers

# Prefilter grid: 64x64 world cells. Finer cover = fewer false candidates
# reaching the exact refine (measured ~25% less join work than res 4 on the
# built-in layer) while the exploded cover dim stays ~1k rows — broadcast
# noise either way. The knob trades dim size vs refine work; res 6 is the
# sweet spot for continent-scale polygons.
COVER_RES = 6


@functools.cache
def _cover_rows() -> tuple[tuple[int, int, int, bool], ...]:
    """The cover dim's rows, computed once per process: a pure function of
    ``layers.POLYGONS`` and ``COVER_RES``."""
    rows = []
    for p in layers.POLYGONS:
        cs, full = geometry.cover_cells_classified(p["ring"], COVER_RES)
        for c, f in zip(cs, full):
            rows.append((int(c), p["polygon_id"], p["admin_level"], bool(f)))
    return tuple(rows)


@functools.lru_cache(maxsize=1)
def cover_df(spark: SparkSession) -> DataFrame:
    """Exploded (cover_cell, polygon_id, admin_level, full) prefilter dim,
    built once for the current session (the pandas -> Arrow -> JVM
    relation costs ~30 ms of driver time per build; a new session evicts
    the old one's frame).

    ``full`` marks interior cells (whole cell ⊆ polygon): candidates landing
    there skip the exact refine — only boundary cells (O(perimeter)) pay for
    ray-casting. Cover sets are computed once driver-side with numpy (the
    dim is tiny); at production scale this is a precomputed broadcast
    artifact, like the reference's grammar bundle shipped to workers
    (``__init__.py:8-63``)."""
    return arrow_local_df(
        spark, _cover_rows(),
        "cover_cell long, polygon_id long, admin_level int, full boolean",
    )


def _d(x: float) -> str:
    """Exact double literal for SQL text: repr round-trips IEEE doubles and
    the D suffix keeps Spark from parsing the literal as DECIMAL."""
    return f"{x!r}D"


@functools.cache
def pip_refine_sql() -> str:
    """Exact ray-cast refine of the (lon, lat, polygon_id) columns as the
    SQL text of a PURE JVM expression (whole-stage codegen, zero Python on
    the hot path), built once per process.

    The polygon layer is small and literal, so the crossing parity unrolls
    into a CASE over polygon_id of XOR-chained (boolean !=) edge tests with
    literal coefficients — bit-identical to ``geometry.pip_mask`` and the
    DuckDB oracle (same expression shape, same FP op order). Division by a
    zero (horizontal edge) yields Inf/NaN whose comparison is false, exactly
    matching the numpy errstate-masked path.

    Measured vs the Arrow UDF on 5M rows: the UDF path anti-scales in local
    mode at high thread counts (JVM task threads + Python workers > CPUs);
    the expression path stays inside codegen and scales with cores.

    Built as ONE SQL text expression instead of per-edge Column
    operators: the Column-builder construction was ~6,300 py4j round trips
    = ~1.1 s of DRIVER time per plan build (profiled via cProfile on
    geo_region_centroids — the same finding as simhash_df's SQL-text
    rewrite), identical operators either way."""
    result = "false"
    for p in layers.POLYGONS:
        ring = p["ring"]
        nv = len(ring)
        parity = None
        for k in range(nv):
            x1, y1 = float(ring[k][0]), float(ring[k][1])
            x2, y2 = float(ring[(k + 1) % nv][0]), float(ring[(k + 1) % nv][1])
            straddle = f"(({_d(y1)} > lat) != ({_d(y2)} > lat))"
            xint = (f"(({_d(x2 - x1)} * (lat - {_d(y1)}) / {_d(y2 - y1)})"
                    f" + {_d(x1)})")
            cross = f"({straddle} AND (lon < {xint}))"
            parity = cross if parity is None else f"({parity} != {cross})"
        result = (f"CASE WHEN (polygon_id = {p['polygon_id']}L) "
                  f"THEN {parity} ELSE {result} END")
    return result


def pip_join(
    points: DataFrame,
    spark: SparkSession,
    keys: tuple[str, ...] = ("url",),
) -> DataFrame:
    """points(keys..., lon, lat [, cell]) -> (keys..., cell_id, polygon_id).

    ``cell_id`` is the point's cell at ``layers.GRID_RES``; the prefilter
    key is its ancestor at ``COVER_RES`` via bit-truncation. The refine is
    ``pip_refine_sql``, bit-identical to the oracle. Each projection and
    the filter are one SQL text call each."""
    if "cell" not in points.columns:
        points = points.selectExpr(
            "*", f"{cells.cell_sql('lon', 'lat', layers.GRID_RES)} as cell")
    pts = points.selectExpr(
        "*", f"shiftright(cell, {2 * (layers.GRID_RES - COVER_RES)}) as cover_cell")
    cand = pts.join(F.broadcast(cover_df(spark)), "cover_cell", "inner")
    # interior cells short-circuit the exact test (cell ⊆ polygon); only
    # boundary candidates evaluate the ray-cast
    refined = cand.filter(f"full OR {pip_refine_sql()}")
    return refined.selectExpr(*keys, "cell as cell_id", "polygon_id", "admin_level")


def pip_best(joined: DataFrame, keys: tuple[str, ...] = ("url",)) -> DataFrame:
    """Longest-containment winner: deepest admin_level, ties to the smallest
    polygon_id — the ``longest_scope_match`` analogue (c_parser.py:134-140)."""
    from pyspark.sql import Window

    w = (
        Window.partitionBy(*keys, "cell_id")
        .orderBy(F.col("admin_level").desc(), F.col("polygon_id").asc())
    )
    return (
        joined.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .drop("rn")
    )
