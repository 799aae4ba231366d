"""Exact segment-crossing join + per-tile hull diameter.

Spatial line-vs-line analytics: the vector-overlay sibling of the engine's
two-phase point-in-polygon join (``pip_join.py``) and rectangle overlay
(``overlay.py``) — same filter/refine discipline the reference applies to
scope containment (``codeviews/SDFG/SDFG_c.py:53-68``: cheap prefilter, then
an exact check):

1. **Filter**: a cover-cell equi-join pairs only geometries whose covers
   share a grid cell. Short probe segments use a bbox cover (O(1) cells);
   the long line dim uses a *chunked corridor* cover — each line is split
   into Chebyshev-length/2^shift parameter chunks whose per-chunk bboxes
   (padded 1 px for the integer-truncation of chunk endpoints) tile the
   line's corridor instead of its full bbox. A 1024-px diagonal covers ~2N
   corridor cells instead of N^2 bbox cells — output-sensitive, and the
   whole exploded dim stays broadcast-sized.
2. **Refine**: the classic four-determinant segment-intersection predicate
   (CLRS §33.1) in exact int64 arithmetic, generated from the SAME SQL text
   (``geometry.seg_cross_exprs`` / ``seg_intersect_pred_sql``) the DuckDB
   oracle runs — closed-segment semantics, collinear overlap included.

At 100 TB: the corridor dim (lines x corridor-cells) is a few thousand rows
per 10^3 lines — broadcast; the probe side never shuffles before the join
(cover explode is map-side), and the only shuffle is the final distinct on
(probe-id, line-id), sized by the true crossing count.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .. import geometry

__all__ = [
    "segment_crossing_join",
    "tile_diameter",
    "rasterize_segments",
    "snap_to_lines",
]


def segment_crossing_join(
    probes: DataFrame,
    lines: DataFrame,
    id_cols: list[str],
) -> DataFrame:
    """Exact crossing join: ``probes`` (short segments: id_cols +
    ax0/ay0/ax1/ay1) x ``lines`` (a dim of long segments: line_id +
    bx0/by0/bx1/by1). Returns distinct (id_cols..., line_id) for every
    intersecting pair (closed-segment semantics).

    Cover cells are 2^6 grid px (``shift``). Probe bboxes
    should be O(cell)-sized (split longer probes upstream — the DDA
    pattern in ``geo_route_cells``); lines may be arbitrarily long thanks
    to the corridor cover.
    """
    shift = 6
    cheb = F.greatest(
        F.abs(F.col("bx1") - F.col("bx0")),
        F.abs(F.col("by1") - F.col("by0")),
        F.lit(1),
    )
    # chunked corridor cover: K ~ length-in-cells chunks; the chunk's
    # integer endpoints are within 1 px of the true curve points, so a
    # 1-px pad keeps each chunk bbox a guaranteed superset of the cells
    # that chunk of the REAL line passes through (no corner-cut misses).
    ln = lines.withColumn("k_chunks", F.greatest(F.lit(1), F.shiftright(cheb, shift)))
    ch = ln.withColumn(
        "c", F.explode(F.sequence(F.lit(0), F.col("k_chunks") - 1))
    ).select(
        "line_id", "bx0", "by0", "bx1", "by1",
        F.expr("bx0 + ((bx1 - bx0) * c) div k_chunks").alias("cx0"),
        F.expr("by0 + ((by1 - by0) * c) div k_chunks").alias("cy0"),
        F.expr("bx0 + ((bx1 - bx0) * (c + 1)) div k_chunks").alias("cx1"),
        F.expr("by0 + ((by1 - by0) * (c + 1)) div k_chunks").alias("cy1"),
    )
    line_cover = ch.select(
        "line_id", "bx0", "by0", "bx1", "by1",
        F.explode(
            F.sequence(
                F.shiftright(F.least("cx0", "cx1") - F.lit(1), shift),
                F.shiftright(F.greatest("cx0", "cx1") + F.lit(1), shift),
            )
        ).alias("ccx"),
        F.least("cy0", "cy1").alias("lo_y"),
        F.greatest("cy0", "cy1").alias("hi_y"),
    ).select(
        "line_id", "bx0", "by0", "bx1", "by1", "ccx",
        F.explode(
            F.sequence(
                F.shiftright(F.col("lo_y") - F.lit(1), shift),
                F.shiftright(F.col("hi_y") + F.lit(1), shift),
            )
        ).alias("ccy"),
    ).distinct()  # chunk-border cells repeat; the dim stays minimal

    probe_cover = probes.select(
        *id_cols, "ax0", "ay0", "ax1", "ay1",
        F.explode(
            F.sequence(
                F.shiftright(F.least("ax0", "ax1"), shift),
                F.shiftright(F.greatest("ax0", "ax1"), shift),
            )
        ).alias("ccx"),
    ).select(
        *id_cols, "ax0", "ay0", "ax1", "ay1", "ccx",
        F.explode(
            F.sequence(
                F.shiftright(F.least("ay0", "ay1"), shift),
                F.shiftright(F.greatest("ay0", "ay1"), shift),
            )
        ).alias("ccy"),
    )

    d = geometry.seg_cross_exprs()
    refined = (
        probe_cover.join(F.broadcast(line_cover), ["ccx", "ccy"])
        .withColumns({k: F.expr(v) for k, v in d.items()})
        .filter(F.expr(geometry.seg_intersect_pred_sql()))
    )
    return refined.select(*id_cols, "line_id").distinct()


# Side of the per-tile statistics' tiles: 2^TILE_SHIFT grid px.
TILE_SHIFT = 5


def _per_tile(pts: DataFrame, fn, schema: str) -> DataFrame:
    """``applyInPandas(fn, schema)`` over each 2^TILE_SHIFT tile's
    DISTINCT (tx, ty, gx, gy) points of ``pts``: the distinct bounds every
    group by the tile's pixel count (<= 2^(2*TILE_SHIFT) = 1024)."""
    d = pts.select(
        F.shiftright("gx", TILE_SHIFT).alias("tx"),
        F.shiftright("gy", TILE_SHIFT).alias("ty"),
        "gx", "gy",
    ).distinct()
    # pin the grouped-map parallelism: the distinct tile-point table is
    # KB-sized, so AQE coalesces it to one partition and every tile's
    # kernel runs serially through a single Python worker (profiled: 1
    # task, ~1s run, 31ms JVM cpu). An explicit core-count repartition on
    # the group key keeps the pandas stage parallel; groupBy reuses it.
    d = d.repartition(d.sparkSession.sparkContext.defaultParallelism, "tx", "ty")
    return d.groupBy("tx", "ty").applyInPandas(fn, schema)


def tile_diameter(pts: DataFrame) -> DataFrame:
    """Per-tile point-set diameter: for each 2^TILE_SHIFT x 2^TILE_SHIFT grid tile,
    the number of DISTINCT point locations and the exact max squared
    pairwise distance (int64) — computed per group as convex hull
    (monotone chain, exact python-int cross products) + brute force over
    the h hull vertices only: O(n log n + h^2) per tile vs the oracle's
    O(n^2) quadratic self-join.

    Scale shape: one distinct on the (tile, point) key bounds every group
    by the tile's pixel count (``_per_tile``); the grouped-map batch is
    tile-sized, never corpus-sized. Skewed hot cells collapse under the
    distinct (identical coordinates are one location).
    """
    def _diam(pdf: pd.DataFrame) -> pd.DataFrame:
        xs = pdf["gx"].to_numpy(dtype=np.int64)
        ys = pdf["gy"].to_numpy(dtype=np.int64)
        return pd.DataFrame({
            "tx": pdf["tx"].iloc[:1],
            "ty": pdf["ty"].iloc[:1],
            "n_pts": [len(pdf)],
            "diam_sq": [geometry.diameter_sq_np(xs, ys)],
        })

    return _per_tile(pts, _diam, "tx long, ty long, n_pts long, diam_sq long")


def rasterize_segments(lines: DataFrame) -> DataFrame:
    """Exact-integer DDA rasterization of a segment dim: one distinct
    (line_id, px, py) row per integer sample point — the same truncated-
    division sampling rule as ``geo_route_cells`` (xt = x0 + (dx*t) div L,
    L = Chebyshev length), so both engines emit identical point sets.
    Output size = sum of Chebyshev lengths — dim-bounded, broadcastable."""
    ln = lines.withColumn(
        "L",
        F.greatest(
            F.abs(F.col("bx1") - F.col("bx0")),
            F.abs(F.col("by1") - F.col("by0")),
            F.lit(1),
        ),
    )
    return (
        ln.select(
            "line_id",
            F.explode(F.sequence(F.lit(0), F.col("L"))).alias("t"),
            "bx0", "by0", "bx1", "by1", "L",
        )
        .select(
            "line_id",
            F.expr("bx0 + ((bx1 - bx0) * t) div L").alias("px"),
            F.expr("by0 + ((by1 - by0) * t) div L").alias("py"),
        )
        .distinct()
    )


def snap_to_lines(
    probes: DataFrame,
    raster: DataFrame,
    id_cols: list[str],
) -> DataFrame:
    """Map-matching: snap each probe point (id_cols + ex/ey) to the nearest
    rasterized line point within euclidean ``radius`` 16 px (dist_sq <=
    radius^2); probes with no line in range are dropped. Deterministic
    argmin via the repo's integer packing idiom: pack = dist_sq * 1024 +
    line_id (min dist_sq first, then min line_id on ties) — requires
    line_id < 1024 (callers own that bound); dist_sq <= 256 keeps the pack
    far inside int64.

    Scale shape: the raster dim explodes to its 3x3 neighbor cells at
    shift = floor(log2(radius)) + 1 BEFORE the join (cells >= radius px, so
    any point within radius of a probe lands in the probe's OWN cell key
    ±1 — covered by the dim-side ring). The probe side (the corpus) never
    explodes and never shuffles before the broadcast equi-join; the only
    probe-keyed aggregate is the final argmin.
    """
    radius = 16
    # minimal cell size 2^shift >= radius: any point within euclidean
    # radius of a probe is at most 1 cell away on each axis, and the
    # smallest admissible cell minimizes candidates per probe (the ring
    # covers (2*2^shift + 2^shift)px; halving an oversized cell cuts the
    # candidate area ~4x while the dim-side ring stays 3x3)
    shift = (radius - 1).bit_length()
    ring = (
        raster.select(
            "line_id", "px", "py",
            F.explode(
                F.sequence(
                    F.shiftright("px", shift) - 1, F.shiftright("px", shift) + 1
                )
            ).alias("cx"),
        )
        .select(
            "line_id", "px", "py", "cx",
            F.explode(
                F.sequence(
                    F.shiftright("py", shift) - 1, F.shiftright("py", shift) + 1
                )
            ).alias("cy"),
        )
    )
    # Repartition the probes on the argmin key BEFORE the broadcast join:
    # the final groupBy needs hash(id_cols) anyway, so moving the exchange
    # ahead of the join shuffles one compact row per probe (same bytes as
    # the partial-aggregated argmin rows) while the join + candidate
    # filter + aggregate parallelize even off a single-row-group scan
    # (profiled: the whole leg fused into the 1-task scan stage, ~1s CPU).
    n_part = int(probes.sparkSession.conf.get("spark.sql.shuffle.partitions"))
    cand = probes.repartition(n_part, *id_cols).withColumns(
        {"cx": F.shiftright("ex", shift), "cy": F.shiftright("ey", shift)}
    ).join(F.broadcast(ring), ["cx", "cy"])
    d2 = (F.col("ex") - F.col("px")) * (F.col("ex") - F.col("px")) + (
        F.col("ey") - F.col("py")
    ) * (F.col("ey") - F.col("py"))
    return (
        cand.withColumn("d2", d2)
        .filter(F.col("d2") <= radius * radius)
        .groupBy(*id_cols)
        .agg(F.min(F.col("d2") * 1024 + F.col("line_id")).alias("pack"))
        .select(
            *id_cols,
            (F.col("pack") % 1024).alias("line_id"),
            F.expr("pack div 1024").alias("snap_dist_sq"),
        )
    )


def tile_closest_pair(pts: DataFrame) -> DataFrame:
    """Per-tile CLOSEST pair (exact min squared distance over distinct
    locations) — the crowding/duplicate-location stat complementing
    ``tile_diameter``'s extent. Tiles with a single distinct location are
    absent (no pair exists).

    Engine: vectorized int64 numpy over each tile's distinct points in a
    grouped Arrow batch. The distinct on (tile, point) bounds every group
    by the tile's pixel count (``_per_tile``), so the
    per-group pair scan is CONSTANT-bounded however large the corpus —
    the grid cap, not an algorithmic trick, is the scale argument (the
    oracle runs the same quadratic as SQL, making the pairing a
    same-math/different-engine check rather than smart-vs-brute)."""
    def _closest(pdf: pd.DataFrame) -> pd.DataFrame:
        xs = pdf["gx"].to_numpy(dtype=np.int64)
        ys = pdf["gy"].to_numpy(dtype=np.int64)
        n = len(xs)
        if n < 2:
            return pd.DataFrame(
                {"tx": [], "ty": [], "n_pts": [], "min_d2": []}
            ).astype("int64")
        dx = xs[:, None] - xs[None, :]
        dy = ys[:, None] - ys[None, :]
        d2 = dx * dx + dy * dy
        np.fill_diagonal(d2, np.iinfo(np.int64).max)
        return pd.DataFrame({
            "tx": pdf["tx"].iloc[:1],
            "ty": pdf["ty"].iloc[:1],
            "n_pts": [n],
            "min_d2": [int(d2.min())],
        })

    return _per_tile(pts, _closest, "tx long, ty long, n_pts long, min_d2 long")
