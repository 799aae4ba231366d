"""Exact kNN via hierarchical-cell ring expansion with distance-bounded pruning.

The engine's iterative operator — the structural analogue of the reference's
RDA fixed point (``codeviews/SDFG/SDFG_c.py:1200-1261``), built the way the
survey says the reference should have (SURVEY.md §4.1): a driver-side loop
over DataFrames, convergence decided by a cheap per-round count (queries
still unresolved), lineage cut with ``localCheckpoint`` each round — no
deepcopy/DeepDiff equivalents.

Exactness argument: a query point lies somewhere inside its res-``res`` cell.
Any point outside the Chebyshev-radius-``t`` cell block is at least ``t``
whole cells away along some axis, i.e. at planar-degree distance
``>= t * (180 / 2^res)`` (the smaller of the two cell extents). So once a
query holds k candidates whose worst distance is within that bound, no
outside point can displace them — the query is resolved. Unresolved queries
expand the annulus, doubling its radius until it covers the whole grid, so
the last ring's candidates are complete for every query left: no
brute-force pass exists.

Distance = squared planar degrees (deterministic: *,+,- only), ties broken by
neighbor id — bit-reproducible against the DuckDB brute-force oracle.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from ..localdf import arrow_local_df

from .. import cells, driver_arm, layers

# Largest ring radius in cells: the driver-built offset table of a ring has
# (2t+1)^2 rows, so a grid wider than RING_CAP + 1 cells is refused.
RING_CAP = 128
# Driver-arm cap in points: the arm is O(N²) (blocked distance matrices),
# and 20k² double ops stay sub-second in numpy.
DRIVER_POINTS_CAP = 20_000


def _dist_sq(alon, alat, blon, blat):
    return (alon - blon) * (alon - blon) + (alat - blat) * (alat - blat)


def _offsets_df(spark: SparkSession, lo: int, hi: int) -> DataFrame:
    """Static annulus offsets: Chebyshev distance in (lo, hi]."""
    rows = [
        (dx, dy)
        for dx in range(-hi, hi + 1)
        for dy in range(-hi, hi + 1)
        if max(abs(dx), abs(dy)) > lo and max(abs(dx), abs(dy)) <= hi
    ]
    return arrow_local_df(spark, rows, "dx int, dy int")


def knn_ring(
    points: DataFrame,
    spark: SparkSession,
    k: int = 5,
    res: int = 5,
    id_col: str = "doc_id",
    grid_res: int = layers.GRID_RES,
) -> DataFrame:
    """points(id, gx, gy, lon, lat) -> (id, neighbor_id, rank, dist_sq).

    gx/gy are grid coords at ``grid_res``; the kNN index grid is ``res``.

    SIZE-ADAPTIVE (``driver_arm``, with the lower ``DRIVER_POINTS_CAP``
    because the driver arm is O(N²)): up to that many points the exact kNN
    runs as blocked numpy distance matrices on the driver — the ring loop
    costs ~5 fixed-overhead jobs per annulus (profiled ~50 sub-300 ms
    stages at sf0.1). The arm mirrors ``_dist_sq``'s exact IEEE expression
    and the (dist_sq asc, nid asc) tie order, so rows are bit-identical
    (pinned by test); above the cap (e.g. the sf2 bench point) the ring
    loop below runs unchanged.

    Raises ``ValueError`` when the ``res`` grid is wider than
    ``RING_CAP + 1`` cells (``res >= 8``): its rings could not cover it."""
    shift = grid_res - res
    n = 1 << res
    if n - 1 > RING_CAP:
        raise ValueError(
            f"knn_ring: res {res} grid is {n} cells wide; the rings reach "
            f"at most {RING_CAP} cells (res <= 7)")
    min_cell_deg = 180.0 / n

    base = points.select(
        F.col(id_col).alias("pid"),
        F.shiftright(F.col("gx"), shift).alias("px"),
        F.shiftright(F.col("gy"), shift).alias("py"),
        F.col("lon").alias("plon"),
        F.col("lat").alias("plat"),
    )
    pdf = driver_arm.collect_if_small(
        base.select("pid", "plon", "plat"), DRIVER_POINTS_CAP)
    if pdf is not None:
        return _knn_driver(spark, pdf, k, id_col)
    idx = base.select(
        F.col("pid").alias("nid"),
        F.expr(cells.morton_sql("px", "py", res)).alias("cell"),
        F.col("plon").alias("nlon"),
        F.col("plat").alias("nlat"),
    ).persist()
    idx.count()  # materialize once; reused every round

    unresolved = base.select(
        F.col("pid").alias("qid"), F.col("px").alias("qx"), F.col("py").alias("qy"),
        F.col("plon").alias("qlon"), F.col("plat").alias("qlat"),
    ).localCheckpoint()
    best: DataFrame | None = None  # (qid, nid, dist_sq) top-k-so-far of unresolved
    resolved_parts: list[DataFrame] = []

    w = Window.partitionBy("qid").orderBy(F.col("dist_sq").asc(), F.col("nid").asc())

    # ring radii 1, 2, 4, ... doubling up to n-1, the radius that reaches
    # every cell from any query position
    ts = [1]
    while ts[-1] < n - 1:
        ts.append(min(2 * ts[-1], n - 1))

    prev_t = -1  # ring 0 (own cell) included in first annulus
    for t in ts:
        offs = _offsets_df(spark, prev_t, t)
        ringed = (
            unresolved.crossJoin(F.broadcast(offs))
            .withColumn("cx", F.col("qx") + F.col("dx"))
            .withColumn("cy", F.col("qy") + F.col("dy"))
            .filter((F.col("cx") >= 0) & (F.col("cx") < n) & (F.col("cy") >= 0) & (F.col("cy") < n))
            .withColumn("cell", F.expr(cells.morton_sql("cx", "cy", res)))
            .select("qid", "qlon", "qlat", "cell")
        )
        cand_new = (
            ringed.join(idx, "cell", "inner")
            .filter(F.col("qid") != F.col("nid"))
            .select(
                "qid", "nid",
                _dist_sq(F.col("qlon"), F.col("qlat"), F.col("nlon"), F.col("nlat")).alias("dist_sq"),
            )
        )
        pool = cand_new if best is None else best.unionByName(cand_new)
        topk = (
            pool.withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= k)
            .localCheckpoint()
        )
        stats = topk.groupBy("qid").agg(
            F.count("*").alias("cnt"), F.max("dist_sq").alias("kth")
        )
        bound = float((t * min_cell_deg) ** 2)
        done_q = stats.filter((F.col("cnt") == k) & (F.col("kth") <= F.lit(bound))).select("qid")
        resolved_parts.append(
            topk.join(done_q, "qid", "left_semi").select("qid", "nid", "rank", "dist_sq")
        )
        unresolved = (
            unresolved.join(done_q, "qid", "left_anti").localCheckpoint()
        )
        best = topk.join(done_q, "qid", "left_anti").select("qid", "nid", "dist_sq")
        if unresolved.isEmpty():
            best = None
            break
        prev_t = t

    if best is not None:
        # the last ring covered the entire grid, so the surviving
        # topk-so-far is complete by construction (these are only queries
        # on a corpus with fewer than k+1 points) — accept it, no extra scan
        resolved_parts.append(
            best.withColumn("rank", F.row_number().over(w))
            .select("qid", "nid", "rank", "dist_sq")
            .localCheckpoint()
        )
    # every resolved part is materialized (localCheckpoint) — release the
    # index cache instead of leaking it into the session's block manager
    idx.unpersist()

    out = resolved_parts[0]
    for part in resolved_parts[1:]:
        out = out.unionByName(part)
    return out.select(
        F.col("qid").alias(id_col),
        F.col("nid").alias("neighbor_id"),
        "rank",
        "dist_sq",
    )


def _knn_driver(
    spark: SparkSession, pdf, k: int, id_col: str
) -> DataFrame:
    """Blocked exact kNN on the driver — the small-corpus arm of
    ``knn_ring``. Distances use the same IEEE double expression as
    ``_dist_sq`` ((a-b)*(a-b) + (c-d)*(c-d), correctly rounded per op, so
    bit-identical to the JVM); ties break by (dist_sq asc, nid asc) via a
    per-query lexsort over the tie-complete candidate set (argpartition
    gives the k-th smallest distance, then EVERY index at or below it is
    re-ranked exactly, so boundary ties cannot be split arbitrarily)."""
    import numpy as np

    ids = pdf["pid"].to_numpy(dtype=np.int64)
    lon = pdf["plon"].to_numpy(dtype=np.float64)
    lat = pdf["plat"].to_numpy(dtype=np.float64)
    n_pts = len(ids)
    rows: list[tuple] = []
    kk = min(k, n_pts - 1)
    if kk > 0:
        block = max(1, (1 << 22) // n_pts)
        for s in range(0, n_pts, block):
            e = min(s + block, n_pts)
            dx = lon[s:e, None] - lon[None, :]
            dy = lat[s:e, None] - lat[None, :]
            d = dx * dx + dy * dy
            d[ids[s:e, None] == ids[None, :]] = np.inf  # exclude self
            dk = np.partition(d, kk - 1, axis=1)[:, kk - 1]
            for i in range(e - s):
                cand = np.nonzero(d[i] <= dk[i])[0]
                sel = cand[np.lexsort((ids[cand], d[i][cand]))[:kk]]
                rows.extend(
                    (int(ids[s + i]), int(ids[j]), r, float(d[i][j]))
                    for r, j in enumerate(sel, 1)
                )
    return arrow_local_df(
        spark, rows,
        f"{id_col} long, neighbor_id long, rank int, dist_sq double",
    )


def distance_join(
    points: DataFrame,
    eps: float = 2.0,
    res: int = 5,
    id_col: str = "doc_id",
) -> DataFrame:
    """All pairs within planar-degree distance ``eps``: (id_a, id_b,
    dist_sq) — the spatial range self-join (DBSCAN's neighborhood step).

    Cell blocking at ``res``: side A probes its cell plus the 8 neighbors,
    side B sits in its home cell — an equi-join on the probe cell, never
    all-pairs. Lossless by construction: ``eps`` must not exceed the cell
    extent (lat extent 180/2^res; asserted), so any pair within eps differs
    by at most 1 in each cell coordinate. A pair matches via exactly ONE
    (dx, dy) offset, so no dedupe shuffle is needed. The oracle is the pure
    quadratic distance predicate — this plan must reproduce the *semantic*,
    not its own blocking."""
    if eps > 180.0 / (1 << res):
        raise ValueError("distance_join: eps exceeds the blocking cell extent")
    shift = layers.GRID_RES - res
    pts = points.select(
        F.col(id_col).alias("_id"), "lon", "lat",
        F.shiftright(F.col("gx"), shift).alias("_cx"),
        F.shiftright(F.col("gy"), shift).alias("_cy"),
    )
    offsets = F.explode(F.array(*[
        F.struct(F.lit(dx).alias("dx"), F.lit(dy).alias("dy"))
        for dx in (-1, 0, 1) for dy in (-1, 0, 1)
    ])).alias("o")
    a = pts.select(
        F.col("_id").alias("id_a"), F.col("lon").alias("lon_a"),
        F.col("lat").alias("lat_a"), "_cx", "_cy", offsets,
    ).select(
        "id_a", "lon_a", "lat_a",
        (F.col("_cx") + F.col("o.dx")).alias("px"),
        (F.col("_cy") + F.col("o.dy")).alias("py"),
    )
    b = pts.select(
        F.col("_id").alias("id_b"), F.col("lon").alias("lon_b"),
        F.col("lat").alias("lat_b"),
        F.col("_cx").alias("px"), F.col("_cy").alias("py"),
    )
    d2 = _dist_sq(F.col("lon_a"), F.col("lat_a"), F.col("lon_b"), F.col("lat_b"))
    return (
        a.join(b, ["px", "py"])
        .filter(F.col("id_a") < F.col("id_b"))
        .withColumn("dist_sq", d2)
        .filter(F.col("dist_sq") <= eps * eps)
        .select("id_a", "id_b", "dist_sq")
    )
