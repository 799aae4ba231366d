"""Exact segment-intersection / hull-diameter / geohash tests.

Three layers of independence:
- the numpy twin vs an exact-RATIONAL parametric oracle (Fraction
  arithmetic — a genuinely different algorithm, not the determinant test
  restated);
- the Spark SQL predicate text vs the numpy twin (single-source-of-truth
  check for the text the engine AND the DuckDB oracle share);
- the two-phase ``segment_crossing_join`` vs an unfiltered quadratic join
  (any cover-cell prefilter miss shows up as a missing pair).
"""

from __future__ import annotations

from fractions import Fraction

import numpy as np
import pandas as pd

from tree_sitter_codeviews_spark import cells, geometry, layers
from tree_sitter_codeviews_spark.operators import segments
from tests import reference_impl


# ---------------------------------------------------------------------------
# exact-rational parametric oracle (independent algorithm)
# ---------------------------------------------------------------------------

def _intersect_rational(a, b) -> bool:
    """Closed segments a=(x0,y0,x1,y1), b likewise. Solve
    p = a0 + t*(a1-a0) = b0 + u*(b1-b0) in exact rationals; parallel /
    collinear handled by 1-D interval overlap along the dominant axis."""
    ax, ay = a[2] - a[0], a[3] - a[1]
    bx, by = b[2] - b[0], b[3] - b[1]
    denom = ax * by - ay * bx
    rx, ry = b[0] - a[0], b[1] - a[1]
    if denom != 0:
        t = Fraction(rx * by - ry * bx, denom)
        u = Fraction(rx * ay - ry * ax, denom)
        return 0 <= t <= 1 and 0 <= u <= 1
    # parallel: intersect only if collinear — test r against a NONZERO
    # direction (a degenerate segment has a zero vector, which would make
    # the cross product vacuously 0)
    if ax != 0 or ay != 0:
        if rx * ay - ry * ax != 0:
            return False
    elif bx != 0 or by != 0:
        if rx * by - ry * bx != 0:
            return False
    # collinear (either may be degenerate): project onto dominant axis
    def interval(s, use_x):
        lo, hi = (s[0], s[2]) if use_x else (s[1], s[3])
        return (min(lo, hi), max(lo, hi))

    use_x = abs(ax) + abs(bx) >= abs(ay) + abs(by)
    # both-degenerate on the chosen axis: fall back to full point equality
    if ax == ay == 0 and bx == by == 0:
        return (a[0], a[1]) == (b[0], b[1])
    la, ha = interval(a, use_x)
    lb, hb = interval(b, use_x)
    if max(la, lb) > min(ha, hb):
        return False
    # overlapping on dominant axis and collinear -> they share a point,
    # unless one is a degenerate point off the other's support line
    # (already excluded by the collinearity check above).
    return True


def test_intersect_known_cases():
    cases = [
        ((0, 0, 10, 10), (0, 10, 10, 0), True),    # proper X crossing
        ((0, 0, 10, 0), (5, 0, 5, 7), True),       # T-junction touch
        ((0, 0, 10, 0), (10, 0, 20, 5), True),     # shared endpoint
        ((0, 0, 10, 0), (4, 0, 6, 0), True),       # collinear containment
        ((0, 0, 10, 0), (11, 0, 20, 0), False),    # collinear disjoint
        ((0, 0, 10, 0), (0, 1, 10, 1), False),     # parallel offset
        ((0, 0, 10, 10), (6, 5, 20, 5), False),    # near miss
        ((3, 4, 3, 4), (0, 0, 10, 10), False),     # degenerate point off line
        ((5, 5, 5, 5), (0, 0, 10, 10), True),      # degenerate point on line
    ]
    a = np.array([c[0] for c in cases], dtype=np.int64)
    b = np.array([c[1] for c in cases], dtype=np.int64)
    want = [c[2] for c in cases]
    assert reference_impl.segments_intersect_np(a, b).tolist() == want
    assert [_intersect_rational(x, y) for x, y in zip(a.tolist(), b.tolist())] == want


def test_intersect_np_vs_rational_oracle():
    rng = np.random.RandomState(11)
    # small coordinate range so touching/collinear cases actually occur
    a = rng.randint(0, 8, size=(5000, 4)).astype(np.int64)
    b = rng.randint(0, 8, size=(5000, 4)).astype(np.int64)
    got = reference_impl.segments_intersect_np(a, b)
    want = np.array(
        [_intersect_rational(x, y) for x, y in zip(a.tolist(), b.tolist())]
    )
    assert (got == want).all()


def test_sql_predicate_matches_np(spark):
    """The shared SQL text (what BOTH the engine and the DuckDB oracle run)
    agrees with the numpy twin on random pairs."""
    rng = np.random.RandomState(7)
    a = rng.randint(0, 6, size=(2000, 4)).astype(np.int64)
    b = rng.randint(0, 6, size=(2000, 4)).astype(np.int64)
    pdf = pd.DataFrame(
        np.hstack([a, b]),
        columns=["ax0", "ay0", "ax1", "ay1", "bx0", "by0", "bx1", "by1"],
    )
    df = spark.createDataFrame(pdf)
    from pyspark.sql import functions as F

    got = (
        df.withColumns({k: F.expr(v) for k, v in geometry.seg_cross_exprs().items()})
        .withColumn("hit", F.expr(geometry.seg_intersect_pred_sql()))
        .select("hit")
        .toPandas()["hit"]
        .to_numpy()
    )
    assert (got == reference_impl.segments_intersect_np(a, b)).all()


# ---------------------------------------------------------------------------
# hull + diameter
# ---------------------------------------------------------------------------

def test_diameter_vs_bruteforce():
    rng = np.random.RandomState(3)
    for n in (1, 2, 3, 10, 200):
        xs = rng.randint(0, 1024, n).astype(np.int64)
        ys = rng.randint(0, 1024, n).astype(np.int64)
        dx = xs[:, None] - xs[None, :]
        dy = ys[:, None] - ys[None, :]
        want = int((dx * dx + dy * dy).max())
        assert geometry.diameter_sq_np(xs, ys) == want, n


def test_diameter_degenerate_sets():
    # all-identical and collinear sets (hull has <= 2 strict-turn vertices)
    xs = np.array([5, 5, 5, 5], dtype=np.int64)
    ys = np.array([7, 7, 7, 7], dtype=np.int64)
    assert geometry.diameter_sq_np(xs, ys) == 0
    xs = np.array([0, 3, 6, 9], dtype=np.int64)
    ys = np.array([0, 3, 6, 9], dtype=np.int64)
    assert geometry.diameter_sq_np(xs, ys) == 81 + 81


def test_hull_is_subset_and_extreme():
    rng = np.random.RandomState(9)
    xs = rng.randint(0, 100, 500).astype(np.int64)
    ys = rng.randint(0, 100, 500).astype(np.int64)
    hx, hy = geometry.hull_np(xs, ys)
    pts = set(zip(xs.tolist(), ys.tolist()))
    assert set(zip(hx.tolist(), hy.tolist())) <= pts
    for ex in (xs.min(), xs.max()):
        assert ex in hx.tolist()


# ---------------------------------------------------------------------------
# two-phase crossing join vs unfiltered quadratic (Spark)
# ---------------------------------------------------------------------------

def test_crossing_join_vs_quadratic(spark):
    rng = np.random.RandomState(21)
    n_p, n_l = 300, 40
    # short probes (bbox <= ~32 px) scattered over a 1024 grid
    px = rng.randint(0, 992, n_p).astype(np.int64)
    py = rng.randint(0, 992, n_p).astype(np.int64)
    pr = pd.DataFrame({
        "pid": np.arange(n_p, dtype=np.int64),
        "ax0": px, "ay0": py,
        "ax1": px + rng.randint(-32, 33, n_p),
        "ay1": py + rng.randint(-32, 33, n_p),
    })
    # long lines spanning the grid
    ln = pd.DataFrame({
        "line_id": np.arange(n_l, dtype=np.int64),
        "bx0": rng.randint(0, 1024, n_l).astype(np.int64),
        "by0": rng.randint(0, 1024, n_l).astype(np.int64),
        "bx1": rng.randint(0, 1024, n_l).astype(np.int64),
        "by1": rng.randint(0, 1024, n_l).astype(np.int64),
    })
    got = (
        segments.segment_crossing_join(
            spark.createDataFrame(pr), spark.createDataFrame(ln),
            id_cols=["pid"], shift=6,
        )
        .toPandas()
    )
    got_set = set(zip(got["pid"], got["line_id"]))
    want_set = set()
    for p in pr.itertuples():
        a = (p.ax0, p.ay0, p.ax1, p.ay1)
        for l in ln.itertuples():
            if _intersect_rational(a, (l.bx0, l.by0, l.bx1, l.by1)):
                want_set.add((p.pid, l.line_id))
    assert got_set == want_set


def test_tile_diameter_matches_quadratic(spark):
    rng = np.random.RandomState(4)
    pdf = pd.DataFrame({
        "gx": rng.randint(0, 128, 800).astype(np.int64),
        "gy": rng.randint(0, 128, 800).astype(np.int64),
    })
    got = (
        segments.tile_diameter(spark.createDataFrame(pdf), shift=5)
        .toPandas()
        .set_index(["tx", "ty"])
        .sort_index()
    )
    d = pdf.drop_duplicates()
    for (tx, ty), grp in d.groupby([d["gx"] // 32, d["gy"] // 32]):
        xs = grp["gx"].to_numpy()
        ys = grp["gy"].to_numpy()
        dx = xs[:, None] - xs[None, :]
        dy = ys[:, None] - ys[None, :]
        row = got.loc[(tx, ty)]
        assert row["n_pts"] == len(grp)
        assert row["diam_sq"] == int((dx * dx + dy * dy).max())


# ---------------------------------------------------------------------------
# geohash encode vs an independent scalar reference
# ---------------------------------------------------------------------------

def _geohash_ref(gx: int, gy: int) -> str:
    """Niemeyer geohash from res-10 grid coords: the grid bits ARE the
    bisection bits (bit 9 = 'upper half of range', MSB first), interleaved
    lon-first, 5 bits per base32 char."""
    bits = []
    for i in range(layers.GRID_RES - 1, -1, -1):
        bits.append((gx >> i) & 1)  # lon bit first
        bits.append((gy >> i) & 1)
    out = []
    for k in range(4):
        v = 0
        for bit in bits[5 * k:5 * k + 5]:
            v = (v << 1) | bit
        out.append(cells.GEOHASH_B32[v])
    return "".join(out)


def test_geohash_vs_scalar_reference(spark):
    rng = np.random.RandomState(17)
    pdf = pd.DataFrame({
        "gx": rng.randint(0, 1024, 400).astype(np.int64),
        "gy": rng.randint(0, 1024, 400).astype(np.int64),
    })
    from pyspark.sql import functions as F

    g = F.expr(cells.morton_sql("gy", "gx", layers.GRID_RES)).alias("g")
    chars = [F.expr(cells.geohash_char_sql("g", k)) for k in range(4)]
    got = (
        spark.createDataFrame(pdf)
        .select("gx", "gy", g)
        .select("gx", "gy", F.concat(*chars).alias("gh4"))
        .toPandas()
    )
    for r in got.itertuples():
        assert r.gh4 == _geohash_ref(r.gx, r.gy), (r.gx, r.gy)


def test_geohash_prefix_containment():
    """Prefix property: points sharing a gh3 prefix lie in the same
    res-7-ish cell (15 leading interleave bits)."""
    a, b = _geohash_ref(512, 512), _geohash_ref(513, 513)
    assert a[:3] == b[:3]
    assert _geohash_ref(0, 0)[:3] != _geohash_ref(1023, 1023)[:3]


# ---------------------------------------------------------------------------
# map-matching (snap to rasterized lines) vs quadratic reference
# ---------------------------------------------------------------------------

def test_snap_to_lines_vs_quadratic(spark):
    from tree_sitter_codeviews_spark.operators.segments import (
        rasterize_segments, snap_to_lines)

    rng = np.random.RandomState(31)
    n_p, n_l = 400, 25
    pr = pd.DataFrame({
        "pid": np.arange(n_p, dtype=np.int64),
        "ex": rng.randint(0, 1024, n_p).astype(np.int64),
        "ey": rng.randint(0, 1024, n_p).astype(np.int64),
    })
    ln = pd.DataFrame({
        "line_id": np.arange(n_l, dtype=np.int64),
        "bx0": rng.randint(0, 1024, n_l).astype(np.int64),
        "by0": rng.randint(0, 1024, n_l).astype(np.int64),
        "bx1": rng.randint(0, 1024, n_l).astype(np.int64),
        "by1": rng.randint(0, 1024, n_l).astype(np.int64),
    })
    raster = rasterize_segments(spark.createDataFrame(ln))
    got = (
        snap_to_lines(spark.createDataFrame(pr), raster,
                      id_cols=["pid"], radius=16)
        .toPandas().set_index("pid").sort_index()
    )
    # scalar reference: DDA-sample each line with the same truncated
    # division, brute-force min (dist_sq, line_id) per probe
    rpts = []
    for l in ln.itertuples():
        L = max(abs(l.bx1 - l.bx0), abs(l.by1 - l.by0), 1)
        for t in range(L + 1):
            # python // floors; the engine's `div` truncates toward zero —
            # int(a/b) mirrors truncation for the negative-delta cases
            px = l.bx0 + int((l.bx1 - l.bx0) * t / L)
            py = l.by0 + int((l.by1 - l.by0) * t / L)
            rpts.append((l.line_id, px, py))
    want = {}
    for p in pr.itertuples():
        best = None
        for lid, px, py in rpts:
            d2 = (p.ex - px) ** 2 + (p.ey - py) ** 2
            if d2 <= 256 and (best is None or (d2, lid) < best):
                best = (d2, lid)
        if best is not None:
            want[p.pid] = best
    assert set(got.index) == set(want)
    for pid, (d2, lid) in want.items():
        assert got.loc[pid, "snap_dist_sq"] == d2, pid
        assert got.loc[pid, "line_id"] == lid, pid


def test_traj_simplify_keeps_endpoints_and_corners(spark):
    """A straight run (area2 = 0) collapses to its endpoints; a sharp
    corner survives."""
    from tree_sitter_codeviews_spark import queries as q
    import pyspark.sql.functions as F
    from pyspark.sql import Window

    # reuse the query's window logic via a synthetic events frame is
    # intrusive; instead assert the semantics on the real table: every
    # user's first and last ping (by ts, event_id) must survive.
    sf = "/root/testdata/sf0.001"
    kept = q.geo_traj_simplify(spark, sf).select("user_id", "event_id")
    ev = (
        spark.read.parquet(sf + "/events.parquet")
        .select("user_id", "ts", "event_id")
    )
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    wd = Window.partitionBy("user_id").orderBy(
        F.col("ts").desc(), F.col("event_id").desc())
    ends = (
        ev.withColumn("rn", F.row_number().over(w))
        .withColumn("rd", F.row_number().over(wd))
        .filter((F.col("rn") == 1) | (F.col("rd") == 1))
        .select("user_id", "event_id")
    )
    missing = ends.join(kept, ["user_id", "event_id"], "left_anti").count()
    assert missing == 0


def test_closest_pair_consistent_with_diameter(spark):
    """min_d2 <= diam_sq per tile, same tile set (for tiles with >= 2
    distinct points), and min_d2 >= 1 (distinct integer locations)."""
    from tree_sitter_codeviews_spark import queries as q

    sf = "/root/testdata/sf0.001"
    cp = q.geo_tile_closest_pair(spark, sf).toPandas().set_index(["tx", "ty"])
    di = q.geo_tile_diameter(spark, sf).toPandas().set_index(["tx", "ty"])
    assert len(cp) > 0
    for key, row in cp.iterrows():
        assert row["min_d2"] >= 1
        assert key in di.index
        assert row["min_d2"] <= di.loc[key]["diam_sq"]
        assert row["n_pts"] == di.loc[key]["n_pts"]
    # diameter rows missing from closest-pair are exactly the 1-point tiles
    only = di.index.difference(cp.index)
    assert (di.loc[only]["n_pts"] == 1).all()
