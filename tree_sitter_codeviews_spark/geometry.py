"""Vectorized planar geometry: ray-casting point-in-polygon, covers, segments, hulls.

The exact-refine stage of the two-phase containment join (SURVEY.md §2.3 row 1;
the analogue of the reference's ``scope_check``, ``codeviews/SDFG/SDFG_c.py:53-68``).

Crossing rule (must stay bit-identical with the SQL oracle — same ops, same
order): edge (x1,y1)->(x2,y2) crosses the rightward ray from (px,py) iff

    ((y1 > py) != (y2 > py)) AND (px < (x2 - x1) * (py - y1) / (y2 - y1) + x1)

Point is inside iff the crossing count is odd. Lon/lat treated as planar
(polygons here never span the antimeridian — documented v0 limitation,
FIXTURES.md §3).
"""

from __future__ import annotations

import numpy as np

from . import cells


def pip_mask(px: np.ndarray, py: np.ndarray, ring: np.ndarray) -> np.ndarray:
    """Vectorized ray-cast: points (P,) vs one ring (V,2) of (lon,lat).

    Ring is open (first vertex != last); closure edge added implicitly.
    Returns bool mask (P,).
    """
    px = np.asarray(px, dtype=np.float64)
    py = np.asarray(py, dtype=np.float64)
    ring = np.asarray(ring, dtype=np.float64)
    # Per-edge 1-D streams, XOR-accumulated parity. A (P, E) broadcast matrix
    # is ~E x more temp memory traffic; on bandwidth-limited hosts (measured:
    # 4x procs -> only 1.6x numpy throughput on this box) the 1-D form keeps
    # the refine compute-bound. E is tiny (<= 6 here), so the Python edge
    # loop costs nothing.
    inside = np.zeros(len(px), dtype=bool)
    nv = len(ring)
    with np.errstate(divide="ignore", invalid="ignore"):
        for k in range(nv):
            x1, y1 = ring[k, 0], ring[k, 1]
            x2, y2 = ring[(k + 1) % nv, 0], ring[(k + 1) % nv, 1]
            straddle = (y1 > py) != (y2 > py)
            xint = (x2 - x1) * (py - y1) / (y2 - y1) + x1
            inside ^= straddle & (px < xint)
    return inside


def ring_bbox(ring) -> tuple[float, float, float, float]:
    r = np.asarray(ring, dtype=np.float64)
    return float(r[:, 0].min()), float(r[:, 1].min()), float(r[:, 0].max()), float(r[:, 1].max())


def cover_cells(ring, res: int) -> np.ndarray:
    """Cell-cover prefilter set: all res-``res`` cells whose bbox intersects
    the polygon's bbox. A strict superset of cells containing any interior
    point — prefilter-safe (false positives removed by the exact refine;
    false negatives impossible). The analogue of the reference's name-equality
    prefilter before ``scope_check`` (``c_parser.py:227-249``)."""
    lon_min, lat_min, lon_max, lat_max = ring_bbox(ring)
    n = 1 << res
    x0 = max(0, min(n - 1, int(np.floor((lon_min + 180.0) / 360.0 * n))))
    x1 = max(0, min(n - 1, int(np.floor((lon_max + 180.0) / 360.0 * n))))
    y0 = max(0, min(n - 1, int(np.floor((lat_min + 90.0) / 180.0 * n))))
    y1 = max(0, min(n - 1, int(np.floor((lat_max + 90.0) / 180.0 * n))))
    xs, ys = np.meshgrid(np.arange(x0, x1 + 1, dtype=np.int64),
                         np.arange(y0, y1 + 1, dtype=np.int64))
    return cells.morton_np(xs.ravel(), ys.ravel(), res)


def _segment_intersects_rects(
    x1: float, y1: float, x2: float, y2: float,
    X0: np.ndarray, Y0: np.ndarray, X1: np.ndarray, Y1: np.ndarray,
) -> np.ndarray:
    """Liang-Barsky: does segment (x1,y1)-(x2,y2) intersect each axis-aligned
    rect [X0,X1]x[Y0,Y1]? Vectorized over rects."""
    n = len(X0)
    t0 = np.zeros(n)
    t1 = np.ones(n)
    ok = np.ones(n, dtype=bool)
    dx = x2 - x1
    dy = y2 - y1
    for p, q in ((-dx, x1 - X0), (dx, X1 - x1), (-dy, y1 - Y0), (dy, Y1 - y1)):
        if p == 0.0:
            ok &= q >= 0  # parallel and outside this boundary -> no hit
        else:
            t = q / p
            if p < 0:
                t0 = np.maximum(t0, t)
            else:
                t1 = np.minimum(t1, t)
    return ok & (t0 <= t1)


def cover_cells_classified(ring, res: int):
    """Cover set split into (cells, full): ``full[i]`` is True iff the whole
    cell lies inside the polygon — every one of its corners is inside and no
    polygon edge intersects the cell rectangle.

    The interior/boundary split is the scale lever of the containment join:
    candidates landing in *full* cells need NO exact refine (cell ⊆ polygon
    implies point ∈ polygon); only boundary cells — O(perimeter), not
    O(area) — pay for ray-casting. Same idea as H3 polyfill's full-cell
    optimization / prepared geometries in PostGIS."""
    cells_ = cover_cells(ring, res)
    r = np.asarray(ring, dtype=np.float64)
    n = 1 << res
    from .cells import morton_decode_np

    cx, cy = morton_decode_np(cells_, res)
    X0 = -180.0 + 360.0 * cx / n
    X1 = -180.0 + 360.0 * (cx + 1) / n
    Y0 = -90.0 + 180.0 * cy / n
    Y1 = -90.0 + 180.0 * (cy + 1) / n

    corners_inside = np.ones(len(cells_), dtype=bool)
    for gx, gy in ((X0, Y0), (X0, Y1), (X1, Y0), (X1, Y1)):
        corners_inside &= pip_mask(gx, gy, r)

    edge_hits = np.zeros(len(cells_), dtype=bool)
    nv = len(r)
    for k in range(nv):
        x1, y1 = r[k, 0], r[k, 1]
        x2, y2 = r[(k + 1) % nv, 0], r[(k + 1) % nv, 1]
        edge_hits |= _segment_intersects_rects(x1, y1, x2, y2, X0, Y0, X1, Y1)

    return cells_, corners_inside & ~edge_hits


# ---------------------------------------------------------------------------
# exact integer segment intersection (single source of truth for the
# Spark engine — via F.expr — AND the DuckDB oracle; CLRS §33.1 predicate)
# ---------------------------------------------------------------------------

def cross_sql(ox: str, oy: str, px: str, py: str, qx: str, qy: str) -> str:
    """SQL for the exact integer cross product (p-o) x (q-o). With grid
    coords |v| < 2^20 the product stays < 2^41 — no int64 overflow."""
    return (
        f"((({px}) - ({ox})) * (({qy}) - ({oy})) - "
        f"(({py}) - ({oy})) * (({qx}) - ({ox})))"
    )


def seg_cross_exprs(
    ax0: str = "ax0", ay0: str = "ay0", ax1: str = "ax1", ay1: str = "ay1",
    bx0: str = "bx0", by0: str = "by0", bx1: str = "bx1", by1: str = "by1",
) -> dict[str, str]:
    """The four orientation determinants of the classic segment-intersection
    test: d1/d2 orient A's endpoints against segment B, d3/d4 orient B's
    endpoints against segment A. Computed ONCE as columns/CTE fields (each
    is consumed 2-3x by the predicate below)."""
    return {
        "d1": cross_sql(bx0, by0, bx1, by1, ax0, ay0),
        "d2": cross_sql(bx0, by0, bx1, by1, ax1, ay1),
        "d3": cross_sql(ax0, ay0, ax1, ay1, bx0, by0),
        "d4": cross_sql(ax0, ay0, ax1, ay1, bx1, by1),
    }


def _onseg_sql(sx0: str, sy0: str, sx1: str, sy1: str, px: str, py: str) -> str:
    """Collinear case: point p lies within segment s's bbox."""
    return (
        f"(least({sx0}, {sx1}) <= ({px}) AND ({px}) <= greatest({sx0}, {sx1}) AND "
        f"least({sy0}, {sy1}) <= ({py}) AND ({py}) <= greatest({sy0}, {sy1}))"
    )


def seg_intersect_pred_sql(
    ax0: str = "ax0", ay0: str = "ay0", ax1: str = "ax1", ay1: str = "ay1",
    bx0: str = "bx0", by0: str = "by0", bx1: str = "bx1", by1: str = "by1",
) -> str:
    """Boolean SQL over precomputed d1..d4 columns (seg_cross_exprs) + the
    raw coords: segments A and B intersect (touching endpoints and
    collinear overlap INCLUDED — closed-segment semantics). Integer-exact;
    identical text runs under Spark SQL and DuckDB."""
    general = (
        "(((d1 > 0 AND d2 < 0) OR (d1 < 0 AND d2 > 0)) AND "
        "((d3 > 0 AND d4 < 0) OR (d3 < 0 AND d4 > 0)))"
    )
    touch = " OR ".join([
        f"(d1 = 0 AND {_onseg_sql(bx0, by0, bx1, by1, ax0, ay0)})",
        f"(d2 = 0 AND {_onseg_sql(bx0, by0, bx1, by1, ax1, ay1)})",
        f"(d3 = 0 AND {_onseg_sql(ax0, ay0, ax1, ay1, bx0, by0)})",
        f"(d4 = 0 AND {_onseg_sql(ax0, ay0, ax1, ay1, bx1, by1)})",
    ])
    return f"({general} OR {touch})"


# ---------------------------------------------------------------------------
# convex hull (Andrew monotone chain, exact python-int cross products)
# ---------------------------------------------------------------------------

def hull_np(xs: np.ndarray, ys: np.ndarray):
    """Convex hull vertices of an integer point set — monotone chain over
    python ints (exact; no float round-off, no overflow). Returns
    (hx, hy) int64 arrays. Collinear points are dropped (strict turns),
    which is sufficient for diameter: extreme points always survive."""
    pts = sorted(set(zip(np.asarray(xs, dtype=np.int64).tolist(),
                         np.asarray(ys, dtype=np.int64).tolist())))
    if len(pts) <= 2:
        hx = np.array([p[0] for p in pts], dtype=np.int64)
        hy = np.array([p[1] for p in pts], dtype=np.int64)
        return hx, hy

    def cross(o, p, q):
        return (p[0] - o[0]) * (q[1] - o[1]) - (p[1] - o[1]) * (q[0] - o[0])

    lower: list = []
    for p in pts:
        while len(lower) >= 2 and cross(lower[-2], lower[-1], p) <= 0:
            lower.pop()
        lower.append(p)
    upper: list = []
    for p in reversed(pts):
        while len(upper) >= 2 and cross(upper[-2], upper[-1], p) <= 0:
            upper.pop()
        upper.append(p)
    hull = lower[:-1] + upper[:-1]
    hx = np.array([p[0] for p in hull], dtype=np.int64)
    hy = np.array([p[1] for p in hull], dtype=np.int64)
    return hx, hy


def hull_area2(xs: np.ndarray, ys: np.ndarray) -> int:
    """Twice the convex-hull area of an integer point set: the shoelace sum
    over ``hull_np``'s vertices in python ints (exact). Fewer than three
    distinct points, or a collinear set, give 0."""
    hx, hy = (h.tolist() for h in hull_np(xs, ys))
    n = len(hx)
    return abs(sum(
        hx[i] * hy[(i + 1) % n] - hx[(i + 1) % n] * hy[i] for i in range(n)
    ))


def diameter_sq_np(xs: np.ndarray, ys: np.ndarray) -> int:
    """Exact max squared euclidean distance over a point set: hull first
    (the diameter's endpoints are hull vertices), then brute force over
    the h hull vertices only — O(n log n + h^2), h << n."""
    hx, hy = hull_np(xs, ys)
    if len(hx) == 0:
        return 0
    dx = hx[:, None] - hx[None, :]
    dy = hy[:, None] - hy[None, :]
    return int((dx * dx + dy * dy).max())
