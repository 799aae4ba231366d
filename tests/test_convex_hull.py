"""Convex hull: ``geometry.hull_area2`` (the monotone chain
``events_convex_hull`` ships) against a brute-force edge-definition
reference on adversarial configurations (collinear tracks, duplicates,
squares with interior/boundary points) via hypothesis."""

from __future__ import annotations

from hypothesis import given, settings
from hypothesis import strategies as st

from tree_sitter_codeviews_spark.geometry import hull_area2


def _cross(o, a, b):
    return (a[0] - o[0]) * (b[1] - o[1]) - (a[1] - o[1]) * (b[0] - o[0])


def shipped_area2(pts):
    """``geometry.hull_area2`` on a list of (x, y) tuples."""
    return hull_area2([p[0] for p in pts], [p[1] for p in pts])


def edge_area2(pts_in):
    """The oracle's cubic characterization: shoelace over edges where every
    point is left-of-or-on and none strictly between."""
    pts = sorted(set(pts_in))
    total = 0
    for a in pts:
        for b in pts:
            if a == b:
                continue
            ok = True
            for c in pts:
                cr = _cross(a, b, c)
                if cr < 0:
                    ok = False
                    break
                if cr == 0:
                    dot = (c[0] - a[0]) * (b[0] - a[0]) + (c[1] - a[1]) * (b[1] - a[1])
                    ln = (b[0] - a[0]) ** 2 + (b[1] - a[1]) ** 2
                    if 0 < dot < ln:
                        ok = False
                        break
            if ok:
                total += a[0] * b[1] - b[0] * a[1]
    return abs(total)


@settings(max_examples=200, deadline=None)
@given(
    st.lists(
        st.tuples(st.integers(0, 12), st.integers(0, 12)),
        min_size=1,
        max_size=12,
    )
)
def test_chain_matches_edge_definition(pts):
    assert shipped_area2(pts) == edge_area2(pts)


def test_known_shapes():
    # unit square with center + boundary-midpoint: area2 = 2 * 4 = 8
    sq = [(0, 0), (2, 0), (2, 2), (0, 2), (1, 1), (1, 0)]
    assert shipped_area2(sq) == edge_area2(sq) == 8
    # collinear track
    line = [(0, 0), (3, 3), (7, 7), (2, 2)]
    assert shipped_area2(line) == edge_area2(line) == 0
    # triangle with a duplicate vertex
    tri = [(0, 0), (4, 0), (0, 4), (0, 0)]
    assert shipped_area2(tri) == edge_area2(tri) == 16
