"""Property-based tests (hypothesis) for the index & geometry kernels.

These pin the algebraic invariants the engine's joins rely on: encode/decode
roundtrips, parent-by-truncation, Hilbert algorithm equivalence, and
ray-cast correctness on axis-aligned rectangles (where membership has a
closed form to compare against).
"""

from __future__ import annotations

import numpy as np
from hypothesis import given, settings
from hypothesis import strategies as st

from tree_sitter_codeviews_spark import cells, geometry, s2
from tests import reference_impl

RES = st.integers(min_value=1, max_value=16)


@settings(max_examples=200, deadline=None)
@given(res=RES, data=st.data())
def test_morton_roundtrip(res, data):
    n = 1 << res
    x = np.array(data.draw(st.lists(st.integers(0, n - 1), min_size=1, max_size=50)))
    y = np.array(data.draw(st.lists(st.integers(0, n - 1), min_size=len(x), max_size=len(x))))
    m = cells.morton_np(x, y, res)
    rx, ry = cells.morton_decode_np(m, res)
    np.testing.assert_array_equal(rx, x)
    np.testing.assert_array_equal(ry, y)


@settings(max_examples=200, deadline=None)
@given(res=st.integers(2, 16), data=st.data())
def test_parent_truncation_consistent_with_reencode(res, data):
    """cell(x, y, res) >> 2 == cell(x >> 1, y >> 1, res-1) for both curves."""
    n = 1 << res
    x = np.array(data.draw(st.lists(st.integers(0, n - 1), min_size=1, max_size=50)))
    y = np.array(data.draw(st.lists(st.integers(0, n - 1), min_size=len(x), max_size=len(x))))
    np.testing.assert_array_equal(
        cells.morton_np(x, y, res) >> 2, cells.morton_np(x >> 1, y >> 1, res - 1)
    )
    np.testing.assert_array_equal(
        reference_impl.hilbert_np(x, y, res) >> 2, reference_impl.hilbert_np(x >> 1, y >> 1, res - 1)
    )


@settings(max_examples=200, deadline=None)
@given(res=RES, data=st.data())
def test_hilbert_branchless_equals_iterative(res, data):
    n = 1 << res
    x = np.array(data.draw(st.lists(st.integers(0, n - 1), min_size=1, max_size=50)))
    y = np.array(data.draw(st.lists(st.integers(0, n - 1), min_size=len(x), max_size=len(x))))
    np.testing.assert_array_equal(
        reference_impl.hilbert_np(x, y, res), reference_impl.hilbert_fast_np(x, y, res)
    )


_coord = st.floats(min_value=-179.0, max_value=179.0, allow_nan=False)
_lat = st.floats(min_value=-89.0, max_value=89.0, allow_nan=False)


@settings(max_examples=200, deadline=None)
@given(
    x0=_coord, y0=_lat,
    w=st.floats(min_value=0.5, max_value=40.0),
    h=st.floats(min_value=0.5, max_value=40.0),
    px=_coord, py=_lat,
)
def test_pip_mask_matches_rect_membership(x0, y0, w, h, px, py):
    """On an axis-aligned rectangle, ray-cast membership has a closed form.
    Skip points within an epsilon of the boundary (tie semantics are the
    oracle's job, not this property's)."""
    x1, y1 = min(x0 + w, 179.9), min(y0 + h, 89.9)
    eps = 1e-9
    near_edge = (
        abs(px - x0) < eps or abs(px - x1) < eps
        or abs(py - y0) < eps or abs(py - y1) < eps
    )
    if near_edge:
        return
    ring = np.array([(x0, y0), (x1, y0), (x1, y1), (x0, y1)])
    got = bool(geometry.pip_mask(np.array([px]), np.array([py]), ring)[0])
    want = (x0 < px < x1) and (y0 < py < y1)
    assert got == want


@settings(max_examples=100, deadline=None)
@given(res=st.integers(2, 10), data=st.data())
def test_compact_preserves_membership(res, data):
    """compact_cells_np output covers exactly the input cell set: every
    input cell has exactly one output ancestor-or-self, and every output
    cell's descendants at the input res are all inputs."""
    n_cells = 1 << (2 * res)
    cs = np.unique(np.array(
        data.draw(st.lists(st.integers(0, n_cells - 1), min_size=1, max_size=80))
    ))
    out = reference_impl.compact_cells_np(cs, res)
    covered = set()
    for r, c in out:
        desc = reference_impl.children_np(c, r, res) if r < res else np.array([c])
        for d in desc:
            assert d in set(cs.tolist())  # no over-coverage
            assert d not in covered       # no double-coverage
            covered.add(int(d))
    assert covered == set(cs.tolist())    # full coverage
