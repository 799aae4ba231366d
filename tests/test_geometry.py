from __future__ import annotations

import numpy as np

from tree_sitter_codeviews_spark import geometry, layers
from tests import reference_impl


def _pip_slow(px, py, ring):
    """Obviously-correct scalar ray-cast oracle (independent reimpl)."""
    inside = False
    n = len(ring)
    for k in range(n):
        x1, y1 = ring[k]
        x2, y2 = ring[(k + 1) % n]
        if (y1 > py) != (y2 > py):
            xint = (x2 - x1) * (py - y1) / (y2 - y1) + x1
            if px < xint:
                inside = not inside
    return inside


def test_pip_vs_scalar_oracle():
    rng = np.random.RandomState(5)
    px = rng.uniform(-180, 180, 4000)
    py = rng.uniform(-90, 90, 4000)
    for p in layers.POLYGONS:
        ring = p["ring"]
        got = geometry.pip_mask(px, py, np.asarray(ring))
        want = np.array([_pip_slow(a, b, ring) for a, b in zip(px, py)])
        assert (got == want).all(), f"polygon {p['polygon_id']}"


def test_pip_known_points():
    sq = [(0.0, 0.0), (10.0, 0.0), (10.0, 10.0), (0.0, 10.0)]
    got = geometry.pip_mask(
        np.array([5.0, 15.0, -1.0, 5.0]),
        np.array([5.0, 5.0, 5.0, 15.0]),
        np.asarray(sq),
    )
    assert got.tolist() == [True, False, False, False]


def test_concave_polygon():
    # L-shape polygon 5: (100,-35) fat part; (105,-20) right arm; (80,-20) notch
    ring = np.asarray(next(p["ring"] for p in layers.POLYGONS if p["polygon_id"] == 5))
    got = geometry.pip_mask(
        np.array([100.0, 105.0, 80.0]), np.array([-35.0, -20.0, -20.0]), ring
    )
    assert got.tolist() == [True, True, False]


def test_cover_is_superset():
    # every cell containing an interior point must appear in the cover
    rng = np.random.RandomState(9)
    for p in layers.POLYGONS:
        ring = np.asarray(p["ring"], dtype=np.float64)
        cover = set(geometry.cover_cells(p["ring"], 4).tolist())
        lon0, lat0, lon1, lat1 = geometry.ring_bbox(p["ring"])
        px = rng.uniform(lon0, lon1, 2000)
        py = rng.uniform(lat0, lat1, 2000)
        inside = geometry.pip_mask(px, py, ring)
        cc = reference_impl.cell_from_lonlat_np(px[inside], py[inside], 4)
        assert set(cc.tolist()) <= cover
