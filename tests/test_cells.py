from __future__ import annotations

import duckdb
import numpy as np
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from tree_sitter_codeviews_spark import cells
from tests import reference_impl


def test_morton_roundtrip():
    rng = np.random.RandomState(7)
    for res in (1, 5, 10, 15):
        n = 1 << res
        x = rng.randint(0, n, 1000).astype(np.int64)
        y = rng.randint(0, n, 1000).astype(np.int64)
        m = cells.morton_np(x, y, res)
        x2, y2 = cells.morton_decode_np(m, res)
        assert (x == x2).all() and (y == y2).all()
        assert m.max() < (1 << (2 * res))


def test_parent_is_truncation():
    # the keystone property: parent = bit shift (H3/S2 prefix analogue)
    rng = np.random.RandomState(3)
    lon = rng.uniform(-180, 180, 500)
    lat = rng.uniform(-90, 90, 500)
    c10 = reference_impl.cell_from_lonlat_np(lon, lat, 10)
    c7 = reference_impl.cell_from_lonlat_np(lon, lat, 7)
    assert (reference_impl.parent_np(c10, 3) == c7).all()


def test_children_inverse_of_parent():
    kids = reference_impl.children_np(37, 5, 7)
    assert len(kids) == 16
    assert (reference_impl.parent_np(kids, 2) == 37).all()


@settings(max_examples=200, deadline=None)
@given(
    st.floats(min_value=-180, max_value=179.999999),
    st.floats(min_value=-90, max_value=89.999999),
)
def test_center_reencodes_to_same_cell(lon, lat):
    for res in (4, 9):
        c = reference_impl.cell_from_lonlat_np(np.array([lon]), np.array([lat]), res)
        clon, clat = reference_impl.cell_center_lonlat(c, res)
        c2 = reference_impl.cell_from_lonlat_np(clon, clat, res)
        assert c[0] == c2[0]


def test_ring_cells():
    # interior point: ring t has 8t cells, all valid
    x = np.array([100], dtype=np.int64)
    y = np.array([200], dtype=np.int64)
    r0 = reference_impl.ring_cells_np(x, y, 10, 0)
    assert r0.shape == (1, 1) and r0[0, 0] == cells.morton_np(x, y, 10)[0]
    r2 = reference_impl.ring_cells_np(x, y, 10, 2)
    assert r2.shape == (1, 16)
    assert (r2 >= 0).all()
    # all ring-2 cells decode to Chebyshev distance exactly 2
    xs, ys = cells.morton_decode_np(r2[0], 10)
    cheb = np.maximum(np.abs(xs - 100), np.abs(ys - 200))
    assert (cheb == 2).all()
    # corner point: off-grid cells marked -1
    rc = reference_impl.ring_cells_np(np.array([0]), np.array([0]), 10, 1)
    assert (rc == -1).sum() == 5


def test_compact_cells():
    # all 4 children of cell 12 at res 6 -> compacts to (5, 12)
    kids = reference_impl.children_np(12, 5, 6)
    out = reference_impl.compact_cells_np(kids, 6)
    assert out == [(5, 12)]
    # partial sibling set stays at res 6
    out2 = reference_impl.compact_cells_np(kids[:3], 6)
    assert sorted(out2) == sorted((6, int(k)) for k in kids[:3])


def test_spark_matches_numpy(spark):
    """cell_sql, the encoder pip_join runs, equals cell_from_lonlat_np."""
    rng = np.random.RandomState(11)
    lon = rng.uniform(-180, 180, 2000)
    lat = rng.uniform(-90, 90, 2000)
    pdf = spark.createDataFrame(
        [(float(a), float(b)) for a, b in zip(lon, lat)], "lon double, lat double"
    )
    for res in (4, 10):
        got = np.array(
            pdf.select(F.expr(cells.cell_sql("lon", "lat", res)).alias("c"))
            .toPandas()["c"]
        )
        want = reference_impl.cell_from_lonlat_np(lon, lat, res)
        assert (got == want).all()


def test_sql_matches_numpy():
    rng = np.random.RandomState(13)
    res = 10
    n = 1 << res
    x = rng.randint(0, n, 3000).astype(np.int64)
    y = rng.randint(0, n, 3000).astype(np.int64)
    want = cells.morton_np(x, y, res)
    import pandas as pd

    con = duckdb.connect()
    con.register("xy", pd.DataFrame({"x": x, "y": y}))
    got = con.execute(
        f"SELECT {cells.morton_sql('x', 'y', res)} AS m FROM xy"
    ).fetchnumpy()["m"]
    assert (got.astype(np.int64) == want).all()


def test_quadtree_decompose_is_exact_partition():
    """Every pixel of the rectangle lies in EXACTLY one decomposition
    cell and no cell sticks out (checked exhaustively on a res-6 grid)."""
    import numpy as np
    from tree_sitter_codeviews_spark import cells

    rng = np.random.RandomState(13)
    for _ in range(25):
        x0, x1 = sorted(rng.randint(0, 64, 2).tolist())
        y0, y1 = sorted(rng.randint(0, 64, 2).tolist())
        cover = np.zeros((64, 64), dtype=np.int64)
        for res, cell in cells.quadtree_decompose(x0, y0, x1, y1, max_res=6):
            s = 1 << (6 - res)
            cx, cy = cells.morton_decode_np(np.array([cell]), res)
            cover[cx[0] * s:(cx[0] + 1) * s, cy[0] * s:(cy[0] + 1) * s] += 1
        want = np.zeros((64, 64), dtype=np.int64)
        want[x0:x1 + 1, y0:y1 + 1] = 1
        assert (cover == want).all(), (x0, y0, x1, y1)


def test_quadtree_decompose_output_sensitive():
    """Full-grid rect is ONE root cell; a single pixel is one res-max
    cell; cell count stays O(perimeter * levels)."""
    from tree_sitter_codeviews_spark import cells

    assert cells.quadtree_decompose(0, 0, 1023, 1023) == [(0, 0)]
    assert cells.quadtree_decompose(5, 7, 5, 7) == cells.quadtree_decompose(5, 7, 5, 7)
    assert len(cells.quadtree_decompose(5, 7, 5, 7)) == 1
    n = len(cells.quadtree_decompose(1, 1, 1022, 1022))
    assert n <= 4 * (1022 * 2 + 1022 * 2)  # well under 4*perimeter
