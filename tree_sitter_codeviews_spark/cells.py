"""Hierarchical cell index (Morton/Z-order quadkey over lon/lat).

Stands in for H3/S2 (neither library ships in this container). Keeps the two
properties the engine needs, the same properties the reference gets from its
scope stacks (SURVEY.md §1.1.4; reference ``tree_parser/c_parser.py:127-140``):

1. **Hierarchical containment by prefix**: the res-(r-1) parent of a res-r
   cell is ``cell_id >> 2`` — pure integer truncation, the analogue of
   scope-path prefix-subset (``scope_check``). No array ops, no joins.
2. **Spatial locality**: Morton interleaving means nearby cells share high
   bits, so ``repartitionByRange(cell_id)`` clusters space (Z-order layout).

Grid: at resolution r the world (lon in [-180,180), lat in [-90,90)) is a
2^r x 2^r grid. ``x`` indexes lon (low interleaved bits), ``y`` indexes lat.
``cell_id`` at res r is the 2r-bit Morton code of (x, y); res is carried in a
separate column (like H3's resolution nibble, kept separate for cheap SQL).

Two implementations, bit-for-bit identical:
- numpy (vectorized, the reference the tests pin the SQL to),
- SQL text run by Spark (via ``F.expr``, JVM-side and whole-stage-codegen'd
  — the hot path) and by the DuckDB correctness oracle.
A few Column helpers (parent truncation, cell centers) cover the rest.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import Column
from pyspark.sql import functions as F


# ---------------------------------------------------------------------------
# numpy reference implementation
# ---------------------------------------------------------------------------

def morton_np(x: np.ndarray, y: np.ndarray, res: int) -> np.ndarray:
    """Interleave bits: x -> even bit positions, y -> odd."""
    m = np.zeros_like(x, dtype=np.int64)
    for i in range(res):
        m |= ((x >> i) & 1) << (2 * i)
        m |= ((y >> i) & 1) << (2 * i + 1)
    return m


def morton_decode_np(cell: np.ndarray, res: int):
    x = np.zeros_like(cell, dtype=np.int64)
    y = np.zeros_like(cell, dtype=np.int64)
    for i in range(res):
        x |= ((cell >> (2 * i)) & 1) << i
        y |= ((cell >> (2 * i + 1)) & 1) << i
    return x, y


# ---------------------------------------------------------------------------
# Spark Column expressions (JVM-side — the hot path; no Python per row)
# ---------------------------------------------------------------------------

def parent_col(cell: Column, steps: int = 1) -> Column:
    return F.shiftright(cell, 2 * steps)


def lon_center_col(x: Column, res: int) -> Column:
    n = 1 << res
    return F.lit(-180.0) + F.lit(360.0) * (x.cast("double") + F.lit(0.5)) / F.lit(float(n))


def lat_center_col(y: Column, res: int) -> Column:
    n = 1 << res
    return F.lit(-90.0) + F.lit(180.0) * (y.cast("double") + F.lit(0.5)) / F.lit(float(n))


# ---------------------------------------------------------------------------
# SQL text: the Morton encode/decode run identically by Spark (via F.expr)
# and the DuckDB oracle; args are SQL text (a column name or any SQL
# expression). One SQL string is one py4j round trip at F.expr, where the
# same tree built through the Column API costs 2-4 per operator.
# ---------------------------------------------------------------------------

def morton_sql(x_expr: str, y_expr: str, res: int) -> str:
    """SQL expression computing the same Morton code as morton_np."""
    terms = []
    for i in range(res):
        terms.append(f"((({x_expr} >> {i}) & 1) << {2 * i})")
        terms.append(f"((({y_expr} >> {i}) & 1) << {2 * i + 1})")
    return "(" + " | ".join(terms) + ")"


def x_from_cell_sql(cell_expr: str, res: int) -> str:
    terms = [f"((({cell_expr} >> {2 * i}) & 1) << {i})" for i in range(res)]
    return "(" + " | ".join(terms) + ")"


def y_from_cell_sql(cell_expr: str, res: int) -> str:
    terms = [f"((({cell_expr} >> {2 * i + 1}) & 1) << {i})" for i in range(res)]
    return "(" + " | ".join(terms) + ")"


# Spark-side only: the D suffix keeps Spark from parsing the double literals
# as DECIMAL.

def x_sql(lon: str, res: int) -> str:
    n = 1 << res
    return (f"greatest(0, least({n - 1}, "
            f"cast(floor((({lon}) + 180.0D) / 360.0D * {float(n)!r}D) as bigint)))")


def y_sql(lat: str, res: int) -> str:
    n = 1 << res
    return (f"greatest(0, least({n - 1}, "
            f"cast(floor((({lat}) + 90.0D) / 180.0D * {float(n)!r}D) as bigint)))")


def cell_sql(lon: str, lat: str, res: int) -> str:
    """Spark SQL twin of the tests' ``cell_from_lonlat_np`` (clamped grid
    coords, Morton)."""
    return morton_sql(x_sql(lon, res), y_sql(lat, res), res)


# ---------------------------------------------------------------------------
# geohash (Niemeyer base32) — shared by the Spark encode and the DuckDB
# oracle; a geohash is the Morton interleave with lon on the LEADING bit,
# chunked into 5-bit base32 characters.
# ---------------------------------------------------------------------------

GEOHASH_B32 = "0123456789bcdefghjkmnpqrstuvwxyz"


def geohash_char_sql(g_expr: str, k: int, precision: int = 4) -> str:
    """SQL for the k-th base32 char of a (5*precision)-bit interleave —
    identical text under Spark SQL and DuckDB (both substr() 1-based)."""
    shift = 5 * (precision - 1 - k)
    return f"substr('{GEOHASH_B32}', CAST(({g_expr} >> {shift}) % 32 AS INT) + 1, 1)"


def quadtree_decompose(
    x0: int, y0: int, x1: int, y1: int, max_res: int = 10
) -> list[tuple[int, int]]:
    """Exact quadtree decomposition of an inclusive integer rectangle into
    maximal pyramid cells: returns (res, cell_id) pairs — cell_id is the
    SAME Morton id `geo_tile_pyramid` aggregates at that res — whose cells
    are pairwise disjoint and cover the rectangle exactly. O(perimeter)
    cells (each recursion level contributes a ring of at most O(side/s)
    partially-covered cells). Pure-int driver-side helper for DIM-SIZED
    rectangle sets only: the decomposition list is broadcast, never
    computed per corpus row.

    Memoized (pure integer function of its arguments — the recursion is
    ~4k Python calls per rectangle, 0.45 s per geo_range_count plan build
    over its fixed 64-rect query set); a fresh copy is returned so callers
    may mutate."""
    key = (x0, y0, x1, y1, max_res)
    hit = _QUADTREE_MEMO.get(key)
    if hit is not None:
        return list(hit)
    out: list[tuple[int, int]] = []

    def rec(res: int, cx: int, cy: int) -> None:
        s = 1 << (max_res - res)
        lox, hix = cx * s, cx * s + s - 1
        loy, hiy = cy * s, cy * s + s - 1
        if lox > x1 or hix < x0 or loy > y1 or hiy < y0:
            return
        if lox >= x0 and hix <= x1 and loy >= y0 and hiy <= y1:
            # scalar morton (a 1-element-array morton_np call per cell is
            # ~100x slower than this loop over plain ints)
            m = 0
            for i in range(res):
                m |= ((cx >> i) & 1) << (2 * i)
                m |= ((cy >> i) & 1) << (2 * i + 1)
            out.append((res, m))
            return
        for dx in (0, 1):
            for dy in (0, 1):
                rec(res + 1, 2 * cx + dx, 2 * cy + dy)

    rec(0, 0, 0)
    _QUADTREE_MEMO[key] = tuple(out)
    return out


_QUADTREE_MEMO: dict = {}
