"""Deterministic geo layers: polygon layer, gazetteer, point derivation.

Single source of truth for every constant and formula used by BOTH the Spark
engine and the DuckDB correctness oracle. All derivations are exact int64
arithmetic followed by power-of-two float divisions, so numpy / Spark SQL /
DuckDB produce bit-identical doubles (no trig, no platform-dependent rounding).

This mirrors the reference's discipline of content-derived keys
(``tree_parser/custom_parser.py:45-57``): every id and coordinate is a pure
function of the input row, stable across partitioning, retries and
parallelism level (FIXTURES.md §1-3).
"""

from __future__ import annotations

import numpy as np

GRID_RES = 10          # derivation grid: points sit at res-10 cell centers
GRID_N = 1 << GRID_RES # 1024

N_GAZ = 1000  # gazetteer size


# ---------------------------------------------------------------------------
# point derivation (exact integer LCGs)
# ---------------------------------------------------------------------------

# doc points: plain LCG grid coords, except that every 5th doc sits in one
# of 3 hot cells, (100, 200), (500, 511) and (900, 300), by doc_id % 3: ~20%
# of docs in 3 cells (FIXTURES.md §1 "skew tier"; the analogue of the
# reference's global-name fallback join hot keys, SDFG_c.py:1344-1358)
DOC_GX_SQL = (
    "CASE WHEN doc_id % 5 = 0 THEN CASE doc_id % 3 WHEN 0 THEN 100 WHEN 1 THEN 500 ELSE 900 END "
    "ELSE (doc_id * 48271) % 1024 END"
)
DOC_GY_SQL = (
    "CASE WHEN doc_id % 5 = 0 THEN CASE doc_id % 3 WHEN 0 THEN 200 WHEN 1 THEN 511 ELSE 300 END "
    "ELSE (doc_id * 16807 + 12345) % 1024 END"
)


GAZ_GX_SQL = "(({i}) * 37 + 11) % 1024"
GAZ_GY_SQL = "(({i}) * 73 + 29) % 1024"


LON_SQL = "(-180.0 + 360.0 * (({gx}) + 0.5) / 1024)"
LAT_SQL = "(-90.0 + 180.0 * (({gy}) + 0.5) / 1024)"


# gazetteer mention embedding: doc gets 1 + doc_id%3 mentions;
# mention j references gazetteer entry (doc_id*7 + j*131) % N_GAZ
MENTION_IDX_SQL = "((doc_id * 7 + ({j}) * 131) % 1000)"


# ---------------------------------------------------------------------------
# polygon layer (admin_level 0 ⊃ 1 ⊃ 2 nesting mirrors longest_scope_match,
# reference c_parser.py:134-140)
# ---------------------------------------------------------------------------

def _rect(lon0, lat0, lon1, lat1):
    return [(lon0, lat0), (lon1, lat0), (lon1, lat1), (lon0, lat1)]


POLYGONS: list[dict] = [
    # nested trio: country ⊃ region ⊃ city
    {"polygon_id": 1, "admin_level": 0, "ring": _rect(-60.3, -30.2, 60.1, 40.4)},
    {"polygon_id": 2, "admin_level": 1, "ring": _rect(-10.2, 0.3, 30.1, 25.7)},
    {"polygon_id": 3, "admin_level": 2, "ring": _rect(5.1, 10.2, 15.3, 20.1)},
    # triangle
    {"polygon_id": 4, "admin_level": 0,
     "ring": [(-150.3, -50.2), (-100.1, -45.6), (-120.7, -10.3)]},
    # concave L-shape
    {"polygon_id": 5, "admin_level": 0,
     "ring": [(70.1, -40.2), (110.3, -40.2), (110.3, -10.1), (95.2, -10.1),
              (95.2, -25.3), (70.1, -25.3)]},
    # high-latitude rect
    {"polygon_id": 6, "admin_level": 0, "ring": _rect(130.2, 50.1, 170.4, 75.3)},
    # near the (-180,-90) corner
    {"polygon_id": 7, "admin_level": 0, "ring": _rect(-179.5, -89.5, -170.1, -80.2)},
    # diamond (non-axis-aligned edges)
    {"polygon_id": 8, "admin_level": 0,
     "ring": [(40.2, 60.1), (55.3, 50.2), (40.2, 40.3), (25.1, 50.2)]},
    # covers hot cell (500,511) ≈ lon ~ -4.1..+4.1, lat ~ -0.2..+0.6 region
    {"polygon_id": 9, "admin_level": 1, "ring": _rect(-6.7, -2.3, 6.9, 3.1)},
]


def polygon_edges() -> list[tuple[int, float, float, float, float]]:
    """Flat (polygon_id, x1, y1, x2, y2) edge list (ring closure included)."""
    rows = []
    for p in POLYGONS:
        ring = p["ring"]
        for k in range(len(ring)):
            x1, y1 = ring[k]
            x2, y2 = ring[(k + 1) % len(ring)]
            rows.append((p["polygon_id"], float(x1), float(y1), float(x2), float(y2)))
    return rows


def polygon_edges_sql_values() -> str:
    """`(VALUES ...) AS e(polygon_id, x1, y1, x2, y2)` body for oracles."""
    rows = ", ".join(
        f"({pid}, {x1!r}, {y1!r}, {x2!r}, {y2!r})"
        for pid, x1, y1, x2, y2 in polygon_edges()
    )
    return f"(VALUES {rows})"


def polygon_admin_sql_values() -> str:
    rows = ", ".join(f"({p['polygon_id']}, {p['admin_level']})" for p in POLYGONS)
    return f"(VALUES {rows})"


# ---------------------------------------------------------------------------
# overlay layers: integer-grid rectangles (GIS polygon-overlay exact case)
# ---------------------------------------------------------------------------
# Zones: a fixed dim of N_ZONES half-open rects [x0,x1)×[y0,y1) in res-10
# grid cells — the "admin/zoning layer" an overlay joins page footprints
# against. Parcels are per-doc rects (PARCEL_*_SQL below), so the overlay's
# big side scales with the corpus while the zone dim stays broadcastable.

N_ZONES = 40


def zone_rects() -> list[tuple[int, int, int, int, int]]:
    """(zone_id, x0, y0, x1, y1) — deterministic LCG placement, widths
    32..127 cells, fully inside the res-10 grid."""
    rows = []
    for z in range(N_ZONES):
        x0 = (z * 48271 + 17) % (GRID_N - 128)
        y0 = (z * 16807 + 101) % (GRID_N - 128)
        w = 32 + (z * 69621) % 96
        h = 32 + (z * 37 + 5) % 96
        rows.append((z, x0, y0, x0 + w, y0 + h))
    return rows


def zone_rects_sql_values() -> str:
    """`(VALUES ...) AS z(zone_id, zx0, zy0, zx1, zy1)` body for oracles."""
    rows = ", ".join(f"({z}, {x0}, {y0}, {x1}, {y1})" for z, x0, y0, x1, y1 in zone_rects())
    return f"(VALUES {rows})"


# per-doc parcel rect: anchored at the doc's point, half-open, width/height
# 4..35 cells, clamped to the grid edge (all exact integer arithmetic)
PARCEL_W_SQL = "(4 + (doc_id * 69621) % 32)"
PARCEL_H_SQL = "(4 + (doc_id * 37 + 5) % 32)"


# ---------------------------------------------------------------------------
# event points (trajectories): plain LCG grid coords, no hot-cell skew
# ---------------------------------------------------------------------------
EVT_GX_SQL = "(event_id * 48271 + 7) % 1024"
EVT_GY_SQL = "(event_id * 16807 + 12345) % 1024"


def evt_grid_xy_np(event_id: np.ndarray):
    """numpy twin of EVT_GX_SQL/EVT_GY_SQL (exact int64)."""
    event_id = np.asarray(event_id, dtype=np.int64)
    return (event_id * 48271 + 7) % GRID_N, (event_id * 16807 + 12345) % GRID_N


# ---------------------------------------------------------------------------
# transit-line layer: long integer segments connecting gazetteer landmarks
# (the B-side dim of the segment-crossing join — "which trajectory hops
# cross which transit lines"). Deterministic, SQL-twinned like everything
# above; line j runs gaz(3j+1) -> gaz((17j+3) % N_GAZ), never degenerate
# for j < 200 (37/73 are odd, so distinct gaz indices never collide on
# BOTH grid axes).
# ---------------------------------------------------------------------------

N_LINES = 200

LINE_X0_SQL = "(((({j}) * 3 + 1) * 37 + 11) % 1024)"
LINE_Y0_SQL = "(((({j}) * 3 + 1) * 73 + 29) % 1024)"
LINE_X1_SQL = "((((({j}) * 17 + 3) % 1000) * 37 + 11) % 1024)"
LINE_Y1_SQL = "((((({j}) * 17 + 3) % 1000) * 73 + 29) % 1024)"


# ---------------------------------------------------------------------------
# query-rectangle layer for the pyramid range-count: K axis-aligned rects
# with naturally varied extents (each bound is the min/max of two
# independent hash points, so sizes range from near-pixel to near-grid).
# Inclusive integer bounds; SQL + numpy twins like every layer above.
# ---------------------------------------------------------------------------

N_QRECTS = 64

QRECT_XA_SQL = "((({j}) * 557 + 31) % 1024)"
QRECT_XB_SQL = "((({j}) * 271 + 7) % 1024)"
QRECT_YA_SQL = "((({j}) * 769 + 83) % 1024)"
QRECT_YB_SQL = "((({j}) * 389 + 201) % 1024)"


def qrect_bounds(j: int) -> tuple[int, int, int, int]:
    """Python twin of the QRECT_*_SQL formulas: (x0, y0, x1, y1) inclusive."""
    xa, xb = (j * 557 + 31) % 1024, (j * 271 + 7) % 1024
    ya, yb = (j * 769 + 83) % 1024, (j * 389 + 201) % 1024
    return min(xa, xb), min(ya, yb), max(xa, xb), max(ya, yb)
