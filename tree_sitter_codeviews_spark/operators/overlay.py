"""Rectangle overlay join — the exact (axis-aligned) case of GIS polygon
overlay, shaped for corpus-scale inputs.

Both sides explode to their covering coarse-grid cells (a rect of width w
covers ceil(w/2^shift)+1 ≤ small-constant cells) and equi-join on the cell —
never a cross join. A pair of rects sharing k cover cells would emit k
times; instead of a distinct (an extra shuffle over the full pair set) each
pair is kept ONLY at the canonical cell containing the intersection's
top-left corner ``(max(ax0,bx0), max(ay0,by0))`` — that corner lies in
exactly one cover cell, and both rects cover it, so every intersecting pair
survives exactly once (the classic duplicate-free PBSM reporting rule,
Patel & DeWitt 1996). All arithmetic is exact int64 on half-open
``[x0,x1)×[y0,y1)`` rects, so the DuckDB oracle is the plain quadratic
``greatest/least`` join.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

__all__ = ["rect_overlay"]


def rect_overlay(a: DataFrame, b: DataFrame) -> DataFrame:
    """Overlay of two half-open integer rect tables.

    ``a``: (a_id, ax0, ay0, ax1, ay1); ``b``: (b_id, bx0, by0, bx1, by1).
    Returns (a_id, b_id, ix0, iy0, ix1, iy1, area) for every intersecting
    pair, each exactly once. Cover cells are 2^6 grid cells (``shift``),
    near the median rect size, so the per-rect cover stays O(1) and no
    cell becomes a hot key.
    """
    shift = 6
    # cover cells via arithmetic shift, not float floor-division: >> by a
    # power of two IS floor division on int64 (negatives included) and never
    # round-trips through double, so coordinates beyond 2^53 keep the exact-
    # int64 discipline the module contract (and the quadratic oracle) assume
    def _cell(col):
        return F.shiftright(F.col(col) if isinstance(col, str) else col, shift)

    ac = (
        a.withColumn("ccx", F.explode(F.sequence(_cell("ax0"), _cell(F.col("ax1") - 1))))
        .withColumn("ccy", F.explode(F.sequence(_cell("ay0"), _cell(F.col("ay1") - 1))))
    )
    bc = (
        b.withColumn("ccx", F.explode(F.sequence(_cell("bx0"), _cell(F.col("bx1") - 1))))
        .withColumn("ccy", F.explode(F.sequence(_cell("by0"), _cell(F.col("by1") - 1))))
    )
    ix0 = F.greatest("ax0", "bx0")
    iy0 = F.greatest("ay0", "by0")
    ix1 = F.least("ax1", "bx1")
    iy1 = F.least("ay1", "by1")
    return (
        ac.join(bc, ["ccx", "ccy"])
        .withColumns({"ix0": ix0, "iy0": iy0, "ix1": ix1, "iy1": iy1})
        .filter(
            (F.col("ix1") > F.col("ix0")) & (F.col("iy1") > F.col("iy0"))
            # duplicate-free reporting: keep the pair only at the cover cell
            # holding the intersection's top-left corner
            & (F.col("ccx") == _cell("ix0"))
            & (F.col("ccy") == _cell("iy0"))
        )
        .withColumn("area", (F.col("ix1") - F.col("ix0")) * (F.col("iy1") - F.col("iy0")))
        .select("a_id", "b_id", "ix0", "iy0", "ix1", "iy1", "area")
    )
