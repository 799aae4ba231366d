"""S2-style Hilbert-curve cell index (levels 12-16).

S2's cell ids are positions along a Hilbert space-filling curve; this module
implements the same construction over the engine's lon/lat grid (one face —
polygons here never span the antimeridian, FIXTURES.md §3). It is the second
index family next to the Morton quadkey in ``cells.py`` (the H3 stand-in),
mirroring the north rule's dual H3-res-7-10 / S2-level-12-16 encode.

Like the reference's scope stacks (``tree_parser/c_parser.py:127-140``), the
index is hierarchical-by-prefix: the level-(l-1) parent of a level-l cell is
``cell >> 2`` (the Hilbert curve is self-similar, so truncation == parent).
Unlike Morton, consecutive Hilbert ids are always spatially adjacent, which
is why it is also the engine's z-order *repartitioning* key
(``zorder_repartition``): ``repartitionByRange(hilbert)`` gives contiguous
spatial tiles per partition with no long-range jumps.

Two bit-identical implementations here (same discipline as ``cells.py``):
a JVM column expression (``with_hilbert_col``, the hot path) and a DuckDB
SQL generator (an unrolled per-level CTE chain) for the correctness
oracle. The numpy twins the tests pin both against (``hilbert_np``, the
loop, and ``hilbert_fast_np``, the branchless rounds) live in
``tests/reference_impl.py``.

Algorithm: the standard iterative xy->d Hilbert transform (public domain,
en.wikipedia.org/wiki/Hilbert_curve#Applications_and_mapping_algorithms),
MSB-first digit accumulation with quadrant rotation.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

S2_RES = 16           # finest level computed; coarser levels by truncation
S2_LEVELS = (12, 13, 14, 15, 16)


# ---------------------------------------------------------------------------
# JVM column expressions
# ---------------------------------------------------------------------------

_M = 16          # internal coordinate width of the branchless transform
_FULL = 0xFFFF


def with_hilbert_col(
    df,
    x_col: str,
    y_col: str,
    res: int = S2_RES,
    out: str = "hilbert",
):
    """JVM-side Hilbert encode: the branchless bit-parallel rounds (the
    ``hilbert_fast_np`` port of the public-domain ``HilbertXYToIndex``,
    github.com/rawrunprotected/hilbert_curves) as chained projections (one ``withColumns`` per round, so every alias is
    a named column — Catalyst keeps multi-referenced non-cheap aliases
    materialized instead of inlining, bounding the expression tree).

    Zero Python per row; whole-stage codegen end to end: no Python worker
    per core (oversubscription in local mode) and no Arrow serialization on
    a cluster; this is pure columnar JVM work.

    Expressions assemble as SQL text (one F.expr per staged column — the
    per-operator Column-builder version measured ~2,800 py4j round trips =
    ~0.65 s of driver time per plan build); identical operator trees, same
    named-column staging."""
    full = str(_FULL)
    E = F.expr

    df = df.withColumns({
        "_hx": E(f"shiftleft(cast({x_col} as bigint), {_M - res}) & {full}"),
        "_hy": E(f"shiftleft(cast({y_col} as bigint), {_M - res}) & {full}"),
    })
    df = df.withColumns({
        "_a": E("_hx ^ _hy"),
        "_d": E(f"_hx & (_hy ^ {full})"),
    })
    df = df.withColumns({
        "_b": E(f"{full} ^ _a"),
        "_c": E(f"{full} ^ (_hx | _hy)"),
    })
    df = df.withColumns({
        "_A": E("_a | shiftright(_b, 1)"),
        "_B": E("shiftright(_a, 1) ^ _a"),
        "_C": E("(shiftright(_c, 1) ^ (_b & shiftright(_d, 1))) ^ _c"),
        "_D": E("((_a & shiftright(_c, 1)) ^ shiftright(_d, 1)) ^ _d"),
    })
    for sh in (2, 4):
        df = df.withColumn("_ab", E("_A ^ _B"))
        df = df.withColumns({
            "_A2": E(f"(_A & shiftright(_A, {sh})) ^ (_B & shiftright(_B, {sh}))"),
            "_B2": E(f"(_A & shiftright(_B, {sh})) ^ (_B & shiftright(_ab, {sh}))"),
            "_C2": E(f"_C ^ ((_A & shiftright(_C, {sh})) ^ (_B & shiftright(_D, {sh})))"),
            "_D2": E(f"_D ^ ((_B & shiftright(_C, {sh})) ^ (_ab & shiftright(_D, {sh})))"),
        })
        df = (
            df.drop("_A", "_B", "_C", "_D", "_ab")
            .withColumnRenamed("_A2", "_A").withColumnRenamed("_B2", "_B")
            .withColumnRenamed("_C2", "_C").withColumnRenamed("_D2", "_D")
        )
    df = df.withColumn("_ab", E("_A ^ _B"))
    df = df.withColumns({
        "_C3": E("_C ^ ((_A & shiftright(_C, 8)) ^ (_B & shiftright(_D, 8)))"),
        "_D3": E("_D ^ ((_B & shiftright(_C, 8)) ^ (_ab & shiftright(_D, 8)))"),
    })
    df = df.withColumns({
        "_sa": E("_C3 ^ shiftright(_C3, 1)"),
        "_sb": E("_D3 ^ shiftright(_D3, 1)"),
        "_i0": E("_hx ^ _hy"),
    })
    df = df.withColumn("_i1", E(f"_sb | ({full} ^ (_i0 | _sa))"))

    def spread_col(df, src, dst):
        masks = [(8, 0x00FF00FF), (4, 0x0F0F0F0F), (2, 0x33333333), (1, 0x55555555)]
        cur = src
        for k, m in masks:
            df = df.withColumn(dst, E(f"({cur} | shiftleft({cur}, {k})) & {m}"))
            cur = dst
        return df

    df = spread_col(df, "_i1", "_s1")
    df = spread_col(df, "_i0", "_s0")
    df = df.withColumn(
        out, E(f"shiftright(shiftleft(_s1, 1) | _s0, {2 * (_M - res)})")
    )
    return df.drop(
        "_hx", "_hy", "_a", "_b", "_c", "_d", "_A", "_B", "_C", "_D",
        "_ab", "_C3", "_D3", "_sa", "_sb", "_i0", "_i1", "_s0", "_s1",
    )


def hilbert_at_level_col(h_finest: Column, level: int) -> Column:
    return F.shiftright(h_finest, 2 * (S2_RES - level))


def hilbert_coarse_col(x: Column, y: Column, res: int) -> Column:
    """Hilbert index of (x, y) on the tiny 2^res x 2^res grid as ONE bounded
    column expression — the *route-key* encode.

    Use this (not ``with_hilbert_col``) wherever the Hilbert value feeds a
    **filter or join condition**: Catalyst's predicate pushdown substitutes
    alias chains into the condition wholesale, and the branchless level-16
    chain has multi-referenced aliases at ~10 depths, so substitution
    duplicates subtrees multiplicatively — measured ~4 min of pure optimizer/
    codegen time per query (data-independent) before this existed. The
    iterative xy->d transform here has fan-out ~4 per level, fine for
    res <= 4 (the routing use case: 4^res chunks), and by Hilbert
    self-similarity equals ``with_hilbert_col`` at level 16 truncated to
    ``res`` — asserted in tests/test_s2.py."""
    if res > 4:
        raise ValueError("hilbert_coarse_col is for coarse route keys (res <= 4)")
    n = 1 << res
    x = x.cast("long")
    y = y.cast("long")
    d = F.lit(0).cast("long")
    for i in range(res - 1, -1, -1):
        s = 1 << i
        rx = F.when(x.bitwiseAND(F.lit(s)) > 0, F.lit(1).cast("long")).otherwise(F.lit(0).cast("long"))
        ry = F.when(y.bitwiseAND(F.lit(s)) > 0, F.lit(1).cast("long")).otherwise(F.lit(0).cast("long"))
        d = d + F.lit(s * s).cast("long") * (F.lit(3).cast("long") * rx).bitwiseXOR(ry)
        flip = ry.eqNullSafe(F.lit(0)) & rx.eqNullSafe(F.lit(1))
        xf = F.when(flip, F.lit(n - 1) - x).otherwise(x)
        yf = F.when(flip, F.lit(n - 1) - y).otherwise(y)
        swap = ry.eqNullSafe(F.lit(0))
        x, y = F.when(swap, yf).otherwise(xf), F.when(swap, xf).otherwise(yf)
    return d


def upscale_grid_col(g: Column, from_res: int, to_res: int) -> Column:
    """Grid coord of the *center* of a from_res cell on the to_res grid —
    exact int arithmetic (matches the SQL oracle bit-for-bit)."""
    k = to_res - from_res
    return F.shiftleft(g, k) + F.lit(1 << (k - 1)) if k > 0 else g


def zorder_repartition(
    df: DataFrame,
    grid_res: int = 10,
    num_partitions: int | None = None,
    keep_key: bool = False,
) -> DataFrame:
    """Hilbert (z-order) range repartitioning of a points/pages table by
    its (gx, gy) grid coordinates at ``grid_res``.

    The north rule's layout step: after this, each partition covers a
    contiguous stretch of the Hilbert curve — a compact spatial tile.
    The key is computed by the branchless JVM transform (no Python).
    """
    keyed = df.withColumns({
        "_zx": upscale_grid_col(F.col("gx"), grid_res, S2_RES),
        "_zy": upscale_grid_col(F.col("gy"), grid_res, S2_RES),
    })
    keyed = with_hilbert_col(keyed, "_zx", "_zy", S2_RES, out="_hilbert").drop("_zx", "_zy")
    out = (
        keyed.repartitionByRange(num_partitions, "_hilbert")
        if num_partitions
        else keyed.repartitionByRange("_hilbert")
    )
    return out if keep_key else out.drop("_hilbert")


# ---------------------------------------------------------------------------
# DuckDB oracle SQL: unrolled per-level CTE chain
# ---------------------------------------------------------------------------

def hilbert_cte_chain_sql(
    src_cte: str,
    key_cols: str,
    x_expr: str,
    y_expr: str,
    res: int,
) -> str:
    """CTE chain computing the same Hilbert index as ``with_hilbert_col``,
    by the iterative transform (the tests' ``hilbert_np``).

    ``src_cte`` must expose ``key_cols`` plus expressions ``x_expr``/``y_expr``
    (grid coords at ``res``). The final CTE ``hfin`` has (key_cols, d).
    One CTE per level keeps every expression bounded (no exponential
    expression-tree blowup — the reason the Spark side uses the numpy UDF).
    """
    n = 1 << res
    parts = [
        f"h{res} AS (SELECT {key_cols}, CAST({x_expr} AS BIGINT) AS x, "
        f"CAST({y_expr} AS BIGINT) AS y, CAST(0 AS BIGINT) AS d FROM {src_cte})"
    ]
    prev = f"h{res}"
    for i in range(res - 1, -1, -1):
        s = 1 << i
        rx = f"(CASE WHEN (x & {s}) > 0 THEN 1 ELSE 0 END)"
        ry = f"(CASE WHEN (y & {s}) > 0 THEN 1 ELSE 0 END)"
        term = f"CAST({s} AS BIGINT) * {s} * xor(3 * {rx}, {ry})"
        flip = f"({ry} = 0 AND {rx} = 1)"
        xf = f"(CASE WHEN {flip} THEN {n - 1} - x ELSE x END)"
        yf = f"(CASE WHEN {flip} THEN {n - 1} - y ELSE y END)"
        newx = f"(CASE WHEN {ry} = 0 THEN {yf} ELSE x END)"
        newy = f"(CASE WHEN {ry} = 0 THEN {xf} ELSE y END)"
        name = f"h{i}" if i > 0 else "hfin"
        parts.append(
            f"{name} AS (SELECT {key_cols}, {newx} AS x, {newy} AS y, "
            f"d + {term} AS d FROM {prev})"
        )
        prev = name
    return ",\n".join(parts)
