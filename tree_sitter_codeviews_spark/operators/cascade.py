"""Cascading priority fallback join.

The reference resolves call sites against function definitions with a
priority cascade — exact signature match, then variadic match, then a fuzzy
name-only fallback, first hit wins (``codeviews/CFG/CFG_c.py:484-530``,
the coalesce at ``:498-513``). The same shape shows up in any entity
resolution pipeline (exact surface → normalized → fuzzy → default).

Engine form: a sequence of priority-ordered LEFT joins against (small) dim
tables, resolved with ``coalesce`` — every dim is broadcast, so the big side
never shuffles and the whole cascade is one map-side stage regardless of how
many fallback levels exist. A ``via`` provenance column records which level
matched (the reference's edge-annotation equivalent).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def cascade_join(
    big: DataFrame,
    levels: list[tuple[str, DataFrame, Column | str, str]],
    out_col: str = "resolved",
    default: Column | None = None,
) -> DataFrame:
    """Resolve ``big`` against priority-ordered fallback dims.

    levels: [(label, dim, join_cond_or_key, dim_value_col), ...] in priority
    order. Each dim is LEFT-broadcast-joined; the first level whose value is
    non-null wins. ``join_cond_or_key`` is either a column name (equi-join)
    or a boolean Column over big/dim columns. Dim value columns must be
    uniquely named (they are projected to ``_cascade_<label>``).

    Result: big columns + ``out_col`` (first non-null value, else
    ``default``) + ``via`` (the winning level's label, else 'none').
    """
    joined = big
    val_cols: list[tuple[str, str]] = []
    for label, dim, cond, value_col in levels:
        tmp = f"_cascade_{label}"
        joined = joined.join(
            F.broadcast(dim.withColumnRenamed(value_col, tmp)),
            cond,
            "left",
        )
        val_cols.append((label, tmp))
    out = F.coalesce(
        *[F.col(c) for _, c in val_cols],
        default if default is not None else F.lit(None),
    )
    via = F.lit("none")
    for label, c in reversed(val_cols):
        via = F.when(F.col(c).isNotNull(), F.lit(label)).otherwise(via)
    return joined.withColumn(out_col, out).withColumn("via", via).drop(
        *[c for _, c in val_cols]
    )


def priority_match_join(
    big: DataFrame,
    keys: list[str],
    levels: list[tuple[str, DataFrame, Column, Column]],
    out_col: str = "matched",
    default: Column | None = None,
) -> DataFrame:
    """First-match-wins join where each level may yield MANY candidates.

    The shape ``cascade_join`` cannot express: the reference's template-
    specialization resolution (exact specialization > partial/pattern >
    primary template, ``codeviews/CFG/CFG_cpp.py:136-349``) and its
    first-compatible-catch exception matching (``CFG_cpp.py:583-714,
    4113-4141``) both join against dims where a single probe row can match
    several dim rows per level (several patterns apply; several catch
    clauses are compatible). A LEFT-join cascade would fan the probe row
    out; the correct semantics is a *priority window*: collect candidates
    from every level, rank by (level priority, within-level order), keep
    rank 1.

    levels: [(label, dim, join_cond, order_col)] in priority order; the dim
    value to return must be named ``out_col`` in each dim. ``order_col``
    breaks ties WITHIN a level (e.g. min template_id, min catch priority).
    Every dim is broadcast (small registries by contract), so candidate
    generation is map-side on the big table; the only shuffle is the
    rank-1 window on ``keys`` — and its partition key is the probe row id,
    so it is skew-free by construction.

    Result: every ``big`` row, with ``out_col`` (winning value, else
    ``default``) + ``via`` (winning level's label, else 'none').
    """
    from pyspark.sql import Window

    # out_col must come from the DIM side; if big also carried it, F.col
    # would be ambiguous (or silently bind to the wrong side). Resolve via
    # the dim handle and reject the collision outright.
    if out_col in big.columns:
        raise ValueError(
            f"priority_match_join: probe table already has a column named "
            f"{out_col!r}; rename it (the dim value column owns that name)"
        )
    legs = []
    for rank, (label, dim, cond, order_col) in enumerate(levels):
        if out_col not in dim.columns:
            raise ValueError(
                f"priority_match_join: level {label!r} dim lacks the value "
                f"column {out_col!r}"
            )
        legs.append(
            big.join(F.broadcast(dim), cond, "inner").select(
                *[big[k] for k in keys],
                F.lit(rank).alias("_lvl"),
                F.lit(label).alias("_via"),
                order_col.alias("_ord"),
                dim[out_col].alias("_val"),
            )
        )
    cand = legs[0]
    for leg in legs[1:]:
        cand = cand.unionByName(leg)
    w = Window.partitionBy(*keys).orderBy(
        F.col("_lvl").asc(), F.col("_ord").asc(), F.col("_val").asc()
    )
    best = (
        cand.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .select(*keys, F.col("_val"), F.col("_via"))
    )
    out = big.join(best, keys, "left")
    fallback = default if default is not None else F.lit(None)
    return (
        out.withColumn(out_col, F.coalesce(F.col("_val"), fallback))
        .withColumn("via", F.coalesce(F.col("_via"), F.lit("none")))
        .drop("_val", "_via")
    )
