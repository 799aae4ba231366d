"""Relational coverage over the TPC-H-ish tables: aggregation, multi-join,
windows, rollup, anti-join, as-of join. These exercise the operator
categories from SURVEY.md §2.4-2.7 and double as bench headliners.

Float aggregates are rounded identically on both engine and oracle sides
(sum->2dp, avg/ratio->6dp) — summation order across engines differs in the
last ULP; rounding far above that noise floor makes value hashes stable.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..sources.pages import event_points_df
from ..sources.testdata import load_table


def q1_pricing(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    disc = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        li.filter(F.col("l_shipdate") <= F.lit("1998-09-02"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
            F.round(F.sum("l_extendedprice"), 2).alias("sum_base_price"),
            F.round(F.sum(disc), 2).alias("sum_disc_price"),
            F.round(F.avg("l_quantity"), 6).alias("avg_qty"),
            F.round(F.avg("l_discount"), 6).alias("avg_disc"),
            F.count("*").alias("count_order"),
        )
    )


def q3_top_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load_table(spark, sf_dir, "customer").filter(F.col("c_mktsegment") == "BUILDING")
    orders = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    rev = F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2)
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
        .groupBy("o_orderkey", "o_orderdate", "o_orderpriority")
        .agg(rev.alias("revenue"))
        .orderBy(F.col("revenue").desc(), F.col("o_orderkey").asc())
        .limit(10)
    )


def q5_region_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    region = load_table(spark, sf_dir, "region")
    nation = load_table(spark, sf_dir, "nation")
    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    dims = nation.join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
    rev = F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2)
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .join(F.broadcast(dims), cust.c_nationkey == dims.n_nationkey)
        .groupBy("r_name", "n_name")
        .agg(rev.alias("revenue"), F.count("*").alias("n_items"))
    )


def events_running(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user running value sum + event ordinal (window frame demo)."""
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    return ev.select(
        "event_id", "user_id",
        F.row_number().over(w).alias("rn"),
        F.round(F.sum("value").over(w.rowsBetween(Window.unboundedPreceding, 0)), 6)
        .alias("running_value"),
    )


def events_asof(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join: for each click, the latest purchase by the same user at
    ts <= click ts. Union-tag + running last_value (ignorenulls) — one
    shuffle on user_id, no range-join explosion; the standard scalable
    as-of shape."""
    ev = load_table(spark, sf_dir, "events")
    clicks = ev.filter(F.col("event_type") == "click").select(
        "event_id", "user_id", "ts", F.lit(1).alias("is_click"),
        F.lit(None).cast("timestamp").alias("pts"),
    )
    purch = ev.filter(F.col("event_type") == "purchase").select(
        F.lit(None).cast("long").alias("event_id"), "user_id", "ts",
        F.lit(0).alias("is_click"), F.col("ts").alias("pts"),
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "is_click")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    return (
        clicks.unionByName(purch)
        .withColumn("last_purchase_ts", F.last("pts", ignorenulls=True).over(w))
        .filter(F.col("is_click") == 1)
        .select("event_id", "user_id", "ts", "last_purchase_ts")
    )


def events_sessions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sessionization: a new session starts after a >30-min gap; emits
    (event_id, user_id, session_id, n_in_session). lag -> gap flag ->
    running sum = the standard one-shuffle sessionizer (the window-chaining
    shape of the reference's static-init ordering, CFG_cpp.py:2178-2233)."""
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    secs = F.col("ts").cast("timestamp").cast("long")  # NTZ -> epoch (UTC session)
    gap = secs - F.lag(secs).over(w)
    new_sess = F.when(gap.isNull() | (gap > 1800), 1).otherwise(0)
    run = Window.partitionBy("user_id").orderBy("ts", "event_id").rowsBetween(
        Window.unboundedPreceding, 0
    )
    sess = ev.select(
        "event_id", "user_id", "ts",
        F.sum(new_sess).over(run).alias("session_id"),
    )
    wsz = Window.partitionBy("user_id", "session_id")
    return sess.select(
        "event_id", "user_id", "session_id",
        F.count("*").over(wsz).alias("n_in_session"),
    )


def q14_promo_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q14 shape: promo-type revenue share per month. Broadcast the
    part dim; one shuffle for the month rollup."""
    li = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part")
    rev = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    promo = F.when(F.col("p_type") == "ECONOMY", rev).otherwise(F.lit(0.0))
    return (
        li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .groupBy(F.date_trunc("month", F.col("l_shipdate")).alias("ship_month"))
        .agg(
            F.round(F.sum(promo) * 100.0 / F.sum(rev), 6).alias("promo_pct"),
            F.round(F.sum(rev), 2).alias("revenue"),
            F.count("*").alias("n_items"),
        )
    )


def supplier_balance_tiers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Supplier rollup by nation + account-balance tier (CASE bucketing +
    two-key agg; exercises the supplier dim)."""
    sup = load_table(spark, sf_dir, "supplier")
    nation = load_table(spark, sf_dir, "nation")
    tier = (
        F.when(F.col("s_acctbal") < 0, "debt")
        .when(F.col("s_acctbal") < 5000, "low")
        .otherwise("high")
    )
    return (
        sup.join(F.broadcast(nation), sup.s_nationkey == nation.n_nationkey)
        .groupBy("n_name", tier.alias("bal_tier"))
        .agg(
            F.count("*").alias("n_suppliers"),
            F.round(F.sum("s_acctbal"), 2).alias("total_bal"),
        )
    )


def events_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-type exact percentiles of the value column (continuous
    interpolation — Spark ``percentile`` and DuckDB ``quantile_cont`` share
    the definition, so the gate hashes match bit-for-bit after 6dp
    rounding). At 10^12 rows swap for ``approx_percentile`` (t-digest) —
    exact percentile needs a per-group sort."""
    ev = load_table(spark, sf_dir, "events")
    return ev.groupBy("event_type").agg(
        F.round(F.expr("percentile(value, 0.25)"), 6).alias("p25"),
        F.round(F.expr("percentile(value, 0.5)"), 6).alias("p50"),
        F.round(F.expr("percentile(value, 0.9)"), 6).alias("p90"),
        F.round(F.expr("percentile(value, 0.99)"), 6).alias("p99"),
        F.count("*").alias("n_events"),
    )


def orders_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    return orders.rollup("o_orderstatus", "o_orderpriority").agg(
        F.count("*").alias("n_orders"),
        F.round(F.sum("o_totalprice"), 2).alias("total_price"),
    )


EVENT_TYPES = ("click", "error", "purchase", "signup", "view")


def events_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pivot: per-user event-type counts as columns (explicit value list, so
    the single-shuffle two-phase pivot plan applies and the output schema is
    static — the form that scales; an unlisted-values pivot needs an extra
    distinct pass)."""
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.groupBy("user_id")
        .pivot("event_type", list(EVENT_TYPES))
        .agg(F.count(F.lit(1)))
        .na.fill(0, list(EVENT_TYPES))
        .select("user_id", *[F.col(t).alias(f"n_{t}") for t in EVENT_TYPES])
    )


def events_geomean(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Custom aggregate (UDAF surface): geometric mean of |value|+1 per
    event type via a grouped-aggregate pandas UDF — the Arrow-batched
    custom-aggregate shape (SURVEY §2.10). Its ``pd.Series -> scalar`` type
    hints pick the eval type, so ``pd`` must resolve at module level.
    exp(mean(log1p(|v|))) is computed in float64 on both engines and
    rounded far above summation-order ULP."""
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("double")
    def geomean(v: pd.Series) -> float:
        return float(np.exp(np.log1p(np.abs(v.to_numpy())).mean()))

    @pandas_udf("long")
    def n_rows(v: pd.Series) -> int:
        # grouped-agg UDFs can't mix with built-in aggregates in one agg()
        return int(len(v))

    ev = load_table(spark, sf_dir, "events")
    return ev.groupBy("event_type").agg(
        F.round(geomean(F.col("value")), 4).alias("geomean_abs1p"),
        n_rows(F.col("value")).alias("n_events"),
    )

def orders_cube(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUBE grouping sets (all four aggregation granularities in one pass —
    one shuffle, Spark expands the grouping sets map-side)."""
    orders = load_table(spark, sf_dir, "orders")
    return orders.cube("o_orderstatus", "o_orderpriority").agg(
        F.count("*").alias("n_orders"),
        F.round(F.sum("o_totalprice"), 2).alias("total_price"),
    )

def customers_no_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Customers with no completed ('F') orders. The unrestricted anti-join
    is vacuous on this testdata (every customer has orders), so the gate row
    filters the right side — same anti-join shape, non-empty result."""
    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderstatus") == "F"
    )
    return cust.join(
        orders, cust.c_custkey == orders.o_custkey, "left_anti"
    ).select("c_custkey", "c_name")


def q17_small_qty_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q17 shape — correlated scalar-subquery: revenue from lineitems
    below 50% of their part's average quantity, per brand. Engine form: the
    per-part average is a groupBy re-joined to the fact (Catalyst's own
    decorrelation target); at 10^12 rows the agg side is tiny (one row per
    part) and broadcast."""
    li = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part")
    avg_q = li.groupBy(F.col("l_partkey").alias("_pk")).agg(
        F.avg("l_quantity").alias("_avg_qty")
    )
    return (
        li.join(F.broadcast(avg_q), li.l_partkey == F.col("_pk"))
        # threshold rounded to 6dp on BOTH engine and oracle sides: the raw
        # avg differs in the last ULP across summation orders, which could
        # flip the strict < at an exact-tie boundary
        .filter(F.col("l_quantity") < F.round(0.5 * F.col("_avg_qty"), 6))
        .join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .groupBy("p_brand")
        .agg(
            F.round(F.sum("l_extendedprice") / 7.0, 2).alias("avg_yearly"),
            F.count("*").alias("n_items"),
        )
    )


def q18_large_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q18 shape — HAVING-subquery: orders whose total lineitem
    quantity exceeds 150, joined back to customer/order attributes. The
    groupBy-then-semi-join-back is one shuffle on orderkey each way."""
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer")
    big = (
        li.groupBy("l_orderkey")
        .agg(F.round(F.sum("l_quantity"), 2).alias("total_qty"))
        .filter(F.col("total_qty") > 150)
    )
    return (
        big.join(orders, big.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .select(
            "c_name", "o_orderkey",
            F.col("o_orderdate").cast("timestamp_ntz").alias("o_orderdate"),
            "o_totalprice", "total_qty",
        )
    )


def q19_disjunctive_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q19 shape — disjunctive multi-predicate join: revenue over
    part x lineitem where any of three brand/size/quantity conjunctions
    holds. One equi-join on partkey with the OR evaluated post-join (the
    planner can't split an OR across join keys); part side broadcast."""
    li = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part")
    j = li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
    c1 = (F.col("p_brand") == "Brand#1") & (F.col("p_size") <= 10) & (F.col("l_quantity") >= 1) & (F.col("l_quantity") <= 20)
    c2 = (F.col("p_brand") == "Brand#2") & (F.col("p_size") <= 20) & (F.col("l_quantity") >= 5) & (F.col("l_quantity") <= 30)
    c3 = (F.col("p_brand") == "Brand#3") & (F.col("p_size") <= 30) & (F.col("l_quantity") >= 10) & (F.col("l_quantity") <= 40)
    return j.filter(c1 | c2 | c3).agg(
        F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias("revenue"),
        F.count("*").alias("n_items"),
    )


def top_suppliers_per_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q2-shape correlated max: suppliers whose account balance equals the
    maximum within their nation — window max vs self, zero extra joins."""
    sup = load_table(spark, sf_dir, "supplier")
    nation = load_table(spark, sf_dir, "nation")
    w = Window.partitionBy("s_nationkey")
    return (
        sup.withColumn("_mx", F.max("s_acctbal").over(w))
        .filter(F.col("s_acctbal") == F.col("_mx"))
        .join(F.broadcast(nation), F.col("s_nationkey") == nation.n_nationkey)
        .select("n_name", "s_name", F.round(F.col("s_acctbal"), 2).alias("s_acctbal"))
    )


def events_json_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSON scalar-function surface (SURVEY §2.8): parse the props JSON
    column with a declared schema (from_json — no schema inference pass,
    the only scalable form) and aggregate the extracted field."""
    ev = load_table(spark, sf_dir, "events")
    k = F.from_json(F.col("props"), "k BIGINT").getField("k")
    return (
        ev.withColumn("k", k)
        .groupBy("event_type")
        .agg(
            F.sum("k").alias("sum_k"),
            F.max("k").alias("max_k"),
            F.count(F.when(F.col("k") > 50, 1)).alias("n_big_k"),
        )
    )


def events_window_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ranking-window coverage: ntile/percent_rank/cume_dist per user over
    a tie-free ordering (ts, event_id) — ANSI definitions shared by both
    engines, so the row set hashes identically."""
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    return ev.select(
        "event_id", "user_id",
        F.ntile(4).over(w).alias("quartile"),
        F.round(F.percent_rank().over(w), 6).alias("pct_rank"),
        F.round(F.cume_dist().over(w), 6).alias("cume"),
    )


def q4_priority_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q4 shape — EXISTS decorrelation: per order priority, the count
    of orders with at least one returned ('R') lineitem. Engine form: a
    LEFT SEMI join against the filtered fact (Catalyst's own EXISTS plan);
    at 10^12 rows the semi join shuffles only (orderkey) pairs and the
    aggregate is a handful of priority rows."""
    orders = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem").filter(
        F.col("l_returnflag") == "R"
    ).select("l_orderkey")
    return (
        orders.join(li, orders.o_orderkey == li.l_orderkey, "left_semi")
        .groupBy("o_orderpriority")
        .agg(F.count("*").alias("order_count"))
    )


def q16_supplier_variety(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q16 shape — NOT IN anti-join + distinct count: per (brand,
    size), how many DISTINCT suppliers ship the part, excluding suppliers
    with negative account balance. The excluded-supplier dim is tiny and
    broadcast (anti); the distinct count is the one real shuffle."""
    li = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part")
    bad = load_table(spark, sf_dir, "supplier").filter(
        F.col("s_acctbal") < 0
    ).select("s_suppkey")
    return (
        li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .join(F.broadcast(bad), li.l_suppkey == bad.s_suppkey, "left_anti")
        .groupBy("p_brand", "p_size")
        .agg(F.count_distinct("l_suppkey").alias("supplier_cnt"))
    )


def events_trajectory(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user trajectory rollup — the geospatial sessionization shape
    (sort a user's pings by time, lag to the previous position, accumulate
    movement): (user_id, n_points, path_len, n_stops, max_step) with
    positions on the integer res-10 grid (sources.pages.event_points_df —
    exact, no trig; L1 step length keeps everything BIGINT). The window
    partitions by user (uniform key) and orders by (ts, event_id) so ties
    are deterministic; one window pass + one per-user aggregate."""
    ev = event_points_df(spark, sf_dir).select("user_id", "ts", "event_id", "ex", "ey")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    step = (
        F.abs(F.col("ex") - F.lag("ex").over(w))
        + F.abs(F.col("ey") - F.lag("ey").over(w))
    )
    stepped = ev.withColumn("step", step)
    return stepped.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_points"),
        F.coalesce(F.sum("step"), F.lit(0)).cast("long").alias("path_len"),
        F.sum(F.when(F.col("step") <= 16, 1).otherwise(0)).cast("long").alias("n_stops"),
        F.coalesce(F.max("step"), F.lit(0)).cast("long").alias("max_step"),
    )


def events_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered funnel analysis (view -> click -> purchase): the stage each
    user reached, where each stage must happen strictly AFTER the previous
    one (min-timestamp per stage, conditioned on the prior stage's time) —
    the classic event-analytics conversion query. Three aggregate passes
    on the uniform user key + two broadcast-sized rejoins; no window over
    the full event stream."""
    ev = load_table(spark, sf_dir, "events").select("user_id", "event_type", "ts")
    tv = ev.filter(F.col("event_type") == "view").groupBy("user_id").agg(
        F.min("ts").alias("t_view")
    )
    tc = (
        ev.join(tv, "user_id")
        .filter((F.col("event_type") == "click") & (F.col("ts") > F.col("t_view")))
        .groupBy("user_id").agg(F.min("ts").alias("t_click"))
    )
    tp = (
        ev.join(tc, "user_id")
        .filter((F.col("event_type") == "purchase") & (F.col("ts") > F.col("t_click")))
        .groupBy("user_id").agg(F.min("ts").alias("t_purchase"))
    )
    base = ev.groupBy("user_id").agg(F.count(F.lit(1)).alias("n_events"))
    return (
        base.join(tv, "user_id", "left").join(tc, "user_id", "left")
        .join(tp, "user_id", "left")
        .select(
            "user_id", "n_events",
            F.when(F.col("t_purchase").isNotNull(), 3)
            .when(F.col("t_click").isNotNull(), 2)
            .when(F.col("t_view").isNotNull(), 1)
            .otherwise(0).cast("long").alias("stage"),
        )
    )


def events_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort retention triangle: users grouped by first-activity day, a
    row per (cohort_day, offset_days) with the distinct returning users —
    day arithmetic in exact integer epoch-days so both engines agree. Two
    aggregates on the uniform user key, one distinct-count rollup."""
    ev = event_points_df(spark, sf_dir).select("user_id", "day")
    cohort = ev.groupBy("user_id").agg(F.min("day").alias("cohort_day"))
    return (
        ev.join(cohort, "user_id")
        .select("user_id", "cohort_day", (F.col("day") - F.col("cohort_day")).alias("offset_days"))
        .distinct()
        .groupBy("cohort_day", "offset_days")
        .agg(F.count(F.lit(1)).alias("n_users"))
    )


def events_anomaly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily-volume anomaly panel per event type: each (type, day)'s share
    of the type's total volume vs the uniform per-day expectation, both in
    exact integer ppm — the ops-monitoring deviation feed (a day whose
    share_ppm sits far from expect_ppm is a spike or an outage). Two
    keyed aggregates + one broadcast of the per-type totals dim."""
    ev = event_points_df(spark, sf_dir).select("event_type", "day")
    daily = ev.groupBy("event_type", "day").agg(F.count(F.lit(1)).alias("n"))
    tot = daily.groupBy("event_type").agg(
        F.sum("n").alias("total"), F.count(F.lit(1)).alias("n_days")
    )
    return (
        daily.join(F.broadcast(tot), "event_type")
        .select(
            "event_type", "day", "n",
            F.expr("n * 1000000 div total").alias("share_ppm"),
            F.expr("abs(n * 1000000 div total - 1000000 div n_days)").alias("dev_ppm"),
        )
    )


def _rev_e4():
    """Order-exact revenue: per-row round to 1e-4 units, integer sum —
    float-summation order can flip round(sum,2) at a .005 boundary across
    engines (seen on q10 at sf0.01); per-row quantization is associative."""
    return F.sum(
        F.round(F.col("l_extendedprice") * (1 - F.col("l_discount")) * 10000, 0)
        .cast("long")
    )


def q7_nation_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q7 shape (volume shipping): revenue between two trading
    nations by ship year and direction — lineitem x supplier-nation x
    customer-nation with the symmetric nation-pair predicate. Two
    broadcast dims (supplier+nation, customer+nation route through the
    orders join); the year extract stays on the fact table."""
    nation = load_table(spark, sf_dir, "nation")
    supp = load_table(spark, sf_dir, "supplier").join(
        F.broadcast(nation), F.col("s_nationkey") == F.col("n_nationkey")
    ).select("s_suppkey", F.col("n_name").alias("supp_nation"))
    cust = load_table(spark, sf_dir, "customer").join(
        F.broadcast(nation), F.col("c_nationkey") == F.col("n_nationkey")
    ).select("c_custkey", F.col("n_name").alias("cust_nation"))
    orders = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    n1, n2 = "NATION_18", "NATION_19"
    pair = (
        ((F.col("supp_nation") == n1) & (F.col("cust_nation") == n2))
        | ((F.col("supp_nation") == n2) & (F.col("cust_nation") == n1))
    )
    return (
        li.join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(F.broadcast(supp), F.col("l_suppkey") == F.col("s_suppkey"))
        .join(cust, F.col("o_custkey") == F.col("c_custkey"))
        .filter(pair)
        .groupBy(
            "supp_nation", "cust_nation",
            F.year("l_shipdate").cast("long").alias("l_year"),
        )
        .agg(_rev_e4().alias("revenue_e4"))
    )


def q10_returned_items(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q10 shape (returned-item reporting): lost revenue per customer
    from returnflag='R' lineitems in a quarter, top 20 by revenue
    (deterministic custkey tie-break)."""
    cust = load_table(spark, sf_dir, "customer")
    nation = load_table(spark, sf_dir, "nation")
    orders = load_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= "1996-01-01") & (F.col("o_orderdate") < "1996-04-01")
    )
    li = load_table(spark, sf_dir, "lineitem").filter(F.col("l_returnflag") == "R")
    return (
        li.join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(cust, F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(nation), F.col("c_nationkey") == F.col("n_nationkey"))
        .groupBy("c_custkey", "c_name", "n_name", "c_acctbal")
        .agg(_rev_e4().alias("revenue_e4"))
        .orderBy(F.col("revenue_e4").desc(), F.col("c_custkey").asc())
        .limit(20)
    )


def q13_order_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q13 shape (customer order-count distribution): LEFT join
    customers to orders (zero-order customers kept), per-customer count,
    then the count histogram — the double-aggregate left-outer pattern."""
    cust = load_table(spark, sf_dir, "customer").select("c_custkey")
    orders = load_table(spark, sf_dir, "orders").select("o_custkey", "o_orderkey")
    per_cust = (
        cust.join(orders, F.col("c_custkey") == F.col("o_custkey"), "left")
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("c_count"))
    )
    return per_cust.groupBy("c_count").agg(F.count(F.lit(1)).alias("custdist"))


def q15_top_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q15 shape (top supplier): quarterly revenue per supplier, keep
    the supplier(s) achieving the maximum — the aggregate-then-match-max
    pattern (scalar max broadcast back, exact on the rounded value)."""
    li = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= "1996-01-01") & (F.col("l_shipdate") < "1996-04-01")
    )
    rev = li.groupBy("l_suppkey").agg(_rev_e4().alias("total_revenue_e4"))
    mx = rev.agg(F.max("total_revenue_e4").alias("mx"))
    supp = load_table(spark, sf_dir, "supplier")
    return (
        rev.join(F.broadcast(mx), F.col("total_revenue_e4") == F.col("mx"))
        .join(F.broadcast(supp), F.col("l_suppkey") == F.col("s_suppkey"))
        .select("s_suppkey", "s_name", "total_revenue_e4")
    )


# ---------------------------------------------------------------------------
# r5: the remaining TPC-H query shapes — completes all 22 (adapted to the
# testdata star schema: no partsupp / shipmode / commit-receipt dates, so
# each keeps the reference query's JOIN/SUBQUERY STRUCTURE over the columns
# that exist; every aggregate is per-row-quantized integer arithmetic so
# the DuckDB hash comparison is exact).
# ---------------------------------------------------------------------------

def q6_forecast_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q6 shape (forecasting revenue change): single-table filter +
    scalar aggregate. The whole query is one parquet scan with every
    predicate pushed to the reader (date range, discount band, quantity
    cap) — at 10^12 rows this is THE pushdown showcase: no join, no
    shuffle beyond the final 1-row partial-agg combine."""
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.filter(
            (F.col("l_shipdate") >= "1996-01-01")
            & (F.col("l_shipdate") < "1997-01-01")
            & (F.col("l_discount") >= 0.05)
            & (F.col("l_discount") <= 0.07)
            & (F.col("l_quantity") < 24)
        )
        .agg(
            F.sum(
                F.round(F.col("l_extendedprice") * F.col("l_discount") * 10000, 0)
                .cast("long")
            ).alias("revenue_e4")
        )
    )


def q2_min_cost_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q2 shape (minimum-cost supplier): the correlated MIN subquery
    — for each qualifying part, the supplier(s) offering the lowest unit
    price, decorrelated into groupBy-min + match-back (Catalyst's own plan
    for the original's scalar subquery). partsupp doesn't exist in this
    schema, so unit cost comes from observed sales: min over lineitems of
    round(extendedprice/quantity * 1e4). Ties broken by min s_suppkey via
    one window pass over the tiny matched set."""
    part = load_table(spark, sf_dir, "part").filter(
        (F.col("p_type") == "STANDARD") & (F.col("p_size") <= 10)
    )
    li = load_table(spark, sf_dir, "lineitem")
    unit = F.round(F.col("l_extendedprice") / F.col("l_quantity") * 10000, 0).cast("long")
    cost = (
        li.join(F.broadcast(part.select("p_partkey")), li.l_partkey == F.col("p_partkey"))
        .groupBy("l_partkey", "l_suppkey")
        .agg(F.min(unit).alias("cost_e4"))
    )
    w = Window.partitionBy("l_partkey").orderBy(
        F.col("cost_e4").asc(), F.col("l_suppkey").asc()
    )
    best = cost.withColumn("rk", F.row_number().over(w)).filter(F.col("rk") == 1)
    supp = load_table(spark, sf_dir, "supplier")
    return (
        best.join(F.broadcast(part), best.l_partkey == part.p_partkey)
        .join(F.broadcast(supp), best.l_suppkey == supp.s_suppkey)
        .select(
            "p_partkey", "p_name", "p_size", "s_suppkey", "s_name", "cost_e4"
        )
        .orderBy(F.col("cost_e4").asc(), F.col("p_partkey").asc())
        .limit(100)
    )


def q8_market_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q8 shape (national market share): the CASE-inside-aggregate
    ratio — of all PROMO-part revenue sold to ASIA-region customers per
    order year, the share supplied by NATION_5, in exact integer ppm
    (numerator*1e6 div denominator; both sides per-row-quantized e4 sums
    so no float division anywhere)."""
    nation = load_table(spark, sf_dir, "nation")
    region = load_table(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    cust = (
        load_table(spark, sf_dir, "customer")
        .join(F.broadcast(nation), F.col("c_nationkey") == F.col("n_nationkey"))
        .join(F.broadcast(region), F.col("n_regionkey") == F.col("r_regionkey"))
        .select("c_custkey")
    )
    supp = (
        load_table(spark, sf_dir, "supplier")
        .join(F.broadcast(nation), F.col("s_nationkey") == F.col("n_nationkey"))
        .select("s_suppkey", F.col("n_name").alias("supp_nation"))
    )
    part = load_table(spark, sf_dir, "part").filter(F.col("p_type") == "PROMO")
    orders = load_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= "1996-01-01") & (F.col("o_orderdate") < "1998-01-01")
    )
    li = load_table(spark, sf_dir, "lineitem")
    rev_row = (
        F.round(F.col("l_extendedprice") * (1 - F.col("l_discount")) * 10000, 0)
        .cast("long")
    )
    return (
        li.join(F.broadcast(part.select("p_partkey")), li.l_partkey == F.col("p_partkey"))
        .join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey, "left_semi")
        .join(F.broadcast(supp), li.l_suppkey == supp.s_suppkey)
        .groupBy(F.year("o_orderdate").cast("long").alias("o_year"))
        .agg(
            F.sum(F.when(F.col("supp_nation") == "NATION_5", rev_row).otherwise(F.lit(0)))
            .alias("nation_rev_e4"),
            F.sum(rev_row).alias("total_rev_e4"),
        )
        .withColumn(
            "mkt_share_ppm",
            F.expr("nation_rev_e4 * 1000000 div total_rev_e4"),
        )
    )


def q9_product_profit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q9 shape (product-type profit): profit per supplier nation per
    order year over a part-name token filter. ps_supplycost doesn't exist,
    so cost is the catalog p_retailprice * quantity (the same
    fact x part x supplier x nation x orders 5-way join tree as the
    original — part and supplier dims broadcast, the orders join carries
    the year)."""
    nation = load_table(spark, sf_dir, "nation")
    supp = (
        load_table(spark, sf_dir, "supplier")
        .join(F.broadcast(nation), F.col("s_nationkey") == F.col("n_nationkey"))
        .select("s_suppkey", "n_name")
    )
    part = load_table(spark, sf_dir, "part").filter(F.col("p_name").like("%red%"))
    orders = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    profit_row = (
        F.round(F.col("l_extendedprice") * (1 - F.col("l_discount")) * 10000, 0)
        .cast("long")
        - F.round(F.col("p_retailprice") * F.col("l_quantity") * 10000, 0).cast("long")
    )
    return (
        li.join(F.broadcast(part.select("p_partkey", "p_retailprice")),
                li.l_partkey == F.col("p_partkey"))
        .join(F.broadcast(supp), li.l_suppkey == supp.s_suppkey)
        .join(orders, li.l_orderkey == orders.o_orderkey)
        .groupBy("n_name", F.year("o_orderdate").cast("long").alias("o_year"))
        .agg(F.sum(profit_row).alias("profit_e4"))
    )


def q11_important_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q11 shape (important stock): per-part value restricted to one
    nation's suppliers, HAVING value > fraction-of-global-total — the
    global scalar subquery threshold. Exact integer cross-multiplication
    (value*2000 > total) instead of the original's float fraction; the
    scalar total is a 1-row broadcast."""
    nation = load_table(spark, sf_dir, "nation").filter(F.col("n_name") == "NATION_3")
    supp = (
        load_table(spark, sf_dir, "supplier")
        .join(F.broadcast(nation), F.col("s_nationkey") == F.col("n_nationkey"))
        .select("s_suppkey")
    )
    li = load_table(spark, sf_dir, "lineitem")
    val_row = F.round(F.col("l_extendedprice") * 10000, 0).cast("long")
    value = (
        li.join(F.broadcast(supp), li.l_suppkey == supp.s_suppkey, "left_semi")
        .groupBy("l_partkey")
        .agg(F.sum(val_row).alias("value_e4"))
    )
    total = value.agg(F.sum("value_e4").alias("total_e4"))
    return (
        value.join(F.broadcast(total))
        .filter(F.col("value_e4") * 2000 > F.col("total_e4"))
        .select("l_partkey", "value_e4")
        .orderBy(F.col("value_e4").desc(), F.col("l_partkey").asc())
    )


def q12_priority_by_status(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q12 shape (shipping modes / critical priority): per line
    status (standing in for the absent l_shipmode), how many shipped-1996
    lineitems belong to critical-priority orders vs not — the
    two-CASE-count aggregate over the orders join."""
    orders = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= "1996-01-01") & (F.col("l_shipdate") < "1997-01-01")
    )
    is_high = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .groupBy("l_linestatus")
        .agg(
            F.sum(F.when(is_high, 1).otherwise(0)).cast("long").alias("high_line_count"),
            F.sum(F.when(is_high, 0).otherwise(1)).cast("long").alias("low_line_count"),
        )
    )


def q20_excess_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q20 shape (potential part promotion): the nested IN-subquery
    chain — suppliers who shipped more than a threshold quantity of
    'small%' parts during 1996, joined back to supplier x nation. Both
    inner dims (matching parts, qualifying suppkeys) resolve to semi-join
    sides; quantity is whole-valued in this corpus so the sum is exact as
    BIGINT."""
    part = load_table(spark, sf_dir, "part").filter(F.col("p_name").like("small%"))
    li = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= "1996-01-01") & (F.col("l_shipdate") < "1997-01-01")
    )
    qual = (
        li.join(F.broadcast(part.select("p_partkey")), li.l_partkey == F.col("p_partkey"),
                "left_semi")
        .groupBy("l_suppkey")
        .agg(F.sum(F.col("l_quantity").cast("long")).alias("ship_qty"))
        .filter(F.col("ship_qty") > 50)
    )
    supp = load_table(spark, sf_dir, "supplier")
    nation = load_table(spark, sf_dir, "nation")
    return (
        qual.join(F.broadcast(supp), qual.l_suppkey == supp.s_suppkey)
        .join(F.broadcast(nation), supp.s_nationkey == nation.n_nationkey)
        .select("s_suppkey", "s_name", "n_name", "ship_qty")
        .orderBy(F.col("ship_qty").desc(), F.col("s_suppkey").asc())
    )


def q21_waiting_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q21 shape (suppliers who kept orders waiting): the
    EXISTS/NOT-EXISTS pair over the same-order self-join. Commit/receipt
    dates don't exist, so "the one who kept the order waiting" = the
    supplier with the LATEST ship date in a finished multi-supplier order
    (EXISTS another supplier in the order ≡ distinct-supplier count ≥ 2;
    NOT EXISTS a later one ≡ rank 1 on ship date desc). One window pass
    over per-(order,supplier) maxima replaces the original's two
    correlated subqueries; ties broken by min suppkey."""
    orders = load_table(spark, sf_dir, "orders").filter(F.col("o_orderstatus") == "F")
    li = load_table(spark, sf_dir, "lineitem")
    per_os = (
        li.join(orders.select("o_orderkey"), li.l_orderkey == F.col("o_orderkey"), "left_semi")
        .groupBy("l_orderkey", "l_suppkey")
        .agg(F.max("l_shipdate").alias("last_ship"))
    )
    w = Window.partitionBy("l_orderkey")
    ranked = per_os.select(
        "l_orderkey", "l_suppkey",
        F.count(F.lit(1)).over(w).alias("n_supp"),
        F.row_number().over(
            Window.partitionBy("l_orderkey").orderBy(
                F.col("last_ship").desc(), F.col("l_suppkey").asc()
            )
        ).alias("rk"),
    )
    supp = load_table(spark, sf_dir, "supplier")
    return (
        ranked.filter((F.col("n_supp") >= 2) & (F.col("rk") == 1))
        .groupBy("l_suppkey")
        .agg(F.count(F.lit(1)).alias("numwait"))
        .join(F.broadcast(supp), F.col("l_suppkey") == supp.s_suppkey)
        .select("s_suppkey", "s_name", "numwait")
        .orderBy(F.col("numwait").desc(), F.col("s_suppkey").asc())
        .limit(20)
    )


def q22_global_sales_opportunity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q22 shape (global sales opportunity): customers above the
    global positive-balance average with NO orders — scalar-average
    subquery + anti-join, grouped by nation key (standing in for the
    absent phone country code, same low-cardinality IN prefilter). The
    average threshold is computed in exact integer cents (sum_e2 div
    count) so the > comparison can't be flipped by float summation
    order. Every customer in this corpus has SOME order, so "no orders"
    is scoped to the recent window (>= 2000-01-01) — the original query's
    'no purchases in seven years' intent, and the anti side stays a
    date-pruned fraction of the fact table at any scale."""
    cust = load_table(spark, sf_dir, "customer").filter(F.col("c_nationkey") < 7)
    bal_e2 = F.round(F.col("c_acctbal") * 100, 0).cast("long")
    avg_pos = (
        cust.filter(F.col("c_acctbal") > 0.0)
        .agg(
            F.expr(
                "sum(cast(round(c_acctbal * 100, 0) as bigint)) div count(1)"
            ).alias("avg_e2")
        )
    )
    orders = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") >= "2000-01-01"
    ).select("o_custkey")
    return (
        cust.withColumn("bal_e2", bal_e2)
        .join(F.broadcast(avg_pos))
        .filter(F.col("bal_e2") > F.col("avg_e2"))
        .join(orders, F.col("c_custkey") == F.col("o_custkey"), "left_anti")
        .groupBy("c_nationkey")
        .agg(
            F.count(F.lit(1)).alias("numcust"),
            F.sum("bal_e2").alias("totacctbal_e2"),
        )
    )
