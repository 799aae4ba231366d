"""Co-location pair join + OD flow matrix: scalar references and the
hot-key cut contract."""

from __future__ import annotations

import itertools

import pandas as pd

from tree_sitter_codeviews_spark import queries as q


def test_colocation_vs_scalar_reference(spark):
    """Engine result == brute-force pair enumeration over the same
    distinct (user, day, tile) sets (sf0.001 — small enough to enumerate)."""
    sf = "/root/testdata/sf0.001"
    got = (
        q.events_colocation(spark, sf)
        .toPandas()
        .set_index(["user_a", "user_b"])["n_meetings"]
        .sort_index()
    )
    import duckdb

    ev = duckdb.sql(f"""
        SELECT DISTINCT user_id,
               CAST(floor(epoch(ts) / 86400) AS BIGINT) AS day,
               ((event_id * 48271 + 7) % 1024) >> 6 AS cx,
               ((event_id * 16807 + 12345) % 1024) >> 6 AS cy
        FROM read_parquet('{sf}/events.parquet')
    """).df()
    meet: dict = {}
    for _, grp in ev.groupby(["day", "cx", "cy"]):
        users = sorted(grp["user_id"])
        if len(users) > q.COLOC_MAX_USERS_PER_KEY:
            continue
        for a, b in itertools.combinations(users, 2):
            meet[(a, b)] = meet.get((a, b), 0) + 1
    want = pd.Series(meet).sort_index()
    assert len(got) == len(want) > 0
    assert (got.to_numpy() == want.to_numpy()).all()


def test_colocation_hot_key_cut(spark):
    """A (day, tile) key with > COLOC_MAX_USERS_PER_KEY distinct users
    contributes NO pairs (the stadium-cell guard) — pinned on a synthetic
    frame pushed through the same operator chain semantics."""
    from pyspark.sql import functions as F

    n_hot = q.COLOC_MAX_USERS_PER_KEY + 5
    rows = [(u, 1, 0, 0) for u in range(n_hot)] + [
        (1, 2, 3, 3), (2, 2, 3, 3)  # one small key with a single pair
    ]
    ev = spark.createDataFrame(rows, "user_id long, day long, cx long, cy long").distinct()
    key = ["day", "cx", "cy"]
    small = (
        ev.groupBy(*key).agg(F.count(F.lit(1)).alias("n"))
        .filter(F.col("n") <= q.COLOC_MAX_USERS_PER_KEY).select(*key)
    )
    e = ev.join(small, key)
    a = e.select(*key, F.col("user_id").alias("user_a"))
    b = e.select(*key, F.col("user_id").alias("user_b"))
    pairs = (
        a.join(b, key).filter(F.col("user_a") < F.col("user_b"))
        .groupBy("user_a", "user_b").agg(F.count(F.lit(1)).alias("n_meetings"))
        .collect()
    )
    assert len(pairs) == 1
    assert (pairs[0]["user_a"], pairs[0]["user_b"], pairs[0]["n_meetings"]) == (1, 2, 1)


def test_od_flows_conserve_trips(spark):
    """Every (user, day) contributes exactly one trip; single-ping days
    are self-loops (origin == destination)."""
    sf = "/root/testdata/sf0.001"
    flows = q.geo_od_flows(spark, sf).toPandas()
    import duckdb

    n_user_days = duckdb.sql(f"""
        SELECT count(*) FROM (
          SELECT DISTINCT user_id, CAST(floor(epoch(ts) / 86400) AS BIGINT)
          FROM read_parquet('{sf}/events.parquet'))
    """).fetchone()[0]
    assert flows["n_trips"].sum() == n_user_days


def test_stay_points_islands_are_true_runs(spark):
    """Reconstruct each user's ordered stream and check the gaps-and-
    islands grouping: within a reported stay every consecutive hop is
    <= STAY_RADIUS, and the hops INTO the island's first ping (if any)
    exceed it."""
    import duckdb

    sf = "/root/testdata/sf0.001"
    stays = q.events_stay_points(spark, sf).toPandas()
    ev = duckdb.sql(f"""
        SELECT user_id, event_id,
               ((event_id * 48271 + 7) % 1024) AS ex,
               ((event_id * 16807 + 12345) % 1024) AS ey
        FROM read_parquet('{sf}/events.parquet')
        ORDER BY user_id, ts, event_id
    """).df()
    by_user = {u: g.reset_index(drop=True) for u, g in ev.groupby("user_id")}
    for s in stays.itertuples():
        g = by_user[s.user_id]
        i0 = g.index[g["event_id"] == s.first_event_id][0]
        # run of n_pings starting at i0: internal hops all small
        for k in range(i0 + 1, i0 + s.n_pings):
            hop = max(abs(g.ex[k] - g.ex[k - 1]), abs(g.ey[k] - g.ey[k - 1]))
            assert hop <= q.STAY_RADIUS, (s.user_id, k)
        # boundary hops (if neighbors exist) are breaks
        if i0 > 0:
            hop = max(abs(g.ex[i0] - g.ex[i0 - 1]), abs(g.ey[i0] - g.ey[i0 - 1]))
            assert hop > q.STAY_RADIUS
        j = i0 + s.n_pings
        if j < len(g):
            hop = max(abs(g.ex[j] - g.ex[j - 1]), abs(g.ey[j] - g.ey[j - 1]))
            assert hop > q.STAY_RADIUS


def test_emerging_hotspots_vs_scalar_mann_kendall(spark):
    """Engine S statistic == a pure-python Mann-Kendall over the zero-
    filled daily count series rebuilt independently (dict-of-counters,
    no SQL)."""
    sf = "/root/testdata/sf0.001"
    got = (
        q.geo_emerging_hotspots(spark, sf)
        .toPandas()
        .set_index(["tx", "ty"])
        .sort_index()
    )
    import duckdb

    ev = duckdb.sql(f"""
        SELECT ((event_id * 48271 + 7) % 1024) >> 7 AS tx,
               ((event_id * 16807 + 12345) % 1024) >> 7 AS ty,
               CAST(floor(epoch(ts) / 86400) AS BIGINT) AS day
        FROM read_parquet('{sf}/events.parquet')
    """).df()
    dmin, dmax = int(ev["day"].min()), int(ev["day"].max())
    days = range(dmin, dmax + 1)
    from collections import Counter

    per_tile = {
        t: Counter(g["day"]) for t, g in ev.groupby(["tx", "ty"])
    }
    assert len(got) == len(per_tile)
    for tile, cnts in per_tile.items():
        series = [cnts.get(d, 0) for d in days]
        s = sum(
            (series[j] > series[i]) - (series[j] < series[i])
            for i in range(len(series))
            for j in range(i + 1, len(series))
        )
        row = got.loc[tile]
        assert int(row.s_stat) == s, tile
        assert int(row.n_days) == dmax - dmin + 1
        assert int(row.n_pings) == sum(series)
        assert row.trend == ("emerging" if s > 0 else "cooling" if s < 0 else "flat")


def test_traj_similarity_vs_scalar_topk(spark):
    """Engine top-5 == brute-force exact-Jaccard kNN over per-user res-5
    cell sets with the same (jaccard desc, shared desc, user_b) tie-break;
    the per-cell cut is a no-op at sf0.001 (15 users < 50) so brute force
    is the full answer."""
    sf = "/root/testdata/sf0.001"
    got = q.events_traj_similarity(spark, sf).toPandas()
    import duckdb

    ev = duckdb.sql(f"""
        SELECT DISTINCT user_id,
               ((event_id * 48271 + 7) % 1024) >> 5 AS cx,
               ((event_id * 16807 + 12345) % 1024) >> 5 AS cy
        FROM read_parquet('{sf}/events.parquet')
    """).df()
    sets = {
        u: set(zip(g["cx"], g["cy"])) for u, g in ev.groupby("user_id")
    }
    for ua in sets:
        cands = []
        for ub in sets:
            if ub == ua:
                continue
            shared = len(sets[ua] & sets[ub])
            if shared < q.TRAJSIM_MIN_SHARED:
                continue
            jac = shared * 1_000_000 // len(sets[ua] | sets[ub])
            cands.append((-jac, -shared, ub))
        cands.sort()
        want = cands[: q.TRAJSIM_TOPK]
        rows = got[got.user_a == ua].sort_values("rank")
        assert list(rows.user_b) == [c[2] for c in want], ua
        assert list(rows.jaccard_ppm) == [-c[0] for c in want], ua
        assert list(rows["rank"]) == list(range(1, len(want) + 1)), ua


def test_traj_similarity_topk_bound(spark):
    """Contract: <= TRAJSIM_TOPK rows per user, ranks contiguous from 1."""
    got = q.events_traj_similarity(spark, "/root/testdata/sf0.001").toPandas()
    for ua, g in got.groupby("user_a"):
        r = sorted(g["rank"])
        assert len(r) <= q.TRAJSIM_TOPK
        assert r == list(range(1, len(r) + 1)), ua


def test_stay_overlaps_symmetric_and_grounded(spark):
    """Co-presence pairs are ordered (a < b), grounded in real stays, and
    every overlap count is positive; heading histogram partitions all
    moving hops."""
    import duckdb
    from pyspark.sql import functions as F

    sf = "/root/testdata/sf0.01"
    ov = q.events_stay_overlaps(spark, sf).toPandas()
    assert len(ov) > 0
    assert (ov["user_a"] < ov["user_b"]).all()
    assert (ov["n_overlaps"] >= 1).all()

    hh = q.events_heading_hist(spark, "/root/testdata/sf0.001").toPandas()
    assert set(hh["octant"]) <= set(range(8))
    moving = duckdb.sql(f"""
        WITH ev AS (
          SELECT user_id, ts, event_id,
                 (event_id * 48271 + 7) % 1024 AS ex,
                 (event_id * 16807 + 12345) % 1024 AS ey
          FROM read_parquet('/root/testdata/sf0.001/events.parquet')
        ),
        hops AS (
          SELECT ex - lag(ex) OVER w AS dx, ey - lag(ey) OVER w AS dy
          FROM ev WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
        )
        SELECT count(*) FROM hops WHERE dx IS NOT NULL AND (dx <> 0 OR dy <> 0)
    """).fetchone()[0]
    assert hh["n_hops"].sum() == moving


def test_hopping_windows_match_native_spark_window(spark):
    """The exact-epoch hopping explode reproduces Spark's own
    window(ts, '2 hours', '1 hour') semantics bit-for-bit."""
    from pyspark.sql import functions as F

    from tree_sitter_codeviews_spark.sources.testdata import load_table

    sf = "/root/testdata/sf0.001"
    got = (
        q.events_hopping_windows(spark, sf)
        .toPandas()
        .sort_values(["window_start", "event_type"])
        .reset_index(drop=True)
    )
    native = (
        load_table(spark, sf, "events")
        .groupBy(
            F.window(F.col("ts").cast("timestamp"), "2 hours", "1 hour").alias("w"),
            "event_type",
        )
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            F.expr("unix_timestamp(w.start)").alias("window_start"),
            "event_type", "n_events",
        )
        .toPandas()
        .sort_values(["window_start", "event_type"])
        .reset_index(drop=True)
    )
    import pandas as pd

    pd.testing.assert_frame_equal(got, native, check_dtype=False)


def test_graph_diff_consistent_with_full_graph(spark):
    """gained+persisted edges == snapshot B's edge count per host;
    lost+persisted == snapshot A's."""
    from pyspark.sql import functions as F

    sf = "/root/testdata/sf0.001"
    d = q.webtext_graph_diff(spark, sf).toPandas().set_index("src")
    from tree_sitter_codeviews_spark.queries import _docs, _host_edges

    docs = _docs(spark, sf)
    na = (
        _host_edges(docs.filter(F.col("doc_id") % 10 != 7)).distinct()
        .groupBy("src").count().toPandas().set_index("src")["count"]
    )
    nb = (
        _host_edges(docs.filter(F.col("doc_id") % 10 != 3)).distinct()
        .groupBy("src").count().toPandas().set_index("src")["count"]
    )
    for host, row in d.iterrows():
        assert row["n_lost"] + row["n_persisted"] == na.get(host, 0)
        assert row["n_gained"] + row["n_persisted"] == nb.get(host, 0)


def test_event_points_match_numpy_and_epoch_arithmetic(spark, sf_tiny):
    """event_points_df, the one event-point source: ex/ey equal
    layers.evt_grid_xy_np (the streaming geofence's twin) on every row;
    sec/day equal epoch arithmetic on the parquet's raw microseconds."""
    import pyarrow.parquet as pq

    from tree_sitter_codeviews_spark import layers
    from tree_sitter_codeviews_spark.sources import pages as pages_src

    got = (
        pages_src.event_points_df(spark, sf_tiny)
        .select("event_id", "ex", "ey", "sec", "day")
        .toPandas()
        .sort_values("event_id")
    )
    raw = (
        pq.read_table(f"{sf_tiny}/events.parquet", columns=["event_id", "ts"])
        .to_pandas()
        .sort_values("event_id")
    )
    assert len(got) == len(raw) > 0
    assert got["event_id"].tolist() == raw["event_id"].tolist()
    gx, gy = layers.evt_grid_xy_np(raw["event_id"].to_numpy())
    assert got["ex"].tolist() == gx.tolist()
    assert got["ey"].tolist() == gy.tolist()
    us = [t.value // 1000 for t in raw["ts"]]  # ns -> us since the epoch
    sec = [u // 1_000_000 for u in us]
    assert got["sec"].tolist() == sec
    assert got["day"].tolist() == [s // 86400 for s in sec]
