"""Unit properties for the r4 wave-4 operators: LPA communities, BPE
application, shingle novelty, exact length quantiles — beyond the oracle
equality the gate mirror asserts."""

from __future__ import annotations

import pandas as pd
from pyspark.sql import functions as F

from tree_sitter_codeviews_spark.operators import bpe, dedup, linkgraph, textstats
from tree_sitter_codeviews_spark.sources.testdata import load_table


def test_label_propagation_converges_on_two_cliques(spark):
    """Two disjoint triangles end up with exactly one label each, and the
    label is the smallest md5 label inside the triangle (deterministic
    tie-break)."""
    edges = spark.createDataFrame(
        [("a", "b"), ("b", "c"), ("c", "a"), ("x", "y"), ("y", "z"), ("z", "x")],
        "src string, dst string",
    )
    nodes = spark.createDataFrame(
        [("a",), ("b",), ("c",), ("x",), ("y",), ("z",)], "host string"
    )
    got = {
        r["host"]: r["community"]
        for r in linkgraph.label_propagation(edges, nodes, iterations=4).collect()
    }
    assert len({got["a"], got["b"], got["c"]}) == 1
    assert len({got["x"], got["y"], got["z"]}) == 1
    assert got["a"] != got["x"]


def test_label_propagation_isolated_node_keeps_label(spark):
    edges = spark.createDataFrame([("a", "b")], "src string, dst string")
    nodes = spark.createDataFrame([("a",), ("b",), ("lone",)], "host string")
    res = linkgraph.label_propagation(edges, nodes, iterations=2)
    lone = res.filter(F.col("host") == "lone").first()
    init = int(
        nodes.select(
            F.conv(F.substring(F.md5(F.col("host")), 1, 7), 16, 10).cast("long")
        ).where(F.col("host") == "lone").first()[0]
    )
    assert lone["community"] == init


def test_bpe_apply_matches_python_reference(spark, sf_tiny):
    """Re-apply the learned rules to every word in a doc with plain Python
    string replaces and recount symbols — must equal the engine's stats."""
    docs = load_table(spark, sf_tiny, "documents")
    rules = [
        (r["sym_a"], r["sym_b"])
        for r in bpe.bpe_train(docs, merges=8).orderBy("merge_rank").collect()
    ]
    got = {
        r["doc_id"]: (r["n_words"], r["n_tokens"], r["n_chars"])
        for r in bpe.bpe_apply(docs, merges=8).collect()
    }
    for row in docs.orderBy("doc_id").limit(25).collect():
        words = row["text"].split(" ")
        n_tokens = 0
        for wd in words:
            wd = wd.replace("\x01", "").replace("\x02", "")
            enc = "".join(f"\x01{ch}\x02" for ch in wd)
            for a, b in rules:
                enc = enc.replace(f"\x01{a}\x02\x01{b}\x02", f"\x01{a}{b}\x02")
            n_tokens += enc.count("\x01")
        want = (len(words), n_tokens, sum(len(wd) for wd in words))
        assert got[row["doc_id"]] == want
    # merges actually compress: strictly fewer tokens than characters
    assert all(t < c for (_, t, c) in got.values())


def test_novelty_bounds_and_first_doc_fully_novel(spark, sf_tiny):
    docs = load_table(spark, sf_tiny, "documents")
    res = dedup.novelty_stats(docs)
    rows = res.collect()
    assert all(0 <= r["n_novel"] <= r["n_shingles"] for r in rows)
    assert all(0 <= r["novelty_ppm"] <= 1_000_000 for r in rows)
    first_doc = docs.agg(F.min("doc_id")).first()[0]
    first = next(r for r in rows if r["doc_id"] == first_doc)
    assert first.n_novel == first.n_shingles  # nothing precedes doc 0


def test_length_quantiles_match_pandas(spark, sf_tiny):
    docs = load_table(spark, sf_tiny, "documents")
    got = {
        r["source"]: (r["n_docs"], r["p50_chars"], r["p90_chars"], r["p99_chars"])
        for r in textstats.length_quantiles(docs).collect()
    }
    pdf = docs.select("source", "n_chars", "doc_id").toPandas()
    for src, g in pdf.groupby("source"):
        vals = g.sort_values(["n_chars", "doc_id"])["n_chars"].tolist()
        n = len(vals)
        want = (
            n,
            vals[-(-50 * n // 100) - 1],
            vals[-(-90 * n // 100) - 1],
            vals[-(-99 * n // 100) - 1],
        )
        assert got[src] == want


# --- wave 6: funnel / retention ------------------------------------------------

def test_funnel_stages_match_pandas_recompute(spark, sf_tiny):
    from tree_sitter_codeviews_spark.operators import relational

    got = {
        r["user_id"]: r["stage"]
        for r in relational.events_funnel(spark, sf_tiny).collect()
    }
    ev = load_table(spark, sf_tiny, "events").select(
        "user_id", "event_type", "ts"
    ).toPandas()
    for uid, g in ev.groupby("user_id"):
        stage = 0
        tv = g.loc[g.event_type == "view", "ts"].min()
        if pd.notna(tv):
            stage = 1
            tc = g.loc[(g.event_type == "click") & (g.ts > tv), "ts"].min()
            if pd.notna(tc):
                stage = 2
                tp = g.loc[(g.event_type == "purchase") & (g.ts > tc), "ts"].min()
                if pd.notna(tp):
                    stage = 3
        assert got[uid] == stage
    assert max(got.values()) >= 1  # funnel is non-vacuous


def test_retention_day_zero_covers_every_user(spark, sf_tiny):
    """Each cohort's offset-0 cell counts exactly its members (every user
    is active on their own first day), and offsets are non-negative."""
    from tree_sitter_codeviews_spark.operators import relational

    rows = relational.events_retention(spark, sf_tiny).collect()
    assert all(r["offset_days"] >= 0 for r in rows)
    day0 = {r["cohort_day"]: r["n_users"] for r in rows if r["offset_days"] == 0}
    n_users = load_table(spark, sf_tiny, "events").select("user_id").distinct().count()
    assert sum(day0.values()) == n_users


# --- wave 7: grid-DBSCAN + triangles ---------------------------------------------

def test_grid_dbscan_clusters_are_adjacency_consistent(spark, sf_tiny):
    """Cells in the same cluster are connected through core cells (verified
    by a pure-Python BFS over the collected core set), and every cluster id
    is the min cell id of its member set."""
    from tree_sitter_codeviews_spark import queries

    rows = queries.geo_grid_dbscan(spark, sf_tiny).collect()
    # rebuild coords from the Morton id (res 5: interleaved 5+5 bits)
    def coords(cell):
        x = y = 0
        for i in range(5):
            x |= ((cell >> (2 * i)) & 1) << i
            y |= ((cell >> (2 * i + 1)) & 1) << i
        return x, y
    cells_ = {r["cell_id"]: coords(r["cell_id"]) for r in rows}
    # python CC over 8-adjacency
    parent = {c: c for c in cells_}
    def find(c):
        while parent[c] != c:
            parent[c] = parent[parent[c]]
            c = parent[c]
        return c
    items = list(cells_.items())
    for i, (c1, (x1, y1)) in enumerate(items):
        for c2, (x2, y2) in items[i + 1:]:
            if abs(x1 - x2) <= 1 and abs(y1 - y2) <= 1:
                parent[find(c1)] = find(c2)
    want = {}
    for c in cells_:
        want.setdefault(find(c), []).append(c)
    expected = {c: min(members) for r, members in want.items() for c in members}
    got = {r["cell_id"]: r["cluster"] for r in rows}
    assert got == expected
    assert any(v >= 2 for v in
               __import__("collections").Counter(got.values()).values()), \
        "no multi-cell cluster formed — fixture too sparse to exercise CC"


def test_triangles_match_networkx_free_recompute(spark, sf_tiny):
    """Brute-force triangle recount over the collected (host-bounded) edge
    set equals the engine's per-host counts."""
    from tree_sitter_codeviews_spark import queries

    got = {r["host"]: r["n_triangles"]
           for r in queries.webtext_triangles(spark, sf_tiny).collect()}
    docs = load_table(spark, sf_tiny, "documents").select("doc_id").collect()
    edges = set()
    for r in docs:
        d = r["doc_id"]
        s = f"host{(d // 3) % 100:04d}.example"
        for t in (f"host{(d * 7 + 1) % 100:04d}.example",
                  f"host{(d * 13 + 2) % 100:04d}.example"):
            if s != t:
                edges.add((min(s, t), max(s, t)))
    from collections import Counter, defaultdict
    adj = defaultdict(set)
    for a, b in edges:
        adj[a].add(b); adj[b].add(a)
    cnt = Counter()
    for a, b in edges:
        for c in adj[a] & adj[b]:
            if c > b:  # a < b < c: count each triangle once
                cnt[a] += 1; cnt[b] += 1; cnt[c] += 1
    assert got == dict(cnt)
    assert cnt  # non-vacuous


# --- wave 8: centroids / anomaly / calibration -----------------------------------

def test_region_centroid_lies_in_polygon_bbox(spark, sf_tiny):
    """A region's doc centroid must sit inside the polygon's grid bbox
    (containment sanity for the PIP-reuse composition)."""
    from tree_sitter_codeviews_spark import layers, queries

    got = {r["polygon_id"]: (r["cx_grid"], r["cy_grid"], r["n_docs"])
           for r in queries.geo_region_centroids(spark, sf_tiny).collect()}
    assert got  # non-vacuous
    for p in layers.POLYGONS:
        if p["polygon_id"] not in got:
            continue
        cx, cy, n = got[p["polygon_id"]]
        assert n >= 1
        xs = [pt[0] for pt in p["ring"]]
        ys = [pt[1] for pt in p["ring"]]
        lon = -180.0 + 360.0 * (cx + 0.5) / 1024
        lat = -90.0 + 180.0 * (cy + 0.5) / 1024
        # centroid of contained points lies in the convex bbox (1-cell slack
        # for the grid-center offset)
        cell = 360.0 / 1024
        assert min(xs) - cell <= lon <= max(xs) + cell
        assert min(ys) - cell <= lat <= max(ys) + cell


def test_anomaly_shares_sum_to_about_one(spark, sf_tiny):
    """Per event type, the day shares must sum to ~1e6 ppm (short only by
    the truncation of integer division: < n_days ppm)."""
    from tree_sitter_codeviews_spark.operators import relational

    rows = relational.events_anomaly(spark, sf_tiny).collect()
    by_type = {}
    for r in rows:
        by_type.setdefault(r["event_type"], []).append(r["share_ppm"])
    for t, shares in by_type.items():
        assert 1_000_000 - len(shares) <= sum(shares) <= 1_000_000


def test_minhash_calibration_estimator_is_close(spark, sf_tiny):
    """64-permutation MinHash: per-pair estimate within 4 sigma of the true
    Jaccard (sigma = sqrt(j(1-j)/64)), and the mean absolute error under
    half a sigma-at-j=0.5 — the estimator is unbiased, not just bounded."""
    from tree_sitter_codeviews_spark.operators import dedup

    docs = load_table(spark, sf_tiny, "documents")
    rows = dedup.minhash_md5_calibration(docs).collect()
    assert rows
    errs = []
    for r in rows:
        j = r["jaccard_ppm"] / 1e6
        sigma = (j * (1 - j) / 64) ** 0.5 * 1e6 or 1.0
        err = abs(r["est_ppm"] - r["jaccard_ppm"])
        assert err <= 4 * sigma + 15_625, (r, sigma)
        errs.append(err)
    assert sum(errs) / len(errs) <= 62_500 / 2  # half of sigma at j=0.5


# --- review fixes: degenerate-input guards ----------------------------------

def test_apportion_budget_empty_and_zero_weights(spark):
    from tree_sitter_codeviews_spark.operators import curation

    empty = spark.createDataFrame([], "host string, n_tokens long")
    out = curation.apportion_budget(empty, budget=100)
    assert out.count() == 0
    assert set(out.columns) >= {"host", "n_tokens", "base_quota", "alloc"}
    zeros = spark.createDataFrame([("a", 0), ("b", 0)], "host string, n_tokens long")
    assert curation.apportion_budget(zeros, budget=100).count() == 0


def test_hits_integer_guards(spark):
    import pytest as _pytest
    from tree_sitter_codeviews_spark.operators import linkgraph

    nodes = spark.createDataFrame([("a",), ("b",)], "host string")
    no_edges = spark.createDataFrame([], "src string, dst string")
    with _pytest.raises(ValueError, match="iterations"):
        linkgraph.hits_integer(no_edges, nodes, iterations=0)
    rows = linkgraph.hits_integer(no_edges, nodes, iterations=2).collect()
    assert len(rows) == 2
    assert all(r["hub_micro"] == 0 and r["auth_micro"] == 0 for r in rows)


def test_crawl_schedule_uses_host_level_delay(spark):
    """Rows of one host with different delay_ms must all schedule on the
    host's max delay (politeness is a host property, not a row property)."""
    from tree_sitter_codeviews_spark.operators import webtext

    fr = spark.createDataFrame(
        [("https://h.example/a", 9, 1000), ("https://h.example/b", 5, 100)],
        "url string, priority long, delay_ms long",
    )
    rows = {r["url"]: r["fetch_offset_ms"]
            for r in webtext.crawl_schedule(fr, budget=5).collect()}
    assert rows["https://h.example/a"] == 0
    assert rows["https://h.example/b"] == 1000  # NOT 100


def test_robots_parse_drops_empty_disallow(spark):
    """RFC 9309: the canonical allow-all file `Disallow:` yields NO rule —
    and composed with robots_filter it must block nothing."""
    from tree_sitter_codeviews_spark.operators import webtext

    robots = spark.createDataFrame(
        [("h.example", "User-agent: *\nDisallow:\n")], "host string, payload string"
    )
    rules = webtext.robots_parse(robots)
    assert rules.filter(F.col("rule_type") == "disallow").count() == 0
    pages = spark.createDataFrame(
        [(1, "https://h.example/anything")], "doc_id long, url string"
    )
    prefix_rules = rules.filter(F.col("rule_type") == "disallow").select(
        "host", F.col("value").alias("path_prefix")
    )
    assert webtext.robots_filter(pages, prefix_rules).count() == 1


def test_outlinks_resolve_uppercase_scheme(spark):
    """Pages fetched via 'HTTPS://HOST' must still resolve root-relative
    hrefs (case-insensitive base match, lowercase-normalized host)."""
    from tree_sitter_codeviews_spark.operators import webtext

    pages = spark.createDataFrame(
        [(1, "HTTPS://H.EXAMPLE/p", '<a href="/x">x</a><a href="https://o.example/y">y</a>')],
        "doc_id long, url string, html string",
    )
    rows = {r["dst_url"] for r in webtext.outlink_extract(
        pages, with_src_host=True).collect()}
    assert rows == {"https://h.example/x", "https://o.example/y"}
