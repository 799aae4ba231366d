"""Unit tests for the crawl-ingestion operators (HTML extraction, WARC
record splitting, domain stats) — hand-computed fixtures, independent of
the oracle gate (tests/test_entry_gate.py covers the gate queries)."""

from __future__ import annotations

from pyspark.sql import functions as F

from tree_sitter_codeviews_spark.operators import webtext


def test_html_extract_strips_decodes_collapses(spark):
    html = (
        "<html><head><title>T &amp; t</title><style>p{x:1}</style></head>"
        "<body><script>if(1<2){y=3}</script><p>a  b</p>"
        "<p>&lt;b&gt;c&quot;d&#39;e&nbsp;f</p></body></html>"
    )
    row = webtext.html_extract(
        spark.createDataFrame([(1, html)], ["doc_id", "html"])
    ).first()
    assert row.title == "T & t"
    # script/style bodies gone, tags -> spaces, entities decoded AFTER the
    # tag strip (so the decoded <b> survives as text), whitespace collapsed
    assert row.body == "T & t a b <b>c\"d'e f"
    assert row.body_chars == len(row.body)


def test_html_extract_entity_decode_single_pass(spark):
    """&amp;lt; must decode to the TEXT '&lt;', not to '<' — &amp; first,
    single pass (html.unescape semantics for this subset)."""
    row = webtext.html_extract(
        spark.createDataFrame([(1, "<p>&amp;lt;</p>")], ["doc_id", "html"])
    ).first()
    assert row.body == "&lt;"


def test_warc_split_roundtrip(spark):
    rec = (
        "WARC/1.0\nWARC-Target-URI: https://h.example/%d\n"
        "Content-Length: %d\n\n%s\n\n"
    )
    docs = [(0, "alpha beta"), (1, "gamma")]
    payload = "".join(rec % (i, len(t), t) for i, t in docs)
    out = webtext.warc_split(
        spark.createDataFrame([(7, payload)], ["blob_id", "payload"])
    ).orderBy("rec_idx").collect()
    assert [(r.rec_idx, r.uri, r.body) for r in out] == [
        (0, "https://h.example/0", "alpha beta"),
        (1, "https://h.example/1", "gamma"),
    ]
    # declared_len vs body_chars is the ingest integrity check
    assert all(r.declared_len == r.body_chars for r in out)


def test_domain_stats_counts_and_blocklist(spark):
    pages = spark.createDataFrame(
        [
            (0, "https://a.example/x?utm_s=1"),  # dup of /x after canon
            (1, "https://A.EXAMPLE/x"),
            (2, "https://a.example/y"),
            (3, "https://b.example/z"),
        ],
        ["doc_id", "url"],
    )
    bl = spark.createDataFrame([("b.example",)], ["host"])
    rows = {r.host: r for r in webtext.domain_stats(pages, bl).collect()}
    a, b = rows["a.example"], rows["b.example"]
    assert (a.n_pages, a.n_urls, a.dup_ppm, a.blocked) == (3, 2, 333333, False)
    assert (b.n_pages, b.n_urls, b.dup_ppm, b.blocked) == (1, 1, 0, True)


def test_html_extract_is_shuffle_free(spark):
    """The extraction chain must stay per-row map work — no Exchange in
    the physical plan (it fuses with the scan at crawl scale)."""
    df = webtext.html_extract(
        spark.createDataFrame([(1, "<p>x</p>")], ["doc_id", "html"])
    )
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan


def test_warc_split_is_shuffle_free(spark):
    df = webtext.warc_split(
        spark.createDataFrame([(1, "WARC/1.0\nWARC-Target-URI: u\nContent-Length: 1\n\nx\n\n")],
                              ["blob_id", "payload"])
    )
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan


def test_web_ingest_quality_gates_bite(spark, sf_tiny):
    """The end-to-end ingest must actually FILTER at gate scale — a
    vacuous quality gate would make the composed oracle check weaker than
    it claims."""
    from tree_sitter_codeviews_spark import queries as q

    kept = (
        q.web_ingest(spark, sf_tiny)
        .agg(F.sum("n_fetches").alias("n"))
        .first()
        .n
    )
    docs = spark.read.parquet(sf_tiny + "/documents.parquet").count()
    assert 0 < kept < docs


def test_robots_filter_prefix_semantics_and_plan(spark):
    pages = spark.createDataFrame(
        [
            (0, "https://a.example/doc/1"),    # exact prefix hit
            (1, "https://a.example/doc/15"),   # prefix hit (startswith)
            (2, "https://a.example/doc/2"),    # different path -> allowed
            (3, "https://b.example/doc/1"),    # host has no rule -> allowed
        ],
        ["doc_id", "url"],
    )
    rules = spark.createDataFrame(
        [("a.example", "/doc/1")], ["host", "path_prefix"]
    )
    out = webtext.robots_filter(pages, rules)
    assert sorted(r.doc_id for r in out.collect()) == [2, 3]
    # the host equi-key must plan as a broadcast HASH join with the prefix
    # test as residual — a nested-loop over the corpus would not scale
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan and "NestedLoop" not in plan


def test_outlink_extract_resolution_and_anchor_strip(spark):
    html = (
        '<html><body>'
        '<a href="https://x.example/a">first <b>bold</b>  link</a>'
        '<a href="/rel/path">rel</a>'
        '<a href="javascript:void(0)">js</a>'
        '<a href="#frag">frag</a>'
        '<a href="mailto:a@b.c">mail</a>'
        '</body></html>'
    )
    rows = (
        webtext.outlink_extract(
            spark.createDataFrame(
                [(1, "https://host.example/page", html)],
                ["doc_id", "url", "html"],
            )
        )
        .orderBy("link_idx")
        .collect()
    )
    # javascript:, fragment and mailto: hrefs are dropped; indices keep
    # their pre-filter element positions (stable provenance)
    assert [(r.link_idx, r.dst_url, r.anchor_text) for r in rows] == [
        (0, "https://x.example/a", "first bold link"),
        (1, "https://host.example/rel/path", "rel"),
    ]


def test_outlink_extract_lowercases_absolute_href_hosts(spark):
    """Mixed-case scheme+host on an ABSOLUTE href normalizes to lowercase
    (same as base), so one destination authority never appears under
    multiple case variants in the host graph; the PATH stays case-sensitive
    (RFC 3986: authority is case-insensitive, path is not)."""
    html = (
        '<a href="HTTPS://Example.COM/CaseSensitive/Path?Q=Up">up</a>'
        '<a href="http://lower.example/x">low</a>'
    )
    rows = (
        webtext.outlink_extract(
            spark.createDataFrame(
                [(1, "HTTP://Src.Example/page", html)],
                ["doc_id", "url", "html"],
            ),
            with_src_host=True,
        )
        .orderBy("link_idx")
        .collect()
    )
    assert [(r.src_host, r.dst_url) for r in rows] == [
        ("src.example", "https://example.com/CaseSensitive/Path?Q=Up"),
        ("src.example", "http://lower.example/x"),
    ]


def test_snapshot_diff_classification(spark):
    old = spark.createDataFrame(
        [("u1", "h1"), ("u2", "h2"), ("u3", "h3")], ["url", "fp"]
    )
    new = spark.createDataFrame(
        [("u1", "h1"), ("u2", "HX"), ("u4", "h4")], ["url", "fp"]
    )
    got = {
        r.url: r.status
        for r in webtext.snapshot_diff(old, new).collect()
    }
    assert got == {
        "u1": "unchanged", "u2": "changed", "u3": "removed", "u4": "added"
    }


def test_dup_ngram_stats_hand_corpus(spark):
    from tree_sitter_codeviews_spark.operators import dedup

    docs = spark.createDataFrame(
        [
            # doc 1: 3 positional 3-grams; 'a b c' repeated (multiplicity 2)
            (1, "a b c a b c"),          # grams: abc bca cab abc
            (2, "a b c x y z"),          # grams: abc bcx cxy xyz
            (3, "p q r s"),              # grams: pqr qrs (unique)
        ],
        ["doc_id", "text"],
    )
    got = {
        r.doc_id: (r.total_ngrams, r.dup_ngrams, r.dup_ppm)
        for r in dedup.dup_ngram_stats(docs).collect()
    }
    # 'a b c' is the only cross-doc gram: doc1 has it twice (both positions
    # count — multiplicity preserved), doc2 once, doc3 untouched.
    assert got[1] == (4, 2, 500_000)
    assert got[2] == (4, 1, 250_000)
    assert got[3] == (2, 0, 0)


def test_hits_integer_star_graph(spark):
    """Hand graph: hub h0 points at a1,a2; h1 points at a1. a1 is the top
    authority (2 inbound hubs), h0 the top hub (points at both
    authorities). Max-normalized scores hit exactly 1e6 at the argmax."""
    from tree_sitter_codeviews_spark.operators import linkgraph

    edges = spark.createDataFrame(
        [("h0", "a1"), ("h0", "a2"), ("h1", "a1")], ["src", "dst"]
    )
    nodes = spark.createDataFrame(
        [("h0",), ("h1",), ("a1",), ("a2",)], ["host"]
    )
    got = {
        r.host: (r.hub_micro, r.auth_micro)
        for r in linkgraph.hits_integer(edges, nodes, iterations=3).collect()
    }
    assert got["h0"][0] == 1_000_000          # best hub
    assert got["a1"][1] == 1_000_000          # best authority
    assert got["h1"][0] < got["h0"][0]        # fewer outlinks -> lower hub
    assert got["a2"][1] < got["a1"][1]        # fewer in-hubs -> lower auth
    assert got["a1"][0] == 0 and got["a2"][0] == 0    # pure authorities
    assert got["h0"][1] == 0 and got["h1"][1] == 0    # pure hubs


def test_host_graph_drops_intra_host_edges(spark):
    from tree_sitter_codeviews_spark.operators import linkgraph

    links = spark.createDataFrame(
        [
            ("a.example", "https://b.example/x"),
            ("a.example", "https://b.example/y"),
            ("a.example", "https://a.example/nav"),   # intra-host: dropped
            ("b.example", "https://a.example/z"),
        ],
        ["src_host", "dst_url"],
    )
    got = {
        (r.src_host, r.dst_host): r.n_links
        for r in linkgraph.host_graph(links).collect()
    }
    assert got == {("a.example", "b.example"): 2, ("b.example", "a.example"): 1}
    kept = linkgraph.host_graph(links, keep_self=True).count()
    assert kept == 3


def test_anchor_text_index_modal_tie_break(spark):
    links = spark.createDataFrame(
        [
            ("u", "zeta"), ("u", "zeta"),          # cnt 2
            ("u", "alpha"), ("u", "alpha"),        # cnt 2 -> wins tie (lex)
            ("u", "beta"),                          # cnt 1
        ],
        ["dst_url", "anchor_text"],
    )
    row = webtext.anchor_text_index(links).first()
    assert (row.n_links, row.n_anchors) == (5, 3)
    assert row.top_anchor == "alpha"
    assert row.top_anchor_links == 2
