"""Unit tests for integer PageRank and BPE merge training — hand-computed
fixtures independent of the oracle gate."""

from __future__ import annotations

from pyspark.sql import functions as F

from tree_sitter_codeviews_spark.operators import bpe, linkgraph


def test_pagerank_two_node_cycle(spark):
    """a <-> b, 1 iteration: each sends its full 1e6 (out_deg 1), so
    rank = 150000 + 85*1000000 div 100 = 1000000 — the cycle is the
    fixpoint. A third isolated node gets only teleport mass 150000."""
    edges = spark.createDataFrame([("a", "b"), ("b", "a")], ["src", "dst"])
    nodes = spark.createDataFrame([("a",), ("b",), ("c",)], ["host"])
    r1 = {
        r.host: r.rank_micro
        for r in linkgraph.pagerank_integer(edges, nodes, iterations=1).collect()
    }
    assert r1 == {"a": 1_000_000, "b": 1_000_000, "c": 150_000}
    # and the cycle stays at the fixpoint after more rounds
    r5 = {
        r.host: r.rank_micro
        for r in linkgraph.pagerank_integer(edges, nodes, iterations=5).collect()
    }
    assert r5["a"] == r5["b"] == 1_000_000 and r5["c"] == 150_000


def test_pagerank_split_and_truncation(spark):
    """a -> b and a -> c (out_deg 2): each target gets 1000000 div 2 =
    500000; rank_b = 150000 + 85*500000 div 100 = 575000. a receives
    nothing -> 150000."""
    edges = spark.createDataFrame([("a", "b"), ("a", "c")], ["src", "dst"])
    nodes = spark.createDataFrame([("a",), ("b",), ("c",)], ["host"])
    r = {
        x.host: x.rank_micro
        for x in linkgraph.pagerank_integer(edges, nodes, iterations=1).collect()
    }
    assert r == {"a": 150_000, "b": 575_000, "c": 575_000}


def test_bpe_train_hand_computed(spark):
    """corpus 'ab ab cd': pairs (a,b)x2, (c,d)x1 -> merge 1 = (a,b).
    After merging, 'ab' words are single symbols; merge 2 = (c,d)."""
    docs = spark.createDataFrame(
        [(1, "ab ab cd")], ["doc_id", "text"]
    )
    rules = bpe.bpe_train(docs, merges=2).collect()
    assert [(r.merge_rank, r.sym_a, r.sym_b, r.pair_count) for r in rules] == [
        (1, "a", "b", 2),
        (2, "c", "d", 1),
    ]


def test_bpe_greedy_disjoint_merge(spark):
    """'abab' has pairs (a,b)x2 (b,a)x1; merge (a,b) must apply greedily
    left-to-right and disjointly -> symbols (ab)(ab), so round 2's top
    pair is (ab, ab) — the bracket encoding's whole point."""
    docs = spark.createDataFrame([(1, "abab abab")], ["doc_id", "text"])
    rules = bpe.bpe_train(docs, merges=2).collect()
    assert (rules[0].sym_a, rules[0].sym_b) == ("a", "b")
    assert (rules[1].sym_a, rules[1].sym_b) == ("ab", "ab")


def test_containment_catches_subset_dup(spark):
    """doc 2's shingle set is a strict subset of doc 1's -> containment
    1.0 (1000000 ppm) even though Jaccard is only 2/5."""
    from tree_sitter_codeviews_spark.operators import dedup

    docs = spark.createDataFrame(
        [(1, "a b c d e f g"), (2, "a b c d")], ["doc_id", "text"]
    )
    rows = dedup.containment_pairs_exact(docs, threshold_ppm=900_000).collect()
    assert [(r.doc_id_a, r.doc_id_b, r.containment_ppm) for r in rows] == [
        (1, 2, 1_000_000)
    ]
    # the Jaccard twin at 0.5 misses exactly this pair
    j = dedup.jaccard_pairs_exact(docs, threshold=0.5).collect()
    assert j == []


def test_bpe_handles_literal_parens_in_words(spark):
    """Regression: a literal ')' or '(' inside a word must NOT corrupt
    symbol splitting (the old bracket encoding turned 'a)b' into
    '(a)()(b)' whose split invented a phantom empty symbol)."""
    from tree_sitter_codeviews_spark.operators import bpe

    docs = spark.createDataFrame(
        [(1, "a)b a)b a)b x(y x(y")], "doc_id long, text string"
    )
    rules = bpe.bpe_train(docs, merges=2).collect()
    pairs = {(r["sym_a"], r["sym_b"]) for r in rules}
    assert ("a", ")") in pairs or (")", "b") in pairs or ("a)", "b") in pairs
    assert all(r["sym_a"] != "" and r["sym_b"] != "" for r in rules)
    stats = {r["doc_id"]: (r["n_words"], r["n_tokens"], r["n_chars"])
             for r in bpe.bpe_apply(docs, merges=2).collect()}
    n_words, n_tokens, n_chars = stats[1]
    assert n_words == 5 and n_chars == 15  # parens count as real chars
    assert 0 < n_tokens < n_chars  # merges compressed, nothing vanished


def test_kcore_triangle_with_pendant(spark):
    """Triangle a-b-c plus pendant c-d: the 2-core is exactly the triangle
    (d peels in round 1, after which every survivor keeps degree 2).
    Duplicate edges and self-loops must not inflate degrees (simple-graph
    view), and the undirected view must count each partner once."""
    edges = spark.createDataFrame(
        [("a", "b"), ("b", "c"), ("c", "a"), ("c", "d"),
         ("a", "b"),            # duplicate multi-edge: deduped
         ("b", "a"),            # reverse of an existing edge: same und pair
         ("d", "d")],           # self-loop: dropped
        ["src", "dst"],
    )
    got = {(r["host"], r["degree"])
           for r in linkgraph.kcore(edges, k=2, rounds=2).collect()}
    assert got == {("a", 2), ("b", 2), ("c", 2)}


def test_kcore_peel_cascades(spark):
    """A chain a-b-c-d-e at k=2 unravels from both ends, one node per round
    (the synchronous cascade, visible round by round): rounds=1 peels the
    endpoints leaving b-c-d; in round 2 b and d peel (degree 1 in the
    induced subgraph), and the lone survivor c has no surviving partner,
    so the final induced-degree frame is empty — the chain has no 2-core."""
    chain = spark.createDataFrame(
        [("a", "b"), ("b", "c"), ("c", "d"), ("d", "e")], ["src", "dst"])
    r1 = {r["host"] for r in linkgraph.kcore(chain, k=2, rounds=1).collect()}
    assert r1 == {"b", "c", "d"}
    r2 = {r["host"] for r in linkgraph.kcore(chain, k=2, rounds=2).collect()}
    assert r2 == set()


def test_bfs_depth_directed_multi_source(spark):
    """Seeds a and x over a directed path a->b->c->d plus a shortcut x->c:
    c takes the SHORTER of its two candidate depths (1 via x, not 2 via a),
    d follows at 2, edges are not traversed backwards (nothing upstream of
    a seed gains a depth), duplicate edges don't matter, and the
    unreached island node never appears in the output."""
    edges = spark.createDataFrame(
        [("a", "b"), ("b", "c"), ("c", "d"), ("x", "c"),
         ("a", "b"),             # duplicate multi-edge: deduped
         ("u", "a"),             # upstream of seed a: u must stay unreached
         ("i", "j")],            # island: neither endpoint reached
        ["src", "dst"],
    )
    seeds = spark.createDataFrame([("a",), ("x",)], ["host"])
    got = {(r["host"], r["depth"])
           for r in linkgraph.bfs_depth(edges, seeds, rounds=3).collect()}
    assert got == {("a", 0), ("x", 0), ("b", 1), ("c", 1), ("d", 2)}


def test_bfs_depth_seed_wins_over_relaxation(spark):
    """A seed that is also reachable from another seed keeps depth 0 — the
    min-merge must never raise an existing depth (b is a seed AND a->b)."""
    edges = spark.createDataFrame([("a", "b"), ("b", "c")], ["src", "dst"])
    seeds = spark.createDataFrame([("a",), ("b",)], ["host"])
    got = {(r["host"], r["depth"])
           for r in linkgraph.bfs_depth(edges, seeds, rounds=2).collect()}
    assert got == {("a", 0), ("b", 0), ("c", 1)}


def test_trustrank_seed_gated_teleport(spark):
    """Star s -> a, s -> b, a -> b with seed {s}, one iteration, by hand:
    r0 = (s: 1e6, a: 0, b: 0); out_deg(s)=2, out_deg(a)=1.
    inbound(a) = 1e6 div 2 = 500000; inbound(b) = 500000 + 0 div 1.
    r1(s) = 150000 + 0 (seed teleport only — nothing links to s).
    r1(a) = 0 + 85*500000 div 100 = 425000 (NO teleport: not a seed).
    r1(b) = 0 + 85*500000 div 100 = 425000."""
    edges = spark.createDataFrame(
        [("s", "a"), ("s", "b"), ("a", "b")], ["src", "dst"])
    nodes = spark.createDataFrame([("s",), ("a",), ("b",)], ["host"])
    seeds = spark.createDataFrame([("s",)], ["host"])
    got = {r["host"]: r["rank_micro"]
           for r in linkgraph.trustrank_integer(edges, nodes, seeds,
                                                iterations=1).collect()}
    assert got == {"s": 150000, "a": 425000, "b": 425000}


def test_trustrank_farm_starves_without_seed_path(spark):
    """Two-node farm f1 <-> f2 disconnected from the seed: plain PageRank
    gives the farm steady teleport-fed mass, TrustRank gives it exactly 0
    at every iteration — the spam-demotion property the operator exists
    for."""
    edges = spark.createDataFrame(
        [("s", "a"), ("f1", "f2"), ("f2", "f1")], ["src", "dst"])
    nodes = spark.createDataFrame(
        [("s",), ("a",), ("f1",), ("f2",)], ["host"])
    seeds = spark.createDataFrame([("s",)], ["host"])
    tr = {r["host"]: r["rank_micro"]
          for r in linkgraph.trustrank_integer(edges, nodes, seeds,
                                               iterations=5).collect()}
    pr = {r["host"]: r["rank_micro"]
          for r in linkgraph.pagerank_integer(edges, nodes,
                                              iterations=5).collect()}
    assert tr["f1"] == 0 and tr["f2"] == 0
    assert pr["f1"] > 0 and pr["f2"] > 0  # the gap IS the signal
    assert tr["a"] > 0


def test_bowtie_hand_built_classes(spark):
    """Hand-built bowtie: i -> c1 <-> c2 -> o1 -> o2, x1 -> x2 isolated.
    Pivot c1: fwd = {c1, c2, o1, o2}, bwd = {c1, c2, i} -> classes are
    exactly Broder's core/in/out, and the disconnected island is
    'other'."""
    edges = spark.createDataFrame(
        [("i", "c1"), ("c1", "c2"), ("c2", "c1"), ("c2", "o1"),
         ("o1", "o2"), ("x1", "x2")], ["src", "dst"])
    nodes = spark.createDataFrame(
        [("i",), ("c1",), ("c2",), ("o1",), ("o2",), ("x1",), ("x2",)],
        ["host"])
    got = {r["host"]: r["cls"]
           for r in linkgraph.bowtie(edges, nodes, "c1", rounds=4).collect()}
    assert got == {"i": "in", "c1": "core", "c2": "core",
                   "o1": "out", "o2": "out", "x1": "other", "x2": "other"}


def test_bowtie_isolated_pivot_is_core(spark):
    """A pivot with no edges still reaches itself both ways (BFS depth 0),
    so it is its own one-node core; everything else is 'other'."""
    edges = spark.createDataFrame([("a", "b")], ["src", "dst"])
    nodes = spark.createDataFrame([("p",), ("a",), ("b",)], ["host"])
    got = {r["host"]: r["cls"]
           for r in linkgraph.bowtie(edges, nodes, "p", rounds=2).collect()}
    assert got == {"p": "core", "a": "other", "b": "other"}


def test_cocitation_hand_computed(spark):
    """a->{x,y,z}, b->{x,y}, c->{x}: only (a,b) shares >= 2 targets;
    cosine-squared ppm = 2*2*1e6 div (3*2) = 666666, src< ordering."""
    edges = spark.createDataFrame(
        [("a", "x"), ("a", "y"), ("a", "z"), ("b", "x"), ("b", "y"),
         ("c", "x")], ["src", "dst"])
    rows = linkgraph.cocitation(edges).collect()
    assert len(rows) == 1
    r = rows[0]
    assert (r.host_a, r.host_b, r.common, r.cocite_ppm) == (
        "a", "b", 2, 666666)


def test_cocitation_multiedges_count_once(spark):
    """Duplicate (src, dst) rows (multi-links from many pages) must not
    inflate common-target counts: edges dedupe up front."""
    edges = spark.createDataFrame(
        [("a", "x"), ("a", "x"), ("b", "x"), ("b", "x"),
         ("a", "y"), ("b", "y")], ["src", "dst"])
    rows = linkgraph.cocitation(edges).collect()
    assert len(rows) == 1 and rows[0].common == 2
    assert rows[0].cocite_ppm == 1_000_000  # identical target sets


def test_crawl_cost_bounded_by_depth(spark):
    """The weighted cost surface is consistent with BFS: every reached
    host is BFS-reachable, seeds cost 0, and cost <= depth * max edge
    cost (each hop costs at most 1e6 div 2)."""
    from pyspark.sql import functions as F

    from tree_sitter_codeviews_spark import queries as q

    sf = "/root/testdata/sf0.001"
    cost = q.webtext_crawl_cost(spark, sf).toPandas().set_index("host")["cost"]
    depth = q.webtext_crawl_depth(spark, sf).toPandas().set_index("host")["depth"]
    assert set(cost.index) == set(depth.index)
    for h, d in depth.items():
        assert (d == 0) == (cost[h] == 0)  # seeds and only seeds are free
        assert cost[h] <= d * 500_000
