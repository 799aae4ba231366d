"""The size-adaptive driver arm of every iterative linkgraph operator must
be BIT-EQUAL to the distributed loop (the connected_components discipline:
the ``distributed_arm`` fixture forces the distributed arm; otherwise the
driver arm runs on these dim-sized fixtures)."""

import pytest
from pyspark.sql import functions as F

from tree_sitter_codeviews_spark.operators import linkgraph


@pytest.fixture(scope="module")
def edges(spark):
    # multi-edges, self-loop, a node outside the node dim, asymmetric links
    rows = [
        ("a", "b"), ("a", "b"), ("b", "c"), ("c", "a"), ("c", "d"),
        ("d", "a"), ("d", "b"), ("b", "b"), ("e", "a"), ("a", "x"),
        ("x", "b"), ("c", "b"), ("d", "c"), ("e", "d"), ("a", "c"),
    ]
    return spark.createDataFrame(rows, "src string, dst string")


@pytest.fixture(scope="module")
def nodes(spark):
    return spark.createDataFrame(
        [("a",), ("b",), ("c",), ("d",), ("e",)], "host string")


def _sorted(df):
    return sorted(tuple(r) for r in df.collect())


def test_pagerank_arms_equal(spark, edges, nodes, distributed_arm):
    fast = linkgraph.pagerank_integer(edges, nodes, iterations=7)
    with distributed_arm():
        slow = linkgraph.pagerank_integer(edges, nodes, iterations=7)
    assert _sorted(fast) == _sorted(slow)


def test_hits_arms_equal(spark, edges, nodes, distributed_arm):
    fast = linkgraph.hits_integer(edges, nodes, iterations=4)
    with distributed_arm():
        slow = linkgraph.hits_integer(edges, nodes, iterations=4)
    assert _sorted(fast) == _sorted(slow)


def test_trustrank_arms_equal(spark, edges, nodes, distributed_arm):
    seeds = nodes.filter(F.col("host").isin("a", "e"))
    fast = linkgraph.trustrank_integer(edges, nodes, seeds, iterations=6)
    with distributed_arm():
        slow = linkgraph.trustrank_integer(edges, nodes, seeds, iterations=6)
    assert _sorted(fast) == _sorted(slow)


def test_kcore_arms_equal(spark, edges, distributed_arm):
    fast = linkgraph.kcore(edges, k=2, rounds=3)
    with distributed_arm():
        slow = linkgraph.kcore(edges, k=2, rounds=3)
    assert _sorted(fast) == _sorted(slow)


def test_bfs_depth_arms_equal(spark, edges, nodes, distributed_arm):
    seeds = nodes.filter(F.col("host") == "e")
    fast = linkgraph.bfs_depth(edges, seeds, rounds=3)
    with distributed_arm():
        slow = linkgraph.bfs_depth(edges, seeds, rounds=3)
    assert _sorted(fast) == _sorted(slow)


def test_cheapest_paths_arms_equal(spark, edges, nodes, distributed_arm):
    seeds = nodes.filter(F.col("host") == "e")
    fast = linkgraph.cheapest_paths(edges, seeds, rounds=3)
    with distributed_arm():
        slow = linkgraph.cheapest_paths(edges, seeds, rounds=3)
    assert _sorted(fast) == _sorted(slow)


def test_bowtie_arms_equal(spark, edges, nodes, distributed_arm):
    fast = linkgraph.bowtie(edges, nodes, "a", rounds=4)
    with distributed_arm():
        slow = linkgraph.bowtie(edges, nodes, "a", rounds=4)
    assert _sorted(fast) == _sorted(slow)


def test_label_propagation_arms_equal(spark, edges, nodes, distributed_arm):
    fast = linkgraph.label_propagation(edges, nodes, iterations=3)
    with distributed_arm():
        slow = linkgraph.label_propagation(edges, nodes, iterations=3)
    assert _sorted(fast) == _sorted(slow)


def test_bpe_train_arms_equal(spark, distributed_arm):
    from tree_sitter_codeviews_spark.operators import bpe

    docs = spark.createDataFrame(
        [(i, "the cat sat on the mat " * (1 + i % 3)) for i in range(40)],
        "doc_id long, text string",
    )
    fast = bpe.bpe_train(docs, merges=6)
    with distributed_arm():
        slow = bpe.bpe_train(docs, merges=6)
    assert sorted(map(tuple, fast.collect())) == sorted(map(tuple, slow.collect()))
