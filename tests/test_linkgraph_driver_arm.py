"""The size-adaptive driver arm of every iterative linkgraph operator must
be BIT-EQUAL to the distributed loop, schema included (the
connected_components discipline: the ``distributed_arm`` fixture forces
the distributed arm; otherwise the driver arm runs on these dim-sized
fixtures)."""

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


def _arms_equal(distributed_arm, run):
    """Run ``run()`` on the driver arm and on the distributed arm; assert
    both return the same schema and the same rows; return the rows."""
    fast = run()
    with distributed_arm():
        slow = run()
    assert fast.schema.simpleString() == slow.schema.simpleString()
    rows = _sorted(fast)
    assert rows == _sorted(slow)
    return rows


def test_pagerank_arms_equal(spark, edges, nodes, distributed_arm):
    _arms_equal(distributed_arm,
                lambda: linkgraph.pagerank_integer(edges, nodes, iterations=7))


def test_hits_arms_equal(spark, edges, nodes, distributed_arm):
    _arms_equal(distributed_arm,
                lambda: linkgraph.hits_integer(edges, nodes, iterations=4))


def test_trustrank_arms_equal(spark, edges, nodes, distributed_arm):
    seeds = nodes.filter(F.col("host").isin("a", "e"))
    _arms_equal(distributed_arm, lambda: linkgraph.trustrank_integer(
        edges, nodes, seeds, iterations=6))


def test_kcore_arms_equal(spark, edges, distributed_arm):
    _arms_equal(distributed_arm, lambda: linkgraph.kcore(edges, k=2, rounds=3))


def test_bfs_depth_arms_equal(spark, edges, nodes, distributed_arm):
    seeds = nodes.filter(F.col("host") == "e")
    _arms_equal(distributed_arm,
                lambda: linkgraph.bfs_depth(edges, seeds, rounds=3))


def test_bfs_depth_arms_equal_under_round_cut(spark, edges, nodes,
                                              distributed_arm):
    # from a, b/c/x sit at 1 hop and d at 2: rounds=1 cuts d on both arms
    seeds = nodes.filter(F.col("host") == "a")
    rows = _arms_equal(distributed_arm,
                       lambda: linkgraph.bfs_depth(edges, seeds, rounds=1))
    assert rows == [("a", 0), ("b", 1), ("c", 1), ("x", 1)]


def test_cheapest_paths_arms_equal(spark, edges, nodes, distributed_arm):
    seeds = nodes.filter(F.col("host") == "e")
    _arms_equal(distributed_arm,
                lambda: linkgraph.cheapest_paths(edges, seeds, rounds=3))


def test_bowtie_arms_equal(spark, edges, nodes, distributed_arm):
    _arms_equal(distributed_arm,
                lambda: linkgraph.bowtie(edges, nodes, "a", rounds=4))


def test_bowtie_arms_equal_under_round_cut(spark, edges, nodes,
                                           distributed_arm):
    # d links back to a (1 hop) but a reaches d only in 2: at rounds=1 d
    # is 'in', not 'core', on both arms
    rows = _arms_equal(distributed_arm,
                       lambda: linkgraph.bowtie(edges, nodes, "a", rounds=1))
    assert ("d", "in") in rows


def test_edgeless_seed_and_pivot_arms_equal(spark, edges, nodes,
                                            distributed_arm):
    # "lone" is a node with no edges: as a BFS seed it is reached at 0 and
    # reaches nothing; as the bowtie pivot it is the whole core
    with_lone = nodes.unionAll(spark.createDataFrame([("lone",)], "host string"))
    seeds = with_lone.filter(F.col("host").isin("e", "lone"))
    depth = _arms_equal(distributed_arm,
                        lambda: linkgraph.bfs_depth(edges, seeds, rounds=2))
    assert ("lone", 0) in depth and ("e", 0) in depth
    cls = _arms_equal(distributed_arm,
                      lambda: linkgraph.bowtie(edges, with_lone, "lone", rounds=2))
    assert cls == [("a", "other"), ("b", "other"), ("c", "other"),
                   ("d", "other"), ("e", "other"), ("lone", "core")]


def test_label_propagation_arms_equal(spark, edges, nodes, distributed_arm):
    _arms_equal(distributed_arm,
                lambda: linkgraph.label_propagation(edges, nodes, iterations=3))


def test_bpe_train_arms_equal(spark, distributed_arm):
    from tree_sitter_codeviews_spark.operators import bpe

    docs = spark.createDataFrame(
        [(i, "the cat sat on the mat " * (1 + i % 3)) for i in range(40)],
        "doc_id long, text string",
    )
    _arms_equal(distributed_arm, lambda: bpe.bpe_train(docs, merges=6))
