"""Arms-equality pins for the size-adaptive driver arms of reach and
reaching_definitions (graph_iter.py) — same discipline as
tests/test_linkgraph_driver_arm.py: the driver arm and the distributed
loop must return bit-identical row sets and equal schemas on fixtures
exercising cycles, kills, multi-edges, edgeless seeds and unreachable
nodes."""

from __future__ import annotations

from tree_sitter_codeviews_spark.operators import graph_iter


def _edges(spark, pairs):
    return spark.createDataFrame(pairs, "src long, dst long")


# a graph with: a diamond (min-hop ties), a cycle (3->1), a multi-edge
# (2->4 twice), a self-loop (9->9) and an unreachable island (20->21)
PAIRS = [(1, 2), (2, 4), (2, 4), (1, 3), (3, 5), (5, 4), (3, 1),
         (9, 9), (4, 6), (6, 7), (20, 21)]


def _arms(distributed_arm, run, cols):
    """``run()`` on the driver arm and on the distributed arm: assert both
    schemas are equal and return both row sets as tuples of ``cols``."""
    fast = run()
    with distributed_arm():
        slow = run()
    assert fast.schema.simpleString() == slow.schema.simpleString()
    return ({tuple(r[c] for c in cols) for r in fast.collect()},
            {tuple(r[c] for c in cols) for r in slow.collect()})


def test_reach_arms_equal(spark, distributed_arm):
    e = _edges(spark, PAIRS)
    seeds = spark.createDataFrame([(1,), (9,)], "node long")
    driver, dist = _arms(distributed_arm, lambda: graph_iter.reach(e, seeds),
                         ("node", "hops"))
    assert driver == dist
    assert driver  # non-vacuous


def test_reach_arms_equal_under_max_iter_cut(spark, distributed_arm):
    # chain 0->1->...->7; max_iter=3 truncates both arms identically
    e = _edges(spark, [(i, i + 1) for i in range(7)])
    seeds = spark.createDataFrame([(0,)], "node long")
    driver, dist = _arms(distributed_arm,
                         lambda: graph_iter.reach(e, seeds, max_iter=3),
                         ("node", "hops"))
    assert driver == dist == {(0, 0), (1, 1), (2, 2), (3, 3)}


def test_reach_edgeless_seed_arms_equal(spark, distributed_arm):
    # seed 99 has no edges: reached at 0, reaches nothing, on both arms
    e = _edges(spark, PAIRS)
    seeds = spark.createDataFrame([(20,), (99,)], "node long")
    driver, dist = _arms(distributed_arm, lambda: graph_iter.reach(e, seeds),
                         ("node", "hops"))
    assert driver == dist == {(20, 0), (21, 1), (99, 0)}


def _rda_fixture(spark):
    # defs of var 0 at nodes 1 and 4 (4 kills 1's fact downstream), var 1
    # at node 3; cycle 3->1 re-propagates facts; island def at 20
    e = _edges(spark, PAIRS)
    defs = spark.createDataFrame(
        [(1, 0), (4, 0), (3, 1), (20, 5)], "node long, var long"
    )
    return e, defs


def test_rda_arms_equal(spark, distributed_arm):
    e, defs = _rda_fixture(spark)
    driver, dist = _arms(distributed_arm,
                         lambda: graph_iter.reaching_definitions(e, defs),
                         ("node", "var", "def_node"))
    assert driver == dist
    assert driver  # non-vacuous
    # the kill actually bites: def 1's var-0 fact must not pass node 4
    assert (6, 0, 1) not in driver and (6, 0, 4) in driver


def test_rda_arms_equal_under_max_iter_cut(spark, distributed_arm):
    # chain 0->1->...->9, one def at 0: max_iter=3 bounds fact depth at 4
    e = _edges(spark, [(i, i + 1) for i in range(9)])
    defs = spark.createDataFrame([(0, 0)], "node long, var long")
    driver, dist = _arms(
        distributed_arm,
        lambda: graph_iter.reaching_definitions(e, defs, max_iter=3),
        ("node", "var", "def_node"))
    assert driver == dist == {(i, 0, 0) for i in range(1, 5)}


def test_rda_fact_cap_falls_back_to_distributed(
    spark, distributed_arm, monkeypatch
):
    e, defs = _rda_fixture(spark)
    with monkeypatch.context() as m:
        m.setattr(graph_iter, "DRIVER_FACT_CAP", 2)
        capped = {(r.node, r.var, r.def_node)
                  for r in graph_iter.reaching_definitions(e, defs).collect()}
    with distributed_arm():
        dist = {(r.node, r.var, r.def_node)
                for r in graph_iter.reaching_definitions(e, defs).collect()}
    assert capped == dist
