"""Graph-view transforms in relational form: combine, collapse, minimize.

The reference materializes per-document multigraphs and transforms them
imperatively; the engine represents a graph as two DataFrames —
``nodes(graph_id, node_id, label, node_type, ...)`` and
``edges(graph_id, src, dst, edge_type)`` — and each transform is a join
shape (cf. SURVEY.md §2.2 rows "Collapse"/"Blacklist minimize" and §2.3 row
"Combined-view union"):

- **combine_views** (reference ``combined_driver.py:78-108``): overlay
  multiple views sharing one node-id space — ``unionByName`` +
  ``dropDuplicates`` on nodes; plain union on edges (multigraph: duplicate
  (src,dst) with different edge_type are meaningful, so dedupe keys include
  the type — SURVEY.md §7.4(6)).
- **collapse_nodes** (reference ``AST.py:49-86``): merge all same-label
  nodes into the min-id representative and rewrite edges through the
  mapping — a groupBy(min) + two broadcast-able mapping joins.
- **minimize_nodes** (reference ``AST.py:88-107``): delete nodes of
  blacklisted types and rewire every predecessor→successor pair around the
  removed node — an anti-join to drop, plus a self-join
  ``edges_in ⋈ edges_out ON mid`` to bypass (one transitive step, as in the
  reference, which removes only leaf/chain nodes of the given type).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def combine_views(
    nodes_views: list[DataFrame],
    edges_views: list[DataFrame],
) -> tuple[DataFrame, DataFrame]:
    from functools import reduce

    nodes = reduce(lambda a, b: a.unionByName(b), nodes_views).dropDuplicates(
        ["graph_id", "node_id"])
    edges = reduce(lambda a, b: a.unionByName(b), edges_views)
    return nodes, edges


def collapse_nodes(
    nodes: DataFrame,
    edges: DataFrame,
) -> tuple[DataFrame, DataFrame]:
    """Merge same-label nodes per graph into the min node_id; rewrite edges.

    Self-loops created by the merge are kept (matching the reference, which
    redirects edges without filtering loops, ``AST.py:60-80``)."""
    mapping = nodes.groupBy("graph_id", "label").agg(
        F.min("node_id").alias("rep_id")
    )
    new_nodes = (
        nodes.join(mapping, ["graph_id", "label"])
        .select("graph_id", F.col("rep_id").alias("node_id"), "label")
        .dropDuplicates(["graph_id", "node_id"])
    )
    node_map = nodes.join(mapping, ["graph_id", "label"]).select(
        "graph_id", "node_id", "rep_id"
    )
    src_map = node_map.select(
        "graph_id", F.col("node_id").alias("src"), F.col("rep_id").alias("new_src")
    )
    dst_map = node_map.select(
        "graph_id", F.col("node_id").alias("dst"), F.col("rep_id").alias("new_dst")
    )
    new_edges = (
        edges.join(src_map, ["graph_id", "src"])
        .join(dst_map, ["graph_id", "dst"])
        .select(
            "graph_id",
            F.col("new_src").alias("src"),
            F.col("new_dst").alias("dst"),
            "edge_type",
        )
        .dropDuplicates(["graph_id", "src", "dst", "edge_type"])
    )
    return new_nodes, new_edges


def minimize_nodes(
    nodes: DataFrame,
    edges: DataFrame,
    blacklist: list[str],
) -> tuple[DataFrame, DataFrame]:
    """Drop blacklisted-type nodes; rewire pred→succ around each (one hop)."""
    dead = nodes.filter(F.col("node_type").isin(blacklist)).select(
        "graph_id", F.col("node_id").alias("mid")
    )
    keep_nodes = nodes.join(
        dead.withColumnRenamed("mid", "node_id"), ["graph_id", "node_id"], "left_anti"
    )
    into_dead = edges.join(
        dead, (edges["graph_id"] == dead["graph_id"]) & (edges["dst"] == dead["mid"])
    ).select(edges["graph_id"].alias("graph_id"), "src", F.col("mid"), "edge_type")
    out_of_dead = edges.join(
        dead, (edges["graph_id"] == dead["graph_id"]) & (edges["src"] == dead["mid"])
    ).select(edges["graph_id"].alias("graph_id"), F.col("mid").alias("mid2"), "dst")
    bypass = into_dead.join(
        out_of_dead,
        (into_dead["graph_id"] == out_of_dead["graph_id"])
        & (into_dead["mid"] == out_of_dead["mid2"]),
    ).select(into_dead["graph_id"].alias("graph_id"), "src", "dst", "edge_type")
    dead_src = dead.withColumnRenamed("mid", "src")
    dead_dst = dead.withColumnRenamed("mid", "dst")
    kept_edges = (
        edges.join(dead_src, ["graph_id", "src"], "left_anti")
        .join(dead_dst, ["graph_id", "dst"], "left_anti")
    )
    new_edges = kept_edges.unionByName(bypass).dropDuplicates(
        ["graph_id", "src", "dst", "edge_type"]
    )
    return keep_nodes, new_edges
