"""Output sinks mirroring the reference's serialization surface.

The reference writes every view as JSON node/edge lists and optionally as
Graphviz DOT (``utils/postprocessor.py:30-71``). Engine form:

- **graph_to_json** — one JSON document per graph (collect_list over the
  node/edge tables — the per-graph payloads are bounded, the table of
  payloads is not), written with the parquet/json writer of choice.
- **graph_to_dot** — one DOT text per graph, same aggregation shape. These
  are *sinks*: the DataFrame of (graph_id, payload) rows is what scales;
  rendering a single graph's payload is O(bounded graph size).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def graph_to_dot(nodes: DataFrame, edges: DataFrame) -> DataFrame:
    """(graph_id, dot): a Graphviz digraph per graph, deterministic member
    order (sort_array), built entirely from native string aggregation."""
    node_lines = nodes.groupBy("graph_id").agg(
        F.array_join(
            F.sort_array(F.collect_list(
                F.format_string('  n%s [label="%s"];', F.col("node_id"), F.col("label"))
            )),
            "\n",
        ).alias("_nodes")
    )
    edge_lines = edges.groupBy("graph_id").agg(
        F.array_join(
            F.sort_array(F.collect_list(
                F.format_string('  n%s -> n%s [label="%s"];',
                                F.col("src"), F.col("dst"), F.col("edge_type"))
            )),
            "\n",
        ).alias("_edges")
    )
    return node_lines.join(edge_lines, "graph_id", "left").select(
        "graph_id",
        F.concat(
            F.format_string("digraph g%s {\n", F.col("graph_id")),
            F.col("_nodes"), F.lit("\n"),
            F.coalesce(F.col("_edges"), F.lit("")), F.lit("\n}"),
        ).alias("dot"),
    )


def graph_to_json(nodes: DataFrame, edges: DataFrame) -> DataFrame:
    """(graph_id, json): the reference's node/edge-list JSON per graph."""
    nl = nodes.groupBy("graph_id").agg(
        F.sort_array(F.collect_list(F.struct("node_id", "label"))).alias("nodes")
    )
    el = edges.groupBy("graph_id").agg(
        F.sort_array(F.collect_list(F.struct("src", "dst", "edge_type"))).alias("links")
    )
    return nl.join(el, "graph_id", "left").select(
        "graph_id",
        F.to_json(F.struct("nodes", "links")).alias("json"),
    )
