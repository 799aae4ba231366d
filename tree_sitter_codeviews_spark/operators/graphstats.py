"""Grouped-map per-graph analytics (``applyInPandas``).

The reference builds one statement graph per document and computes graph
metrics imperatively on each (``codeviews/CFG/CFG_c.py:540-939`` constructs
the per-function multigraph node/edge lists). The engine analogue — SURVEY.md
§2.10 row 5 — is Spark's grouped-map: partition the edge table by graph key,
hand each group to a pandas function, return one summary row per graph.

The contract that makes this 100 TB-safe: groups must be *individually
bounded* (here: one graph per host, bounded fan-in by construction). The
group is the unit of memory — a million bounded graphs across 1000 executors
is the sweet spot; one giant graph is not (that's what ``graph_iter.py``'s
distributed operators are for).
"""

from __future__ import annotations

from collections import deque

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import types as T

METRICS_SCHEMA = T.StructType([
    T.StructField("graph_id", T.LongType()),
    T.StructField("n_nodes", T.LongType()),
    T.StructField("n_edges", T.LongType()),
    T.StructField("n_components", T.LongType()),
    T.StructField("diameter", T.LongType()),
])


def _bfs_dists(adj: dict, start) -> dict:
    d = {start: 0}
    q = deque([start])
    while q:
        u = q.popleft()
        for v in adj.get(u, ()):
            if v not in d:
                d[v] = d[u] + 1
                q.append(v)
    return d


def _one_graph(pdf: pd.DataFrame) -> pd.DataFrame:
    gid = int(pdf["graph_id"].iloc[0])
    src = pdf["src"].to_numpy()
    dst = pdf["dst"].to_numpy()
    nodes = set(src) | set(dst)
    adj: dict = {}
    n_edges = 0
    seen_edges = set()
    for a, b in zip(src, dst):
        if (a, b) in seen_edges:
            continue
        seen_edges.add((a, b))
        n_edges += 1
        adj.setdefault(a, []).append(b)
        adj.setdefault(b, []).append(a)  # undirected metrics
    # components + diameter (max over components of eccentricity sweep)
    unvisited = set(nodes)
    n_comp = 0
    diameter = 0
    while unvisited:
        n_comp += 1
        s = min(unvisited)  # deterministic traversal order
        d = _bfs_dists(adj, s)
        # double sweep: BFS from the farthest node found (exact on trees,
        # which is what the per-host chain graphs are; lower bound otherwise)
        far = max(d, key=lambda k: (d[k], k))
        d2 = _bfs_dists(adj, far)
        diameter = max(diameter, max(d2.values()))
        unvisited -= d.keys()
    return pd.DataFrame({
        "graph_id": [gid],
        "n_nodes": [len(nodes)],
        "n_edges": [n_edges],
        "n_components": [n_comp],
        "diameter": [diameter],
    })


def graph_metrics(edges: DataFrame) -> DataFrame:
    """edges(graph_id, src, dst) -> one metrics row per graph.

    One shuffle on graph_id, then per-group pandas. Diameter is the exact
    tree diameter via double-BFS sweep (the graphs this engine feeds it are
    forests of chain segments); on cyclic graphs it is the standard
    double-sweep lower bound."""
    e = edges.select("graph_id", "src", "dst")
    # pin grouped-map parallelism (the tile_diameter discipline): AQE
    # coalesces the small edge shuffle to 1-2 partitions, serializing the
    # per-graph pandas work through one Python worker
    e = e.repartition(e.sparkSession.sparkContext.defaultParallelism, "graph_id")
    return e.groupBy("graph_id").applyInPandas(_one_graph, METRICS_SCHEMA)
