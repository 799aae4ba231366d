"""Named queries: the engine's public query surface.

Each function takes (spark, sf_dir) and returns a DataFrame whose row set,
schema and values match the DuckDB oracle of the same name in ``oracle.py``
(driver correctness gate). Column names are aliased identically on both
sides (the driver's compare sorts columns by name before hashing).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from .localdf import arrow_local_df

from . import cells, layers
from .operators import extract, knn, pip_join, tiles
from .sources import pages as pages_src


# ---------------------------------------------------------------------------
# geo suite
# ---------------------------------------------------------------------------

def _grid_cell(res: int) -> Column:
    """The res-``res`` Morton cell of a point's (gx, gy) grid coordinates."""
    shift = layers.GRID_RES - res
    return F.expr(cells.morton_sql(
        f"shiftright(gx, {shift})", f"shiftright(gy, {shift})", res
    ))


def geo_cell_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, res, cell_id) at res 7..10 — one scan, parents by truncation."""
    pts = pages_src.doc_points_df(spark, sf_dir)
    c10 = F.expr(cells.morton_sql("gx", "gy", layers.GRID_RES))
    levels = F.array(*[
        F.struct(
            F.lit(r).alias("res"),
            F.shiftright(c10, 2 * (layers.GRID_RES - r)).alias("cell_id"),
        )
        for r in range(7, 11)
    ])
    return pts.select("doc_id", F.explode(levels).alias("l")).select(
        "doc_id", "l.res", "l.cell_id"
    )


def geo_s2_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, level, cell_id) at S2-style Hilbert levels 12..16.

    Finest level encoded once via the branchless JVM bit-parallel transform
    (zero per-row Python); coarser levels by truncation (the Hilbert curve
    is self-similar — ``s2.py``)."""
    from . import s2

    pts = pages_src.doc_points_df(spark, sf_dir).withColumns({
        "x16": s2.upscale_grid_col(F.col("gx"), layers.GRID_RES, s2.S2_RES),
        "y16": s2.upscale_grid_col(F.col("gy"), layers.GRID_RES, s2.S2_RES),
    })
    h = s2.with_hilbert_col(pts, "x16", "y16", s2.S2_RES, out="h16")
    levels = F.array(*[
        F.struct(
            F.lit(lvl).alias("level"),
            s2.hilbert_at_level_col(F.col("h16"), lvl).alias("cell_id"),
        )
        for lvl in s2.S2_LEVELS
    ])
    return h.select("doc_id", F.explode(levels).alias("l")).select(
        "doc_id", "l.level", "l.cell_id"
    )


def geo_pip_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    pts = pages_src.doc_points_df(spark, sf_dir).withColumn(
        "cell", F.expr(cells.morton_sql("gx", "gy", layers.GRID_RES))
    )
    return pip_join.pip_join(pts, spark, keys=("doc_id",)).select(
        "doc_id", "cell_id", "polygon_id"
    )


def geo_pip_best(spark: SparkSession, sf_dir: str) -> DataFrame:
    pts = pages_src.doc_points_df(spark, sf_dir).withColumn(
        "cell", F.expr(cells.morton_sql("gx", "gy", layers.GRID_RES))
    )
    joined = pip_join.pip_join(pts, spark, keys=("doc_id",))
    return pip_join.pip_best(joined, keys=("doc_id",)).select(
        "doc_id", "cell_id", "polygon_id", "admin_level"
    )


def geo_entities(spark: SparkSession, sf_dir: str) -> DataFrame:
    pages = pages_src.pages_df(spark, sf_dir)
    gaz = pages_src.gazetteer_df(spark)
    return extract.page_entities(pages, gaz).select(
        "url", "entity_id", "surface", "char_offset", "lon", "lat"
    )


def page_triples(ents: DataFrame, spark: SparkSession) -> DataFrame:
    """Flagship stage 3: entity rows -> two-phase PIP -> distinct (url,
    cell_id, polygon_id) triples."""
    joined = pip_join.pip_join(ents, spark, keys=("url",))
    return joined.select("url", "cell_id", "polygon_id").distinct()


def geo_pip_entities(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flagship: pages -> extract -> encode -> two-phase PIP -> triples."""
    pages = pages_src.pages_df(spark, sf_dir)
    gaz = pages_src.gazetteer_df(spark)
    return page_triples(extract.page_entities(pages, gaz), spark)


def geo_tiles_salted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``geo_tiles`` at the finest res only: the batch twin of
    ``geo_tiles_stream``. The name is kept from when the count was salted.
    A hot cell needs no salt: the count's partial aggregate runs map-side,
    so the shuffle carries at most one row per cell per map task."""
    pts = pages_src.doc_points_df(spark, sf_dir)
    return tiles.tile_counts(pts, res_lo=10, res_hi=10, grid_res=layers.GRID_RES)


def geo_tiles_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming continuous tile aggregate: the document stream is encoded
    (deterministic point derivation + Morton, all pure projections — fully
    streamable) and rolled up per finest-res cell in complete mode, drained
    with availableNow. The streaming twin of ``geo_tiles_salted`` (the
    finest-res ``geo_tiles``): same result set, maintained incrementally as pages arrive — the hypertable-
    rollup shape for a live ingest."""
    from . import streaming

    docs = streaming.stream_documents(spark, sf_dir).select("doc_id")
    pts = pages_src.points_from_ids(docs)
    agg = (
        pts.withColumn(
            "cell_id", F.expr(cells.morton_sql("gx", "gy", layers.GRID_RES))
        )
        .groupBy("cell_id")
        .agg(F.count("*").alias("n_docs"))
        .select(F.lit(layers.GRID_RES).alias("res"), "cell_id", "n_docs")
    )
    return streaming.run_available_now(agg, mode="complete")


def geo_tiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    pts = pages_src.doc_points_df(spark, sf_dir)
    return tiles.tile_counts(pts, res_lo=7, res_hi=10, grid_res=layers.GRID_RES)


def geo_distance_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spatial range self-join: all doc pairs within 2 planar degrees
    (DBSCAN's neighborhood step), cell-blocked at res 5 — the blocking is
    provably lossless at this eps, so the oracle is the pure quadratic
    distance predicate, not a mirror of the blocking."""
    from .operators import knn

    pts = pages_src.doc_points_df(spark, sf_dir)
    return knn.distance_join(pts, eps=2.0, res=5)

def geo_tiles_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-tile EXACT distinct-host counts at res 7 (the per-tile
    distinct-url metric; SURVEY.md §2.4). Exact count_distinct is the
    oracle-checked path; ``geo_tiles_approx`` is the approx variant."""
    pts = pages_src.doc_points_df(spark, sf_dir)
    host = (F.col("doc_id") % 100).alias("host_id")
    cell7 = _grid_cell(7)
    return (
        pts.select(cell7.alias("cell_id"), host)
        .groupBy("cell_id")
        .agg(
            F.countDistinct("host_id").alias("n_hosts"),
            F.count("*").alias("n_docs"),
        )
    )


def geo_tiles_approx(spark: SparkSession, sf_dir: str) -> DataFrame:
    """approx_count_distinct (HLL) per tile — the 10^12-row path where exact
    distinct would shuffle every (cell, host) pair. Rows-only check (HLL
    estimates are engine-specific by design)."""
    pts = pages_src.doc_points_df(spark, sf_dir)
    cell7 = _grid_cell(7)
    return (
        pts.select(cell7.alias("cell_id"), (F.col("doc_id") % 100).alias("host_id"))
        .groupBy("cell_id")
        .agg(F.approx_count_distinct("host_id", 0.02).alias("n_hosts_approx"))
    )


def geo_vector_raster(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vector -> raster: burn the polygon layer onto the res-7 cell grid.
    (sf_dir unused — the layer is data-independent; kept for the contract.)"""
    from .operators import raster

    return raster.rasterize_polygons(spark, res=7)


def geo_raster_compact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Raster -> vector: per-tile doc counts at res 10, folded into the
    compacted cell hierarchy (complete sibling sets -> parent)."""
    pts = pages_src.doc_points_df(spark, sf_dir)
    finest = (
        pts.select(
            F.expr(cells.morton_sql("gx", "gy", layers.GRID_RES)).alias("cell_id")
        )
        .groupBy("cell_id")
        .agg(F.count("*").alias("n_docs"))
    )
    return tiles.compact_tiles(finest, res=layers.GRID_RES, min_res=0)


def geo_knn(spark: SparkSession, sf_dir: str) -> DataFrame:
    pts = pages_src.doc_points_df(spark, sf_dir)
    return knn.knn_ring(pts, spark, k=5, res=5)


def geo_tile_smooth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Raster 3x3 box convolution (focal statistics / heatmap smoothing)
    over the res-7 doc-count raster — the convolution runs on the SMALL
    raster (9x narrow explode + one groupBy), never on the point table."""
    pts = pages_src.doc_points_df(spark, sf_dir)
    return tiles.tile_smooth(pts, res=7, grid_res=layers.GRID_RES)


def events_stream_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream interval join (attribution shape): purchases joined to
    the same user's clicks within the preceding 2 hours, two watermarked
    file-source streams, drained with availableNow — deterministic on
    bounded input, so the oracle is the batch self-join."""
    from . import streaming

    return streaming.run_available_now(
        streaming.stream_click_purchase_join(spark, sf_dir), mode="append"
    )


def geo_overlay_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Polygon-overlay statistics via raster intersection (raster-GIS
    overlay): pairs of polygons sharing res-7 cells + the estimated overlap
    area. Touches no data table at all — pure grid x layer work."""
    from .operators import raster

    return raster.overlay_stats(spark, res=7)

def geo_extract_text(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(url, text_out) — the byte-identical extraction invariant, checked
    value-for-value against an oracle that reconstructs the text directly."""
    pages = pages_src.pages_df(spark, sf_dir)
    return extract.extract_pages(pages).select("url", "text_out")


# ---------------------------------------------------------------------------
# graph-view transforms (the reference's combine/collapse/minimize,
# SURVEY.md §2.2/§2.3, in relational form — operators/views.py)
# ---------------------------------------------------------------------------

def _doc_graph(spark: SparkSession, sf_dir: str):
    """Deterministic per-host graph: nodes = docs (label = res-5 cell,
    node_type cycles city/poi/region); edges = the doc_id-ordered chain
    within each host. Shapes mirror the reference's per-document
    node/edge lists (CFG_c.py:540-939) as DataFrames."""
    from pyspark.sql import Window

    pts = pages_src.doc_points_df(spark, sf_dir)
    cell5 = _grid_cell(5)
    ntype = F.element_at(
        F.array(F.lit("city"), F.lit("poi"), F.lit("region")),
        (F.col("doc_id") % 3 + 1).cast("int"),
    )
    nodes = pts.select(
        (F.col("doc_id") % 100).alias("graph_id"),
        F.col("doc_id").alias("node_id"),
        cell5.alias("label"),
        ntype.alias("node_type"),
    )
    w = Window.partitionBy("graph_id").orderBy("node_id")
    edges = (
        nodes.select(
            "graph_id", F.col("node_id").alias("src"),
            F.lead("node_id").over(w).alias("dst"),
        )
        .filter(F.col("dst").isNotNull())
        .withColumn("edge_type", F.lit("next"))
    )
    return nodes, edges


def _broken_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Doc-chain edges with deterministic breaks (src % 7 == 3 dropped) —
    turns each per-host chain into several path components; the fixture for
    every iterative-graph gate query."""
    _, edges = _doc_graph(spark, sf_dir)
    return edges.filter(F.col("src") % 7 != 3)


def graph_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Connected components of the broken doc-chain graph (node ids are
    globally unique, so one distributed CC run covers every host's graph).
    Reference: nx.weakly_connected_components, CFG_c.py:41-49."""
    from .operators import graph_iter

    return graph_iter.connected_components(_broken_edges(spark, sf_dir)).select(
        F.col("node").alias("node_id"), "component"
    )


def graph_reach(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Min-hop BFS from the chain heads (doc_id < 100) over the broken
    chain — the reference's interproc propagation shape
    (SDFG_c.py:1610-1638) / derived-class closure (CFG_cpp.py:407-438)."""
    from .operators import graph_iter

    edges = _broken_edges(spark, sf_dir)
    seeds = edges.sparkSession.range(100).select(F.col("id").alias("node"))
    # seeds restricted to nodes that exist in the doc set
    nodes, _ = _doc_graph(spark, sf_dir)
    seeds = seeds.join(nodes.select(F.col("node_id").alias("node")), "node")
    return graph_iter.reach(edges, seeds).select(
        F.col("node").alias("node_id"), F.col("hops").cast("long").alias("hops")
    )


def _var_nodes(nodes: DataFrame, mod: int, rem: int) -> DataFrame:
    """(node, var = node_id % 3) for the doc-chain nodes with node_id % mod
    == rem: the fixture's definitions are (4, 1), its uses (5, 2)."""
    return nodes.filter(F.col("node_id") % mod == rem).select(
        F.col("node_id").alias("node"), (F.col("node_id") % 3).alias("var")
    )


def graph_rda(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reaching-definitions over the broken doc chain — the reference's
    central dataflow analysis (DFG_RDA / SDFG gen-kill propagation) as a
    distributed gen/kill frontier BFS. Defs: every node with node_id%4==1
    defines var node_id%3; a def reaches downstream nodes until another
    def of the same var intervenes."""
    from .operators import graph_iter

    nodes, _ = _doc_graph(spark, sf_dir)
    edges = _broken_edges(spark, sf_dir)
    defs = _var_nodes(nodes, 4, 1)
    return graph_iter.reaching_definitions(edges, defs).select(
        F.col("node").alias("node_id"), "var", "def_node"
    )


def graph_sdfg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference's FLAGSHIP artifact end-to-end: the statement-level
    combined CFG+DFG (its "SDFG", combined_driver.py + SDFG_c.py) realized
    over the doc-chain fixture. CFG edges = the broken chain; DFG edges =
    def->use pairs derived from the reaching-definitions fixpoint (a def
    reaches a node AND that node uses the var: nodes with node_id%5==2 use
    var node_id%3); combined = shared-node-id union tagged by edge_type."""
    from .operators import graph_iter

    nodes, _ = _doc_graph(spark, sf_dir)
    edges = _broken_edges(spark, sf_dir)
    cfg = edges.select("src", "dst").withColumn("edge_type", F.lit("cfg"))
    defs = _var_nodes(nodes, 4, 1)
    rda = graph_iter.reaching_definitions(edges, defs)
    uses = _var_nodes(nodes, 5, 2)
    dfg = (
        rda.join(uses, ["node", "var"])
        .select(F.col("def_node").alias("src"), F.col("node").alias("dst"))
        .withColumn("edge_type", F.lit("dfg"))
    )
    return cfg.unionByName(dfg).distinct()

def graph_rda_last_def(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference CLI's ``--last-def`` flag (cli.py:35: 'adds last
    definition information to the DFG'): for each (node, var), keep only
    the NEAREST preceding definition among all reaching ones — on the
    chain fixture control-flow order is node order, so nearest = max
    def_node. Gate instantiation of ``graph_iter.last_definition``."""
    from .operators import graph_iter

    return graph_iter.last_definition(graph_rda(spark, sf_dir))


def graph_dfg_last_use(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference CLI's ``--last-use`` flag (cli.py:36): for each
    definition, the LAST use it reaches (max use node in chain order).
    Gate instantiation of ``graph_iter.last_use`` with the SDFG fixture's
    use relation (nodes with node_id%5==2 use var node_id%3) supplied AS A
    TABLE — the operator takes any (node, var) uses relation."""
    from .operators import graph_iter

    nodes, _ = _doc_graph(spark, sf_dir)
    uses = nodes.filter(F.col("node_id") % 5 == 2).select(
        "node_id", (F.col("node_id") % 3).alias("var")
    )
    return graph_iter.last_use(graph_rda(spark, sf_dir), uses)


def graph_sdfg_interproc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference's INTERPROCEDURAL edge families as first-class rows —
    the combined SDFG extended with ``argument_to_parameter``
    (SDFG_cpp.py:2652-2789: zip call-site arguments positionally with the
    callee's parameters, keep only pass-by-ref/pointer parameters, edge
    call_site -> callee def) and ``return_to_caller`` (SDFG_cpp.py:
    2860-2942: for each function_return edge whose value is used, cross
    the vars used in the return statement with the vars defined at the
    call site, edge return_stmt -> call_site).

    Fixture relations (deterministic, graph-scoped):
      calls:  node_id%7==3 calls fn_id=node_id%4 (exactly the chain-break
              nodes of ``_broken_edges`` — the break IS the call transfer),
              argument j (j=0..node_id%3) passes var (node_id+j)%5; the
              return value is used iff node_id%2==1.
      fndefs: fn f's definition node = min node in the graph with
              node_id%4==f.
      params: fn f parameter j (j=0..2) is named var (f*3+j)%5, by-ref iff
              (f+j)%2==0 — a 12-row broadcast dim, the reference's
              parameter-declarator registry.
      rets:   node_id%11==5 is a return statement of fn node_id%4
              returning var node_id%5.

    Scale shape: the params dim is broadcast (candidate generation is
    map-side); calls x rets resolve on (graph_id, fn_id) — an equi-join on
    the key the graph is already hashed by, no skew (<=4 fns per graph);
    the arg explode is bounded by max arity 3. Output = cfg + dfg +
    interproc edge union tagged by edge_type, var payload columns
    (var_out = arg/returned var, var_in = param/initialized var, '-' where
    the family carries none) like the reference's used_def /
    returned_value edge attributes."""
    from .operators import graph_iter

    # one _doc_graph build for both nodes and edges (the former separate
    # _broken_edges call rebuilt the whole doc-graph plan — ~0.25 s of
    # py4j driver time per query build)
    nodes, chain = _doc_graph(spark, sf_dir)
    # nodes feeds five leg subplans (defs/uses/calls/fndefs/rets) and
    # chain two — materialize once each
    nodes = nodes.localCheckpoint()
    edges = chain.localCheckpoint().filter(F.col("src") % 7 != 3)
    dash = F.lit("-")
    cfg = edges.select(
        "src", "dst", F.lit("cfg").alias("edge_type"),
        dash.alias("var_out"), dash.alias("var_in"),
    )
    defs = _var_nodes(nodes, 4, 1)
    rda = graph_iter.reaching_definitions(edges, defs)
    uses = _var_nodes(nodes, 5, 2)
    var_s = F.col("var").cast("string")
    dfg = rda.join(uses, ["node", "var"]).select(
        F.col("def_node").alias("src"), F.col("node").alias("dst"),
        F.lit("dfg").alias("edge_type"),
        var_s.alias("var_out"), var_s.alias("var_in"),
    )
    calls = nodes.filter(F.col("node_id") % 7 == 3).select(
        "graph_id", F.col("node_id").alias("call_node"),
        (F.col("node_id") % 4).alias("fn_id"),
    )
    fndefs = nodes.groupBy(
        "graph_id", (F.col("node_id") % 4).alias("fn_id")
    ).agg(F.min("node_id").alias("fn_node"))
    args = calls.withColumn(
        "pos", F.explode(F.sequence(F.lit(0), F.col("call_node") % 3))
    ).withColumn("arg_var", (F.col("call_node") + F.col("pos")) % 5)
    params = spark.range(12).select(
        F.expr("id div 3").alias("fn_id"),
        (F.col("id") % 3).alias("pos"),
        ((F.expr("id div 3") * 3 + F.col("id") % 3) % 5).alias("param_var"),
        ((F.expr("id div 3") + F.col("id") % 3) % 2 == 0).alias("by_ref"),
    )
    a2p = (
        args.join(F.broadcast(params), ["fn_id", "pos"])
        .filter(F.col("by_ref"))
        .join(fndefs, ["graph_id", "fn_id"])
        .select(
            F.col("call_node").alias("src"), F.col("fn_node").alias("dst"),
            F.lit("argument_to_parameter").alias("edge_type"),
            F.col("arg_var").cast("string").alias("var_out"),
            F.col("param_var").cast("string").alias("var_in"),
        )
    )
    rets = nodes.filter(F.col("node_id") % 11 == 5).select(
        "graph_id", F.col("node_id").alias("ret_node"),
        (F.col("node_id") % 4).alias("fn_id"),
        (F.col("node_id") % 5).alias("ret_var"),
    )
    r2c = rets.join(
        calls.filter(F.col("call_node") % 2 == 1), ["graph_id", "fn_id"]
    ).select(
        F.col("ret_node").alias("src"), F.col("call_node").alias("dst"),
        F.lit("return_to_caller").alias("edge_type"),
        F.col("ret_var").cast("string").alias("var_out"),
        (F.col("call_node") % 5).cast("string").alias("var_in"),
    )
    return (
        cfg.unionByName(dfg).unionByName(a2p).unionByName(r2c).distinct()
    )


def graph_closure(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Directed transitive closure of the broken chain (the reference's
    derived-class / overload-set closure, CFG_cpp.py:407-438): every
    (ancestor, descendant) pair, path doubling in O(log pathlen) rounds."""
    from .operators import graph_iter

    return graph_iter.transitive_closure(_broken_edges(spark, sf_dir)).select(
        F.col("src").alias("ancestor"), F.col("dst").alias("descendant")
    )


def geo_entities_typed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Entity rows with the typed-declaration columns (reference rows
    §2.2 declaration predicate + type-of-declarator): entity_kind from the
    gazetteer dim and a kind-dependent data_type derivation."""
    pages = pages_src.pages_df(spark, sf_dir)
    gaz = pages_src.gazetteer_df(spark)
    ents = extract.page_entities(pages, gaz)
    data_type = F.when(F.col("entity_kind") == "city", F.lit("point"))\
        .when(F.col("entity_kind") == "poi", F.lit("point"))\
        .otherwise(F.lit("polygon"))
    return ents.select(
        "url", "entity_id", "surface", "entity_kind",
        data_type.alias("data_type"),
    )


def component_groups(ids: DataFrame, pairs: DataFrame, key: str) -> DataFrame:
    """(key, group_id) for every row of ``ids``: connected components over
    the (key_a, key_b) pair graph, group_id = the component's min key; a
    row in no pair is its own group."""
    from .operators import graph_iter

    comp = graph_iter.connected_components(
        pairs, src=f"{key}_a", dst=f"{key}_b"
    ).select(F.col("node").alias(key), "component")
    return ids.select(key).join(comp, key, "left").select(
        key, F.coalesce(F.col("component"), F.col(key)).alias("group_id")
    )


def doc_groups(docs: DataFrame) -> DataFrame:
    """Flagship stage 5: (doc_id, group_id) over (doc_id, text) rows from
    the exact 3-gram Jaccard >= 0.5 pair graph."""
    from .operators import dedup

    pairs = dedup.jaccard_pairs_exact(docs, n=3, threshold=0.5)
    return component_groups(docs, pairs, "doc_id")


def emb_groups(embs: DataFrame) -> DataFrame:
    """Flagship stage 6: (vec_id, group_id) from the deterministic
    multi-probe hyperplane-LSH cosine >= 0.4 pair graph."""
    from .operators import dedup

    return component_groups(embs, dedup.embedding_lsh_dups(embs, threshold=0.4), "vec_id")


def dedup_groups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup group formation: connected components over the exact-Jaccard
    pair graph; every doc gets a group (singletons map to themselves) and
    keep_doc_id = group representative = min doc_id. The step every real
    dedup pipeline needs after pair generation (the LSH path composes with
    the identical component call)."""
    return doc_groups(_docs(spark, sf_dir))


def dedup_groups_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Group formation over the MinHash-LSH pair graph with the stop-shingle
    cut — the composition an actual 100 TB dedup pipeline runs (candidates
    are probabilistic, so rows-only; the exact-pair variant ``dedup_groups``
    is the oracle-green twin)."""
    from .operators import dedup

    docs = _docs(spark, sf_dir)
    pairs = dedup.minhash_lsh_dups(docs, n=3, threshold=0.5, max_df=200)
    return component_groups(docs, pairs, "doc_id")


def alias_resolve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bounded alias-chain expansion (the reference's typedef expansion,
    c_parser.py:444-463): ALT_i -> ALT_{i-1} -> ... -> GEO_j terminal.
    Pointer doubling resolves depth-3 chains in 2 rounds. (sf_dir unused —
    the alias dim is data-independent, like geo_vector_raster.)"""
    from .operators import graph_iter

    g = spark.range(layers.N_GAZ).withColumnRenamed("id", "idx")
    target = F.when(
        F.col("idx") % 3 == 0, F.format_string("GEO_%05d", F.col("idx"))
    ).otherwise(F.format_string("ALT_%05d", F.col("idx") - 1))
    mapping = g.select(
        F.format_string("ALT_%05d", F.col("idx")).alias("alias"),
        target.alias("target"),
    )
    return graph_iter.resolve_chains(mapping).select(
        "alias", "target", F.col("depth").cast("long").alias("depth")
    )


def geo_cascade_resolve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cascading fallback resolution of page mentions (reference
    CFG_c.py:484-530): exact gazetteer surface (even ids only) -> 8-char
    prefix bucket (ids % 3 == 0, min id per bucket) -> unresolved (-1)."""
    from .operators import cascade, extract

    pages = pages_src.pages_df(spark, sf_dir)
    gaz = pages_src.gazetteer_df(spark)
    # mention table independent of the resolution dims: url, entity_id,
    # surface (every GEO_xxxxx surface exists in the full gazetteer, so the
    # extraction join drops nothing)
    mentions = extract.page_entities(pages, gaz).select(
        "url", "entity_id", "surface"
    )
    dim_exact = gaz.filter(F.col("gaz_idx") % 2 == 0).select(
        "surface", F.col("gaz_idx").alias("exact_id")
    )
    dim_prefix = (
        gaz.filter(F.col("gaz_idx") % 3 == 0)
        .groupBy(F.substring("surface", 1, 8).alias("prefix"))
        .agg(F.min("gaz_idx").alias("prefix_id"))
    )
    cond2 = F.substring(mentions["surface"], 1, 8) == dim_prefix["prefix"]
    out = cascade.cascade_join(
        mentions,
        [
            ("exact", dim_exact, "surface", "exact_id"),
            ("prefix", dim_prefix, cond2, "prefix_id"),
        ],
        out_col="resolved_id",
        via_col="via",
        default=F.lit(-1).cast("bigint"),
    )
    return out.select("url", "entity_id", "surface",
                      F.col("resolved_id").cast("long").alias("resolved_id"), "via")


def geo_template_resolve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Template-specialization resolution (reference CFG_cpp.py:136-349):
    each mention resolves against a 4-tier rule registry — exact
    specialization (full surface, gaz_idx%4==0), prefix-7 pattern (even
    id-buckets), suffix-2 pattern (suffixes %3==0), primary (kind rule +
    a catch-all wildcard). First tier with a match wins; within a tier the
    smallest template_id (most-specific registration) wins — realized by
    ``cascade.priority_match_join``'s specialization-priority window, the
    shape ``cascade_join`` cannot express (a tier can yield several
    candidates: the primary tier always yields two)."""
    from .operators import cascade, extract

    pages = pages_src.pages_df(spark, sf_dir)
    gaz = pages_src.gazetteer_df(spark)
    # the mention table feeds all four candidate legs AND the final keep-all
    # join (5 consumers); materialize the extraction once — Spark
    # has no common-subplan reuse (at cluster scale: a checkpoint stage table)
    mentions = extract.page_entities(pages, gaz).select(
        "url", "entity_id", "surface", "entity_kind"
    ).localCheckpoint()
    dim_exact = gaz.filter(F.col("gaz_idx") % 4 == 0).select(
        F.col("surface").alias("pat_exact"),
        F.col("gaz_idx").cast("long").alias("template_id"),
    )
    dim_p7 = (
        spark.range(10).filter(F.col("id") % 2 == 0)
        .select(
            F.format_string("GEO_%03d", F.col("id")).alias("pat7"),
            (F.col("id") + 100000).alias("template_id"),
        )
    )
    dim_s2 = (
        spark.range(100).filter(F.col("id") % 3 == 0)
        .select(
            F.format_string("%02d", F.col("id")).alias("suf2"),
            (F.col("id") + 150000).alias("template_id"),
        )
    )
    kinds = arrow_local_df(
        spark,
        [("city", 200000), ("poi", 200001), ("region", 200002), ("*", 999999)],
        "kind string, template_id long",
    )
    out = cascade.priority_match_join(
        mentions,
        keys=["url", "entity_id"],
        levels=[
            ("exact", dim_exact, mentions["surface"] == dim_exact["pat_exact"],
             dim_exact["template_id"]),
            ("prefix7", dim_p7,
             F.substring(mentions["surface"], 1, 7) == dim_p7["pat7"],
             dim_p7["template_id"]),
            ("suffix2", dim_s2,
             F.substring(mentions["surface"], 8, 2) == dim_s2["suf2"],
             dim_s2["template_id"]),
            ("primary", kinds,
             (mentions["entity_kind"] == kinds["kind"]) | (kinds["kind"] == "*"),
             kinds["template_id"]),
        ],
        out_col="template_id",
        via_col="via",
    )
    return out.select("url", "entity_id", "surface",
                      F.col("template_id").cast("long").alias("template_id"), "via")


def graph_catch_match(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exception matching as a first-COMPATIBLE-match ordered cascade
    (reference CFG_cpp.py:583-714, 4113-4141): each throw site matches the
    first catch clause, in declaration order, whose caught class is an
    ancestor-or-self of the thrown class in a class hierarchy — a
    priority-ordered *predicate* join (compatibility classes, not equality).
    The hierarchy compatibility dim is the reflexive transitive closure of
    the 31-class binary parent tree (``graph_iter.transitive_closure`` —
    the same operator behind ``graph_closure``); unmatched throws escape
    with catch_prio = -1 (propagate to caller)."""
    from .operators import cascade, graph_iter

    nodes, _ = _doc_graph(spark, sf_dir)
    throws = nodes.filter(F.col("node_id") % 5 == 2).select(
        "graph_id", "node_id", (F.col("node_id") % 31).alias("thrown_class")
    )
    tree = spark.range(1, 31).select(
        F.floor((F.col("id") - 1) / 2).cast("long").alias("src"),
        F.col("id").alias("dst"),
    )
    anc = graph_iter.transitive_closure(tree).select(
        F.col("src").alias("anc"), F.col("dst").alias("des")
    )
    compat = anc.unionByName(
        spark.range(31).select(F.col("id").alias("anc"), F.col("id").alias("des"))
    )
    catches = (
        nodes.select("graph_id").distinct()
        .select("graph_id", F.explode(F.array(*[F.lit(j) for j in range(4)])).alias("prio"))
        .withColumn("catch_class", (F.col("graph_id") * 7 + F.col("prio") * 13) % 31)
    )
    dim = (
        catches.join(compat, catches["catch_class"] == compat["anc"])
        .select(
            F.col("graph_id").alias("c_graph_id"), "des",
            F.struct(
                F.col("prio").cast("long").alias("catch_prio"),
                F.col("catch_class").cast("long").alias("catch_class"),
            ).alias("catch"),
        )
    )
    out = cascade.priority_match_join(
        throws,
        keys=["graph_id", "node_id"],
        levels=[(
            "catch", dim,
            (throws["graph_id"] == dim["c_graph_id"])
            & (throws["thrown_class"] == dim["des"]),
            dim["catch"]["catch_prio"],
        )],
        out_col="catch",
        via_col="via",
        default=F.struct(
            F.lit(-1).cast("long").alias("catch_prio"),
            F.lit(-1).cast("long").alias("catch_class"),
        ),
    )
    return out.select(
        "graph_id", "node_id", "thrown_class",
        F.col("catch.catch_prio").alias("catch_prio"),
        F.col("catch.catch_class").alias("catch_class"),
    )


def geo_preproc_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Preprocessor-conditional evaluation (reference cpp_nodes.py:494-528,
    the last absent SURVEY §2 row): each page carries a deterministic guard
    expression over config flags (FLAG, !FLAG, ||-of-&& clauses); the
    engine evaluates the guard against a fixed build config with native
    higher-order functions (exists/forall over split — zero Python) and
    emits the activation verdict the extraction stage filters on."""
    from .operators import extract

    docs = _docs(spark, sf_dir).select("doc_id")
    guard = F.element_at(
        F.array(*[F.lit(g) for g in extract.PREPROC_GUARDS]),
        (F.col("doc_id") % 6 + 1).cast("int"),
    )
    return (
        docs.withColumn("guard", guard)
        .withColumn(
            "active",
            extract.preproc_active_col(F.col("guard"), extract.PREPROC_CONFIG),
        )
    )


def dedup_groups_embedding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding near-dup group formation: connected components over the
    deterministic multi-probe hyperplane-LSH pair graph (the stage-6 leg of
    the flagship pipeline, jobs/run_pipeline.py) — every vector gets a
    group, singletons map to themselves. Oracle-green end to end because
    the LSH pair generator itself is deterministic (integer planes)."""
    return emb_groups(_embs(spark, sf_dir))


def train_set_from(docs: DataFrame, groups: DataFrame) -> DataFrame:
    """Flagship stage 7 over (doc_id, text) rows and their (doc_id,
    group_id) dedup groups: group representatives -> benchmark
    decontamination (4-grams; benchmark docs dropped entirely) -> 512-token
    sequence packing (distributed prefix sum) -> PII scrub hash."""
    from .operators import curation

    reps = groups.filter(F.col("doc_id") == F.col("group_id")).select("doc_id")
    # surv feeds FOUR subplans (decontaminate's bench/train shingle legs +
    # its base keep-list + the clean join): checkpoint so the docs scan +
    # reps join runs once, and the downstream plans analyze a leaf
    surv = docs.join(reps, "doc_id").localCheckpoint()
    decon = curation.decontaminate(surv, n=4)
    keep = decon.filter(~F.col("contaminated")).select("doc_id")
    # clean feeds TWO consumers (pack_sequences and pii_scrub); without a
    # checkpoint the whole upstream (pair-gen -> CC -> decontamination
    # shingle explode + semi-join) would recompute once per consumer —
    # measured 9.7 s vs ~6 s at sf0.1. Same discipline as pack_sequences'
    # own internal checkpoint.
    clean = surv.join(keep, "doc_id").localCheckpoint()
    packed = curation.pack_sequences(clean, budget=512)
    scrub = curation.pii_scrub(clean)
    return packed.join(scrub.select("doc_id", "clean_hash"), "doc_id")


def train_set(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The flagship pipeline's stage 7 END-TO-END as one oracle-backed
    query: exact-Jaccard dedup groups, then ``train_set_from``. The
    composed (doc_id, n_tokens, bin_id, offset_in_bin, clean_hash) shard
    table is what ships to training — value-checked against the composed
    DuckDB mirror."""
    docs = _docs(spark, sf_dir).select("doc_id", "text")
    return train_set_from(docs, doc_groups(docs))


def graph_grouped_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-graph metrics via applyInPandas (SURVEY §2.10 row 5): one bounded
    graph per host, summarized group-by-group in pandas."""
    from .operators import graphstats

    return graphstats.graph_metrics(_broken_edges(spark, sf_dir))


def graph_combine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Combined-view union (reference combined_driver.py:78-108): the 'next'
    chain view overlaid with a 'skip' view (doc -> doc+200 within host),
    deduped on (graph, src, dst, edge_type) — a multigraph union."""
    from .operators import views

    nodes, edges_next = _doc_graph(spark, sf_dir)
    ids = nodes.select("graph_id", "node_id")
    skip = (
        ids.alias("a")
        .join(
            ids.alias("b"),
            (F.col("a.graph_id") == F.col("b.graph_id"))
            & (F.col("b.node_id") == F.col("a.node_id") + 200),
        )
        .select(
            F.col("a.graph_id").alias("graph_id"),
            F.col("a.node_id").alias("src"),
            F.col("b.node_id").alias("dst"),
            F.lit("skip").alias("edge_type"),
        )
    )
    _, edges = views.combine_views([nodes, nodes], [edges_next, skip])
    return edges.dropDuplicates(["graph_id", "src", "dst", "edge_type"])


def graph_collapse(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Collapsed edge table: same-label nodes merged to min node_id per
    graph (reference AST.py:49-86)."""
    from .operators import views

    nodes, edges = _doc_graph(spark, sf_dir)
    _, new_edges = views.collapse_nodes(nodes, edges)
    return new_edges


def graph_minimize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Minimized edge table: 'poi' nodes removed, pred→succ rewired
    (reference AST.py:88-107; one transitive step)."""
    from .operators import views

    nodes, edges = _doc_graph(spark, sf_dir)
    _, new_edges = views.minimize_nodes(nodes, edges, blacklist=["poi"])
    return new_edges


# ---------------------------------------------------------------------------
# web-text / training-data pipeline suite
# ---------------------------------------------------------------------------

def _docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .sources.testdata import load_table

    return load_table(spark, sf_dir, "documents")


def _embs(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .sources.testdata import load_table

    return load_table(spark, sf_dir, "embeddings")


def dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators import dedup

    return dedup.exact_dup_groups(_docs(spark, sf_dir))


def dedup_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators import dedup

    return dedup.jaccard_pairs_exact(_docs(spark, sf_dir), n=3, threshold=0.5)


def dedup_split_leakage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train/val leakage audit: near-dup pairs (the dedup_jaccard
    population) that straddle the split boundary under a naive per-doc
    hash split vs a group-aware per-host split — the contamination the
    host-grouped split exists to prevent (C4/RealNews-style URL/host
    splits). Measured on the fixture: host-group cuts straddling pairs
    9 -> 4 at sf0.001 and 9 -> 2 at sf0.01 over the same 28/25-pair
    population — non-vacuous in the interesting direction."""
    from .operators import dedup

    return dedup.split_leakage_audit(_docs(spark, sf_dir))


def dedup_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators import dedup

    return dedup.minhash_lsh_dups(_docs(spark, sf_dir), n=3, threshold=0.5)


def dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dup pairs with the md5-derived token hash — since r3 the
    whole pipeline (hash -> 64 sign sums -> pigeonhole band blocking ->
    hamming verify) is oracle-checked against the SEMANTIC predicate
    (quadratic bit_count(xor) <= 3 over the same simhashes), which also
    proves the 4x16-bit blocking is lossless. md5 is the one token hasher:
    an engine-only hasher would have no oracle to check it against."""
    from .operators import dedup

    return dedup.simhash_near_dups(_docs(spark, sf_dir), max_hamming=3)


def dedup_embedding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """baseline-only: exact all-pairs correctness reference for the
    production path ``dedup_embedding_lsh`` (each Arrow batch multiplied
    against the collected corpus) — quadratic by design, never the plan to
    run at corpus scale."""
    # threshold 0.45: the synthetic embeddings' max pairwise cosine is ~0.51
    # at sf0.01 / ~0.48 at sf0.001, so 0.95 made this gate row pass vacuously
    # on 0 rows; 0.45 keeps ~10 pairs flowing through the operator.
    from .operators import dedup

    return dedup.embedding_near_dups(_embs(spark, sf_dir), threshold=0.45)


def dedup_embedding_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The 10^12-row embedding near-dup path: multi-probe hyperplane LSH
    bucket equi-join (never all-pairs) with exact-cosine verify — and still
    oracle-green, because the integer planes make the whole pipeline
    deterministic on both engines."""
    from .operators import dedup

    return dedup.embedding_lsh_dups(_embs(spark, sf_dir), threshold=0.4)


def ann_topk_quantized(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators import ann

    return ann.topk_quantized(_embs(spark, sf_dir), k=10, every=50)


def ann_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """baseline-only: exact top-k by the round-6 quantized cosine — the
    recall ground truth for the bucketed ANN family (lsh/ivf/pq), not the
    corpus-scale plan; oracle-mirrored exactly like the other ANN legs."""
    from .operators import ann

    return ann.cosine_topk(_embs(spark, sf_dir), k=10, every=50)


def ann_lsh_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hyperplane-LSH bucketed ANN (the 10^12-row path; recall<1 by
    contract, multi-probe at hamming-1). Deterministic integer planes
    shared with the DuckDB oracle — the oracle mirrors the LSH candidate
    rule itself, so this bucketed path is oracle-green."""
    from .operators import ann

    return ann.lsh_bucketed_topk(_embs(spark, sf_dir), k=10, every=50)


def ann_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF ANN: deterministic sampled-centroid coarse quantizer, nprobe cell
    probing, exact quantized-cosine ranking inside the probed cells — the
    inverted-file scale path, oracle-mirrored exactly (unlike the
    recall-probabilistic hyperplane LSH row above)."""
    from .operators import ann

    return ann.ivf_topk(_embs(spark, sf_dir), k=10, every=50)


def ann_pq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PQ/ADC ANN: 6-bit product-quantization codes, asymmetric-distance
    lookup-table scoring — the memory-bound ANN family (8 bytes/vector on
    the corpus side of the join)."""
    from .operators import ann

    return ann.pq_topk(_embs(spark, sf_dir), k=10, every=50)


def ann_ivfpq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF routing × PQ/ADC scoring — the faiss-IVFPQ composition production
    vector stores deploy: nprobe inverted lists bound which vectors a query
    touches, packed PQ codes bound the bytes per touch. Deterministic
    sampled centroids + sampled codebook, all-integer, oracle-mirrored
    bit-for-bit (see operators/ann.ivfpq_topk)."""
    from .operators import ann

    return ann.ivfpq_topk(_embs(spark, sf_dir), k=10, every=50)


def ann_ivfpq_residual(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Residual-encoded IVFPQ (faiss's actual IVFPQ): PQ codes quantize
    vector − assigned-centroid residuals and each query builds one ADC LUT
    per probed cell — lifts recall over raw-code ``ann_ivfpq_topk`` at the
    same storage budget (measured in FIXTURES.md). Exact int64 end-to-end,
    oracle-mirrored bit-for-bit (see operators/ann.ivfpq_residual_topk)."""
    from .operators import ann

    return ann.ivfpq_residual_topk(_embs(spark, sf_dir), k=10, every=50)

def text_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators import textstats

    df = textstats.token_stats(_docs(spark, sf_dir))
    return df.select(
        "doc_id",
        F.col("n_tokens").cast("long").alias("n_tokens"),
        F.col("n_distinct").cast("long").alias("n_distinct"),
    )


def text_tokens_bpe(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators import textstats

    return textstats.bpe_token_stats(_docs(spark, sf_dir))


def text_sample_stratified(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic stratified sampling + train/heldout split by content
    hash (partitioning/retry/engine-independent, unlike rand()-based
    sample()) — the curation step before training."""
    from .operators import textstats

    return textstats.stratified_sample(_docs(spark, sf_dir))


def text_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Text normalization (lowercase / punctuation strip / whitespace
    collapse) + post-cleaning hash — the canonical corpus cleaning step."""
    from .operators import textstats

    return textstats.normalized_docs(_docs(spark, sf_dir))

def text_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination: per-train-doc count of word 4-grams shared
    with the held-out benchmark slice (doc_id % 50 == 7) + the keep flag
    (n=4 measured: 15-17 flagged docs at gate scale; n=5 was near-vacuous
    at 1-2, n=3 flags half the corpus on this small vocabulary)."""
    from .operators import curation

    return curation.decontaminate(_docs(spark, sf_dir), n=4)


def text_pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequence packing into 512-token training bins via the distributed
    two-phase prefix sum (no unpartitioned window anywhere)."""
    from .operators import curation

    return curation.pack_sequences(_docs(spark, sf_dir), budget=512)


def text_pii_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII scrubbing over deterministically PII-injected pages (the
    synthetic corpus carries none, so the gate plants emails / phone-like /
    card-like digit runs by doc_id % 4 — the redaction itself is what the
    oracle checks, replacement-for-replacement via the hash)."""
    from .operators import curation

    docs = _docs(spark, sf_dir)
    suffix = F.element_at(
        F.array(
            F.lit(" contact agent007@example.com now"),
            F.lit(" call 5551234567"),
            F.lit(" ref 4111111122223333 id"),
            F.lit(""),
        ),
        (F.col("doc_id") % 4 + 1).cast("int"),
    )
    return curation.pii_scrub(docs.withColumn("text", F.concat(F.col("text"), suffix)))


def text_boilerplate_strip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet-style boilerplate removal: drop 8-token segments occurring in
    >2 distinct docs (measured: segment df maxes at 6 on this corpus, 17
    boilerplate segments stripped — threshold picked non-vacuous), then
    reassemble and hash the cleaned text."""
    from .operators import curation

    return curation.strip_boilerplate(_docs(spark, sf_dir), seg_len=8, max_docs=2)


def text_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style repetition quality signals (top-2-gram share +
    duplicated-2-gram share in exact integer ppm) — the repetition leg of
    the web-corpus quality gate; the synthetic corpus's repeated tokens
    ('batch batch batch') make every signal non-vacuous."""
    from .operators import curation

    return curation.repetition_stats(_docs(spark, sf_dir))


def _crawl_pages(docs: DataFrame) -> DataFrame:
    """The deterministic crawl-messiness fixture shared by the URL-keyed
    gate queries: three raw-URL variants share each canonical target (path
    id = doc_id div 3, same host per group), with tracking params
    (doc_id%4==1), fragments (%4==2), trailing slashes (%4==3), and
    UPPERCASE scheme+host (doc_id%5==0) layered on. Mirrored independently
    by ``oracle._CRAWL_CANON_CTES``."""
    gid = F.expr("doc_id div 3")
    base_lo = F.format_string(
        "https://host%04d.example/doc/%d", gid % 100, gid
    )
    base_up = F.format_string(
        "HTTPS://HOST%04d.EXAMPLE/doc/%d", gid % 100, gid
    )
    suffix = F.element_at(
        F.array(
            F.lit(""), F.lit("?utm_source=feed&utm_medium=rss"),
            F.lit("#sec-2"), F.lit("/"),
        ),
        (F.col("doc_id") % 4 + 1).cast("int"),
    )
    raw = F.concat(
        F.when(F.col("doc_id") % 5 == 0, base_up).otherwise(base_lo), suffix
    )
    return docs.select("doc_id", raw.alias("url"))


def dedup_url_canonical(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Canonical-URL crawl dedup — the FIRST dedup stage of a web pipeline
    (runs before any content pass; needs no text bytes). Crawl messiness
    planted by the shared ``_crawl_pages`` fixture. Canonicalization is a
    pure JVM regex chain; grouping is one hash aggregate on the canonical
    key."""
    from .operators import curation

    return curation.url_canonical_dedup(_crawl_pages(_docs(spark, sf_dir)))


def text_source_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-weighted source mixing (alpha=0.5, the Pile-style
    per-source resampling): per-source target floor(sqrt(n)*16), docs
    selected by a deterministic LCG hash-rate filter — map-side against a
    broadcast dim, NO per-source window (the skew trap). Returns the mix
    summary the pipeline would act on."""
    from .operators import curation

    return curation.source_mix(_docs(spark, sf_dir))


def text_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators import textstats

    df = textstats.quality_scores(_docs(spark, sf_dir))
    return df.select(
        "doc_id",
        F.col("n_chars_out").cast("long").alias("n_chars_out"),
        F.col("n_tokens").cast("long").alias("n_tokens"),
        "avg_token_len", "stopword_ratio", "distinct_ratio",
    )


def lang_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators import textstats

    return textstats.lang_stats(_docs(spark, sf_dir))


def text_langid(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators import textstats

    return textstats.langid(_docs(spark, sf_dir))


def text_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators import textstats

    return textstats.fingerprints(_docs(spark, sf_dir))


def events_stream_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Structured Streaming gate row: watermarked tumbling-window counts
    over the events file stream, drained with availableNow — deterministic
    on bounded input, so the oracle is a plain GROUP BY on the hour
    bucket."""
    from . import streaming

    ev = streaming.stream_events(spark, sf_dir)
    return streaming.run_available_now(streaming.windowed_event_counts(ev))


def events_stream_sessions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Custom stateful streaming operator gate row: per-user session totals
    via ``applyInPandasWithState`` (state = last ts + counters, O(1)/key),
    drained with availableNow. On bounded single-batch input the update-mode
    emission is one deterministic row per user, so the oracle is the batch
    lag-gap sessionizer aggregated per user."""
    from . import streaming

    ev = streaming.stream_events(spark, sf_dir)
    return streaming.run_available_now(
        streaming.sessionize_stream(ev), mode="update"
    )


def dedup_stream_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming exact dedup drained with availableNow: the distinct
    md5(text) set — oracle = SELECT DISTINCT md5(text)."""
    from . import streaming

    return streaming.run_available_now(
        streaming.stream_dedup_hashes(streaming.stream_documents(spark, sf_dir)),
        mode="append",
    )


def multimodal_meta(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators import multimodal

    return multimodal.decode_meta(multimodal.payloads_df(_docs(spark, sf_dir)))


def multimodal_frames(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators import multimodal

    return multimodal.frame_sample(multimodal.payloads_df(_docs(spark, sf_dir)))


def multimodal_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fake feature extraction over binary payloads (byte histogram — the
    embedding-extractor plumbing; mapInPandas, one numpy pass per batch)."""
    from .operators import multimodal

    return multimodal.feature_extract(multimodal.payloads_df(_docs(spark, sf_dir)))


def multimodal_resample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fake resize: nearest-neighbor byte resample to a fixed length (the
    image-resize analogue for opaque media)."""
    from .operators import multimodal

    return multimodal.resample(multimodal.payloads_df(_docs(spark, sf_dir)))


def _html_pages(docs: DataFrame) -> DataFrame:
    """The deterministic HTML crawl-page fixture shared by the webtext gate
    queries: each doc's text wrapped in a page with a <title>, a <style>
    block, a <script> block containing '<' noise, entity-escaped markup
    inside the body ('&lt;b&gt;note&amp;1&lt;/b&gt;'), and a nav <div> —
    the markup zoo the extractor must strip/decode. Mirrored independently
    by ``oracle._HTML_EXTRACT_CTES``."""
    html = F.format_string(
        "<html><head><title>Doc %d &amp; co</title>"
        "<style>body{color:#%d}</style></head>"
        "<body><script>if(1<2){x=%d;}</script>"
        "<p>%s</p><p>&lt;b&gt;note&amp;%d&lt;/b&gt;</p>"
        '<div class="nav">Home | About</div></body></html>',
        F.col("doc_id"), F.col("doc_id") % 1000, F.col("doc_id") % 7,
        F.col("text"), F.col("doc_id") % 3,
    )
    return docs.select("doc_id", html.alias("html"))


def webtext_html_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HTML -> text extraction over the deterministic crawl-page fixture.
    The operator is a pure JVM regex chain (operators/webtext.html_extract),
    per-row map work fused with the scan; the oracle rebuilds page AND
    extraction independently in DuckDB/RE2."""
    from .operators import webtext

    return webtext.html_extract(_html_pages(_docs(spark, sf_dir)))


def webtext_warc_records(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WARC record splitting: five docs per crawl chunk (blob_id = doc_id
    div 5), each serialized as a WARC/1.0 record (Target-URI +
    Content-Length headers, blank-line body framing), concatenated in
    doc_id order via array_sort on (doc_id, record) structs — a
    deterministic order-preserving build with no window. The operator
    splits blobs back into (blob_id, rec_idx, uri, declared_len, body)
    with split+posexplode — shuffle-free; declared_len vs body_chars is
    the integrity check a real ingest quarantines on."""
    from .operators import webtext

    return webtext.warc_split(_warc_blobs(_docs(spark, sf_dir)))


def webtext_domain_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-domain curation stats + UT1-style blocklist flag over the
    shared crawl-URL fixture; the blocklist dim is hosts with host number
    % 7 == 3 (14 of ~100 hosts — planted non-vacuous). One aggregate keyed
    by host + one broadcast left join."""
    from .operators import webtext

    blocklist = (
        spark.range(100)
        .filter(F.col("id") % 7 == 3)
        .select(F.format_string("host%04d.example", F.col("id")).alias("host"))
    )
    return webtext.domain_stats(
        _crawl_pages(_docs(spark, sf_dir)), blocklist
    )


def text_familiarity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-LM familiarity scoring (CCNet perplexity-bucket proxy,
    integer-exact): two-pass unigram model — corpus token counts ->
    broadcast vocab dim with deterministic Zipf ranks -> per-doc mean
    frequency / mean rank rollup. No floats anywhere (ln is not
    bit-identical across engines); the scores are monotone in unigram
    likelihood so bucket ORDER is preserved."""
    from .operators import curation

    return curation.familiarity_stats(_docs(spark, sf_dir))


def text_decontaminate_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fractional benchmark-contamination ppm per training doc (the graded
    overlap PaLM/GPT-3-style decontamination thresholds on, vs the binary
    flag of text_decontaminate): distinct-5-gram hit share against the
    held-out slice (doc_id%50==7). Benchmark shingle dim broadcastable at
    any corpus scale; totals/hits keyed by doc_id."""
    from .operators import curation

    return curation.decontaminate_score(_docs(spark, sf_dir))


def web_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """END-TO-END crawl ingest — the webtext twin of ``train_set``: WARC
    chunks -> record split -> HTML -> text extraction -> repetition +
    length quality gates -> canonical-URL dedup -> per-page shard row,
    value-checked WHOLE against one composed DuckDB mirror.

    Fixture: each doc's HTML page (shared ``_html_pages`` markup zoo) is
    framed as a WARC/1.0 record whose Target-URI is the shared crawl-URL
    messiness fixture, five records per chunk, concatenated in doc_id
    order. The ENGINE side then sees only (blob_id, payload) — exactly
    what a CommonCrawl reader sees — and runs the real pipeline:

    1. ``webtext.warc_split``       (shuffle-free record framing)
    2. ``webtext.html_extract``     (shuffle-free regex chain)
    3. ``curation.repetition_stats`` over the EXTRACTED body (one
       doc-keyed aggregate pair)
    4. quality gates that bite at gate scale: >=30 words,
       top-2-gram share <= 100000 ppm
    5. ``curation.canonicalize_url`` on the fetched URI + first-fetch-wins
       group (min_by over the unique fetch id — arg_min in the oracle)

    Scale shape: stages 1-2 fuse with the scan; stage 3 shuffles once on
    the fetch key (uniform); stage 5 shuffles once on the canonical key
    (hot keys bounded by per-site crawl frequency). No window over the
    corpus, no driver collect, nothing quadratic."""
    return web_ingest_stages(spark, sf_dir)["full"]


def web_ingest_stages(
    spark: SparkSession, sf_dir: str, only: str | None = None
) -> dict[str, DataFrame]:
    """The ``web_ingest`` pipeline with each cumulative stage exposed as its
    own DataFrame — ``warc_split`` -> ``html_extract`` -> ``quality_gate``
    -> ``full`` — so the bench harness can time the end-to-end query
    per-stage and a regression localizes to the stage that moved
    (VERDICT r4 next-round #5). Single source of truth: ``web_ingest``
    returns ``stages["full"]``. ``only`` is accepted for signature parity
    with the reputation stages builder and ignored: every frame here is
    LAZY (no eager checkpoints), so building the full dict costs
    nothing."""
    from .operators import curation, webtext

    docs = _docs(spark, sf_dir)
    pages = _html_pages(docs).join(_crawl_pages(docs), "doc_id")
    rec = F.format_string(
        "WARC/1.0\nWARC-Target-URI: %s\nContent-Length: %d\n\n%s\n\n",
        F.col("url"), F.length("html"), F.col("html"),
    )
    blobs = _blob_payloads(pages, rec)
    # ---- the engine pipeline proper: sees only (blob_id, payload) ------
    recs = webtext.warc_split(blobs)
    ext = webtext.html_extract(
        recs.select(
            (F.col("blob_id") * 8 + F.col("rec_idx")).alias("doc_id"),
            "uri",
            F.col("body").alias("html"),
        ),
        keep=("uri",),
    )
    rep = curation.repetition_stats(
        ext.select("doc_id", F.col("body").alias("text"))
    )
    sig = ext.join(rep, "doc_id").filter(
        (F.size(F.split(F.col("body"), " ")) >= 30)
        & (F.col("top_gram_ppm") <= 100000)
    )
    canon = sig.withColumn(
        "canonical_url", curation.canonicalize_url(F.col("uri"))
    )
    w = F.struct("title", "body_chars", "n_grams", "top_gram_ppm")
    full = (
        canon.groupBy("canonical_url")
        .agg(
            F.count("*").alias("n_fetches"),
            F.min_by(w, F.col("doc_id")).alias("w"),
        )
        .select(
            "canonical_url", "n_fetches",
            "w.title", "w.body_chars", "w.n_grams", "w.top_gram_ppm",
        )
    )
    return {
        "warc_split": recs,
        "html_extract": ext,
        "quality_gate": sig,
        "full": full,
    }


def webtext_robots_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robots-disallow path-prefix filtering over the shared crawl-URL
    fixture; rules dim planted non-vacuous: hosts with number %5==2
    disallow '/doc/1' (prefix-matches /doc/1, /doc/1*, ...), hosts %3==0
    disallow '/doc/2'. Broadcast anti-join with the prefix test as the
    residual condition — no nested loop over the corpus."""
    from .operators import webtext

    hosts = spark.range(100).select(
        F.col("id"),
        F.format_string("host%04d.example", F.col("id")).alias("host"),
    )
    rules = (
        hosts.filter(F.col("id") % 5 == 2)
        .select("host", F.lit("/doc/1").alias("path_prefix"))
        .unionAll(
            hosts.filter(F.col("id") % 3 == 0)
            .select("host", F.lit("/doc/2").alias("path_prefix"))
        )
    )
    return webtext.robots_filter(_crawl_pages(_docs(spark, sf_dir)), rules)


def dedup_stream_url(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming canonical-URL dedup: the crawl-URL fixture derived as a
    pure projection over the document stream, canonicalized map-side, then
    stateful dropDuplicates — first fetch per canonical key survives.
    Drained with availableNow; oracle = DISTINCT canonical urls."""
    from . import streaming

    docs = streaming.stream_documents(spark, sf_dir).select("doc_id")
    pages = _crawl_pages(docs)
    return streaming.run_available_now(
        streaming.stream_dedup_canonical_urls(pages), mode="append"
    )


def dedup_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact n-gram containment pairs (|A∩B| / min set size, integer ppm)
    — the asymmetric dedup measure that catches quote/subset duplication
    Jaccard misses (a short doc embedded in a long one). Same inverted-
    index + stop-shingle-prunable shape as dedup_jaccard."""
    from .operators import dedup

    return dedup.containment_pairs_exact(
        _docs(spark, sf_dir), n=3, threshold_ppm=500_000
    )


def _host_edges(docs: DataFrame):
    """The shared host link-graph fixture: every doc's crawl host emits two
    deterministic host->host links. SINGLE source of truth for the five
    link-analysis queries (rank/HITS/communities/triangles/reputation) —
    they must all see the identical graph. Mirrored by the oracle CTEs."""
    src = F.format_string(
        "host%04d.example", F.expr("(doc_id div 3) % 100")
    ).alias("src")
    e1 = docs.select(src, F.format_string(
        "host%04d.example", (F.col("doc_id") * 7 + 1) % 100).alias("dst"))
    e2 = docs.select(src, F.format_string(
        "host%04d.example", (F.col("doc_id") * 13 + 2) % 100).alias("dst"))
    return e1.unionAll(e2)


def _host_nodes(spark: SparkSession):
    return spark.range(100).select(
        F.format_string("host%04d.example", F.col("id")).alias("host")
    )


def webtext_domain_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Integer PageRank over the host link graph (the CommonCrawl-style
    domain-centrality weighting a crawl pipeline prunes/prioritizes by).
    Fixture: every doc emits two host->host links derived from its id
    (its crawl host links to two deterministic targets; multi-edges keep
    their multiplicity, matching the oracle). 10 power iterations in
    exact micro-unit arithmetic — each is one join + one aggregate; the
    oracle unrolls the same 10 layers in DuckDB."""
    from .operators import linkgraph

    edges = _host_edges(_docs(spark, sf_dir))
    nodes = _host_nodes(spark)
    return linkgraph.pagerank_integer(edges, nodes, iterations=10)


def text_bpe_train(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE tokenizer-vocabulary induction: the top-8 merge rules learned
    from corpus word frequencies (Sennrich et al. 2016). One corpus pass
    (word counts), then vocabulary-dim rounds: distributed pair-count
    aggregate + single argmax row per round (the merge table is driver-
    sized by definition, like k-means centroids). The rank-8 rule merges
    a multi-char symbol — the rounds genuinely compound."""
    from .operators import bpe

    return bpe.bpe_train(_docs(spark, sf_dir), merges=8)


def _linked_pages(docs: DataFrame) -> DataFrame:
    """Deterministic HTML fixture with outlinks: each page carries one
    absolute anchor (with nested <b> markup in the anchor text), one
    root-relative anchor, and two droppable hrefs (javascript:, fragment).
    Mirrored independently by ``oracle.outlinks_sql``."""
    html = F.format_string(
        '<html><body><p>%s</p>'
        '<a href="https://host%04d.example/doc/%d">read <b>more</b> %d</a> '
        '<a class="nav" href="/page/%d?ref=1">next page</a> '
        '<a href="javascript:void(0)">noop</a>'
        '<a href="#top">top</a></body></html>',
        F.col("text"), (F.col("doc_id") * 7 + 3) % 100,
        F.col("doc_id") % 50, F.col("doc_id") % 10, F.col("doc_id") % 20,
    )
    url = F.format_string(
        "https://host%04d.example/page/%d",
        F.expr("(doc_id div 3) % 100"), F.col("doc_id"),
    )
    return docs.select("doc_id", url.alias("url"), html.alias("html"))


def webtext_outlinks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Outlink + anchor-text extraction over the linked-page fixture: the
    web-graph edge source (CommonCrawl host/domain-graph shape). Absolute
    hrefs pass through, root-relative resolve against the page host,
    javascript:/fragment links drop; anchor text is tag-stripped. Pure
    per-row regexp work — zero shuffle."""
    from .operators import webtext

    return webtext.outlink_extract(_linked_pages(_docs(spark, sf_dir)))


def webtext_hits(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Integer HITS hub/authority scores over the same host link graph as
    webtext_domain_rank (PageRank prunes globally; HITS separates hub
    quality from authority quality for crawl seed selection). 5 power
    iterations, L-infinity renormalization in exact micro-units; the
    oracle unrolls the same 10 join+aggregate layers in DuckDB."""
    from .operators import linkgraph

    edges = _host_edges(_docs(spark, sf_dir))
    nodes = _host_nodes(spark)
    return linkgraph.hits_integer(edges, nodes, iterations=5)


def webtext_snapshot_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Crawl snapshot diffing rolled up per host: snapshot A drops
    doc_id%10==7 (those become 'added' in B), snapshot B drops
    doc_id%10==3 ('removed') and rewrites content for doc_id%5==0
    ('changed'); everything else is 'unchanged'. One full-outer join on
    the unique page URL + one host-level aggregate — the incremental
    re-crawl planning query (only added+changed need re-extraction)."""
    from .operators import webtext

    docs = _docs(spark, sf_dir)
    url = F.format_string(
        "https://host%04d.example/page/%d",
        F.expr("(doc_id div 3) % 100"), F.col("doc_id"),
    )
    old = docs.filter(F.col("doc_id") % 10 != 7).select(
        url.alias("url"), F.md5("text").alias("fp")
    )
    new_fp = F.when(
        F.col("doc_id") % 5 == 0,
        F.md5(F.concat(F.col("text"), F.lit(" v2"))),
    ).otherwise(F.md5("text"))
    new = docs.filter(F.col("doc_id") % 10 != 3).select(
        url.alias("url"), new_fp.alias("fp")
    )
    diff = webtext.snapshot_diff(old, new)
    return diff.groupBy(
        F.regexp_extract("url", "^https?://([^/]+)", 1).alias("host"),
        "status",
    ).agg(F.count("*").alias("n_urls"))


def text_dup_ngrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-doc duplicated-3-gram fraction (ExactSubstr-style cross-doc
    verbatim-overlap signal, Lee et al. 2022) in exact integer ppm —
    positional counts, shingle document frequency, one inverted-index
    join, one doc rollup."""
    from .operators import dedup

    return dedup.dup_ngram_stats(_docs(spark, sf_dir), n=3)


def webtext_host_graph(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted host->host link graph aggregated from page-level outlinks
    (the CommonCrawl domain-graph product the centrality queries consume);
    intra-host navigation edges dropped. Extraction is shuffle-free; the
    host-pair aggregate is the only exchange."""
    from .operators import linkgraph, webtext

    links = webtext.outlink_extract(
        _linked_pages(_docs(spark, sf_dir)), with_src_host=True
    )
    return linkgraph.host_graph(links)


def webtext_anchor_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Anchor-text index per link target: inbound links, distinct anchor
    phrasings, modal anchor with deterministic (count desc, anchor asc)
    tie-break. Two stacked partial-aggregate-friendly groupBys — hot
    mega-linked URLs collapse in pass 1."""
    from .operators import webtext

    links = webtext.outlink_extract(_linked_pages(_docs(spark, sf_dir)))
    return webtext.anchor_text_index(links)


def webtext_inverted_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-level inverted index over the document corpus: per token its
    document frequency, total term frequency, and the top-5 posting doc
    ids by (tf desc, doc_id asc) as a bounded comma-joined preview. Two
    stacked aggregates; the collect side is rank-prefiltered so no token
    ever collects more than 5 rows (stop-token safety)."""
    from .operators import ir

    return ir.inverted_index(_docs(spark, sf_dir), top_postings=5)


def webtext_tfidf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 characteristic terms per document by integer tf-idf
    (idf_ppm = N * 1e6 div df — monotone in log(N/df), bit-exact across
    engines). tf aggregate + vocabulary-keyed df dim + one per-doc
    row_number window with (score desc, token asc) tie-break."""
    from .operators import ir

    return ir.tfidf_topk(_docs(spark, sf_dir), k=3)


def webtext_crawl_schedule(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Politeness-aware frontier scheduling: top-5 URLs per host by
    (priority desc, url asc), each assigned a fetch offset on the host's
    clock — rank * the host's crawl delay (robots Crawl-delay where
    planted, 1000 ms default). Fixture: 50 hosts via (doc_id*7)%50,
    priority (doc_id*37)%1000, even hosts carry an explicit delay
    600+200*(host%4). Output is bounded by hosts * budget regardless of
    frontier size."""
    from .operators import webtext

    docs = _docs(spark, sf_dir)
    hostnum = (F.col("doc_id") * 7) % 50
    frontier = docs.select(
        F.format_string(
            "https://host%04d.example/doc/%d", hostnum, F.col("doc_id")
        ).alias("url"),
        ((F.col("doc_id") * 37) % 1000).alias("priority"),
        F.when(
            hostnum % 2 == 0, F.lit(600) + (hostnum % 4) * 200
        ).alias("delay_ms"),
    )
    return webtext.crawl_schedule(frontier, budget=5, base_delay_ms=1000)


def webtext_recrawl_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Change-rate estimation across 4 crawl snapshots (Cho &
    Garcia-Molina-style change-frequency core in integer ppm): per URL,
    lag-compare fingerprints across snapshots, count changes over
    transitions. Fixture plants the full rate spectrum: doc_id%4 = r
    changes exactly r times across 3 transitions (version =
    least(snap, r)) -> change_ppm in {0, 333333, 666666, 1000000}."""
    from .operators import webtext

    docs = _docs(spark, sf_dir)
    snaps = docs.select(
        "doc_id", "text", F.explode(F.sequence(F.lit(0), F.lit(3))).alias("snap")
    )
    fetches = snaps.select(
        F.format_string(
            "https://host%04d.example/page/%d",
            F.expr("(doc_id div 3) % 100"), F.col("doc_id"),
        ).alias("url"),
        "snap",
        F.md5(
            F.format_string(
                "%s#v%d",
                F.col("text"),
                F.least(F.col("snap"), F.col("doc_id") % 4),
            )
        ).alias("fp"),
    )
    return webtext.recrawl_priority(fetches)


def webtext_host_templates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Host-scoped template detection (the per-domain paragraph-dedup
    CCNet applies before global dedup): sentences on >=50% of a host's
    pages are chrome. Fixture plants two boilerplate sentences per host
    page ('Welcome to host N', 'Cookie notice applies') ahead of the doc
    body; hosts have ~5 pages at sf0.001, so the planted chrome clears
    the share threshold and unique bodies don't."""
    from .operators import webtext

    docs = _docs(spark, sf_dir)
    hostnum = F.expr("(doc_id div 3) % 100")
    pages = docs.select(
        F.format_string(
            "https://host%04d.example/page/%d", hostnum, F.col("doc_id")
        ).alias("url"),
        F.format_string(
            "Welcome to host %d. Cookie notice applies. %s",
            hostnum, F.col("text"),
        ).alias("text"),
    )
    return webtext.host_templates(pages, min_share_ppm=500_000, min_pages=2)


def webtext_geo_hosts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Geospatial rollup of the crawl by hosting location (the
    geo-distribution read every crawl operator tracks): each host maps to
    a deterministic res-7 grid cell (x = host*13 % 128, y = host*29 %
    128 — a geo-IP dim in fixture form), pages aggregate per cell, and
    the res-5 parent supports the coarse rollup. Pure integer Morton
    encode (cells.morton_sql) + one aggregate — the webtext x geospatial
    composition, no floats anywhere."""
    from . import cells

    docs = _docs(spark, sf_dir)
    hostnum = F.expr("(doc_id div 3) % 100")
    _h = "((doc_id div 3) % 100)"
    cell7 = F.expr(cells.morton_sql(
        f"cast(({_h} * 13) % 128 as bigint)",
        f"cast(({_h} * 29) % 128 as bigint)", 7))
    return (
        docs.select(
            hostnum.alias("hostnum"), cell7.alias("cell_id7")
        )
        .groupBy("cell_id7")
        .agg(
            F.count("*").cast("long").alias("n_pages"),
            F.count_distinct("hostnum").cast("long").alias("n_hosts"),
        )
        .withColumn(
            "cell_id5", cells.parent_col(F.col("cell_id7"), 2).cast("long")
        )
        .select("cell_id7", "cell_id5", "n_pages", "n_hosts")
    )


def text_gopher_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-rule quality filtering (Rae et al. 2021 App. A subset) with
    a per-rule reasons bitmask. The fixture plants each violation class
    deterministically on top of the corpus text: doc_id%7==0 gains 20
    symbol tokens (symbol-ratio rule), doc_id%13==0 gains one 1500-char
    token (mean-word-length rule), doc_id%17==0 has its stopwords
    rewritten to 'zz' (stopword rule); natural short docs exercise the
    word-count rule. All rules integer cross-multiplied — zero floats."""
    from .operators import curation

    docs = _docs(spark, sf_dir)
    text = F.col("text")
    text = F.when(
        F.col("doc_id") % 17 == 0,
        F.regexp_replace(text, "\\b(the|a|of|and|to|in)\\b", "zz"),
    ).otherwise(text)
    text = F.when(
        F.col("doc_id") % 7 == 0,
        F.concat(text, F.expr("repeat(' #', 20)")),
    ).otherwise(text)
    text = F.when(
        F.col("doc_id") % 13 == 0,
        F.concat(text, F.lit(" "), F.expr("repeat('z', 1500)")),
    ).otherwise(text)
    return curation.gopher_filter(docs.select("doc_id", text.alias("text")))


def _blob_payloads(rows: DataFrame, rec: Column) -> DataFrame:
    """(blob_id, payload) chunks of five rows (blob_id = doc_id div 5):
    each row's ``rec`` string concatenated in doc_id order via array_sort
    on (doc_id, rec) structs."""
    return (
        rows.select(
            F.expr("doc_id div 5").alias("blob_id"),
            F.struct(F.col("doc_id"), rec.alias("rec")).alias("s"),
        )
        .groupBy("blob_id")
        .agg(
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_list("s")), lambda s: s["rec"]
                ),
                "",
            ).alias("payload")
        )
    )


def _warc_blobs(docs: DataFrame) -> DataFrame:
    """The WARC chunk fixture shared by webtext_warc_records and
    webtext_wet_export: ``_blob_payloads`` over one WARC record per doc.
    Mirrored independently by the oracles' string_agg-ordered build."""
    rec = F.format_string(
        "WARC/1.0\nWARC-Target-URI: https://host%04d.example/doc/%d\n"
        "Content-Length: %d\n\n%s\n\n",
        F.col("doc_id") % 100, F.col("doc_id"),
        F.length("text"), F.col("text"),
    )
    return _blob_payloads(docs, rec)


def webtext_wet_export(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WET chunk re-serialization round-trip: the shared WARC blob fixture
    is SPLIT into records (warc_split) and re-exported (wet_export); the
    gate compares (n_records, payload_chars, payload_md5) per chunk
    against an oracle that builds the chunks directly and never splits —
    so split -> export is proven byte-lossless, not just shape-lossless."""
    from .operators import webtext

    blobs = _warc_blobs(_docs(spark, sf_dir))
    return webtext.wet_export(webtext.warc_split(blobs))


def webtext_url_templates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """URL path-template mining: numeric path segments generalize to
    '{n}', pages and distinct URLs count per (host, template). Fixture
    plants three generators per site: /doc/{n} (doc_id%3==0),
    /cat/{n}/item/{n} with a tracking query to strip (%3==1), and the
    static /page/about (%3==2)."""
    from .operators import webtext

    docs = _docs(spark, sf_dir)
    gid = F.expr("doc_id div 3")
    host = F.format_string("host%02d.example", gid % 20)
    path = (
        F.when(
            F.col("doc_id") % 3 == 0,
            F.format_string("/doc/%d", F.col("doc_id")),
        )
        .when(
            F.col("doc_id") % 3 == 1,
            F.format_string(
                "/cat/%d/item/%d?ref=promo", gid % 10, F.col("doc_id")
            ),
        )
        .otherwise(F.lit("/page/about"))
    )
    pages = docs.select(
        F.concat(F.lit("https://"), host, path).alias("url")
    )
    return webtext.url_templates(pages)


def webtext_stream_outlinks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAMING host-graph maintenance: the linked-page fixture as a
    pure projection over the document stream, outlink extraction map-side
    in-stream, stateful edge-set dedup (one state row per distinct
    (src_host, dst_url) edge), drained availableNow in append mode; the
    per-host fan-out rollup then runs as a BATCH aggregate over the
    maintained edge set — the incremental form of webtext_host_graph's
    batch build, at one state store."""
    from . import streaming

    sdocs = streaming.stream_documents(spark, sf_dir)
    pages = _linked_pages(sdocs)
    edges = streaming.run_available_now(
        streaming.stream_outlink_edges(pages), mode="append"
    )
    return edges.groupBy("src_host").agg(
        F.count("*").cast("long").alias("n_targets")
    )


def webtext_site_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Site-cluster formation: connected components over a deterministic
    host->host mirror/alias graph (h -> (7h+4) mod 96 — a permutation, so
    the undirected components are its cycles: non-trivial sizes), then a
    per-component rollup (size + representative = min host id). The
    domain-clustering composition (CC reused from graph_iter) a crawl
    runs to group mirror sites before per-site budgeting."""
    from .operators import graph_iter

    docs = _docs(spark, sf_dir)
    hostnum = F.expr("(doc_id div 3) % 100")
    edges = (
        docs.select(hostnum.alias("src"))
        .filter(F.col("src") < 96)
        .select("src", ((F.col("src") * 7 + 4) % 96).alias("dst"))
        .distinct()
    )
    cc = graph_iter.connected_components(edges)
    return cc.groupBy(F.col("component").cast("long").alias("component")).agg(
        F.count("*").cast("long").alias("n_hosts"),
    )


def webtext_robots_parse(spark: SparkSession, sf_dir: str) -> DataFrame:
    """robots.txt PARSING into the rules dim robots_filter applies (RFC
    9309 grouping: rules bind to the most recent User-agent group;
    consecutive User-agent lines share one group). Fixture: one robots.txt
    per host with a comment line, a '*' group (Disallow /private,
    Crawl-delay 1+h%5, plus Allow /public on h%3==0) and a two-agent
    group (gptbot+ccbot sharing 'Disallow: /') — the multi-agent group is
    the case naive line-pairing parsers get wrong. Hosts h%4==1 add the
    canonical allow-all `Disallow:` (EMPTY value) to the '*' group — RFC
    9309 says that is NO rule; a parser that emits it hands robots_filter
    an empty prefix that blocks the whole host (the exact inverse)."""
    from .operators import webtext

    hosts = spark.range(50).select(
        F.format_string("host%04d.example", F.col("id")).alias("host"),
        F.col("id").alias("h"),
    )
    payload = F.concat(
        F.lit("# robots\nUser-agent: *\nDisallow: /private\n"),
        F.when(F.col("h") % 4 == 1, F.lit("Disallow:\n")).otherwise(F.lit("")),
        F.when(F.col("h") % 3 == 0, F.lit("Allow: /public\n")).otherwise(
            F.lit("")
        ),
        F.format_string("Crawl-delay: %d\n", F.col("h") % 5 + 1),
        F.lit("\nUser-agent: gptbot\nUser-agent: ccbot\nDisallow: /\n"),
    )
    robots = hosts.select("host", payload.alias("payload"))
    return webtext.robots_parse(robots)


def webtext_token_budget(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Largest-remainder apportionment of a 1M-token sampling budget
    across crawl hosts proportional to their token mass — the mixture-
    quota step of corpus building; sum(alloc) == budget EXACTLY. The
    remainder rank is the two-phase distributed scan (pack_sequences
    idiom), never an unpartitioned window: at web scale the host dim is
    tens of millions of domains."""
    from .operators import curation

    docs = _docs(spark, sf_dir)
    weights = docs.groupBy(
        F.format_string(
            "host%04d.example", F.expr("(doc_id div 3) % 100")
        ).alias("host")
    ).agg(
        F.sum(F.size(F.split(F.col("text"), " "))).cast("long")
        .alias("n_tokens")
    )
    return curation.apportion_budget(weights, budget=1_000_000)


def webtext_robots_e2e(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robots PARSE -> APPLY equivalence: per-host robots.txt payloads
    carrying the same disallow semantics as webtext_robots_filter's rules
    dim (h%5==2 -> /doc/1, h%3==0 -> /doc/2) plus a decoy 'archiver'
    group that must NOT leak into the '*' rules; robots_parse extracts
    the '*' disallow rules, robots_filter applies them. The oracle is
    robots_filter_sql VERBATIM — matching it proves the parser feeds the
    filter exactly what hand-built rules would."""
    from .operators import webtext

    hosts = spark.range(100).select(
        F.format_string("host%04d.example", F.col("id")).alias("host"),
        F.col("id").alias("h"),
    )
    payload = F.concat(
        F.lit(
            "# autogenerated\nUser-agent: archiver\n"
            "Disallow: /everything-else\n\nUser-agent: *\n"
        ),
        F.when(F.col("h") % 5 == 2, F.lit("Disallow: /doc/1\n")).otherwise(
            F.lit("")
        ),
        F.when(F.col("h") % 3 == 0, F.lit("Disallow: /doc/2\n")).otherwise(
            F.lit("")
        ),
        F.lit("Crawl-delay: 2\n"),
    )
    rules = (
        webtext.robots_parse(hosts.select("host", payload.alias("payload")))
        .filter((F.col("agent") == "*") & (F.col("rule_type") == "disallow"))
        .select("host", F.col("value").alias("path_prefix"))
    )
    return webtext.robots_filter(_crawl_pages(_docs(spark, sf_dir)), rules)


def webtext_domain_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-domain language mix (the language-routing signal a multilingual
    crawl pipeline partitions by): the vectorized langid heuristic per
    page, rolled up per host — page count, distinct predicted languages,
    and the modal language under (count desc, lang asc) min_by tie-break.
    Composition of the Arrow langid UDF with the anchor-index rollup
    idiom; host dim orders smaller than the corpus."""
    from .operators import textstats

    docs = _docs(spark, sf_dir)
    lid = textstats.langid(docs).join(
        docs.select(
            "doc_id",
            F.format_string(
                "host%04d.example", F.expr("(doc_id div 3) % 100")
            ).alias("host"),
        ),
        "doc_id",
    )
    per = lid.groupBy("host", "pred_lang").agg(F.count("*").alias("cnt"))
    return per.groupBy("host").agg(
        F.sum("cnt").cast("long").alias("n_docs"),
        F.count("*").cast("long").alias("n_langs"),
        F.expr("min_by(pred_lang, struct(-cnt, pred_lang))").alias(
            "top_lang"
        ),
    )


def dedup_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental cross-snapshot dedup: old snapshot = doc_id%10!=7, new
    snapshot = doc_id%10!=3 with doc_id%5==0 content rewritten (the
    snapshot_diff fixture's change model) — the new-or-changed content
    rows entering the corpus, anti-joined against the old hash set and
    first-seen-deduped within the batch."""
    from .operators import dedup

    docs = _docs(spark, sf_dir)
    old = docs.filter(F.col("doc_id") % 10 != 7).select(
        F.md5("text").alias("text_hash")
    )
    new_text = F.when(
        F.col("doc_id") % 5 == 0,
        F.concat(F.col("text"), F.lit(" v2")),
    ).otherwise(F.col("text"))
    new = docs.filter(F.col("doc_id") % 10 != 3).select(
        "doc_id", new_text.alias("text")
    )
    return dedup.incremental_new_hashes(new, old.distinct())


def multimodal_ahash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Perceptual average-hash over the opaque media payload column (the
    cheap pHash-family member): 64 block-mean bits per payload via exact
    integer cross-multiplication, emitted as two 32-bit halves. The
    payload bytes ARE the deterministic stand-in pixels, so the oracle
    recomputes the hash from the characters — the Arrow binary plumbing
    is value-checked byte-for-byte. Near-dup pairing over these hashes
    reuses the simhash pigeonhole blocking unchanged."""
    from .operators import multimodal

    return multimodal.ahash(multimodal.payloads_df(_docs(spark, sf_dir)))


def text_bigram_lm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-based bigram LM: top-3 continuations per token with exact
    integer conditional probability (ppm) — the order-2 companion of
    text_familiarity's unigram stats (the KenLM role in CCNet quality
    scoring, reduced to its count core)."""
    from .operators import textstats

    return textstats.bigram_lm(_docs(spark, sf_dir), k=3)


def webtext_domain_reputation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """END-TO-END domain reputation: integer PageRank (10 iters) + HITS
    hub/authority (5 iters) over the host link graph joined with the
    crawl-fixture duplicate-fetch rate, combined into one exact-integer
    composite ((5*rank + 3*auth + 2*hub) div 10 - dup_ppm div 10) — the
    crawl-prioritization score a scheduler budgets by. The link-side twin
    of train_set/web_ingest: three already-verified operators composed
    and value-checked WHOLE."""
    return webtext_domain_reputation_stages(spark, sf_dir)["full"]


def webtext_domain_reputation_stages(
    spark: SparkSession, sf_dir: str, only: str | None = None
) -> dict[str, DataFrame]:
    """The ``webtext_domain_reputation`` composite with each component
    exposed — ``pagerank`` (10 iters), ``hits`` (5 iters), ``dup_rate``,
    ``full`` — for per-stage bench timing (VERDICT r4 next-round #5).
    Single source of truth: the query returns ``stages["full"]``.

    ``only`` builds just the named leg (plus its dependencies): the rank
    legs run their per-iteration localCheckpoints EAGERLY at build time,
    so building all legs to time one re-executes the others' iterative
    work and leaks their checkpoint blocks into the measurement — the
    bench's per-stage children pass ``only`` so each fresh JVM executes
    exactly the leg it times."""
    from .operators import linkgraph
    from .operators.curation import canonicalize_url

    need = {only} if only else {"pagerank", "hits", "dup_rate", "full"}
    if "full" in need:
        need |= {"pagerank", "hits", "dup_rate"}
    docs = _docs(spark, sf_dir)
    edges = _host_edges(docs)
    nodes = _host_nodes(spark)
    pr = hi = dup = None
    if "pagerank" in need:
        pr = linkgraph.pagerank_integer(edges, nodes, iterations=10)
    if "hits" in need:
        hi = linkgraph.hits_integer(edges, nodes, iterations=5).select(
            F.col("host"), "hub_micro", "auth_micro"
        )
    if "dup_rate" not in need:
        return {"pagerank": pr, "hits": hi, "dup_rate": None, "full": None}
    dup = (
        _crawl_pages(docs)
        .select(canonicalize_url(F.col("url")).alias("cu"))
        .select(
            F.regexp_extract("cu", "^https?://([^/]+)", 1).alias("host"),
            "cu",
        )
        .groupBy("host")
        .agg(
            F.expr(
                "(count(*) - count(DISTINCT cu)) * 1000000 div count(*)"
            ).cast("long").alias("dup_ppm")
        )
    )
    if "pagerank" not in need or "hits" not in need:
        return {"pagerank": pr, "hits": hi, "dup_rate": dup, "full": None}
    full = (
        pr.join(hi, "host")
        .join(dup, "host", "left")
        .withColumn("dup_ppm", F.coalesce(F.col("dup_ppm"), F.lit(0)).cast("long"))
        .withColumn(
            "reputation_micro",
            F.expr(
                "(5 * rank_micro + 3 * auth_micro + 2 * hub_micro) div 10"
                " - dup_ppm div 10"
            ).cast("long"),
        )
        .select(
            "host", "rank_micro", "auth_micro", "hub_micro", "dup_ppm",
            "reputation_micro",
        )
    )
    return {"pagerank": pr, "hits": hi, "dup_rate": dup, "full": full}


def webtext_geo_regions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Crawl pages per geographic REGION: each host's deterministic point
    (the shared skewed-point derivation, reused on host ids) runs through
    the full two-phase PIP join against the polygon layer (interior-cell
    short-circuit + exact ray-cast refine), then the crawl's per-host
    page counts roll up per (polygon, admin_level) — the second
    geo x webtext graft composition, exercising the flagship PIP
    machinery over the crawl host dim."""
    docs = _docs(spark, sf_dir)
    hosts = docs.select(
        F.expr("(doc_id div 3) % 100").alias("doc_id")
    ).distinct()
    pts = pages_src.points_from_ids(hosts).withColumn(
        "cell", F.expr(cells.morton_sql("gx", "gy", layers.GRID_RES))
    )
    joined = pip_join.pip_join(pts, spark, keys=("doc_id",))
    pages = docs.groupBy(
        F.expr("(doc_id div 3) % 100").alias("h")
    ).agg(F.count("*").alias("n_pages"))
    return (
        joined.join(pages, joined["doc_id"] == pages["h"])
        .groupBy("polygon_id", "admin_level")
        .agg(
            F.count_distinct(joined["doc_id"]).cast("long").alias("n_hosts"),
            F.sum("n_pages").cast("long").alias("n_pages"),
        )
    )


# ---------------------------------------------------------------------------
# r4 wave 3: clustering / importance resampling / overlay / quadkey /
# trajectories / snapshot drift
# ---------------------------------------------------------------------------

def emb_kmeans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Integer Lloyd's k-means over the quantized embedding corpus — the
    TRAINED coarse quantizer ann.ivf_topk defers to at 10^12 rows (fixed
    k ~ sqrt(N) centroids instead of a corpus-fraction sample). k=8,
    2 Lloyd updates, every step exact int64; the oracle unrolls the same
    two iterations (assignment / truncated-div centroid update) in SQL."""
    from .operators import cluster

    return cluster.kmeans_assign(_embs(spark, sf_dir), k=8, iters=2)


def dedup_semantic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup (Abbas et al. 2023): embedding near-dup pairs WITHIN k-means
    clusters — the cluster equi-join bounds the pair space by cluster size
    (pick k ~ N/1000 at corpus scale), never corpus-quadratic. Verify is
    the same exact quantized cosine as dedup_embedding."""
    from .operators import cluster

    return cluster.semantic_dups(_embs(spark, sf_dir), k=8, iters=2, threshold=0.4)


def text_dsir_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR importance weights (Xie et al. 2023): hashed-bigram log-ratio
    score of each doc against the lang='en' target slice, for importance
    resampling toward the target distribution. Feature dim bounded by the
    1024 hash buckets (broadcast); bit-length log2 proxy keeps every value
    exact BIGINT on both engines."""
    from .operators import curation

    return curation.dsir_weights(_docs(spark, sf_dir), target_lang="en")


def geo_quadkey(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, quadkey, qk4): Bing-maps-style quadkey tile addresses at
    zoom 10 — the Morton cell id rendered as base-4 digit string, whose
    PREFIX structure makes tile parentage a string operation (qk4 = zoom-4
    parent = first 4 digits). Pure JVM bit arithmetic fused with the scan;
    no shuffle (plan pinned in tests)."""
    pts = pages_src.doc_points_df(spark, sf_dir)
    digits = [
        (
            (F.shiftright(F.col("gy"), layers.GRID_RES - i) % 2) * 2
            + (F.shiftright(F.col("gx"), layers.GRID_RES - i) % 2)
        ).cast("string")
        for i in range(1, layers.GRID_RES + 1)
    ]
    return pts.select(
        "doc_id",
        F.concat(*digits).alias("quadkey"),
    ).withColumn("qk4", F.substring("quadkey", 1, 4))


def geo_rect_overlay(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rectangle overlay join: per-doc page-footprint parcels × the fixed
    zone layer, exact integer intersection areas — the axis-aligned case of
    GIS polygon overlay. Scale path = cover-cell equi-join with the
    duplicate-free PBSM reporting rule (operators/overlay.py); the zone dim
    is 40 rows, but the plan never cross-joins the corpus."""
    from .operators import overlay

    parcels = pages_src.doc_points_df(spark, sf_dir).select(
        F.col("doc_id").alias("a_id"),
        F.col("gx").alias("ax0"),
        F.col("gy").alias("ay0"),
        F.least(F.col("gx") + F.expr(layers.PARCEL_W_SQL), F.lit(layers.GRID_N)).alias("ax1"),
        F.least(F.col("gy") + F.expr(layers.PARCEL_H_SQL), F.lit(layers.GRID_N)).alias("ay1"),
    )
    zones = arrow_local_df(
        spark, layers.zone_rects(),
        "b_id long, bx0 long, by0 long, bx1 long, by1 long",
    )
    return (
        overlay.rect_overlay(parcels, zones, shift=6)
        .select(
            F.col("a_id").alias("doc_id"), F.col("b_id").alias("zone_id"),
            "ix0", "iy0", "ix1", "iy1", "area",
        )
    )


def webtext_snapshot_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language token-distribution drift between two crawl snapshots
    (doc_id parity splits the corpus into snapshot halves, as
    webtext_snapshot_diff does): L1 distance of the unigram distributions
    in exact integer ppm — the monitoring stat that detects corpus rot /
    topic shift between crawls. Vocab-keyed aggregates only (uniform);
    per-lang totals are a tiny dim joined back broadcast."""
    toks = (
        _docs(spark, sf_dir)
        .select("doc_id", "lang", F.explode(F.split("text", " ")).alias("tok"))
        .filter(F.col("tok") != "")
        .withColumn("snap", (F.col("doc_id") % 2).cast("long"))
    )
    cnt = toks.groupBy("lang", "tok").agg(
        F.sum(F.when(F.col("snap") == 0, 1).otherwise(0)).alias("c0"),
        F.sum(F.when(F.col("snap") == 1, 1).otherwise(0)).alias("c1"),
    )
    tot = cnt.groupBy("lang").agg(
        F.sum("c0").alias("t0"), F.sum("c1").alias("t1")
    )
    ppm = cnt.join(F.broadcast(tot), "lang").select(
        "lang",
        F.abs(
            F.expr("c0 * 1000000 div t0") - F.expr("c1 * 1000000 div t1")
        ).alias("d"),
    )
    return ppm.groupBy("lang").agg(
        F.sum("d").cast("long").alias("l1_drift_ppm"),
        F.count(F.lit(1)).alias("n_tokens_vocab"),
    )


def webtext_communities(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Host-community detection by deterministic synchronous label
    propagation over the same host link graph as webtext_domain_rank —
    the mirror-family / link-farm grouping pass one level above
    connected components. 3 unrolled iterations, modal-label argmax
    packed into one BIGINT (count desc, label asc) so both engines
    resolve ties identically."""
    from .operators import linkgraph

    edges = _host_edges(_docs(spark, sf_dir))
    nodes = _host_nodes(spark)
    return linkgraph.label_propagation(edges, nodes, iterations=3)


def webtext_kcore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-core decomposition of the shared host link graph (k=10, 4 unrolled
    peeling rounds): the link-density spam/farm signal next to rank,
    HITS and LPA — survivors sit in neighborhoods where every member
    keeps >= 10 distinct link partners after repeated peeling.
    Deterministic synchronous schedule, oracle unrolls the same rounds.
    k chosen non-vacuous on the fixture (host degrees are 9-12 at every
    sf): peeling measures 100 -> 98 -> 96 hosts and CONVERGES by round 3
    at sf0.001 and sf0.01, so rounds=4 returns the exact 10-core."""
    from .operators import linkgraph

    return linkgraph.kcore(_host_edges(_docs(spark, sf_dir)), k=10, rounds=4)


def webtext_crawl_depth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Crawl depth: multi-source BFS hop distance from the seed hosts
    (every 10th host, the deterministic seed-list fixture) over the
    shared DIRECTED host link graph — the page-depth quality signal a
    crawl pipeline budgets and audits by (shallow = hubs, deep = long
    tail + trap territory). 4 unrolled synchronous min-relax rounds,
    mirrored layer-by-layer by the oracle; the fixture graph converges
    by round 3 at every sf (verified: round 3 == round 4 == round 5
    at sf0.001 and sf0.01), so rounds=4 returns exact BFS distances."""
    from .operators import linkgraph

    seeds = _host_nodes(spark).filter(
        F.expr("CAST(substr(host, 5, 4) AS INT) % 10 = 0")
    )
    return linkgraph.bfs_depth(
        _host_edges(_docs(spark, sf_dir)), seeds, rounds=4
    )


def webtext_trustrank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TrustRank over the shared host link graph: PageRank with teleport
    restricted to the trusted seed list (the crawl-seed fixture shared
    with webtext_crawl_depth — every 10th host). The pagerank-vs-trustrank
    gap is the classic link-spam signal (Gyöngyi et al. 2004): farms that
    interlink to inflate plain PageRank starve of seed-originating trust.
    10 unrolled integer iterations, bit-exact, oracle mirrors the layers."""
    from .operators import linkgraph

    seeds = _host_nodes(spark).filter(
        F.expr("CAST(substr(host, 5, 4) AS INT) % 10 = 0")
    )
    return linkgraph.trustrank_integer(
        _host_edges(_docs(spark, sf_dir)), _host_nodes(spark), seeds,
        iterations=10,
    )


def _bowtie_edges(docs: DataFrame):
    """Deterministic bowtie-structured host graph (its OWN fixture — the
    shared ``_host_edges`` graph is one giant SCC, which would make the
    decomposition vacuous; same sanctioned sub-fixture pattern as the
    snapshot-diff corpora). Host classes by residue h = doc_id % 100:
    IN [0,25) -> CORE only; CORE [25,70) strongly connected (h->h+1
    cycle + doc-derived chords) with every-3rd-doc CORE->OUT exits;
    OUT [70,90) links only within OUT; OTHER [90,100) is a disconnected
    island. Two edges per doc, mirrored verbatim by the oracle CTE."""
    h = F.col("doc_id") % 100
    e1_dst = (
        F.when(h < 25, 25 + (F.col("doc_id") * 7) % 45)
        .when(h < 70, 25 + (h - 25 + 1) % 45)
        .when(h < 90, 70 + (F.col("doc_id") * 3) % 20)
        .otherwise(90 + (F.col("doc_id") * 3) % 10)
    )
    e2_dst = (
        F.when(h < 25, (F.col("doc_id") * 11) % 25)
        .when(
            h < 70,
            F.when(F.col("doc_id") % 3 == 0, 70 + F.col("doc_id") % 20)
            .otherwise(25 + (F.col("doc_id") * 11) % 45),
        )
        .when(h < 90, 70 + (F.col("doc_id") * 7) % 20)
        .otherwise(90 + (F.col("doc_id") * 7) % 10)
    )
    src = F.format_string("host%04d.example", h).alias("src")
    e1 = docs.select(src, F.format_string("host%04d.example", e1_dst).alias("dst"))
    e2 = docs.select(src, F.format_string("host%04d.example", e2_dst).alias("dst"))
    return e1.unionAll(e2)


def webtext_bowtie(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bowtie decomposition (Broder et al. 2000) of the class-structured
    host graph: every host labeled core / in / out / other relative to
    the pivot ``host0025.example`` (in the CORE by construction). Two
    fixed-round BFS waves (forward + backward), classes from the
    reach-flag pair; the oracle unrolls the identical layers. The waves
    converge at round 7 on the fixture (round 7 == round 8 verified at
    sf0.001 and sf0.01 — the backward wave walks the reversed core
    cycle, so it needs more rounds than the chord-rich forward wave);
    rounds=8 adds one round of margin, so the classes are the exact
    reachability classes: 25 in / 45 core / 20 out / 10 other."""
    from .operators import linkgraph

    return linkgraph.bowtie(
        _bowtie_edges(_docs(spark, sf_dir)), _host_nodes(spark),
        pivot="host0025.example", rounds=8,
    )


def dedup_bloom_frontier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Crawl-frontier Bloom pre-filter audit: the extracted outlink URLs
    (the frontier, keyed query-string-insensitively — frontier schedulers
    normalize harder than content dedup since '?ref=' variants fetch the
    same page) probe a k=2/m=2048 md5-position Bloom filter built from
    the crawled page-URL set, next to the exact membership join —
    reporting hit/false-positive counts and the measured fp_ppm that
    grounds the filter sizing. Deterministic bit-for-bit (md5-uniform
    positions), so the oracle rebuilds the identical filter; no false
    negatives by construction (n_bloom_hit >= n_seen_exact, pytest-pinned).
    m is fixed for oracle parity — production sizes m ≈ n·k/ln2 from the
    crawled-set cardinality (the sf0.1 run SHOWS why: 10× the crawled set
    saturates this m and fp_ppm degrades toward 1e6), and the probe side
    stays k broadcast joins however big the frontier grows."""
    from .operators import dedup, webtext

    pages = _linked_pages(_docs(spark, sf_dir))
    cands = webtext.outlink_extract(pages).select(
        F.regexp_replace(F.col("dst_url"), "[?].*$", "").alias("url")
    )
    return dedup.bloom_prefilter(cands, pages.select("url"), m=2048, k=2)


def text_dup_span_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ExactSubstr span REMOVAL (Lee et al. 2022): strip every token
    covered by a 3-gram that occurs in >= 2 distinct documents, and
    reassemble each doc's surviving text byte-deterministically. The
    act-on-it counterpart to text_dup_ngrams' measurement — returns
    (doc_id, n_tokens, n_removed, clean_text), value-checked whole
    (including the reassembled strings) against the oracle."""
    from .operators import dedup

    return dedup.dup_span_scrub(_docs(spark, sf_dir), n=3)


def dedup_cdc_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Content-defined chunking dedup stats (rsync/LBFS boundaries over
    the token stream, expected chunk ≈ 16 tokens): per-doc share of
    chunks whose exact content recurs in other documents — the
    alignment-robust long-span dedup signal fixed-offset blocking cannot
    give (shared spans chunk identically wherever they sit). Non-vacuous
    on the fixture: 297 of 2,161 chunks duplicated at sf0.001."""
    from .operators import dedup

    return dedup.cdc_chunk_stats(_docs(spark, sf_dir), w=3, mod=16)


def text_countmin_calibration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-min sketch heavy-hitter estimation audit: a 3×1024 counter
    grid over the corpus 3-gram stream (16k–27k distinct shingles at
    test scales, so collisions are guaranteed and the over-estimate is
    non-vacuous), estimate-vs-exact for the top-100 shingles in integer
    ppm. Bit-deterministic md5 positions — the sketch row itself
    hash-verifies against the oracle, unlike HLL which is rows-only by
    nature. The never-underestimates property and exact recovery at
    collision-free width are pytest-pinned."""
    from .operators import dedup

    return dedup.countmin_calibration(
        _docs(spark, sf_dir), n=3, w=1024, d=3, top=100
    )


def webtext_cocitation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Related-host pairs by bibliographic coupling over the shared host
    link graph: shared-out-target counts scored as integer cosine² ppm
    (Dean & Henzinger related-pages at host granularity) — the
    "related domains" signal next to rank/HITS/communities. Exact
    integer arithmetic; pair space dim-bounded on the host graph."""
    from .operators import linkgraph

    return linkgraph.cocitation(
        _host_edges(_docs(spark, sf_dir)), min_common=2
    )


def text_bpe_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE tokenizer APPLICATION: encode the whole corpus with the
    bpe_train merge table (train once -> tokenize everything, the
    production step after vocabulary induction). Per-doc
    (n_words, n_tokens, n_chars); merge chain fused with the token scan
    as JVM replaces; oracle re-learns the same rules and applies them
    via unrolled CTE layers."""
    from .operators import bpe

    return bpe.bpe_apply(_docs(spark, sf_dir), merges=8)


def text_novelty(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-doc shingle novelty vs the whole corpus (share of the doc's
    3-gram shingles first seen in this doc, by ingestion order) — the
    crawl-health dedup-monitoring curve."""
    from .operators import dedup

    return dedup.novelty_stats(_docs(spark, sf_dir), n=3)


def text_length_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact per-source p50/p90/p99 doc-length quantiles by deterministic
    rank selection — the corpus-health panel per source."""
    from .operators import textstats

    return textstats.length_quantiles(_docs(spark, sf_dir))


def geo_route_cells(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trajectory rasterization: the distinct res-5 cells each user's route
    visits — every consecutive ping pair becomes a line segment sampled by
    an exact-integer DDA (L = Chebyshev length steps; xt = x0 +
    (dx*t) div L — truncated division, identical in both engines), cells
    by Morton encode of the res-7 coords. The map-matching / coverage
    precursor: which tiles did this user's path touch.

    Scale: the explode is bounded by segment length in cells (the DDA
    emits L+1 samples — at res 5 a cross-grid segment is <= 32 cells wide after the shift, and real pings are dense so L is small); distinct
    shuffles on the uniform (user, cell) key."""
    from . import cells as cells_mod

    ev, w = _track(spark, sf_dir, "ex", "ey")
    seg = ev.select(
        "user_id",
        F.lag("ex").over(w).alias("x0"), F.lag("ey").over(w).alias("y0"),
        F.col("ex").alias("x1"), F.col("ey").alias("y1"),
    ).filter(F.col("x0").isNotNull()).withColumn(
        "L", F.greatest(F.abs(F.col("x1") - F.col("x0")),
                        F.abs(F.col("y1") - F.col("y0")), F.lit(1)),
    )
    pts = seg.select(
        "user_id",
        F.explode(F.sequence(F.lit(0), F.col("L"))).alias("t"),
        "x0", "y0", "x1", "y1", "L",
    ).select(
        "user_id",
        F.expr("x0 + ((x1 - x0) * t) div L").alias("xt"),
        F.expr("y0 + ((y1 - y0) * t) div L").alias("yt"),
    )
    return pts.select(
        "user_id",
        F.expr(cells_mod.morton_sql(
            "shiftright(xt, 5)", "shiftright(yt, 5)", 5
        )).alias("cell_id"),
    ).distinct()


def _neighbours8(spark: SparkSession, tiles: DataFrame, *cols) -> DataFrame:
    """Each (tx, ty) tile row once per 8-neighbour offset (dx, dy), keyed
    by the shifted (tx + dx, ty + dy) and carrying ``cols``."""
    offsets = arrow_local_df(
        spark,
        [(dx, dy) for dx in (-1, 0, 1) for dy in (-1, 0, 1) if (dx, dy) != (0, 0)],
        "dx long, dy long",
    )
    return tiles.crossJoin(F.broadcast(offsets)).select(
        (F.col("tx") + F.col("dx")).alias("tx"),
        (F.col("ty") + F.col("dy")).alias("ty"),
        *cols,
    )


def geo_tile_autocorr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spatial autocorrelation components of the res-5 doc-density grid (32x32 - dense enough for adjacency at gate scale):
    for each of the 8 neighbor offsets, the pair count and the exact
    integer cross-product sum (the Moran's-I numerator, per direction —
    anisotropy shows directly). One count aggregate on the tile key, one
    offsets explode (8 rows per tile), one self equi-join on the shifted
    key — never a spatial range scan."""
    pts = pages_src.doc_points_df(spark, sf_dir).select(
        F.shiftright("gx", 5).alias("tx"), F.shiftright("gy", 5).alias("ty")
    )
    c = pts.groupBy("tx", "ty").agg(F.count(F.lit(1)).alias("n"))
    shifted = _neighbours8(spark, c, "dx", "dy", F.col("n").alias("n_nbr"))
    return (
        c.join(shifted, ["tx", "ty"])
        .groupBy("dx", "dy")
        .agg(
            F.count(F.lit(1)).alias("n_pairs"),
            F.sum(F.col("n") * F.col("n_nbr")).cast("long").alias("sum_prod"),
        )
    )


def geo_tiles_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental rollup maintenance: res-7 tile counts computed as a
    MATERIALIZED base aggregate (the even-doc_id snapshot, localCheckpointed
    to simulate the stored agg table) merged with the new snapshot's delta
    aggregate — the don't-recompute-the-world pattern every 100 TB rollup
    lives by (counts are a commutative monoid: merge = re-sum). The oracle
    is the FULL single-pass recompute, so oracle equality proves the
    incremental merge is lossless."""
    pts = pages_src.doc_points_df(spark, sf_dir).select(
        "doc_id", _grid_cell(7).alias("cell_id")
    )
    base = (
        pts.filter(F.col("doc_id") % 2 == 0)
        .groupBy("cell_id").agg(F.count(F.lit(1)).alias("n"))
        .localCheckpoint()  # the previously-materialized agg table
    )
    delta = (
        pts.filter(F.col("doc_id") % 2 == 1)
        .groupBy("cell_id").agg(F.count(F.lit(1)).alias("n"))
    )
    return (
        base.unionAll(delta)
        .groupBy("cell_id")
        .agg(F.sum("n").cast("long").alias("n_docs"))
    )


def geo_grid_dbscan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grid-DBSCAN spatial clustering of the crawl's point density: core
    cells (res-5 tiles with >= minpts docs) clustered by 8-neighbor
    adjacency — cluster id = min Morton cell id, via the engine's
    size-adaptive connected_components. The grid quantization turns
    DBSCAN's epsilon-range scan into an equi-join on shifted tile keys
    (the standard distributed formulation); the adjacency graph is
    grid-bounded (<= 8 edges/core cell), orders smaller than the corpus.

    Output (cell_id, cluster, n_docs); isolated core cells are their own
    clusters (unioned in after CC, which derives nodes from edges)."""
    from .operators import graph_iter
    from . import cells as cells_mod

    minpts = 2
    pts = pages_src.doc_points_df(spark, sf_dir).select(
        F.shiftright("gx", 5).alias("tx"), F.shiftright("gy", 5).alias("ty")
    )
    core = (
        pts.groupBy("tx", "ty").agg(F.count(F.lit(1)).alias("n_docs"))
        .filter(F.col("n_docs") >= minpts)
        .withColumn("cell_id", F.expr(cells_mod.morton_sql("tx", "ty", 5)))
        .localCheckpoint()  # consumed three times (two join sides + final union)
    )
    nbr = _neighbours8(spark, core, F.col("cell_id").alias("src"))
    edges = nbr.join(core.select("tx", "ty", F.col("cell_id").alias("dst")), ["tx", "ty"]).select("src", "dst")
    cc = graph_iter.connected_components(edges).withColumnRenamed("node", "cell_id")
    return (
        core.select("cell_id", "n_docs")
        .join(cc, "cell_id", "left")
        .select(
            "cell_id",
            F.coalesce("component", "cell_id").alias("cluster"),
            "n_docs",
        )
    )


def webtext_triangles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-host triangle participation over the host link graph — the
    clustering-coefficient numerator that separates organic link
    neighborhoods from link farms. Multi-edges deduped, self-loops
    dropped, edges oriented a<b so each triangle is enumerated exactly
    once by two equi-joins (the node-iterator algorithm); the triangle
    explode then counts per member host."""
    e = (
        _host_edges(_docs(spark, sf_dir))
        .filter(F.col("src") != F.col("dst"))
        .select(
            F.least("src", "dst").alias("a"), F.greatest("src", "dst").alias("b")
        )
        .distinct()
        .localCheckpoint()  # consumed by all three join legs
    )
    tri = (
        e.join(
            e.select(F.col("a").alias("b"), F.col("b").alias("c")), "b"
        )
        .join(
            e.select(F.col("a").alias("_a"), F.col("b").alias("c")).withColumnRenamed("_a", "a"),
            ["a", "c"],
        )
        .select("a", "b", "c")
    )
    return (
        tri.select(F.explode(F.array("a", "b", "c")).alias("host"))
        .groupBy("host")
        .agg(F.count(F.lit(1)).alias("n_triangles"))
    )


def geo_region_centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-polygon doc-density centroid: the two-phase PIP join reused with
    (doc_id, gx, gy) carried through, then one aggregate — n_docs and the
    integer grid centroid (sum div count, exact) per region. The
    reverse-geocode rollup a geo dashboard draws region markers from."""
    from .operators import pip_join
    from . import cells as cells_mod

    pts = pages_src.doc_points_df(spark, sf_dir).withColumn(
        "cell", F.expr(cells_mod.morton_sql("gx", "gy", layers.GRID_RES))
    )
    hits = pip_join.pip_join(pts, spark, keys=("doc_id", "gx", "gy")).select(
        "doc_id", "gx", "gy", "polygon_id"
    )
    return hits.groupBy("polygon_id").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.expr("sum(gx) div count(*)").alias("cx_grid"),
        F.expr("sum(gy) div count(*)").alias("cy_grid"),
    )


def dedup_minhash_calibration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash estimator calibration: exact Jaccard vs the 64-coordinate
    MinHash estimate per candidate pair, integer ppm — the eval that
    grounds LSH band/row choices in measured estimator error (md5-salted
    hasher so the oracle mirrors it; production stays on xxhash64)."""
    from .operators import dedup

    return dedup.minhash_md5_calibration(_docs(spark, sf_dir), n=3, threshold_ppm=300_000)


def ann_recall_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANN recall@k evaluation: the hyperplane-LSH top-10 measured against
    the exact round-6-cosine ground truth, per query — (query_id, n_hits,
    recall_ppm). The eval every ANN deployment runs before trusting a
    bucketed index; ground truth is brute-force BY NATURE (an offline
    eval on the query sample — every=50 — not a production path), the
    LSH arm is the production bucketed plan. Both arms and the oracle
    share the exact integer plane/dot arithmetic, so recall is
    bit-reproducible."""
    from .operators import ann

    k, every = 10, 50
    lsh = ann.lsh_bucketed_topk(_embs(spark, sf_dir), k=k, every=every).select(
        "query_id", "neighbor_id"
    )
    gt = ann.cosine_topk(_embs(spark, sf_dir), k=k, every=every).select(
        "query_id", "neighbor_id"
    )
    return (
        gt.join(lsh.withColumn("hit", F.lit(1)), ["query_id", "neighbor_id"], "left")
        .groupBy("query_id")
        .agg(
            F.count(F.lit(1)).alias("k_eval"),
            F.sum(F.coalesce("hit", F.lit(0))).cast("long").alias("n_hits"),
            F.expr("sum(coalesce(hit, 0)) * 1000000 div count(*)").alias("recall_ppm"),
        )
    )


# ---------------------------------------------------------------------------
# r5 wave: exact vector geometry (segment crossings, hull diameter,
# tile pyramid, geohash encode)
# ---------------------------------------------------------------------------

def _track(spark: SparkSession, sf_dir: str, *cols):
    """Each user's event points as (user_id, ts, event_id, *cols), and the
    window that orders a user's track by (ts, event_id)."""
    from pyspark.sql import Window

    ev = pages_src.event_points_df(spark, sf_dir).select(
        "user_id", "ts", "event_id", *cols
    )
    return ev, Window.partitionBy("user_id").orderBy("ts", "event_id")


def _transit_lines(spark: SparkSession) -> DataFrame:
    """The gazetteer's transit-line dim: (line_id, bx0, by0, bx1, by1)."""
    return spark.range(layers.N_LINES).select(
        F.col("id").alias("line_id"),
        F.expr(layers.LINE_X0_SQL.format(j="id")).alias("bx0"),
        F.expr(layers.LINE_Y0_SQL.format(j="id")).alias("by0"),
        F.expr(layers.LINE_X1_SQL.format(j="id")).alias("bx1"),
        F.expr(layers.LINE_Y1_SQL.format(j="id")).alias("by1"),
    )


def geo_segment_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trajectory-hop x transit-line crossing join: every user's
    consecutive-ping segments (Chebyshev length <= 128 — longer hops are
    GPS teleports, discarded like geo_route_cells densifies them) against
    the 200-line gazetteer transit layer, exact closed-segment
    intersection semantics. Two-phase: bbox cover for the short probe
    side, chunked-corridor cover for the long line dim (broadcast), then
    the four-determinant integer refine — the same SQL text the oracle
    runs quadratically (operators/segments.py)."""
    from .operators import segments

    ev, w = _track(spark, sf_dir, "ex", "ey")
    seg = (
        ev.select(
            "user_id", F.col("event_id").alias("seg_id"),
            F.lag("ex").over(w).alias("ax0"), F.lag("ey").over(w).alias("ay0"),
            F.col("ex").alias("ax1"), F.col("ey").alias("ay1"),
        )
        .filter(F.col("ax0").isNotNull())
        .filter(
            F.greatest(
                F.abs(F.col("ax1") - F.col("ax0")),
                F.abs(F.col("ay1") - F.col("ay0")),
            ) <= 128
        )
    )
    lines = _transit_lines(spark)
    return segments.segment_crossing_join(
        seg, lines, id_cols=["user_id", "seg_id"], shift=6
    )


def geo_tile_diameter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-res-5-tile point-set diameter (exact max squared pairwise
    distance over distinct doc locations) — the spatial-extent /
    dispersion stat per tile. Engine: convex hull + calipers-style
    hull-vertex scan per tile in a grouped Arrow batch, O(n log n + h^2);
    oracle: the O(n^2) quadratic self-join — the classic
    smart-algorithm-vs-brute-force correctness pairing."""
    from .operators import segments

    return segments.tile_diameter(
        pages_src.doc_points_df(spark, sf_dir).select("gx", "gy"), shift=5
    )


def geo_tile_pyramid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The full tile pyramid in one pass: doc counts at EVERY Morton
    resolution 0..10 (the compacted cell hierarchy the north star's
    raster->vector path rolls up into). Aggregate ONCE at the finest res,
    THEN explode 11 (res, parent) pairs per base cell and re-aggregate —
    the explode runs on the cell table (<= 2^20 rows), never on the
    corpus, so the second shuffle is bounded by the grid, not the data."""
    pts = pages_src.doc_points_df(spark, sf_dir)
    base = pts.groupBy(
        F.expr(cells.morton_sql("gx", "gy", layers.GRID_RES)).alias("c10")
    ).agg(F.count(F.lit(1)).alias("n"))
    lv = base.select(
        F.explode(
            F.array(*[
                F.struct(
                    F.lit(r).cast("long").alias("res"),
                    F.shiftright("c10", 2 * (layers.GRID_RES - r)).alias("cell_id"),
                )
                for r in range(0, layers.GRID_RES + 1)
            ])
        ).alias("l"),
        "n",
    )
    return (
        lv.select("l.res", "l.cell_id", "n")
        .groupBy("res", "cell_id")
        .agg(F.sum("n").cast("long").alias("n_docs"))
    )


def geo_geohash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Standard geohash encode (Niemeyer base32) at precision 4 — 20 bits,
    lon bit first, exactly the res-10 grid. The interleave is the Morton
    transform with the axes swapped (lon on ODD bit positions so it leads
    the MSB), then 4x 5-bit base32 chars by substring lookup
    (cells.geohash_char_sql — the same text the oracle runs). Pure JVM
    bit arithmetic + string ops fused with the scan; gh3 = the 3-char
    parent prefix (geohash's containment-by-prefix property)."""
    pts = pages_src.doc_points_df(spark, sf_dir)
    g = F.expr(cells.morton_sql("gy", "gx", layers.GRID_RES)).alias("g")
    chars = [F.expr(cells.geohash_char_sql("g", k)) for k in range(4)]
    return (
        pts.select("doc_id", g)
        .select("doc_id", F.concat(*chars).alias("gh4"))
        .withColumn("gh3", F.substring("gh4", 1, 3))
    )


def geo_map_match(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GPS map-matching: snap every trajectory ping to the nearest
    rasterized transit line within euclidean radius 16 px (exact integer
    dist^2; deterministic min-dist-then-min-line tie-break via the packed
    argmin); unmatched pings drop out. The dim side (200 lines DDA-sampled
    to ~80k integer points, exploded to 3x3 neighbor cells) broadcasts;
    the corpus side maps its own cell key and never shuffles before the
    final per-ping argmin (operators/segments.py:snap_to_lines)."""
    from .operators import segments

    ev = pages_src.event_points_df(spark, sf_dir).select(
        "user_id", "event_id", "ex", "ey",
    )
    lines = _transit_lines(spark)
    raster = segments.rasterize_segments(lines)
    return segments.snap_to_lines(
        ev, raster, id_cols=["user_id", "event_id"], radius=16
    )


# one synchronous Visvalingam pass: a ping survives if it is a trajectory
# endpoint or its triangle-with-neighbors area is at least this (area2 =
# TWICE the triangle area, exact int64 cross product). The synchronous
# single pass — every interior point judged against its ORIGINAL
# neighbors — is the deterministic distributable variant of the
# sequential smallest-first elimination (which is order-dependent and
# inherently serial per polyline).
TRAJ_SIMPLIFY_AREA2 = 200_000


def geo_traj_simplify(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trajectory simplification (Visvalingam–Whyatt single pass): drop
    interior pings whose lag/lead neighbor triangle has 2*area below
    TRAJ_SIMPLIFY_AREA2. Pure window + exact integer cross product —
    zero Python, one shuffle on the user key, the same SQL text as the
    oracle's window CTE."""
    ev, w = _track(spark, sf_dir, "ex", "ey")
    t = (
        ev.withColumns({
            "px": F.lag("ex").over(w), "py": F.lag("ey").over(w),
            "nx": F.lead("ex").over(w), "ny": F.lead("ey").over(w),
        })
        .withColumn(
            "area2",
            F.abs(
                (F.col("ex") - F.col("px")) * (F.col("ny") - F.col("py"))
                - (F.col("ey") - F.col("py")) * (F.col("nx") - F.col("px"))
            ),
        )
    )
    return t.filter(
        F.col("px").isNull()
        | F.col("nx").isNull()
        | (F.col("area2") >= TRAJ_SIMPLIFY_AREA2)
    ).select("user_id", "event_id", "ex", "ey")


# co-location: two users "meet" when both ping the same res-4 tile (64-px cells) on the
# same epoch-day. Hot-key bound: a (day, cell) group with more than this
# many distinct users is dropped BEFORE pairing (a stadium/viral cell
# squares the pair space; the cut is the same discipline as dedup.py's
# stop-shingle df-cut and is mirrored verbatim in the oracle).
COLOC_MAX_USERS_PER_KEY = 50


def events_colocation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Co-location (co-traveler) pair join: (user_a < user_b, n_meetings)
    where a meeting is a shared distinct (epoch_day, res-4 tile). Inverted-
    index self-equi-join on the (day, cell) key — never user x user — with
    the group-size cut above bounding any key's pair contribution at
    C(50,2). One distinct + one count + one equi-join + one pair
    aggregate; all exact integer, zero Python."""
    ev = (
        pages_src.event_points_df(spark, sf_dir)
        .select(
            "user_id",
            "day",
            F.shiftright("ex", 6).alias("cx"),
            F.shiftright("ey", 6).alias("cy"),
        )
        .distinct()
        # ev feeds the hot-key count AND both pair sides — without the
        # checkpoint the single-row-group scan + distinct executes 3x,
        # each scan a serial one-task stage (~0.6 s apiece at sf0.1)
        .localCheckpoint()
    )
    key = ["day", "cx", "cy"]
    small = (
        ev.groupBy(*key)
        .agg(F.count(F.lit(1)).alias("n_users"))
        .filter(F.col("n_users") <= COLOC_MAX_USERS_PER_KEY)
        .select(*key)
    )
    e = ev.join(small, key)
    a = e.select(*key, F.col("user_id").alias("user_a"))
    b = e.select(*key, F.col("user_id").alias("user_b"))
    return (
        a.join(b, key)
        .filter(F.col("user_a") < F.col("user_b"))
        .groupBy("user_a", "user_b")
        .agg(F.count(F.lit(1)).alias("n_meetings"))
    )


def geo_od_flows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Origin-destination flow matrix: per (user, epoch_day) the first and
    last ping (by ts, event_id) give the trip's origin / destination res-3
    tile (128-px cells, 8x8 grid); flows aggregate trips per (o, d) tile
    pair. Two row_number windows on the SAME (user, day) partitioning —
    one shuffle, reused by both — then one conditional-aggregate pivot and
    one flow rollup; the OD table is grid-bounded (<= 64^2 rows)."""
    from pyspark.sql import Window

    ev = pages_src.event_points_df(spark, sf_dir).select(
        "user_id", "ts", "event_id",
        "day",
        F.shiftright("ex", 7).alias("tx"),
        F.shiftright("ey", 7).alias("ty"),
    )
    w = Window.partitionBy("user_id", "day").orderBy("ts", "event_id")
    wd = Window.partitionBy("user_id", "day").orderBy(
        F.col("ts").desc(), F.col("event_id").desc()
    )
    trips = (
        ev.withColumn("rn", F.row_number().over(w))
        .withColumn("rd", F.row_number().over(wd))
        .filter((F.col("rn") == 1) | (F.col("rd") == 1))
        .groupBy("user_id", "day")
        .agg(
            F.max(F.when(F.col("rn") == 1, F.col("tx"))).alias("otx"),
            F.max(F.when(F.col("rn") == 1, F.col("ty"))).alias("oty"),
            F.max(F.when(F.col("rd") == 1, F.col("tx"))).alias("dtx"),
            F.max(F.when(F.col("rd") == 1, F.col("ty"))).alias("dty"),
        )
    )
    return trips.groupBy("otx", "oty", "dtx", "dty").agg(
        F.count(F.lit(1)).alias("n_trips")
    )


def geo_range_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pyramid range-count: answer 64 arbitrary-rectangle doc counts from
    the multi-resolution tile pyramid instead of scanning the corpus per
    query. Each rectangle decomposes driver-side into its maximal-cell
    quadtree cover (exact, disjoint, O(perimeter) cells —
    cells.quadtree_decompose; ~85k dim rows for all 64 rects) and the
    count is one broadcast equi-join against the SAME (res, cell_id,
    n_docs) aggregate geo_tile_pyramid materializes, plus a rect-keyed
    sum. The corpus is touched ONCE (the finest-res base aggregate);
    every query after that costs pyramid rows. The oracle never sees the
    decomposition — it brute-forces each rectangle straight off the
    points, so any decomposition bug (overlap, gap, wrong parent id)
    shows up as a count diff."""
    pyramid = geo_tile_pyramid(spark, sf_dir)
    rows = []
    for j in range(layers.N_QRECTS):
        x0, y0, x1, y1 = layers.qrect_bounds(j)
        for res, cell_id in cells.quadtree_decompose(x0, y0, x1, y1):
            rows.append((j, res, cell_id))
    import pandas as pd

    # pandas + Arrow path: ~5x faster than a python-tuple createDataFrame
    # for the ~85k-row dim
    dim = spark.createDataFrame(
        pd.DataFrame(rows, columns=["rect_id", "res", "cell_id"]).astype("int64")
    )
    counts = (
        pyramid.join(F.broadcast(dim), ["res", "cell_id"])
        .groupBy("rect_id")
        .agg(F.sum("n_docs").alias("n"))
    )
    return (
        spark.range(layers.N_QRECTS)
        .select(F.col("id").alias("rect_id"))
        .join(F.broadcast(counts), "rect_id", "left")  # counts is <= 64 rows
        .select("rect_id", F.coalesce(F.col("n"), F.lit(0)).cast("long").alias("n_docs"))
    )


# stay-point parameters: a ping continues the current stay if its
# Chebyshev hop from the previous ping is <= this radius; a stay is
# reported when at least MIN_PINGS consecutive pings cluster. The radius
# is fixture-scaled (synthetic pings are near-uniform over the 1024 grid,
# so a GPS-realistic 32-px radius would make stays vanishingly rare);
# the operator shape — gaps-and-islands run grouping — is radius-free.
STAY_RADIUS = 128
STAY_MIN_PINGS = 2


def _stay_islands(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The gaps-and-islands pass every stay query starts from: each user's
    event points (user_id, ts, event_id, sec, ex, ey) in (ts, event_id)
    order, with ``brk`` = 1 on every hop whose Chebyshev length exceeds
    STAY_RADIUS (and on the first ping, whose lag is NULL) and ``island``
    = the running sum of ``brk``."""
    from pyspark.sql import Window

    ev, w = _track(spark, sf_dir, "sec", "ex", "ey")
    hop = F.greatest(
        F.abs(F.col("ex") - F.lag("ex").over(w)),
        F.abs(F.col("ey") - F.lag("ey").over(w)),
    )
    return ev.withColumn(
        "brk", F.when(hop <= STAY_RADIUS, F.lit(0)).otherwise(F.lit(1)),
    ).withColumn(
        "island", F.sum("brk").over(w.rowsBetween(Window.unboundedPreceding, 0))
    )


def events_stay_points(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stay-point detection (Li et al. 2008 shape): split each user's
    ordered ping stream into islands at every hop whose Chebyshev length
    exceeds STAY_RADIUS (gaps-and-islands: island_id = running sum of the
    break flag), then one aggregate per island — ping count, dwell
    seconds (truncated epoch), integer centroid (sum div n). Two window
    passes + one aggregate on the SAME (user) partitioning; all exact
    integer, zero Python."""
    flagged = _stay_islands(spark, sf_dir)
    return (
        flagged.groupBy("user_id", "island")
        .agg(
            F.count(F.lit(1)).alias("n_pings"),
            (F.max("sec") - F.min("sec")).alias("dwell_sec"),
            F.expr("sum(ex) div count(*)").alias("cx"),
            F.expr("sum(ey) div count(*)").alias("cy"),
            F.min("event_id").alias("first_event_id"),
        )
        .filter(F.col("n_pings") >= STAY_MIN_PINGS)
        .select("user_id", "first_event_id", "n_pings", "dwell_sec", "cx", "cy")
    )


# -- emerging-hotspot / trajectory-similarity constants (SQL-twinned) -------
# Mann-Kendall runs over res-3 tiles (128-px cells, the od_flows grid) so
# every tile has enough daily mass for a trend to be meaningful at gate
# scale; trajectory similarity runs over res-5 cells (32-px, the route
# raster grid). TRAJSIM cuts mirror events_colocation's stadium-cell guard.
HOTSPOT_SHIFT = 7
TRAJSIM_SHIFT = 5
TRAJSIM_MAX_USERS_PER_CELL = 50
TRAJSIM_MIN_SHARED = 2
TRAJSIM_TOPK = 5


def geo_emerging_hotspots(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Emerging-hotspot analysis (space-time cube + Mann-Kendall trend,
    the ArcGIS "emerging hot spot" shape): per res-3 tile, the daily ping
    counts over the corpus's FULL day range (zero-filled — absent days
    count 0, exactly like the space-time cube) feed the Mann-Kendall
    statistic S = sum over day pairs d1 < d2 of sign(cnt(d2) - cnt(d1)),
    classified by sign. One corpus-wide (tile, day) aggregate is the only
    full-data pass; the zero-fill, the day-pair self-join (<= 64 tiles x
    C(30,2) pairs) and the trend rollup are all grid-bounded. Exact
    integer throughout — S is a sum of {-1,0,1}, no variance estimate
    floats. Reference parity: the per-scope aggregate family
    (SDFG_c.py's per-scope def counts) lifted to a per-tile time series.
    """
    ev = pages_src.event_points_df(spark, sf_dir).select(
        F.shiftright("ex", HOTSPOT_SHIFT).alias("tx"),
        F.shiftright("ey", HOTSPOT_SHIFT).alias("ty"),
        "day",
    )
    # the single corpus-wide shuffle: observed (tile, day) counts. Every
    # downstream input (day span, tile list, zero-filled cube, n_pings)
    # derives from THIS grid-bounded table; localCheckpoint materializes
    # it (<= n_tiles x n_days rows) so the corpus parquet is scanned
    # exactly once however many times the DAG references it.
    counts = (
        ev.groupBy("tx", "ty", "day")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .localCheckpoint(eager=False)
    )
    span = counts.agg(
        F.min("day").alias("dmin"), F.max("day").alias("dmax")
    )
    tiles = counts.select("tx", "ty").distinct()
    cube = (
        tiles.crossJoin(F.broadcast(span))
        .select(
            "tx", "ty",
            F.explode(F.sequence(F.col("dmin"), F.col("dmax"))).alias("day"),
        )
        .join(F.broadcast(counts), ["tx", "ty", "day"], "left")
        .select("tx", "ty", "day", F.coalesce("cnt", F.lit(0)).alias("cnt"))
    )
    a = cube.select("tx", "ty", F.col("day").alias("d1"), F.col("cnt").alias("c1"))
    b = cube.select("tx", "ty", F.col("day").alias("d2"), F.col("cnt").alias("c2"))
    pairs = a.join(F.broadcast(b), ["tx", "ty"]).filter(F.col("d1") < F.col("d2"))
    return (
        pairs.groupBy("tx", "ty")
        .agg(
            F.sum(F.signum(F.col("c2") - F.col("c1")).cast("long")).alias("s_stat"),
            (F.max("d2") - F.min("d1") + 1).alias("n_days"),
        )
        .join(
            F.broadcast(cube.groupBy("tx", "ty").agg(F.sum("cnt").alias("n_pings"))),
            ["tx", "ty"],
        )
        .select(
            "tx", "ty", "s_stat", "n_days", "n_pings",
            F.when(F.col("s_stat") > 0, F.lit("emerging"))
            .when(F.col("s_stat") < 0, F.lit("cooling"))
            .otherwise(F.lit("flat"))
            .alias("trend"),
        )
    )


def events_traj_similarity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trajectory-similarity kNN: for each user, the TRAJSIM_TOPK users
    whose visited-cell SETS (distinct res-5 cells over the whole corpus)
    are most Jaccard-similar, exact integer ppm. Top-k-per-user rather
    than an absolute threshold because absolute Jaccard is scale-
    dependent (denser corpora shift the whole distribution) while "the 5
    most similar co-travelers" is meaningful at any density. Inverted-
    index shape — candidate pairs form per CELL (equi-join on the cell
    key, never user x user), a per-cell group-size cut bounds any cell's
    pair contribution at 50*49 (stadium-cell guard, mirrored verbatim in
    the oracle), per-user set sizes join back broadcast, and the rank
    window partitions by user (no single-partition exchange). Pairs
    sharing < TRAJSIM_MIN_SHARED cells are noise and are cut before the
    size join. All exact integer, zero Python."""
    from pyspark.sql import Window

    # the only corpus-wide pass: distinct (user, cell). Four downstream
    # branches (sizes, hot-cell cut, both join sides) reference it, so
    # localCheckpoint materializes the distinct result once — its size is
    # sum over users of |cells visited|, orders below the raw ping count.
    cells = (
        pages_src.event_points_df(spark, sf_dir)
        .select(
            "user_id",
            F.shiftright("ex", TRAJSIM_SHIFT).alias("cx"),
            F.shiftright("ey", TRAJSIM_SHIFT).alias("cy"),
        )
        .distinct()
        .localCheckpoint(eager=False)
    )
    sizes = cells.groupBy("user_id").agg(F.count(F.lit(1)).alias("n_cells"))
    key = ["cx", "cy"]
    small = (
        cells.groupBy(*key)
        .agg(F.count(F.lit(1)).alias("n_users"))
        .filter(F.col("n_users") <= TRAJSIM_MAX_USERS_PER_CELL)
        .select(*key)
    )
    e = cells.join(small, key)
    a = e.select(*key, F.col("user_id").alias("user_a"))
    b = e.select(*key, F.col("user_id").alias("user_b"))
    shared = (
        a.join(b, key)
        .filter(F.col("user_a") != F.col("user_b"))
        .groupBy("user_a", "user_b")
        .agg(F.count(F.lit(1)).alias("n_shared"))
        .filter(F.col("n_shared") >= TRAJSIM_MIN_SHARED)
    )
    sa = sizes.select(F.col("user_id").alias("user_a"), F.col("n_cells").alias("na"))
    sb = sizes.select(F.col("user_id").alias("user_b"), F.col("n_cells").alias("nb"))
    scored = (
        shared.join(F.broadcast(sa), "user_a")
        .join(F.broadcast(sb), "user_b")
        .select(
            "user_a", "user_b", "n_shared",
            F.expr("n_shared * 1000000 div (na + nb - n_shared)").alias(
                "jaccard_ppm"
            ),
        )
    )
    w = Window.partitionBy("user_a").orderBy(
        F.col("jaccard_ppm").desc(), F.col("n_shared").desc(), F.col("user_b")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= TRAJSIM_TOPK)
        .select("user_a", "user_b", "n_shared", "jaccard_ppm", "rank")
    )


# -- geofence constants (SQL-twinned) ----------------------------------------
# 100 fences: every FENCE_MOD-th gazetteer entry becomes a Chebyshev square
# of half-width FENCE_R around its res-10 grid point. Cover cells sit at
# FENCE_SHIFT (64-px), so a 65-px fence box covers at most 2x2 cells and the
# ping->fence match is a broadcast EQUI-join on the ping's OWN cell — never
# a nested-loop range join, the same two-phase discipline as pip_join.py.
FENCE_MOD = 10
FENCE_R = 32
FENCE_SHIFT = 6


def _fence_cover(spark: SparkSession) -> DataFrame:
    """(fence_id, fx, fy, ccx, ccy): each fence exploded to the <= 4 cover
    cells its box intersects. 100 fences x <= 4 cells — always broadcast."""
    f = spark.range(0, layers.N_GAZ, FENCE_MOD).select(
        F.col("id").alias("fence_id"),
        ((F.col("id") * 37 + 11) % layers.GRID_N).alias("fx"),
        ((F.col("id") * 73 + 29) % layers.GRID_N).alias("fy"),
    )
    # arithmetic shiftright IS floor division for the possibly-negative
    # fx - FENCE_R edge boxes (overlay.py's exact-int64 cover discipline)
    return f.select(
        "fence_id", "fx", "fy",
        F.explode(
            F.sequence(
                F.shiftright(F.col("fx") - FENCE_R, FENCE_SHIFT),
                F.shiftright(F.col("fx") + FENCE_R, FENCE_SHIFT),
            )
        ).alias("ccx"),
        F.col("fy").alias("_fy"),
    ).select(
        "fence_id", "fx", "fy", "ccx",
        F.explode(
            F.sequence(
                F.shiftright(F.col("_fy") - FENCE_R, FENCE_SHIFT),
                F.shiftright(F.col("_fy") + FENCE_R, FENCE_SHIFT),
            )
        ).alias("ccy"),
    )


def _in_fence() -> Column:
    """Exact containment: the ping (ex, ey) lies in the fence's box."""
    return (F.abs(F.col("ex") - F.col("fx")) <= FENCE_R) & (
        F.abs(F.col("ey") - F.col("fy")) <= FENCE_R
    )


def _fence_hits(spark: SparkSession, ev: DataFrame) -> DataFrame:
    """ev (with ex, ey) x every fence containing the ping, one row per
    (ping, fence) with the fence's columns added. Two-phase containment
    (operators/pip_join.py discipline): each ping computes its own cover
    cell and equi-joins the broadcast cover map-side, then the exact box
    test filters the cell-level candidates."""
    ev = ev.withColumn("ccx", F.shiftright(F.col("ex"), FENCE_SHIFT)).withColumn(
        "ccy", F.shiftright(F.col("ey"), FENCE_SHIFT)
    )
    return ev.join(F.broadcast(_fence_cover(spark)), ["ccx", "ccy"]).filter(
        _in_fence()
    )


def _fence_state(
    spark: SparkSession, ev: DataFrame, keys: list[str], name: str
) -> DataFrame:
    """(keys..., name): each ping's state, the MIN fence_id containing it
    (overlapping fences tie-break deterministically), -1 outside every
    fence. ``keys`` must identify the ping. The broadcast cover left join
    keeps outside-every-fence pings; candidates failing the box test
    contribute NULL to min(), so ONE aggregate on the ping key yields the
    state."""
    ev = ev.withColumn("ccx", F.shiftright(F.col("ex"), FENCE_SHIFT)).withColumn(
        "ccy", F.shiftright(F.col("ey"), FENCE_SHIFT)
    )
    matched = F.when(_in_fence(), F.col("fence_id"))
    return (
        ev.join(F.broadcast(_fence_cover(spark)), ["ccx", "ccy"], "left")
        .groupBy(*keys)
        .agg(F.coalesce(F.min(matched), F.lit(-1)).alias(name))
    )


def events_geofence_dwell(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Geofence dwell rollup — per (user, fence): ping count, dwell seconds,
    first entering event. The fence dim (100 gazetteer-derived Chebyshev
    squares) broadcasts as exploded cover cells; each ping computes its own
    res-4 cell and equi-joins, then the exact Chebyshev test filters the
    cell-level candidates (two-phase containment, operators/pip_join.py
    discipline — the join is map-side, the per-(user,fence) aggregate is
    the single shuffle). Reference parity: scope-containment rollup
    (c_parser.py:134-140) lifted to spatial fences."""
    ev = pages_src.event_points_df(spark, sf_dir).select(
        "user_id", "event_id", "sec", "ex", "ey"
    )
    return _fence_hits(spark, ev).groupBy("user_id", "fence_id").agg(
        F.count(F.lit(1)).alias("n_pings"),
        (F.max("sec") - F.min("sec")).alias("dwell_sec"),
        F.min("event_id").alias("first_event_id"),
    )


def events_geofence_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Geofence enter/exit/switch detection — the streaming-telemetry
    alerting shape run as a batch query: resolve each ping to the MIN
    containing fence (-1 = outside every fence; overlapping fences tie-break
    deterministically), lag over the per-user time-ordered stream, and emit
    one row per state CHANGE tagged enter / exit / switch. The broadcast
    cover left-join is map-side and the candidate rows collapse with ONE
    aggregate on the unique ping key; the lag window then repartitions by
    user — two shuffles total, both on uniform keys, no corpus-wide window.
    Reference parity: the def->use edge family's state-change detection
    (SDFG_c.py last-writer tracking) over a spatial state variable."""
    ev, w = _track(spark, sf_dir, "sec", "ex", "ey")
    pinged = _fence_state(spark, ev, ["user_id", "ts", "event_id", "sec"], "fence")
    prev = F.lag("fence").over(w)
    return (
        pinged.withColumn("prev", prev)
        .filter(
            (F.col("prev").isNull() & (F.col("fence") != -1))
            | (F.col("prev").isNotNull() & (F.col("prev") != F.col("fence")))
        )
        .select(
            "user_id", "event_id", "sec",
            F.coalesce(F.col("prev"), F.lit(-1)).alias("from_fence"),
            F.col("fence").alias("to_fence"),
            F.when(F.col("fence") == -1, F.lit("exit"))
            .when(
                F.col("prev").isNull() | (F.col("prev") == -1), F.lit("enter")
            )
            .otherwise(F.lit("switch"))
            .alias("kind"),
        )
    )


# -- trajectory-preprocessing constants (SQL-twinned) ------------------------
# speed gate: a hop is a GPS jump if L1 distance (grid px) per DAY exceeds
# TRAJ_MAX_PX_PER_DAY — cross-multiplied (dist * 86400 > limit * dt) so the
# test stays exact int64, division-free, and safe for dt = 0 ties.
# resampling emits one synthetic point per RESAMPLE_STEP-second boundary
# crossed between consecutive pings; the explode factor per hop is
# ceil(dt / RESAMPLE_STEP), so STEP is chosen >= the fixture's median hop
# (FIXTURES.md: ~0.45 day) to keep output the same order as the input —
# the knob a 100 TB deployment tunes first.
TRAJ_MAX_PX_PER_DAY = 2000
RESAMPLE_STEP = 21600  # 6 h


def events_traj_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GPS-jump detection — the trajectory-cleaning pass every telemetry
    pipeline runs before map-matching: per user, lag to the previous ping
    and flag hops whose implied speed exceeds TRAJ_MAX_PX_PER_DAY. The
    speed test is the exact cross-multiplication dist * 86400 > limit * dt
    (no division, no floats, dt = 0 ties flag as jumps since dist > 0).
    One window pass on the uniform user key; first pings (no predecessor)
    are not hops and never flag. Reference parity: the lead-next edge
    family (CFG_c.py next-statement links) with a physical-plausibility
    predicate on the edge."""
    ev, w = _track(spark, sf_dir, "sec", "ex", "ey")
    hops = ev.select(
        "user_id", "event_id", "sec",
        (
            F.abs(F.col("ex") - F.lag("ex").over(w))
            + F.abs(F.col("ey") - F.lag("ey").over(w))
        ).alias("dist"),
        (F.col("sec") - F.lag("sec").over(w)).alias("dt"),
    ).filter(F.col("dist").isNotNull())
    return hops.filter(
        F.col("dist") * 86400 > F.lit(TRAJ_MAX_PX_PER_DAY) * F.col("dt")
    ).select("user_id", "event_id", "sec", "dist", "dt")


def events_traj_resample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trajectory resampling — linear interpolation of each user's track
    onto fixed RESAMPLE_STEP-second boundaries (the uniform-grid input a
    downstream sequence model or heatmap wants): for every consecutive
    ping pair, emit one point per boundary t with sec0 < t <= sec1,
    position x0 + (x1-x0)*(t-sec0) div (sec1-sec0). Exact int64: Spark
    ``div`` and DuckDB ``//`` both truncate toward zero so the twin
    agrees on negative deltas; the boundary k-range is floor-arithmetic
    (floor(sec0/STEP)+1 .. floor(sec1/STEP)), empty when a hop crosses no
    boundary, never a divide-by-zero. One window pass + one bounded
    explode — per-hop factor ceil(dt/STEP), no corpus-wide state."""
    ev, w = _track(spark, sf_dir, "sec", "ex", "ey")
    hops = ev.select(
        "user_id",
        F.col("sec").alias("s0"),
        F.col("ex").alias("x0"),
        F.col("ey").alias("y0"),
        F.lead("sec").over(w).alias("s1"),
        F.lead("ex").over(w).alias("x1"),
        F.lead("ey").over(w).alias("y1"),
    ).filter(F.col("s1").isNotNull() & (F.col("s1") > F.col("s0")))
    # Spark sequence(a, b) DESCENDS when b < a (it is never empty), so hops
    # that cross no boundary must be cut before the explode, not after
    pts = hops.filter(
        F.expr(f"s1 div {RESAMPLE_STEP} >= s0 div {RESAMPLE_STEP} + 1")
    ).select(
        "user_id", "s0", "x0", "y0", "s1", "x1", "y1",
        F.explode(
            F.sequence(
                F.expr(f"s0 div {RESAMPLE_STEP} + 1"),
                F.expr(f"s1 div {RESAMPLE_STEP}"),
            )
        ).alias("k"),
    ).withColumn("t_sec", F.col("k") * RESAMPLE_STEP)
    return pts.select(
        "user_id", "t_sec",
        F.expr("x0 + (x1 - x0) * (t_sec - s0) div (s1 - s0)").alias("x"),
        F.expr("y0 + (y1 - y0) * (t_sec - s0) div (s1 - s0)").alias("y"),
    )


def events_geofence_occupancy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-fence hourly occupancy — distinct users and raw pings inside
    each fence per UTC hour, the live-ops dashboard rollup behind every
    'how busy is this place right now' product. Reuses the broadcast
    cover-cell containment join (_fence_hits), then one
    (fence, hour) aggregate with an exact distinct count; the key space
    is fences x hours (bounded by the dim and the time span), so the
    final shuffle is dimension-sized no matter how many pings flow in."""
    ev = pages_src.event_points_df(spark, sf_dir).select(
        "user_id", F.expr("sec div 3600").alias("hour"), "ex", "ey"
    )
    return _fence_hits(spark, ev).groupBy("fence_id", "hour").agg(
        F.count_distinct("user_id").alias("n_users"),
        F.count(F.lit(1)).alias("n_pings"),
    )


def events_mobility_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user mobility profile — the Gonzalez et al. 2008 human-mobility
    metrics in exact int64: radius of gyration reported as the integer
    numerator n^2 * rg^2 = n * sum(x^2 + y^2) - (sum x)^2 - (sum y)^2 (no
    float mean, bit-identical across engines), the bounding box, and the
    visit-concentration Herfindahl index over res-5 cells in exact ppm
    (sum of squared cell counts * 1e6 div total^2 — the integer stand-in
    for location entropy). Two aggregates on the uniform user key, one of
    them over the (user, cell) rollup; no window, no corpus-wide state.
    Int64 bounds (corrected r6 per the r5 advice): coords < 2^10, so
    n * sum(x^2+y^2) <= n^2 * 2^21 and (sum x)^2 <= (n * 2^10)^2 = n^2 *
    2^20 — the rg2 numerator is safe to ~2^21 pings per user; the binding
    term is hhi_ppm's sum(c^2) * 1e6, which overflows first when visits
    concentrate in one cell (c ~ n), at n ~ 3e6 pings/user. Beyond that,
    widen the squared terms to decimal(38)."""
    # one pass, two chained aggregates, ZERO joins: the (user, cell) rollup
    # carries partial sums/extrema alongside the cell count, and the user
    # rollup combines them — 2 exchanges total vs the naive
    # base-JOIN-cells shape (4 exchanges + a join on the user key)
    ev = pages_src.event_points_df(spark, sf_dir).select("user_id", "ex", "ey")
    per_cell = ev.groupBy(
        "user_id",
        F.shiftright("ex", TRAJSIM_SHIFT).alias("cx"),
        F.shiftright("ey", TRAJSIM_SHIFT).alias("cy"),
    ).agg(
        F.count(F.lit(1)).alias("c"),
        F.sum("ex").alias("psx"),
        F.sum("ey").alias("psy"),
        F.sum(F.col("ex") * F.col("ex") + F.col("ey") * F.col("ey")).alias("psq"),
        F.min("ex").alias("pminx"),
        F.max("ex").alias("pmaxx"),
        F.min("ey").alias("pminy"),
        F.max("ey").alias("pmaxy"),
    )
    return (
        per_cell.groupBy("user_id")
        .agg(
            F.sum("c").alias("n_pings"),
            F.count(F.lit(1)).alias("n_cells"),
            F.sum("psx").alias("sx"),
            F.sum("psy").alias("sy"),
            F.sum("psq").alias("sq"),
            F.sum(F.col("c") * F.col("c")).alias("sc2"),
            F.min("pminx").alias("min_x"),
            F.max("pmaxx").alias("max_x"),
            F.min("pminy").alias("min_y"),
            F.max("pmaxy").alias("max_y"),
        )
        .select(
            "user_id", "n_pings", "n_cells",
            "min_x", "max_x", "min_y", "max_y",
            F.expr("n_pings * sq - sx * sx - sy * sy").alias("rg2_num"),
            F.expr("sc2 * 1000000 div (n_pings * n_pings)").alias("hhi_ppm"),
        )
    )


def geo_tile_rhythms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Activity rhythm per tile — ping counts by (res-3 tile, day-of-week,
    hour-of-day), the temporal-signature table behind land-use inference
    (residential tiles peak at night, commercial at noon). Day-of-week is
    exact epoch arithmetic ((epoch div 86400 + 4) mod 7; 1970-01-01 was a
    Thursday) so both engines agree without timezone/locale functions.
    One aggregate; the key space is tiles x 7 x 24, dimension-bounded."""
    ev = pages_src.event_points_df(spark, sf_dir).select(
        F.shiftright("ex", HOTSPOT_SHIFT).alias("tx"),
        F.shiftright("ey", HOTSPOT_SHIFT).alias("ty"),
        "sec",
    )
    return (
        ev.select(
            "tx", "ty",
            F.expr("(sec div 86400 + 4) % 7").alias("dow"),
            F.expr("(sec % 86400) div 3600").alias("hour"),
        )
        .groupBy("tx", "ty", "dow", "hour")
        .agg(F.count(F.lit(1)).alias("n_pings"))
    )


def _stays(
    spark: SparkSession, sf_dir: str, t0: str, t1: str,
    centroid: str = "sum({}) div count(*)",
) -> DataFrame:
    """One row per stay: a ``_stay_islands`` island of at least
    STAY_MIN_PINGS pings, with its first and last second as ``t0`` and
    ``t1`` and its centroid (cx, cy) from the ``centroid`` SQL template
    over ex and ey."""
    return (
        _stay_islands(spark, sf_dir).groupBy("user_id", "island")
        .agg(
            F.count(F.lit(1)).alias("n_pings"),
            F.min("sec").alias(t0),
            F.max("sec").alias(t1),
            F.expr(centroid.format("ex")).alias("cx"),
            F.expr(centroid.format("ey")).alias("cy"),
        )
        .filter(F.col("n_pings") >= STAY_MIN_PINGS)
    )


def events_trips(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trip extraction — the stay-to-stay OD segments a mobility pipeline
    feeds to demand models: reuse the stay-point islands (gaps-and-islands
    over the STAY_RADIUS Chebyshev gate, events_stay_points), roll each
    island to its centroid + departure/arrival seconds, then lead() from
    each qualifying stay to the next gives one row per trip: origin cell,
    destination cell, departure time, travel seconds. Two windows + one
    aggregate, all partitioned by the uniform user key."""
    from pyspark.sql import Window

    stays = _stays(spark, sf_dir, "arrive_sec", "depart_sec")
    ws = Window.partitionBy("user_id").orderBy("island")
    return (
        stays.select(
            "user_id",
            F.col("cx").alias("from_x"),
            F.col("cy").alias("from_y"),
            F.col("depart_sec").alias("depart_sec"),
            F.lead("cx").over(ws).alias("to_x"),
            F.lead("cy").over(ws).alias("to_y"),
            F.lead("arrive_sec").over(ws).alias("arrive_sec"),
        )
        .filter(F.col("to_x").isNotNull())
        .select(
            "user_id", "from_x", "from_y", "to_x", "to_y", "depart_sec",
            (F.col("arrive_sec") - F.col("depart_sec")).alias("travel_sec"),
        )
    )


def events_stream_geofence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming geofence alerting gate row: the applyInPandasWithState
    enter/exit/switch detector drained with availableNow. On a bounded
    single-batch drain the update-mode emission equals the BATCH
    events_geofence_transitions result exactly, so this streaming operator
    gets a full value-hash oracle (not a rows-only check) — the batch
    query's DuckDB twin."""
    from . import streaming

    ev = streaming.stream_events(spark, sf_dir)
    return streaming.run_available_now(
        streaming.geofence_stream_transitions(ev), mode="update"
    )


# -- station constants (SQL-twinned) -----------------------------------------
# 50 "stations": every STATION_MOD-th gazetteer entry carries a deterministic
# measurement value (idx * 97 + 13) % 1000. IDW runs over a Euclidean-d2
# neighborhood of IDW_R2 with inverse-square weights quantized to
# IDW_WSCALE div d2 (exact int64 — weights < 2^40, 50 stations of v < 1000
# keep the numerator < 2^56).
STATION_MOD = 20
IDW_R2 = 256 * 256
IDW_WSCALE = 1 << 40


def _stations_array_sql() -> str:
    """Spark SQL literal: array<struct<fx,fy,v>> of the 50 stations. The dim
    is layers-derived and tiny, so it rides INTO the expression — per-row
    station math is a higher-order function over this literal, zero joins,
    zero row blowup, whole-stage-codegen friendly."""
    items = []
    for i in range(0, layers.N_GAZ, STATION_MOD):
        fx = (i * 37 + 11) % layers.GRID_N
        fy = (i * 73 + 29) % layers.GRID_N
        v = (i * 97 + 13) % 1000
        items.append(f"named_struct('sid',{i}L,'fx',{fx}L,'fy',{fy}L,'v',{v}L)")
    return "array(" + ",".join(items) + ")"


def geo_idw_surface(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inverse-distance-weighted interpolation — the gridded-surface
    estimator (Shepard 1968) every GIS ships: for each res-5 cell OBSERVED
    in the corpus, estimate the station measurement at the cell center
    from all stations within Euclidean d2 <= IDW_R2, weight 1/d2 quantized
    to IDW_WSCALE div max(d2,1) so the estimate is exact int64 and
    bit-identical across engines. The station dim is a literal array in
    the projection (transform -> filter -> aggregate, all JVM codegen);
    the ONLY shuffle is the distinct over observed cells — the corpus
    never joins anything. Output: (cx, cy, n_stations, est)."""
    # localCheckpoint after the distinct: the station HOF below is a ~4000
    # -node literal expression, and without the lineage cut it rides in
    # EVERY task closure / AQE replan of the corpus scan+distinct stages
    # (measured 7.3 s -> 2.2 s at sf0.1). The grid caps the materialized
    # table at 1024 rows, so the cut is free at any corpus size.
    cells = (
        pages_src.event_points_df(spark, sf_dir)
        .select(
            F.shiftright("ex", TRAJSIM_SHIFT).alias("cx"),
            F.shiftright("ey", TRAJSIM_SHIFT).alias("cy"),
        )
        .distinct()
        .localCheckpoint()
    )
    side = 1 << TRAJSIM_SHIFT
    half = side // 2
    agg = f"""aggregate(
      filter(
        transform({_stations_array_sql()}, s -> named_struct(
          'd2', (px - s.fx) * (px - s.fx) + (py - s.fy) * (py - s.fy),
          'v', s.v)),
        t -> t.d2 <= {IDW_R2}),
      named_struct('num', 0L, 'den', 0L, 'cnt', 0L),
      (acc, t) -> named_struct(
        'num', acc.num + t.v * ({IDW_WSCALE}L div greatest(t.d2, 1L)),
        'den', acc.den + ({IDW_WSCALE}L div greatest(t.d2, 1L)),
        'cnt', acc.cnt + 1L))"""
    return (
        cells.withColumn("px", F.col("cx") * side + half)
        .withColumn("py", F.col("cy") * side + half)
        .withColumn("acc", F.expr(agg))
        .filter(F.col("acc.cnt") > 0)
        .select(
            "cx", "cy",
            F.col("acc.cnt").alias("n_stations"),
            F.expr("acc.num div acc.den").alias("est"),
        )
    )


def geo_nearest_facility(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Nearest-facility assignment + catchment rollup — reverse geocoding
    against the 50-station dim: every ping takes the station minimizing
    Euclidean d2 (ties to the smaller station id via key packing: d2 * 64
    + station ordinal, d2 < 2^21 so the pack fits easily), then one
    aggregate per station: ping count, mean and max assigned distance.
    The argmin is a single ``aggregate`` over the literal station array in
    the projection — NO join, NO 50x candidate blowup, stays in
    whole-stage codegen; the catchment rollup on the 50-key station column
    is the only shuffle. Reference parity: the scope argmax family
    (SDFG_c.py per-scope modal pick) with a spatial cost key."""
    ev = pages_src.event_points_df(spark, sf_dir).select("ex", "ey")
    # pack = d2 * 64 + (sid div STATION_MOD); unpack after the min. The
    # argmin is an UNROLLED least() over the 50 per-station distance
    # expressions: semantically the same fold as a HOF ``aggregate`` over
    # the literal station array, but least() compiles into whole-stage
    # codegen while HOF lambdas are interpreted expression-eval (profiled
    # 970 ms -> ~80 ms for the corpus projection at sf0.1).
    terms = []
    for i in range(0, layers.N_GAZ, STATION_MOD):
        fx = (i * 37 + 11) % layers.GRID_N
        fy = (i * 73 + 29) % layers.GRID_N
        terms.append(
            f"((ex - {fx}L) * (ex - {fx}L) + (ey - {fy}L) * (ey - {fy}L))"
            f" * 64L + {i // STATION_MOD}L"
        )
    agg = "least(" + ",".join(terms) + ")"
    assigned = ev.withColumn("packed", F.expr(agg)).select(
        F.expr(f"(packed % 64) * {STATION_MOD}").alias("station_id"),
        F.expr("packed div 64").alias("d2"),
    )
    return assigned.groupBy("station_id").agg(
        F.count(F.lit(1)).alias("n_pings"),
        F.expr("sum(d2) div count(*)").alias("mean_d2"),
        F.max("d2").alias("max_d2"),
    )


def events_convex_hull(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user convex-hull area — the activity-envelope metric (how much
    territory a user covers): Andrew's monotone chain over each user's
    DISTINCT positions in an ``applyInPandas`` grouped map (pure-Python
    ints, exact), reporting twice the hull area (integer shoelace) plus
    the distinct point count. Degenerate inputs (1-2 points, collinear
    tracks) report area 0. The DuckDB twin is a fully independent cubic
    edge characterization: (a, b) is a CCW hull edge iff every other point
    is left-of-or-on the directed line AND none lies strictly between a
    and b — summing the shoelace terms of exactly those edges reproduces
    the same integer area, so the O(n log n) chain is verified against an
    O(n^3) definition, not a re-implementation. Per-user groups are tiny
    and uniform (the only shuffle is the groupBy); the Arrow batch is one
    user's distinct points."""
    import pandas as pd

    from .geometry import hull_area2

    ev = (
        pages_src.event_points_df(spark, sf_dir)
        .select("user_id", "ex", "ey")
        .distinct()
    )

    def _hull(pdf: pd.DataFrame) -> pd.DataFrame:
        # the rows are one user's distinct (ex, ey) points
        return pd.DataFrame({
            "user_id": [int(pdf["user_id"].iloc[0])],
            "n_points": [len(pdf)],
            "hull_area2": [hull_area2(pdf["ex"], pdf["ey"])],
        })

    # pin grouped-map parallelism (the segments.tile_diameter discipline):
    # AQE coalesces the ~1 MB distinct shuffle to one partition, funneling
    # every user's hull through a single Python worker
    ev = ev.repartition(
        spark.sparkContext.defaultParallelism, "user_id")
    return ev.groupBy("user_id").applyInPandas(
        _hull, "user_id long, n_points long, hull_area2 long"
    )


def geo_uncovered_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spatial coverage-gap audit — doc points contained by NO polygon,
    rolled up per res-3 tile: the anti-join complement of the flagship PIP
    join (where is the layer blind?). Reuses the two-phase containment
    join for the hits side, then a LEFT ANTI on the unique doc key and one
    tile aggregate; the anti join shuffles on doc_id exactly once and the
    output key space is the 64-tile grid. Reference parity: the
    no-enclosing-scope fallback rows (c_parser.py global-scope default)
    as a first-class result set instead of a default value."""
    from .operators import pip_join

    pts = pages_src.doc_points_df(spark, sf_dir).withColumn(
        "cell", F.expr(cells.morton_sql("gx", "gy", layers.GRID_RES))
    )
    hits = (
        pip_join.pip_join(pts, spark, keys=("doc_id",))
        .select("doc_id")
        .distinct()
    )
    return (
        pts.join(hits, "doc_id", "left_anti")
        .groupBy(
            F.shiftright("gx", HOTSPOT_SHIFT).alias("tx"),
            F.shiftright("gy", HOTSPOT_SHIFT).alias("ty"),
        )
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.min("doc_id").alias("min_doc_id"),
        )
    )


ROUTE_TOPK = 20


def events_popular_routes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Popular-route mining — the top-ROUTE_TOPK most traveled res-5
    cell-to-cell transitions across all users (the desire-line rollup a
    transit planner reads): per-user lag gives the step bigrams, cells
    that don't change are dropped, one global (from, to) count, and the
    top slice is an orderBy/limit with a FULL deterministic tie-break —
    never a corpus-wide rank window; the row_number only decorates the
    ROUTE_TOPK surviving rows. The pair key space is grid-bounded, so
    the count shuffle is dimension-sized regardless of corpus size."""
    from pyspark.sql import Window

    ev, w = _track(
        spark, sf_dir,
        F.shiftright("ex", TRAJSIM_SHIFT).alias("cx"),
        F.shiftright("ey", TRAJSIM_SHIFT).alias("cy"),
    )
    steps = ev.select(
        F.lag("cx").over(w).alias("fx"),
        F.lag("cy").over(w).alias("fy"),
        F.col("cx").alias("tx"),
        F.col("cy").alias("ty"),
    ).filter(
        F.col("fx").isNotNull()
        & ((F.col("fx") != F.col("tx")) | (F.col("fy") != F.col("ty")))
    )
    counts = steps.groupBy("fx", "fy", "tx", "ty").agg(
        F.count(F.lit(1)).alias("n_trips")
    )
    top = counts.orderBy(
        F.col("n_trips").desc(), "fx", "fy", "tx", "ty"
    ).limit(ROUTE_TOPK)
    wr = Window.orderBy(F.col("n_trips").desc(), "fx", "fy", "tx", "ty")
    return top.withColumn("rank", F.row_number().over(wr)).select(
        "rank", "fx", "fy", "tx", "ty", "n_trips"
    )


def geo_tile_skyline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """2-D skyline (Pareto frontier) over per-tile activity — res-4 tiles
    not dominated on (n_pings, n_users), the classic maximal-vector query
    (Borzsony et al. 2001) asked of a map: which places are jointly
    busiest and most diverse. The sweep is two windows over the TILE-dim
    table (never the corpus): a tile survives iff its user count beats the
    best among tiles with STRICTLY more pings (value-range frame) and it
    is maximal within its own ping-count group — together exactly the
    not-exists dominance definition, which the DuckDB twin states
    quadratically as an independent check. The corpus contributes one
    uniform tile aggregate; everything after is dimension-sized."""
    from pyspark.sql import Window

    tiles = (
        pages_src.event_points_df(spark, sf_dir)
        .select(
            F.shiftright("ex", FENCE_SHIFT).alias("tx"),
            F.shiftright("ey", FENCE_SHIFT).alias("ty"),
            "user_id",
        )
        .groupBy("tx", "ty")
        .agg(
            F.count(F.lit(1)).alias("n_pings"),
            F.count_distinct("user_id").alias("n_users"),
        )
    )
    w_gt = Window.orderBy("n_pings").rangeBetween(1, Window.unboundedFollowing)
    w_eq = Window.partitionBy("n_pings")
    return (
        tiles.withColumn("best_gt", F.max("n_users").over(w_gt))
        .withColumn("best_eq", F.max("n_users").over(w_eq))
        .filter(
            (F.col("best_gt").isNull() | (F.col("n_users") > F.col("best_gt")))
            & (F.col("n_users") == F.col("best_eq"))
        )
        .select("tx", "ty", "n_pings", "n_users")
    )


CHORO_BINS = 5


def geo_choropleth_bins(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Choropleth class breaks — equal-frequency (quantile) binning of the
    res-3 tile ping counts into CHORO_BINS classes via ntile over a FULLY
    deterministic order (count, then tile coords), the map-legend
    classifier every thematic map needs. The corpus collapses to <= 64
    tile rows in one aggregate before the single tiny rank window."""
    from pyspark.sql import Window

    tiles = (
        pages_src.event_points_df(spark, sf_dir)
        .select(
            F.shiftright("ex", HOTSPOT_SHIFT).alias("tx"),
            F.shiftright("ey", HOTSPOT_SHIFT).alias("ty"),
        )
        .groupBy("tx", "ty")
        .agg(F.count(F.lit(1)).alias("n_pings"))
    )
    w = Window.orderBy("n_pings", "tx", "ty")
    return tiles.withColumn(
        "quintile", F.ntile(CHORO_BINS).over(w).cast("long")
    ).select("tx", "ty", "n_pings", "quintile")


def text_fuzzy_link(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Typo-tolerant entity linking — the fuzzy string-similarity join the
    exact/prefix resolvers (geo_alias_resolve family) can't express:
    mention surfaces corrupted by ONE deterministic character deletion
    (position (doc_id + j) % 9 of the 9-char gazetteer surface) link back
    to the dictionary through a deletion-neighborhood equi-join — every
    surface explodes to its 9 single-deletion variants (9,000-row
    broadcast dim), candidates then verify levenshtein == 1 and roll up
    per entry. This is the standard blocking scheme that turns an
    edit-distance join into an equi-join: candidates per mention are
    bounded by the variant fan-out, never dictionary-sized."""
    from .sources.testdata import load_table

    docs = load_table(spark, sf_dir, "documents").select("doc_id")
    ment = docs.select(
        "doc_id",
        F.explode(F.sequence(F.lit(0), F.col("doc_id") % 3)).alias("j"),
    ).select(
        "doc_id",
        F.format_string(
            "GEO_%05d", F.expr(layers.MENTION_IDX_SQL.format(j="j"))
        ).alias("surface"),
        ((F.col("doc_id") + F.col("j")) % 9).alias("p"),
    ).select(
        "doc_id",
        F.concat(
            F.expr("substring(surface, 1, p)"),
            F.expr("substring(surface, p + 2)"),
        ).alias("typo"),
    )
    gaz = spark.range(layers.N_GAZ).select(
        F.col("id").alias("gaz_idx"),
        F.format_string("GEO_%05d", F.col("id")).alias("surface"),
    )
    variants = gaz.select(
        "gaz_idx", "surface",
        F.explode(F.sequence(F.lit(0), F.lit(8))).alias("p"),
    ).select(
        "gaz_idx", "surface",
        F.concat(
            F.expr("substring(surface, 1, p)"),
            F.expr("substring(surface, p + 2)"),
        ).alias("typo"),
    ).distinct()
    cand = ment.join(F.broadcast(variants), "typo").filter(
        F.expr("levenshtein(typo, surface)") == 1
    )
    return (
        cand.select("doc_id", "gaz_idx").distinct()
        .groupBy("gaz_idx")
        .agg(F.count(F.lit(1)).alias("n_docs"))
    )


def events_stay_overlaps(spark: SparkSession, sf_dir: str) -> DataFrame:
    """True co-presence — pairs of users whose STAY INTERVALS overlap in
    time at the same res-3 tile (stricter than events_colocation's
    same-day test: both trajectories must actually dwell simultaneously).
    Tiles are 128-px (HOTSPOT_SHIFT) to match STAY_RADIUS, so two stays
    whose centroids share a tile are within each other's dwell range.
    Stays come from the gaps-and-islands pass (events_stay_points); the
    interval join buckets each stay to the days it spans (bounded explode)
    and equi-joins on (cell, day) before the exact overlap test, so the
    pair space is occupancy-bounded per (cell, day) — never user x user —
    and the multi-day double-count collapses with one distinct. Output:
    (user_a, user_b, cx, cy, n_overlaps) per ordered pair and cell.
    Reference parity: the interval-overlap family (as-of/range joins,
    operators/relational.py) lifted to derived intervals."""
    stays = _stays(
        spark, sf_dir, "t0", "t1", f"(sum({{}}) div count(*)) >> {HOTSPOT_SHIFT}"
    ).select("user_id", "island", "t0", "t1", "cx", "cy")
    daily = stays.withColumn(
        "day", F.explode(F.sequence(F.expr("t0 div 86400"), F.expr("t1 div 86400")))
    )
    a = daily.select(
        F.col("user_id").alias("user_a"), F.col("island").alias("ia"),
        F.col("t0").alias("a0"), F.col("t1").alias("a1"), "cx", "cy", "day",
    )
    b = daily.select(
        F.col("user_id").alias("user_b"), F.col("island").alias("ib"),
        F.col("t0").alias("b0"), F.col("t1").alias("b1"), "cx", "cy", "day",
    )
    pairs = (
        a.join(b, ["cx", "cy", "day"])
        .filter(
            (F.col("user_a") < F.col("user_b"))
            & (F.col("a0") <= F.col("b1"))
            & (F.col("b0") <= F.col("a1"))
        )
        .select("user_a", "user_b", "cx", "cy", "ia", "ib")
        .distinct()  # collapse multi-day bucket double-counts
    )
    return pairs.groupBy("user_a", "user_b", "cx", "cy").agg(
        F.count(F.lit(1)).alias("n_overlaps")
    )


def events_heading_hist(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Directional statistics — the per-tile heading histogram (which way
    does traffic flow here): every hop classifies its (dx, dy) into one of
    8 sectors by exact integer sign/dominance tests (E, NE, N, NW, W, SW,
    S, SE as 0..7; zero-displacement hops are excluded by the transition
    filter), binned at the hop's ORIGIN res-3 tile. The sectors are NOT
    equal 45-degree octants: the cardinal tests use a 2:1 dominance cut
    (abs(dx) > 2*abs(dy)), giving ~53-degree cardinal and ~37-degree
    diagonal sectors (r6 doc correction; engine and oracle share the
    formula, so the gate is unaffected). One window pass + one
    (tile, octant) aggregate — the key space is 64 tiles x 8."""
    ev, w = _track(spark, sf_dir, "ex", "ey")
    hops = ev.select(
        F.lag("ex").over(w).alias("x0"),
        F.lag("ey").over(w).alias("y0"),
        (F.col("ex") - F.lag("ex").over(w)).alias("dx"),
        (F.col("ey") - F.lag("ey").over(w)).alias("dy"),
    ).filter(
        F.col("dx").isNotNull() & ((F.col("dx") != 0) | (F.col("dy") != 0))
    )
    # sector: 2:1 axis-dominance cut (NOT a true 45-degree octant split —
    # see docstring), then sign pattern — pure integer comparisons, no atan2
    octant = F.expr("""
      CASE
        WHEN abs(dx) > 2 * abs(dy) THEN IF(dx > 0, 0, 4)
        WHEN abs(dy) > 2 * abs(dx) THEN IF(dy > 0, 2, 6)
        WHEN dx > 0 AND dy > 0 THEN 1
        WHEN dx < 0 AND dy > 0 THEN 3
        WHEN dx < 0 AND dy < 0 THEN 5
        ELSE 7
      END
    """)
    return (
        hops.select(
            F.shiftright("x0", HOTSPOT_SHIFT).alias("tx"),
            F.shiftright("y0", HOTSPOT_SHIFT).alias("ty"),
            octant.cast("long").alias("octant"),
        )
        .groupBy("tx", "ty", "octant")
        .agg(F.count(F.lit(1)).alias("n_hops"))
    )


def webtext_crawl_cost(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Crawl-budget cost surface: the cheapest <= 4-edge path cost from
    the seed hosts over the shared host link graph, with edge cost
    inversely proportional to link multiplicity (1e6 div (1 + n_links) —
    strongly-endorsed hops are cheap). The weighted complement of
    webtext_crawl_depth's BFS: a host two well-linked hops away can be
    cheaper to reach than a weakly-linked neighbor, which is exactly the
    prioritization signal an OPIC-style crawler budgets by. Exact
    integer Bellman-Ford rounds, oracle-unrolled."""
    from .operators import linkgraph

    seeds = _host_nodes(spark).filter(
        F.expr("CAST(substr(host, 5, 4) AS INT) % 10 = 0")
    )
    return linkgraph.cheapest_paths(
        _host_edges(_docs(spark, sf_dir)), seeds, rounds=4
    )


def geo_tile_closest_pair(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-res-5-tile closest pair of distinct doc locations (exact min
    squared distance, int64) — the crowding stat complementing
    geo_tile_diameter's extent; tiles with one distinct location emit no
    row. Grouped Arrow batches over grid-capped distinct point sets vs
    the oracle's quadratic self-join."""
    from .operators import segments

    return segments.tile_closest_pair(
        pages_src.doc_points_df(spark, sf_dir).select("gx", "gy"), shift=5
    )


def events_gap_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user liveness profile — the inter-ping gap distribution a
    telemetry pipeline monitors for dropout (how long does this device go
    dark): gap count, max gap, and the EXACT lower-median gap via
    rank-selection (row_number over the per-user gap sort == (n+1) div 2
    — the textstats.length_quantiles discipline, no approx-percentile
    sketch). Two windows + one aggregate, all partitioned by the uniform
    user key."""
    from pyspark.sql import Window

    ev, w = _track(spark, sf_dir, "sec")
    gaps = ev.select(
        "user_id", "event_id",
        (F.col("sec") - F.lag("sec").over(w)).alias("gap"),
    ).filter(F.col("gap").isNotNull())
    # one window pipeline, zero joins: rank, count and max all share the
    # user partitioning, so the median row carries the aggregates with it
    # (the oracle keeps the independent agg-join formulation)
    wg = Window.partitionBy("user_id").orderBy("gap", "event_id")
    wa = Window.partitionBy("user_id")
    return (
        gaps.withColumn("rn", F.row_number().over(wg))
        .withColumn("cnt", F.count(F.lit(1)).over(wa))
        .withColumn("mx", F.max("gap").over(wa))
        .filter(F.col("rn") == F.expr("(cnt + 1) div 2"))
        .select(
            "user_id",
            F.col("cnt").alias("n_gaps"),
            F.col("mx").alias("max_gap"),
            F.col("gap").alias("median_gap"),
        )
    )


def events_state_history(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SCD-2 state-history build — the slowly-changing-dimension table a
    warehouse derives from a change stream: each user's per-ping geofence
    state (min containing fence, -1 outside) collapses into consecutive
    runs (lag-compare + running sum = run id, the gaps-and-islands
    discipline), one row per run with half-open validity
    [valid_from, valid_to) where valid_to is the NEXT run's start and
    NULL for the current state. Composes the broadcast containment join
    with three same-key windows — everything partitions by the uniform
    user key. Reference parity: the def-use last-writer intervals
    (SDFG_c.py) materialized as a versioned dimension."""
    from pyspark.sql import Window

    ev, w = _track(spark, sf_dir, "sec", "ex", "ey")
    pinged = _fence_state(spark, ev, ["user_id", "ts", "event_id", "sec"], "state")
    runs = pinged.withColumn(
        "chg",
        F.when(
            F.lag("state").over(w).isNull()
            | (F.lag("state").over(w) != F.col("state")),
            1,
        ).otherwise(0),
    ).withColumn(
        "run", F.sum("chg").over(w.rowsBetween(Window.unboundedPreceding, 0))
    )
    # state is constant within a run by construction; min() is just the
    # deterministic way to carry it through the aggregate
    hist = runs.groupBy("user_id", "run").agg(
        F.min("state").alias("state"),
        F.min("sec").alias("valid_from"),
        F.count(F.lit(1)).alias("n_pings"),
    )
    wr = Window.partitionBy("user_id").orderBy("run")
    return hist.select(
        "user_id",
        F.col("run").cast("long").alias("version"),
        "state", "valid_from",
        F.lead("valid_from").over(wr).alias("valid_to"),
        "n_pings",
    )


def geo_tile_day_bitmask(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bitmap-index co-activity — per res-3 tile, the 64-bit day-presence
    bitmask (bit d set iff the tile saw a ping on corpus day d), then the
    tile-pair Jaccard over the bitmasks via pure bitwise ops
    (bit_count(a & b) / bit_count(a | b) in exact ppm) — the roaring-
    bitmap co-occurrence pattern compressed into one int64 because the
    fixture's day span fits a word. One corpus aggregate builds the
    64-row mask table; the pair join is dimension-bounded. Day offsets
    are anchored at the corpus min day (broadcast scalar); spans beyond
    63 days would need a mask ARRAY — the overflow guard filters and the
    docstring contract documents it."""
    days = pages_src.event_points_df(spark, sf_dir).select(
        F.shiftright("ex", HOTSPOT_SHIFT).alias("tx"),
        F.shiftright("ey", HOTSPOT_SHIFT).alias("ty"),
        "day",
    )
    d0 = days.agg(F.min("day").alias("d0"))
    masks = (
        days.crossJoin(F.broadcast(d0))
        .filter(F.col("day") - F.col("d0") < 63)
        .groupBy("tx", "ty")
        .agg(
            # shiftleft's python API wants a literal shift; the SQL form
            # takes a column
            F.bit_or(
                F.expr("shiftleft(CAST(1 AS BIGINT), CAST(day - d0 AS INT))")
            ).alias("mask")
        )
    )
    a = masks.select(
        F.col("tx").alias("ta_x"), F.col("ty").alias("ta_y"),
        F.col("mask").alias("ma"),
    )
    b = masks.select(
        F.col("tx").alias("tb_x"), F.col("ty").alias("tb_y"),
        F.col("mask").alias("mb"),
    )
    pairs = a.join(
        F.broadcast(b),
        (F.col("ta_x") * 1024 + F.col("ta_y")) < (F.col("tb_x") * 1024 + F.col("tb_y")),
    )
    return pairs.select(
        "ta_x", "ta_y", "tb_x", "tb_y",
        F.bit_count(F.expr("ma & mb")).cast("long").alias("n_both"),
        F.bit_count(F.expr("ma | mb")).cast("long").alias("n_either"),
        F.expr(
            "CAST(bit_count(ma & mb) AS BIGINT) * 1000000"
            " div CAST(bit_count(ma | mb) AS BIGINT)"
        ).alias("jaccard_ppm"),
    ).filter(F.col("n_both") > 0)


def webtext_graph_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Link-graph evolution — the edge-level complement of
    webtext_snapshot_diff's page-level classes: split the shared host
    link graph into two crawl snapshots (snapshot A = docs with
    doc_id % 10 != 7, B = doc_id % 10 != 3 — the same membership rule the
    page diff uses), dedupe each snapshot's edge set, full-outer join on
    the edge key and classify gained / lost / persisted, rolled up per
    source host with the class counts a re-crawl scheduler reads (hosts
    gaining edges are growing; hosts losing them are decaying or
    de-indexed). Two dedup shuffles + one full-outer on the host-bounded
    edge key."""
    docs = _docs(spark, sf_dir)
    ea = _host_edges(docs.filter(F.col("doc_id") % 10 != 7)).distinct()
    eb = _host_edges(docs.filter(F.col("doc_id") % 10 != 3)).distinct()
    j = ea.withColumn("in_a", F.lit(1)).join(
        eb.withColumn("in_b", F.lit(1)), ["src", "dst"], "full_outer"
    )
    cls = (
        F.when(F.col("in_a").isNull(), F.lit("gained"))
        .when(F.col("in_b").isNull(), F.lit("lost"))
        .otherwise(F.lit("persisted"))
    )
    return (
        j.select("src", cls.alias("cls"))
        .groupBy("src")
        .agg(
            F.sum(F.when(F.col("cls") == "gained", 1).otherwise(0)).cast("long").alias("n_gained"),
            F.sum(F.when(F.col("cls") == "lost", 1).otherwise(0)).cast("long").alias("n_lost"),
            F.sum(F.when(F.col("cls") == "persisted", 1).otherwise(0)).cast("long").alias("n_persisted"),
        )
    )


HOP_WINDOW_S = 7200
HOP_SLIDE_S = 3600


def events_hopping_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch HOPPING-window aggregates — the overlapping-window twin of
    the streaming tumbling drain (events_stream_windows): every event
    contributes to window_size div slide = 2 overlapping 2-hour windows
    on a 1-hour hop, materialized by exploding each event to the window
    starts that cover it (bounded fan-out = the overlap factor, a
    constant) and aggregating per (window_start, event_type). This is
    exactly Spark's window(ts, '2 hours', '1 hour') semantics expressed
    in exact epoch integers so DuckDB mirrors it without interval types."""
    ev = pages_src.event_points_df(spark, sf_dir).select("event_type", "sec")
    # windows covering sec: starts at slide-aligned k*S with
    # sec - W < k*S <= sec  =>  k in ((sec - W) div S, sec div S]
    k0 = F.expr(f"(sec - {HOP_WINDOW_S}) div {HOP_SLIDE_S} + 1")
    k1 = F.expr(f"sec div {HOP_SLIDE_S}")
    return (
        ev.select(
            "event_type",
            F.explode(F.sequence(k0, k1)).alias("k"),
        )
        .select(
            "event_type", (F.col("k") * HOP_SLIDE_S).alias("window_start"),
        )
        .groupBy("window_start", "event_type")
        .agg(F.count(F.lit(1)).alias("n_events"))
    )


AFFINITY_MIN_BOTH = 2


def geo_fence_affinity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Market-basket affinity over places — which fence PAIRS share
    visitors beyond chance (association-rule lift, the cross-sell query
    asked of locations): distinct (user, fence) visits from the
    broadcast containment join form the basket table; pairs form per
    USER (inverted-index discipline — never fence x fence against the
    corpus), and lift_ppm = n_both * n_users * 1e6 div (n_a * n_b) in
    exact int64 (> 1e6 means the pair co-occurs beyond independence).
    The per-user basket is fence-dim-bounded (<= 100), so the pair
    explode is constant-bounded per user; the final key space is fence
    pairs. Pairs with fewer than AFFINITY_MIN_BOTH co-visitors are
    noise-cut, mirrored in the oracle."""
    ev = pages_src.event_points_df(spark, sf_dir).select("user_id", "ex", "ey")
    visits = (
        _fence_hits(spark, ev)
        .select("user_id", "fence_id")
        .distinct()
        .localCheckpoint(eager=False)
    )
    # universe size rides as a broadcast 1-row frame (the emerging-hotspot
    # span pattern) — no driver-side scalar collect, the plan stays lazy
    n_users = visits.agg(
        F.count_distinct("user_id").alias("n_users")
    )
    per_fence = visits.groupBy("fence_id").agg(
        F.count(F.lit(1)).alias("n_visitors")
    )
    a = visits.select("user_id", F.col("fence_id").alias("fa"))
    b = visits.select("user_id", F.col("fence_id").alias("fb"))
    both = (
        a.join(b, "user_id")
        .filter(F.col("fa") < F.col("fb"))
        .groupBy("fa", "fb")
        .agg(F.count(F.lit(1)).alias("n_both"))
        .filter(F.col("n_both") >= AFFINITY_MIN_BOTH)
    )
    na = per_fence.select(F.col("fence_id").alias("fa"), F.col("n_visitors").alias("n_a"))
    nb = per_fence.select(F.col("fence_id").alias("fb"), F.col("n_visitors").alias("n_b"))
    return (
        both.join(F.broadcast(na), "fa")
        .join(F.broadcast(nb), "fb")
        .crossJoin(F.broadcast(n_users))
        .select(
            "fa", "fb", "n_both", "n_a", "n_b",
            F.expr("n_both * n_users * 1000000 div (n_a * n_b)").alias("lift_ppm"),
        )
    )


def geo_tile_changepoint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-tile change-point detection — the CUSUM statistic over each
    res-3 tile's daily ping series in exact int64: with k days observed
    and partial sums S_k, the scaled deviation D_k = n*S_k - k*S_n is n
    times the centered cumulative sum (no division, no floats); the
    change day maximizes |D_k| (ties to the earliest day). One corpus
    (tile, day) aggregate, then windows over the grid-bounded panel —
    the burst/shift detector complementing the Mann-Kendall trend
    (geo_emerging_hotspots flags monotone drift; this finds WHEN the
    level jumped)."""
    from pyspark.sql import Window

    daily = (
        pages_src.event_points_df(spark, sf_dir)
        .select(
            F.shiftright("ex", HOTSPOT_SHIFT).alias("tx"),
            F.shiftright("ey", HOTSPOT_SHIFT).alias("ty"),
            "day",
        )
        .groupBy("tx", "ty", "day")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    wo = Window.partitionBy("tx", "ty").orderBy("day")
    wa = Window.partitionBy("tx", "ty")
    scored = (
        daily.withColumn("k", F.row_number().over(wo))
        .withColumn(
            "sk", F.sum("cnt").over(wo.rowsBetween(Window.unboundedPreceding, 0))
        )
        .withColumn("n", F.count(F.lit(1)).over(wa))
        .withColumn("sn", F.sum("cnt").over(wa))
        .withColumn("dk", F.abs(F.col("n") * F.col("sk") - F.col("k") * F.col("sn")))
    )
    wr = Window.partitionBy("tx", "ty").orderBy(F.col("dk").desc(), "day")
    return (
        scored.withColumn("rn", F.row_number().over(wr))
        .filter(F.col("rn") == 1)
        .select(
            "tx", "ty",
            F.col("day").alias("change_day"),
            F.col("dk").alias("cusum_peak"),
            F.col("n").alias("n_days"),
        )
    )


def events_unpivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unpivot (melt) — the inverse of events_pivot's wide per-user count
    table back to tall (user_id, event_type, n) form via ``stack``, the
    wide-to-long reshape every feature store needs both directions of.
    Zero-count cells are dropped on BOTH sides (the tall form's natural
    sparsity); stack is a per-row generator, so the reshape adds no
    shuffle beyond the pivot's own aggregate."""
    from .operators.relational import EVENT_TYPES, events_pivot

    wide = events_pivot(spark, sf_dir)
    n = len(EVENT_TYPES)
    args = ", ".join(f"'{t}', n_{t}" for t in EVENT_TYPES)
    return (
        wide.select(
            "user_id",
            F.expr(f"stack({n}, {args}) AS (event_type, n)"),
        )
        .filter(F.col("n") > 0)
    )


def events_percent_rank_ppm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact rank normalization — percent_rank in integer ppm per event
    type: (rank - 1) * 1e6 div (n - 1) with SQL rank() semantics (ties
    share a rank), the float-free twin of the PERCENT_RANK window
    function a feature pipeline uses to scale heavy-tailed metrics into
    [0, 1e6]. Values quantize to micros first (the ANN-family discipline)
    so tie groups are identical in both engines. One window per type on
    the bounded type key + the user aggregate beneath it."""
    from pyspark.sql import Window

    from .sources.testdata import load_table

    per_user = (
        load_table(spark, sf_dir, "events")
        .groupBy("event_type", "user_id")
        .agg(
            F.sum(F.expr("CAST(round(value * 1e6) AS BIGINT)")).alias("v_micro")
        )
    )
    w = Window.partitionBy("event_type").orderBy("v_micro")
    wa = Window.partitionBy("event_type")
    return (
        per_user.withColumn("rk", F.rank().over(w))
        .withColumn("n", F.count(F.lit(1)).over(wa))
        .select(
            "event_type", "user_id", "v_micro",
            F.expr("(rk - 1) * 1000000 div greatest(n - 1, 1)").alias(
                "prank_ppm"
            ),
        )
    )


def events_purchase_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Revenue attribution by place — every purchase event rolls up to
    the fence containing it (its own position resolves through the
    broadcast containment join; -1 = bought outside every fence), the
    per-location conversion table a geomarketing pipeline reads next to
    events_geofence_occupancy's footfall (revenue per visit = this tables
    revenue over that one's pings). Values aggregate in exact micros (the
    ANN-family quantization discipline) so the sum is order-free. One
    map-side containment + one fence-keyed aggregate. Purchases that
    need the user's LAST KNOWN state instead of their own position are
    the as-of family (operators/relational.events_asof) composed with the
    SCD-2 history (events_state_history)."""
    ev = pages_src.event_points_df(spark, sf_dir).select(
        "user_id", "ts", "event_id", "event_type", "value", "sec", "ex", "ey"
    )
    # every ping resolves its state; purchases are ALSO pings here (the
    # events table is one stream), so the running state at a purchase row
    # includes the purchase's own position — "where was the user when
    # they bought", not "where were they last seen before"
    keys = ["user_id", "ts", "event_id", "sec", "event_type", "value"]
    pinged = _fence_state(spark, ev, keys, "state")
    return (
        pinged.filter(F.col("event_type") == "purchase")
        .groupBy(F.col("state").alias("fence_id"))
        .agg(
            F.count(F.lit(1)).alias("n_purchases"),
            F.count_distinct("user_id").alias("n_buyers"),
            F.sum(F.expr("CAST(round(value * 1e6) AS BIGINT)")).alias(
                "revenue_micro"
            ),
        )
    )


def geo_voronoi_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Discrete Voronoi tessellation boundary — rasterize the
    nearest-station assignment over the FULL res-5 grid (32x32 cell
    centers, the dimension, not the corpus) with the packed-argmin HOF
    (geo_nearest_facility's kernel), then flag every cell whose east or
    south 4-neighbor belongs to a different station: the boundary set IS
    the Voronoi diagram's edge raster, the catchment-map product a
    dispatch/coverage planner draws. Pure dimension work end-to-end —
    1024 cells x 50 stations — so the corpus is never scanned; the
    neighbor test is one self equi-join on the shifted key (the
    tile_autocorr discipline). Output: (cx, cy, station_id,
    east_station, south_station) for boundary cells only."""
    side = 1 << TRAJSIM_SHIFT
    half = side // 2
    grid = spark.range(32 * 32).select(
        (F.col("id") % 32).alias("cx"),
        F.expr("id div 32").alias("cy"),
    )
    agg = f"""aggregate(
      {_stations_array_sql()},
      9223372036854775807L,
      (acc, s) -> least(acc,
        ((px - s.fx) * (px - s.fx) + (py - s.fy) * (py - s.fy)) * 64L
          + s.sid div {STATION_MOD}L))"""
    owner = (
        grid.withColumn("px", F.col("cx") * side + half)
        .withColumn("py", F.col("cy") * side + half)
        .withColumn("packed", F.expr(agg))
        .select(
            "cx", "cy",
            F.expr(f"(packed % 64) * {STATION_MOD}").alias("station_id"),
        )
    )
    east = owner.select(
        (F.col("cx") - 1).alias("cx"), "cy",
        F.col("station_id").alias("east_station"),
    )
    south = owner.select(
        "cx", (F.col("cy") - 1).alias("cy"),
        F.col("station_id").alias("south_station"),
    )
    return (
        owner.join(east, ["cx", "cy"], "left")
        .join(south, ["cx", "cy"], "left")
        .filter(
            (F.col("east_station").isNotNull() & (F.col("east_station") != F.col("station_id")))
            | (F.col("south_station").isNotNull() & (F.col("south_station") != F.col("station_id")))
        )
        .select("cx", "cy", "station_id",
                F.coalesce("east_station", F.lit(-1)).alias("east_station"),
                F.coalesce("south_station", F.lit(-1)).alias("south_station"))
    )


def geo_route_friction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cost-along-path — each user's route cells (the DDA raster,
    geo_route_cells) weighted by the corpus density of those cells: total
    friction = sum over visited res-5 cells of the global ping count in
    that cell — the congestion-exposure / terrain-cost profile a routing
    engine accumulates along a path. Composes two existing passes (route
    raster, density grid) with one grid-keyed join; the density side is
    grid-bounded and broadcast. Output per user: n_cells, friction (exact
    int64), max_cell_density."""
    from . import cells as cells_mod

    route = geo_route_cells(spark, sf_dir)
    density = (
        pages_src.event_points_df(spark, sf_dir)
        .select(
            F.expr(cells_mod.morton_sql(
                f"shiftright(ex, {TRAJSIM_SHIFT})",
                f"shiftright(ey, {TRAJSIM_SHIFT})",
                5,
            )).alias("cell_id")
        )
        .groupBy("cell_id")
        .agg(F.count(F.lit(1)).alias("density"))
    )
    return (
        route.join(F.broadcast(density), "cell_id")
        .groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n_cells"),
            F.sum("density").alias("friction"),
            F.max("density").alias("max_cell_density"),
        )
    )
