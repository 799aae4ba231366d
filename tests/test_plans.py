"""Physical-plan regression tests: the scale-critical plan properties.

A refactor that silently turns a broadcast join into a sort-merge join, or
widens a parquet scan, should fail HERE — not as a 10x regression on the
next scale-up.
"""

from __future__ import annotations

import plan_util as plans
from tree_sitter_codeviews_spark.operators.relational import q1_pricing, q5_region_revenue
from tree_sitter_codeviews_spark.queries import geo_pip_docs, geo_tiles
from tree_sitter_codeviews_spark.sources.pages import doc_points_df


def test_pip_join_is_broadcast_not_sort_merge(spark, sf_tiny):
    df = geo_pip_docs(spark, sf_tiny)
    assert plans.uses_broadcast_join(df)
    assert not plans.uses_sort_merge_join(df)


def test_doc_points_scan_prunes_to_doc_id(spark, sf_tiny):
    schemas = plans.scan_read_schemas(doc_points_df(spark, sf_tiny))
    assert schemas, "expected a parquet scan"
    for s in schemas:
        assert "doc_id" in s
        assert "text" not in s and "lang" not in s, f"unpruned scan: {s}"


def test_tiles_scan_prunes_document_payload(spark, sf_tiny):
    schemas = plans.scan_read_schemas(geo_tiles(spark, sf_tiny))
    assert schemas, "expected the documents scan in the tiles plan"
    for s in schemas:
        assert "doc_id" in s
        assert "text" not in s, f"tile rollup reads document text: {s}"


def test_q1_pushes_shipdate_filter_to_scan(spark, sf_tiny):
    pushed = plans.pushed_filters(q1_pricing(spark, sf_tiny))
    assert any("l_shipdate" in p for p in pushed), pushed


def test_q5_broadcasts_the_region_nation_dim(spark, sf_tiny):
    assert plans.uses_broadcast_join(q5_region_revenue(spark, sf_tiny))


def test_cascade_join_is_all_broadcast(spark, sf_tiny):
    # every fallback level must stay a broadcast left join — a sort-merge
    # here would shuffle the big mention table once per level
    from tree_sitter_codeviews_spark.queries import geo_cascade_resolve

    df = geo_cascade_resolve(spark, sf_tiny)
    assert plans.uses_broadcast_join(df)
    assert not plans.uses_sort_merge_join(df)


def test_fingerprint_is_jvm_native(spark, sf_tiny):
    # the rolling hash must stay a JVM expression (no BatchEvalPython /
    # ArrowEvalPython nodes) and prune the scan to doc_id+text
    from tree_sitter_codeviews_spark.queries import text_fingerprint

    df = text_fingerprint(spark, sf_tiny)
    plan = plans.explain_str(df)
    assert "EvalPython" not in plan, "fingerprint fell back to a Python UDF"
    for s in plans.scan_read_schemas(df):
        assert "lang" not in s and "source" not in s, f"unpruned scan: {s}"


def test_round2_relational_queries_broadcast_dims(spark, sf_tiny):
    # part/centroid/dim sides must broadcast; a sort-merge join in any of
    # these shuffles the fact table for a dim-sized right side
    from tree_sitter_codeviews_spark.operators.relational import (
        q17_small_qty_revenue, q18_large_orders, q19_disjunctive_revenue,
        top_suppliers_per_nation,
    )
    from tree_sitter_codeviews_spark.queries import ann_ivf_topk

    for fn in (q17_small_qty_revenue, q18_large_orders,
               q19_disjunctive_revenue, top_suppliers_per_nation,
               ann_ivf_topk):
        df = fn(spark, sf_tiny)
        assert plans.uses_broadcast_join(df), fn.__name__
        assert not plans.uses_sort_merge_join(df), fn.__name__


def test_priority_match_candidate_legs_are_broadcast(spark, sf_tiny):
    # every registry tier must broadcast its (small) dim — a sort-merge in a
    # candidate leg would shuffle the corpus-sized mention table per tier.
    # (The final keys join-back IS allowed to sort-merge: both sides are
    # corpus-sized at scale.)
    from tree_sitter_codeviews_spark.queries import graph_catch_match

    df = graph_catch_match(spark, sf_tiny)
    assert plans.uses_broadcast_join(df)


def test_curation_ops_are_jvm_native(spark, sf_tiny):
    # decontamination / packing / scrubbing / boilerplate are hot-path
    # corpus transforms: zero Python stages allowed
    from tree_sitter_codeviews_spark.queries import (
        text_boilerplate_strip,
        text_decontaminate,
        text_pack_sequences,
        text_pii_scrub,
    )

    for fn in (text_decontaminate, text_pack_sequences, text_pii_scrub,
               text_boilerplate_strip):
        plan = plans.explain_str(fn(spark, sf_tiny))
        assert "EvalPython" not in plan, f"{fn.__name__} has a Python stage"


def test_r5_sketch_probes_are_broadcast(spark, sf_tiny):
    """The Bloom filter bits and the count-min counter grid are
    constant-size dims — their probe joins must be broadcast, and no
    plan may fall back to a cartesian product."""
    from tree_sitter_codeviews_spark.queries import (
        dedup_bloom_frontier, text_countmin_calibration)

    for q in (dedup_bloom_frontier, text_countmin_calibration):
        df = q(spark, sf_tiny)
        assert plans.uses_broadcast_join(df), q.__name__
        assert "CartesianProduct" not in plans.explain_str(df), q.__name__


def test_r5_per_doc_windows_stay_partitioned(spark, sf_tiny):
    """Span-scrub and CDC chunking window/roll up BY doc_id — a refactor
    that introduces a global (SinglePartition) exchange would serialize
    the whole corpus through one task at scale."""
    from tree_sitter_codeviews_spark.queries import (
        dedup_cdc_chunks, text_dup_span_scrub)

    for q in (text_dup_span_scrub, dedup_cdc_chunks):
        assert "SinglePartition" not in plans.explain_str(
            q(spark, sf_tiny)), q.__name__


def test_r5_geometry_wave_plan_shapes(spark, sf_tiny):
    """The geometry wave's scale contracts, pinned:
    - segment_join broadcasts the (small, fixed) line-corridor cover dim —
      never a cartesian product or a sort-merge over the exploded covers;
    - geohash is a zero-exchange 100% JVM scan-fused encode;
    - tile_pyramid and tile_diameter keep every window/agg partitioned
      (a SinglePartition exchange would serialize the corpus)."""
    from tree_sitter_codeviews_spark.queries import (
        geo_geohash, geo_segment_join, geo_tile_diameter, geo_tile_pyramid)

    sj = geo_segment_join(spark, sf_tiny)
    assert plans.uses_broadcast_join(sj)
    sj_plan = plans.explain_str(sj)
    assert "CartesianProduct" not in sj_plan
    assert "SortMergeJoin" not in sj_plan

    gh_plan = plans.explain_str(geo_geohash(spark, sf_tiny))
    assert "Exchange" not in gh_plan
    assert "EvalPython" not in gh_plan

    for q in (geo_tile_pyramid, geo_tile_diameter):
        assert "SinglePartition" not in plans.explain_str(
            q(spark, sf_tiny)), q.__name__


def test_r5_map_match_and_simplify_plan_shapes(spark, sf_tiny):
    """map_match broadcasts the (fixed-size) line-raster ring dim — the
    corpus side must not explode or cartesian; traj_simplify's window
    stays partitioned by user (no SinglePartition)."""
    from tree_sitter_codeviews_spark.queries import (
        geo_map_match, geo_traj_simplify)

    mm = geo_map_match(spark, sf_tiny)
    assert plans.uses_broadcast_join(mm)
    mm_plan = plans.explain_str(mm)
    assert "CartesianProduct" not in mm_plan
    assert "SortMergeJoin" not in mm_plan

    assert "SinglePartition" not in plans.explain_str(
        geo_traj_simplify(spark, sf_tiny))


def test_r5_colocation_and_od_plan_shapes(spark, sf_tiny):
    """colocation must never cartesian (pairing is an equi-join on the
    (day, tile) key) and its windows/aggs stay partitioned; od_flows'
    two row_number windows share one (user, day) shuffle."""
    from tree_sitter_codeviews_spark.queries import (
        events_colocation, geo_od_flows)

    cl = plans.explain_str(events_colocation(spark, sf_tiny))
    assert "CartesianProduct" not in cl
    assert "SinglePartition" not in cl

    od = plans.explain_str(geo_od_flows(spark, sf_tiny))
    assert "SinglePartition" not in od


def test_r5_range_count_is_pyramid_bounded(spark, sf_tiny):
    """The decomposition dim must broadcast (never shuffle the pyramid to
    a sort-merge) and the plan reads the documents scan exactly once —
    the whole point is that 64 range queries cost ONE corpus pass."""
    from tree_sitter_codeviews_spark.queries import geo_range_count

    df = geo_range_count(spark, sf_tiny)
    plan = plans.explain_str(df)
    assert plans.uses_broadcast_join(df)
    assert "CartesianProduct" not in plan
    assert "SortMergeJoin" not in plan  # both joins are dim-sized builds
    # one parquet scan NODE in the plan tree (the formatted explain also
    # repeats the node in the details section, hence <= 2 mentions)
    n_scans = sum(
        1 for ln in plan.splitlines() if "Scan parquet" in ln and "+-" in ln
    )
    assert n_scans == 1, plan


def test_r5_stay_points_plan_stays_partitioned(spark, sf_tiny):
    from tree_sitter_codeviews_spark.queries import events_stay_points

    assert "SinglePartition" not in plans.explain_str(
        events_stay_points(spark, sf_tiny))


def test_r5_emerging_hotspots_single_corpus_pass(spark, sf_tiny):
    """Everything downstream of the (tile, day) aggregate works on the
    checkpointed grid-bounded table: no parquet re-scan in the final
    plan, the zero-fill join and the day-pair self-join broadcast, and
    nothing goes cartesian. (The one SinglePartition exchange is the
    2-column day-span scalar over the grid table — dim-sized by
    construction.)"""
    from tree_sitter_codeviews_spark.queries import geo_emerging_hotspots

    df = geo_emerging_hotspots(spark, sf_tiny)
    plan = plans.explain_str(df)
    assert plans.uses_broadcast_join(df)
    assert "CartesianProduct" not in plan
    assert "Scan parquet" not in plan  # corpus read once, inside the checkpoint


def test_r5_traj_similarity_plan_shapes(spark, sf_tiny):
    """Pairing is an equi-join on the cell key (never cartesian), the
    size joins broadcast, the rank window partitions by user (no
    single-partition exchange), and the distinct cells table is read
    from its checkpoint, not re-scanned per branch."""
    from tree_sitter_codeviews_spark.queries import events_traj_similarity

    df = events_traj_similarity(spark, sf_tiny)
    plan = plans.explain_str(df)
    assert plans.uses_broadcast_join(df)
    assert "CartesianProduct" not in plan
    assert "SinglePartition" not in plan
    assert "Scan parquet" not in plan


def test_geo_extraction_and_refine_are_jvm_only(spark, sf_tiny):
    """Extraction and the PIP refine are native expressions: no Python
    stage in any query built on them, and the entity regex runs once per
    page (an ``explode`` of the entity array column would let the
    optimizer push an inferred ``size(e) > 0`` filter, extraction
    included, below the pages exchange and run it twice)."""
    from tree_sitter_codeviews_spark import queries
    from tree_sitter_codeviews_spark.operators import extract
    from tree_sitter_codeviews_spark.sources.pages import gazetteer_df, pages_df

    for fn in (queries.geo_entities, queries.geo_pip_entities,
               queries.geo_extract_text, queries.geo_pip_docs,
               queries.geo_vector_raster, queries.geo_overlay_stats):
        assert "EvalPython" not in plans.explain_str(fn(spark, sf_tiny)), fn.__name__

    ents = extract.page_entities(pages_df(spark, sf_tiny), gazetteer_df(spark))
    qe = ents._jdf.queryExecution()
    built = qe.analyzed().toString().count(extract._GEO_JAVA)
    assert built == 2  # surfaces + split pieces
    assert qe.executedPlan().toString().count(extract._GEO_JAVA) == built


# py4j round trips of the same build (the second of two, in this suite's
# session) when every projection was built through the Column API and
# tile_counts ran its eager localCheckpoint rollup: 2363-2405 over three
# runs, the lowest kept. The SQL-text build reads about 445.
COLUMN_API_BUILD_CALLS = 2363


def test_geo_pass_plan_build_py4j_budget(spark, sf_tiny, monkeypatch):
    """Building one geo_join pass's plans (pages_df -> page_entities ->
    pip_join, plus tile_counts over the same pages' points) costs at most
    half the py4j round trips of the Column-API build."""
    import py4j.clientserver
    from py4j.protocol import MEMORY_COMMAND_NAME

    from tree_sitter_codeviews_spark import layers
    from tree_sitter_codeviews_spark.operators import extract, pip_join, tiles
    from tree_sitter_codeviews_spark.sources.pages import (
        gazetteer_df, pages_df, points_from_ids,
    )

    def build():
        pages = pages_df(spark, sf_tiny)
        ents = extract.page_entities(pages, gazetteer_df(spark))
        pip_join.pip_join(ents, spark, keys=("url",))
        tiles.tile_counts(points_from_ids(pages.select("doc_id")),
                          res_lo=7, res_hi=10, grid_res=layers.GRID_RES)

    build()  # first build: one-time schema reads and driver-side caches
    calls = [0]
    send = py4j.clientserver.ClientServerConnection.send_command

    def counted(self, command):
        # memory-release commands are sent when the garbage collector frees
        # a JavaObject proxy, at times unrelated to the build
        if not command.startswith(MEMORY_COMMAND_NAME):
            calls[0] += 1
        return send(self, command)

    monkeypatch.setattr(py4j.clientserver.ClientServerConnection,
                        "send_command", counted)
    build()
    print(f"geo pass plan build: {calls[0]} py4j round trips "
          f"(Column API: {COLUMN_API_BUILD_CALLS})")
    assert calls[0] <= COLUMN_API_BUILD_CALLS // 2, calls[0]
    # the broadcast cover dim is one relation per session, not one per build
    assert pip_join.cover_df(spark) is pip_join.cover_df(spark)
