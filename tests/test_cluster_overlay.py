"""Unit properties for the r4 wave-3 operators: integer k-means / SemDeDup
(cluster.py), PBSM rect overlay (overlay.py), quadkey encoding, DSIR
weights, trajectories — beyond the oracle equality the gate mirror already
asserts."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from tree_sitter_codeviews_spark import layers
from tree_sitter_codeviews_spark.operators import cluster, dedup, overlay
from tree_sitter_codeviews_spark.sources.testdata import load_table
from tests import reference_impl


# --- k-means ---------------------------------------------------------------

def test_kmeans_assignment_is_exact_argmin(spark, sf_tiny):
    """dist_q is the true int64 squared distance and cluster the true argmin
    (ties to the lowest id), recomputed independently in numpy."""
    embs = load_table(spark, sf_tiny, "embeddings")
    cmat = reference_impl.kmeans_fit(embs, k=8, iters=2)
    got = cluster.kmeans_assign(embs, k=8, iters=2).orderBy("vec_id").collect()
    q = np.array(
        [r["qv"] for r in dedup.quantized_df(embs).orderBy("vec_id").collect()],
        dtype=np.int64,
    )
    d = ((q[:, None, :] - cmat[None, :, :]) ** 2).sum(axis=2)
    want_cluster = d.argmin(axis=1)  # numpy argmin = first minimum = lowest id
    want_dist = d.min(axis=1)
    assert [r["cluster"] for r in got] == want_cluster.tolist()
    assert [r["dist_q"] for r in got] == want_dist.tolist()


def test_kmeans_centroids_move_and_stay_bounded(spark, sf_tiny):
    embs = load_table(spark, sf_tiny, "embeddings")
    c0 = reference_impl.kmeans_fit(embs, k=8, iters=0)
    c2 = reference_impl.kmeans_fit(embs, k=8, iters=2)
    assert c0.shape == c2.shape == (8, 64)
    assert (c0 != c2).any()  # Lloyd updates actually moved the centroids
    assert np.abs(c2).max() <= np.abs(
        np.array([r["qv"] for r in dedup.quantized_df(embs).collect()])
    ).max()  # means stay inside the data's coordinate range


def test_kmeans_k_over_pack_bound_rejected(spark, sf_tiny):
    with pytest.raises(ValueError, match="packing bound"):
        reference_impl.kmeans_fit(load_table(spark, sf_tiny, "embeddings"), k=101)


# --- SemDeDup ---------------------------------------------------------------

def test_semantic_dups_subset_of_brute_near_dups(spark, sf_tiny):
    """Every SemDeDup pair is a TRUE near-dup pair with the identical cos_q
    (precision 1; recall < 1 across cluster boundaries is the contract)."""
    embs = load_table(spark, sf_tiny, "embeddings")
    sem = {
        (r["vec_id_a"], r["vec_id_b"]): r["cos_q"]
        for r in cluster.semantic_dups(embs, k=8, iters=2, threshold=0.4).collect()
    }
    brute = {
        (r["vec_id_a"], r["vec_id_b"]): r["cos_q"]
        for r in dedup.embedding_near_dups(embs, threshold=0.4).collect()
    }
    assert sem  # non-vacuous
    assert set(sem) <= set(brute)
    assert all(brute[p] == c for p, c in sem.items())


def test_semantic_dups_complete_within_clusters(spark, sf_tiny):
    """The grouped-GEMM prefilter (cos >= threshold - 1e-6 before the exact
    SQL round/filter) must not drop ANY same-cluster survivor: semantic
    pairs == brute near-dup pairs restricted to same-cluster, exactly."""
    embs = load_table(spark, sf_tiny, "embeddings")
    sem = {
        (r["vec_id_a"], r["vec_id_b"])
        for r in cluster.semantic_dups(embs, k=8, iters=2, threshold=0.4).collect()
    }
    asg = {
        r["vec_id"]: r["cluster"]
        for r in cluster.kmeans_assign(embs, k=8, iters=2).collect()
    }
    brute_same_cluster = {
        (r["vec_id_a"], r["vec_id_b"])
        for r in dedup.embedding_near_dups(embs, threshold=0.4).collect()
        if asg[r["vec_id_a"]] == asg[r["vec_id_b"]]
    }
    assert sem == brute_same_cluster


# --- rect overlay ------------------------------------------------------------

def _brute_overlay(a_rows, b_rows):
    out = set()
    for aid, ax0, ay0, ax1, ay1 in a_rows:
        for bid, bx0, by0, bx1, by1 in b_rows:
            ix0, iy0 = max(ax0, bx0), max(ay0, by0)
            ix1, iy1 = min(ax1, bx1), min(ay1, by1)
            if ix1 > ix0 and iy1 > iy0:
                out.add((aid, bid, ix0, iy0, ix1, iy1, (ix1 - ix0) * (iy1 - iy0)))
    return out


def test_rect_overlay_matches_brute_force_each_pair_once(spark):
    """Cover-cell PBSM join == quadratic reference, each pair EXACTLY once —
    including rects spanning multiple cover cells (width > 2^shift)."""
    a_rows = [
        (i, (i * 131) % 900, (i * 57 + 3) % 900, (i * 131) % 900 + 5 + (i * 7) % 200,
         (i * 57 + 3) % 900 + 5 + (i * 11) % 200)
        for i in range(60)
    ]
    b_rows = [
        (j, (j * 211 + 9) % 900, (j * 97 + 31) % 900, (j * 211 + 9) % 900 + 10 + (j * 13) % 150,
         (j * 97 + 31) % 900 + 10 + (j * 17) % 150)
        for j in range(40)
    ]
    a = spark.createDataFrame(a_rows, "a_id long, ax0 long, ay0 long, ax1 long, ay1 long")
    b = spark.createDataFrame(b_rows, "b_id long, bx0 long, by0 long, bx1 long, by1 long")
    got = [
        (r["a_id"], r["b_id"], r["ix0"], r["iy0"], r["ix1"], r["iy1"], r["area"])
        for r in overlay.rect_overlay(a, b, shift=6).collect()
    ]
    want = _brute_overlay(a_rows, b_rows)
    assert len(got) == len(set(got)), "a pair was reported more than once"
    assert set(got) == want
    assert want  # non-vacuous


def test_rect_overlay_exact_beyond_double_precision(spark):
    """Cover cells are exact int64 (arithmetic shift, not float floor-div):
    rects whose coordinates exceed 2^53 — where double rounding would move
    a corner into the wrong cover cell and silently drop the pair — still
    report each intersecting pair exactly once, negatives included."""
    big = 1 << 60
    # a-rects straddle cell edges just above/below 2^60 and a negative
    # mirror; +1-sized offsets are exactly where double loses integers
    a_rows = [
        (0, big - 3, big - 3, big + 5, big + 5),
        (1, -big - 5, -big - 5, -big + 3, -big + 3),
        (2, big + 64, big + 64, big + 130, big + 130),
    ]
    b_rows = [
        (0, big + 1, big + 1, big + 9, big + 9),      # overlaps a0
        (1, -big - 1, -big - 1, -big + 7, -big + 7),  # overlaps a1
        (2, big + 129, big + 129, big + 200, big + 200),  # overlaps a2 by 1
        (3, big + 200, big + 200, big + 300, big + 300),  # disjoint
    ]
    a = spark.createDataFrame(a_rows, "a_id long, ax0 long, ay0 long, ax1 long, ay1 long")
    b = spark.createDataFrame(b_rows, "b_id long, bx0 long, by0 long, bx1 long, by1 long")
    got = sorted(
        (r["a_id"], r["b_id"], r["area"])
        for r in overlay.rect_overlay(a, b, shift=6).collect()
    )
    want = sorted(
        (ai, bi, (min(ax1, bx1) - max(ax0, bx0)) * (min(ay1, by1) - max(ay0, by0)))
        for (ai, ax0, ay0, ax1, ay1) in a_rows
        for (bi, bx0, by0, bx1, by1) in b_rows
        if min(ax1, bx1) > max(ax0, bx0) and min(ay1, by1) > max(ay0, by0)
    )
    assert got == want and len(want) == 3


def test_kmeans_fit_empty_input_fails_cleanly(spark):
    """Empty embeddings -> ValueError (not an IndexError off a 0-d array),
    matching the apportion_budget/hits_integer empty-input hardening."""
    import pytest

    empty = spark.createDataFrame([], "vec_id long, embedding array<float>")
    with pytest.raises(ValueError, match="empty embeddings"):
        reference_impl.kmeans_fit(empty, k=4, iters=1)


# --- quadkey ------------------------------------------------------------------

def test_quadkey_is_base4_morton_and_prefix_parent(spark, sf_tiny):
    """int(quadkey, 4) == the res-10 Morton cell id, and qk4 is the zoom-4
    parent (prefix truncation == cell-id shiftright by 2*(10-4))."""
    from tree_sitter_codeviews_spark import cells, queries
    from tree_sitter_codeviews_spark.sources import pages as pages_src

    qk = {
        r["doc_id"]: (r["quadkey"], r["qk4"])
        for r in queries.geo_quadkey(spark, sf_tiny).collect()
    }
    pts = pages_src.doc_points_df(spark, sf_tiny).withColumn(
        "cell", F.expr(cells.morton_sql("gx", "gy", layers.GRID_RES))
    )
    for r in pts.limit(200).collect():
        quadkey, qk4 = qk[r["doc_id"]]
        assert len(quadkey) == layers.GRID_RES
        assert int(quadkey, 4) == r["cell"]
        assert qk4 == quadkey[:4]
        assert int(qk4, 4) == r["cell"] >> (2 * (layers.GRID_RES - 4))


def test_quadkey_plan_is_shuffle_free(spark, sf_tiny):
    from tree_sitter_codeviews_spark import queries

    plan = queries.geo_quadkey(spark, sf_tiny)._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan


# --- DSIR ---------------------------------------------------------------------

def test_dsir_weights_favor_target_language(spark, sf_tiny):
    """Mean DSIR score of lang='en' docs exceeds the non-target mean — the
    importance weights actually point toward the target distribution."""
    from tree_sitter_codeviews_spark.operators import curation

    docs = load_table(spark, sf_tiny, "documents")
    scored = curation.dsir_weights(docs, target_lang="en").join(
        docs.select("doc_id", "lang"), "doc_id"
    )
    means = {
        r["is_en"]: r["m"]
        for r in scored.groupBy((F.col("lang") == "en").alias("is_en"))
        .agg(F.avg(F.col("dsir_score") / F.col("n_bigrams")).alias("m"))
        .collect()
    }
    assert means[True] > means[False]


# --- trajectory ------------------------------------------------------------------

def test_trajectory_matches_pandas_recompute(spark, sf_tiny):
    from tree_sitter_codeviews_spark.operators import relational

    got = {
        r["user_id"]: (r["n_points"], r["path_len"], r["n_stops"], r["max_step"])
        for r in relational.events_trajectory(spark, sf_tiny).collect()
    }
    ev = load_table(spark, sf_tiny, "events").select("user_id", "ts", "event_id").toPandas()
    ev["ex"] = (ev["event_id"] * 48271 + 7) % 1024
    ev["ey"] = (ev["event_id"] * 16807 + 12345) % 1024
    for uid, g in ev.sort_values(["ts", "event_id"]).groupby("user_id"):
        steps = (g["ex"].diff().abs() + g["ey"].diff().abs()).dropna()
        want = (
            len(g),
            int(steps.sum()),
            int((steps <= 16).sum()),
            int(steps.max()) if len(steps) else 0,
        )
        assert got[int(uid)] == want


# --- wave 5: route rasterization + tile autocorrelation -----------------------

def test_route_cells_contains_both_endpoints(spark, sf_tiny):
    """The DDA emits t=0 and t=L, so every ping's own res-5 cell must be in
    the user's visited set."""
    from tree_sitter_codeviews_spark import cells, queries
    from tree_sitter_codeviews_spark.operators import relational  # noqa: F401

    got = {
        (r["user_id"], r["cell_id"])
        for r in queries.geo_route_cells(spark, sf_tiny).collect()
    }
    ev = load_table(spark, sf_tiny, "events").select(
        "user_id",
        F.expr(cells.morton_sql(
            "shiftright((event_id * 48271 + 7) % 1024, 5)",
            "shiftright((event_id * 16807 + 12345) % 1024, 5)",
            5,
        )).alias("cell_id"),
    )
    multi = {
        r["user_id"]
        for r in load_table(spark, sf_tiny, "events")
        .groupBy("user_id").count().filter(F.col("count") >= 2).collect()
    }
    for r in ev.collect():
        if r["user_id"] in multi:
            assert (r["user_id"], r["cell_id"]) in got


def test_tile_autocorr_symmetric_directions(spark, sf_tiny):
    """Adjacency is symmetric: direction (dx,dy) and (-dx,-dy) must report
    identical pair counts and cross-product sums."""
    from tree_sitter_codeviews_spark import queries

    rows = {
        (r["dx"], r["dy"]): (r["n_pairs"], r["sum_prod"])
        for r in queries.geo_tile_autocorr(spark, sf_tiny).collect()
    }
    assert len(rows) == 8
    for (dx, dy), v in rows.items():
        assert rows[(-dx, -dy)] == v
