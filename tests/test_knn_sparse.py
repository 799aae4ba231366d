"""kNN ring on an adversarially sparse corpus (round-1 watch item): queries
in empty regions must resolve through the dynamic ring doubling — with full
grid coverage there is no uncapped brute-force tail — and still match the
exact brute-force answer."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from tree_sitter_codeviews_spark import layers
from tree_sitter_codeviews_spark.operators import knn
from tests import reference_impl


def _sparse_points(spark):
    # 12 points hugging the grid corners/edges; vast empty interior
    n = layers.GRID_N
    coords = [
        (0, 0), (1, 0), (0, 1), (2, 3),
        (n - 1, n - 1), (n - 2, n - 1), (n - 1, n - 3), (n - 4, n - 2),
        (0, n - 1), (1, n - 2), (n - 1, 0), (n - 2, 2),
    ]
    rows = [(i, gx, gy) for i, (gx, gy) in enumerate(coords)]
    df = spark.createDataFrame(rows, "doc_id long, gx long, gy long")
    return df.select(
        "doc_id", "gx", "gy",
        (F.lit(-180.0) + F.lit(360.0) * (F.col("gx").cast("double") + 0.5) / n).alias("lon"),
        (F.lit(-90.0) + F.lit(180.0) * (F.col("gy").cast("double") + 0.5) / n).alias("lat"),
    )


def test_knn_ring_sparse_matches_brute(spark):
    pts = _sparse_points(spark)
    got = {
        (r.doc_id, r.rank): (r.neighbor_id, r.dist_sq)
        for r in knn.knn_ring(pts, spark, k=3, res=5).collect()
    }
    want = {
        (r.doc_id, r.rank): (r.neighbor_id, r.dist_sq)
        for r in reference_impl.knn_brute(pts, k=3).collect()
    }
    assert got == want


def test_knn_ring_corpus_smaller_than_k(spark):
    # fewer than k+1 points: every query returns all others, ranks 1..n-1
    pts = _sparse_points(spark).limit(3)
    rows = knn.knn_ring(pts, spark, k=5, res=5).collect()
    per_q = {}
    for r in rows:
        per_q.setdefault(r.doc_id, []).append(r.rank)
    assert set(per_q) == {0, 1, 2}
    assert all(sorted(v) == [1, 2] for v in per_q.values())


def test_knn_ring_refuses_grid_wider_than_ring_cap(spark):
    # the doubling rings reach RING_CAP = 128 cells: res 7 (128 cells
    # across) is the finest grid they cover, res 8 is refused up front
    with pytest.raises(ValueError, match="res 8"):
        knn.knn_ring(_sparse_points(spark), spark, k=3, res=8)


def test_distance_join_hand_graph_and_lossless_blocking(spark):
    # 4 points: two identical (dist 0), one at ~1.4 deg, one far away.
    # Grid res 10 (gx,gy in [0,1024)); res-5 blocking => cells of 11.25x5.625
    # degrees; points near a cell border must still pair (the 9-offset probe).
    import pandas as pd

    from tree_sitter_codeviews_spark import layers
    from tree_sitter_codeviews_spark.operators import knn

    n = layers.GRID_N
    def mk(gx, gy, i):
        lon = -180.0 + 360.0 * (gx + 0.5) / n
        lat = -90.0 + 180.0 * (gy + 0.5) / n
        return (i, gx, gy, lon, lat)

    # gx=511 and gx=512 straddle the res-5 cell border at grid 512
    rows = [mk(511, 500, 1), mk(512, 500, 2), mk(511, 500, 3), mk(100, 100, 4)]
    pts = spark.createDataFrame(
        pd.DataFrame(rows, columns=["doc_id", "gx", "gy", "lon", "lat"])
    )
    got = {(r.id_a, r.id_b): r.dist_sq
           for r in knn.distance_join(pts, eps=2.0, res=5).collect()}
    assert (1, 3) in got and got[(1, 3)] == 0.0
    assert (1, 2) in got and (2, 3) in got  # cross-border pair found
    assert all(4 not in p for p in got)
    import pytest

    with pytest.raises(ValueError):
        knn.distance_join(pts, eps=10.0, res=5)  # eps > cell extent refused


def test_pq_degrades_gracefully_on_tiny_corpus(spark, sf_tiny):
    from pyspark.sql import functions as F

    from tree_sitter_codeviews_spark.operators import ann
    from tree_sitter_codeviews_spark.sources.testdata import load_table

    embs = load_table(spark, sf_tiny, "embeddings").filter(F.col("vec_id") < 10)
    out = ann.pq_topk(embs, k=3, every=5).collect()
    # 2 queries (0, 5) x 3 neighbors, sampled codebook smaller than PQ_K
    assert len(out) == 6
    assert {r.query_id for r in out} == {0, 5}


def test_knn_ring_driver_arm_equals_distributed(spark, distributed_arm):
    """r6 size-adaptive arm: driver blocked-numpy kNN must be bit-identical
    (incl. dist_sq doubles and boundary ties) to the distributed ring loop."""
    from tree_sitter_codeviews_spark import layers
    from tree_sitter_codeviews_spark.operators import knn

    # a grid with planted ties: duplicate coordinates and collinear rows,
    # using the REAL layers lon/lat<->grid convention (the ring search's
    # pruning bound assumes it)
    def lonlat(gx, gy):
        return (-180.0 + 360.0 * (gx + 0.5) / layers.GRID_N,
                -90.0 + 180.0 * (gy + 0.5) / layers.GRID_N)

    rows = []
    for i in range(60):
        gx, gy = (i * 37) % 900, (i * 53) % 900
        rows.append((i, gx, gy, *lonlat(gx, gy)))
    rows.append((100, 37, 53, *lonlat(37, 53)))  # duplicate of i=1's coords
    pts = spark.createDataFrame(
        rows, "doc_id long, gx long, gy long, lon double, lat double"
    )
    driver = {(r.doc_id, r.neighbor_id, r.rank, r.dist_sq)
              for r in knn.knn_ring(pts, spark, k=3, res=5).collect()}
    with distributed_arm():
        dist = {(r.doc_id, r.neighbor_id, r.rank, r.dist_sq)
                for r in knn.knn_ring(pts, spark, k=3, res=5).collect()}
    assert driver == dist
    assert driver
