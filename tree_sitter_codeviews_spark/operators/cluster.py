"""Distributed integer k-means and SemDeDup semantic dedup.

The trained coarse quantizer ``ann.ivf_topk``'s docstring promises at
10^12 rows ("swap the sampled centroids for trained ones"): Lloyd's
algorithm over quantized int64 embeddings, every step exact integer
arithmetic so the DuckDB oracle unrolls the same iterations bit-for-bit:

- distances are exact int64 (``|q|² - 2q·c + |c|²`` of ×1000-quantized
  vectors: |dist| ≤ 64·(2·10⁴)² ≈ 2.6e10, no overflow, and exactly
  representable as DOUBLE on the oracle side);
- argmin ties break to the LOWEST cluster id via the packed key
  ``dist*100 + cluster`` (k ≤ 100), min'd — identical in numpy
  (``argmin`` picks the first minimum) and SQL (``min`` of the pack);
- the centroid update is per-dimension TRUNCATED integer division
  (numpy ``sign·(|s|//n)`` == DuckDB ``//`` — both toward zero;
  Spark-side arithmetic never divides, the update runs on the ≤k
  collected aggregate rows);
- empty clusters keep their previous centroid (oracle: left join +
  coalesce against the prior layer).

Scale shape (the faiss-IVF build, distributed): per iteration ONE
map-side Arrow pass that both assigns and pre-aggregates — each batch
emits at most k partial rows ``(cluster, n, Σqv)`` (centroids broadcast
as a k×d numpy constant — k·d ≤ a few KB by definition of k-means), and
ONE ≤(k·batches)-row groupBy collected (bounded by k, never by corpus
size). No per-iteration corpus shuffle (the former assign→join-on-vec_id
round trip is gone). The corpus is scanned ``iters+1`` times off a
localCheckpoint, repartitioned across cores first so a single-row-group
parquet scan does not serialize every pass.

SemDeDup (Abbas et al. 2023, arXiv:2303.09540): near-duplicate pairs
restricted to SAME-CLUSTER — the pair space is Σ|cluster|², bounded by
the quantizer's balance instead of corpus-quadratic. Pair generation
runs as ONE grouped ``dedup.exact_gemm`` per cluster (each vector
crosses the Arrow boundary once per cluster, not once per candidate
pair), with the unrounded prefilter ``cos ≥ threshold - 1e-6`` that
``dedup.cos_cut`` proves a superset of the survivors; the exact
published value ``cos_q = round(dot/sqrt(norm_a·norm_b), 6)``
(``dedup.cos_q_col``) and the final ``≥ threshold`` cut run in Spark
SQL, so the emitted pair set is bit-identical.
"""

from __future__ import annotations

from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .dedup import _id_matrix, cos_np, cos_q_col, exact_gemm, quantized_df

__all__ = ["kmeans_assign", "semantic_dups"]

_PACK = 100  # dist*_PACK + cluster argmin packing; requires k <= _PACK
# The k-means shape of both consumers: K_CLUSTERS centroids, ITERS rounds.
K_CLUSTERS, ITERS = 8, 2


def _trunc_div(s: np.ndarray, n: int) -> np.ndarray:
    """Integer division truncated toward zero — DuckDB ``//`` semantics
    (numpy ``//`` floors, which differs on negatives)."""
    s = np.asarray(s, dtype=np.int64)
    return np.sign(s) * (np.abs(s) // np.int64(n))


def _packed_min(m: np.ndarray, cmat: np.ndarray, cnorm: np.ndarray) -> np.ndarray:
    """Per-row minimum of the packed key ``dist*_PACK + cluster``: ``% _PACK``
    is the nearest centroid (ties to the lowest id), ``// _PACK`` its exact
    int64 squared distance."""
    d = (m * m).sum(axis=1)[:, None] - 2 * exact_gemm(m, cmat.T) + cnorm[None, :]
    packed = d * np.int64(_PACK) + np.arange(len(cmat), dtype=np.int64)
    return packed.min(axis=1)


def _assign(q: DataFrame, cmat: np.ndarray) -> DataFrame:
    """(vec_id, cluster, dist_q): nearest centroid per vector, one
    ``exact_gemm`` per Arrow batch against the broadcast k×d centroid
    matrix."""
    cmat = np.asarray(cmat, dtype=np.int64)
    cnorm = (cmat * cmat).sum(axis=1)  # (k,)
    schema = T.StructType([
        T.StructField("vec_id", T.LongType()),
        T.StructField("cluster", T.LongType()),
        T.StructField("dist_q", T.LongType()),
    ])

    def _score(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if len(pdf) == 0:
                continue
            m = np.stack(pdf["qv"].to_numpy()).astype(np.int64)
            best = _packed_min(m, cmat, cnorm)
            yield pd.DataFrame({
                "vec_id": pdf["vec_id"].to_numpy(dtype=np.int64),
                "cluster": best % _PACK,
                "dist_q": best // _PACK,
            })

    return q.mapInPandas(_score, schema)


def _partial_sums(q: DataFrame, cmat: np.ndarray) -> DataFrame:
    """Fused assign + map-side pre-aggregation for one Lloyd update: each
    Arrow batch emits ≤k rows ``(cluster, n, sums[dim])`` — exact integer
    partials (per-batch |Σqv| ≤ 65536·2·10⁴ ≈ 2^31, no overflow), summed
    order-independently downstream. Replaces the former assign →
    join-on-vec_id → 64-column aggregate, which shuffled the corpus once
    per iteration."""
    cmat = np.asarray(cmat, dtype=np.int64)
    cnorm = (cmat * cmat).sum(axis=1)
    schema = T.StructType([
        T.StructField("cluster", T.LongType()),
        T.StructField("n", T.LongType()),
        T.StructField("sums", T.ArrayType(T.LongType())),
    ])

    def _go(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if len(pdf) == 0:
                continue
            m = np.stack(pdf["qv"].to_numpy()).astype(np.int64)
            cl = _packed_min(m, cmat, cnorm) % _PACK
            out_cl: list[int] = []
            out_n: list[int] = []
            out_s: list[np.ndarray] = []
            for c in np.unique(cl):
                sel = m[cl == c]
                out_cl.append(int(c))
                out_n.append(int(sel.shape[0]))
                out_s.append(sel.sum(axis=0, dtype=np.int64))
            yield pd.DataFrame({"cluster": out_cl, "n": out_n, "sums": out_s})

    return q.mapInPandas(_go, schema)


def _fit(q: DataFrame, k: int, iters: int) -> np.ndarray:
    """Lloyd training over a pre-quantized (and ideally checkpointed)
    frame — shared by assign/semantic_dups so the corpus is quantized
    and materialized ONCE per pipeline, not once per stage. Returns the
    k×d int64 centroid matrix after ``iters`` updates; init = quantized
    vectors of the k smallest vec_ids (deterministic, oracle-reproducible)."""
    if k > _PACK:
        raise ValueError(f"k-means: k={k} exceeds argmin packing bound {_PACK}")
    init = q.orderBy("vec_id").limit(k).collect()  # bound: k rows (the limit)
    if not init:
        # fail cleanly (matches apportion_budget/hits_integer's empty-input
        # hardening) instead of an IndexError off a 0-d numpy array below
        raise ValueError("k-means: empty embeddings input")
    cmat = np.array([r["qv"] for r in init], dtype=np.int64)
    dim = cmat.shape[1]
    sum_cols = [F.sum(F.element_at("sums", d + 1)).alias(f"s{d}")
                for d in range(dim)]
    for _ in range(iters):
        rows = (
            _partial_sums(q, cmat)
            .groupBy("cluster")
            .agg(F.sum("n").alias("n"), *sum_cols)
            .collect()  # bound: <= k rows, one per cluster
        )
        nxt = cmat.copy()  # empty clusters keep their previous centroid
        for r in rows:
            sums = np.array([r[f"s{d}"] for d in range(dim)], dtype=np.int64)
            nxt[r["cluster"]] = _trunc_div(sums, r["n"])
        cmat = nxt
    return cmat


def kmeans_assign(embs: DataFrame) -> DataFrame:
    """(vec_id, cluster, dist_q): final assignment against the trained
    centroids. ``dist_q`` is the exact int64 squared quantized distance.
    The quantized frame is materialized once and reused by training AND
    the final assignment pass."""
    q = quantized_df(embs).localCheckpoint()
    return _assign(q, _fit(q, K_CLUSTERS, ITERS))


def _pair_partials(q: DataFrame, cmat: np.ndarray, margin: float) -> DataFrame:
    """Same-cluster candidate pairs via one ``exact_gemm`` per cluster
    group: (vec_id_a < vec_id_b, cluster, exact dot/norm_a/norm_b),
    prefiltered at the unrounded ``cos_np >= margin`` (``margin`` =
    threshold - 1e-6, safe by ``dedup.cos_cut``'s argument). The exact
    published cosine is computed downstream in Spark SQL. Zero-norm
    vectors give NaN, dropped by the comparison as the SQL filter drops
    their NULL."""
    cmat = np.asarray(cmat, dtype=np.int64)
    cnorm = (cmat * cmat).sum(axis=1)
    schema = T.StructType([
        T.StructField("vec_id_a", T.LongType()),
        T.StructField("vec_id_b", T.LongType()),
        T.StructField("cluster", T.LongType()),
        T.StructField("dot", T.LongType()),
        T.StructField("norm_a", T.LongType()),
        T.StructField("norm_b", T.LongType()),
    ])

    def _go(pdf: pd.DataFrame) -> pd.DataFrame:
        ids, m = _id_matrix(pdf)
        g = exact_gemm(m, m.T)
        norms = np.diagonal(g)
        ii, jj = np.nonzero(
            (ids[:, None] < ids[None, :]) & (cos_np(g, norms, norms) >= margin)
        )
        return pd.DataFrame({
            "vec_id_a": ids[ii],
            "vec_id_b": ids[jj],
            "cluster": np.full(len(ii), pdf["cluster"].iloc[0], dtype=np.int64),
            "dot": g[ii, jj],
            "norm_a": norms[ii],
            "norm_b": norms[jj],
        })

    # assign inline (one more GEMM over the checkpointed corpus) so the
    # grouped shuffle carries each vector exactly once, keyed by cluster
    asg_schema = T.StructType([
        T.StructField("vec_id", T.LongType()),
        T.StructField("cluster", T.LongType()),
        T.StructField("qv", T.ArrayType(T.LongType())),
    ])

    def _tag(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if len(pdf) == 0:
                continue
            m = np.stack(pdf["qv"].to_numpy()).astype(np.int64)
            yield pd.DataFrame({
                "vec_id": pdf["vec_id"].to_numpy(dtype=np.int64),
                "cluster": _packed_min(m, cmat, cnorm) % _PACK,
                "qv": pdf["qv"],
            })

    tagged = q.mapInPandas(_tag, asg_schema)
    return tagged.groupBy("cluster").applyInPandas(_go, schema)


def semantic_dups(embs: DataFrame) -> DataFrame:
    """SemDeDup: (vec_id_a, vec_id_b, cluster, cos_q) near-dup pairs at
    cos_q >= 0.4 WITHIN k-means clusters — the cluster equi-grouping
    bounds the candidate space at Σ|cluster|² (pick k ~ N/1000 at corpus
    scale for ~constant cluster size), generated by one ``exact_gemm`` per
    cluster, then the exact quantized cosine (Spark SQL round/divide,
    unchanged) publishes. Recall vs the brute pair scan is the SemDeDup
    contract (cross-cluster near-dups are forfeit by design); the output
    itself is deterministic, so the gate oracle mirrors it exactly."""
    q = quantized_df(embs).localCheckpoint()  # one scan: fit + tag + GEMM
    pairs = _pair_partials(q, _fit(q, K_CLUSTERS, ITERS), 0.4 - 1e-6)
    return (
        pairs.withColumn("cos_q", cos_q_col("dot", "norm_a", "norm_b"))
        .filter(F.col("cos_q") >= 0.4)
        .select("vec_id_a", "vec_id_b", "cluster", "cos_q")
    )
