"""Similarity search over embedding columns — five families.

Every family follows the quantized-similarity contract written once in
``dedup``: ``quantized_df`` (round(1000x) int64 vectors), exact int64
products (``exact_gemm``; the pair-dots ``int_dot_col``/``int_dot_udf``;
``sq_norm_col``), the round-6 cosine ``cos_q_col`` with its numpy cut
``cos_cut``, and one per-query ranker here, ``_rank_per_query``, whose
total order is (score, neighbor_id asc). Query and centroid matrices
reach the driver through ``driver_arm.collect_if_small`` under
``QUERY_CAP`` / ``CENTROID_CAP``; above a cap the operator raises.

- Exact: ``topk_quantized`` ranks by integer dot and ``cosine_topk`` by
  the round-6 quantized cosine, each one ``dedup.exact_gemm`` per Arrow
  batch against the collected query matrix. Bit-reproducible vs the SQL
  oracle; ``cosine_topk`` is the recall ground truth of the families
  below.
- ``lsh_bucketed_topk``: random-hyperplane LSH pre-bucketing so each query
  only scores its bucket's candidates — the 10^12-row path; recall<1 by
  contract, rescued by multi-probe (neighbor buckets at hamming 1).
- ``ivf_topk``: inverted-file ANN — sampled-centroid coarse quantizer,
  ``exact_gemm`` build, nprobe cell probing; oracle-mirrored exactly.
- ``pq_topk``: product quantization + asymmetric-distance (ADC) scoring —
  the memory-bound family (one packed long per corpus vector in the join);
  oracle-mirrored exactly.
- ``ivfpq_topk`` / ``ivfpq_residual_topk``: IVF routing × PQ/ADC scoring —
  the faiss-IVFPQ production composition (sub-linear in vectors touched
  AND bytes per touch), on raw or residual codes; oracle-mirrored exactly.
"""

from __future__ import annotations

from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .dedup import (
    _driver_matrix, _id_matrix, cos_cut, cos_np, cos_q_col, embedding_bucket_udf,
    exact_gemm, int_dot_col, int_dot_udf, quantized_df, sq_norm_col,
)

# Driver caps of the collected matrices: QUERY_CAP query vectors of
# int64[64] is ~100 MB; |C| ~ sqrt(N) centroids on a real corpus.
QUERY_CAP = 200_000
CENTROID_CAP = 100_000


def _query_set(embs: DataFrame, every: int = 50) -> DataFrame:
    return embs.filter(F.col("vec_id") % every == 0)


def _rank_per_query(
    pairs: DataFrame, k: int, score: str, desc: bool = True,
) -> DataFrame:
    """(query_id, neighbor_id, rank, <score>): each query's k best pairs in
    the one total order every ANN top-k publishes — ``score`` (descending
    for similarities, ascending for distances), then neighbor_id asc."""
    key = F.col(score).desc() if desc else F.col(score).asc()
    w = Window.partitionBy("query_id").orderBy(key, F.col("neighbor_id").asc())
    return (
        pairs.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "rank", score)
    )


def topk_quantized(embs: DataFrame, k: int = 10, every: int = 50) -> DataFrame:
    """(query_id, neighbor_id, rank, dot_q): exact top-k by integer dot.

    The query side is tiny (1/every of the corpus — collected once under
    ``QUERY_CAP`` and captured in the UDF closure); the corpus streams
    map-side through ONE ``exact_gemm`` per Arrow batch, with an exact
    per-batch local top-k by the FINAL total order (dot desc, neighbor_id
    asc — lexsort, so int64 ties break identically). Local top-k by the
    final order is a proven superset of the global top-k (if k batch rows
    beat a row locally they beat it globally), so the closing window over
    ~k·|queries| rows per batch is bit-identical to a window over every
    pair."""
    q = quantized_df(embs)
    qids, qmat = _driver_matrix(
        _query_set(q, every), QUERY_CAP,
        f"topk_quantized: query set exceeds {QUERY_CAP} rows; "
        "use the bucketed ANN family for dense query sides",
    )

    out_schema = T.StructType([
        T.StructField("query_id", T.LongType()),
        T.StructField("neighbor_id", T.LongType()),
        T.StructField("dot_q", T.LongType()),
    ])

    def score(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if len(pdf) == 0 or len(qids) == 0:  # no queries: no rows
                continue
            ids, m = _id_matrix(pdf)
            dots = exact_gemm(qmat, m.T)  # (Q, B)
            out_q, out_n, out_d = [], [], []
            for qi in range(len(qids)):
                keep = ids != qids[qi]
                cids, cdots = ids[keep], dots[qi][keep]
                order = np.lexsort((cids, -cdots))[:k]
                out_q.append(np.full(len(order), qids[qi], dtype=np.int64))
                out_n.append(cids[order])
                out_d.append(cdots[order])
            yield pd.DataFrame({
                "query_id": np.concatenate(out_q),
                "neighbor_id": np.concatenate(out_n),
                "dot_q": np.concatenate(out_d),
            })

    return _rank_per_query(q.mapInPandas(score, out_schema), k, "dot_q")


def exact_cosine_gt_candidates(
    embs: DataFrame, k: int = 10, every: int = 50,
) -> DataFrame:
    """(query_id, neighbor_id, dot, norm_a, norm_b): a PROVEN superset of
    each query's top-k by the final order ``round(cos, 6) desc,
    neighbor_id asc`` — one ``exact_gemm`` per Arrow batch against the
    collected query matrix, cut per query by ``cos_cut`` (the query itself
    excluded first). A batch's top-k covers its share of the global top-k,
    so the cut is lossless. dot/norms are exact int64 (identical to the
    SQL aggregates); ``cosine_topk`` derives cos with ``cos_q_col`` and
    runs the exact global window, so the final rows are bit-identical."""
    q = quantized_df(embs)
    qids, qmat = _driver_matrix(
        _query_set(q, every), QUERY_CAP,
        f"exact_cosine_gt_candidates: query set exceeds {QUERY_CAP} "
        "rows; the GT leg is an offline eval on a bounded query sample",
    )
    qnorm = (qmat * qmat).sum(axis=1)

    out_schema = T.StructType([
        T.StructField("query_id", T.LongType()),
        T.StructField("neighbor_id", T.LongType()),
        T.StructField("dot", T.LongType()),
        T.StructField("norm_a", T.LongType()),
        T.StructField("norm_b", T.LongType()),
    ])

    def score(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if len(pdf) == 0 or len(qids) == 0:  # no queries: no rows
                continue
            ids, m = _id_matrix(pdf)
            bnorm = (m * m).sum(axis=1)
            dots = exact_gemm(qmat, m.T)  # (Q, B)
            cos = cos_np(dots, qnorm, bnorm)
            self_pair = qids[:, None] == ids[None, :]
            cos[self_pair] = -np.inf  # never a neighbor, never a cut rank
            qi, j = np.nonzero(cos_cut(cos, k) & ~self_pair)
            yield pd.DataFrame({
                "query_id": qids[qi], "neighbor_id": ids[j], "dot": dots[qi, j],
                "norm_a": qnorm[qi], "norm_b": bnorm[j],
            })

    return q.mapInPandas(score, out_schema)


def cosine_topk(embs: DataFrame, k: int = 10, every: int = 50) -> DataFrame:
    """(query_id, neighbor_id, rank, cos): exact top-k by the round-6
    quantized cosine — the recall ground truth of the bucketed families
    (lsh/ivf/pq) and the baseline they are measured against, not a
    corpus-scale plan. ``exact_cosine_gt_candidates`` keeps a proven
    superset of each query's top-k; ``cos_q_col`` and the shared ranker
    then select exactly the rows a window over every pair would."""
    cand = exact_cosine_gt_candidates(embs, k=k, every=every)
    return _rank_per_query(
        cand.withColumn("cos", cos_q_col("dot", "norm_a", "norm_b")), k, "cos"
    )


def _with_norm(q: DataFrame) -> DataFrame:
    return q.withColumn("norm", sq_norm_col("qv"))


def _ivf_route(
    qn: DataFrame, every: int, centroid_every: int, nprobe: int
) -> tuple[DataFrame, DataFrame]:
    """IVF coarse routing shared by ``ivf_topk`` / ``ivfpq_topk``: returns
    ``(assign, qprobe)`` — the nearest-centroid cell of every corpus vector
    (``vec_id, cent_id``) and the ``nprobe`` probed cells of every query
    (``query_id, cent_id``)."""
    # centroid scoring: collect the (bounded) centroid table once and run
    # one ``exact_gemm`` per Arrow batch — the faiss-style IVF build. Each
    # vector emits only ``cos_cut``'s superset of its winners (its nprobe
    # best cells for a query, its best cell otherwise); cos + round happen
    # Spark-side so the rounding mode matches every other oracle-checked
    # query, and the max_by/window below make the exact selection.
    cent_ids, cmat = _driver_matrix(
        qn.filter(F.col("vec_id") % centroid_every == 0), CENTROID_CAP,
        f"ivf_topk: centroid set exceeds {CENTROID_CAP}; swap the sampled "
        "centroids for trained fixed-size ones at this scale",
    )
    cnorms = (cmat * cmat).sum(axis=1)

    score_schema = T.StructType([
        T.StructField("vec_id", T.LongType()),
        T.StructField("cent_id", T.LongType()),
        T.StructField("dotc", T.LongType()),
        T.StructField("norm", T.LongType()),
        T.StructField("cnorm", T.LongType()),
    ])

    def _score(batches):
        for pdf in batches:
            if len(pdf) == 0 or len(cent_ids) == 0:  # no cells: no routes
                continue
            ids, m = _id_matrix(pdf)
            dots = exact_gemm(m, cmat.T)  # (B, C)
            norms = pdf["norm"].to_numpy(dtype=np.int64)
            t = np.where(ids % every == 0, nprobe, 1)
            row, col = np.nonzero(cos_cut(cos_np(dots, norms, cnorms), t))
            yield pd.DataFrame({
                "vec_id": ids[row],
                "cent_id": cent_ids[col],
                "dotc": dots[row, col],
                "norm": norms[row],
                "cnorm": cnorms[col],
            })

    scored = (
        qn.select("vec_id", "qv", "norm").mapInPandas(_score, score_schema)
        .withColumn("cosc", cos_q_col("dotc", "norm", "cnorm"))
        .select("vec_id", "cent_id", "cosc")
    )
    # nearest centroid per vector; ties broken to the smallest cent_id
    assign = scored.groupBy("vec_id").agg(
        F.max_by("cent_id", F.struct(F.col("cosc"), (-F.col("cent_id")).alias("_n"))).alias("cent_id")
    )
    wq = Window.partitionBy("vec_id").orderBy(F.col("cosc").desc(), F.col("cent_id").asc())
    qprobe = (
        scored.filter(F.col("vec_id") % every == 0)
        .withColumn("_rn", F.row_number().over(wq))
        .filter(F.col("_rn") <= nprobe)
        .select(F.col("vec_id").alias("query_id"), "cent_id")
    )
    return assign, qprobe


def ivf_topk(
    embs: DataFrame,
    k: int = 10,
    every: int = 50,
    centroid_every: int = 40,
    nprobe: int = 4,
) -> DataFrame:
    """IVF (inverted-file) ANN: coarse-quantize the corpus into cells, score
    each query only against its ``nprobe`` nearest cells' vectors.

    Centroids are a deterministic 1/``centroid_every`` sample of the corpus
    itself (no iterative k-means — a fixed, oracle-reproducible coarse
    quantizer). Build: one broadcast of the centroid table, map-side scoring,
    ``max_by`` assignment (partial-aggregated, so the pre-shuffle width is one
    row per vector). Read: queries probe their nprobe nearest cells and
    equi-join the cell's inverted list — shuffle bounded by cell sizes, never
    all-pairs. Recall < 1 when a true neighbor's cell isn't probed (the IVF
    contract); the output itself is deterministic, so the gate oracle mirrors
    it exactly (quantized integer dots, round-6 cosine, id tie-breaks).

    At 10^12 rows: |C| = N/centroid_every overflows a broadcast — swap the
    sampled centroids for trained ones (fixed |C| ~ sqrt(N)) and the same
    plan holds; nothing else changes shape.
    """
    qn = _with_norm(quantized_df(embs))
    assign, qprobe = _ivf_route(qn, every, centroid_every, nprobe)
    nbrs = assign.join(qn, "vec_id").select(
        F.col("vec_id").alias("neighbor_id"), "cent_id",
        F.col("qv").alias("qb"), F.col("norm").alias("norm_b"),
    )
    qvecs = qn.select(
        F.col("vec_id").alias("query_id"), F.col("qv").alias("qa"),
        F.col("norm").alias("norm_a"),
    )
    pairs = (
        F.broadcast(qprobe.join(qvecs, "query_id")).join(nbrs, "cent_id")
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .withColumn("dot", int_dot_col("qa", "qb"))
        .withColumn("cos_q", cos_q_col("dot", "norm_a", "norm_b"))
    )
    return _rank_per_query(pairs, k, "cos_q")


N_PLANES = 12  # 4096 buckets


def lsh_bucketed_topk(
    embs: DataFrame, k: int = 10, every: int = 50, dim: int = 64,
) -> DataFrame:
    """Hyperplane-LSH bucketed ANN — the 10^12-row path, and oracle-checkable.

    The planes are the DETERMINISTIC integer hyperplanes shared with
    ``dedup.embedding_lsh_dups`` (round-2 they were fixed-seed numpy
    normals, which no SQL oracle could mirror; round-3 finding closed).
    Buckets are exact int64 arithmetic, so DuckDB reproduces them
    bit-for-bit; the oracle mirrors the SAME candidate rule (bucket
    hamming <= 1), not exact kNN, so recall<1 does not break the gate.

    Scale shape: corpus bucketed once (one narrow pass), queries (1/every
    of the corpus) explode 13 probes (own bucket + hamming-1 neighbors),
    candidates by bucket equi-join — shuffle bounded by bucket sizes,
    never all-pairs. Ranking = exact quantized cosine (int dot / sqrt of
    int norms, round 6) over candidates only. A (query, neighbor) pair
    matches via exactly one probe (mask = xor of buckets), so no dedup
    pass is needed."""
    bucketize = embedding_bucket_udf(dim, N_PLANES)
    qn = (
        _with_norm(quantized_df(embs))
        .withColumn("bucket", bucketize(F.col("qv")))
    )
    corpus = qn.select(
        F.col("vec_id").alias("neighbor_id"), F.col("qv").alias("qb"),
        F.col("norm").alias("nb"), "bucket",
    )
    queries = _query_set(qn, every).select(
        F.col("vec_id").alias("query_id"), F.col("qv").alias("qa"),
        F.col("norm").alias("na"), F.col("bucket").alias("qbucket"),
    )
    probes = F.array(
        F.col("qbucket"),
        *[F.col("qbucket").bitwiseXOR(F.lit(1 << i)) for i in range(N_PLANES)],
    )
    qprobed = queries.select(
        "query_id", "qa", "na", F.explode(probes).alias("bucket")
    )
    pairs = (
        qprobed.join(corpus, "bucket")
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .withColumn("dot", int_dot_udf(F.col("qa"), F.col("qb")))
        .withColumn("cos_q", cos_q_col("dot", "na", "nb"))
    )
    return _rank_per_query(pairs, k, "cos_q")


# --- product quantization (PQ / ADC) ----------------------------------------
#
# The third ANN family next to IVF and hyperplane LSH: compress each vector
# to M=8 6-bit codes (one per 8-dim subspace, K=64 centroids each) and score
# queries against the compressed corpus with an asymmetric-distance lookup
# table — faiss's PQ/ADC shape. The codebook is "trained" the deterministic
# way the IVF centroids are: per subspace, the subvectors of a fixed corpus
# sample (a synthetic LCG lattice measured 12% recall vs exact L2 — off the
# data manifold; the sampled codebook measures ~5x better on the fixture).
# Everything is exact int64 arithmetic, so the DuckDB oracle mirrors the
# sample, the encode, the LUT and the ranking bit-for-bit.

PQ_M, PQ_DSUB, PQ_K = 8, 8, 64  # M * DSUB == dim; 8x6-bit codes pack in a long
PQ_SAMPLE_MOD = 3               # codebook sample: vec_id % MOD == 1, first K


def _pq_codebook_from(sample: np.ndarray) -> np.ndarray:
    """(M, K, DSUB) centroids: subvectors of the K sampled corpus rows."""
    k = sample.shape[0]
    return sample.reshape(k, PQ_M, PQ_DSUB).transpose(1, 0, 2).copy()


def _pq_sample(q: DataFrame, col: str = "qv") -> np.ndarray:
    rows = (  # bound: PQ_K rows (the limit)
        q.filter(F.col("vec_id") % PQ_SAMPLE_MOD == 1)
        .orderBy("vec_id").limit(PQ_K).select("vec_id", col).collect()
    )
    if len(rows) < 2:
        raise ValueError("pq_topk: corpus too small to sample a codebook")
    return np.array([r[col] for r in rows], dtype=np.int64)


def _pq_d2_batch(x: np.ndarray, cb: np.ndarray) -> np.ndarray:
    """(B, 64) int64 vectors -> (B, M, K) exact squared subdistances.

    ||x - c||^2 expanded as ||x||^2 + ||c||^2 - 2 x.c with the cross term
    one ``exact_gemm`` per subspace, so a coordinate at or above 2^20
    raises instead of rounding. (The former broadcast-subtract formulation
    allocated B x K x DSUB temporaries — memory traffic, not arithmetic,
    dominated its cost.)"""
    sub = x.reshape(len(x), PQ_M, PQ_DSUB)                   # (B, M, D)
    cross = np.stack(
        [exact_gemm(sub[:, m], cb[m].T) for m in range(PQ_M)], axis=1
    )                                                        # (B, M, K)
    xn = (sub * sub).sum(-1)                                 # (B, M)
    cn = (cb * cb).sum(-1)                                   # (M, K)
    return xn[:, :, None] + cn[None, :, :] - 2 * cross


def _pq_pack(d2: np.ndarray) -> np.ndarray:
    """(B, M, K) subdistances -> (B,) packed 6-bit codes (argmin per
    subspace; numpy argmin takes the first occurrence on ties — the
    smallest code, matching the SQL oracle's arg_min tie rule)."""
    codes = d2.argmin(axis=2)                                # (B, M)
    packed = np.zeros(d2.shape[0], dtype=np.int64)
    for m in range(PQ_M):
        packed |= codes[:, m].astype(np.int64) << (6 * m)
    return packed


def pq_udf(cb: np.ndarray, lut: bool):
    """The one Arrow kernel of the PQ family, called on ``qv`` or on
    ``(qv, cv)``: stack the vectors, subtract the centroid column when
    given (the residual legs — exact int64, fused here instead of a
    zip_with projection, whose lambda is interpreted expression-eval),
    take the exact subdistances, then pack the 8 codes into a long
    (encode) or flatten the (M*K) table (``lut``, the ADC lookup table)."""

    def batch(qv: pd.Series, *cv: pd.Series) -> pd.Series:
        if len(qv) == 0:
            return pd.Series([], dtype="object" if lut else "int64")
        x = np.stack(qv.to_numpy()).astype(np.int64)  # (B, 64)
        if cv:
            x = x - np.stack(cv[0].to_numpy()).astype(np.int64)
        d2 = _pq_d2_batch(x, cb)
        if lut:
            return pd.Series(list(d2.reshape(len(x), PQ_M * cb.shape[1])))
        return pd.Series(_pq_pack(d2), dtype="int64")

    batch.__name__ = "lut" if lut else "encode"  # the UDF's name in plans
    return F.pandas_udf(batch, T.ArrayType(T.LongType()) if lut else T.LongType())


def _adc_expr(n_codes: int):
    """ADC distance as a pure JVM expression over (``pqcode``, ``lut``):
    unpack the m-th 6-bit code from the packed long, look the subdistance up
    in the query's flattened LUT, sum the M terms."""
    adist = None
    for m in range(PQ_M):
        code_m = F.shiftright(F.col("pqcode"), 6 * m).bitwiseAND(F.lit(63))
        term = F.element_at(
            F.col("lut"), (code_m + F.lit(m * n_codes) + F.lit(1)).cast("int")
        )
        adist = term if adist is None else adist + term
    return adist


def pq_topk(embs: DataFrame, k: int = 10, every: int = 50) -> DataFrame:
    """(query_id, neighbor_id, rank, adist): ADC top-k over the PQ-compressed
    corpus. The corpus carries ONE long per vector (8 packed 6-bit codes);
    scoring is a pure JVM expression — 8 array lookups + adds per pair, no
    Python and no arrays on the corpus side of the join. At 10^12 rows this
    is the memory-bound shape PQ exists for: 8 bytes/vector instead of 512."""
    q = quantized_df(embs)
    cb = _pq_codebook_from(_pq_sample(q))
    corpus = q.select(
        F.col("vec_id").alias("neighbor_id"),
        pq_udf(cb, lut=False)(F.col("qv")).alias("pqcode"),
    )
    queries = _query_set(q, every).select(
        F.col("vec_id").alias("query_id"),
        pq_udf(cb, lut=True)(F.col("qv")).alias("lut"),
    )
    pairs = corpus.join(
        F.broadcast(queries), F.col("query_id") != F.col("neighbor_id")
    ).withColumn("adist", _adc_expr(cb.shape[1]))
    return _rank_per_query(pairs, k, "adist", desc=False)


def ivfpq_topk(
    embs: DataFrame,
    k: int = 10,
    every: int = 50,
    centroid_every: int = 40,
    nprobe: int = 4,
) -> DataFrame:
    """IVF routing + PQ/ADC scoring — the faiss-``IVFPQ`` composition, the
    shape production vector stores actually deploy: the coarse quantizer
    bounds WHICH vectors each query touches (nprobe inverted lists instead
    of the whole corpus), PQ bounds WHAT each touch costs (one packed long
    per corpus vector — 8 bytes instead of 512 — and 8 LUT adds per pair).

    ``pq_topk`` alone still scans every code per query (compute-bound);
    ``ivf_topk`` alone carries full vectors into the probed cells
    (memory-bound). This composition is sub-linear in BOTH: at 10^12 rows a
    query touches ~nprobe/|C| of the corpus at 8 bytes per touched vector.
    Codes are encoded on the RAW vectors (no residual subtraction), so the
    ADC distances are bit-identical to ``pq_topk``'s on the shared pairs and
    the DuckDB oracle mirrors routing and scoring exactly; classic IVFPQ
    residual encoding would improve recall but put float k-means between the
    engine and the oracle. Recall < 1 only via the routing contract (as
    ``ivf_topk``) and code quantization (as ``pq_topk``) — both measured by
    the companion recall eval; the output itself is fully deterministic.
    """
    q = quantized_df(embs)
    assign, qprobe = _ivf_route(_with_norm(q), every, centroid_every, nprobe)
    cb = _pq_codebook_from(_pq_sample(q))
    corpus = q.select(
        F.col("vec_id").alias("neighbor_id"),
        pq_udf(cb, lut=False)(F.col("qv")).alias("pqcode"),
    ).join(assign.withColumnRenamed("vec_id", "neighbor_id"), "neighbor_id")
    queries = _query_set(q, every).select(
        F.col("vec_id").alias("query_id"),
        pq_udf(cb, lut=True)(F.col("qv")).alias("lut"),
    )
    # qprobe×queries is (|Q| * nprobe) rows — broadcast; the corpus side
    # streams through the equi-join on cent_id, so each corpus code is read
    # once and only probed cells produce pairs (never all-pairs).
    pairs = (
        F.broadcast(qprobe.join(queries, "query_id")).join(corpus, "cent_id")
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .withColumn("adist", _adc_expr(cb.shape[1]))
    )
    return _rank_per_query(pairs, k, "adist", desc=False)


def ivfpq_residual_topk(
    embs: DataFrame,
    k: int = 10,
    every: int = 50,
    centroid_every: int = 40,
    nprobe: int = 4,
) -> DataFrame:
    """Residual-encoded IVFPQ — faiss's actual IVFPQ: PQ codes quantize
    ``vector - assigned_centroid`` instead of the raw vector, and each
    query builds one ADC lookup table PER PROBED CELL from its own residual
    against that cell's centroid. Residuals concentrate around the origin,
    so the same codebook budget quantizes them with less error than raw
    vectors — measured at gate scale this lifts recall@10 from
    ``ivfpq_topk``'s code-quantization ceiling (see FIXTURES.md).

    Everything stays EXACT int64 — residuals of integer-quantized vectors
    against integer sampled centroids are integers, so unlike float-k-means
    residual training the DuckDB oracle mirrors routing, residual encode,
    per-cell LUTs and ranking bit-for-bit. Scale shape is ``ivfpq_topk``'s
    plus one broadcast of the (bounded) centroid-vector table on each side:
    corpus codes are still one packed long per vector, queries still carry
    nprobe LUT rows, pairs still form only inside probed cells.
    """
    q = quantized_df(embs)
    qn = _with_norm(q)
    assign, qprobe = _ivf_route(qn, every, centroid_every, nprobe)
    cents = qn.filter(F.col("vec_id") % centroid_every == 0).select(
        F.col("vec_id").alias("cent_id"), F.col("qv").alias("cv")
    )
    assigned = q.join(assign, "vec_id").join(F.broadcast(cents), "cent_id")
    # the codebook sample leg still evaluates the residual as a projection
    # (only the ~PQ_K sampled rows reach it); the corpus/query encodes
    # subtract INSIDE the Arrow kernel instead (``pq_udf`` on (qv, cv)) —
    # the zip_with lambda is interpreted expression-eval and was evaluated
    # once per corpus row
    res = assigned.withColumn(
        "rv", F.zip_with("qv", "cv", lambda a, b: a - b)
    ).select("vec_id", "cent_id", "rv")
    cb = _pq_codebook_from(_pq_sample(res, col="rv"))
    corpus = assigned.select(
        F.col("vec_id").alias("neighbor_id"), "cent_id",
        pq_udf(cb, lut=False)(F.col("qv"), F.col("cv")).alias("pqcode"),
    )
    qres = (
        qprobe.join(
            q.select(F.col("vec_id").alias("query_id"), F.col("qv").alias("qa")),
            "query_id",
        )
        .join(F.broadcast(cents), "cent_id")
        .select(
            "query_id", "cent_id",
            pq_udf(cb, lut=True)(F.col("qa"), F.col("cv")).alias("lut"),
        )
    )
    pairs = (
        F.broadcast(qres).join(corpus, "cent_id")
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .withColumn("adist", _adc_expr(cb.shape[1]))
    )
    return _rank_per_query(pairs, k, "adist", desc=False)
