from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from tree_sitter_codeviews_spark.operators import ann, dedup, textstats
from tree_sitter_codeviews_spark.sources.testdata import load_table
from tests import reference_impl


def test_lsh_precision_and_high_jaccard_recall(spark, sf_tiny):
    """LSH output ⊆ exact pairs (precision exact); pairs with very high
    jaccard are always caught (signatures nearly identical)."""
    docs = load_table(spark, sf_tiny, "documents")
    exact = {
        (r.doc_id_a, r.doc_id_b): r.jaccard
        for r in dedup.jaccard_pairs_exact(docs, threshold=0.5).collect()
    }
    lsh = {
        (r.doc_id_a, r.doc_id_b): r.jaccard
        for r in dedup.minhash_lsh_dups(docs, threshold=0.5).collect()
    }
    assert set(lsh) <= set(exact)
    for k, v in lsh.items():
        assert v == exact[k]
    high = {k for k, v in exact.items() if v >= 0.9}
    assert high <= set(lsh), f"missed high-jaccard pairs: {high - set(lsh)}"
    # sanity: the corpus does contain near-dups worth catching
    assert len(exact) > 0


def test_simhash_blocking_is_complete(spark, sf_tiny):
    """Pigeonhole check: banded blocking finds exactly the pairs a brute-force
    hamming join finds (hamming <= 3 over 64 bits => some 16-bit band equal)."""
    docs = load_table(spark, sf_tiny, "documents").limit(200)
    sims = dedup.simhash_df(docs)
    blocked = {
        (r.doc_id_a, r.doc_id_b, r.hamming)
        for r in dedup.simhash_near_dups(docs, max_hamming=3).collect()
    }
    a = sims.select(F.col("doc_id").alias("da"), F.col("simhash").alias("sa"))
    b = sims.select(F.col("doc_id").alias("db"), F.col("simhash").alias("sb"))
    brute = {
        (r.da, r.db, r.h)
        for r in a.crossJoin(b)
        .filter(F.col("da") < F.col("db"))
        .withColumn("h", F.bit_count(F.col("sa").bitwiseXOR(F.col("sb"))))
        .filter(F.col("h") <= 3)
        .collect()
    }
    assert blocked == brute


def test_simhash_detects_reordered_tokens_differently(spark, sf_tiny):
    # simhash is order-insensitive over the token multiset: same tokens
    # reordered -> identical simhash (sum of per-token contributions)
    df = spark.createDataFrame(
        [(1, "alpha beta gamma delta"), (2, "delta gamma beta alpha"), (3, "zeta eta theta iota")],
        "doc_id long, text string",
    )
    rows = {r.doc_id: r.simhash for r in dedup.simhash_df(df).collect()}
    assert rows[1] == rows[2]
    assert rows[1] != rows[3]


def test_fingerprint_matches_python(spark, sf_tiny):
    docs = load_table(spark, sf_tiny, "documents").limit(50)
    got = {r.doc_id: r.fingerprint for r in textstats.fingerprints(docs).collect()}
    for r in docs.select("doc_id", "text").collect():
        assert got[r.doc_id] == reference_impl.fingerprint_py(r.text)
    # order sensitivity (unlike simhash)
    df = spark.createDataFrame(
        [(1, "alpha beta"), (2, "beta alpha")], "doc_id long, text string"
    )
    fps = {r.doc_id: r.fingerprint for r in textstats.fingerprints(df).collect()}
    assert fps[1] != fps[2]


@pytest.mark.parametrize("by_doc", [True, False])
def test_tokens_df_matches_reference(spark, by_doc):
    """The one token and n-gram build against its Python reference for
    n = 1..4: shingles padded to NULL at the doc's end, an empty token, an
    empty text and a NULL text; the other columns of ``docs`` ride along."""
    texts = ["", "a", "a b", "a  b", "a b c d e f", None]
    df = spark.createDataFrame(
        [(i, t, f"x{i}") for i, t in enumerate(texts)],
        "doc_id long, text string, tag string",
    )
    for n in range(1, 5):
        built = dedup.tokens_df(df, n, by_doc=by_doc)
        assert built.columns == ["doc_id", "tag", "pos", "tok", "shingle"]
        want = sorted(
            (i, f"x{i}", *row)
            for i, t in enumerate(texts) for row in reference_impl.tokens_py(t, n)
        )
        assert sorted(tuple(r) for r in built.collect()) == want, n


def test_lsh_bucketed_topk_runs(spark, sf_tiny):
    embs = load_table(spark, sf_tiny, "embeddings")
    out = ann.lsh_bucketed_topk(embs, k=5, every=100)
    pdf = out.toPandas()
    assert (pdf.groupby("query_id")["rank"].max() <= 5).all()
    assert len(pdf) > 0


def test_exact_dedup_finds_planted_dups(spark):
    df = spark.createDataFrame(
        [(1, "same text here"), (2, "same text here"), (3, "unique text")],
        "doc_id long, text string",
    )
    rows = {r.text_hash: (r.n_dups, r.keep_doc_id) for r in dedup.exact_dup_groups(df).collect()}
    assert sorted(v for v in rows.values()) == [(1, 3), (2, 1)]


def test_ivf_topk_recall_vs_brute_force(spark, sf_tiny):
    """IVF lists are the brute-force cosine top-k restricted to probed
    cells (the oracle proves that exactly); here: recall vs UNRESTRICTED
    brute force stays above a floor, and ranks are consecutive from 1."""
    embs = load_table(spark, sf_tiny, "embeddings")
    got = ann.ivf_topk(embs, k=10, every=50).toPandas()

    # consecutive ranks per query
    for _, g in got.groupby("query_id"):
        assert sorted(g["rank"]) == list(range(1, len(g) + 1))

    # brute-force cos_q top-k (same quantized metric, same tie-break)
    from tree_sitter_codeviews_spark.operators.dedup import quantize_col
    q = embs.select("vec_id", quantize_col(F.col("embedding")).alias("qv"))
    pdf = q.toPandas()
    ids = pdf["vec_id"].to_numpy()
    m = np.stack(pdf["qv"].to_numpy()).astype(np.float64)
    norms = (m * m).sum(axis=1)
    hits = tot = 0
    for qid in np.unique(got["query_id"]):
        qi = np.where(ids == qid)[0][0]
        cos = np.round((m @ m[qi]) / np.sqrt(norms * norms[qi]), 6)
        order = sorted(
            (i for i in range(len(ids)) if ids[i] != qid),
            key=lambda i: (-cos[i], ids[i]),
        )
        want = {ids[i] for i in order[:10]}
        have = set(got[got["query_id"] == qid]["neighbor_id"])
        hits += len(want & have)
        tot += len(want)
    assert tot > 0 and hits / tot >= 0.5, f"IVF recall {hits}/{tot}"


def test_embedding_bucket_udf_equals_column_expr(spark, sf_tiny):
    """The numpy GEMM bucketizer is bit-identical to the interpreted
    column-expression fold (exact int64 arithmetic both ways)."""
    embs = load_table(spark, sf_tiny, "embeddings")
    q = embs.select("vec_id", dedup.quantize_col(F.col("embedding")).alias("q"))
    both = q.select(
        "vec_id",
        reference_impl.embedding_bucket_col(F.col("q"), 64).alias("b_expr"),
        dedup.embedding_bucket_udf(64)(F.col("q")).alias("b_udf"),
    )
    assert both.filter(F.col("b_expr") != F.col("b_udf")).count() == 0
    assert both.count() > 0



def test_pq_topk_ranks_and_planted_structure(spark, sf_tiny):
    """PQ/ADC invariants on this fixture: (a) consecutive ranks; (b) a loose
    global recall floor vs exact L2 — the embeddings are near-isotropic, so
    distance concentration legitimately shuffles the noise-floor ordering
    (K=64 sampled codebook measures ~2x the synthetic-lattice recall);
    (c) the invariant that matters: every PLANTED near-dup pair (true
    structure far above the noise floor) appears in its partner's PQ top-k
    when every vector queries (every=1)."""
    embs = load_table(spark, sf_tiny, "embeddings")
    got = ann.pq_topk(embs, k=10, every=50).toPandas()
    for _, g in got.groupby("query_id"):
        assert sorted(g["rank"]) == list(range(1, len(g) + 1))

    from tree_sitter_codeviews_spark.operators.dedup import quantize_col
    pdf = embs.select(
        "vec_id", quantize_col(F.col("embedding")).alias("qv")
    ).toPandas()
    ids = pdf["vec_id"].to_numpy()
    m = np.stack(pdf["qv"].to_numpy()).astype(np.int64)
    hits = tot = 0
    for qid in np.unique(got["query_id"]):
        qi = np.where(ids == qid)[0][0]
        d2 = ((m - m[qi]) ** 2).sum(axis=1)
        order = sorted(
            (i for i in range(len(ids)) if ids[i] != qid),
            key=lambda i: (d2[i], ids[i]),
        )
        want = {ids[i] for i in order[:10]}
        have = set(got[got["query_id"] == qid]["neighbor_id"])
        hits += len(want & have)
        tot += len(want)
    assert tot > 0 and hits / tot >= 0.15, f"PQ recall {hits}/{tot}"

    planted = dedup.embedding_near_dups(embs, threshold=0.45).collect()
    assert planted
    all_q = ann.pq_topk(embs, k=10, every=1).toPandas()
    top = {}
    for qid, g in all_q.groupby("query_id"):
        top[qid] = set(g["neighbor_id"])
    for r in planted:
        assert (r.vec_id_b in top[r.vec_id_a]) or (r.vec_id_a in top[r.vec_id_b]), (
            f"planted pair ({r.vec_id_a},{r.vec_id_b}) cos={r.cos_q} "
            "missing from both PQ top-10 lists"
        )


def test_ann_recall_eval_bounds_and_consistency(spark, sf_tiny):
    """recall_ppm in [0, 1e6], k_eval == 10 per query, and n_hits equals an
    independent set-intersection of the two arms' outputs."""
    from tree_sitter_codeviews_spark import queries
    from tree_sitter_codeviews_spark.operators import ann
    from tree_sitter_codeviews_spark.sources.testdata import load_table

    rows = queries.ann_recall_eval(spark, sf_tiny).collect()
    assert rows and all(r["k_eval"] == 10 for r in rows)
    assert all(0 <= r["recall_ppm"] <= 1_000_000 for r in rows)
    lsh = {
        (r["query_id"], r["neighbor_id"])
        for r in ann.lsh_bucketed_topk(
            load_table(spark, sf_tiny, "embeddings"), k=10, every=50
        ).collect()
    }
    for r in rows:
        gt_hits = sum(1 for (q_, n_) in lsh if q_ == r["query_id"])
        assert r["n_hits"] <= min(10, gt_hits + 10)  # sanity envelope
    # the eval is informative: not all queries at 100% recall or all at 0
    vals = {r["recall_ppm"] for r in rows}
    assert len(vals) >= 1 and max(vals) > 0


# --- recall / calibration FLOORS (VERDICT r4 next-round #4) -------------------
#
# Pin the measured recall of every bucketed ANN family and the MinHash
# estimator error at gate scale (sf0.01) so a band-count / plane-count /
# nprobe change that silently degrades recall FAILS CI instead of passing
# the rows-only gate. All inputs and arithmetic are deterministic (fixed
# testdata, integer dots, md5-salted hashes), so the measured values are
# exactly reproducible; floors sit just under them.
#
# Corpus context for the absolute numbers: the synthetic embeddings are
# near-uniform random directions, so true top-10 neighbors sit at cosine
# ~0.5 (theta ~ 60 deg). Single-table hamming<=1 hyperplane LSH is
# theory-bounded there (per-plane agreement p = 1 - theta/pi ~ 2/3, so
# P(candidate) ~ p^12 + 12 p^11 (1-p) ~ 0.05); its measured 0.16 is the
# honest number for this regime, and its role in the registry is
# recall-by-contract with this eval as the companion. IVF probes by actual
# coarse distance, so it is the high-recall production path: the
# recall-vs-nprobe curve below clears 0.95 at nprobe=12.


def _exact_gt_pairs(spark, sf_dir, k=10, every=50):
    """(query_id, neighbor_id, rank, cos_q): exact quantized-cosine top-k
    ground truth as an all-pairs crossJoin (same arithmetic as
    ``ann.cosine_topk``): offline eval on the query sample only."""
    from pyspark.sql import Window

    from tree_sitter_codeviews_spark.operators.dedup import quantize_col

    embs = load_table(spark, sf_dir, "embeddings")
    qn = (
        embs.select("vec_id", quantize_col(F.col("embedding")).alias("qv"))
        .withColumn(
            "norm",
            F.aggregate(F.transform("qv", lambda x: x * x),
                        F.lit(0).cast("long"), lambda a, v: a + v),
        )
    )
    a = qn.filter(F.col("vec_id") % every == 0).select(
        F.col("vec_id").alias("query_id"), F.col("qv").alias("qa"),
        F.col("norm").alias("na"),
    )
    b = qn.select(
        F.col("vec_id").alias("neighbor_id"), F.col("qv").alias("qb"),
        F.col("norm").alias("nb"),
    )
    dot = F.aggregate(F.zip_with("qa", "qb", lambda x, y: x * y),
                      F.lit(0).cast("long"), lambda acc, v: acc + v)
    cos = F.round(
        F.col("dot").cast("double")
        / F.sqrt(F.col("na").cast("double") * F.col("nb").cast("double")), 6
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cos_q").desc(), F.col("neighbor_id").asc()
    )
    return (
        a.crossJoin(b)
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .withColumn("dot", dot)
        .withColumn("cos_q", cos)
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "rank", "cos_q")
    )


def test_cosine_topk_equals_crossjoin_reference(spark, sf_tiny):
    """The GEMM candidate cut plus the shared ranker select exactly the
    all-pairs crossJoin's rows — rank and the round-6 cosine included."""
    embs = load_table(spark, sf_tiny, "embeddings")
    got = {tuple(r) for r in ann.cosine_topk(embs, k=5, every=100).collect()}
    want = {tuple(r) for r in _exact_gt_pairs(spark, sf_tiny, k=5, every=100).collect()}
    assert got == want
    assert got


def test_ann_recall_floors_at_gate_scale(spark, sf_small):
    """Recall@10 floors per ANN family at sf0.01 (measured r5:
    lsh 0.16, pq 0.27, ivf 0.67/0.87/0.98 at nprobe 4/8/12,
    ivfpq 0.26/0.25/0.27 at nprobe 4/8/12 — code quantization, not
    routing, is IVFPQ's recall ceiling on this near-uniform corpus, so
    no monotone-in-nprobe assertion for it)."""
    embs = load_table(spark, sf_small, "embeddings")
    gt = {(r["query_id"], r["neighbor_id"])
          for r in _exact_gt_pairs(spark, sf_small).collect()}
    assert len(gt) == 100  # 10 queries x k=10

    def recall(df):
        got = {(r["query_id"], r["neighbor_id"])
               for r in df.select("query_id", "neighbor_id").collect()}
        return len(gt & got) / len(gt)

    # production-default gate rows
    assert recall(ann.lsh_bucketed_topk(embs, k=10, every=50)) >= 0.15
    assert recall(ann.pq_topk(embs, k=10, every=50)) >= 0.20
    assert recall(ann.ivfpq_topk(embs, k=10, every=50)) >= 0.20
    # residual encoding lifts the code-quantization ceiling (measured r5:
    # 0.31 vs 0.26 raw-code at the default nprobe)
    assert recall(ann.ivfpq_residual_topk(embs, k=10, every=50)) >= 0.25
    r4 = recall(ann.ivf_topk(embs, k=10, every=50, nprobe=4))
    assert r4 >= 0.60
    # the nprobe knob buys recall monotonically and clears 0.95 well
    # before a full scan (~12 sampled cells at this scale)
    r8 = recall(ann.ivf_topk(embs, k=10, every=50, nprobe=8))
    r12 = recall(ann.ivf_topk(embs, k=10, every=50, nprobe=12))
    assert r8 >= 0.80 and r12 >= 0.95
    assert r4 <= r8 <= r12


def test_minhash_calibration_error_floor_at_gate_scale(spark, sf_small):
    """MinHash 64-coordinate estimator error vs exact Jaccard at sf0.01
    (measured r5: max 38,109 ppm, mean 11,641 ppm over 25 pairs; the
    binomial 1-sigma at J=0.5 is 62,500 ppm, so these bounds have slack
    only against fixture drift, not against a broken estimator)."""
    from tree_sitter_codeviews_spark import queries

    rows = queries.dedup_minhash_calibration(spark, sf_small).collect()
    assert len(rows) >= 20  # pair population non-vacuous
    errs = [abs(r["est_ppm"] - r["jaccard_ppm"]) for r in rows]
    assert max(errs) <= 60_000
    assert sum(errs) / len(errs) <= 25_000


def test_split_leakage_audit_hand_computed(spark):
    """Two planted exact-dup pairs: (0,1) share host 0 (doc_id div 3), so
    the host-group split can NEVER straddle it; (3,30) sit on hosts 1 and
    10, so host-group CAN straddle. Expected straddle flags are recomputed
    independently here with hashlib md5 (the _uniform_col formula), so the
    test pins both the pair population and the split hashes."""
    import hashlib

    docs = spark.createDataFrame(
        [(0, "aa bb cc dd"), (1, "aa bb cc dd"),
         (3, "ee ff gg hh"), (30, "ee ff gg hh"),
         (7, "zz yy xx ww vv uu")],
        ["doc_id", "text"],
    )

    thr = (16 ** 7 * 10) // 100

    def u(salt: str, key: int) -> int:
        h = hashlib.md5(f"{salt}{key}".encode()).hexdigest()
        return int(h[:7], 16)

    def v_doc(d: int) -> bool:
        return u("split:", d) < thr

    def v_host(d: int) -> bool:
        return u("hsplit:", (d // 3) % 100) < thr

    exp_doc = sum(1 for a, b in [(0, 1), (3, 30)] if v_doc(a) != v_doc(b))
    exp_host = sum(1 for a, b in [(0, 1), (3, 30)] if v_host(a) != v_host(b))
    assert v_host(0) == v_host(1)  # same host -> can never straddle

    got = {r["policy"]: r for r in
           dedup.split_leakage_audit(docs).collect()}
    assert got["doc_hash"]["n_dup_pairs"] == 2
    assert got["host_group"]["n_dup_pairs"] == 2
    assert got["doc_hash"]["n_straddling_pairs"] == exp_doc
    assert got["host_group"]["n_straddling_pairs"] == exp_host


def test_dup_span_scrub_hand_computed(spark):
    """Shared 3-gram 'a b c' (df=2) covers exactly the token positions
    under its windows; unique docs pass through untouched and the
    reassembled text is position-ordered."""
    df = spark.createDataFrame(
        [(1, "a b c d e"), (2, "x a b c y"), (3, "q r s t u")],
        "doc_id long, text string",
    )
    got = {r.doc_id: (r.n_tokens, r.n_removed, r.clean_text)
           for r in dedup.dup_span_scrub(df, n=3).collect()}
    assert got == {1: (5, 3, "d e"), 2: (5, 3, "x y"),
                   3: (5, 0, "q r s t u")}


def test_dup_span_scrub_whole_doc_and_short_doc(spark):
    """Fully duplicated docs scrub to '' (the Lee et al. degenerate case);
    docs shorter than n have no n-grams and are never touched."""
    df = spark.createDataFrame(
        [(1, "a b c"), (2, "a b c"), (3, "z z")],
        "doc_id long, text string",
    )
    got = {r.doc_id: (r.n_tokens, r.n_removed, r.clean_text)
           for r in dedup.dup_span_scrub(df, n=3).collect()}
    assert got == {1: (3, 3, ""), 2: (3, 3, ""), 3: (2, 0, "z z")}


def test_bloom_prefilter_no_false_negatives(spark):
    """Every candidate that IS in the seen set must bloom-hit (Bloom
    filters cannot false-negative), so n_bloom_hit >= n_seen_exact."""
    cand = spark.createDataFrame(
        [("u1",), ("u2",), ("u3",), ("u4",)], ["url"])
    seen = spark.createDataFrame([("u1",), ("u3",), ("u9",)], ["url"])
    r = dedup.bloom_prefilter(cand, seen, m=65536, k=3).collect()[0]
    assert r.n_candidates == 4 and r.n_seen_exact == 2
    assert r.n_bloom_hit >= r.n_seen_exact


def test_bloom_prefilter_planted_false_positive(spark):
    """m=1 forces every position to collide: an unseen candidate still
    hits all k positions — the degenerate undersized filter, counted as
    a false positive with fp_ppm = 1e6."""
    cand = spark.createDataFrame([("new-url",)], ["url"])
    seen = spark.createDataFrame([("old-url",)], ["url"])
    r = dedup.bloom_prefilter(cand, seen, m=1, k=2).collect()[0]
    assert (r.n_bloom_hit, r.n_seen_exact, r.n_false_pos, r.fp_ppm) == (
        1, 0, 1, 1_000_000)


def test_countmin_never_underestimates(spark):
    """Count-min's defining property at a deliberately tiny width: every
    counter holds the true count plus non-negative collision mass."""
    df = spark.createDataFrame(
        [(1, "a b c d e a b c"), (2, "a b c x y z w"), (3, "p q r s t")],
        "doc_id long, text string",
    )
    rows = dedup.countmin_calibration(df, n=3, w=4, d=2, top=50).collect()
    assert len(rows) > 0
    assert all(r.est_cnt >= r.exact_cnt for r in rows)
    assert all(r.over_ppm >= 0 for r in rows)


def test_countmin_exact_at_collision_free_width(spark):
    """With width far above the distinct-shingle count, no collisions
    survive the min-over-rows and the sketch recovers exact counts."""
    df = spark.createDataFrame(
        [(1, "a b c d e"), (2, "a b c f g")],
        "doc_id long, text string",
    )
    rows = dedup.countmin_calibration(df, n=3, w=65536, d=3, top=50).collect()
    assert {(r.shingle, r.exact_cnt) for r in rows} == {
        ("a b c", 2), ("b c d", 1), ("c d e", 1), ("b c f", 1),
        ("c f g", 1)}
    assert all(r.est_cnt == r.exact_cnt and r.over_ppm == 0 for r in rows)


def test_cdc_identical_spans_chunk_identically(spark):
    """The CDC property: a long span shared by two docs at DIFFERENT
    offsets produces identical interior chunks (boundaries are functions
    of content, not position), so both docs report duplicated chunks —
    exactly what fixed-offset blocking would miss."""
    common = " ".join(f"w{i}" for i in range(60))
    df = spark.createDataFrame(
        [(1, common), (2, "off0 off1 off2 off3 off4 " + common)],
        "doc_id long, text string",
    )
    rows = {r.doc_id: r for r in
            dedup.cdc_chunk_stats(df, w=3, mod=4).collect()}
    assert rows[1].n_dup_chunks >= 1 and rows[2].n_dup_chunks >= 1


def test_cdc_unique_and_short_docs(spark):
    """Disjoint-vocabulary docs share no chunks; a doc shorter than the
    window has no boundaries and is exactly one (unique) chunk."""
    df = spark.createDataFrame(
        [(1, " ".join(f"a{i}" for i in range(30))),
         (2, " ".join(f"b{i}" for i in range(30))),
         (3, "x y")],
        "doc_id long, text string",
    )
    rows = {r.doc_id: r for r in
            dedup.cdc_chunk_stats(df, w=3, mod=4).collect()}
    assert all(r.n_dup_chunks == 0 and r.dup_chunk_ppm == 0
               for r in rows.values())
    assert rows[3].n_chunks == 1


@pytest.fixture(scope="module")
def sf_zero_norm(sf_tiny, tmp_path_factory):
    """``sf_tiny``'s embeddings plus one all-zero vector at vec_id 600: a
    query (600 % 50 == 0) and an IVF centroid (600 % 40 == 0), so its
    0/0 cosine reaches every leg as a query, a neighbor and a centroid."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    t = pq.read_table(f"{sf_tiny}/embeddings.parquet")
    zero = pa.table({
        "vec_id": pa.array([600], t.schema.field("vec_id").type),
        "embedding": pa.array([[0.0] * 64], t.schema.field("embedding").type),
        "label": pa.array([0], t.schema.field("label").type),
    })
    out = tmp_path_factory.mktemp("sf_zero_norm")
    pq.write_table(pa.concat_tables([t.replace_schema_metadata(None), zero]),
                   out / "embeddings.parquet")
    return str(out)


@pytest.mark.parametrize("name", [
    "dedup_embedding", "dedup_embedding_lsh", "ann_cosine_topk",
    "ann_ivf_topk", "ann_lsh_topk", "dedup_semantic",
])
def test_zero_norm_cosine_matches_oracle(spark, sf_zero_norm, name):
    """A zero-norm vector's cosine is 0/0: NULL on both engines (ordered
    last, dropped by a threshold) instead of an ANSI DIVIDE_BY_ZERO."""
    import __spark_entry__ as entrymod
    from tests.oracle_util import assert_matches

    query = entrymod.queries()[name](spark, sf_zero_norm)
    assert_matches(query, sf_zero_norm, entrymod.oracle_sql()[name], name)


@pytest.fixture(scope="module")
def sf_no_queries(sf_tiny, tmp_path_factory):
    """``sf_tiny``'s embeddings without a single query vector (every
    ``vec_id % 50 == 0`` row dropped)."""
    import pyarrow.parquet as pq

    t = pq.read_table(f"{sf_tiny}/embeddings.parquet")
    kept = t.filter(t["vec_id"].to_numpy() % 50 != 0)
    out = tmp_path_factory.mktemp("sf_no_queries")
    pq.write_table(kept.replace_schema_metadata(None), out / "embeddings.parquet")
    return str(out)


@pytest.mark.parametrize("leg", [ann.topk_quantized, ann.cosine_topk])
def test_exact_topk_of_no_queries_is_empty(spark, sf_tiny, sf_no_queries, leg):
    """An empty query set gives zero rows, not a numpy shape error in the
    worker, and the schema of the non-empty run."""
    got = leg(load_table(spark, sf_no_queries, "embeddings"))
    assert got.count() == 0
    assert got.schema == leg(load_table(spark, sf_tiny, "embeddings")).schema


def test_ivf_topk_without_centroids_is_empty(spark, sf_tiny):
    """No centroid (no ``vec_id % 40 == 0`` row) routes nothing: zero rows,
    not a numpy shape error in the centroid-scoring worker."""
    embs = load_table(spark, sf_tiny, "embeddings").filter("vec_id % 40 != 0")
    assert ann.ivf_topk(embs, k=10, every=50).count() == 0
