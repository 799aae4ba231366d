"""Deduplication suite for training-data pipelines.

Exact (hash groupBy), exact n-gram Jaccard (shingle inverted-index join),
MinHash+LSH (banded signatures), SimHash (hamming blocking), and
embedding-cosine near-dup. All hot paths are native DataFrame ops —
tokenize/shingle/hash/minhash/simhash run JVM-side via ``split``/``explode``/
``xxhash64``/aggregates; no Python per row anywhere.

The candidate-pair → exact-verify shape is the same two-phase prefilter +
refine pattern as the spatial join (cheap equi key first, exact predicate
second), cf. SURVEY.md §2.3.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.functions import pandas_udf

from .. import driver_arm

# deterministic minhash "permutations": slot i uses the salted hash
# xxhash64(i, shingle) — an independent hash per slot, all JVM-side.
# (Monotone affine maps without wraparound would collapse every slot to a
# function of the single min hash — a real failure mode caught by
# tests/test_dedup_ann.py; ANSI mode also forbids wrapped int64 multiply,
# so salting the hash is both correct and the idiomatic Spark way.)
MINHASH_PERMS = 64
LSH_BANDS = 16
LSH_ROWS = 4  # bands * rows == perms
# The word n-gram width of every shingle consumer in this module.
SHINGLE_N = 3


def tokens_df(docs: DataFrame, n: int = 1, by_doc: bool = True) -> DataFrame:
    """The engine's one token and word-n-gram build: every token position
    of every document as ``(pos, tok, shingle)`` after the other columns of
    ``docs`` (``text`` is consumed). ``shingle`` is the ``n``-gram that
    starts at ``pos`` (its tokens joined by one space), NULL in the last
    ``n - 1`` positions, where fewer than ``n`` tokens remain; with
    ``n = 1`` it is the token itself.

    One ``posexplode`` over a full-length staggered ``arrays_zip``: slice
    ``i < n`` of the ``split`` token array starts at token ``i``, and
    ``arrays_zip`` pads the shorter slices with NULL (with ``n = 1`` the
    token array itself is exploded). ``slice`` and ``arrays_zip`` are not
    lambdas, so the build stays in whole-stage codegen, and no consumer
    needs a per-doc window sort to see the next ``n - 1`` tokens (a window
    ``lead`` chain profiled as the dominant CPU of every shingle consumer;
    a lambda HOF formulation measured 30 s against ~2 s on 2.5M tokens).
    A NULL text has no rows; an empty text is one empty token.

    With ``by_doc`` (every doc-keyed consumer) the documents are
    hash-repartitioned on doc_id BEFORE the explode: the consumer's
    window or aggregate needs that exchange anyway, so the one shuffle
    carries each doc's text bytes once instead of its exploded rows, and
    the explode parallelizes even when the scan is a single row group.
    Token-keyed consumers (BPE's word counts, the bigram LM, the unigram
    familiarity model) pass ``by_doc=False``: a doc exchange would be pure
    overhead there."""
    if by_doc:
        n_part = int(docs.sparkSession.conf.get("spark.sql.shuffle.partitions"))
        docs = docs.repartition(n_part, "doc_id")
    rest = [c for c in docs.columns if c != "text"]
    w = F.split(F.col("text"), " ")
    if n == 1:  # a zip of one array would only box each token in a struct
        gen, grams = F.posexplode(w).alias("pos", "t0"), [F.col("t0")]
    else:  # split once, in its own projection, rather than once per slice
        docs, w = docs.select(*rest, w.alias("_w")), F.col("_w")
        z = F.arrays_zip(w.alias("t0"), *[
            F.slice(w, i + 1, F.size(w)).alias(f"t{i}") for i in range(1, n)])
        gen = F.posexplode(z).alias("pos", "z")
        grams = [F.col(f"z.t{i}") for i in range(n)]
    return (
        docs.select(*rest, gen)
        .select(
            *rest, "pos", grams[0].alias("tok"),
            F.when(grams[-1].isNotNull(), F.concat_ws(" ", *grams)).alias("shingle"),
        )
    )


def md5_uniform(s: F.Column) -> F.Column:
    """The md5-uniform hash of an already-salted string: its md5's first 7
    hex digits as a long in [0, 16^7), a 28-bit value DuckDB recomputes
    bit-for-bit. Content-addressed, so every decision drawn from it is
    identical across partitionings, retries and engines."""
    return F.conv(F.substring(F.md5(s.cast("binary")), 1, 7), 16, 10).cast("long")


def shingle_multiset_df(docs: DataFrame, n: int = SHINGLE_N) -> DataFrame:
    """Positional word n-gram shingle MULTISET per doc: (doc_id, shingle),
    one row per occurrence: the non-NULL shingles of ``tokens_df``.
    Consumers that count occurrences (dup-ngram fraction, the count-min
    calibration) use this; set consumers use ``shingles_df``."""
    return tokens_df(docs, n).filter(F.col("shingle").isNotNull()).select(
        "doc_id", "shingle")


def shingles_df(docs: DataFrame, n: int = SHINGLE_N) -> DataFrame:
    """Distinct word n-gram shingles per doc: (doc_id, shingle)."""
    return shingle_multiset_df(docs, n).distinct()


def exact_dup_groups(docs: DataFrame) -> DataFrame:
    """(text_hash, n_dups, keep_doc_id): md5 grouping; keep = min doc_id.
    The canonical exact-dedup at any scale — one shuffle on the hash."""
    return (
        docs.select(F.md5(F.col("text")).alias("text_hash"), "doc_id")
        .groupBy("text_hash")
        .agg(F.count("*").alias("n_dups"), F.min("doc_id").alias("keep_doc_id"))
    )


def pair_candidates(sh: DataFrame) -> DataFrame:
    """(doc_id_a, doc_id_b, inter, na, nb) for every doc pair sharing at
    least one shingle — the inverted-index candidate core shared by the
    Jaccard / containment / MinHash-calibration measures (one self-join on
    the shingle key, one per-pair intersection aggregate, two broadcast-
    size count-dim joins). Callers localCheckpoint ``sh`` first (three
    consumers, Spark has no common-subplan reuse)."""
    cnt = sh.groupBy("doc_id").agg(F.count("*").alias("n_sh"))
    a = sh.select(F.col("doc_id").alias("doc_id_a"), "shingle")
    b = sh.select(F.col("doc_id").alias("doc_id_b"), "shingle")
    inter = (
        a.join(b, "shingle")
        .filter(F.col("doc_id_a") < F.col("doc_id_b"))
        .groupBy("doc_id_a", "doc_id_b")
        .agg(F.count("*").alias("inter"))
    )
    return _with_counts(inter, cnt)


def _with_counts(inter: DataFrame, cnt: DataFrame) -> DataFrame:
    """(doc_id_a, doc_id_b, inter) pairs with both docs' shingle counts
    from ``cnt`` (doc_id, n_sh) as ``na`` and ``nb``."""
    ca = cnt.select(F.col("doc_id").alias("doc_id_a"), F.col("n_sh").alias("na"))
    cb = cnt.select(F.col("doc_id").alias("doc_id_b"), F.col("n_sh").alias("nb"))
    return inter.join(ca, "doc_id_a").join(cb, "doc_id_b")


def _jaccard_at_least(pairs: DataFrame, threshold: float) -> DataFrame:
    """(doc_id_a, doc_id_b, jaccard) of the counted ``pairs`` whose
    Jaccard, |A∩B| / (|A|+|B|-|A∩B|) rounded to 6 places, is at least
    ``threshold``."""
    j = (F.col("inter") * F.lit(1.0)) / (F.col("na") + F.col("nb") - F.col("inter"))
    return (
        pairs.withColumn("jaccard", F.round(j, 6))
        .filter(F.col("jaccard") >= threshold)
        .select("doc_id_a", "doc_id_b", "jaccard")
    )


def jaccard_pairs_exact(docs: DataFrame, threshold: float = 0.5) -> DataFrame:
    """Exact n-gram Jaccard over candidate pairs sharing >= 1 shingle.

    Inverted-index self-join (shingle as join key) -> per-pair intersection
    count -> |A∪B| = |A|+|B|-|A∩B|. No stop-shingle cut: exact textbook
    Jaccard, the value the oracle gate checks. The pair space is
    Σ df(shingle)²; ``minhash_lsh_dups`` is the path with a ``max_df`` cut."""
    return _jaccard_at_least(pair_candidates(shingles_df(docs).localCheckpoint()), threshold)


def minhash_signatures_from(sh: DataFrame, with_count: bool = False) -> DataFrame:
    """Signatures from a (doc_id, shingle) table (reuse a materialized one).

    ``with_count`` adds an ``n_sh`` column (the per-doc shingle count) to the
    SAME aggregate — Catalyst fuses all 65 aggregates into one hash-aggregate
    pass, so callers that need both (the LSH verify leg) save an entire
    second groupBy shuffle over the shingle table."""
    # hash the variable-length string ONCE, then salt the fixed-width int
    # per slot — 64x less string hashing for identical independence
    h0 = sh.select("doc_id", F.xxhash64(F.col("shingle")).alias("h0"))
    aggs = [
        F.min(F.xxhash64(F.lit(i), F.col("h0"))).alias(f"sig_{i}")
        for i in range(MINHASH_PERMS)
    ]
    if with_count:
        aggs.append(F.count("*").alias("n_sh"))
    return h0.groupBy("doc_id").agg(*aggs)


def lsh_candidate_pairs(sigs: DataFrame) -> DataFrame:
    """Banded LSH: docs sharing any (band_idx, band_hash) bucket.
    Explodes 16 band rows per doc (cheap — doc-level, not shingle-level),
    self-joins on the bucket, dedups pairs."""
    bands = F.array(*[
        F.struct(
            F.lit(bi).alias("band_idx"),
            F.xxhash64(*[F.col(f"sig_{bi * LSH_ROWS + r}") for r in range(LSH_ROWS)]).alias("band_hash"),
        )
        for bi in range(LSH_BANDS)
    ])
    exploded = sigs.select("doc_id", F.explode(bands).alias("b")).select(
        "doc_id", "b.band_idx", "b.band_hash"
    )
    a = exploded.select(F.col("doc_id").alias("doc_id_a"), "band_idx", "band_hash")
    b = exploded.select(F.col("doc_id").alias("doc_id_b"), "band_idx", "band_hash")
    return (
        a.join(b, ["band_idx", "band_hash"])
        .filter(F.col("doc_id_a") < F.col("doc_id_b"))
        .select("doc_id_a", "doc_id_b")
        .distinct()
    )


def minhash_lsh_dups(
    docs: DataFrame, threshold: float = 0.5, max_df: int | None = None,
) -> DataFrame:
    """LSH candidates -> exact-Jaccard verify. Returns (doc_id_a, doc_id_b,
    jaccard >= threshold). Prefilter is probabilistic (recall < 1 for pairs
    barely above threshold — standard LSH contract); precision is exact.
    ``max_df`` prunes stop-shingles before BOTH the signatures and the verify
    join (one consistent shingle universe).

    Exact-duplicate texts are collapsed to one representative before the
    shingle/LSH/verify core and expanded back to doc-level pairs at the
    end — the standard exact-dedup-before-MinHash ordering: identical
    texts have identical shingle sets, hence identical signatures, band
    buckets, per-doc counts and Jaccard values, so the rep-level result is
    lossless. Cross-group member pairs inherit the rep pair's jaccard;
    within-group pairs are jaccard 1.0 exactly when the text keeps >= 1
    (surviving) shingle — precisely the pairs the uncollapsed pipeline
    emits (same-text docs share every band bucket, and prune-to-empty
    docs never reach the candidate join). The stop-shingle cut keeps its
    doc-level semantics: document frequency is the member-weighted count
    over representatives. Without the collapse the candidate pair space
    squares with dup-cluster size (tests pin bit-equality against the
    uncollapsed reference)."""
    # one rep row per distinct text (md5 grouping — the exact_dup_groups
    # idiom): (text hash, rep = min doc_id, member count, the rep's text).
    # Checkpointed: it feeds the shingle core AND the expansion joins, and
    # the partial aggregate collapses duplicate texts map-side before the
    # one exchange. Built as a pure aggregate over the scan — NOT a join
    # back onto docs: localCheckpoint preserves the ORIGIN plan's size
    # statistics, and a join in sh's lineage inflates every downstream
    # estimate past the broadcast threshold (measured as the whole
    # candidate/verify chain degrading from broadcast to sort-merge
    # joins).
    g = docs.groupBy(F.md5(F.col("text")).alias("_th")).agg(
        F.min("doc_id").alias("_rep"),
        F.count("*").alias("_sz"),
        F.min_by("text", "doc_id").alias("text"),
        F.collect_list("doc_id").alias("_ids"),
    ).localCheckpoint()
    # the member-id array is linear in dup-group size while the query's
    # declared OUTPUT is quadratic in it (every within-group pair), so the
    # array is never the binding constraint at any corpus size
    reps = g.select(F.col("_rep").alias("doc_id"), "text")
    # the shingle table feeds three consumers (signatures + both sides of
    # the verify join); materialize it once — Spark has no common-subplan
    # reuse (at cluster scale this is a checkpoint stage table)
    sh = shingles_df(reps)
    if max_df is not None:
        w = g.select(F.col("_rep").alias("doc_id"), "_sz")
        dfc = sh.join(w, "doc_id").groupBy("shingle").agg(
            F.sum("_sz").alias("_df"))
        keep = dfc.filter(F.col("_df") <= max_df).select("shingle")
        sh = sh.join(keep, "shingle", "left_semi")
    sh = sh.localCheckpoint()
    sigs = minhash_signatures_from(sh, with_count=True)
    cand = lsh_candidate_pairs(sigs)
    pa = cand.join(sh.select(F.col("doc_id").alias("doc_id_a"), "shingle"), "doc_id_a")
    inter = (
        pa.join(
            sh.select(F.col("doc_id").alias("doc_id_b"), "shingle"),
            ["doc_id_b", "shingle"],
        )
        .groupBy("doc_id_a", "doc_id_b")
        .agg(F.count("*").alias("inter"))
    )
    rep_pairs = _jaccard_at_least(
        _with_counts(inter, sigs.select("doc_id", "n_sh")), threshold)
    # expand rep-level pairs back to doc level (explode member ids — no
    # second corpus scan anywhere). The group table is corpus-sized (one
    # row per distinct text), so the join strategy is AQE's, not a hint.
    ga = g.select(F.col("_rep").alias("doc_id_a"), F.col("_ids").alias("_ia"))
    gb = g.select(F.col("_rep").alias("doc_id_b"), F.col("_ids").alias("_ib"))
    cross = (
        rep_pairs.join(ga, "doc_id_a")
        .join(gb, "doc_id_b")
        .select(F.explode("_ia").alias("_da"), "_ib", "jaccard")
        .select("_da", F.explode("_ib").alias("_db"), "jaccard")
        .select(
            F.least("_da", "_db").alias("doc_id_a"),
            F.greatest("_da", "_db").alias("doc_id_b"),
            "jaccard",
        )
    )
    shingled = sh.select(F.col("doc_id").alias("_rep")).distinct()
    within = (
        g.filter(F.col("_sz") >= 2)
        .join(shingled, "_rep")
        .select(F.explode("_ids").alias("doc_id_a"), "_ids")
        .select("doc_id_a", F.explode("_ids").alias("doc_id_b"))
        .filter(F.col("doc_id_a") < F.col("doc_id_b"))
        .select("doc_id_a", "doc_id_b", F.lit(1.0).alias("jaccard"))
    )
    return cross.unionByName(within)


def simhash_df(docs: DataFrame) -> DataFrame:
    """(doc_id, simhash): 64-bit SimHash over tokens, fully native.

    Per bit i: sum over tokens of ±1 by bit i of hash(token); bit set if
    sum > 0. 64 sums in one groupBy (single shuffle). The token hash is the
    first 64 bits of md5, so DuckDB mirrors every simhash bit-for-bit."""
    # first 16 hex chars -> two's-complement signed 64-bit: conv with a
    # NEGATIVE target base emits the signed decimal string (ANSI-safe to
    # cast), matching DuckDB's explicit unsigned->signed wrap
    h = F.conv(F.substring(F.md5(F.col("tok")), 1, 16), 16, -10).cast("long")
    toks = tokens_df(docs).select("doc_id", h.alias("h"))
    # The 64 per-bit sign sums and the 64-term OR fold are built as SQL
    # text (one F.expr per aggregate / one for the fold) instead of
    # thousands of Column-builder calls: every F.<op> is a py4j round
    # trip, and constructing this query's expression tree through the
    # Column API measured ~0.9 s of DRIVER time per run (plan build, not
    # execution). Identical expressions, so identical results.
    sums = toks.groupBy("doc_id").agg(*[
        F.expr(f"sum((shiftright(h, {i}) & 1) * 2 - 1)").alias(f"s_{i}")
        for i in range(64)
    ])
    terms = ["cast(0 as bigint)"]
    for i in range(63):
        terms.append(
            f"(case when s_{i} > 0 then cast({1 << i} as bigint) "
            "else cast(0 as bigint) end)"
        )
    terms.append(
        "(case when s_63 > 0 then shiftleft(cast(1 as bigint), 63) "
        "else cast(0 as bigint) end)"
    )
    sim = F.expr(" | ".join(terms))
    return sums.select("doc_id", sim.alias("simhash"))


def simhash_near_dups(docs: DataFrame) -> DataFrame:
    """Pairs with hamming(simhash) <= 3 via 4x16-bit band blocking.

    Pigeonhole: hamming <= 3 over 64 bits => at least one of the 4 16-bit
    bands is identical, so the blocking join is *exact* (no recall loss),
    unlike MinHash-LSH. Verify = native bit_count(xor). The whole pipeline
    (hash -> 64 sign sums -> band blocking -> hamming verify) is mirrored
    bit-for-bit by the DuckDB oracle."""
    # sims feeds BOTH sides of the band-blocking self-join; materialize it
    # once (no common-subplan reuse: the 64-aggregate pass would execute
    # twice otherwise, and the duplicated subtree doubles analysis time)
    sims = simhash_df(docs).localCheckpoint()
    bands = F.array(*[
        F.struct(
            F.lit(bi).alias("band_idx"),
            F.shiftrightunsigned(F.col("simhash"), bi * 16).bitwiseAND(F.lit(0xFFFF)).alias("band_val"),
        )
        for bi in range(4)
    ])
    ex = sims.select("doc_id", "simhash", F.explode(bands).alias("b")).select(
        "doc_id", "simhash", "b.band_idx", "b.band_val"
    )
    a = ex.select(F.col("doc_id").alias("doc_id_a"), F.col("simhash").alias("sim_a"),
                  "band_idx", "band_val")
    b = ex.select(F.col("doc_id").alias("doc_id_b"), F.col("simhash").alias("sim_b"),
                  "band_idx", "band_val")
    ham = F.bit_count(F.col("sim_a").bitwiseXOR(F.col("sim_b"))).cast("long")
    return (
        a.join(b, ["band_idx", "band_val"])
        .filter(F.col("doc_id_a") < F.col("doc_id_b"))
        .select("doc_id_a", "doc_id_b", ham.alias("hamming"))
        .filter(F.col("hamming") <= 3)
        .distinct()
    )


def quantize_col(emb: F.Column) -> F.Column:
    """array<float> -> array<long>: round(1000 * x). Integer-valued, so all
    downstream dot products are exact in any summation order — the trick that
    makes similarity results bit-reproducible against the SQL oracle."""
    return F.transform(emb, lambda x: F.round(x.cast("double") * 1000, 0).cast("long"))


def quantized_df(embs: DataFrame) -> DataFrame:
    """(vec_id, qv): the quantized embeddings every similarity operator
    starts from, in the scan's partitioning. No forced repartition here
    (an operator that needs one adds it): at bench scale each mapInPandas
    task pays a ~150-200 ms Python round-trip floor regardless of rows, so
    fanning a 1.2 MB single-row-group corpus to 32 tasks ADDS a shuffle +
    32x task overhead without lowering any stage's wall (A/B measured
    emb_kmeans 1.47 -> 2.05 s with the fan-out); at production scale the
    scan arrives in many partitions and every pass parallelizes
    naturally."""
    return embs.select("vec_id", quantize_col(F.col("embedding")).alias("qv"))


def sq_norm_col(q) -> F.Column:
    """array<long> quantized embedding (a ``quantize_col`` output, as a
    Column or column name) -> its exact int64 squared L2 norm."""
    return F.aggregate(F.transform(q, lambda x: x * x), F.lit(0).cast("long"),
                       lambda acc, v: acc + v)


def int_dot_col(a, b) -> F.Column:
    """Exact int64 dot of two quantized-embedding columns (Columns or
    names) as a native zip_with/aggregate fold. Of the two pair-dots it is
    the faster where each pair is cheap to fold but costly to ship to
    Python: ``embedding_lsh_dups`` (221k candidates at sf0.1, 4 cores)
    measured 2.3-3.2 s with it against 4.2-5.3 s with ``int_dot_udf``."""
    return F.aggregate(F.zip_with(a, b, lambda x, y: x * y),
                       F.lit(0).cast("long"), lambda acc, v: acc + v)


def cos_q_col(dot: str, na: str, nb: str) -> F.Column:
    """The published quantized cosine ``round(dot / sqrt(na * nb), 6)`` of
    an exact int64 dot and two int64 squared norms (column names). Every
    value before the last two float ops is an exact integer, so Spark and
    the DuckDB oracles round the same double; a zero norm gives NULL (0/0
    through ``try_divide``, as DuckDB's ``/``), which sorts last in a
    descending order and fails every ``>=`` threshold."""
    return F.round(
        F.try_divide(
            F.col(dot).cast("double"),
            F.sqrt(F.col(na).cast("double") * F.col(nb).cast("double")),
        ),
        6,
    )


GEMM_EXACT, GEMM_DIM = 1 << 20, 4096  # exact_gemm's coordinate / depth bound
GEMM_CELLS = 1 << 22  # result cells of one exact_gemm in a row-chunked scan


def exact_gemm(a: np.ndarray, b: np.ndarray) -> np.ndarray:
    """The int64 product of the int64 matrices ``a`` and ``b``, the one
    integer product of every embedding kernel. numpy has no integer BLAS
    (its int64 product is a scalar loop: a 5000x64 self-product measured
    2.4 s against 0.36 s in float64), so it runs as one float64 GEMM under
    a bound that keeps it exact: with every |coordinate| < 2^20 and an
    inner dimension <= 4096, each term is < 2^40 and each partial sum
    < 2^52, so every float64 partial sum is an integer and the cast back
    is lossless. Outside the bound it raises ``ValueError``."""
    top = max(int(np.abs(a).max(initial=0)), int(np.abs(b).max(initial=0)))
    if top >= GEMM_EXACT or a.shape[-1] > GEMM_DIM:
        raise ValueError(
            f"exact_gemm: coordinate magnitude {top} (bound 2^20) or inner "
            f"dimension {a.shape[-1]} (bound {GEMM_DIM}) out of range; the "
            "float64 GEMM is exact only inside both"
        )
    return (a.astype(np.float64) @ b.astype(np.float64)).astype(np.int64)


def cos_np(dots: np.ndarray, na: np.ndarray, nb: np.ndarray) -> np.ndarray:
    """The unrounded cosine of ``cos_q_col`` in numpy: an exact (R, C) int64
    dot matrix over its row and column int64 squared norms. A zero norm
    gives NaN, the missing cosine ``cos_q_col`` publishes as NULL."""
    with np.errstate(invalid="ignore", divide="ignore"):
        return dots / np.sqrt(
            na.astype(np.float64)[:, None] * nb.astype(np.float64)[None, :]
        )


def cos_cut(cos: np.ndarray, t) -> np.ndarray:
    """Keep mask of a ``cos_np`` matrix: a PROVEN superset of each row's
    ``t`` best columns (``t`` an int or one int per row) in the published
    order, ``round(cos, 6)`` descending with a missing cosine last.

    With c_t the row's t-th largest present cosine, the cut keeps every
    missing cosine and every cos >= c_t - 2e-6. A dropped row has
    cos < c_t - 2e-6; rounding moves a value by at most 5e-7, so its
    rounded cosine is below the rounded cosine of each of the >= t rows at
    or above c_t (the band dwarfs any ulp between numpy and Spark). Those
    rows beat it strictly, ties included, so it is in no top-t. The pair
    scans' publish threshold is the same argument with c_t = threshold:
    cos < threshold - 1e-6 rounds below the threshold."""
    n = cos.shape[1]
    t = np.minimum(np.broadcast_to(np.asarray(t, dtype=np.int64), (len(cos),)), n)
    missing = np.isnan(cos)
    ranked = np.where(missing, -np.inf, cos)
    cuts = sorted({n - int(v) for v in np.unique(t)})
    part = np.partition(ranked, cuts, axis=1)
    c_t = np.take_along_axis(part, (n - t)[:, None], axis=1)
    return missing | (cos >= c_t - 2e-6)


def _id_matrix(pdf: pd.DataFrame) -> tuple[np.ndarray, np.ndarray]:
    """(ids, int64 vector matrix) of a pandas ``(vec_id, qv)`` batch; an
    empty batch gives a (0, 0) matrix (``np.stack`` refuses zero arrays)."""
    qv = pdf["qv"].to_numpy()
    return (
        pdf["vec_id"].to_numpy(dtype=np.int64),
        np.stack(qv).astype(np.int64) if len(qv) else np.zeros((0, 0), np.int64),
    )


def _driver_matrix(
    q: DataFrame, cap: int, too_big: str,
) -> tuple[np.ndarray, np.ndarray]:
    """``_id_matrix`` of a bounded ``(vec_id, qv)`` frame, collected as
    Arrow columns by the driver-arm probe; ``ValueError(too_big)`` when it
    has more than ``cap`` rows."""
    pdf = driver_arm.collect_if_small(q.select("vec_id", "qv"), cap)
    if pdf is None:
        raise ValueError(too_big)
    return _id_matrix(pdf)


# --- bucketed embedding near-dup (the 10^12-row path) -----------------------
#
# Deterministic integer hyperplanes shared with the DuckDB oracle:
#   plane(p, d) = ((p*dim + d) * 48271) % 1021 - 510      (all operands > 0)
# bucket = sign-bit vector of the 12 plane dots (exact int64 arithmetic, so
# Spark and DuckDB agree bit-for-bit); candidates = pairs whose buckets
# differ in <= max_hamming bits, realized ENGINE-side as a multi-probe
# equi-join (explode the 79 masks with popcount <= 2 — never an all-pairs
# scan) and ORACLE-side as the naive quadratic mirror. 12 planes measured
# against 8 on the fixture: 221k vs ~600k candidate pairs at sf0.1 while
# the found set stays comfortably non-vacuous (12/18 pairs at sf0.001/0.01). Verify = the same
# exact quantized cosine as ``embedding_near_dups``.

EMB_PLANES = 12
EMB_DIM = 64  # embedding width of the fixture corpus


def _plane_coeff(p: int, d: int, dim: int) -> int:
    return ((p * dim + d) * 48271) % 1021 - 510


def embedding_bucket_udf(dim: int, n_planes: int = EMB_PLANES):
    """Arrow-batched twin of the tests' ``embedding_bucket_col`` (the
    per-plane higher-order-function fold): one ``exact_gemm`` per batch
    against the fixed integer plane matrix — bit-identical (exact
    integer arithmetic both ways; equality asserted in tests/test_dedup_ann)
    and ~100x faster than the interpreted per-plane HOF fold."""
    planes = np.array(
        [[_plane_coeff(p, d, dim) for d in range(dim)] for p in range(n_planes)],
        dtype=np.int64,
    )
    weights = (np.int64(1) << np.arange(n_planes, dtype=np.int64))

    @pandas_udf(T.LongType())
    def _bucket(q: pd.Series) -> pd.Series:
        if len(q) == 0:
            return pd.Series([], dtype="int64")
        m = np.stack(q.to_numpy()).astype(np.int64)
        bits = exact_gemm(m, planes.T) >= 0
        return pd.Series(bits @ weights, dtype="int64")

    return _bucket


@pandas_udf(T.LongType())
def int_dot_udf(a: pd.Series, b: pd.Series) -> pd.Series:
    """Exact int64 dot of two quantized-embedding columns — one row-wise
    numpy product per Arrow batch, bit-identical to ``int_dot_col``
    (quantized values |q| <= ~10^4, dim 64 => |dot| < 2^40, no overflow).
    Kept for ``ann.lsh_bucketed_topk``, which measured 1.3-1.7 s at sf0.1
    on 4 cores with it against 1.8 s with ``int_dot_col``."""
    if len(a) == 0:
        return pd.Series([], dtype="int64")
    ma = np.stack(a.to_numpy()).astype(np.int64)
    mb = np.stack(b.to_numpy()).astype(np.int64)
    return pd.Series((ma * mb).sum(axis=1), dtype="int64")


def embedding_lsh_dups(embs: DataFrame) -> DataFrame:
    """Bucketed embedding near-dup: multi-probe hyperplane LSH candidates ->
    exact quantized-cosine verify at cos_q >= 0.4. Same output contract as
    ``embedding_near_dups`` restricted to bucket-hamming <= 2
    candidates — deterministic (fixed integer planes), so oracle-checkable,
    unlike recall-probabilistic LSH. One equi-join shuffle, never all
    pairs."""
    qn = quantized_df(embs).withColumn("norm", sq_norm_col("qv")).withColumn(
        "bucket", embedding_bucket_udf(EMB_DIM)(F.col("qv")))
    # the bucketed table feeds the probe sides AND two array-fetch joins;
    # materialize once (at cluster scale: a checkpoint stage table). The
    # repartition fixes the materialized frame's parallelism: off a
    # single-row-group scan it would checkpoint as 1-2 partitions and the
    # 79-mask probe explode + candidate join would run near-serial
    # (profiled: 2 tasks, 1.35 s).
    n_part = int(embs.sparkSession.conf.get("spark.sql.shuffle.partitions"))
    qn = qn.repartition(n_part, "vec_id").localCheckpoint()
    masks = [m for m in range(1 << EMB_PLANES) if bin(m).count("1") <= 2]
    probe = F.explode(F.array(*[F.lit(m) for m in masks])).alias("mask")
    # the probe explode is NARROW (ids + buckets only): replicating the
    # 64-slot arrays 79x through the bucket shuffle measured ~2x slower at
    # sf0.1 and scales with dim; the arrays are fetched per *candidate*
    # (a far smaller set than probes) by two id-equi-joins below
    a = qn.select(F.col("vec_id").alias("vec_id_a"), "bucket", probe).withColumn(
        "probe", F.col("bucket").bitwiseXOR(F.col("mask")).cast("long")
    ).select("vec_id_a", "probe")
    b = qn.select(F.col("vec_id").alias("vec_id_b"), F.col("bucket").alias("probe"))
    # no pair dedupe needed: a pair (a,b) matches via exactly ONE mask
    # (mask == bucket_a XOR bucket_b), so the probe join emits each
    # candidate once
    cand = a.join(b, "probe").filter(F.col("vec_id_a") < F.col("vec_id_b")).select(
        "vec_id_a", "vec_id_b"
    )
    va = qn.select(F.col("vec_id").alias("vec_id_a"), F.col("qv").alias("qa"),
                   F.col("norm").alias("norm_a"))
    vb = qn.select(F.col("vec_id").alias("vec_id_b"), F.col("qv").alias("qb"),
                   F.col("norm").alias("norm_b"))
    return (
        cand.join(va, "vec_id_a").join(vb, "vec_id_b")
        .withColumn("dot", int_dot_col("qa", "qb"))
        .withColumn("cos_q", cos_q_col("dot", "norm_a", "norm_b"))
        .filter(F.col("cos_q") >= 0.4)
        .select("vec_id_a", "vec_id_b", "cos_q")
    )


def embedding_near_dups(embs: DataFrame, threshold: float = 0.95) -> DataFrame:
    """Pairs with quantized-cosine >= threshold: (vec_id_a, vec_id_b, cos_q).

    Brute-force pair generation (the correctness baseline; the scale path
    is the hyperplane-LSH variant ``embedding_lsh_dups``): the quantized
    corpus is collected once under ``ann.QUERY_CAP``, and each Arrow batch
    is multiplied against it with ``exact_gemm`` in row chunks of at most
    ``GEMM_CELLS`` products. A batch row keeps its pairs with a larger id
    that pass the unrounded prefilter ``cos_cut`` proves safe;
    ``cos_q_col`` and the ``>= threshold`` filter then publish."""
    from . import ann  # the driver caps of the embedding family

    q = quantized_df(embs)
    ids, mat = _driver_matrix(
        q, ann.QUERY_CAP,
        f"embedding_near_dups: corpus exceeds {ann.QUERY_CAP} rows; "
        "use embedding_lsh_dups at this scale",
    )
    norms = (mat * mat).sum(axis=1)
    step = max(1, GEMM_CELLS // max(len(ids), 1))
    schema = T.StructType([
        T.StructField(c, T.LongType())
        for c in ("vec_id_a", "vec_id_b", "dot", "norm_a", "norm_b")
    ])

    def scan(batches):
        for pdf in batches:
            for lo in range(0, len(pdf), step):
                a_ids, m = _id_matrix(pdf.iloc[lo:lo + step])
                a_norms = (m * m).sum(axis=1)
                dots = exact_gemm(m, mat.T)
                cos = cos_np(dots, a_norms, norms)
                i, j = np.nonzero(
                    (a_ids[:, None] < ids[None, :]) & (cos >= threshold - 1e-6)
                )
                yield pd.DataFrame({
                    "vec_id_a": a_ids[i], "vec_id_b": ids[j], "dot": dots[i, j],
                    "norm_a": a_norms[i], "norm_b": norms[j],
                })

    return (
        q.mapInPandas(scan, schema)
        .withColumn("cos_q", cos_q_col("dot", "norm_a", "norm_b"))
        .filter(F.col("cos_q") >= threshold)
        .select("vec_id_a", "vec_id_b", "cos_q")
    )


def containment_pairs_exact(docs: DataFrame, threshold_ppm: int = 500_000) -> DataFrame:
    """Exact n-gram CONTAINMENT over candidate pairs sharing >= 1 shingle:
    ``containment(A,B) = |A∩B| / min(|A|,|B|)`` in exact integer ppm.

    The asymmetric twin of ``jaccard_pairs_exact`` — the dedup literature's
    answer to quote/subset duplication (Broder 1997 §2 defines containment
    alongside resemblance): a short doc fully embedded in a long one has
    tiny Jaccard (the union is huge) but containment 1.0, so Jaccard-only
    pipelines systematically miss subset dups. Normalizing by the SMALLER
    set keeps the measure symmetric in the pair ordering while still
    catching either direction of embedding.

    Same engine shape and scale story as Jaccard: inverted-index self-join
    on the shingle key (pair space Σ df(shingle)², no stop-shingle cut),
    one per-pair intersection aggregate, broadcast-size per-doc count dim
    joins. Integer ppm via ``* 1e6 div`` — no float division, so the gate
    hash is order-exact."""
    return (
        pair_candidates(shingles_df(docs).localCheckpoint())
        .withColumn(
            "containment_ppm",
            F.expr("inter * 1000000 div least(na, nb)"),
        )
        .filter(F.col("containment_ppm") >= threshold_ppm)
        .select("doc_id_a", "doc_id_b", "containment_ppm")
    )


def dup_ngram_stats(docs: DataFrame) -> DataFrame:
    """Per-document duplicated-n-gram fraction — the ExactSubstr-style
    signal (Lee et al. 2022, "Deduplicating Training Data Makes Language
    Models Better") that pairwise dedup cannot express: what share of a
    doc's TEXT (n-gram token positions, multiplicity included) also occurs
    verbatim in some OTHER document. Corpora threshold/crop on this where
    whole-doc Jaccard would either keep heavily-quoted text or drop docs
    for one shared boilerplate line.

    Engine shape (the suffix-array of the paper re-expressed relationally,
    the way a Spark pipeline would actually run it):
      1. positional n-gram counts per doc — ``(doc_id, shingle, cnt)``,
         one aggregate on the compound key (same exchange family as every
         shingle op here);
      2. shingle document-frequency — each row of (1) IS one distinct doc,
         so ``df = count(*)`` per shingle: one aggregate, no distinct;
      3. join df back on the shingle key (standard inverted-index
         equi-join; at web scale hot shingles are exactly the stop-shingle
         set ``minhash_lsh_dups`` bounds with ``max_df`` —
         here they stay one aggregate row each, no pair explosion ever);
      4. per-doc rollup: dup positions = sum(cnt) where df >= 2.

    Integer ppm (``* 1e6 div``), no float division. Returns
    (doc_id, total_ngrams, dup_ngrams, dup_ppm)."""
    pos_sh = shingle_multiset_df(docs)
    per_doc = pos_sh.groupBy("doc_id", "shingle").agg(
        F.count("*").alias("cnt")
    )
    df_tbl = per_doc.groupBy("shingle").agg(F.count("*").alias("df"))
    joined = per_doc.join(df_tbl, "shingle")
    return (
        joined.groupBy("doc_id")
        .agg(
            F.sum("cnt").alias("total_ngrams"),
            F.sum(F.when(F.col("df") >= 2, F.col("cnt")).otherwise(0)).alias(
                "dup_ngrams"
            ),
        )
        .select(
            "doc_id",
            "total_ngrams",
            "dup_ngrams",
            F.expr("dup_ngrams * 1000000 div total_ngrams").alias("dup_ppm"),
        )
    )


def dup_span_scrub(docs: DataFrame) -> DataFrame:
    """ExactSubstr REMOVAL (the act-on-it counterpart to
    ``dup_ngram_stats``): delete every token whose position is covered by
    a corpus-duplicated n-gram (Lee et al. 2022 remove the duplicated
    spans themselves rather than whole documents — cross-doc boilerplate,
    licence blocks and syndicated passages vanish while the unique
    remainder of each page survives). A token at position t is removed
    when ANY of the n = ``SHINGLE_N`` windows covering it (start positions t-n+1 .. t)
    is an n-gram seen in >= 2 distinct documents (the ``df >= 2`` rule
    shared with ``dup_ngram_stats``).

    Engine shape:
      1. positional n-grams per doc: ``tokens_df(docs, n)``, whose row at
         token ``pos`` carries the n-gram starting there (multiplicity
         kept, no per-doc window);
      2. duplicated-shingle dim: per-doc distinct -> df -> ``df >= 2``
         (two aggregates on the shingle key);
      3. flag start positions via one equi-join on the shingle key
         (uniform by hashing; hot boilerplate shingles are ONE dim row
         each, so fan-out is per-position x 1 — no pair space, ever);
      4. coverage = max(flag) over a per-doc ``rowsBetween(-(n-1), 0)``
         window (token positions are contiguous by construction, so the
         row frame IS the range frame);
      5. per-doc rollup: counts + ordered reassembly of surviving tokens
         (collect_list of (pos, tok) structs, array_sort, join with ' ').

    Shuffles: the build's doc exchange, shingle agg x2, shingle join, the
    coverage window's doc exchange (the rollup reuses it) — all on the two
    natural keys; the per-doc windows/rollups partition by
    doc_id so no single-partition stage appears at any corpus size. The
    reassembled text is byte-deterministic, hence gate-hashable.

    Returns (doc_id, n_tokens, n_removed, clean_text); clean_text = ''
    when every token of the doc sits under a duplicated span."""
    from pyspark.sql import Window

    n = SHINGLE_N
    pos_sh = tokens_df(docs, n)
    per_doc = (
        pos_sh.filter(F.col("shingle").isNotNull())
        .groupBy("doc_id", "shingle")
        .agg(F.count("*").alias("cnt"))
    )
    dup_dim = (
        per_doc.groupBy("shingle")
        .agg(F.count("*").alias("df"))
        .filter(F.col("df") >= 2)
        .select("shingle", F.lit(1).alias("_dup"))
    )
    flagged = pos_sh.join(dup_dim, "shingle", "left").select(
        "doc_id", "pos", "tok", F.coalesce("_dup", F.lit(0)).alias("flag")
    )
    cov_w = (
        Window.partitionBy("doc_id").orderBy("pos").rowsBetween(-(n - 1), 0)
    )
    cov = flagged.withColumn("covered", F.max("flag").over(cov_w))
    return (
        cov.groupBy("doc_id")
        .agg(
            F.count("*").cast("long").alias("n_tokens"),
            F.sum("covered").cast("long").alias("n_removed"),
            F.array_join(
                F.transform(
                    F.array_sort(
                        F.collect_list(
                            F.when(
                                F.col("covered") == 0, F.struct("pos", "tok")
                            )
                        )
                    ),
                    lambda s: s["tok"],
                ),
                " ",
            ).alias("clean_text"),
        )
    )


def incremental_new_hashes(new: DataFrame, old_hashes: DataFrame) -> DataFrame:
    """Incremental cross-snapshot dedup: the content rows of the NEW crawl
    snapshot that enter the corpus — ``md5(text)`` not seen in the previous
    snapshot's ``text_hash`` set (left ANTI join) and first-seen within the new batch
    (min doc_id per hash, the same first-fetch-wins argmin as
    ``url_canonical_dedup``). The only-new-content-trains step of a
    continuously refreshed corpus: the old corpus never re-reads, only
    its hash set (a fraction of its bytes) joins.

    Two shuffles on the content hash (anti join + argmin group), both
    uniform by construction (md5 keys); at 100 TB the old-hash side is a
    hash-only projection orders smaller than the corpus and both sides
    partition on the same key."""
    nh = new.select(
        F.md5(F.col("text")).alias("text_hash"), F.col("doc_id")
    )
    fresh = nh.join(
        old_hashes.select("text_hash"), "text_hash", "left_anti"
    )
    return fresh.groupBy("text_hash").agg(
        F.min("doc_id").cast("long").alias("first_doc_id")
    )


def bloom_prefilter(
    candidates: DataFrame, seen: DataFrame, m: int = 8192, k: int = 2,
) -> DataFrame:
    """Bloom-filter pre-filter audit for crawl-frontier dedup — the
    canonical 100 TB pattern: before shuffling a trillion frontier URLs
    into an exact anti-join against the crawled set, a compact bit-array
    filter (k hash positions over m bits, built once from the SEEN side)
    discards the guaranteed-unseen majority map-side; only bloom HITS pay
    the exact join. This operator runs both legs and reports the filter's
    measured quality so the m/k sizing is grounded in numbers, not vibes:

      (n_candidates, n_seen_exact, n_bloom_hit, n_false_pos, fp_ppm)

    with fp_ppm = false positives per million TRUE NEGATIVES — the
    fraction of genuinely-new URLs the filter would needlessly send to
    the exact join. Bloom filters have no false negatives by
    construction, so ``n_bloom_hit >= n_seen_exact`` always (pinned in
    pytest alongside a planted-FP case).

    Determinism: positions are md5-uniform (``md5_uniform`` discipline
    — content-addressed, engine-independent), so the entire audit is
    bit-exact and gate-hashable; the DuckDB oracle rebuilds the identical
    filter. ``m`` is FIXED for oracle parity; production sizes m from the
    seen-set cardinality (m ≈ n·k/ln2 per false-positive target).

    Scale shape: the materialized filter is the (hash_i, position)
    distinct set — at most k·m rows regardless of corpus size — so the
    membership probes are k BROADCAST joins (zero shuffle on the frontier
    side); the exact leg is the one hash-partitioned join, and the output
    is a single aggregate row."""
    def _pos(col: F.Column, i: int) -> F.Column:
        return md5_uniform(F.concat(F.lit(f"bloom{i}:"), col.cast("string"))) % m

    from pyspark.sql.functions import broadcast

    cand = candidates.select("url").distinct()
    seen_keys = seen.select("url").distinct()
    flagged = cand
    for i in range(k):
        bits_i = (
            seen_keys.select(_pos(F.col("url"), i).alias(f"_p{i}"))
            .distinct()
            .withColumn(f"_hit{i}", F.lit(1))
        )
        flagged = flagged.withColumn(f"_p{i}", _pos(F.col("url"), i)).join(
            broadcast(bits_i), f"_p{i}", "left"
        )
    bloom_hit = F.coalesce(F.col("_hit0"), F.lit(0))
    for i in range(1, k):  # AND over 0/1 flags: all k positions must be set
        bloom_hit = bloom_hit * F.coalesce(F.col(f"_hit{i}"), F.lit(0))
    probed = flagged.select("url", bloom_hit.alias("bloom_hit"))
    exact = seen_keys.withColumn("_seen", F.lit(1))
    audited = probed.join(exact, "url", "left").select(
        "url", "bloom_hit", F.coalesce("_seen", F.lit(0)).alias("seen_exact")
    )
    return audited.agg(
        F.count("*").cast("long").alias("n_candidates"),
        F.sum("seen_exact").cast("long").alias("n_seen_exact"),
        F.sum("bloom_hit").cast("long").alias("n_bloom_hit"),
        F.sum(
            F.when((F.col("bloom_hit") == 1) & (F.col("seen_exact") == 0), 1)
            .otherwise(0)
        ).cast("long").alias("n_false_pos"),
        F.expr(
            "sum(case when bloom_hit = 1 and seen_exact = 0 then 1 else 0"
            " end) * 1000000 div (count(*) - sum(seen_exact))"
        ).alias("fp_ppm"),
    )


def novelty_stats(docs: DataFrame) -> DataFrame:
    """Per-doc shingle NOVELTY against the whole corpus: the share of a
    doc's distinct n-gram shingles whose globally-first occurrence (min
    doc_id — ingestion order) is this doc. The dedup-monitoring curve a
    crawl pipeline tracks per snapshot: novelty collapsing toward 0 means
    the crawl is re-fetching what it already has.

    (doc_id, n_shingles, n_novel, novelty_ppm) in exact integer ppm.
    Scale: one min-aggregate on the shingle key and one join back on the
    same key (both uniform by hashing; the first-occurrence dim is
    vocab-sized — shuffle join, deliberately not broadcast), then a
    per-doc rollup."""
    sh = shingles_df(docs)
    first = sh.groupBy("shingle").agg(F.min("doc_id").alias("first_doc"))
    return (
        sh.join(first, "shingle")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_shingles"),
            F.sum(
                F.when(F.col("first_doc") == F.col("doc_id"), 1).otherwise(0)
            ).cast("long").alias("n_novel"),
            F.expr(
                "sum(case when first_doc = doc_id then 1 else 0 end)"
                " * 1000000 div count(*)"
            ).alias("novelty_ppm"),
        )
    )


def cdc_chunk_stats(docs: DataFrame, mod: int = 16) -> DataFrame:
    """Content-defined chunking (CDC) dedup stats — the rsync/LBFS
    boundary trick (Muthitacharoen et al., SOSP 2001) applied to the
    token stream: a chunk boundary falls AFTER every position whose
    trailing w-token window (w = 3) hashes to 0 mod ``mod`` (expected chunk
    length ≈ mod tokens), so identical text spans produce identical
    chunks NO MATTER WHERE they sit in their documents — the alignment
    robustness fixed-offset blocking lacks, and the reason crawl-snapshot
    storage and long-span dedup both reach for CDC over fixed windows.
    A chunk is duplicated when its exact content appears in >= 2 distinct
    documents (the df >= 2 rule of the shingle family).

    Engine shape (all standard relational moves):
      1. window hash per position: ``md5_uniform`` of the w-gram that
         ``tokens_df(docs, w)`` emits at its START row ``s`` -> boundary
         flag on ``s`` for the boundary after the window's last token
         ``s + w - 1`` (no per-doc window to form it);
      2. chunk index = prefix sum of the boundary flags that precede
         token ``p``: a boundary after ``s + w - 1`` precedes ``p``
         exactly when ``s <= p - w``, so one per-doc window
         ``rowsBetween(unboundedPreceding, -w)`` counts them;
      3. chunk content = ordered reassembly per (doc, chunk_idx) (the
         ``dup_span_scrub`` collect/sort/join move), keyed by md5;
      4. chunk-hash document frequency -> per-doc rollup in integer ppm.

    Returns (doc_id, n_chunks, n_dup_chunks, dup_chunk_ppm). Scale: the
    per-doc windows and rollups partition by doc_id; the chunk-hash df
    aggregate + join are uniform md5-key shuffles (hot boilerplate chunks
    are one aggregate row each — no pair space); chunk contents never
    leave the executors except as hashes."""
    from pyspark.sql import Window

    w = 3
    # a NULL shingle (fewer than w tokens left) hashes to NULL: no flag
    hsh = md5_uniform(F.concat(F.lit("cdc:"), F.col("shingle"))) % mod
    flagged = tokens_df(docs, w).select(
        "doc_id", "pos", "tok", F.when(hsh == 0, 1).otherwise(0).alias("bnd"),
    )
    cw = (
        Window.partitionBy("doc_id").orderBy("pos")
        .rowsBetween(Window.unboundedPreceding, -w)
    )
    idx = flagged.withColumn(
        "chunk_idx", F.coalesce(F.sum("bnd").over(cw), F.lit(0))
    )
    # chunks feeds BOTH the df aggregate and the final join — Spark has no
    # common-subplan reuse, so without the checkpoint the whole upstream
    # (token explode -> per-doc window -> chunk reassembly groupBy)
    # executes twice (at cluster scale: a checkpoint stage table)
    chunks = (
        idx.groupBy("doc_id", "chunk_idx")
        .agg(
            F.md5(
                F.array_join(
                    F.transform(
                        F.array_sort(F.collect_list(F.struct("pos", "tok"))),
                        lambda s: s["tok"],
                    ),
                    " ",
                ).cast("binary")
            ).alias("chunk_hash")
        )
        .localCheckpoint()
    )
    dfq = (
        chunks.select("doc_id", "chunk_hash").distinct()
        .groupBy("chunk_hash").agg(F.count("*").alias("df"))
    )
    return (
        chunks.join(dfq, "chunk_hash")
        .groupBy("doc_id")
        .agg(
            F.count("*").cast("long").alias("n_chunks"),
            F.sum(F.when(F.col("df") >= 2, 1).otherwise(0)).cast("long")
            .alias("n_dup_chunks"),
            F.expr(
                "sum(case when df >= 2 then 1 else 0 end) * 1000000"
                " div count(*)"
            ).alias("dup_chunk_ppm"),
        )
    )


def countmin_calibration(
    docs: DataFrame, w: int = 1024, d: int = 3, top: int = 100,
) -> DataFrame:
    """Count-min sketch frequency estimation with MEASURED over-estimate
    error (Cormode & Muthukrishnan 2005) — the heavy-hitter counterpart
    to the Bloom audit: a d×w counter grid replaces the full shingle
    frequency table, estimate(x) = min over the d rows of the counter at
    x's hashed position, and this operator reports estimate-vs-exact for
    the ``top`` heaviest shingles in integer ppm so the w/d sizing is a
    measured number. Count-min NEVER underestimates (every counter holds
    x's true count plus non-negative collision mass), so
    ``est_cnt >= exact_cnt`` row-by-row — pytest-pinned, alongside an
    exact-recovery case at collision-free width.

    Determinism: positions are md5-uniform over a data-driven salt
    ('cm{i}:'), so the grid — and therefore the audit — is bit-identical
    across engines, partitionings and retries: unlike HLL
    (``geo_tiles_approx``, rows-only by nature) this sketch row
    hash-verifies.

    Scale shape: one shingle-count aggregate (the same exchange family as
    every shingle op), a d×w counter table (3,072 rows here — BROADCAST,
    constant in corpus size), top-k via TakeOrdered (no global sort
    materialization), and d broadcast probes. At 100 TB the counter grid
    is what ships to the planner/monitor instead of a trillion-row
    frequency table; this op is the error bound that justifies it."""
    pos_sh = shingle_multiset_df(docs)
    counts = pos_sh.groupBy("shingle").agg(F.count("*").alias("exact_cnt"))

    def _pos(sh_col: F.Column, i_col: F.Column) -> F.Column:
        return md5_uniform(
            F.concat(F.lit("cm"), i_col.cast("string"), F.lit(":"), sh_col)) % w

    ivals = F.explode(F.array(*[F.lit(i) for i in range(d)])).alias("i")
    grid = (
        counts.select("shingle", "exact_cnt", ivals)
        .select("i", _pos(F.col("shingle"), F.col("i")).alias("pos"),
                "exact_cnt")
        .groupBy("i", "pos")
        .agg(F.sum("exact_cnt").alias("c"))
    )
    topk = counts.orderBy(F.desc("exact_cnt"), F.asc("shingle")).limit(top)
    from pyspark.sql.functions import broadcast

    probed = (
        topk.select("shingle", "exact_cnt", ivals)
        .select("shingle", "exact_cnt", "i",
                _pos(F.col("shingle"), F.col("i")).alias("pos"))
        .join(broadcast(grid), ["i", "pos"])
        .groupBy("shingle", "exact_cnt")
        .agg(F.min("c").alias("est_cnt"))
    )
    return probed.select(
        "shingle",
        F.col("exact_cnt").cast("long").alias("exact_cnt"),
        F.col("est_cnt").cast("long").alias("est_cnt"),
        F.expr("(est_cnt - exact_cnt) * 1000000 div exact_cnt").alias(
            "over_ppm"
        ),
    )


def minhash_md5_calibration(docs: DataFrame) -> DataFrame:
    """MinHash ESTIMATOR CALIBRATION: for every candidate pair at or above
    an exact-Jaccard floor of 300,000 ppm, both the 64-permutation
    MinHash estimate and the exact Jaccard, in integer ppm — the eval
    query that tells you what band/row LSH settings actually buy on YOUR
    corpus (est_ppm ~ the match probability the banding formula plugs
    in).

    Hasher is the md5-28..60-bit salted prefix so DuckDB mirrors it
    bit-for-bit (same twin discipline as dedup_simhash's md5 leg);
    production signatures stay on xxhash64 (``minhash_signatures_from``).
    est_ppm = matching coordinates * 15625 (= 1e6/64, exact).
    Scale: candidate pairs come from the shingle inverted index (never
    all-pairs); signatures are one min-aggregate per doc."""
    sh = shingles_df(docs).localCheckpoint()  # pairs + signatures + counts
    cand = (
        pair_candidates(sh)
        .withColumn("jaccard_ppm", F.expr("inter * 1000000 div (na + nb - inter)"))
        .filter(F.col("jaccard_ppm") >= 300_000)
        .select("doc_id_a", "doc_id_b", "jaccard_ppm")
    )
    def _h(i: int):
        return F.conv(
            F.substring(F.md5(F.concat(F.lit(f"{i}:"), F.col("shingle"))), 1, 15),
            16, 10,
        ).cast("long")
    sig = sh.groupBy("doc_id").agg(
        F.array(*[F.min(_h(i)).alias(f"m{i}") for i in range(64)]).alias("sig")
    )
    est = F.aggregate(
        F.zip_with("sig_a", "sig_b", lambda x, y: F.when(x == y, 1).otherwise(0)),
        F.lit(0).cast("long"), lambda acc, v: acc + v,
    ) * 15625
    return (
        cand.join(sig.select(F.col("doc_id").alias("doc_id_a"), F.col("sig").alias("sig_a")), "doc_id_a")
        .join(sig.select(F.col("doc_id").alias("doc_id_b"), F.col("sig").alias("sig_b")), "doc_id_b")
        .withColumn("est_ppm", est)
        .select("doc_id_a", "doc_id_b", "jaccard_ppm", "est_ppm")
    )


def split_leakage_audit(docs: DataFrame) -> DataFrame:
    """Train/val leakage audit: how many NEAR-DUPLICATE pairs (n-gram
    Jaccard >= 500,000 ppm, the same pair population as ``dedup_jaccard``)
    straddle the 10% val / 90% train boundary under (a) the naive per-doc hash split
    and (b) a group-aware per-HOST hash split. Splitting by document lets
    one copy of a duplicated page land in train and its near-twin in val —
    the classic contamination that inflates eval scores (the reason
    C4/RealNews-style corpora split by URL/host, and group-aware splitting
    is standard in leakage-sensitive ML); splitting by host keeps
    same-host copies together by construction, so only cross-host
    duplication can straddle.

    Both split decisions use the deterministic ``md5_uniform`` through
    ``textstats._uniform_col`` (content-addressed — reproducible across
    partitioning/retries/engines, the same discipline as
    ``stratified_sample``; the DuckDB oracle recomputes the identical
    hashes). The host key is the crawl-host fixture shared with the link
    graph (``queries._host_edges``): ``(doc_id div 3) % 100``.
    Jaccard is integer ppm (``inter * 1e6 div union``) so the threshold
    cut is bit-identical in both engines.

    Returns exactly two rows: (policy, n_dup_pairs, n_straddling_pairs)
    for policy in {doc_hash, host_group} — same duplicate population,
    different straddle counts.

    Scale shape: the pair population comes from the shingle inverted
    index (never all-pairs; at web scale a stop-shingle cut like
    ``minhash_lsh_dups``' ``max_df`` bounds it upstream); the
    straddle flags are pure per-row hash arithmetic on the pair table and
    the result is one global aggregate — no extra shuffle beyond the pair
    computation itself.
    """
    from .textstats import _U_MAX, _uniform_col

    thr = (_U_MAX * 10) // 100

    def _v_doc(c: str) -> F.Column:
        return (_uniform_col(F.col(c), "split:") < thr).cast("int")

    def _v_host(c: str) -> F.Column:
        h = F.expr(f"({c} div 3) % 100")
        return (_uniform_col(h, "hsplit:") < thr).cast("int")

    sh = shingles_df(docs).localCheckpoint()
    pairs = (
        pair_candidates(sh)
        .withColumn(
            "jaccard_ppm",
            F.expr("inter * 1000000 div (na + nb - inter)"),
        )
        .filter(F.col("jaccard_ppm") >= 500_000)
    )
    flagged = pairs.select(
        (_v_doc("doc_id_a") != _v_doc("doc_id_b"))
        .cast("long").alias("sd"),
        (_v_host("doc_id_a") != _v_host("doc_id_b"))
        .cast("long").alias("sh"),
    )
    tot = flagged.agg(
        F.count(F.lit(1)).alias("n_dup_pairs"),
        F.coalesce(F.sum("sd"), F.lit(0)).cast("long").alias("s_doc"),
        F.coalesce(F.sum("sh"), F.lit(0)).cast("long").alias("s_host"),
    )
    row = F.explode(
        F.array(
            F.struct(
                F.lit("doc_hash").alias("policy"),
                F.col("n_dup_pairs"),
                F.col("s_doc").alias("n_straddling_pairs"),
            ),
            F.struct(
                F.lit("host_group").alias("policy"),
                F.col("n_dup_pairs"),
                F.col("s_host").alias("n_straddling_pairs"),
            ),
        )
    ).alias("r")
    return tot.select(row).select("r.*")
