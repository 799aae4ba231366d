"""Corpus curation operators a large-scale training-data pipeline needs
beyond dedup/quality: benchmark decontamination, sequence packing, and PII
scrubbing. All native DataFrame ops — no Python anywhere.

These extend the reference's per-document hygiene discipline (deterministic
preprocessing, ``utils/preprocessor.py:6-68``; content-derived keys,
``tree_parser/custom_parser.py:45-57``) to the three curation steps every
LLM data pipeline runs before training.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from ..localdf import arrow_local_df

from .dedup import md5_uniform, shingles_df, tokens_df

# simple, RE2-compatible patterns evaluated identically by Spark
# (java.util.regex) and DuckDB (RE2): no lookaround, no lazy quantifiers.
EMAIL_RE = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
LONG_DIGITS_RE = "[0-9]{7,}"


def decontaminate(
    docs: DataFrame, n: int = 5, bench_mod: int = 50, bench_rem: int = 7,
) -> DataFrame:
    """Benchmark decontamination: flag training docs sharing any word
    ``n``-gram with the held-out benchmark slice (doc_id % mod == rem).

    The canonical pre-training hygiene step (don't train on your eval set).
    Engine shape: the benchmark shingle dim is a small fraction of the
    corpus (1/mod of docs), so the overlap test is a semi-join against a
    dim that is broadcastable at any corpus size where the benchmark itself
    is bounded; the per-doc hit count is one aggregate on the train shingle
    table. Returns (doc_id, n_hits, contaminated) for every NON-benchmark
    doc (zero-hit docs included — the keep-list is the point).
    """
    sh = shingles_df(docs, n)
    is_bench = F.pmod(F.col("doc_id"), F.lit(bench_mod)) == bench_rem
    bench_sh = sh.filter(is_bench).select("shingle").distinct()
    hits = (
        sh.filter(~is_bench)
        .join(bench_sh, "shingle", "left_semi")
        .groupBy("doc_id")
        .agg(F.count("*").alias("n_hits"))
    )
    return (
        docs.filter(~is_bench)
        .select("doc_id")
        .join(hits, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce(F.col("n_hits"), F.lit(0)).alias("n_hits"),
            (F.coalesce(F.col("n_hits"), F.lit(0)) > 0).alias("contaminated"),
        )
    )


def pack_sequences(docs: DataFrame, budget: int = 512) -> DataFrame:
    """Sequence packing: assign each doc (in doc_id order) a training-batch
    bin of ``budget`` tokens via a DISTRIBUTED prefix sum.

    bin_id = floor(cum_tokens_before / budget); offset_in_bin = the doc's
    start offset inside its bin (docs straddling a boundary spill into the
    next bin — the standard pack-then-split semantics).

    The naive formulation is ``sum().over(Window.orderBy("doc_id"))`` — an
    unpartitioned window, i.e. the whole corpus through ONE reducer (the
    same funnel as a total taken by ``sum over Window.partitionBy()``).
    This is instead the textbook two-phase scan: range-partition by doc_id
    (partition i holds strictly smaller ids than i+1 — a repartitionByRange
    guarantee),
    per-partition prefix sums, then one tiny driver collect of the
    per-partition totals (numPartitions rows) broadcast back as offsets.
    The assignment is partitioning-INDEPENDENT (cum_before is a pure
    function of the doc_id order), so retries / different cluster sizes
    produce identical bins.
    """
    toks = docs.select(
        "doc_id", F.size(F.split(F.col("text"), " ")).alias("n_tokens")
    )
    ranged = toks.repartitionByRange("doc_id").withColumn(
        "_pid", F.spark_partition_id()
    ).localCheckpoint()  # two consumers (totals + final); freeze the pids
    w = (
        Window.partitionBy("_pid")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    local_cum = F.coalesce(F.sum("n_tokens").over(w), F.lit(0))
    totals = (
        ranged.groupBy("_pid").agg(F.sum("n_tokens").alias("_tot"))
        .orderBy("_pid")
        .collect()  # bound: one row per range partition
    )
    offsets, acc = {}, 0
    for r in totals:
        offsets[r["_pid"]] = acc
        acc += r["_tot"]
    off_df = arrow_local_df(
        ranged.sparkSession,
        [(int(p), int(o)) for p, o in offsets.items()], "_pid int, _off long",
    )
    cum_before = (F.col("_off") + local_cum).cast("long")
    return (
        ranged.join(F.broadcast(off_df), "_pid")
        .select(
            "doc_id",
            F.col("n_tokens").cast("long").alias("n_tokens"),
            F.floor(cum_before / budget).cast("long").alias("bin_id"),
            F.pmod(cum_before, F.lit(budget)).cast("long").alias("offset_in_bin"),
        )
    )


def pii_scrub(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """PII scrubbing: replace emails and long digit runs with typed tokens;
    emit per-doc redaction counts + the post-scrub content hash (the
    deterministic lineage key downstream stages join on, same discipline as
    ``textstats.normalized_docs``). One projection, zero shuffles."""
    t = F.col(text_col)
    scrubbed = F.regexp_replace(
        F.regexp_replace(t, EMAIL_RE, "<EMAIL>"), LONG_DIGITS_RE, "<NUM>"
    )
    return docs.select(
        "doc_id",
        F.regexp_count(t, F.lit(EMAIL_RE)).cast("long").alias("n_emails"),
        F.regexp_count(t, F.lit(LONG_DIGITS_RE)).cast("long").alias("n_long_digits"),
        F.md5(scrubbed).alias("clean_hash"),
    )


def strip_boilerplate(
    docs: DataFrame, seg_len: int = 8, max_docs: int = 20,
) -> DataFrame:
    """Boilerplate removal (the CCNet-style paragraph-dedup step): split
    each doc into fixed ``seg_len``-token segments, drop segments that occur
    in more than ``max_docs`` distinct documents (headers/footers/navigation
    boilerplate at web scale), reassemble the survivors in order.

    Segmentation is pure projection (``slice`` over the split array — no
    shuffle, no Python); the corpus-frequency table is one groupBy on the
    segment string (the same inverted-index discipline as the stop-shingle
    cut of ``dedup.minhash_lsh_dups``); reassembly is one groupBy(doc_id) with
    an ``array_sort``-of-structs ordered join of the surviving segments
    (collect_list order is partition-dependent — sorting by seg_idx inside
    the aggregate restores the deterministic document order).

    Returns (doc_id, n_segs, n_kept, clean_hash) — every doc gets a row,
    even if everything was stripped (clean_hash of the empty string).
    """
    toks = F.split(F.col("text"), " ")
    n_segs = F.ceil(F.size(toks) / seg_len).cast("long")
    segs = docs.select(
        "doc_id",
        n_segs.alias("n_segs"),
        F.explode(F.sequence(F.lit(0), n_segs - 1)).alias("seg_idx"),
        toks.alias("_toks"),
    ).select(
        "doc_id", "n_segs", "seg_idx",
        F.concat_ws(
            " ", F.slice(F.col("_toks"), F.col("seg_idx") * seg_len + 1, seg_len)
        ).alias("seg"),
    )
    freq = segs.groupBy("seg").agg(
        F.count_distinct("doc_id").alias("_df")
    )
    keep = freq.filter(F.col("_df") <= max_docs).select("seg")
    kept = segs.join(keep, "seg", "left_semi")
    reassembled = kept.groupBy("doc_id").agg(
        F.count("*").alias("n_kept"),
        F.concat_ws(
            " ",
            F.transform(
                F.array_sort(
                    F.collect_list(F.struct(F.col("seg_idx"), F.col("seg")))
                ),
                lambda s: s["seg"],
            ),
        ).alias("_clean"),
    )
    return (
        docs.select("doc_id", n_segs.alias("n_segs"))
        .join(reassembled, "doc_id", "left")
        .select(
            "doc_id", "n_segs",
            F.coalesce(F.col("n_kept"), F.lit(0)).cast("long").alias("n_kept"),
            F.md5(F.coalesce(F.col("_clean"), F.lit(""))).alias("clean_hash"),
        )
    )


def repetition_stats(docs: DataFrame) -> DataFrame:
    """Gopher-style repetition signals per document (Rae et al. 2021 §A1.1:
    'fraction of characters in the most common n-gram' / duplicate-n-gram
    filters — the standard web-corpus quality gate alongside length and
    stopword ratios).

    Per doc over word 2-grams: total gram count, the most-frequent gram's
    share, and the duplicated-gram share — both in exact integer ppm
    (``x * 1e6 div total``), so partial-agg order can never flip a digit.

    Scale shape: one explode bounded by document length, one (doc_id, gram)
    aggregate, one per-doc rollup — all keyed by doc_id, so the shuffle is
    uniform (no corpus-wide hot key; a single pathological giant doc is
    bounded upstream by ingest length caps). Docs with <2 words have no
    2-gram and drop out, matching the oracle's empty generate_series."""
    # the 2-grams of the one n-gram build (``dedup.tokens_df``): its doc
    # exchange feeds both per-doc aggregates
    grams = tokens_df(docs, 2).filter(F.col("shingle").isNotNull())
    per_gram = grams.groupBy("doc_id", "shingle").agg(F.count("*").alias("cnt"))
    return per_gram.groupBy("doc_id").agg(
        F.sum("cnt").alias("n_grams"),
        F.expr("max(cnt) * 1000000 div sum(cnt)").alias("top_gram_ppm"),
        F.expr("(sum(cnt) - count(*)) * 1000000 div sum(cnt)").alias(
            "dup_gram_ppm"
        ),
    )


def canonicalize_url(url):
    """Crawl-URL canonicalizer as a pure JVM column expression: lowercase
    scheme+host, strip the fragment, strip utm_* tracking params (tidying
    any orphaned '?'/'&'), strip trailing slashes. RE2-compatible patterns
    only, evaluated identically by Spark and DuckDB — the first dedup key
    of every web-crawl pipeline (one crawl sees the same page via
    tracking-tagged, fragment-bearing, and case-variant URLs)."""
    u = F.regexp_replace(url, "#.*$", "")                      # fragment
    u = F.regexp_replace(u, "utm_[a-z]+=[^&]*&?", "")          # tracking params
    u = F.regexp_replace(u, "[?&]$", "")                       # orphan ? / &
    scheme_host = F.lower(F.regexp_extract(u, "(?i)^(https?://[^/]+)", 1))
    rest = F.regexp_replace(u, "(?i)^https?://[^/]+", "")
    u = F.concat(scheme_host, rest)
    return F.regexp_replace(u, "/+$", "")                      # trailing /


def url_canonical_dedup(pages: DataFrame, url_col: str = "url") -> DataFrame:
    """Canonical-URL dedup groups: canonicalize, then one hash aggregate —
    (canonical_url, n_dups, keep_doc_id = min lineage id). Identical shape
    to content dedup_exact but on the URL key, which at crawl scale runs
    FIRST (it needs no text bytes, so it prunes fetch/storage before any
    content pass). One shuffle on the canonical key; hot keys are bounded
    by per-site crawl frequency, the same boundedness argument as the
    stop-shingle cut of dedup.minhash_lsh_dups."""
    return (
        pages.select(
            canonicalize_url(F.col(url_col)).alias("canonical_url"), "doc_id"
        )
        .groupBy("canonical_url")
        .agg(
            F.count("*").alias("n_dups"),
            F.min("doc_id").alias("keep_doc_id"),
        )
    )


def source_mix(
    docs: DataFrame, source_col: str = "source", scale: int = 4
) -> DataFrame:
    """Temperature-weighted source mixing (the Pile / multilingual-sampling
    alpha=0.5 rule): per-source target = floor(sqrt(n_source) * scale) —
    up-weights small sources, tempers the head — then DETERMINISTIC
    hash-rate selection: keep doc iff
    ``((doc_id*1103515245 + 12345) % 2^31) % n_source < target``.

    The selection is a pure map-side filter against a broadcast per-source
    dim — NO per-source row_number window (a per-group window would funnel
    each source through one partition: the exact skew trap at corpus
    scale). sqrt is IEEE-correctly-rounded so floor(sqrt(n)*scale) is
    bit-identical in Spark and DuckDB; the LCG hash is exact BIGINT
    arithmetic (doc_id*1103515245 < 2^63 for any realistic id).

    Returns the per-source mix summary (n_total, target_n, n_selected)."""
    counts = docs.groupBy(source_col).agg(F.count("*").alias("n_total"))
    targets = counts.withColumn(
        "target_n",
        F.expr("cast(floor(sqrt(n_total) * " + str(scale) + ") as bigint)"),
    )
    hashed = docs.join(F.broadcast(targets), source_col).withColumn(
        "_sel",
        F.expr(
            "((doc_id * 1103515245 + 12345) % 2147483648) % n_total"
        ) < F.col("target_n"),
    )
    return hashed.groupBy(source_col, "n_total", "target_n").agg(
        F.sum(F.col("_sel").cast("long")).alias("n_selected")
    )


def familiarity_stats(docs: DataFrame) -> DataFrame:
    """Corpus-LM familiarity scoring — the integer-exact stand-in for
    CCNet's perplexity buckets (Wenzek et al. 2020 §4.3: score each doc
    with an LM trained on the corpus/reference distribution, bucket by
    perplexity, keep/temper the buckets).

    Two-pass unigram LM over the corpus itself: pass 1 aggregates token
    counts (output bounded by vocabulary, orders smaller than the corpus —
    always broadcastable); pass 2 joins tokens against the broadcast model
    and rolls up per doc:

    - ``mean_tok_freq`` = sum(corpus_count(tok)) div n_tokens — monotone in
      the unigram likelihood, so it induces the same bucket ORDER as
      perplexity would;
    - ``mean_zipf_rank_milli`` = sum(zipf_rank(tok)) * 1000 div n_tokens —
      the rank-space view (rare-token-heavy docs score high).

    Both are exact BIGINT arithmetic: no ``ln`` anywhere, because float
    ``ln``/``exp`` are not bit-identical across engines (JVM StrictMath vs
    DuckDB's libm) and the gate hashes values. A monotone transform changes
    no downstream keep/drop decision. The Zipf rank is computed by a window
    over the VOCABULARY table only (tie-broken by token text, so it is
    deterministic) — a window over an aggregate dim, not the corpus: no
    skew funnel.
    """
    toks = tokens_df(docs, by_doc=False).select("doc_id", "tok").filter(
        F.col("tok") != "")
    vocab = toks.groupBy("tok").agg(F.count("*").alias("freq"))
    w = Window.orderBy(F.col("freq").desc(), F.col("tok").asc())
    model = vocab.withColumn("zipf_rank", F.row_number().over(w))
    scored = toks.join(F.broadcast(model), "tok")
    return scored.groupBy("doc_id").agg(
        F.count("*").alias("n_tokens"),
        F.expr("sum(freq) div count(*)").alias("mean_tok_freq"),
        F.expr("sum(zipf_rank) * 1000 div count(*)").alias(
            "mean_zipf_rank_milli"
        ),
    )


def decontaminate_score(
    docs: DataFrame, n: int = 5, bench_mod: int = 50, bench_rem: int = 7,
) -> DataFrame:
    """Fractional benchmark-contamination scoring: for every non-benchmark
    doc, the share of its DISTINCT word ``n``-grams that appear anywhere in
    the held-out benchmark slice, in exact integer ppm.

    Extends ``decontaminate``'s binary flag to the graded overlap the
    open-data decontamination literature actually thresholds on (e.g.
    PaLM/GPT-3 report 70%-of-8-grams-style overlap fractions, not any-hit
    booleans) — a doc quoting one common phrase is not the same as a doc
    embedding half the eval set.

    Same engine shape as ``decontaminate``: the benchmark shingle dim is
    bounded by the benchmark (broadcastable at any corpus size), the hit
    test is one semi-join, totals and hits are per-doc aggregates keyed by
    doc_id (uniform shuffle). Zero-hit docs are kept with score 0 — the
    keep-list is the point.
    """
    sh = shingles_df(docs, n)  # distinct (doc_id, shingle)
    is_bench = F.pmod(F.col("doc_id"), F.lit(bench_mod)) == bench_rem
    bench_sh = sh.filter(is_bench).select("shingle").distinct()
    train = sh.filter(~is_bench)
    totals = train.groupBy("doc_id").agg(F.count("*").alias("n_shingles"))
    hits = (
        train.join(bench_sh, "shingle", "left_semi")
        .groupBy("doc_id")
        .agg(F.count("*").alias("n_hits"))
    )
    return (
        totals.join(hits, "doc_id", "left")
        .select(
            "doc_id",
            "n_shingles",
            F.coalesce(F.col("n_hits"), F.lit(0)).alias("n_hits"),
            F.expr(
                "coalesce(n_hits, 0) * 1000000 div n_shingles"
            ).alias("contamination_ppm"),
        )
    )


def gopher_filter(
    docs: DataFrame,
    text_col: str = "text",
    min_words: int = 50,
    max_words: int = 100_000,
    min_mean_len: int = 3,
    max_mean_len: int = 10,
    max_symbol_ppm: int = 100_000,
    min_stopwords: int = 2,
) -> DataFrame:
    """Gopher-style document quality rules (Rae et al. 2021, App. A —
    the filter battery every pre-training corpus applies before dedup):
    word-count bounds, mean-word-length bounds, symbol-to-word ratio cap,
    and a minimum distinct-stopword requirement. Emits per doc the raw
    measurements, a REASONS BITMASK (1=wordcount, 2=meanlen, 4=symbols,
    8=stopwords) and the keep verdict — pipelines filter on ``keep`` but
    audit on the bitmask (which rule fired where is the tuning signal).

    Exactness discipline: every ratio test is integer cross-multiplied
    (``sum_len between min*n and max*n``, ``symbols * 1e6 <= cap * n``) —
    no float division anywhere, so the oracle is bit-exact. One map-side
    pass over the corpus: zero shuffle, fused with the scan; the stopword
    set is a 6-element array literal evaluated per row (no join)."""
    words = F.filter(F.split(F.col(text_col), " "), lambda w: w != "")
    stop = F.array(*[F.lit(s) for s in ("the", "a", "of", "and", "to", "in")])
    m = docs.select(
        "doc_id",
        F.size(words).cast("long").alias("n_words"),
        F.aggregate(
            words, F.lit(0).cast("long"), lambda acc, w: acc + F.length(w)
        ).alias("sum_len"),
        F.size(
            F.filter(words, lambda w: w.rlike("^[#$%&*+=@^~]+$") | (w == "..."))
        ).cast("long").alias("n_symbols"),
        F.size(F.array_intersect(stop, words)).cast("long").alias("n_stopwords"),
    )
    r_words = ~F.col("n_words").between(min_words, max_words)
    r_len = ~F.col("sum_len").between(
        F.lit(min_mean_len) * F.col("n_words"),
        F.lit(max_mean_len) * F.col("n_words"),
    )
    r_sym = (F.col("n_symbols") * F.lit(1_000_000)) > (
        F.lit(max_symbol_ppm) * F.col("n_words")
    )
    r_stop = F.col("n_stopwords") < min_stopwords
    reasons = (
        r_words.cast("long")
        + F.shiftleft(r_len.cast("long"), 1)
        + F.shiftleft(r_sym.cast("long"), 2)
        + F.shiftleft(r_stop.cast("long"), 3)
    )
    return m.withColumn("reasons", reasons.cast("long")).withColumn(
        "keep", F.col("reasons") == 0
    )


def apportion_budget(
    weights: DataFrame,
    budget: int,
    key_col: str = "host",
    weight_col: str = "n_tokens",
) -> DataFrame:
    """Largest-remainder (Hamilton) apportionment of an integer sampling
    budget across sources — the mixture-quota step of corpus building
    (allocate B training tokens across domains/sources proportional to
    their size, exactly: ``sum(alloc) == budget`` with no float drift).

    base_i = B * w_i div W; the leftover B - sum(base) units go one each
    to the largest (B * w_i) mod W remainders, (remainder desc, key asc)
    tie-broken. Exact integer arithmetic throughout.

    The two scalars (total weight, leftover) are single-value driver
    collects folded back as literals — the pack_sequences discipline —
    so the RETURNED plan carries no SinglePartition exchange at all (a
    plan-pinned regression test); the global remainder rank uses the
    same two-phase scan as ``pack_sequences`` (range-partition on the
    sort key, per-partition row_number, numPartitions-row offsets
    broadcast back): at web scale the "dim" is tens of millions of
    registered domains, so the rank must be distributed.
    """
    raw_total = weights.agg(F.sum(weight_col).cast("long")).first()[0]  # bound: one row
    if raw_total is None or raw_total <= 0:
        # empty frontier / all-zero weights: nothing to apportion — return
        # an empty zero-alloc frame with the contract schema instead of
        # crashing on int(None) or folding a `div 0` into the plan (a
        # crawl round that discovers no new hosts must not kill the job)
        return weights.select(
            F.col(key_col),
            F.col(weight_col).cast("long").alias(weight_col),
            F.lit(0).cast("long").alias("base_quota"),
            F.lit(0).cast("long").alias("rem"),
            F.lit(0).cast("long").alias("extra"),
            F.lit(0).cast("long").alias("alloc"),
        ).limit(0)
    w_total = int(raw_total)
    j = weights.select(
        F.col(key_col).alias("key"),
        F.col(weight_col).cast("long").alias("weight"),
        F.expr(f"CAST({budget} AS BIGINT) * {weight_col} div {w_total}")
        .cast("long")
        .alias("base_quota"),
        F.expr(f"(CAST({budget} AS BIGINT) * {weight_col}) % {w_total}")
        .cast("long")
        .alias("rem"),
    ).localCheckpoint()  # three consumers (leftover agg, counts, final)
    leftover = budget - int(j.agg(F.sum("base_quota")).first()[0])  # bound: one row
    ranged = (
        j.repartitionByRange(F.col("rem").desc(), F.col("key").asc())
        .withColumn("_pid", F.spark_partition_id())
        .localCheckpoint()  # two consumers; freeze the pids
    )
    w = Window.partitionBy("_pid").orderBy(
        F.col("rem").desc(), F.col("key").asc()
    )
    counts = ranged.groupBy("_pid").agg(F.count("*").alias("_n")).orderBy(
        "_pid"
    ).collect()  # bound: one row per range partition
    offsets, acc = {}, 0
    for r in counts:
        offsets[r["_pid"]] = acc
        acc += r["_n"]
    off_df = arrow_local_df(
        ranged.sparkSession,
        [(int(p), int(o)) for p, o in offsets.items()], "_pid int, _off long",
    )
    rank = (F.col("_off") + F.row_number().over(w)).cast("long")
    return (
        ranged.join(F.broadcast(off_df), "_pid")
        .withColumn("_rank", rank)
        .withColumn("extra", (F.col("_rank") <= leftover).cast("long"))
        .select(
            F.col("key").alias(key_col),
            F.col("weight").alias(weight_col),
            "base_quota",
            "rem",
            "extra",
            (F.col("base_quota") + F.col("extra")).cast("long").alias("alloc"),
        )
    )


def dsir_weights(
    docs: DataFrame,
    target_lang: str = "en",
    buckets: int = 1024,
) -> DataFrame:
    """DSIR-style importance weights (Xie et al. 2023, arXiv:2302.03169):
    score each doc by how much its hashed-n-gram features look like a
    TARGET distribution relative to the raw corpus, for importance
    resampling toward the target.

    Features are word bigrams hashed into ``buckets`` (``md5_uniform``,
    the engine↔oracle-portable hasher); the per-bucket log-ratio uses the
    BIT-LENGTH log2 proxy ``bitlen(count+1)`` =
    ``length(bin(count+1))`` — exact integer, identical in Spark and DuckDB,
    monotone in the count, so bucket ratios rank the same way the float
    ``log p_target/p_raw`` would at the resolution that matters for
    resampling tiers (no ``ln``: float transcendentals are not bit-identical
    across engines and the gate hashes values).

    Scale shape: the feature dim is bounded by ``buckets`` (broadcast), both
    distribution passes are partial-aggregated groupBys on the bucket key
    (uniform by hashing), and scoring is one broadcast join + one per-doc
    rollup. Nothing collects.
    """
    # Bigram features are the 2-grams of ``dedup.tokens_df``, with
    # ``lang`` riding along. ``bg`` feeds THREE consumers (raw dist,
    # target dist, scoring join) — materialize it once; recomputing the
    # explode+md5 pass per consumer profiled as 3 single-task ~600 ms
    # stages (at cluster scale this is a checkpoint stage table, the
    # minhash ``sh`` discipline).
    bg = (
        tokens_df(docs, 2)
        .filter(F.col("shingle").isNotNull())
        .select("doc_id", "lang",
                (md5_uniform(F.col("shingle")) % buckets).alias("b"))
        .localCheckpoint()
    )
    raw = bg.groupBy("b").agg(F.count(F.lit(1)).alias("rc"))
    tgt = (
        bg.filter(F.col("lang") == target_lang)
        .groupBy("b").agg(F.count(F.lit(1)).alias("tc"))
    )
    llr = raw.join(tgt, "b", "left").select(
        "b",
        (
            F.length(F.bin(F.coalesce(F.col("tc"), F.lit(0)) + 1))
            - F.length(F.bin(F.col("rc") + 1))
        ).cast("long").alias("l"),
    )
    return (
        bg.join(F.broadcast(llr), "b")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_bigrams"),
            F.sum("l").alias("dsir_score"),
        )
    )
