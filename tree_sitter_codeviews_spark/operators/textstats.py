"""Text analysis for training-data pipelines: token stats, quality scoring,
language-ID heuristic, document fingerprinting. Token/quality/fingerprint are
fully native JVM expressions; langid is a vectorized Arrow UDF (pandas C
string kernels, no per-row Python)."""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.functions import pandas_udf

from .dedup import md5_uniform, tokens_df

STOPWORDS = ("the", "a")


def token_stats(docs: DataFrame) -> DataFrame:
    """(doc_id, n_tokens, n_distinct) — native split/array ops, no shuffle."""
    w = F.split(F.col("text"), " ")
    return docs.select(
        "doc_id",
        F.size(w).alias("n_tokens"),
        F.size(F.array_distinct(w)).alias("n_distinct"),
    )


# BPE-ish pre-tokenizer: letter runs / digit runs / punctuation runs, the
# lookahead-free core of the GPT-2 split regex — RE2-compatible, so the
# DuckDB oracle runs the identical pattern.
BPE_SPLIT_RE = r"[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]+"


def bpe_token_stats(docs: DataFrame) -> DataFrame:
    """(doc_id, n_bpe_tokens, n_bpe_distinct, n_alpha_tokens): counts over
    the BPE-ish regex split — the token-budget estimator a training-data
    pipeline runs per document. Native regexp_extract_all, zero shuffle."""
    toks = F.regexp_extract_all(F.col("text"), F.lit(BPE_SPLIT_RE), 0)
    return docs.select(
        "doc_id",
        F.size(toks).alias("n_bpe_tokens"),
        F.size(F.array_distinct(toks)).alias("n_bpe_distinct"),
        F.size(F.filter(toks, lambda t: t.rlike("^[A-Za-z]+$"))).alias("n_alpha_tokens"),
    )


def quality_scores(docs: DataFrame) -> DataFrame:
    """(doc_id, n_chars_out, n_tokens, avg_token_len, stopword_ratio,
    distinct_ratio) — the usual cheap quality heuristics, all native."""
    w = F.split(F.col("text"), " ")
    n_tok = F.size(w)
    sum_len = F.aggregate(
        F.transform(w, lambda t: F.length(t)), F.lit(0), lambda acc, v: acc + v
    )
    n_stop = F.size(F.filter(w, lambda t: t.isin(*STOPWORDS)))
    return docs.select(
        "doc_id",
        F.length(F.col("text")).alias("n_chars_out"),
        n_tok.alias("n_tokens"),
        F.round(sum_len * F.lit(1.0) / n_tok, 6).alias("avg_token_len"),
        F.round(n_stop * F.lit(1.0) / n_tok, 6).alias("stopword_ratio"),
        F.round(F.size(F.array_distinct(w)) * F.lit(1.0) / n_tok, 6).alias("distinct_ratio"),
    )


def lang_stats(docs: DataFrame) -> DataFrame:
    """(lang, n_docs, avg_chars) rollup of the declared-language column."""
    return docs.groupBy("lang").agg(
        F.count("*").alias("n_docs"),
        F.round(F.avg(F.col("n_chars")), 6).alias("avg_chars"),
    )


# --- language-ID heuristic (char n-gram profile) ---------------------------

_PROFILES = {
    # tiny per-language trigram marker sets (public-knowledge heuristics)
    "en": (" th", "the", "ing", " an"),
    "de": ("der", "ein", "sch", " un"),
    "fr": (" le", "les", "ent", " de"),
    "es": (" el", " de", "ción", "los"),
    "pt": (" os", "ção", " um", " de"),
    "zh": (),  # CJK detected by codepoint range
}


@pandas_udf(T.StringType())
def langid_udf(text: pd.Series) -> pd.Series:
    """Vectorized: one ``str.count`` pass per marker trigram (C regex loop),
    column-wise argmax with the same (score, lang) tie-break as the scalar
    reference — no per-row Python."""
    import re as _re

    t = text.fillna("")
    scores = {
        lang: sum(t.str.count(_re.escape(g)) for g in grams)
        for lang, grams in _PROFILES.items()
        if grams
    }
    sc = pd.DataFrame(scores, index=t.index)
    # idxmax picks the FIRST column on ties; reverse-lex column order makes
    # that the lexicographically largest language == the scalar tie-break
    sc = sc[sorted(sc.columns, reverse=True)]
    best = sc.idxmax(axis=1).where(sc.max(axis=1) > 0, "und")
    cjk = t.str.slice(0, 200).str.contains("[一-鿿]", regex=True)
    return best.mask(cjk, "zh").where(t.str.len() > 0, "und")


def langid(docs: DataFrame) -> DataFrame:
    return docs.select("doc_id", "lang", langid_udf(F.col("text")).alias("pred_lang"))


# --- document fingerprint (polynomial rolling hash) -------------------------
#
# Spec (shared with the DuckDB oracle, oracle.text_fingerprint_sql):
#   token hash th = int(md5(token)[:7 hex], 16)           (28 bits)
#   fp = fold over tokens of (fp * 1000003 + th) % (2^31 - 1)
# Every intermediate fits int64 exactly (2^31 * 1000003 + 2^28 < 2^51), so
# the whole computation runs as a native JVM ``aggregate`` expression — zero
# Python — and hashes bit-identically against the SQL oracle. (The round-1
# per-character Python UDF was the repo's worst hot path at text scale.)

_FP_BASE = 1000003
_FP_MOD = (1 << 31) - 1


def fingerprint_col(text: F.Column) -> F.Column:
    """Native order-sensitive rolling hash: md5 per token + int64 fold."""
    return F.aggregate(
        F.transform(F.split(text, " "), md5_uniform),
        F.lit(0).cast("long"),
        lambda acc, v: (acc * _FP_BASE + v) % _FP_MOD,
    )


def fingerprints(docs: DataFrame) -> DataFrame:
    """(doc_id, fingerprint): order-sensitive rolling hash — two docs with the
    same token multiset but different order get different prints (unlike the
    shingle methods)."""
    return docs.select(
        "doc_id", fingerprint_col(F.col("text")).alias("fingerprint")
    )


# --- deterministic sampling / split (training-data curation) ----------------
#
# Content-hash sampling, NOT rand()/sample(): the decision for a document is
# a pure function of its id, so it is identical across partitionings, retries
# and engines (rand-based sample() is partitioning-dependent and can't be
# oracle-checked). u(doc) = ``md5_uniform`` of the salted id string -> uniform
# int in [0, 16^7); the same hash the fingerprint column uses per token.

SAMPLE_RATES = {"en": 0.5, "de": 0.3, "fr": 0.3}   # per-language keep rates
SAMPLE_DEFAULT_RATE = 0.1
HOLDOUT_FRAC = 0.1                                  # of kept docs

_U_MAX = 16 ** 7


def _uniform_col(key: F.Column, salt: str) -> F.Column:
    """Deterministic uniform int in [0, 16^7) from (salt, key)."""
    return md5_uniform(F.concat(F.lit(salt), key.cast("string")))


def stratified_sample(docs: DataFrame) -> DataFrame:
    """(doc_id, lang, split): per-language keep rates + train/heldout split,
    all decided by content hash. The standard curation step before training:
    downsample over-represented languages, carve out a holdout — with
    end-to-end reproducibility (re-running on re-partitioned data yields the
    byte-identical sample)."""
    rate = F.lit(SAMPLE_DEFAULT_RATE)
    for lang, r in sorted(SAMPLE_RATES.items()):
        rate = F.when(F.col("lang") == lang, F.lit(r)).otherwise(rate)
    u_keep = _uniform_col(F.col("doc_id"), "keep:")
    u_split = _uniform_col(F.col("doc_id"), "split:")
    return (
        docs.select("doc_id", "lang")
        .filter(u_keep < (rate * _U_MAX).cast("long"))
        .withColumn(
            "split",
            F.when(u_split < int(HOLDOUT_FRAC * _U_MAX), F.lit("heldout"))
            .otherwise(F.lit("train")),
        )
    )


def normalize_text_col(text: F.Column) -> F.Column:
    """Canonical cleaning: lowercase, strip punctuation runs to a space,
    collapse whitespace, trim — all native JVM string ops with RE2-safe
    patterns shared verbatim by the SQL oracle."""
    t = F.lower(text)
    t = F.regexp_replace(t, r"[^a-z0-9\s]+", " ")
    t = F.regexp_replace(t, r"\s+", " ")
    return F.trim(t)


def normalized_docs(docs: DataFrame) -> DataFrame:
    """(doc_id, n_norm_chars, norm_hash): the normalize-then-fingerprint
    step of a cleaning pipeline; md5 of the normalized text makes the row
    cheap to gate and is itself the key exact-dedup runs on post-cleaning."""
    norm = normalize_text_col(F.col("text"))
    return docs.select(
        "doc_id",
        F.length(norm).alias("n_norm_chars"),
        F.md5(norm).alias("norm_hash"),
    )


def bigram_lm(docs: DataFrame, k: int = 3) -> DataFrame:
    """Count-based bigram LM induction: per token the top-``k`` next-token
    continuations with exact integer conditional probability
    (``cnt * 1e6 div first_cnt`` ppm) — the n-gram LM backbone of corpus
    QUALITY scoring (the KenLM role in CCNet, reduced to its count core;
    the familiarity operator consumes unigram stats, this is the order-2
    table).

    Positional bigrams are the 2-grams of ``tokens_df`` (no self-join, no
    doc exchange: every aggregate here is token-keyed), one (token, next)
    aggregate, the first-token marginal derived FROM the
    bigram table (sum over continuations — the proper conditional
    denominator), and a per-token row_number window whose partitions are
    bounded by vocabulary fan-out, not corpus size."""
    # a token never holds a space, so the 2-gram's one space ends ``tok``
    # and the next token is the text after it
    pairs = tokens_df(docs, 2, by_doc=False).filter(
        F.col("shingle").isNotNull()
    ).select(
        F.col("tok").alias("token"),
        F.substring_index("shingle", " ", -1).alias("next_token"),
    )
    bg = pairs.groupBy("token", "next_token").agg(F.count("*").alias("cnt"))
    first = bg.groupBy("token").agg(F.sum("cnt").alias("first_cnt"))
    w = Window.partitionBy("token").orderBy(
        F.col("cnt").desc(), F.col("next_token").asc()
    )
    return (
        bg.join(first, "token")
        .withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= k)
        .select(
            "token",
            F.col("rnk").cast("int").alias("rnk"),
            "next_token",
            F.col("cnt").cast("long").alias("cnt"),
            F.expr("cnt * 1000000 div first_cnt").cast("long")
            .alias("cond_ppm"),
        )
    )


def length_quantiles(docs: DataFrame) -> DataFrame:
    """Exact per-source doc-length quantiles (p50/p90/p99 of n_chars) by
    deterministic rank selection: row_number over (n_chars, doc_id) and
    pick rank ceil(q*n) — the corpus-health panel a curation pipeline
    watches per source/snapshot.

    Exact per-group quantiles fundamentally sort each group; the window
    funnels each source into one task, acceptable because the source dim
    is bounded (a mixture has tens of sources, not millions) and the
    selection rule must be exact to gate on. At corpus scale swap in a
    two-phase range-partitioned selection or an approx sketch when ±ε
    is tolerable."""
    w = Window.partitionBy("source").orderBy("n_chars", "doc_id")
    ranked = docs.select("source", "n_chars", "doc_id").withColumn(
        "rn", F.row_number().over(w)
    ).withColumn("n", F.count(F.lit(1)).over(Window.partitionBy("source")))

    def pick(q: int):
        return F.max(
            F.when(F.col("rn") == F.expr(f"({q} * n + 99) div 100"), F.col("n_chars"))
        ).cast("long")

    return ranked.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        pick(50).alias("p50_chars"),
        pick(90).alias("p90_chars"),
        pick(99).alias("p99_chars"),
    )
