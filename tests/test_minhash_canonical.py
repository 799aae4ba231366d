"""Bit-equality of the exact-dup-collapsed ``minhash_lsh_dups`` against the
uncollapsed reference pipeline (the pre-r6 implementation, inlined here as
the independent check).

The collapse is lossless because identical texts have identical shingle
sets — hence identical signatures, band buckets, per-doc counts and
Jaccard values. The fixtures exercise every edge the proof leans on:
dup groups of size 1..4, near-dup pairs straddling the threshold, a
duplicated text too short to shingle (must emit NO within-group pairs),
and a member-weighted stop-shingle cut where doc-level and text-level
document frequency DIFFER (weighted df must reproduce doc-level
semantics bit-for-bit).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from tree_sitter_codeviews_spark.operators import dedup
from tree_sitter_codeviews_spark.operators.dedup import (
    lsh_candidate_pairs,
    minhash_signatures_from,
    shingles_df,
)
from tests.reference_impl import prune_stop_shingles


def _reference_lsh_dups(
    docs: DataFrame, n: int = 3, threshold: float = 0.5,
    max_df: int | None = None,
) -> DataFrame:
    """The uncollapsed pipeline, verbatim (pre-collapse implementation)."""
    sh = shingles_df(docs, n)
    if max_df is not None:
        sh = prune_stop_shingles(sh, max_df)
    sh = sh.localCheckpoint()
    sigs = minhash_signatures_from(sh, with_count=True)
    cand = lsh_candidate_pairs(sigs)
    cnt = sigs.select("doc_id", "n_sh")
    pa = cand.join(
        sh.select(F.col("doc_id").alias("doc_id_a"), "shingle"), "doc_id_a")
    inter = (
        pa.join(
            sh.select(F.col("doc_id").alias("doc_id_b"), "shingle"),
            ["doc_id_b", "shingle"],
        )
        .groupBy("doc_id_a", "doc_id_b")
        .agg(F.count("*").alias("inter"))
    )
    ca = cnt.select(F.col("doc_id").alias("doc_id_a"), F.col("n_sh").alias("na"))
    cb = cnt.select(F.col("doc_id").alias("doc_id_b"), F.col("n_sh").alias("nb"))
    j = (F.col("inter") * F.lit(1.0)) / (
        F.col("na") + F.col("nb") - F.col("inter"))
    return (
        inter.join(ca, "doc_id_a").join(cb, "doc_id_b")
        .withColumn("jaccard", F.round(j, 6))
        .filter(F.col("jaccard") >= threshold)
        .select("doc_id_a", "doc_id_b", "jaccard")
    )


def _fixture(spark) -> DataFrame:
    near_a = "the quick brown fox jumps over the lazy dog today"
    near_b = "the quick brown fox jumps over the lazy cat today"  # ~0.67
    far = "completely different words compose this other document here now"
    hot = "alpha beta gamma " + near_a  # shares shingles with near_a
    rows = [
        # dup group of 3 on near_a (reps expand to 3 within-pairs)
        (1, near_a), (5, near_a), (9, near_a),
        # dup group of 2 on near_b — cross pairs vs the near_a group
        (2, near_b), (7, near_b),
        # singleton far text
        (3, far),
        # dup group of 4 on hot: weighted df of hot's shingles is 4+ even
        # though only ONE distinct text carries them
        (4, hot), (6, hot), (8, hot), (10, hot),
        # duplicated SHORT text (< 3 tokens -> zero shingles): the pair
        # (11, 12) must NOT appear in the output
        (11, "too short"), (12, "too short"),
    ]
    return spark.createDataFrame(rows, ["doc_id", "text"])


def _rows(df: DataFrame):
    return sorted(
        (r.doc_id_a, r.doc_id_b, r.jaccard)
        for r in df.collect()
    )


def test_collapse_matches_reference_no_prune(spark):
    docs = _fixture(spark)
    got = _rows(dedup.minhash_lsh_dups(docs, n=3, threshold=0.5))
    exp = _rows(_reference_lsh_dups(docs, n=3, threshold=0.5))
    assert got == exp
    # non-vacuous: within-group AND cross-group pairs both present
    assert (1, 5, 1.0) in got and (5, 9, 1.0) in got
    assert any(a != b and j < 1.0 for a, b, j in got)
    # the unshingleable dup pair is absent
    assert all((a, b) != (11, 12) for a, b, j in got)


def test_collapse_matches_reference_weighted_prune(spark):
    """max_df between the TEXT-level and DOC-level frequency of a dup
    group's shingles: doc-level df semantics must win (the hot group's 4
    members push its shingles over max_df=3 even though only one distinct
    text carries them)."""
    docs = _fixture(spark)
    for max_df in (2, 3, 4, 100):
        got = _rows(dedup.minhash_lsh_dups(docs, n=3, threshold=0.5,
                                           max_df=max_df))
        exp = _rows(_reference_lsh_dups(docs, n=3, threshold=0.5,
                                        max_df=max_df))
        assert got == exp, f"max_df={max_df}"
    # at max_df=3 the hot group's 4 members prune its unique shingles but
    # near_a-shared shingles survive in the near_a group (df 3) — the
    # asymmetry only doc-level weighting produces; both must agree above.


def test_collapse_matches_reference_threshold_1(spark):
    docs = _fixture(spark)
    got = _rows(dedup.minhash_lsh_dups(docs, n=3, threshold=1.0))
    exp = _rows(_reference_lsh_dups(docs, n=3, threshold=1.0))
    assert got == exp
    assert got, "threshold=1.0 must still keep exact-dup pairs"
