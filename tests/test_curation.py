"""Curation operators: decontamination, sequence packing, PII scrubbing.

Oracle equality is covered by the gate mirror (test_entry_gate); these pin
the operator-level contracts — scale shapes and invariances.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from tree_sitter_codeviews_spark.operators import curation
from tree_sitter_codeviews_spark.queries import _docs, text_pii_scrub


def test_decontaminate_excludes_benchmark_and_flags_overlap(spark, sf_tiny):
    docs = _docs(spark, sf_tiny)
    out = curation.decontaminate(docs, n=4)
    # benchmark docs never appear in the output
    assert out.filter(F.col("doc_id") % 50 == 7).count() == 0
    # the planted near-dup structure makes some train docs overlap
    assert out.filter("contaminated").count() > 0
    # every doc outside the benchmark slice gets a row (keep-list semantics)
    assert out.count() == docs.filter(F.col("doc_id") % 50 != 7).count()


def test_pack_sequences_is_partitioning_invariant(spark, sf_tiny):
    """bin assignment must be a pure function of the doc_id order — the
    same result at any parallelism (the retry/cluster-resize contract)."""
    docs = _docs(spark, sf_tiny)
    a = curation.pack_sequences(docs).collect()
    b = curation.pack_sequences(docs.repartition(37)).collect()
    assert sorted(map(tuple, a)) == sorted(map(tuple, b))


def test_pack_sequences_matches_serial_prefix_sum(spark, sf_tiny):
    docs = _docs(spark, sf_tiny)
    rows = curation.pack_sequences(docs).collect()
    got = {r["doc_id"]: (r["bin_id"], r["offset_in_bin"]) for r in rows}
    serial = sorted((r["doc_id"], r["n_tokens"]) for r in rows)
    cum = 0
    for doc_id, n in serial:
        assert got[doc_id] == (cum // 512, cum % 512), doc_id
        cum += n


def test_pack_sequences_plan_has_no_single_partition_exchange(spark, sf_tiny):
    """The whole point vs ``Window.orderBy`` packing: no stage funnels the
    corpus through one partition."""
    out = curation.pack_sequences(_docs(spark, sf_tiny))
    out.collect()
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "SinglePartition" not in plan


def test_pii_scrub_redacts_planted_pii(spark, sf_tiny):
    out = text_pii_scrub(spark, sf_tiny)
    rows = out.collect()
    for r in rows:
        m = r["doc_id"] % 4
        assert r["n_emails"] == (1 if m == 0 else 0), r
        assert r["n_long_digits"] == (1 if m in (1, 2) else 0), r


def test_pii_scrub_hash_tracks_redaction(spark, sf_tiny):
    """Docs whose injected text contained PII must hash differently from
    the raw injected text (the scrub actually rewrote something)."""
    docs = _docs(spark, sf_tiny).withColumn(
        "text", F.concat(F.col("text"), F.lit(" mail me at a@b.io"))
    )
    out = curation.pii_scrub(docs).join(
        docs.select("doc_id", F.md5("text").alias("raw_hash")), "doc_id"
    )
    assert out.filter(F.col("clean_hash") == F.col("raw_hash")).count() == 0
    assert out.filter(F.col("n_emails") != 1).count() == 0


def test_strip_boilerplate_removes_frequent_segments_only(spark, sf_tiny):
    from pyspark.sql import functions as F

    docs = _docs(spark, sf_tiny)
    out = curation.strip_boilerplate(docs, max_docs=2)
    assert out.count() == docs.count()          # every doc keeps a row
    assert out.filter("n_kept < n_segs").count() > 0   # something stripped
    assert out.filter("n_kept > n_segs").count() == 0  # never invents segs
    # with the cut disabled (max_docs >= corpus size) nothing is stripped
    # and the reassembly round-trips the original text hash exactly
    intact = curation.strip_boilerplate(docs, max_docs=10**9)
    joined = intact.join(docs.select("doc_id", F.md5("text").alias("h")), "doc_id")
    assert joined.filter(F.col("clean_hash") != F.col("h")).count() == 0


def test_repetition_stats_hand_computed(spark):
    """'a b a b c' -> grams [a b, b a, a b, b c]: 4 grams, top 'a b'=2
    (500000 ppm), dup share = (4-3)/4 = 250000 ppm. One-word docs drop."""
    docs = spark.createDataFrame(
        [(1, "a b a b c"), (2, "solo")], ["doc_id", "text"]
    )
    rows = {r.doc_id: r for r in curation.repetition_stats(docs).collect()}
    assert set(rows) == {1}
    assert rows[1].n_grams == 4
    assert rows[1].top_gram_ppm == 500000
    assert rows[1].dup_gram_ppm == 250000


def test_canonicalize_url_variants_collapse(spark):
    """tracking params / fragment / trailing slash / host case all fold to
    one canonical form; distinct paths stay distinct."""
    urls = [
        "https://Host1.Example/doc/7",
        "https://host1.example/doc/7?utm_source=feed&utm_medium=rss",
        "https://host1.example/doc/7#frag",
        "HTTPS://HOST1.EXAMPLE/doc/7/",
        "https://host1.example/doc/8",
    ]
    df = spark.createDataFrame([(i, u) for i, u in enumerate(urls)],
                               ["doc_id", "url"])
    out = df.select(curation.canonicalize_url(F.col("url")).alias("c")).collect()
    canon = [r.c for r in out]
    assert canon[:4] == ["https://host1.example/doc/7"] * 4
    assert canon[4] == "https://host1.example/doc/8"


def test_url_canonical_dedup_groups(spark):
    pages = spark.createDataFrame(
        [(10, "https://a.example/x?utm_a=1"), (11, "https://A.EXAMPLE/x#y"),
         (12, "https://a.example/z")],
        ["doc_id", "url"],
    )
    rows = {r.canonical_url: (r.n_dups, r.keep_doc_id)
            for r in curation.url_canonical_dedup(pages).collect()}
    assert rows["https://a.example/x"] == (2, 10)
    assert rows["https://a.example/z"] == (1, 12)


def test_source_mix_targets_and_determinism(spark):
    """target = floor(sqrt(n)*scale); small sources keep everything
    (target >= n), the big source is tempered below its size; the hash
    selection is deterministic across runs."""
    rows = [(i, "big") for i in range(100)] + [(1000 + i, "small") for i in range(4)]
    docs = spark.createDataFrame(rows, ["doc_id", "source"])
    out1 = {r.source: r for r in curation.source_mix(docs).collect()}
    out2 = {r.source: r for r in curation.source_mix(docs).collect()}
    assert out1["big"].target_n == 40 and out1["small"].target_n == 8
    assert out1["big"].n_selected < 100        # genuinely down-sampled
    assert out1["small"].n_selected == 4       # small source fully kept
    assert {s: (v.n_selected) for s, v in out1.items()} == \
           {s: (v.n_selected) for s, v in out2.items()}


def test_familiarity_stats_hand_computed(spark):
    """corpus: 'a a b' + 'a c' -> freqs a=3,b=1,c=1; ranks a=1,b=2,c=3
    (freq desc, token asc tie-break). doc1: mean_freq=(3+3+1)div 3=2,
    mean_rank_milli=(1+1+2)*1000 div 3=1333. doc2: (3+1)div 2=2,
    (1+3)*1000 div 2=2000."""
    docs = spark.createDataFrame([(1, "a a b"), (2, "a c")], ["doc_id", "text"])
    rows = {r.doc_id: r for r in curation.familiarity_stats(docs).collect()}
    assert (rows[1].n_tokens, rows[1].mean_tok_freq,
            rows[1].mean_zipf_rank_milli) == (3, 2, 1333)
    assert (rows[2].n_tokens, rows[2].mean_tok_freq,
            rows[2].mean_zipf_rank_milli) == (2, 2, 2000)


def test_decontaminate_score_fraction(spark):
    """bench doc 7 (mod 50): 'w1 w2 w3 w4 w5 w6' -> 2 distinct 5-grams.
    train doc 0 shares exactly one of them among its 3 distinct 5-grams ->
    333333 ppm; train doc 1 shares none -> 0 ppm and still present."""
    docs = spark.createDataFrame(
        [
            (7, "w1 w2 w3 w4 w5 w6"),
            (0, "x0 w1 w2 w3 w4 w5 x1 x2"),
            (1, "y1 y2 y3 y4 y5"),
        ],
        ["doc_id", "text"],
    )
    rows = {r.doc_id: r for r in curation.decontaminate_score(docs).collect()}
    assert set(rows) == {0, 1}
    assert (rows[0].n_shingles, rows[0].n_hits,
            rows[0].contamination_ppm) == (4, 1, 250000)
    assert (rows[1].n_shingles, rows[1].n_hits,
            rows[1].contamination_ppm) == (1, 0, 0)
