"""Round-2 kernel rewrites: every vectorized/native kernel is pinned to its
scalar Python reference (byte-for-byte), and the minhash path's max_df
stop-shingle cut keeps informative pairs."""

from __future__ import annotations

import re

import numpy as np
import pandas as pd
import pytest

from tree_sitter_codeviews_spark.operators import dedup, extract, multimodal, textstats
from tree_sitter_codeviews_spark.sources.testdata import load_table
from tests import reference_impl


_GEO_RE = re.compile(r"GEO_\d{5}")

# adversarial pages: each row pins one place where Java regex (the native
# path) and Python ``re`` (the scalar reference) could disagree
ADVERSARIAL_HTML = {
    1: "<p>at GEO_٠١٢٣٤ and GEO_00012</p>".encode(),       # Arabic-Indic Nd digits
    # astral-plane char before a mention; astral (mathematical) Nd digits
    2: "<p>\U0001F600 x GEO_00001 GEO_\U0001D7CE\U0001D7CF\U0001D7D0\U0001D7D1\U0001D7D2</p>".encode(),
    3: b"<div>a GEO_00002 <b>b</b></div> tail",               # no <p>: tag-strip fallback
    4: b"<p>one GEO_00003</p><p>two GEO_00004</p>",            # first <p> only
    5: b"<p>GEO_123456 GEO_1234 GEO_00005GEO_00006</p>",       # 6- and 4-digit runs, adjacent
    6: b"<p></p> GEO_00007",                                   # empty <p>
    7: b"<p>line\nGEO_00008\nend</p>",                         # newline inside <p>
    8: None,                                                   # NULL html
}
INVALID_UTF8_HTML = b"<p>\xff\xfe GEO_00009</p>"


def _pages(spark, html_by_id):
    return spark.createDataFrame(
        [(k, f"u{k}", None, "en", None if v is None else bytearray(v))
         for k, v in html_by_id.items()],
        "doc_id long, url string, warc_ts timestamp, lang string, html binary",
    )


def _entities_py(html):
    """Scalar entity reference: (entity_id, surface, char_offset) over
    ``extract_text_py``'s text, by ``re.finditer``."""
    t = reference_impl.extract_text_py(html)
    if t is None:
        return []
    return [(i, m.group(0), m.start()) for i, m in enumerate(_GEO_RE.finditer(t))]


def test_extract_text_vectorized_matches_scalar(spark, sf_tiny):
    from tree_sitter_codeviews_spark.sources.pages import pages_df

    pages = pages_df(spark, sf_tiny).limit(100)
    got = {r.doc_id: r.text_out for r in extract.extract_pages(pages).collect()}
    rows = pages.select("doc_id", "html").collect()
    assert len(got) == len(rows)
    for r in rows:
        assert got[r.doc_id] == reference_impl.extract_text_py(bytes(r.html))


def test_extract_text_fallback_and_null(spark):
    df = _pages(spark, {1: b"<div>no p tag</div> tail", 2: None})
    got = {r.doc_id: r.text_out for r in extract.extract_pages(df).collect()}
    assert got[1] == "no p tag tail"  # tag-strip fallback
    assert got[2] is None


def test_page_entities_native_matches_scalar(spark, sf_tiny):
    # the native expression must produce exactly the scalar reference's rows
    from tree_sitter_codeviews_spark.sources.pages import gazetteer_df, pages_df

    pages = pages_df(spark, sf_tiny).limit(200)
    gaz = gazetteer_df(spark)
    surfaces = {r.surface for r in gaz.select("surface").collect()}
    got = {tuple(r) for r in extract.page_entities(pages, gaz).select(
        "url", "entity_id", "surface", "char_offset").collect()}
    want = {(r.url, *e) for r in pages.select("url", "html").collect()
            for e in _entities_py(bytes(r.html)) if e[1] in surfaces}
    assert want and got == want


def test_extract_adversarial_rows_match_scalar(spark):
    pages = _pages(spark, ADVERSARIAL_HTML)
    texts = {r.doc_id: r.text_out for r in extract.extract_pages(pages).collect()}
    assert texts == {k: reference_impl.extract_text_py(v) for k, v in ADVERSARIAL_HTML.items()}
    want = {(k, *e) for k, v in ADVERSARIAL_HTML.items() for e in _entities_py(v)}
    gaz = spark.createDataFrame(
        [(s, 0.0, 0.0, "city") for s in sorted({w[2] for w in want})],
        "surface string, lon double, lat double, entity_kind string",
    )
    got = {(r.doc_id, r.entity_id, r.surface, r.char_offset)
           for r in extract.page_entities(pages, gaz).collect()}
    assert got == want
    # the cases the fixture exists for are really exercised
    assert (1, 0, "GEO_٠١٢٣٤", 3) in want
    assert (2, 0, "GEO_00001", 4) in want
    assert (2, 1, "GEO_\U0001D7CE\U0001D7CF\U0001D7D0\U0001D7D1\U0001D7D2", 14) in want
    assert texts[3] == "a GEO_00002 b tail"
    assert {w[2] for w in want if w[0] == 4} == {"GEO_00003"}
    assert sorted(w[1:] for w in want if w[0] == 5) == [
        (0, "GEO_12345", 0), (1, "GEO_00005", 20), (2, "GEO_00006", 29)]
    assert texts[6] == "" and not any(w[0] in (6, 8) for w in want)
    assert (7, 0, "GEO_00008", 5) in want
    assert texts[8] is None


def test_extract_invalid_utf8_raises(spark):
    from pyspark.errors import SparkRuntimeException

    from tree_sitter_codeviews_spark.sources.pages import gazetteer_df

    with pytest.raises(UnicodeDecodeError):
        reference_impl.extract_text_py(INVALID_UTF8_HTML)
    pages = _pages(spark, {1: INVALID_UTF8_HTML})
    for out in (extract.extract_pages(pages),
                extract.page_entities(pages, gazetteer_df(spark))):
        with pytest.raises(SparkRuntimeException, match="MALFORMED_CHARACTER_CODING"):
            out.collect()


def test_langid_vectorized_matches_scalar(spark, sf_tiny):
    docs = load_table(spark, sf_tiny, "documents").limit(100)
    got = {r.doc_id: r.pred_lang for r in textstats.langid(docs).collect()}
    for r in docs.select("doc_id", "text").collect():
        assert got[r.doc_id] == reference_impl.langid_py(r.text)


def test_langid_edge_cases(spark):
    from pyspark.sql import functions as F

    df = spark.createDataFrame(
        [(1, ""), (2, "这是中文文本"), (3, "der ein sch und"),
         (4, "xyzzy qwfp"), (5, None)],
        "doc_id long, text string",
    )
    got = {r.doc_id: r.pred_lang for r in df.select(
        "doc_id", textstats.langid_udf(F.col("text")).alias("pred_lang")
    ).collect()}
    assert got[1] == "und" and got[5] == "und"
    assert got[2] == "zh"
    assert got[3] == "de"
    assert got[4] == "und"
    for r in df.collect():
        assert got[r.doc_id] == reference_impl.langid_py(r.text)


def test_frame_hash_vectorized_matches_scalar():
    wins = [b"", b"a", b"hello world", bytes(range(64)), b"x" * 64, b"q" * 37]
    got = multimodal._hash_windows_np(wins)
    for h, w in zip(got, wins):
        assert int(h) == reference_impl.frame_hash_py(w)


def test_frame_sample_matches_scalar(spark, sf_tiny):
    docs = load_table(spark, sf_tiny, "documents").limit(30)
    pay = multimodal.payloads_df(docs)
    got = {(r.doc_id, r.frame_idx): r.frame_hash
           for r in multimodal.frame_sample(pay).collect()}
    for r in docs.select("doc_id", "text").collect():
        b = r.text.encode("utf-8")
        step = max(1, len(b) // 4)
        for i in range(4):
            assert got[(r.doc_id, i)] == reference_impl.frame_hash_py(b[i * step: i * step + 64])


def test_fingerprint_native_matches_scalar_handcases(spark):
    df = spark.createDataFrame(
        [(1, "alpha beta gamma"), (2, "beta alpha gamma"), (3, "a"), (4, "")],
        "doc_id long, text string",
    )
    got = {r.doc_id: r.fingerprint for r in textstats.fingerprints(df).collect()}
    for r in df.collect():
        assert got[r.doc_id] == reference_impl.fingerprint_py(r.text)
    assert got[1] != got[2]  # order-sensitive


def test_embedding_lsh_subset_of_exact_and_no_crossjoin(spark, sf_tiny):
    import plan_util as plans

    embs = load_table(spark, sf_tiny, "embeddings")
    lsh = dedup.embedding_lsh_dups(embs, threshold=0.4)
    exact = dedup.embedding_near_dups(embs, threshold=0.4)
    lsh_pairs = {(r.vec_id_a, r.vec_id_b, r.cos_q) for r in lsh.collect()}
    exact_pairs = {(r.vec_id_a, r.vec_id_b, r.cos_q) for r in exact.collect()}
    assert lsh_pairs, "bucketed path must be non-vacuous on the fixture"
    assert lsh_pairs <= exact_pairs  # exact verify => perfect precision
    # the scale property: candidates come from an equi-join on the probe
    # bucket, never an all-pairs nested loop
    plan = plans.explain_str(lsh)
    assert "CartesianProduct" not in plan and "BroadcastNestedLoopJoin" not in plan


def test_max_df_bounds_pair_space_keeps_informative_pairs(spark):
    # 20 docs share one stop-shingle ("the big stop"); docs 0/1 and 2/3 are
    # real near-dups through informative shingles
    rows = []
    for i in range(20):
        filler = f"u{i} v{i} w{i} x{i}"
        rows.append((i, f"the big stop {filler}"))
    rows[1] = (1, rows[0][1].replace("u0 v0", "u0 v0"))  # doc1 == doc0 body
    rows[0] = (0, "the big stop u0 v0 w0 x0 y z")
    rows[1] = (1, "the big stop u0 v0 w0 x0 y q")
    docs = spark.createDataFrame(rows, "doc_id long, text string")

    # stop-shingle blows up the uncut join: every doc pairs with every doc
    uncut_pairs = dedup.jaccard_pairs_exact(docs, 3, threshold=0.0)
    assert uncut_pairs.count() == 20 * 19 // 2  # all pairs share "the big stop"
    # the minhash path's stop-shingle cut keeps the informative pair
    assert dedup.minhash_lsh_dups(docs, 3, threshold=0.3, max_df=5).count() >= 1


def test_feature_extract_matches_scalar(spark, sf_tiny):
    """Byte-histogram features: the batch bincount kernel vs a per-doc
    Python reference on real fixture payloads."""
    import numpy as np
    from collections import Counter

    from tree_sitter_codeviews_spark.operators import multimodal
    from tree_sitter_codeviews_spark.sources.testdata import load_table

    docs = load_table(spark, sf_tiny, "documents").limit(50)
    pay = multimodal.payloads_df(docs)
    got = {
        (r.doc_id, r.bin): r.n
        for r in multimodal.feature_extract(pay).collect()
    }
    want = {}
    for r in pay.collect():
        for b, n in Counter(v % 64 for v in bytes(r.payload)).items():
            want[(r.doc_id, b)] = n
    assert got == want and len(got) > 0


def test_resample_matches_scalar(spark, sf_tiny):
    """Nearest-neighbor byte resample: global-gather kernel vs scalar ref."""
    from tree_sitter_codeviews_spark.operators import multimodal
    from tree_sitter_codeviews_spark.sources.testdata import load_table

    docs = load_table(spark, sf_tiny, "documents").limit(20)
    pay = multimodal.payloads_df(docs)
    out_len = 128
    got = {
        (r.doc_id, r.pos): r.byte
        for r in multimodal.resample(pay, out_len=out_len).collect()
    }
    want = {}
    for r in pay.collect():
        b = bytes(r.payload)
        for j in range(out_len):
            want[(r.doc_id, j)] = b[(j * len(b)) // out_len]
    assert got == want and len(got) == 20 * out_len


def test_stratified_sample_is_partitioning_independent(spark, sf_tiny):
    """The content-hash sample must be byte-identical across partitionings
    (the property rand()-based sample() lacks), and respect the rates."""
    docs = load_table(spark, sf_tiny, "documents")
    a = {tuple(r) for r in textstats.stratified_sample(docs).collect()}
    b = {tuple(r) for r in
         textstats.stratified_sample(docs.repartition(7, "lang")).collect()}
    assert a == b and len(a) > 0
    langs = {r.lang for r in docs.select("lang").distinct().collect()}
    kept = {}
    for lang in langs:
        n_all = docs.filter(docs.lang == lang).count()
        n_kept = sum(1 for t in a if t[1] == lang)
        kept[lang] = n_kept / n_all
    # en kept at ~0.5, unlisted langs at ~0.1 (loose bounds, n is small)
    assert 0.3 < kept.get("en", 0.5) < 0.7
    for lang, frac in kept.items():
        if lang not in textstats.SAMPLE_RATES:
            assert frac < 0.25, (lang, frac)
