"""Unit tests for the r4 wave-3..6 crawl/curation operators: hand-corpus
semantics, reference-implementation pins, and plan-shape regressions
(the gate mirror in test_entry_gate covers the oracle equivalence; these
pin the properties the row-hash cannot express)."""

from __future__ import annotations

from pyspark.sql import functions as F

import plan_util as plans
from tree_sitter_codeviews_spark.operators import (
    curation,
    dedup,
    multimodal,
    textstats,
    webtext,
)
from tests import reference_impl


def test_apportion_sum_equals_budget_and_no_single_partition(spark):
    w = spark.createDataFrame(
        [("a", 10), ("b", 10), ("c", 10)], ["host", "n_tokens"]
    )
    out = curation.apportion_budget(w, budget=100)
    rows = {r.host: r for r in out.collect()}
    # 100*10//30 = 33 each, leftover 1 -> largest remainder; all equal,
    # key-asc tiebreak gives the extra unit to 'a'
    assert sum(r.alloc for r in rows.values()) == 100
    assert rows["a"].alloc == 34 and rows["b"].alloc == 33
    # the remainder rank must be the two-phase scan, never one reducer
    assert "SinglePartition" not in plans.explain_str(out)


def test_apportion_largest_remainder_order(spark):
    # quotas: 7/17, 5/17, 5/17 of 10 -> base 4,2,2 rem 2,16,16 (x17 scale)
    w = spark.createDataFrame(
        [("x", 7), ("y", 5), ("z", 5)], ["host", "n_tokens"]
    )
    rows = {r.host: r for r in curation.apportion_budget(w, budget=10).collect()}
    assert {h: r.alloc for h, r in rows.items()} == {"x": 4, "y": 3, "z": 3}


def test_robots_parse_groups_and_comments(spark):
    payload = (
        "# c\nUser-agent: a\nUser-agent: b\nDisallow: /x\n\n"
        "User-agent: c\nAllow: /y\nCrawl-delay: 4\n"
    )
    robots = spark.createDataFrame([("h", payload)], ["host", "payload"])
    rows = {
        (r.agent, r.rule_type, r.value)
        for r in webtext.robots_parse(robots).collect()
    }
    # the two-agent group shares /x; c gets its own rules; nothing leaks
    assert rows == {
        ("a", "disallow", "/x"), ("b", "disallow", "/x"),
        ("c", "allow", "/y"), ("c", "crawl-delay", "4"),
    }


def test_wet_export_roundtrip_byte_identical(spark):
    blobs = spark.createDataFrame(
        [(0, "WARC/1.0\nWARC-Target-URI: u1\nContent-Length: 2\n\nhi\n\n"
              "WARC/1.0\nWARC-Target-URI: u2\nContent-Length: 3\n\nyo!\n\n")],
        ["blob_id", "payload"],
    )
    out = webtext.wet_export(webtext.warc_split(blobs)).first()
    orig = blobs.select(
        F.length("payload").alias("c"), F.md5("payload").alias("m")
    ).first()
    assert out.n_records == 2
    assert (out.payload_chars, out.payload_md5) == (orig.c, orig.m)


def test_gopher_filter_rules_fire(spark):
    base = (
        "the alpha beta crews down on a mound and ran fast to the dark "
        "dens in thick fog " * 4
    )  # 72 words, mean length ~3.3 (inside [3, 10])
    nostop = "cats dogs running jumping quickly silent forest rivers " * 8
    docs = spark.createDataFrame(
        [
            (0, base.strip()),                      # clean -> keep
            (1, "the a short"),                     # wordcount (bit 1)
            (2, base.strip() + " #" * 20),          # symbols (bit 4)
            (3, nostop.strip()),                    # stopwords (bit 8)
        ],
        ["doc_id", "text"],
    )
    rows = {r.doc_id: r for r in curation.gopher_filter(docs).collect()}
    assert rows[0].keep and rows[0].reasons == 0
    assert rows[1].reasons & 1
    assert rows[2].reasons & 4
    assert rows[3].reasons & 8 and not rows[3].keep


def test_crawl_schedule_budget_and_offsets(spark):
    fr = spark.createDataFrame(
        [("https://h1/a", 5, 100), ("https://h1/b", 9, 100),
         ("https://h1/c", 1, 100), ("https://h2/a", 3, None)],
        ["url", "priority", "delay_ms"],
    )
    out = {r.url: r for r in webtext.crawl_schedule(fr, budget=2).collect()}
    assert set(out) == {"https://h1/b", "https://h1/a", "https://h2/a"}
    assert out["https://h1/b"].rnk == 1 and out["https://h1/b"].fetch_offset_ms == 0
    assert out["https://h1/a"].fetch_offset_ms == 100
    assert out["https://h2/a"].fetch_offset_ms == 0  # base delay host


def test_ahash_matches_reference_scalar(spark):
    texts = ["hello world " * 20, "x", "", "abc" * 100]
    docs = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], ["doc_id", "text"]
    )
    got = {
        r.doc_id: (r.ahash_hi, r.ahash_lo)
        for r in multimodal.ahash(multimodal.payloads_df(docs)).collect()
    }
    for i, t in enumerate(texts):
        assert got[i] == reference_impl.ahash_py(t.encode()), i


def test_bigram_lm_hand_corpus(spark):
    docs = spark.createDataFrame(
        [(0, "a b a b a c"), (1, "a b")], ["doc_id", "text"]
    )
    # bigrams: a->b x3, b->a x2, a->c x1 ; first_cnt(a)=4, (b)=2
    rows = {(r.token, r.next_token): r for r in
            textstats.bigram_lm(docs, k=2).collect()}
    assert rows[("a", "b")].cnt == 3
    assert rows[("a", "b")].cond_ppm == 750_000
    assert rows[("a", "c")].cond_ppm == 250_000
    assert rows[("b", "a")].cond_ppm == 1_000_000


def test_incremental_new_hashes(spark):
    old = spark.createDataFrame(
        [(F_,) for F_ in ["x", "y"]], ["text"]
    ).select(F.md5("text").alias("text_hash"))
    new = spark.createDataFrame(
        [(1, "x"), (2, "z"), (3, "z")], ["doc_id", "text"]
    )
    out = dedup.incremental_new_hashes(new, old).collect()
    assert len(out) == 1 and out[0].first_doc_id == 2


def test_url_templates_numeric_generalization(spark):
    pages = spark.createDataFrame(
        [("https://h/cat/12/item/9?x=1",), ("https://h/cat/7/item/8#f",),
         ("https://h/about",)],
        ["url"],
    )
    rows = {r.template: r for r in webtext.url_templates(pages).collect()}
    assert rows["/cat/{n}/item/{n}"].n_pages == 2
    assert rows["/cat/{n}/item/{n}"].n_urls == 2
    assert rows["/about"].n_pages == 1


def test_inverted_index_bounded_postings(spark):
    docs = spark.createDataFrame(
        [(i, "stop stop unique%d" % i) for i in range(10)],
        ["doc_id", "text"],
    )
    from tree_sitter_codeviews_spark.operators import ir

    rows = {r.token: r for r in ir.inverted_index(docs, top_postings=3).collect()}
    stop = rows["stop"]
    assert stop.df == 10 and stop.total_tf == 20
    # preview bounded at 3 even though df is 10; tf ties -> doc_id asc
    assert stop.postings == "0,1,2"


def test_run_crawl_job_and_resume(spark, tmp_path):
    """The crawl-loop job end-to-end on sf0.001, then a second run with
    the same job-id: every stage must resume from its checkpoint (the
    second run recomputes nothing — asserted via the stage markers)."""
    import importlib.util
    import os

    spec = importlib.util.spec_from_file_location(
        "run_crawl",
        os.path.join(os.path.dirname(__file__), "..", "jobs", "run_crawl.py"),
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    argv = [
        "--sf-dir", "/root/testdata/sf0.001",
        "--checkpoint-root", str(tmp_path), "--job-id", "t1",
    ]
    mod.main(argv, spark=spark)
    stage_root = os.path.join(str(tmp_path), "t1", "stages")
    stages = set(os.listdir(stage_root))
    assert {"pages", "blobs", "records", "extracted", "quality",
            "outlinks", "host_graph", "rank", "schedule"} <= stages
    marks = {
        s: os.path.getmtime(os.path.join(stage_root, s)) for s in stages
    }
    mod.main(argv, spark=spark)  # resume: no stage rewritten
    for s in stages:
        assert os.path.getmtime(os.path.join(stage_root, s)) == marks[s], s
    # the schedule output is non-trivial and budget-capped per host
    sched = spark.read.parquet(os.path.join(stage_root, "schedule"))
    assert sched.count() > 0
    assert sched.groupBy("host").count().agg({"count": "max"}).first()[0] <= 5
