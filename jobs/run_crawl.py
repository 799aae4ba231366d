#!/usr/bin/env python
"""The crawl LOOP as a resumable spark-submit job — the webtext twin of
``run_pipeline.py`` (same checkpoint/lineage contract):

    spark-submit --py-files tscv_spark.zip jobs/run_crawl.py \\
        --sf-dir /root/testdata/sf0.01 --checkpoint-root /tmp/tscv_crawl \\
        --job-id crawl1

Stages (each checkpointed; rerunning the same job-id resumes, recomputing
only missing stages):
  1. blobs      — fetched pages framed as WARC/1.0 chunks (the
                  CommonCrawl-shaped stand-in; a real deployment reads the
                  chunk files directly).
  2. records    — WARC record split (shuffle-free).
  3. extracted  — HTML -> text extraction (shuffle-free regex chain).
  4. quality    — Gopher rule battery over the extracted bodies; only
                  ``keep`` rows continue (reasons bitmask kept for audit).
  5. outlinks   — link + anchor extraction off the raw HTML.
  6. host_graph — weighted host->host domain graph (intra-host dropped).
  7. rank       — integer PageRank over the host graph (10 iterations,
                  exact micro-unit arithmetic).
  8. schedule   — the NEXT crawl's politeness-scheduled frontier: the
                  discovered URLs prioritized by their target host's rank,
                  top-k per host with per-host fetch offsets.

The output of stage 8 is the input of the next crawl round — the loop a
production crawler runs continuously; every stage here is an operator the
oracle gate has verified individually (web_ingest / webtext_* rows).

Build the --py-files zip with:
    python -m zipfile -c tscv_spark.zip tree_sitter_codeviews_spark
"""

from __future__ import annotations

import argparse
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F

from tree_sitter_codeviews_spark.checkpoint import Pipeline
from tree_sitter_codeviews_spark.operators import curation, linkgraph, webtext
from tree_sitter_codeviews_spark.session import get_spark


def _fetched_pages(spark, sf_dir: str):
    """Deterministic fetched-page table (doc_id, url, html) — the linked-
    page fixture shared with the webtext gate queries (absolute +
    root-relative anchors, droppable hrefs, nested markup)."""
    from tree_sitter_codeviews_spark.queries import _linked_pages

    docs = spark.read.parquet(os.path.join(sf_dir, "documents.parquet")).select(
        "doc_id", "text"
    )
    return _linked_pages(docs)


def _rank(hg, iterations: int):
    """Integer PageRank over the host graph's endpoints."""
    nodes = (
        hg.select(F.col("src_host").alias("host"))
        .unionByName(hg.select(F.col("dst_host").alias("host")))
        .distinct()
    )
    return linkgraph.pagerank_integer(
        hg.select(F.col("src_host").alias("src"), F.col("dst_host").alias("dst")),
        nodes, iterations=iterations,
    )


def _schedule(outlinks, pr, budget: int):
    """The next round's frontier: discovered URLs prioritized by their
    target host's rank, politeness-scheduled."""
    frontier = (
        outlinks.select(F.col("dst_url").alias("url"))
        .distinct()
        .withColumn("dst_host", F.regexp_extract("url", "^https?://([^/]+)", 1))
        .join(F.broadcast(pr), F.col("dst_host") == pr["host"], "left")
        .select("url", F.coalesce("rank_micro", F.lit(0)).cast("long").alias("priority"))
    )
    return webtext.crawl_schedule(frontier, budget=budget)


def main(argv: list[str] | None = None, spark=None) -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf-dir", default="/root/testdata/sf0.001")
    ap.add_argument("--checkpoint-root", default="/tmp/tscv_crawl")
    ap.add_argument("--job-id", default="crawl1")
    ap.add_argument(
        "--dry-run", action="store_true",
        help="validate + print the end-to-end schedule plan, execute nothing",
    )
    ap.add_argument("--budget", type=int, default=5, help="fetches per host")
    args = ap.parse_args(argv)

    owns_session = spark is None
    if owns_session:
        spark = get_spark("tscv-crawl")

    if args.dry_run:
        links = webtext.outlink_extract(_fetched_pages(spark, args.sf_dir), with_src_host=True)
        plan = _schedule(links, _rank(linkgraph.host_graph(links), 2), args.budget)
        plan.explain("formatted")
        print(f"dry-run OK: schema={plan.schema.simpleString()}")
        if owns_session:
            spark.stop()
        return

    pipe = Pipeline(spark, args.checkpoint_root, args.job_id)

    pages = pipe.stage("pages", lambda: _fetched_pages(spark, args.sf_dir))

    rec = F.format_string(
        "WARC/1.0\nWARC-Target-URI: %s\nContent-Length: %d\n\n%s\n\n",
        F.col("url"), F.length("html"), F.col("html"),
    )
    blobs = pipe.stage(
        "blobs",
        lambda: pages.select(
            F.expr("doc_id div 5").alias("blob_id"),
            F.struct("doc_id", rec.alias("rec")).alias("s"),
        )
        .groupBy("blob_id")
        .agg(
            F.array_join(
                F.transform(F.array_sort(F.collect_list("s")),
                            lambda s: s["rec"]),
                "",
            ).alias("payload")
        ),
    )

    records = pipe.stage("records", lambda: webtext.warc_split(blobs))

    extracted = pipe.stage(
        "extracted",
        lambda: webtext.html_extract(
            records.select(
                (F.col("blob_id") * 8 + F.col("rec_idx")).alias("doc_id"),
                "uri",
                F.col("body").alias("html"),
            ),
            keep=("uri",),
        ),
    )

    pipe.stage(
        "quality",
        lambda: extracted.join(
            curation.gopher_filter(
                extracted.select("doc_id", F.col("body").alias("text")),
                min_words=10, min_stopwords=1,
            ).select("doc_id", "reasons", "keep"),
            "doc_id",
        ).filter(F.col("keep")),
    )

    outlinks = pipe.stage(
        "outlinks",
        lambda: webtext.outlink_extract(pages, with_src_host=True),
    )

    hg = pipe.stage("host_graph", lambda: linkgraph.host_graph(outlinks))

    pr = pipe.stage("rank", lambda: _rank(hg, 10))
    pipe.stage("schedule", lambda: _schedule(outlinks, pr, args.budget))

    n = pipe.stage_rows()
    print(
        f"crawl round done: {n['pages']} fetched, {n['quality']} kept, "
        f"{n['host_graph']} host edges, {n['schedule']} scheduled for next round"
    )
    if owns_session:
        spark.stop()


if __name__ == "__main__":
    main()
