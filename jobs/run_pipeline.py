#!/usr/bin/env python
"""Flagship pipeline as a resumable spark-submit job.

    spark-submit --py-files tscv_spark.zip jobs/run_pipeline.py \
        --sf-dir /root/testdata/sf0.01 --checkpoint-root /tmp/tscv_ckpt \
        --job-id demo1

Stages (each checkpointed with per-partition lineage + metrics; rerunning
the same job-id resumes, recomputing only missing stages/chunks). Stages
3 and 5-7 call the same ``queries`` functions as the registry queries
named after the arrow, so the job's outputs are the oracle-checked ones:
  1. pages      — synthesize/load the Common-Crawl-shaped pages table,
                  z-order (Hilbert) repartitioned.
  2. entities   — byte-identical text extraction -> geo-entity rows.
  3. triples    — ``queries.page_triples`` (-> geo_pip_entities): two-phase
                  cell-cover + ray-cast PIP join -> (url, cell_id,
                  polygon_id), chunked by coarse Hilbert range.
  4. tiles      — per-tile counts rolled up the hierarchy res 10 -> 7.
  5. dedup_groups — ``queries.doc_groups`` (-> dedup_groups): exact
                  3-gram Jaccard pair graph over the page text -> connected
                  components -> (doc_id, group_id); no stop-shingle cut.
  6. emb_dedup_groups — ``queries.emb_groups`` (-> dedup_groups_embedding):
                  the embedding twin of stage 5 (multi-probe LSH).
  7. train_set   — ``queries.train_set_from`` (-> train_set): dedup
                  representatives -> benchmark decontamination -> PII
                  scrub -> 512-token sequence packing -> (doc_id, bin_id,
                  offset, clean_hash) shards.

Build the --py-files zip with:  python -m zipfile -c tscv_spark.zip tree_sitter_codeviews_spark
"""

from __future__ import annotations

import argparse
import sys
import os

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F

from tree_sitter_codeviews_spark import layers, queries, s2
from tree_sitter_codeviews_spark.checkpoint import Pipeline
from tree_sitter_codeviews_spark.operators import extract, tiles
from tree_sitter_codeviews_spark.session import get_spark
from tree_sitter_codeviews_spark.sources import pages as pages_src
from tree_sitter_codeviews_spark.sources.testdata import load_table

N_CHUNKS = 4  # coarse Hilbert ranges for the chunked join stage
STAGES = ("pages", "entities", "triples", "tiles", "dedup_groups", "emb_dedup_groups",
          "train_set")


def main(argv: list[str] | None = None, spark=None) -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf-dir", default="/root/testdata/sf0.001")
    ap.add_argument("--checkpoint-root", default="/tmp/tscv_ckpt")
    ap.add_argument("--job-id", default="job1")
    ap.add_argument(
        "--dry-run", action="store_true",
        help="validate + print the flagship physical plan without running "
        "any stage (the reference's CI guard, utils/postprocessor.py:20)",
    )
    args = ap.parse_args(argv)

    owns_session = spark is None
    if owns_session:
        spark = get_spark("tscv-pipeline")

    if args.dry_run:
        # analyze + optimize the flagship plan end-to-end (catches schema /
        # resolution errors) but execute nothing
        pages = pages_src.pages_df(spark, args.sf_dir)
        ents = extract.page_entities(pages, pages_src.gazetteer_df(spark))
        plan = queries.page_triples(ents, spark)
        plan.explain("formatted")
        print(f"dry-run OK: schema={plan.schema.simpleString()}")
        if owns_session:
            spark.stop()
        return

    pipe = Pipeline(spark, args.checkpoint_root, args.job_id)

    pages = pipe.stage(
        "pages",
        lambda: s2.zorder_repartition(
            pages_src.pages_df(spark, args.sf_dir).join(
                pages_src.doc_points_df(spark, args.sf_dir).select("doc_id", "gx", "gy"),
                "doc_id",
            ),
            grid_res=layers.GRID_RES,
            keep_key=True,
        ),
    )

    entities = pipe.stage(
        "entities",
        lambda: extract.page_entities(pages, pages_src.gazetteer_df(spark)),
    )

    # chunk by coarse Hilbert range of the entity location (level 2 => 16
    # cells). The route key is the COARSE iterative encode — a bounded
    # expression safe to put under a pushed-down filter; the level-16
    # branchless chain here cost ~4 min/chunk of pure codegen once predicate
    # pushdown substituted it into the filter (see s2.hilbert_coarse_col).
    def triples_chunk(c: str):
        lo = int(c)
        h2 = s2.hilbert_coarse_col(
            F.floor((F.col("lon") + 180.0) / 360.0 * 4),
            F.floor((F.col("lat") + 90.0) / 180.0 * 4),
            res=2,
        )
        part = entities.filter(F.pmod(h2, F.lit(N_CHUNKS)) == lo)
        return queries.page_triples(part, spark)

    pipe.chunked_stage("triples", [str(i) for i in range(N_CHUNKS)], triples_chunk)
    pipe.stage(
        "tiles",
        lambda: tiles.tile_counts(
            pages, res_lo=7, res_hi=10, grid_res=layers.GRID_RES
        ),
    )

    docs = pages.select("doc_id", "text")
    groups = pipe.stage("dedup_groups", lambda: queries.doc_groups(docs))
    pipe.stage(
        "emb_dedup_groups",
        lambda: queries.emb_groups(load_table(spark, args.sf_dir, "embeddings")),
    )
    pipe.stage("train_set", lambda: queries.train_set_from(docs, groups))

    n = pipe.stage_rows()
    print(f"job={args.job_id} " + "".join(f"{s}={n[s]} " for s in STAGES)
          + f"recomputed={pipe.recomputed or ['<none — full resume>']}")
    if owns_session:
        spark.stop()


if __name__ == "__main__":
    main()
