#!/usr/bin/env python
"""Scaling-efficiency evidence: the same job on the same input at two
parallelism levels (the sandbox stand-in for N vs 4N executors — no real
cluster here, per the driver's instructions).

    python bench_scaling.py [--sf-dir DIR] [--lo 8] [--hi 32] [--repl 5]

Parent mode spawns one fresh JVM per level (``--child``), so each run gets a
clean ``local[k]`` master, measures the flagship pipeline's wall-clock
(session startup excluded), and prints a one-line JSON summary::

    {"throughput_lo": pages/s, "throughput_hi": pages/s,
     "scaling_efficiency": thr_hi / (hi/lo * thr_lo), ...}

The job (``scaling_job``) is the north-rule core: H3-style Morton encode +
S2-style Hilbert encode (Arrow UDF) + two-phase cell-cover/ray-cast PIP join
+ tile rollup 10->7. Input is the sf documents table replicated ``repl``x
with deterministic derived ids — identical bytes at both levels.
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))


def scaling_job(spark, sf_dir: str, repl: int, n_parts: int) -> dict:
    from pyspark.sql import functions as F

    from tree_sitter_codeviews_spark import layers, s2
    from tree_sitter_codeviews_spark.operators import pip_join, tiles
    from tree_sitter_codeviews_spark.sources.pages import points_from_ids
    from tree_sitter_codeviews_spark.sources.testdata import load_table

    ids = (
        load_table(spark, sf_dir, "documents")
        .select("doc_id")
        # repartition BEFORE the explode: the sf parquet is one row group =
        # one map task, so exploding first would generate the whole
        # replicated table in a single serial task. The shuffle moves only
        # the source ids; generation then runs on every core.
        .repartition(n_parts, "doc_id")
        .select(
            F.explode(
                F.sequence(
                    F.col("doc_id") * repl, F.col("doc_id") * repl + (repl - 1)
                )
            ).alias("doc_id")
        )
    )
    pts = points_from_ids(ids).withColumns({
        "x16": s2.upscale_grid_col(F.col("gx"), layers.GRID_RES, s2.S2_RES),
        "y16": s2.upscale_grid_col(F.col("gy"), layers.GRID_RES, s2.S2_RES),
    })
    pts = s2.with_hilbert_col(pts, "x16", "y16", s2.S2_RES, out="h16")
    # no persist: the derivation re-runs per action but is fully parallel and
    # cheap; caching 10^7+ rows just to save one recompute trades memory
    # pressure (GC variance measured up to 3x run-to-run) for nothing.
    n_docs = load_table(spark, sf_dir, "documents").count()
    triples = pip_join.pip_join(pts, spark, keys=("doc_id", "h16"))
    tile = tiles.tile_counts(pts, res_lo=7, res_hi=10, grid_res=layers.GRID_RES)
    n_triples = triples.count()
    n_tiles = tile.count()
    return {"pages": n_docs * repl, "triples": n_triples, "tiles": n_tiles}


def dedup_scaling_job(spark, sf_dir: str, repl: int, n_parts: int) -> dict:
    """The training-data dedup core as a scaling workload: replicate the
    documents table ``repl``x with per-replica text perturbation, then run
    the MinHash pipeline's heavy half — shingle window, per-shingle hash,
    64-min signature aggregate, band hashing — and force it with a distinct-
    bucket count. This is the shuffle-bound shape that dominates a 100 TB
    dedup run; the pair-verify tail is deliberately excluded (its cost is a
    function of planted duplicate structure, not corpus size, so it would
    measure the fixture instead of the engine)."""
    from pyspark.sql import functions as F

    from tree_sitter_codeviews_spark.operators import dedup
    from tree_sitter_codeviews_spark.sources.testdata import load_table

    base = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    n_docs = base.count()
    docs = (
        base.repartition(n_parts, "doc_id")  # parallelize BEFORE the explode
        .select(
            F.explode(
                F.sequence(F.col("doc_id") * repl,
                           F.col("doc_id") * repl + (repl - 1))
            ).alias("doc_id"),
            "text",
        )
        .withColumn(
            "text",
            F.concat(F.col("text"), F.lit(" r"), (F.col("doc_id") % 97).cast("string")),
        )
    )
    sh = dedup.shingles_df(docs, n=3)
    sigs = dedup.minhash_signatures_from(sh)
    bands = sigs.select(*[
        F.xxhash64(*[F.col(f"sig_{bi * dedup.LSH_ROWS + r}")
                     for r in range(dedup.LSH_ROWS)]).alias(f"b_{bi}")
        for bi in range(dedup.LSH_BANDS)
    ])
    n_buckets = bands.agg(*[
        F.approx_count_distinct(f"b_{bi}").alias(f"n_{bi}")
        for bi in range(dedup.LSH_BANDS)
    ]).collect()[0][0]
    return {"pages": n_docs * repl, "buckets": int(n_buckets)}


JOBS = {"geo": scaling_job, "dedup": dedup_scaling_job}


def run_child(cores: int, sf_dir: str, repl: int, reps: int = 4,
              job: str = "geo") -> None:
    from tree_sitter_codeviews_spark.session import get_spark

    spark = get_spark(f"scaling-{cores}", cores=cores, extra_conf={
        "spark.sql.shuffle.partitions": str(2 * cores)})
    # AQE's per-stage re-planning is serial driver latency; on this job the
    # shuffles are tiny and fixed-shape, so it only adds constant overhead
    # that distorts the N-vs-4N comparison
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    # warm up AT TARGET SCALE: JVM, codegen, parquet footers, and — the one
    # that actually bit — HotSpot tier compilation of the hot loops. A
    # small-repl warmup (geo repl=1000, dedup repl=4) leaves the JIT still
    # compiling through the first timed reps: measured on the dedup job,
    # first rep 41 s vs 5.9 s steady-state at 8 cores, which with only 4
    # reps left a non-converged min (hi-wall 7.65 s vs true 5.9 s) and a
    # spurious 0.61 efficiency reading. Same fix the query bench applied to
    # chunk openers (bench.py): one untimed rep of the exact timed job.
    jb = JOBS[job]
    jb(spark, sf_dir, repl=repl, n_parts=4 * cores)
    walls = []
    out = {}
    for _ in range(reps):
        t0 = time.monotonic()
        out = jb(spark, sf_dir, repl=repl, n_parts=4 * cores)
        walls.append(round(time.monotonic() - t0, 3))
    # this sandbox host shows intermittent multi-x throughput dips (external
    # interference; measured 4-6x outliers on identical back-to-back runs),
    # so the min of k runs is the uncontended estimate — standard practice
    # for benchmarking on noisy shared hosts
    print(json.dumps({"cores": cores, "wall_s": min(walls), "walls": walls, **out}))
    spark.stop()


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf-dir", default=os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"))
    ap.add_argument("--lo", type=int, default=2)
    ap.add_argument("--hi", type=int, default=8)
    ap.add_argument("--repl", type=int, default=400000)
    ap.add_argument("--job", choices=sorted(JOBS), default="geo")
    ap.add_argument("--child", type=int, default=0, help="internal: run one level")
    args = ap.parse_args()

    if args.child:
        run_child(args.child, args.sf_dir, args.repl, job=args.job)
        return

    results = {}
    for cores in (args.lo, args.hi):
        p = subprocess.run(
            [sys.executable, os.path.abspath(__file__), "--child", str(cores),
             "--sf-dir", args.sf_dir, "--repl", str(args.repl),
             "--job", args.job],
            capture_output=True, text=True, timeout=3600,
        )
        line = [l for l in p.stdout.splitlines() if l.startswith("{")][-1]
        results[cores] = json.loads(line)

    lo, hi = results[args.lo], results[args.hi]
    thr_lo = lo["pages"] / lo["wall_s"]
    thr_hi = hi["pages"] / hi["wall_s"]
    eff = thr_hi / ((args.hi / args.lo) * thr_lo)
    summary = {
        "metric": "scaling efficiency (pages/sec, local[lo] vs local[hi])",
        "sf_dir": args.sf_dir,
        "pages": lo["pages"],
        "cores_lo": args.lo, "wall_lo_s": lo["wall_s"], "throughput_lo": round(thr_lo, 1),
        "cores_hi": args.hi, "wall_hi_s": hi["wall_s"], "throughput_hi": round(thr_hi, 1),
        "speedup": round(thr_hi / thr_lo, 3),
        "scaling_efficiency": round(eff, 3),
        "pass_0.8_bar": eff >= 0.8,
    }
    print(json.dumps(summary))
    # Persist per-job so bench.py's compact stdout line can carry the
    # north-rule scaling evidence into the official BENCH record.
    art = os.path.join(os.path.dirname(os.path.abspath(__file__)),
                       "SCALING_LOCAL.json")
    merged = {}
    if os.path.exists(art):
        with open(art) as fh:
            merged = json.load(fh)
    merged[args.job] = summary
    with open(art, "w") as fh:
        json.dump(merged, fh, indent=1)


if __name__ == "__main__":
    main()
