"""geo_join: the corpus-bound north-star path, one pass at a time.

A pass is ``pages.pages_df`` -> ``extract.page_entities`` ->
``pip_join.pip_join`` -> distinct (url, cell_id, polygon_id), plus
``tiles.tile_counts`` res 10 -> 7 over the same pages' points. Extraction,
the PIP join, the pages source and tiling do nearly all the work here.

The traced run also drives the flagship ``jobs/run_pipeline.py`` job (a
fresh run into an empty checkpoint root, then a resume after removing the
commit markers of a seed-chosen triples chunk and a seed-chosen later
stage) to measure the checkpoint layer as a writer and as a reader.
"""

from __future__ import annotations

import contextlib
import os
import shutil
import statistics
import time

import numpy as np
from pyspark.sql import functions as F

from jobs import run_pipeline
from tests.oracle_util import assert_matches
from tree_sitter_codeviews_spark import cells, layers, oracle
from tree_sitter_codeviews_spark.checkpoint import Pipeline
from tree_sitter_codeviews_spark.operators import extract, pip_join, tiles
from tree_sitter_codeviews_spark.sources import pages as pages_src

from . import inputs
from .measure import Collected, Spans, digest, force, tail, timed, timed_units

PAGES = 10_000
SMOKE_PAGES = 500
# after the check, which leaves the next pass slow; pass walls keep
# falling for several passes while the JIT catches up
WARM_PASSES = 3
PIPELINE_STAGES = ("pages", "entities", "triples", "tiles",
                   "dedup_groups", "emb_dedup_groups", "train_set")
LATER_STAGES = ("tiles", "dedup_groups", "emb_dedup_groups", "train_set")


def _entities(spark, pages):
    return extract.page_entities(pages, pages_src.gazetteer_df(spark))


def _triples(spark, ents):
    return pip_join.pip_join(ents, spark, keys=("url",)).select(
        "url", "cell_id", "polygon_id").distinct()


def _tiles(pages):
    pts = pages_src.points_from_ids(pages.select("doc_id"))
    return tiles.tile_counts(pts, res_lo=7, res_hi=10, grid_res=layers.GRID_RES)


def one_pass(spark, in_dir: str) -> dict[str, tuple[int, int]]:
    pages = pages_src.pages_df(spark, in_dir)
    ents = _entities(spark, pages)
    return {"triples": force(_triples(spark, ents)), "tiles": force(_tiles(pages))}


def oracle_check(spark, in_dir: str) -> dict[str, tuple[int, int]]:
    """Compare one pass against the DuckDB oracle; return the digests
    every later pass must reproduce."""
    pages = pages_src.pages_df(spark, in_dir)
    ents = _entities(spark, pages)
    out = {"triples": Collected(_triples(spark, ents)), "tiles": Collected(_tiles(pages))}
    assert_matches(out["triples"], in_dir, oracle.pip_entities_sql(), "geo_join.triples")
    assert_matches(out["tiles"], in_dir, oracle.tiles_sql(), "geo_join.tiles")
    return {k: v.digest for k, v in out.items()}


class Run:
    """State of one benchmark process for this workload."""

    def __init__(self, spark, run_dir: str, seed: int, smoke: bool):
        self.spark, self.run_dir, self.seed = spark, run_dir, seed
        self.in_dir = os.path.join(run_dir, "in")
        self.n_pages = SMOKE_PAGES if smoke else PAGES
        self.min_units = 4
        self.attempted = self.failed = 0
        self.checks: list[str] = []
        self.expect: dict[str, tuple[int, int]] = {}
        self.info: dict = {"pages": self.n_pages}

    def _attempt(self, fn):
        self.attempted += 1
        try:
            return fn()
        except Exception as e:  # a failed operation is counted, not fatal
            self.failed += 1
            self.info.setdefault("errors", []).append(f"{type(e).__name__}: {e}"[:500])
            return None

    def _pass_ok(self, got) -> bool:
        if got is None:
            return False
        if got != self.expect:
            self.failed += 1
            self.info.setdefault("errors", []).append(f"digest {got} != {self.expect}")
            return False
        return True

    # -- phases ------------------------------------------------------------

    def _unit(self) -> bool:
        return self._pass_ok(self._attempt(lambda: one_pass(self.spark, self.in_dir)))

    def setup(self) -> None:
        """Inputs and the cold pass; ``warm`` finishes set-up after the check."""
        inputs.pages_corpus(self.in_dir, self.seed, self.n_pages)
        _, s = timed(lambda: self._attempt(lambda: one_pass(self.spark, self.in_dir)))
        self.info["warmup_pass_s"] = [round(s, 3)]

    def warm(self) -> None:
        for _ in range(WARM_PASSES):
            _, s = timed(self._unit)
            self.info["warmup_pass_s"].append(round(s, 3))

    def check(self) -> None:
        got = self._attempt(lambda: oracle_check(self.spark, self.in_dir))
        if got is not None:
            self.expect = got
            self.checks.append("oracle")
            self.info["triples"], self.info["tile_rows"] = got["triples"][0], got["tiles"][0]

    def measure(self, seconds: float, min_units: int, rss) -> dict[str, float]:
        u = timed_units(self._unit, seconds, min_units, rss)
        self.checks.append("digest")
        p50 = statistics.median(u["walls"])
        self.info.update(pass_s=[round(w, 3) for w in u["walls"]], pass_tail=tail(u["walls"]),
                         steal_s=round(u["steal_s"], 2))
        return {"run_s": p50, "throughput_per_s": self.n_pages / p50}

    # -- traced run ----------------------------------------------------------

    def trace(self) -> dict[str, float]:
        spark, sp = self.spark, Spans(self.spark)
        out: dict[str, float] = {}
        t0 = time.perf_counter()

        def span(name, build):
            df, rows, dig, m = sp.run(name, build)
            for k in ("build_s", "exec_s", "task_cpu_s", "py_gap_s", "shuffle_mb"):
                out[f"{name}.{k}"] = m[k]
            return df, rows, dig

        pages, n_pages, _ = span("sources.pages", lambda: pages_src.pages_df(spark, self.in_dir))
        pages = pages.localCheckpoint()
        ents, n_ents, _ = span("extract.page_entities", lambda: _entities(spark, pages))
        ents = ents.localCheckpoint()
        _, n_triples, dig_t = span("pip_join.pip_join", lambda: _triples(spark, ents))
        _, n_tiles, dig_l = span("tiles.tile_counts", lambda: _tiles(pages))
        out["traced_wall_s"] = time.perf_counter() - t0
        self.attempted += 1
        self._pass_ok({"triples": (n_triples, dig_t), "tiles": (n_tiles, dig_l)})

        # cover-prefilter candidates, counted outside every span
        pts = ents.withColumn("cell", F.expr(cells.cell_sql("lon", "lat", layers.GRID_RES)))
        pts = pts.withColumn("cover_cell", cells.parent_col(
            pts.cell, layers.GRID_RES - pip_join.COVER_RES))
        candidates = pts.join(pip_join.cover_df(spark), "cover_cell").count()
        out["pip_join.candidates"] = candidates
        out["pip_join.keep_ratio"] = n_triples / max(candidates, 1)
        out["extract.entities_per_page"] = n_ents / max(n_pages, 1)
        out.update({f"geo_join.{k}": v for k, v in sp.workload_totals().items()})
        out.update(self._trace_pipeline(Spans(spark)))
        return out

    def _trace_pipeline(self, sp: Spans) -> dict[str, float]:
        """Fresh flagship job, then a resume after seed-chosen invalidation;
        ``Pipeline.stage``/``chunked_stage`` are wrapped in spans."""
        in_dir = os.path.join(self.run_dir, "pipeline_in")
        root = os.path.join(self.run_dir, "ckpt")
        os.makedirs(in_dir)
        in_bytes = inputs.pipeline_input(in_dir, self.seed)
        argv = ["--sf-dir", in_dir, "--checkpoint-root", root, "--job-id", "bench"]
        stage_m: dict[str, dict] = {}
        pipes: list[Pipeline] = []

        def wrap(method):
            def inner(pipe, name, *args):
                if pipe not in pipes:
                    pipes.append(pipe)
                sp.begin(f"checkpoint.{name}")
                res, s = timed(lambda: method(pipe, name, *args))
                m = sp.end()
                m["exec_s"] = s
                stage_m[name] = m
                return res
            return inner

        @contextlib.contextmanager
        def wrapped():
            saved = Pipeline.stage, Pipeline.chunked_stage
            Pipeline.stage, Pipeline.chunked_stage = wrap(saved[0]), wrap(saved[1])
            try:
                yield
            finally:
                Pipeline.stage, Pipeline.chunked_stage = saved

        shutil.rmtree(root, ignore_errors=True)
        out: dict[str, float] = {}
        with wrapped():
            _, out["checkpoint.fresh_s"] = timed(lambda: run_pipeline.main(argv, spark=self.spark))
        for name in PIPELINE_STAGES:
            for k in ("exec_s", "task_cpu_s", "py_gap_s", "shuffle_mb"):
                out[f"checkpoint.{name}.{k}"] = stage_m[name][k]
        files = [os.path.join(d, f) for d, _, fs in os.walk(root) for f in fs]
        out["checkpoint.bytes_written"] = sum(os.path.getsize(f) for f in files)
        out["checkpoint.files_written"] = len(files)
        out["checkpoint.bytes_per_input_byte"] = out["checkpoint.bytes_written"] / in_bytes
        stages_dir = os.path.join(root, "bench", "stages")
        rng = np.random.default_rng([self.seed, 4])
        chunks = sorted(d for d in os.listdir(os.path.join(stages_dir, "triples"))
                        if d.startswith("chunk="))
        chunk = chunks[int(rng.integers(len(chunks)))]
        later = LATER_STAGES[int(rng.integers(len(LATER_STAGES)))]

        # only the invalidated stages are rewritten, so only they can change
        def digests():
            return {s: digest(self.spark.read.parquet(os.path.join(stages_dir, s)))
                    for s in ("triples", later)}

        before = digests()
        os.remove(os.path.join(stages_dir, "triples", chunk, "_SUCCESS"))
        os.remove(os.path.join(stages_dir, later, "_SUCCESS"))
        pipes.clear()
        with wrapped():
            _, out["checkpoint.resume_s"] = timed(lambda: run_pipeline.main(argv, spark=self.spark))
        recomputed = sorted(pipes[0].recomputed)
        out["checkpoint.resume_recomputed"] = len(recomputed)
        after = digests()
        self.attempted += 2
        want = sorted([f"triples/{chunk.split('=', 1)[1]}", later])
        if recomputed != want:
            self.failed += 1
            self.info.setdefault("errors", []).append(f"resume recomputed {recomputed} != {want}")
        if after != before:
            self.failed += 1
            self.info.setdefault("errors", []).append("resume changed stage digests")
        self.checks.append("resume")
        return out
