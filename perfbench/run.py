#!/usr/bin/env python3
"""One benchmark run: set up, check outputs, measure, print one JSON line.

    python3 perfbench/run.py --workload geo_join --seed 1 --seconds 10 --trace 0

Run from the repository root. Workloads: ``geo_join`` (corpus-bound
pages -> extract -> PIP join -> tiles passes) and ``query_mix`` (a closed
loop of registry queries). With ``--trace 0`` the last line carries the
end-to-end metrics; with ``--trace 1`` it carries the per-layer metrics of
a separate traced pass (zero for layers the workload does not run). The
line before it is a report with sample counts, tail percentiles, warm-up
walls and every launch setting.
"""

from __future__ import annotations

import argparse
import importlib
import json
import os
import shutil
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

END_TO_END = {
    "setup_s": "s", "run_s": "s", "throughput_per_s": "1/s",
    "peak_rss_mb": "MB", "success_frac": "ratio",
}

GEO_SPANS = ("sources.pages", "extract.page_entities", "pip_join.pip_join",
             "tiles.tile_counts")
CKPT_STAGES = ("pages", "entities", "triples", "tiles", "dedup_groups",
               "emb_dedup_groups", "train_set")
FAMILIES = ("geo", "text", "dedup", "ann", "graph", "streaming", "tpch")
WORKLOADS = ("geo_join", "query_mix")
_UNIT = {"build_s": "s", "exec_s": "s", "task_cpu_s": "s", "py_gap_s": "s",
         "shuffle_mb": "MB"}

PER_LAYER = {
    **{f"{s}.{k}": u for s in GEO_SPANS for k, u in _UNIT.items()},
    "pip_join.candidates": "count", "pip_join.keep_ratio": "ratio",
    "extract.entities_per_page": "ratio",
    **{f"checkpoint.{s}.{k}": _UNIT[k] for s in CKPT_STAGES
       for k in ("exec_s", "task_cpu_s", "py_gap_s", "shuffle_mb")},
    "checkpoint.bytes_written": "B", "checkpoint.files_written": "count",
    "checkpoint.resume_recomputed": "count", "checkpoint.fresh_s": "s",
    "checkpoint.resume_s": "s", "checkpoint.bytes_per_input_byte": "ratio",
    "queries.build_s": "s", "queries.analysis_s": "s",
    "queries.optimization_s": "s", "queries.planning_s": "s",
    "queries.jobs": "count", "queries.tasks": "count", "queries.py_gap_s": "s",
    **{f"queries.{f}.{k}": "s" for f in FAMILIES
       for k in ("exec_s", "task_cpu_s", "py_gap_s")},
    **{f"{w}.{k}": u for w in WORKLOADS
       for k, u in (("gc_s", "s"), ("spill_mb", "MB"), ("tasks", "count"),
                    ("trace_overhead_s", "s"))},
}


def process_age_s() -> float:
    """Seconds since this process started (so set-up time includes the
    interpreter's own start and imports)."""
    with open("/proc/self/stat") as f:
        start_ticks = int(f.read().rsplit(")", 1)[1].split()[19])
    return time.clock_gettime(time.CLOCK_BOOTTIME) - start_ticks / os.sysconf("SC_CLK_TCK")


def main(argv: list[str] | None = None) -> int:
    t_start = time.perf_counter() - process_age_s()
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--smoke", action="store_true",
                    help="tiny inputs (used by smoke.py to check the benchmark itself)")
    args = ap.parse_args(argv)

    sys.path.insert(0, ROOT)
    from perfbench import launch

    launch.require_program()
    run_dir = launch.fresh_run_dir()
    settings = launch.settings(run_dir)
    os.environ.update(settings)

    from perfbench.measure import timed

    _, build_s = timed(launch.build_shim)
    workload = importlib.import_module(f"perfbench.{args.workload}")

    spark = launch.start_spark(run_dir)
    try:
        wl = workload.Run(spark, run_dir, args.seed, args.smoke)
        # set-up: inputs, cold unit, (check, untimed), warm units
        wl.setup()
        _, check_s = timed(wl.check)
        wl.warm()
        setup_s = time.perf_counter() - t_start - build_s - check_s
        rss = launch.PeakRss(spark)
        if args.trace:
            # per-layer metrics only: one untraced unit gives the baseline
            # for the tracing overhead
            e2e = wl.measure(0.0, 1, rss)
        else:
            e2e = wl.measure(args.seconds, wl.min_units, rss)
        e2e.update(setup_s=setup_s, peak_rss_mb=rss.peak_mb)
        layers = {}
        if args.trace:
            layers = dict.fromkeys(PER_LAYER, 0.0)
            traced = wl.trace()
            wall = traced.pop("traced_wall_s")
            layers[f"{args.workload}.trace_overhead_s"] = wall - e2e["run_s"]
            layers.update(traced)
    finally:
        launch.stop_spark(spark)
        shutil.rmtree(run_dir, ignore_errors=True)

    e2e["success_frac"] = 1.0 - wl.failed / max(wl.attempted, 1)
    report = {"workload": args.workload, "seed": args.seed, "trace": args.trace,
              "total_s": time.perf_counter() - t_start, "build_s": build_s,
              "checks": wl.checks, "settings": settings, **wl.info}
    print(json.dumps({"report": report}, default=str))
    names = PER_LAYER if args.trace else END_TO_END
    values = layers if args.trace else e2e
    if set(values) != set(names):
        raise RuntimeError(f"metric set drifted: {sorted(set(values) ^ set(names))}")
    result = {
        "correct": wl.failed == 0 and {"oracle", "digest"} <= set(wl.checks),
        "attempted": wl.attempted,
        "failed": wl.failed,
        "metrics": {k: {"value": float(values[k]), "unit": u} for k, u in names.items()},
    }
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
