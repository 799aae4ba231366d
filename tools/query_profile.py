#!/usr/bin/env python
"""Per-query wall and layer split, through bench.py's own timing child.

``time`` spawns fresh ``bench.py --mode queries`` children (the bench
protocol: sf0.001 warm, target warm, min-of-reps ``.count()``), two per
query, interleaved across the queries (q1, q2, q1, q2) so that host drift
hits every query alike. Per query it prints the min and max wall, the
fastest child's layer split (plan build, execution, JVM task CPU, the
run-minus-CPU Python gap, shuffle, spill) and its slowest stages, all read
from Spark's in-process status store, then one JSON line. With ``--conf``
it runs A (no conf) and B (the conf) alternately, twice each, per query
and reports the min per side. ``explain`` writes each query's formatted
physical plan to ``plans/r06/<query>_<tag>.txt``, all in one JVM.

    python tools/query_profile.py time [--sf-dir D] [--conf k=v ...] q1 [q2 ...]
    python tools/query_profile.py explain [--sf-dir D] --tag T q1 [q2 ...]
"""

from __future__ import annotations

import argparse
import json
import os
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

import bench  # noqa: E402

LAYER_KEYS = ("build_s", "exec_s", "jobs", "tasks", "task_cpu_s", "py_gap_s",
              "shuffle_mb", "spill_mb")
TOP_STAGES = 8
# children per query (and per side of a --conf A/B)
REPEATS = 2


def _time_one(name: str, sf_dir: str, confs: list[str]) -> dict:
    res = bench._run_child([
        "--mode", "queries", "--names", name, "--sf-dir", sf_dir,
        *(arg for kv in confs for arg in ("--conf", kv)),
    ])
    return {"wall": res["times"][name], "conf": res["conf"],
            **res["layers"][name]}


def _print_run(label: str, run: dict) -> None:
    print(f"== {label}: {run['wall']} s  "
          + "  ".join(f"{k}={run[k]}" for k in LAYER_KEYS), flush=True)
    for s in run["stages"][:TOP_STAGES]:
        print(f"   stage {s['stage']:>4} wall={s['wall_ms']}ms "
              f"tasks={s['n_tasks']:>3} run={s['run_ms']}ms cpu={s['cpu_ms']}ms "
              f"in={s['input_mb']}MB shR={s['sh_read_mb']}MB "
              f"shW={s['sh_write_mb']}MB  {s['callsite']}", flush=True)


def time_queries(names: list[str], sf_dir: str, confs: list[str]) -> dict:
    results = {}
    if not confs:
        runs: dict[str, list[dict]] = {name: [] for name in names}
        for _ in range(REPEATS):
            for name in names:
                runs[name].append(_time_one(name, sf_dir, []))
        for name, name_runs in runs.items():
            best = min(name_runs, key=lambda r: r["wall"])
            walls = [r["wall"] for r in name_runs]
            _print_run(f"{name} min={min(walls)} max={max(walls)}", best)
            results[name] = {"wall": best["wall"], "wall_max": max(walls),
                             **{k: best[k] for k in LAYER_KEYS}}
    else:
        for name in names:
            # A,B,A,B so host drift hits both sides alike
            runs = {"A": [], "B": []}
            for _ in range(REPEATS):
                for side, side_confs in (("A", []), ("B", confs)):
                    runs[side].append(_time_one(name, sf_dir, side_confs))
            results[name] = {}
            for side, side_runs in runs.items():
                best = min(side_runs, key=lambda r: r["wall"])
                _print_run(f"{name} {side} {best['conf'] or '(base)'} "
                           f"walls={[r['wall'] for r in side_runs]}", best)
                results[name][side] = best["wall"]
    print(json.dumps(results), flush=True)
    return results


def explain_queries(names: list[str], sf_dir: str, tag: str) -> None:
    import __spark_entry__ as entry_mod

    from tree_sitter_codeviews_spark.session import get_spark

    qmap = entry_mod.queries()
    spark = get_spark("explain")
    out_dir = os.path.join(REPO, "plans", "r06")
    os.makedirs(out_dir, exist_ok=True)
    for name in names:
        df = qmap[name](spark, sf_dir)
        path = os.path.join(out_dir, f"{name}_{tag}.txt")
        with open(path, "w") as fh:
            fh.write(df._sc._jvm.PythonSQLUtils.explainString(
                df._jdf.queryExecution(), "formatted"))
        print(f"explained {name} -> {os.path.relpath(path, REPO)}", flush=True)
    spark.stop()


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    sub = ap.add_subparsers(dest="cmd", required=True)
    for cmd in ("time", "explain"):
        p = sub.add_parser(cmd)
        p.add_argument("names", nargs="+")
        p.add_argument("--sf-dir", default=os.environ.get(
            "SPARK_GRAFT_SF_DIR",
            os.path.join(os.path.dirname(bench.WARM_SF), "sf0.1")))
    sub.choices["time"].add_argument(
        "--conf", action="append", default=[], metavar="K=V",
        help="run an A/B of this Spark setting against the base config")
    sub.choices["explain"].add_argument("--tag", required=True)
    args = ap.parse_args()
    if args.cmd == "time":
        time_queries(args.names, args.sf_dir, args.conf)
    else:
        explain_queries(args.names, args.sf_dir, args.tag)


if __name__ == "__main__":
    main()
