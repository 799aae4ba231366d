"""query_mix: a closed loop of registry queries, one client, one session.

Each cycle runs every query in ``QUERIES`` once, in a seed-drawn order per
cycle, and the next query starts when the previous one is forced. At this
input size fixed per-query cost dominates: query planning, AQE
re-planning, shuffle partitions per core, the Python-worker floor and the
streaming micro-batch floor.
"""

from __future__ import annotations

import os
import statistics
import time

import numpy as np

import __spark_entry__ as entry
from tests.oracle_util import assert_matches

from . import inputs
from .measure import Collected, Spans, force, query_phases, tail, timed_units

# (family, query): the cheapest registry query of each family, so that a
# cycle takes a few seconds on 4 cores and several cycles fit one run.
QUERIES = (
    ("geo", "geo_knn"),
    ("text", "text_quality"),
    ("dedup", "dedup_exact"),
    ("ann", "ann_topk_quantized"),
    ("graph", "webtext_domain_rank"),
    ("streaming", "events_stream_windows"),
    ("tpch", "q1_pricing"),
)
FAMILIES = ("geo", "text", "dedup", "ann", "graph", "streaming", "tpch")
MIN_CYCLES = 3
WARM_CYCLES = 2
SMOKE_FRACTION = 0.1  # sf0.001-sized tables


class Run:
    def __init__(self, spark, run_dir: str, seed: int, smoke: bool):
        self.spark, self.seed = spark, seed
        self.in_dir = os.path.join(run_dir, "in")
        self.registry = entry.queries()
        self.oracles = entry.oracle_sql()
        self.min_units = 1 if smoke else MIN_CYCLES
        self.fraction = SMOKE_FRACTION if smoke else 1.0
        self.attempted = self.failed = 0
        self.checks: list[str] = []
        self.expect: dict[str, tuple[int, int]] = {}
        self.info: dict = {"queries": len(QUERIES)}
        self.cycle_no = 0

    def _fail(self, msg: str) -> None:
        self.failed += 1
        self.info.setdefault("errors", []).append(msg[:500])

    def _order(self) -> list[tuple[str, str]]:
        rng = np.random.default_rng([self.seed, 5, self.cycle_no])
        self.cycle_no += 1
        return [QUERIES[i] for i in rng.permutation(len(QUERIES))]

    def _run_query(self, name: str):
        """Build and force one query; checks its digest. Returns the wall
        time, or None when it failed."""
        self.attempted += 1
        t0 = time.perf_counter()
        try:
            got = force(self.registry[name](self.spark, self.in_dir))
        except Exception as e:  # a failed query is counted, not fatal
            self._fail(f"{name}: {type(e).__name__}: {e}")
            return None
        wall = time.perf_counter() - t0
        want = self.expect.setdefault(name, got)
        if got != want:
            self._fail(f"{name}: digest {got} != {want}")
            return None
        return wall

    def _cycle(self, lat: dict[str, list[float]] | None = None) -> float:
        t0 = time.perf_counter()
        for _, name in self._order():
            wall = self._run_query(name)
            if lat is not None and wall is not None:
                lat.setdefault(name, []).append(wall)
        return time.perf_counter() - t0

    # -- phases ------------------------------------------------------------

    def setup(self) -> None:
        """Inputs and the cold cycle; ``warm`` finishes set-up after the check."""
        inputs.query_tables(self.in_dir, self.seed, self.fraction)
        self.info["warmup_cycle_s"] = [round(self._cycle(), 3)]

    def warm(self) -> None:
        # after the check, which leaves the next cycle slow; cycle walls keep
        # falling while the JIT catches up
        for _ in range(WARM_CYCLES):
            self.info["warmup_cycle_s"].append(round(self._cycle(), 3))

    def check(self) -> None:
        """Compare every query once against its DuckDB oracle (rows-only
        queries are held to a digest that must stay stable across cycles)."""
        for _, name in QUERIES:
            self.attempted += 1
            try:
                got = Collected(self.registry[name](self.spark, self.in_dir))
                if name in self.oracles:
                    assert_matches(got, self.in_dir, self.oracles[name], name)
            except Exception as e:  # a mismatch is a counted failure
                self._fail(f"{name}: oracle: {type(e).__name__}: {e}")
                continue
            if got.digest != self.expect.get(name):
                self._fail(f"{name}: digest {got.digest} != warm-up {self.expect.get(name)}")
        self.checks.append("oracle")

    def measure(self, seconds: float, min_units: int, rss) -> dict[str, float]:
        by_query: dict[str, list[float]] = {}

        def unit() -> bool:
            failed = self.failed
            self._cycle(by_query)
            return self.failed == failed

        u = timed_units(unit, seconds, min_units, rss)
        self.checks.append("digest")
        lat = [x for xs in by_query.values() for x in xs]
        run_s = statistics.median(u["walls"])
        self.info.update(
            cycle_s=[round(w, 3) for w in u["walls"]], steal_s=round(u["steal_s"], 2),
            query_latency={"p50": statistics.median(lat), "n": len(lat), "tail": tail(lat)},
            query_p50_s={q: round(statistics.median(xs), 3) for q, xs in by_query.items()})
        return {"run_s": run_s, "throughput_per_s": len(QUERIES) / run_s}

    # -- traced run ----------------------------------------------------------

    def trace(self) -> dict[str, float]:
        sp = Spans(self.spark)
        out = dict.fromkeys(
            [f"queries.{k}" for k in ("build_s", "analysis_s", "optimization_s",
                                      "planning_s", "jobs", "tasks", "py_gap_s")]
            + [f"queries.{f}.{k}" for f in FAMILIES
               for k in ("exec_s", "task_cpu_s", "py_gap_s")], 0.0)
        t0 = time.perf_counter()
        for family, name in self._order():
            self.attempted += 1
            try:
                df, rows, dig, m = sp.run(
                    name, lambda: self.registry[name](self.spark, self.in_dir))
                phases = query_phases(df)
            except Exception as e:  # a failed query is counted, not fatal
                self._fail(f"{name}: trace: {type(e).__name__}: {e}")
                continue
            if (rows, dig) != self.expect.get(name):
                self._fail(f"{name}: trace digest {(rows, dig)} != {self.expect.get(name)}")
            out["queries.build_s"] += m["build_s"]
            for k in ("analysis", "optimization", "planning"):
                out[f"queries.{k}_s"] += phases.get(k, 0.0)
            for k in ("jobs", "tasks", "py_gap_s"):
                out[f"queries.{k}"] += m[k]
            for k in ("exec_s", "task_cpu_s", "py_gap_s"):
                out[f"queries.{family}.{k}"] += m[k]
        out["traced_wall_s"] = time.perf_counter() - t0
        out.update({f"query_mix.{k}": v for k, v in sp.workload_totals().items()})
        return out
