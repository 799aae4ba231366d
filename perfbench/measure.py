"""Forcing, output digests, statistics, and status-store spans.

Every measured output is forced with a ``noop`` write, never ``count()``:
a count lets Catalyst prune unused columns (``pages_df(...).count()``
never builds ``html``), so it would time a different program. The same
write carries an ``observe`` of an order-insensitive digest (row count and
XOR of per-row 64-bit hashes), so each output is checked without running
it twice.

A span is one call into a module's public function. The traced run tags
the call's Spark jobs with ``setJobGroup`` and, as soon as the call is
forced, sums its stages from the in-process status store (read per span:
the store evicts entries past ``spark.ui.retainedStages``).
"""

from __future__ import annotations

import itertools
import statistics
import time
from collections.abc import Callable

from pyspark.sql import DataFrame, Observation
from pyspark.sql import functions as F
from pyspark.sql import types as T


def _hashable(df: DataFrame) -> list:
    # map columns have no hash function; hash their JSON form instead
    return [F.to_json(F.col(f.name)) if isinstance(f.dataType, T.MapType) else F.col(f.name)
            for f in df.schema.fields]


def _digest_cols(df: DataFrame) -> list:
    return [F.count(F.lit(1)).alias("n"), F.bit_xor(F.xxhash64(*_hashable(df))).alias("h")]


def force(df: DataFrame) -> tuple[int, int]:
    """Materialise every column of ``df``; returns its (rows, digest)."""
    obs = Observation()
    df.observe(obs, *_digest_cols(df)).write.format("noop").mode("overwrite").save()
    m = obs.get
    return int(m["n"]), int(m["h"] or 0)


class Collected:
    """A collected result that ``tests.oracle_util.assert_matches`` can
    take in place of a DataFrame (it only calls ``toPandas``)."""

    def __init__(self, df: DataFrame):
        obs = Observation()
        self.pdf = df.observe(obs, *_digest_cols(df)).toPandas()
        m = obs.get
        self.digest = (int(m["n"]), int(m["h"] or 0))

    def toPandas(self):
        return self.pdf


def digest(df: DataFrame) -> tuple[int, int]:
    """The same (rows, digest) pair as ``force``, read back with an
    aggregate (for checkpoint tables, which are already on disk)."""
    r = df.agg(*_digest_cols(df)).collect()[0]
    return int(r["n"]), int(r["h"] or 0)


def tail(xs: list[float]) -> dict | None:
    """The highest whole percentile above the median with at least ten
    samples beyond it, with its value and the sample count; None when
    there are fewer than 20 samples."""
    n = len(xs)
    if n < 20:
        return None
    pct = int(100 * (1 - 10 / n))
    value = statistics.quantiles(xs, n=100, method="inclusive")[pct - 1]
    return {"pct": pct, "value": value, "n": n}


def timed(fn: Callable[[], object]) -> tuple[object, float]:
    t0 = time.perf_counter()
    out = fn()
    return out, time.perf_counter() - t0


def timed_units(unit: Callable[[], bool], seconds: float, min_units: int,
                rss) -> dict[str, list[float] | float]:
    """Run ``unit`` until ``seconds`` have passed and at least
    ``min_units`` ran. Returns the walls of the units that succeeded
    (``unit`` returns False for a failed or wrong one) and the host steal
    time over the loop, which the report carries to explain outliers."""
    from .launch import host_steal_s

    walls = []
    steal0 = host_steal_s()
    t_end = time.perf_counter() + seconds
    for i in itertools.count():
        if i >= min_units and time.perf_counter() >= t_end:
            break
        ok, wall = timed(unit)
        rss.sample()
        if ok:
            walls.append(wall)
    return {"walls": walls, "steal_s": host_steal_s() - steal0}


STAGE_FIELDS = ("run_ms", "cpu_ns", "shuffle_b", "spill_b", "gc_ms", "tasks")


class Spans:
    """Per-span stage totals from the status store (trace runs only)."""

    _ids = itertools.count()

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.store = self.sc._jsc.sc().statusStore()
        self.jvm = self.sc._jvm
        self.tracker = self.sc.statusTracker()
        self.group = ""
        self.totals = dict.fromkeys(STAGE_FIELDS, 0)  # over every span

    def begin(self, name: str) -> None:
        self.group = f"perfbench-{next(self._ids)}-{name}"
        self.sc.setJobGroup(self.group, name, False)

    def end(self) -> dict[str, float]:
        """Stage totals of the jobs run since ``begin``, plus job count."""
        self.sc.setLocalProperty("spark.jobGroup.id", None)
        self.sc.setLocalProperty("spark.job.description", None)
        jobs = self.tracker.getJobIdsForGroup(self.group)
        stage_ids = set()
        for j in jobs:
            info = self.tracker.getJobInfo(j)
            if info is not None:
                stage_ids.update(int(s) for s in info.stageIds)
        tot = dict.fromkeys(STAGE_FIELDS, 0)
        empty = self.jvm.java.util.ArrayList()
        quantiles = self.sc._gateway.new_array(self.jvm.double, 0)
        for sid in stage_ids:
            attempts = self.store.stageData(sid, False, empty, False, quantiles)
            for i in range(attempts.size()):
                sd = attempts.apply(i)
                tot["run_ms"] += sd.executorRunTime()
                tot["cpu_ns"] += sd.executorCpuTime()
                tot["shuffle_b"] += sd.shuffleWriteBytes()
                tot["spill_b"] += sd.memoryBytesSpilled() + sd.diskBytesSpilled()
                tot["gc_ms"] += sd.jvmGcTime()
                tot["tasks"] += sd.numCompleteTasks()
        for k in STAGE_FIELDS:
            self.totals[k] += tot[k]
        return {
            "task_cpu_s": tot["cpu_ns"] / 1e9,
            # executor run time not spent on JVM CPU: Python workers + waits
            "py_gap_s": max(0.0, tot["run_ms"] / 1e3 - tot["cpu_ns"] / 1e9),
            "shuffle_mb": tot["shuffle_b"] / 1e6,
            "jobs": len(jobs),
            "tasks": tot["tasks"],
        }

    def run(self, name: str, build: Callable[[], DataFrame]):
        """Build and force one span; returns (df, rows, digest, metrics)."""
        self.begin(name)
        df, build_s = timed(build)
        (rows, dig), exec_s = timed(lambda: force(df))
        m = self.end()
        m.update(build_s=build_s, exec_s=exec_s)
        return df, rows, dig, m

    def workload_totals(self) -> dict[str, float]:
        return {
            "gc_s": self.totals["gc_ms"] / 1e3,
            "spill_mb": self.totals["spill_b"] / 1e6,
            "tasks": self.totals["tasks"],
        }


def query_phases(df: DataFrame) -> dict[str, float]:
    """Analysis / optimisation / planning seconds of ``df``'s plan (plans
    it if that has not happened yet)."""
    qe = df._jdf.queryExecution()
    qe.executedPlan()
    phases = qe.tracker().phases()
    out = {}
    it = phases.iterator()
    while it.hasNext():
        kv = it.next()
        out[str(kv._1())] = kv._2().durationMs() / 1e3
    return out
