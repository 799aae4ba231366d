"""Launch settings the benchmark owns, the Spark session, and /proc readings.

Everything the benchmark writes lives under ``<checkout>/.bench_work``:
Spark's local dirs, the JVM and Python temp dirs, the filesystem-shim
classes, generated inputs and checkpoint roots. The settings are derived
from the host (``nproc``, ``MemAvailable``), not from the engine's
defaults, and every one is printed in the report line.
"""

from __future__ import annotations

import os
import shutil
import subprocess
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORK = os.path.join(ROOT, ".bench_work")
PACKAGE = "tree_sitter_codeviews_spark"

# Heap cap of the Spark JVM. The engine's default pins -Xms16g, which a
# 15 GB host cannot commit. The benchmark inputs fit in a fraction of this,
# and a heap that the warm-up fills keeps the peak-RSS reading steady.
HEAP_CAP_MB = 2048


def require_program() -> None:
    """Fail before any work when the program's sources are not beside us."""
    if not os.path.isdir(os.path.join(ROOT, PACKAGE)):
        raise SystemExit(f"perfbench: no {PACKAGE}/ package under {ROOT}")


def mem_available_mb() -> int:
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemAvailable:"):
                return int(line.split()[1]) // 1024
    raise RuntimeError("MemAvailable missing from /proc/meminfo")


def settings(run_dir: str) -> dict[str, str]:
    """Environment for the Spark JVM and the Python workers it forks."""
    cpus = len(os.sched_getaffinity(0))
    mem_mb = min(HEAP_CAP_MB, mem_available_mb() // 2)
    tmp = os.path.join(run_dir, "tmp")
    local = os.path.join(run_dir, "local")
    pythonpath = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH", "")) if p)
    return {
        "SPARK_GRAFT_CPUS": str(cpus),
        "SPARK_GRAFT_DRIVER_MEM": f"{mem_mb}m",
        # Python workers import the package by name; without the repo root
        # on their path they fail with ModuleNotFoundError.
        "PYTHONPATH": pythonpath,
        "SPARK_LOCAL_DIRS": local,
        "TMPDIR": tmp,
        # keep the JVM's temp files (streaming checkpoints, hsperfdata)
        # inside the run directory
        "JAVA_TOOL_OPTIONS": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
    }


def build_shim() -> None:
    """Compile the engine's filesystem shim once per checkout.

    This is the benchmark's build step: it runs before the set-up clock
    and later runs find the classes already there."""
    from tree_sitter_codeviews_spark import session

    session._SHIM_CACHE = os.path.join(WORK, "shim")
    session._fs_shim_classpath()


def start_spark(run_dir: str):
    from tree_sitter_codeviews_spark.session import get_spark

    spark = get_spark("perfbench", extra_conf={
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.warehouse.dir": os.path.join(run_dir, "warehouse"),
    })
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_spark(spark) -> None:
    """Stop the session, then the JVM and the Python workers it forked,
    and wait until every one of them has exited."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    pids = descendants(jvm_pid(spark)) if proc is not None else []
    spark.stop()
    if proc is None:
        return
    gateway.shutdown()
    proc.stdin.close()  # the gateway JVM exits when its stdin closes
    try:
        proc.wait(timeout=60)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
    deadline = time.monotonic() + 30
    for pid in pids:
        while os.path.exists(f"/proc/{pid}") and _state(pid) != "Z":
            if time.monotonic() > deadline:
                os.kill(pid, 9)
                deadline = time.monotonic() + 5
            time.sleep(0.05)


def jvm_pid(spark) -> int:
    return int(spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid())


def _state(pid: int) -> str:
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0]
    except OSError:
        return "X"


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        kids.setdefault(ppid, []).append(int(name))
    return kids


def descendants(pid: int) -> list[int]:
    kids = _children()
    out, todo = [], [pid]
    while todo:
        for c in kids.get(todo.pop(), []):
            out.append(c)
            todo.append(c)
    return out


def _hwm_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def host_steal_s() -> float:
    """CPU time the hypervisor gave to other guests, summed over CPUs."""
    with open("/proc/stat") as f:
        return int(f.readline().split()[8]) / os.sysconf("SC_CLK_TCK")


class PeakRss:
    """Peak resident memory (VmHWM) of the Spark JVM plus its Python
    workers, read from /proc; psutil is not needed."""

    def __init__(self, spark):
        self.pid = jvm_pid(spark)
        self.peak_mb = 0.0

    def sample(self) -> None:
        kb = _hwm_kb(self.pid) + sum(_hwm_kb(p) for p in descendants(self.pid))
        self.peak_mb = max(self.peak_mb, kb / 1024.0)


def fresh_run_dir() -> str:
    run_dir = os.path.join(WORK, f"run-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    for sub in ("tmp", "local", "in"):
        os.makedirs(os.path.join(run_dir, sub))
    return run_dir
