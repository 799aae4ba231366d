"""SparkSession factory tuned for the sandbox (local[N]) but shaped for clusters.

All knobs here are standard public Spark configs. On a real cluster the same
builder is used via ``spark-submit --py-files``; only master/memory change.
"""

from __future__ import annotations

import glob
import os
import shutil
import subprocess

from pyspark.sql import SparkSession

_SHIM_CACHE = "/tmp/tscv_fs_shim_classes"


def driver_memory() -> str:
    """Driver JVM heap: ``$SPARK_GRAFT_DRIVER_MEM`` if set, else
    min(16g, 60% of the host's MemAvailable). The heap is pinned with
    -Xms, so a fixed 16g cannot start on a host with less memory than
    that; 60% leaves room for Python workers and the OS page cache."""
    env = os.environ.get("SPARK_GRAFT_DRIVER_MEM")
    if env:
        return env
    cap_mb = 16 * 1024
    try:
        with open("/proc/meminfo") as fh:
            for line in fh:
                if line.startswith("MemAvailable:"):
                    avail_mb = int(line.split()[1]) // 1024
                    return f"{min(cap_mb, avail_mb * 6 // 10)}m"
    except OSError:
        pass
    return f"{cap_mb}m"


def _fs_shim_classpath() -> str | None:
    """Compile (once, cached on disk) the NIO-chmod local filesystem shim.

    Without the native hadoop library (absent in this sandbox), Hadoop's
    RawLocalFileSystem implements ``setPermission`` by FORKING a ``chmod``
    subprocess per created file/directory. Structured Streaming state
    checkpointing creates O(state partitions x stores) small files per
    micro-batch, partially under the global state-store provider lock —
    profiled at ~25 ms per fork, this serialized to multi-second
    micro-batch floors (thread dumps: every executor thread blocked on
    ``StateStore$.getStateStoreProvider`` while the holder sat in
    ``Shell.runCommand``). The shim overrides ``setPermission`` with
    ``java.nio.file.Files.setPosixFilePermissions`` — the same semantics,
    no fork. On clusters with libhadoop the stock implementation already
    uses native chmod and the shim is unnecessary (set
    ``SPARK_GRAFT_NO_FS_SHIM=1`` to disable it).
    """
    if os.environ.get("SPARK_GRAFT_NO_FS_SHIM") == "1":
        return None
    cls = os.path.join(_SHIM_CACHE, "sparkgraft", "fs", "NioChmodLocalFs.class")
    if os.path.exists(cls):
        return _SHIM_CACHE
    src_dir = os.path.join(os.path.dirname(os.path.abspath(__file__)), "javashim")
    srcs = sorted(glob.glob(os.path.join(src_dir, "sparkgraft", "fs", "*.java")))
    javac = shutil.which("javac")
    if not srcs or javac is None:
        return None
    try:
        import pyspark

        hadoop_jars = glob.glob(os.path.join(
            os.path.dirname(pyspark.__file__), "jars", "hadoop-client-api-*.jar"))
        if not hadoop_jars:
            return None
        tmp_out = f"{_SHIM_CACHE}.build.{os.getpid()}"
        os.makedirs(tmp_out, exist_ok=True)
        subprocess.run(
            [javac, "-cp", hadoop_jars[0], "-d", tmp_out, *srcs],
            check=True, capture_output=True, timeout=120,
        )
        try:
            os.rename(tmp_out, _SHIM_CACHE)  # atomic publish; loser keeps
        except OSError:
            shutil.rmtree(tmp_out, ignore_errors=True)
    except (OSError, subprocess.SubprocessError):
        return None
    return _SHIM_CACHE if os.path.exists(cls) else None


def get_spark(
    app_name: str = "tree_sitter_codeviews_spark",
    cores: int | None = None,
    extra_conf: dict | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession.

    cores: local parallelism (defaults to $SPARK_GRAFT_CPUS or '*').
    Shuffle partitions default to max(cores, 32), sized so a shuffle
    partition at bench scale stays well under executor memory; AQE
    coalesces small ones back down at runtime. extra_conf overrides any
    conf set here.
    """
    if cores is None:
        env = os.environ.get("SPARK_GRAFT_CPUS")
        master = f"local[{env}]" if env else "local[*]"
        n = int(env) if env else (os.cpu_count() or 8)
    else:
        master = f"local[{cores}]"
        n = cores
    mem = driver_memory()

    builder = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(max(n, 32)))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # AQE coalescing sizes partitions by SHUFFLE BYTES, which is a bad
        # proxy for work in compute-dense stages (explodes, grouped-map /
        # pandas evaluation): profiling showed 1-3 MB shuffles coalesced to
        # 1-2 partitions feeding seconds of per-row compute (DDA raster
        # explode, pair-verify joins, convex-hull grouped maps) on a
        # 32-core box. Lowering the coalesce floor keeps such stages
        # parallel; at production scale stages carry >> cores x 1 MB, so
        # the knob is inert there (coalescing only merges small
        # partitions). A deployment that prefers the stock 1 MB floor
        # passes it through extra_conf.
        .config("spark.sql.adaptive.coalescePartitions.minPartitionSize", "64k")
        .config("spark.driver.memory", mem)
        # -Xms pins the initial heap: incremental heap growth under load
        # causes full-GC storms with multi-x wall-clock variance in local
        # mode. -XX:-DontCompileHugeMethods lets HotSpot JIT whole-stage-
        # codegen methods past the 8KB bytecode default; without it, wide
        # generated predicates (e.g. the unrolled ray-cast refine) silently
        # run in the bytecode interpreter (measured 24x slower).
        .config("spark.driver.extraJavaOptions",
                f"-Xms{mem} "
                "-XX:-DontCompileHugeMethods")
        .config("spark.executor.extraJavaOptions", "-XX:-DontCompileHugeMethods")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "65536")
        .config("spark.ui.enabled", "false")
        # DataFrame call-site capture off. While on (pyspark's default),
        # every pyspark.sql.functions call and Column operator goes through
        # pyspark's _with_origin wrapper: about five extra py4j round trips
        # per call (active session, JVM lookup, conf read, origin set and
        # clear). The cost: an error no longer names the Python file:line
        # of the DataFrame call that built the failing expression. pyspark
        # reads it once per process, so debug with "true" in extra_conf in
        # a fresh process.
        .config("spark.python.sql.dataFrameDebugging.enabled", "false")
        # deterministic float formatting / parquet behavior
        .config("spark.sql.parquet.datetimeRebaseModeInWrite", "CORRECTED")
    )
    shim_cp = _fs_shim_classpath()
    if shim_cp is not None:
        builder = (
            builder.config("spark.driver.extraClassPath", shim_cp)
            .config("spark.hadoop.fs.AbstractFileSystem.file.impl",
                    "sparkgraft.fs.NioChmodLocalFs")
        )
    # Spark 4.1's per-checkpoint-file checksum doubles the small-file count
    # and makes every state-delta close await an async checksum write —
    # profiled at 115/241 executor-thread samples during the stream-stream
    # join drain. At streaming's micro-batch floor (KB-sized deltas) that
    # is ~35-45% of the batch wall; the integrity it adds targets
    # object-store corruption, which local-disk state does not see. A
    # durability-sensitive deployment re-enables it via this env knob.
    if os.environ.get("SPARK_GRAFT_CKPT_CHECKSUM") != "1":
        builder = builder.config(
            "spark.sql.streaming.checkpoint.fileChecksum.enabled", "false")
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark

