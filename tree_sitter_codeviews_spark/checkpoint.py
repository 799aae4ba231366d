"""Stage checkpointing: per-file lineage + metrics, resume-without-recompute.

Design recorded in SURVEY.md §2.9/§7.2-stage-5: the reference re-parses every
document once per view (``AST_driver.py:17``, ``CFG_driver.py:17``,
``DFG_driver.py:17`` — its biggest wasted-work bug); the engine inverts that
into *compute once, checkpoint, reuse*. Resume is **batch** idempotence, not
Structured Streaming: each stage writes to a stage table; a completed stage
(atomic ``_SUCCESS`` marker, written by Spark's commit protocol) is read
back, never recomputed; a chunked stage recomputes only its pending chunks
(the anti-join of declared chunks minus committed ones).

In the sandbox the checkpoint "table" is a parquet directory tree; on a real
cluster the same layout maps 1:1 onto an Iceberg table partitioned by
(job_id, stage) — the ``_SUCCESS`` marker's role is played by the snapshot
commit, and the lineage view by the snapshot's manifest.

Layout:
    {root}/{job_id}/stages/{stage}/            stage output parquet
    {root}/{job_id}/stages/{stage}/chunk={c}/  chunked stage output
    {root}/{job_id}/metrics/                   one file per stage/chunk run:
                                               (job_id, stage, chunk, n_rows,
                                               wall_s, recorded_at)

The bookkeeping runs no Spark job, and neither does reading a committed
stage back: the read takes the schema Spark recorded in the parquet footers
at commit instead of inferring it. Lineage is a view, not a table: one
(stage, chunk, file, n_rows) row per parquet file of every committed stage
or chunk directory, with ``n_rows`` read from the file's footer. It always
describes the bytes a resume will read, so a recomputed stage cannot leave
stale rows behind. Each metrics row is a one-row parquet file written by
the driver under a hidden name and renamed into place, so a crash never
leaves a partial file for ``metrics()`` to read.
"""

from __future__ import annotations

import glob
import json
import os
import time
import uuid
from collections.abc import Callable, Iterator, Sequence

import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T
from pyspark.sql.pandas.types import from_arrow_schema

from tree_sitter_codeviews_spark.localdf import arrow_local_df


# One metrics row per stage/chunk run: ``_record`` writes with it and
# ``metrics()`` reads with it, so the read infers nothing.
METRICS_SCHEMA = pa.schema([
    ("job_id", pa.string()), ("stage", pa.string()), ("chunk", pa.string()),
    ("n_rows", pa.int64()), ("wall_s", pa.float64()), ("recorded_at", pa.float64()),
])


def _complete(path: str) -> bool:
    return os.path.exists(os.path.join(path, "_SUCCESS"))


def _parquet_files(out_dir: str) -> list[str]:
    return sorted(glob.glob(os.path.join(glob.escape(out_dir), "*.parquet")))


def _footer_rows(out_dir: str) -> list[tuple[str, int]]:
    """(file, n_rows) of each parquet file of an output directory."""
    return [(f, pq.read_metadata(f).num_rows) for f in _parquet_files(out_dir)]


def _committed_schema(out_dir: str) -> T.StructType:
    """The Spark schema a committed output directory was written with, from
    the row metadata Spark stores in every parquet footer. Reading with it
    skips the schema-inference job a bare ``spark.read.parquet`` runs."""
    meta = pq.read_metadata(_parquet_files(out_dir)[0]).metadata
    return T.StructType.fromJson(
        json.loads(meta[b"org.apache.spark.sql.parquet.row.metadata"]))


class Pipeline:
    """A resumable multi-stage job. Same (root, job_id) => same checkpoints."""

    def __init__(self, spark: SparkSession, root: str, job_id: str):
        self.spark = spark
        self.root = root
        self.job_id = job_id
        self.base = os.path.join(root, job_id)
        self.recomputed: list[str] = []  # stage/chunk names computed this run

    # -- internal ----------------------------------------------------------

    def _stage_dir(self, stage: str) -> str:
        return os.path.join(self.base, "stages", stage)

    def _files(self) -> Iterator[tuple[str, str, str, int]]:
        """(stage, chunk, file, n_rows) of each parquet file in every
        committed stage or chunk directory, ``n_rows`` from its footer."""
        stages = os.path.join(self.base, "stages")
        pat = os.path.join(glob.escape(stages), "*")
        markers = glob.glob(f"{pat}/_SUCCESS") + glob.glob(f"{pat}/chunk=*/_SUCCESS")
        for out in sorted(map(os.path.dirname, markers)):
            stage, _, chunk = os.path.relpath(out, stages).partition("/chunk=")
            for f, n in _footer_rows(out):
                yield stage, chunk, f, n

    def _record(self, stage: str, chunk: str, out_dir: str, wall_s: float) -> None:
        row = pa.table({
            "job_id": [self.job_id], "stage": [stage], "chunk": [chunk],
            "n_rows": [sum(n for _, n in _footer_rows(out_dir))],
            "wall_s": [float(wall_s)], "recorded_at": [time.time()],
        }, schema=METRICS_SCHEMA)
        metrics = os.path.join(self.base, "metrics")
        os.makedirs(metrics, exist_ok=True)
        name = f"part-{uuid.uuid4().hex}.parquet"
        pq.write_table(row, os.path.join(metrics, f".{name}"))  # hidden from readers
        os.replace(os.path.join(metrics, f".{name}"), os.path.join(metrics, name))

    # -- public ------------------------------------------------------------

    def stage(self, name: str, compute: Callable[[], DataFrame]) -> DataFrame:
        """Run (or resume) one stage; returns the stage output DataFrame
        backed by the checkpoint files (lineage truncated — downstream
        stages re-read parquet, they don't re-trace the producing plan)."""
        out = self._stage_dir(name)
        if not _complete(out):
            t0 = time.monotonic()
            compute().write.mode("overwrite").parquet(out)
            self._record(name, "", out, time.monotonic() - t0)
            self.recomputed.append(name)
        return self.spark.read.schema(_committed_schema(out)).parquet(out)

    def chunked_stage(
        self,
        name: str,
        chunks: Sequence[str],
        compute_chunk: Callable[[str], DataFrame],
    ) -> DataFrame:
        """Stage split into independently-committed chunks (e.g. Hilbert
        key ranges). Resume recomputes only pending chunks. The ``chunk``
        partition column comes from the chunk directory names."""
        base = self._stage_dir(name)
        pending = [c for c in chunks if not _complete(os.path.join(base, f"chunk={c}"))]
        for c in pending:
            out = os.path.join(base, f"chunk={c}")
            t0 = time.monotonic()
            compute_chunk(c).write.mode("overwrite").parquet(out)
            self._record(name, c, out, time.monotonic() - t0)
            self.recomputed.append(f"{name}/{c}")
        paths = [os.path.join(base, f"chunk={c}") for c in chunks]
        return (
            self.spark.read.schema(_committed_schema(paths[0]))
            .option("basePath", base).parquet(*paths)
        )

    def lineage(self) -> DataFrame:
        """(job_id, stage, chunk, file, n_rows) per committed parquet file:
        a driver-local frame built from the footers."""
        return arrow_local_df(
            self.spark, [(self.job_id, *r) for r in self._files()],
            "job_id string, stage string, chunk string, file string, n_rows long")

    def stage_rows(self) -> dict[str, int]:
        """Committed rows per stage (chunks summed): the lineage view summed."""
        n: dict[str, int] = {}
        for stage, _, _, k in self._files():
            n[stage] = n.get(stage, 0) + k
        return n

    def metrics(self) -> DataFrame:
        """One row per stage/chunk run, read with ``METRICS_SCHEMA``."""
        return self.spark.read.schema(from_arrow_schema(METRICS_SCHEMA)).parquet(
            os.path.join(self.base, "metrics"))
