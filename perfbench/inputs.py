"""Seeded benchmark inputs, derived from the base tables in ``data/sf0.01``.

The base tables are a copy of the engine's sf0.01 test tables. Each
workload turns them into its own input directory from ``--seed`` alone, so
the same seed always gives byte-identical parquet, and the program only
ever sees the generated directory. Generation always runs (there is no
input cache), which keeps set-up time one-moded.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

BASE = os.path.join(os.path.dirname(os.path.abspath(__file__)), "data", "sf0.01")
TABLES = ("region", "nation", "customer", "supplier", "part",
          "orders", "lineitem", "events", "documents", "embeddings")


def _base(name: str) -> pa.Table:
    return pq.read_table(os.path.join(BASE, f"{name}.parquet"))


def _write(table: pa.Table, out_dir: str, name: str) -> None:
    pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))


def _remap_ids(table: pa.Table, col: str, rng: np.random.Generator,
               n: int | None = None) -> pa.Table:
    """Replicate ``table`` to ``n`` rows (default: its own size) under
    distinct seed-drawn ids in ``col``, in a seed-drawn row order."""
    n = table.num_rows if n is None else n
    src = rng.permutation(n) % table.num_rows
    ids = np.sort(rng.choice(8 * n, size=n, replace=False)).astype(np.int64)
    out = table.take(pa.array(src))
    return out.set_column(out.schema.get_field_index(col), col, pa.array(ids))


def pages_corpus(out_dir: str, seed: int, n_pages: int) -> int:
    """geo_join input: ``documents`` replicated to ``n_pages`` rows with
    seed-derived doc ids (every page, mention and point derives from its
    doc id). Returns the page count."""
    rng = np.random.default_rng([seed, 1])
    _write(_remap_ids(_base("documents"), "doc_id", rng, n_pages), out_dir, "documents")
    return n_pages


def pipeline_input(out_dir: str, seed: int) -> int:
    """Flagship-job input: seed id-remap of ``documents`` and
    ``embeddings`` at their base size, not replicated (identical replicas
    would square the near-duplicate pair space). Returns the input bytes."""
    rng = np.random.default_rng([seed, 2])
    _write(_remap_ids(_base("documents"), "doc_id", rng), out_dir, "documents")
    _write(_remap_ids(_base("embeddings"), "vec_id", rng), out_dir, "embeddings")
    return sum(os.path.getsize(os.path.join(out_dir, f"{t}.parquet"))
               for t in ("documents", "embeddings"))


def query_tables(out_dir: str, seed: int, fraction: float = 1.0) -> None:
    """query_mix input: every base table, rows in a seed-drawn order.

    Values are unchanged (the registry queries join on the TPC-H keys), so
    at ``fraction=1`` every result is the seed-independent one; only the
    physical layout, and with it partition contents and hash-join build
    order, varies. A smaller ``fraction`` keeps that share of the rows of
    every table larger than ``documents`` (the smoke check's size)."""
    rng = np.random.default_rng([seed, 3])
    keep_min = _base("documents").num_rows
    for name in TABLES:
        t = _base(name)
        order = rng.permutation(t.num_rows)
        if t.num_rows > keep_min:
            order = order[: max(keep_min, int(t.num_rows * fraction))]
        _write(t.take(pa.array(order)), out_dir, name)
