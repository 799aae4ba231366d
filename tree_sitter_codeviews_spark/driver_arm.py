"""The size probe every size-adaptive operator shares.

Connected components, reachability, reaching definitions, closure, ring
kNN, the link-graph fixpoints and BPE merge rounds each have two arms: a
driver arm that collects the operator's (small) input and solves it in
Python, and a distributed Spark loop. On a dim-sized input each round of
the loop is pure per-job latency, so the driver arm wins; above the cap
the loop is the only path. This module is the one place that choice is
made. The ANN operators collect their query and centroid matrices
through the same probe as a hard guard: they have no distributed arm,
so above their cap they raise.

Discipline:

- Collect Arrow columns (``toPandas``), never ``collect()`` Row objects.
  A Row costs ~100x its bytes in Python object overhead; an Arrow int64
  or short-string column costs its bytes.
- Each cap bounds driver memory. ``ROW_CAP`` rows of a few int64 or
  short-string columns is tens of MB of Arrow data, well inside any
  driver heap. An operator whose driver arm is superlinear in its input
  owns a smaller cap next to that arm.
- The probe is ``limit(cap + 1)``: one job that never brings more than
  ``cap + 1`` rows to the driver, whatever the input size. On a frame the
  caller has already ``localCheckpoint``ed for its distributed loop, it
  scans the checkpoint, replacing a separate count job and collect job.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame

# Driver-arm cap of the linear-memory arms: ~500k rows = tens of MB of
# Arrow columns.
ROW_CAP = 500_000


def collect_if_small(df: DataFrame, cap: int) -> pd.DataFrame | None:
    """``df`` as a pandas frame if it has at most ``cap`` rows, else None
    (the caller then runs its distributed loop)."""
    pdf = df.limit(cap + 1).toPandas()
    return None if len(pdf) > cap else pdf
