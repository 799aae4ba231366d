"""Arrow-path construction of small driver-local DataFrames (dims and
driver-arm results).

``spark.createDataFrame(list_of_tuples)`` builds a ParallelCollectionRDD of
PICKLED Python rows: every execution of the frame (each broadcast build,
each rep of a timed query) runs a PythonRDD — profiled at ~140 ms of
Python-worker round-trip per task with near-zero JVM CPU, the single
largest fixed cost of the dim-heavy queries. A ``pyarrow.Table`` is
decoded JVM-side into a local relation instead: no Python at runtime and
no Spark job to collect it (measured 3-5x on broadcast-dim builds). The
table is built directly rather than through pandas, because PySpark skips
Arrow for an EMPTY pandas frame and falls back to an RDD-backed frame
whose every use starts a job; a zero-row table plans as an empty local
relation.

FLAT schemas only (ints/floats/strings/bools): nested arrays/structs keep
the stock list path at their call sites.
"""

from __future__ import annotations

import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T
from pyspark.sql.pandas.types import to_arrow_schema


def arrow_local_df(spark: SparkSession, rows, schema: str) -> DataFrame:
    """createDataFrame from a pyarrow Table, for any row count. ``schema``
    is a DDL string like ``"dx int, dy int"`` (flat types only); ``rows``
    an iterable of tuples."""
    st = T.StructType.fromDDL(schema)
    arrow = to_arrow_schema(st)
    cols = list(zip(*rows)) or [()] * len(st.fields)
    table = pa.Table.from_arrays(
        [pa.array(c, type=f.type) for c, f in zip(cols, arrow)], schema=arrow)
    return spark.createDataFrame(table, schema=st)
