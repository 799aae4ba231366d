"""Readers for the driver-generated parquet tables (TESTDATA.md).

At cluster scale these become Iceberg catalog reads
(``spark.read.format("iceberg").load(...)``) partitioned by
``bucket(url)`` / ``days(warc_ts)``; in the sandbox they are plain parquet.
Column pruning + predicate pushdown happen automatically as long as callers
``select`` narrow early — verified in tests via ``explain``.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType

TABLES = (
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
)


# (path, mtime_ns, size) -> StructType. Schema inference reads the parquet
# footer through a driver round trip (~150 ms) EVERY time a query plan is
# built; the schema is deterministic metadata, so cache it per file state
# and hand it to the reader (reader.schema(...) skips inference). Data is
# still read from parquet on every execution — this caches no results.
_SCHEMA_CACHE: dict = {}


def table_schema(spark: SparkSession, sf_dir: str, name: str) -> StructType:
    """Schema of table ``name``, inferred once per file state."""
    path = os.path.join(sf_dir, f"{name}.parquet")
    try:
        st = os.stat(path)
        key = (path, st.st_mtime_ns, st.st_size)
    except OSError:
        return spark.read.parquet(path).schema  # not a local file: no key
    schema = _SCHEMA_CACHE.get(key)
    if schema is None:
        schema = spark.read.parquet(path).schema
        _SCHEMA_CACHE[key] = schema
    return schema


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.schema(table_schema(spark, sf_dir, name)).parquet(
        os.path.join(sf_dir, f"{name}.parquet"))


def load_all(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    return {t: load_table(spark, sf_dir, t) for t in TABLES}
