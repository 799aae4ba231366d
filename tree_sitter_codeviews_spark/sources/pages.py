"""Deterministic Common-Crawl-style pages table (BASELINE.json input_hint).

Synthesised from the driver's ``documents`` parquet with **pure JVM column
expressions** (no Python anywhere): every column is a deterministic function
of ``doc_id`` + ``text``, so the table is byte-identical across reruns,
retries and parallelism levels — the engine-side restatement of the
reference's content-derived-key discipline (``custom_parser.py:45-57``) and
the preprocessor's pure-function contract (``utils/preprocessor.py:6-68``).

Schema: (url string, warc_ts timestamp, html binary, text string, lang string)
plus ``doc_id`` kept as the lineage key back to the source table.

The page body embeds 1-3 gazetteer mentions (`` GEO_#####`` tokens, formulas in
``layers.py``) that the extraction operators later recover from the html —
the whole point being that extraction must reproduce them byte-for-byte.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from .. import layers
from .testdata import load_table

HTML_PRE = "<html><head><title>"
HTML_MID = "</title></head><body><p>"
HTML_POST = "</p></body></html>"

# The projections below are SQL text, one ``selectExpr`` each: built
# through the Column API, the same trees cost about 1,570 py4j round trips
# per pages + gazetteer build against about 130, and every geo query
# builds them.

# mention j: ' GEO_#####' when j < mentions-per-doc (1 + doc_id % 3), else ''
_MENTIONS = [
    f"CASE WHEN {j} < 1 + doc_id % 3 THEN concat(' GEO_', format_string('%05d', "
    f"(doc_id * 7 + {j * 131}) % {layers.N_GAZ})) ELSE '' END"
    for j in range(3)
]
# text || embedded mentions: the byte-identical extraction target
PAGE_TEXT_SQL = f"concat(text, {', '.join(_MENTIONS)})"
URL_SQL = "format_string('https://host%04d.example/doc/%d', doc_id % 100, doc_id)"
# seeded timestamp in a fixed 30-day window (FIXTURES.md §1)
WARC_TS_SQL = ("timestamp'2026-01-01 00:00:00' + "
               "make_interval(0,0,0,0,0,0, (doc_id * 97) % 2592000)")


def pages_df(spark: SparkSession, sf_dir: str) -> DataFrame:
    # the sf parquet is a single row group (= one task); spread the NARROW
    # source columns before synthesizing html so downstream extraction
    # parallelizes. Capped at 16: measured 0.47s at 4-16 parts vs 1.6s at
    # 32 on this suite's data when extraction still ran in Python workers.
    # Extraction has been one JVM expression since, and the cap has not
    # been re-measured (it only binds above 16 cores). At production scale
    # the table arrives already partitioned and this shuffle disappears.
    n_parts = max(4, min(16, spark.sparkContext.defaultParallelism))
    docs = (
        load_table(spark, sf_dir, "documents")
        .select("doc_id", "text", "lang")
        .repartition(n_parts, "doc_id")
    )
    return docs.selectExpr(
        "doc_id",
        f"{URL_SQL} as url",
        f"{WARC_TS_SQL} as warc_ts",
        f"encode(concat('{HTML_PRE}', {URL_SQL}, '{HTML_MID}', {PAGE_TEXT_SQL}, "
        f"'{HTML_POST}'), 'UTF-8') as html",
        f"{PAGE_TEXT_SQL} as text",
        "lang",
    )


def gazetteer_df(spark: SparkSession) -> DataFrame:
    """Broadcast dim: (gaz_idx, surface, lon, lat, entity_kind). Tiny (1000
    rows) — built natively from range(); always broadcast at join sites."""
    gx = layers.GAZ_GX_SQL.format(i="gaz_idx")
    gy = layers.GAZ_GY_SQL.format(i="gaz_idx")
    n = layers.GRID_N
    return spark.range(layers.N_GAZ).withColumnRenamed("id", "gaz_idx").selectExpr(
        "gaz_idx",
        "format_string('GEO_%05d', gaz_idx) as surface",
        f"-180.0D + 360.0D * (cast({gx} as double) + 0.5D) / {n} as lon",
        f"-90.0D + 180.0D * (cast({gy} as double) + 0.5D) / {n} as lat",
        "element_at(array('city', 'poi', 'region'), cast(gaz_idx % 3 + 1 as int))"
        " as entity_kind",
    )


def doc_points_df(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One deterministic point per document (with hot-cell skew), native ops.

    (doc_id, gx, gy, lon, lat) at the res-10 derivation grid (layers.py)."""
    return points_from_ids(load_table(spark, sf_dir, "documents").select("doc_id"))


def event_points_df(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The events table plus each ping's point and time keys, native ops.

    Adds ``ex``/``ey`` (res-10 grid, ``layers.EVT_GX_SQL``/``EVT_GY_SQL``),
    ``sec`` (epoch seconds) and ``day`` (epoch day). Callers select what
    they use; column pruning drops the rest before the scan. Built as SQL
    text for the same plan-build reason as ``points_from_ids``."""
    return load_table(spark, sf_dir, "events").selectExpr(
        "*",
        f"{layers.EVT_GX_SQL} as ex",
        f"{layers.EVT_GY_SQL} as ey",
        "unix_timestamp(ts) as sec",
        "CAST(floor(unix_timestamp(ts) / 86400.0) AS BIGINT) as day",
    )


def points_from_ids(docs: DataFrame) -> DataFrame:
    """Derive deterministic skewed points from any (doc_id) set — same
    formulas (``layers.DOC_GX_SQL``/``DOC_GY_SQL``) as the DuckDB oracle CTEs.

    Built as SQL text (the DOC_GX_SQL constants + D-suffixed double
    literals so nothing parses as DECIMAL): the Column-builder version of
    this projection measured ~0.16 s of py4j driver time per plan build,
    and every geo query builds it. Values identical (hot-cell CASE == the
    element_at lookup, same IEEE op order for lon/lat)."""
    gx = f"cast({layers.DOC_GX_SQL} as bigint)"
    gy = f"cast({layers.DOC_GY_SQL} as bigint)"
    return docs.selectExpr(
        "doc_id",
        f"{gx} as gx",
        f"{gy} as gy",
        f"(-180.0D + 360.0D * (cast({gx} as double) + 0.5D) / 1024) as lon",
        f"(-90.0D + 180.0D * (cast({gy} as double) + 0.5D) / 1024) as lat",
    )
