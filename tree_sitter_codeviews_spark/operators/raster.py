"""Raster <-> vector conversion over the cell hierarchy.

Two directions (north rule: "raster<->vector conversion via per-tile pixel
aggregation into compacted cell hierarchies"):

- **vector -> raster** (``rasterize_polygons``): burn the polygon layer onto
  the cell grid at a resolution — every cell whose center lies inside the
  polygon gets a (res, cell_id, polygon_id) row. The pixel centers are
  synthetic points generated JVM-side from ``spark.range`` (no data read at
  all; embarrassingly parallel) and go through the containment join
  (``pip_join.pip_join``) like any other point set.
- **raster -> vector** (``tiles.compact_tiles``): aggregate per-pixel counts
  at the finest resolution, then fold complete 4-sibling sets into parents
  recursively — the compacted hierarchy is the vector representation of the
  raster (H3 ``compact`` analogue).

At 10^12 rows, rasterize is O(cells x polygons-overlapping-the-cell) and
never touches the pages table; compaction touches only tile rows (bounded by
grid size, not data size) after the one groupBy of the raw points.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .. import cells
from .pip_join import pip_join


def rasterize_polygons(spark: SparkSession, res: int = 7) -> DataFrame:
    """(res, cell_id, polygon_id) for every res-cell whose center is inside
    the polygon. The pixel centers go through ``pip_join`` as points keyed
    by ``pix`` (``pip_join`` emits its own res-10 ``cell_id``)."""
    n_cells = 1 << (2 * res)
    grid = spark.range(n_cells).select(F.col("id").alias("pix"))
    x = F.expr(cells.x_from_cell_sql("pix", res))
    y = F.expr(cells.y_from_cell_sql("pix", res))
    pts = grid.select(
        "pix",
        cells.lon_center_col(x, res).alias("lon"),
        cells.lat_center_col(y, res).alias("lat"),
    )
    hit = pip_join(pts, spark, keys=("pix",))
    return hit.select(
        F.lit(res).alias("res"), F.col("pix").alias("cell_id"), "polygon_id"
    )


def overlay_stats(spark: SparkSession, res: int = 7) -> DataFrame:
    """Pairwise polygon-overlay statistics via raster intersection:
    (polygon_a, polygon_b, n_shared_cells, overlap_deg2) for every polygon
    pair sharing at least one res-cell (center-inside semantics, so a shared
    cell is a witness point in BOTH interiors — the pair provably overlaps).
    overlap_deg2 = shared-cell count x cell area: the raster-GIS overlay
    estimate, exact-arithmetic reproducible against the SQL oracle.

    Scale shape: self-join of the rasterized layer on cell_id — shuffle
    bounded by raster size (grid x polygons), never by the data tables; the
    same plan runs the 10^12-page case unchanged because no page row is
    involved at all."""
    r = rasterize_polygons(spark, res=res).select("cell_id", "polygon_id")
    a = r.select("cell_id", F.col("polygon_id").alias("polygon_a"))
    b = r.select("cell_id", F.col("polygon_id").alias("polygon_b"))
    cell_area = (360.0 / (1 << res)) * (180.0 / (1 << res))
    return (
        a.join(b, "cell_id")
        .filter(F.col("polygon_a") < F.col("polygon_b"))
        .groupBy("polygon_a", "polygon_b")
        .agg(F.count("*").alias("n_shared_cells"))
        .withColumn(
            "overlap_deg2",
            F.round(F.col("n_shared_cells") * F.lit(cell_area), 6),
        )
    )
