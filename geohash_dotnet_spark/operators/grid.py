"""Viewport grid enumeration — Spark-native table generator.

Semantics of the reference playground's grid helpers
(/root/reference/playground/PlaygroundGeo.cs:19-78): enumerate the aligned
geohash grid covering a viewport (longitudes deliberately NOT normalized so
cells land on the world copy being viewed; encode normalizes internally),
truncated row-major at ``max_cells``; ``pick_grid_precision`` selects the
finest precision fitting the cell budget.

The enumeration is pure DataFrame algebra: two ``spark.range`` index
sequences cross-joined, bounds as exact dyadic arithmetic, cell ids via the
JVM-native encode — no UDF, fully whole-stage-codegen, and the index ranges
mean a 10^9-cell grid never materializes on the driver.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.native import gh_bbox, with_geohash
from ..kernels.geohash import MAX_PRECISION, lat_lng_steps


def _count_cells(s: float, w: float, n: float, e: float, precision: int) -> int:
    """Upper-bound cell count of the viewport grid
    (PlaygroundGeo.cs:30-37)."""
    lat_step, lng_step = lat_lng_steps(precision)
    lng_span = min(e - w, 360.0)
    return ((math.ceil((n - s) / lat_step) + 1)
            * (math.ceil(lng_span / lng_step) + 1))


def pick_grid_precision(s: float, w: float, n: float, e: float,
                        max_cells: int) -> int:
    """Finest precision whose grid covers the viewport with at most
    ``max_cells`` cells (PlaygroundGeo.cs:19-28)."""
    best = 1
    for p in range(1, MAX_PRECISION + 1):
        if _count_cells(s, w, n, e, p) > max_cells:
            break
        best = p
    return best


def cells_to_wkt(df: DataFrame, cell_col: str = "cell",
                 out: str = "wkt") -> DataFrame:
    """raster -> vector: each geohash cell to its bounding-box polygon WKT
    (CCW exterior ring, lon-lat order). The inverse direction of
    cover_polygons (vector -> raster); together they round-trip a tiling:
    cover(cells_to_wkt(c), len(c), intersects) ∋ c (tested).
    """
    b = gh_bbox(F.col(cell_col))
    df = df.withColumn("__b", b)
    p = {k: F.col(f"__b.{k}").cast("string")
         for k in ("min_lat", "min_lng", "max_lat", "max_lng")}
    wkt = F.concat(
        F.lit("POLYGON(("),
        p["min_lng"], F.lit(" "), p["min_lat"], F.lit(", "),
        p["max_lng"], F.lit(" "), p["min_lat"], F.lit(", "),
        p["max_lng"], F.lit(" "), p["max_lat"], F.lit(", "),
        p["min_lng"], F.lit(" "), p["max_lat"], F.lit(", "),
        p["min_lng"], F.lit(" "), p["min_lat"], F.lit("))"))
    return df.withColumn(out, wkt).drop("__b")


def gh_grid(spark: SparkSession, s: float, w: float, n: float, e: float,
            precision: int, max_cells: int = 50_000) -> DataFrame:
    """Grid cells covering the viewport -> DataFrame(cell, min_lat,
    min_lng, max_lat, max_lng), truncated row-major at ``max_cells``
    (PlaygroundGeo.cs:44-72)."""
    lat_step, lng_step = lat_lng_steps(precision)
    if e - w >= 360.0:
        w, e = -180.0, 180.0
    lat_start = math.floor(max(s, -90.0) / lat_step)
    lat_end = math.ceil(min(n, 90.0) / lat_step)
    lng_start = math.floor(w / lng_step)
    lng_end = math.ceil(e / lng_step)

    li = spark.range(lat_start, max(lat_start, lat_end)).toDF("li")
    gi = spark.range(lng_start, max(lng_start, lng_end)).toDF("gi")
    rows = (li
            .withColumn("min_lat", F.col("li") * F.lit(lat_step))
            .withColumn("max_lat", F.col("min_lat") + F.lit(lat_step))
            .filter((F.col("max_lat") > F.lit(-90.0))
                    & (F.col("min_lat") < F.lit(90.0))))
    cols = (gi
            .withColumn("min_lng", F.col("gi") * F.lit(lng_step))
            .withColumn("max_lng", F.col("min_lng") + F.lit(lng_step)))
    cells = rows.crossJoin(cols).orderBy("li", "gi").limit(max_cells)
    # cell id = encode of the center (cs + step*0.5 — exact dyadic doubles)
    cells = cells.withColumns({
        "__c_lat": F.col("min_lat") + F.lit(lat_step * 0.5),
        "__c_lng": F.col("min_lng") + F.lit(lng_step * 0.5),
    })
    cells = with_geohash(cells, "__c_lat", "__c_lng", precision, out="cell")
    return cells.select("cell", "min_lat", "min_lng", "max_lat", "max_lng")
