"""Raster <-> vector over the geocoded pages table.

The north rule names raster<->vector among the engine's spatial-join +
tiling capabilities (the reference itself has no raster layer —
SURVEY.md §7.4 — so this is the Spark-first extension of its grid
helpers, cf. reference src/Playground grid usage):

* :func:`rasterize` — the raster side: points -> a fixed-point
  micro-degree occupancy grid (row, col, n_pages). ONE corpus-keyed
  exchange (map-side partials); every downstream op works on the
  bounded raster table (<= n_rows * n_cols cells), never the corpus.
* :func:`hot_regions` — the vector side: threshold the raster, then
  4-adjacency connected-component labeling turns contiguous hot cells
  back into discrete vector regions (region id + bbox + mass) — the
  classic raster->vector "blob extraction" a density map serves.

Cross-engine determinism: grid indexes are pure integer arithmetic on
``floor(coord * 1e6)`` fixed-point micro-degrees (one correctly-rounded
IEEE multiply + floor — the distance_bands discipline), region labels
are minimum reachable cell ids (all-integer), so Spark and the DuckDB
twins agree bit-for-bit.

Scale shape: the raster aggregation is the only corpus-scale exchange.
Component labeling reuses :func:`..dedup.connected_components` —
hash-to-min WITH pointer jumping, O(log diameter) rounds, per-round
persist/release — over an edge list built by two raster self-joins
(AQE broadcasts them when the hot set is small). The antimeridian seam
is handled by modular column adjacency: the last column is adjacent to
column 0 (physically true on the sphere whether or not ``cell_udeg``
divides 360e6 exactly); a region crossing the seam therefore reports
the full-width [0, n_cols-1] column range in its bbox (grid-space
bbox, documented contract — split at the seam client-side if a
tight geographic box is needed).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

__all__ = ["rasterize", "rasterize_sql", "hot_regions", "hot_regions_sql"]

_LAT_SPAN = 180_000_000  # micro-degrees
_LON_SPAN = 360_000_000


def _grid_dims(cell_udeg: int) -> tuple[int, int]:
    if not 1 <= cell_udeg <= 90_000_000:
        raise ValueError(
            f"cell_udeg must be in [1, 90_000_000], got {cell_udeg}")
    n_rows = -(-_LAT_SPAN // cell_udeg)
    n_cols = -(-_LON_SPAN // cell_udeg)
    return n_rows, n_cols


def rasterize(df: DataFrame, lat: str = "lat", lon: str = "lon",
              cell_udeg: int = 5_000_000) -> DataFrame:
    """Occupancy raster -> (row long, col long, n_pages long).

    ``row 0`` is the southernmost band, ``col 0`` starts at lon -180;
    cells are ``cell_udeg`` micro-degrees on a side (the last row/col
    may be ragged when ``cell_udeg`` does not divide the span). The
    north-pole edge (lat exactly 90) clamps into the top row. Lon
    exactly 180 wraps to column 0 (the same physical meridian as -180)
    only when ``cell_udeg`` divides 360e6; otherwise it lands in the
    last, ragged column, which the seam adjacency joins to column 0.
    Inputs must be valid coordinates (lat in [-90, 90], lon in
    [-180, 180] — the pages table guarantees this by construction).
    """
    n_rows, n_cols = _grid_dims(int(cell_udeg))
    cell = int(cell_udeg)
    row = F.least(F.expr(f"((CAST(floor({lat} * 1000000.0) AS BIGINT) "
                         f"+ 90000000) div {cell})"),
                  F.lit(n_rows - 1).cast("long"))
    col = F.pmod(F.expr(f"((CAST(floor({lon} * 1000000.0) AS BIGINT) "
                        f"+ 180000000) div {cell})"),
                 F.lit(n_cols)).cast("long")
    return (df.select(row.alias("row"), col.alias("col"))
            .groupBy("row", "col")
            .agg(F.count(F.lit(1)).alias("n_pages")))


def rasterize_sql(inner: str, lat: str = "lat", lon: str = "lon",
                  cell_udeg: int = 5_000_000) -> str:
    """DuckDB twin of :func:`rasterize` (same integer staircase)."""
    n_rows, n_cols = _grid_dims(int(cell_udeg))
    cell = int(cell_udeg)
    return f"""
SELECT least((CAST(floor({lat} * 1000000.0) AS BIGINT) + 90000000)
             // {cell}, {n_rows - 1}) AS row,
       ((CAST(floor({lon} * 1000000.0) AS BIGINT) + 180000000)
        // {cell}) % {n_cols} AS col,
       CAST(count(*) AS BIGINT) AS n_pages
FROM ({inner}) GROUP BY 1, 2
"""


def hot_regions(df: DataFrame, lat: str = "lat", lon: str = "lon",
                cell_udeg: int = 5_000_000, min_pages: int = 2,
                max_iter: int = 25) -> DataFrame:
    """Raster -> vector: contiguous regions of hot cells ->
    (region_id long, n_cells long, n_pages long, min_row, max_row,
    min_col, max_col).

    A cell is *hot* when it holds at least ``min_pages`` pages;
    regions are 4-adjacency (rook) connected components of hot cells,
    with modular column adjacency across the antimeridian seam.
    ``region_id`` is the minimum cell id (``row * n_cols + col``) in
    the component — a deterministic canonical label. Singleton hot
    cells are their own region.

    Shapes: corpus collapses into the raster ONCE; the edge build is
    two self-joins of the (bounded) hot-cell table; labeling is
    hash-to-min + pointer jumping, O(log diameter) rounds
    (:func:`..dedup.connected_components`), each round exchanging only
    the label table. Diagonal-only contact does NOT merge regions
    (rook, not queen — the conventional raster CC default; compose a
    second pass over region bboxes if queen adjacency is needed).
    """
    if min_pages < 1:
        raise ValueError(f"min_pages must be >= 1, got {min_pages}")
    from .dedup import connected_components

    n_rows, n_cols = _grid_dims(int(cell_udeg))
    hot = (rasterize(df, lat, lon, cell_udeg)
           .filter(F.col("n_pages") >= int(min_pages))
           .withColumn("cell_id",
                       (F.col("row") * F.lit(n_cols) + F.col("col"))
                       .cast("long")))
    a = hot.select(F.col("row").alias("r"), F.col("col").alias("c"),
                   F.col("cell_id").alias("id_a"))
    b = hot.select(F.col("row").alias("r2"), F.col("col").alias("c2"),
                   F.col("cell_id").alias("id_b"))
    east = a.join(b, (F.col("r2") == F.col("r"))
                  & (F.col("c2") == F.pmod(F.col("c") + 1, F.lit(n_cols)))
                  & (F.col("id_b") != F.col("id_a")))
    north = a.join(b, (F.col("r2") == F.col("r") + 1)
                   & (F.col("c2") == F.col("c")))
    pairs = east.select("id_a", "id_b").union(north.select("id_a", "id_b"))
    comp = connected_components(pairs, max_iter=max_iter)
    labeled = (hot.join(comp.select(F.col("id").alias("cell_id"),
                                    "cluster_id"),
                        "cell_id", "left")
               .withColumn("region_id",
                           F.coalesce(F.col("cluster_id"),
                                      F.col("cell_id"))))
    return (labeled.groupBy("region_id")
            .agg(F.count(F.lit(1)).alias("n_cells"),
                 F.sum("n_pages").alias("n_pages"),
                 F.min("row").alias("min_row"),
                 F.max("row").alias("max_row"),
                 F.min("col").alias("min_col"),
                 F.max("col").alias("max_col")))


def hot_regions_sql(inner: str, lat: str = "lat", lon: str = "lon",
                    cell_udeg: int = 5_000_000, min_pages: int = 2) -> str:
    """DuckDB oracle twin of :func:`hot_regions`: same integer raster,
    same adjacency rule, components via recursive-CTE min-label
    transitive closure (vs Spark's pointer-jumped label propagation —
    an independent fixpoint formulation, fine at oracle scale)."""
    if min_pages < 1:
        raise ValueError(f"min_pages must be >= 1, got {min_pages}")
    _, n_cols = _grid_dims(int(cell_udeg))
    return f"""
WITH RECURSIVE cells AS (
  SELECT row, col, row * {n_cols} + col AS cell_id, n_pages
  FROM ({rasterize_sql(inner, lat, lon, cell_udeg)})
  WHERE n_pages >= {int(min_pages)}
), e0 AS (
  SELECT a.cell_id AS u, b.cell_id AS v
  FROM cells a JOIN cells b
    ON (b.row = a.row AND b.col = (a.col + 1) % {n_cols}
        AND b.cell_id <> a.cell_id)
    OR (b.row = a.row + 1 AND b.col = a.col)
), edges AS (
  SELECT u, v FROM e0 UNION SELECT v AS u, u AS v FROM e0
), reach(id, lbl) AS (
  SELECT u AS id, u AS lbl FROM edges
  UNION
  SELECT e.v AS id, r.lbl FROM reach r JOIN edges e ON e.u = r.id
), comp AS (
  SELECT id, MIN(lbl) AS cluster_id FROM reach GROUP BY id
), labeled AS (
  SELECT c.row, c.col, c.n_pages,
         COALESCE(comp.cluster_id, c.cell_id) AS region_id
  FROM cells c LEFT JOIN comp ON comp.id = c.cell_id
)
SELECT region_id, CAST(count(*) AS BIGINT) AS n_cells,
       CAST(sum(n_pages) AS BIGINT) AS n_pages,
       min(row) AS min_row, max(row) AS max_row,
       min(col) AS min_col, max(col) AS max_col
FROM labeled GROUP BY region_id
"""
