"""Zonal statistics — the raster↔vector workhorse: aggregate a point
table (the "raster side" of the cell index) over vector polygon zones.

Classic GIS zonal stats (per-zone count / sum of a value band),
expressed Spark-first with the interior/boundary covering split:

* Each zone is covered TWICE by the golden-tested NumPy kernel:
  ``contains`` cells (fully inside — membership is decided by the cell
  id alone) and ``intersects``−``contains`` cells (boundary — points
  there need the exact even-odd test). Zones are query-side small
  (like cover_polygons' input), so the (zone, cell, is_edge, parts)
  table is a broadcast, built once per query as one pandas frame.
* Each boundary row carries its band segments: per antimeridian part,
  the non-horizontal ring segments (all rings, holes included) whose
  latitude span meets the cell's latitude band. No other segment can
  satisfy the crossing rule ``(y1 > y) != (y2 > y)`` for a point in the
  cell; the top and bottom grid rows widen the band to ±inf, so an
  out-of-range latitude gets the whole-ring answer. Longitude is not
  filtered (that would need a rounding argument).
* ONE broadcast hash join tags every point with its zone candidates —
  the point table is never shuffled, and a point in a cell shared by
  overlapping zones joins once per zone (correct multi-zone
  membership). ``zone_members`` is that join plus the membership test
  below; ``spatial_join.spatial_join_refined`` is it for one zone.
* Membership is a JVM expression, no Python UDF: interior rows pass on
  ``is_edge``; boundary rows run the even-odd test as ``exists`` over
  the parts of an ``aggregate`` XOR over the band segments, in the
  IEEE operation order of ``kernels.polygon.points_inside``, so every
  decision is bit-identical to it. It is rendered as one Spark SQL
  text, parsed by the JVM in one call (built one ``Column`` call at a
  time it cost 581 py4j round trips). At a sane precision the boundary
  band is the O(perimeter/area) sliver of the data, so the exact test
  touches a vanishing fraction of points while the result stays EXACT
  polygon membership (the covering over-approximates; contains-cells
  under-approximate; their split is what makes skipping the test
  sound).
* The final per-zone aggregation is partial-agged map-side; value
  sums are micro-unit-quantized BIGINTs (the user_mobility/sessions
  fixed-point discipline), so sums are addition-order independent —
  bit-identical on any layout, any cluster size, either engine.

Scale: zones×cells bounded by the query; corpus cost = one tag
projection + one broadcast join + one partial agg. Precision trades
broadcast size (cells, and band segments per boundary cell) against the
boundary-band fraction — exactly the RadiusHasher auto-precision trade,
chosen by the caller.
"""

from __future__ import annotations

from functools import lru_cache

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.exact import MICRO
from ..functions.native import sql_name
from ..kernels import bounding_box, cover_polygon
from ..kernels.polygon import parse_wkt, split_antimeridian
from .spatial_join import cell_join, tag_pages

__all__ = ["zonal_stats"]

_COVERING = ("zone_id string, gh string, is_edge boolean, parts "
             "array<array<struct<x1:double,y1:double,x2:double,y2:double>>>")


def _segments(rings: list[np.ndarray]) -> np.ndarray:
    """(E, 4) x1, y1, x2, y2 of a part's non-horizontal ring segments."""
    seg = np.concatenate([np.hstack([r[:-1], r[1:]]) for r in rings])
    return seg[seg[:, 1] != seg[:, 3]]


def _covering(zone_id: str, wkt: str, precision: int) -> pd.DataFrame:
    """One zone's covering rows; boundary rows carry their band segments."""
    inner = cover_polygon(wkt, precision, "contains")
    edge = np.setdiff1d(cover_polygon(wkt, precision, "intersects"), inner)
    lat0, _, lat1, _ = bounding_box(edge)
    lat0[lat0 == -90.0] = -np.inf
    lat1[lat1 == 90.0] = np.inf
    parts = [_segments(p) for poly in parse_wkt(wkt)
             for p in split_antimeridian(poly)]
    lo_hi = [(np.minimum(s[:, 1], s[:, 3]), np.maximum(s[:, 1], s[:, 3]))
             for s in parts]
    bands, row = np.unique(np.stack([lat0, lat1], axis=1), axis=0,
                           return_inverse=True)
    band_parts = [[list(map(tuple, s[(lo <= b1) & (hi > b0)].tolist()))
                   for s, (lo, hi) in zip(parts, lo_hi)]
                  for b0, b1 in bands]
    return pd.DataFrame({
        "zone_id": zone_id,
        "gh": np.concatenate([inner, edge]),
        "is_edge": np.arange(len(inner) + len(edge)) >= len(inner),
        "parts": [[]] * len(inner) + [band_parts[i] for i in row.ravel()],
    })


@lru_cache(maxsize=64)
def _member_sql(lat: str, lon: str) -> str:
    """Spark SQL text of a joined row's membership: interior rows pass;
    boundary rows XOR the crossing rule over each part's band segments,
    in the operation order of ``kernels.polygon.points_inside``."""
    x, y = (f"CAST({sql_name(c)} AS DOUBLE)" for c in (lon, lat))
    cross = (f"(__s.y1 > {y}) != (__s.y2 > {y}) AND {x} < __s.x1 + "
             f"({y} - __s.y1) * (__s.x2 - __s.x1) / (__s.y2 - __s.y1)")
    return (f"NOT is_edge OR exists(parts, __p -> aggregate(__p, false, "
            f"(__acc, __s) -> __acc != ({cross})))")


def zone_members(df: DataFrame, zones: list[tuple[str, str]],
                 precision: int, lat: str = "lat", lon: str = "lon"
                 ) -> DataFrame:
    """``df`` tagged with its cell ``gh`` and joined to the covering of
    each zone its cell meets (``zone_id``, ``is_edge``, ``parts``), with
    ``__member`` its exact even-odd membership of that zone. ``zones``
    is [(zone_id, wkt)] with distinct ids."""
    if not zones:
        raise ValueError("zones must be non-empty")
    ids = pd.Series([str(zid) for zid, _ in zones])
    if ids.duplicated().any():
        raise ValueError(
            f"duplicate zone_id {ids[ids.duplicated()].iloc[0]!r}; "
            "zone ids must be distinct")
    cov = df.sparkSession.createDataFrame(
        pd.concat([_covering(zid, wkt, precision)
                   for zid, (_, wkt) in zip(ids, zones)], ignore_index=True),
        _COVERING)
    return (cell_join(tag_pages(df, precision, lat=lat, lon=lon), cov)
            .withColumn("__member", F.expr(_member_sql(lat, lon))))


def zonal_stats(df: DataFrame, zones: list[tuple[str, str]],
                precision: int, lat: str = "lat", lon: str = "lon",
                value: str | None = None) -> DataFrame:
    """Per-zone point count (and exact micro-unit value sum) over
    polygon zones. ``zones`` is [(zone_id, wkt)] with distinct ids; a
    point inside k overlapping zones counts once in each. Output:
    (zone_id, n_points [, sum_value]) — zones containing no points emit
    no row."""
    # membership gates the aggregates rather than a Filter, which Catalyst
    # would fold into the join condition
    joined = zone_members(df, zones, precision, lat, lon)
    aggs = [F.count_if("__member").alias("n_points")]
    if value is not None:
        aggs.append(MICRO.sum(F.when(F.col("__member"),
                                     F.col(value).cast("double")))
                    .alias("sum_value"))
    return (joined.groupBy("zone_id").agg(*aggs)
            .filter(F.col("n_points") > 0))
