"""Zonal statistics — the raster↔vector workhorse: aggregate a point
table (the "raster side" of the cell index) over vector polygon zones.

Classic GIS zonal stats (per-zone count / sum of a value band),
expressed Spark-first with the interior/boundary covering split:

* Each zone is covered TWICE by the golden-tested NumPy kernel:
  ``contains`` cells (fully inside — membership is decided by the cell
  id alone) and ``intersects``−``contains`` cells (boundary — points
  there need the exact even-odd test). Zones are query-side small
  (like cover_polygons' input), so the (zone, cell, is_edge) table is
  a broadcast.
* ONE broadcast hash join tags every point with its zone candidates —
  the point table is never shuffled, and a point in a cell shared by
  overlapping zones joins once per zone (correct multi-zone
  membership).
* Only boundary-cell rows pay geometry: a single vectorized pandas
  UDF dispatches on zone_id against the polygon dict (parsed ONCE on
  the driver and shipped to executors inside the UDF closure — zones
  are query-side small, so the pickled geometry is broadcast-sized) —
  interior rows short-circuit on the ``is_edge`` flag. At a
  sane precision the boundary band is the O(perimeter/area) sliver of
  the data, so the exact test touches a vanishing fraction of points
  while the result stays EXACT polygon membership (the covering
  over-approximates; contains-cells under-approximate; their split is
  what makes skipping the test sound).
* The final per-zone aggregation is partial-agged map-side; value
  sums are micro-unit-quantized BIGINTs (the user_mobility/sessions
  fixed-point discipline), so sums are addition-order independent —
  bit-identical on any layout, any cluster size, either engine.

Scale: zones×cells bounded by the query; corpus cost = one tag
projection + one broadcast join + one partial agg. Precision trades
broadcast size against the boundary-band fraction — exactly the
RadiusHasher auto-precision trade, chosen by the caller.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf

from ..functions.exact import MICRO
from ..kernels import cover_polygon
from ..kernels.polygon import parse_wkt, split_antimeridian
from .spatial_join import tag_pages

__all__ = ["zonal_stats"]

def _zone_member(zones: list[tuple[str, str]]):
    """Vectorized membership test: edge rows get the exact even-odd
    point-in-polygon against the driver-parsed polygon dict carried
    in the UDF closure;
    interior rows pass on the flag WITHOUT touching geometry (the
    is_edge mask gates the NumPy work inside the batch, so the exact
    test provably runs only on the boundary-band sliver)."""
    from ..functions.udfs import _points_inside

    parsed = {str(zid): [p for poly in parse_wkt(wkt)
                         for p in split_antimeridian(poly)]
              for zid, wkt in zones}

    @pandas_udf("boolean")
    def _member(zid: pd.Series, la: pd.Series, lo: pd.Series,
                is_edge: pd.Series) -> pd.Series:
        edge = is_edge.to_numpy(dtype=bool)
        out = ~edge  # interior cells: membership decided by cell id
        if edge.any():
            x = lo.to_numpy(np.float64)
            y = la.to_numpy(np.float64)
            for z in zid[edge].unique():
                m = edge & (zid == z).to_numpy()
                inside = np.zeros(int(m.sum()), dtype=bool)
                for rings in parsed[str(z)]:
                    inside |= _points_inside(rings, x[m], y[m])
                out[m] = inside
        return pd.Series(out)

    return _member


def zonal_stats(df: DataFrame, zones: list[tuple[str, str]],
                precision: int, lat: str = "lat", lon: str = "lon",
                value: str | None = None) -> DataFrame:
    """Per-zone point count (and exact micro-unit value sum) over
    polygon zones. ``zones`` is [(zone_id, wkt)]; a point inside k
    overlapping zones counts once in each. Output: (zone_id, n_points
    [, sum_value]) — zones containing no points emit no row."""
    if not zones:
        raise ValueError("zones must be non-empty")
    spark = df.sparkSession
    rows = []
    for zid, wkt in zones:
        inner = set(cover_polygon(wkt, precision, "contains").tolist())
        outer = cover_polygon(wkt, precision, "intersects").tolist()
        rows += [(str(zid), c, False) for c in sorted(inner)]
        rows += [(str(zid), c, True) for c in outer if c not in inner]
    cov = spark.createDataFrame(
        rows, "zone_id string, gh string, is_edge boolean")

    tagged = tag_pages(df, precision, lat=lat, lon=lon)
    j = tagged.join(F.broadcast(cov), on="gh")
    member = _zone_member(zones)
    kept = j.filter(member(F.col("zone_id"), F.col(lat), F.col(lon),
                           F.col("is_edge")))

    aggs = [F.count(F.lit(1)).alias("n_points")]
    if value is not None:
        aggs.append(MICRO.sum(F.col(value).cast("double"))
                    .alias("sum_value"))
    return kept.groupBy("zone_id").agg(*aggs)
