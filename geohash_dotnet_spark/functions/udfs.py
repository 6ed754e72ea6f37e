"""Arrow-vectorized pandas UDFs wrapping the NumPy kernels.

These cover the operations that are awkward as native SQL expressions
(string -> bit de-interleave, 8-way neighbor offsets, point-in-polygon
refine). Each Arrow batch goes through whole-array NumPy passes with no
Python loop over rows; the only per-element work left is the conversion
to and from Python objects at the Arrow boundary (``to_numpy(object)``,
``tolist()``).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf

from ..kernels import geohash as GK
from ..kernels.polygon import parse_wkt, split_antimeridian


def gh_decode(gh: Column) -> Column:
    """Cell center -> struct<lat:double, lon:double>."""

    @pandas_udf("lat double, lon double")
    def _dec(s: pd.Series) -> pd.DataFrame:
        lat, lon = GK.decode(s.to_numpy(object))
        return pd.DataFrame({"lat": lat, "lon": lon})

    return _dec(gh)


def gh_bbox(gh: Column) -> Column:
    """Exact cell bounds -> struct<min_lat,min_lng,max_lat,max_lng>."""

    @pandas_udf("min_lat double, min_lng double, max_lat double, max_lng double")
    def _bbox(s: pd.Series) -> pd.DataFrame:
        a, b, c, d = GK.bounding_box(s.to_numpy(object))
        return pd.DataFrame({"min_lat": a, "min_lng": b, "max_lat": c, "max_lng": d})

    return _bbox(gh)


def gh_neighbors(gh: Column) -> Column:
    """All 8 neighbors as array<string> in N,NE,E,SE,S,SW,W,NW order
    (src/Geohasher.cs:158-165)."""

    @pandas_udf("array<string>")
    def _nb(s: pd.Series) -> pd.Series:
        nb = GK.neighbors(s.to_numpy(object))
        return pd.Series(np.column_stack(list(nb.values())).tolist())

    return _nb(gh)


def gh_neighbor(gh: Column, direction: str) -> Column:
    """Single-direction neighbor (src/Geohasher.cs:151-155). An unknown
    ``direction`` raises ValueError here, before any job runs."""
    GK._offset(direction)

    @pandas_udf("string")
    def _nb1(s: pd.Series) -> pd.Series:
        return pd.Series(GK.neighbor(s.to_numpy(object), direction))

    return _nb1(gh)


def point_in_polygon(lat: Column, lon: Column, wkt: str) -> Column:
    """Exact even-odd point-in-polygon refine for one polygon (the post-join
    refinement step of the spatial join). The polygon is parsed once per
    executor; the per-batch test is fully vectorized."""
    parts = [p for poly in parse_wkt(wkt) for p in split_antimeridian(poly)]

    @pandas_udf("boolean")
    def _pip(la: pd.Series, lo: pd.Series) -> pd.Series:
        x = lo.to_numpy(np.float64)
        y = la.to_numpy(np.float64)
        inside = np.zeros(len(x), dtype=bool)
        for rings in parts:
            # evaluate point-list (not grid): use the grid routine with each
            # point as its own 1x1 cell by processing per unique y? Instead:
            # direct vectorized even-odd over points.
            inside |= _points_inside(rings, x, y)
        return pd.Series(inside)

    return _pip(lat, lon)


def _points_inside(rings, x: np.ndarray, y: np.ndarray) -> np.ndarray:
    """Vectorized even-odd crossing test for arbitrary point lists."""
    inside = np.zeros(x.shape[0], dtype=bool)
    for ring in rings:
        x1, y1 = ring[:-1, 0], ring[:-1, 1]
        x2, y2 = ring[1:, 0], ring[1:, 1]
        dy = y2 - y1
        valid = dy != 0
        x1v, y1v, x2v, y2v = x1[valid], y1[valid], x2[valid], y2[valid]
        dyv = y2v - y1v
        # (E,1) vs (1,N) broadcasting, chunked over points for memory
        chunk = max(1, 4_000_000 // max(1, x1v.shape[0]))
        for s in range(0, x.shape[0], chunk):
            xs = x[s:s + chunk][None, :]
            ys = y[s:s + chunk][None, :]
            crosses = (y1v[:, None] > ys) != (y2v[:, None] > ys)
            x_int = x1v[:, None] + (ys - y1v[:, None]) * (x2v - x1v)[:, None] / dyv[:, None]
            inside[s:s + chunk] ^= np.logical_xor.reduce(crosses & (xs < x_int), axis=0)
    return inside
