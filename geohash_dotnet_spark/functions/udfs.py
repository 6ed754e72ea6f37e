"""The point-in-polygon refine as an Arrow-vectorized pandas UDF.

The cell functions (decode, bbox, neighbours) are JVM expressions over
the packed cell key in functions/native.py: a pandas UDF is one Python
task per partition, and each such task pays a fixed worker cost
(PySpark's per-task ``importlib.invalidate_caches()`` re-reads the
pyspark zip) that costs more than the cell arithmetic. This refine
stays in Python: each Arrow batch goes through the whole-array NumPy
even-odd test below, with no Python loop over rows. zonal_stats runs
the same test, in the same IEEE operation order, as a JVM expression.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import Column
from pyspark.sql.functions import pandas_udf

from ..kernels.polygon import parse_wkt, split_antimeridian


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
