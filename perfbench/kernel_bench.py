"""NumPy-only micro-benchmark of the geohash kernels, without Spark.

Fixed, seed-generated inputs: 1M points to encode at p9, the 1M cells that
gives to decode, and one p6 polygon to cover and whose covering to
compress. Besides seconds it reports operation counts and the bytes each
kernel reads and writes (array sizes; strings count one byte a character).
"""

from __future__ import annotations

import time

import numpy as np

from geohash_dotnet_spark.kernels import compress, cover_polygon, decode, encode
from geohash_dotnet_spark.kernels.polygon import (parse_wkt, part_grid_range,
                                                  split_antimeridian)

N_POINTS = 1_000_000
PRECISION = 9


def _seconds(fn):
    start = time.perf_counter()
    out = fn()
    return time.perf_counter() - start, out


def candidates(wkt: str, precision: int) -> int:
    """Cells in the grid ranges the polygon kernel scans."""
    total = 0
    for rings in parse_wkt(wkt):
        for part in split_antimeridian(rings):
            lat0, lat1, lng0, lng1 = part_grid_range(part, precision)
            total += max(lat1 - lat0, 0) * max(lng1 - lng0, 0)
    return total


def run(seed: int, polygon_wkt: str) -> dict[str, float]:
    rng = np.random.default_rng([seed, 11])
    lat = rng.uniform(-90.0, 90.0, N_POINTS)
    lon = rng.uniform(-180.0, 180.0, N_POINTS)
    enc_s, cells = _seconds(lambda: encode(lat, lon, PRECISION))
    dec_s, (dlat, dlon) = _seconds(lambda: decode(cells))
    cover_s, covering = _seconds(
        lambda: cover_polygon(polygon_wkt, 6, "intersects"))
    cover_list = covering.tolist()
    comp_s, compressed = _seconds(lambda: compress(cover_list))
    n_cand = candidates(polygon_wkt, 6)
    string_bytes = N_POINTS * PRECISION
    moved = (lat.nbytes + lon.nbytes + string_bytes        # encode
             + string_bytes + dlat.nbytes + dlon.nbytes    # decode
             + 6 * len(covering)                           # cover out
             + 6 * len(covering) + sum(map(len, compressed)))  # compress
    return {"kernels.encode_s": enc_s,
            "kernels.decode_s": dec_s,
            "kernels.cover_polygon_s": cover_s,
            "kernels.cover_candidates": n_cand,
            "kernels.cover_cells": len(covering),
            "kernels.cover_yield": len(covering) / max(n_cand, 1),
            "kernels.compress_s": comp_s,
            "kernels.bytes_moved": moved}
