"""Streaming trip segmentation: live gap-split journeys.

The streaming twin of ``operators/flows.trip_stats``: a trip is a run of
a user's events split where the next event comes more than ``gap_s``
after the last, and it is emitted once such a gap closes it. Ordering,
emission and state follow ``_order.ordered_fold``; parity: streaming
emissions == batch trips minus each user's last trip, row for row,
including the per-user trip index and the whole-metre path length.

Exactness: leg distances replicate the batch operator's NATIVE trig
chain operation-for-operation (radians(lat2-lat1)/2 BEFORE the half,
asin(min(1, sqrt(a))), x/180*pi radians conversion — mirroring
functions/native.haversine_m so NumPy and JVM evaluate the same
expression tree) and are quantized to integer metres with the batch
operator's own quantum (``exact.METRE``) BEFORE summation. The
equality guarantee is therefore probabilistic, not absolute: NumPy's
libm and the JVM's Math intrinsics differ in the last ulps (~1e-8 m
on 1e7-m legs), so a leg whose true value falls within that wobble of
a half-metre floor boundary CAN quantize one unit apart across
platforms. Whole metres put the boundary ~7 orders of magnitude above
the wobble (millimetres were not enough — see operators/flows.py),
which makes a flip vanishingly rare, not impossible; the parity test
would report it as a one-unit dist_m diff on an otherwise identical
row.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.exact import METRE
from ..kernels.distance import EARTH_RADIUS_M
from ._order import ordered_fold

OUT_SCHEMA = ("user string, trip_idx long, n_points long, "
              "start_us long, end_us long, dist_m long")


def _leg_m(lat1, lon1, lat2, lon2):
    """Integer-metre haversine legs, mirroring functions/native.haversine_m
    operation-for-operation (degree subtraction BEFORE the radians
    conversion, x/180*pi like java.lang.Math.toRadians, asin of the
    clamped sqrt) so the streamed sums match the batch JVM sums at the
    metre quantum (see the module docstring for the cross-libm caveat)."""
    def rad(x):
        return x / 180.0 * np.pi

    dlat = rad(lat2 - lat1) / 2
    dlng = rad(lon2 - lon1) / 2
    a = (np.sin(dlat) * np.sin(dlat)
         + np.cos(rad(lat1)) * np.cos(rad(lat2))
         * np.sin(dlng) * np.sin(dlng))
    leg = 2.0 * EARTH_RADIUS_M * np.arcsin(np.minimum(1.0, np.sqrt(a)))
    return METRE.ticks_np(leg)


def streaming_trip_stats(spark: SparkSession, source_dir: str,
                         schema: str, user: str = "user_id",
                         ts: str = "ts", lat: str = "lat",
                         lon: str = "lon", tiebreak: str = "event_id",
                         gap_s: int = 7200,
                         min_points: int = 2) -> DataFrame:
    """Closed-trip stream: one output row per trip the moment a gap
    closes it. State per user: the last event (ts_us, tb, lat, lon) and
    the open trip's (trip_idx, start_us, n, dist_m)."""
    gap_us = int(gap_s) * 1_000_000

    def fold(runs):
        r = runs.rows
        legs = np.concatenate(([0], _leg_m(r["lat"][:-1], r["lon"][:-1],
                                           r["lat"][1:], r["lon"][1:])))
        legs[runs.new] = 0
        idx = runs.saved.get("trip_idx", 1) + np.arange(len(runs))
        n = runs.sum(runs.seeded("n", 1))
        start = runs.first(runs.seeded("start_us", r["ts_us"]))
        dist = runs.sum(runs.seeded("dist_m", legs))
        ok = n[:-1] >= min_points
        return ({"trip_idx": idx[:-1][ok], "n_points": n[:-1][ok],
                 "start_us": start[:-1][ok],
                 "end_us": runs.last("ts_us")[:-1][ok],
                 "dist_m": dist[:-1][ok]},
                {"trip_idx": idx[-1], "start_us": start[-1], "n": n[-1],
                 "dist_m": dist[-1]})

    stream = spark.readStream.schema(schema).parquet(source_dir)
    return ordered_fold(
        stream, F.col(user).cast("string"), ts, tiebreak,
        {"lat": F.col(lat).cast("double"), "lon": F.col(lon).cast("double")},
        "trip_idx long, start_us long, ts_us long, tb {tb}, lat double, "
        "lon double, n long, dist_m long", OUT_SCHEMA,
        lambda r: np.diff(r["ts_us"]) > gap_us, fold)
