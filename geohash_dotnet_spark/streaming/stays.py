"""Streaming stay-point detection: live dwell/visit mining.

The streaming twin of ``operators/flows.stay_points``: a stay is a
maximal run of a user's events in one cell, emitted the moment the user
moves to a different cell. Ordering, emission and state follow
``_order.ordered_fold``; parity: streaming emissions == batch runs minus
each user's last run, filtered by the same thresholds.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.native import with_geohash
from ._order import changed, ordered_fold

OUT_SCHEMA = ("user string, cell string, enter_ts_us long, "
              "exit_ts_us long, n_points long")


def streaming_stay_points(spark: SparkSession, source_dir: str,
                          schema: str, user: str = "user_id",
                          ts: str = "ts", lat: str = "lat",
                          lon: str = "lon", tiebreak: str = "event_id",
                          precision: int = 3, min_dwell_s: int = 0,
                          min_points: int = 2) -> DataFrame:
    """Closed stay-point stream: one output row per qualifying run the
    moment a different-cell event closes it. State per user: the last
    event (ts_us, tb, cell) and the open run's (enter_us, n)."""
    min_dwell_us = int(min_dwell_s) * 1_000_000

    def fold(runs):
        enter = runs.first(runs.seeded("enter_us", runs.rows["ts_us"]))
        exit_ = runs.last("ts_us")
        n = runs.sum(runs.seeded("n", 1))
        ok = ((exit_ - enter)[:-1] >= min_dwell_us) & (n[:-1] >= min_points)
        return ({"cell": runs.first("cell")[:-1][ok],
                 "enter_ts_us": enter[:-1][ok], "exit_ts_us": exit_[:-1][ok],
                 "n_points": n[:-1][ok]},
                {"enter_us": enter[-1], "n": n[-1]})

    stream = spark.readStream.schema(schema).parquet(source_dir)
    return ordered_fold(
        with_geohash(stream, lat, lon, precision),
        F.col(user).cast("string"), ts, tiebreak, {"cell": F.col("gh")},
        "cell string, enter_us long, ts_us long, tb {tb}, n long",
        OUT_SCHEMA, changed("cell"), fold)
