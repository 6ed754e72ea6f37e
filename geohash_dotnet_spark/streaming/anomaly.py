"""Streaming tile burst/outage detection: live per-(tile, day) z-scores.

The streaming sibling of ``operators/hotspots.tile_anomaly``: the batch
form scores each (tile, day) count against the tile's FULL daily
history; a live monitor can only ever know the history up to the day it
is scoring, so the streaming semantics are the expanding-history ones —
when a tile's day closes, its count is folded into that tile's running
integer moments (days, sum, sum-of-squares) and the day is scored
against the updated prefix history (days <= d). That is exactly the
alert a production burst detector raises, and it is what the parity
test mirrors with a cumulative window over the batch daily counts.

A day is a run of a tile's events, closed by a later-day event;
ordering, emission and state follow ``_order.ordered_fold``, so parity
is: streaming emissions == expanding-window batch rows minus each
tile's last day. Day-of-epoch is floor(ts) under the UTC-pinned session
timezone, monotone in event time, so late gating by (ts, tiebreak) also
gates days.

Determinism: the stateful fold emits ONLY exact integers (tile, day,
n, days, s, ss); mean/variance/z are projected JVM-side afterwards with
the very expression tree ``tile_anomaly`` uses, so the floats are
bit-identical to the batch twin's — Python never touches a double.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.exact import MICRO
from ..functions.native import with_geohash_key
from ._order import changed, ordered_fold

_RAW_SCHEMA = "tile string, day int, n long, days long, s long, ss long"


def _fold(runs):
    """Fold each closed day's count into the tile's running moments."""
    n = runs.sum(runs.seeded("n", 1))
    cn = n[:-1]
    k = len(cn)
    days, s, ss = (runs.saved.get(f, 0) for f in ("days", "s", "ss"))
    return ({"day": runs.first("day")[:-1], "n": cn,
             "days": days + np.arange(1, k + 1), "s": s + np.cumsum(cn),
             "ss": ss + np.cumsum(cn * cn)},
            {"n": n[-1], "days": days + k, "s": s + cn.sum(),
             "ss": ss + (cn * cn).sum()})


def streaming_tile_anomaly(spark: SparkSession, source_dir: str,
                           schema: str, ts: str = "ts",
                           lat: str = "lat", lon: str = "lon",
                           tiebreak: str = "event_id",
                           precision: int = 1) -> DataFrame:
    """Closed-day anomaly stream: one row per (tile, day) the moment a
    later-day event closes it, scored against that tile's history up to
    and including the closed day. State per tile: the last event (ts_us,
    tb, day), the open day's count n and the closed history's moments.
    The tile tag, the (ts, tiebreak) projection and the day-of-epoch all
    run JVM-side; the z expression runs JVM-side on the emitted
    integers."""
    stream = spark.readStream.schema(schema).parquet(source_dir)
    raw = ordered_fold(
        with_geohash_key(stream, lat, lon, precision), F.col("gh"), ts,
        tiebreak,
        {"day": F.unix_date(F.col(ts).cast("timestamp").cast("date"))},
        "day int, n long, days long, s long, ss long, ts_us long, tb {tb}",
        _RAW_SCHEMA, changed("day"), _fold)

    # identical expression tree to operators/hotspots.tile_anomaly —
    # the integers are exact, so the doubles match the batch twin bit
    # for bit
    days_d = F.col("days").cast("double")
    mean = F.col("s").cast("double") / days_d
    var = F.col("ss").cast("double") / days_d - mean * mean
    z = F.when((F.col("days") >= 2) & (var > 0),
               MICRO.round((F.col("n").cast("double") - mean) / F.sqrt(var)))
    return raw.select("tile", F.date_from_unix_date("day").alias("day"),
                      "n", "days", MICRO.round(mean).alias("mean_n"),
                      z.alias("z"))
