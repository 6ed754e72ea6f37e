"""Streaming geofence transitions: live enter/exit alerts.

One row the moment a user CROSSES the fence boundary, in either
direction. The fence covering set (cells from cover_polygon/compress)
is a static DataFrame broadcast into every micro-batch, so membership is
one boolean column before the stateful fold and the state per user is
the last event (ts_us, tb, inside): O(1) in both stream length and
fence complexity. Ordering and state follow ``_order.ordered_fold``.

A transition is proven by the event on the other side of the boundary,
so every transition is emitted at its own event and parity with the
batch lag-window twin is FULL equality, not "minus the last open run".
Each user's FIRST event sets the membership baseline and emits nothing
(the batch twin's lag is NULL there).
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.spatial_join import cell_join, tag_pages
from ._order import changed, ordered_fold

OUT_SCHEMA = "user string, event_ts_us long, kind string"


def _fold(runs):
    """Each run after the first starts at a crossing."""
    inside = runs.first("inside")[1:]
    return ({"event_ts_us": runs.first("ts_us")[1:],
             "kind": np.where(inside == 1, "enter", "exit").astype(object)},
            {})


def streaming_geofence_transitions(
        spark: SparkSession, source_dir: str, schema: str,
        fence_cells: DataFrame, precision: int,
        user: str = "user_id", ts: str = "ts",
        lat: str = "lat", lon: str = "lon",
        tiebreak: str = "event_id") -> DataFrame:
    """Enter/exit alert stream: one row per fence-boundary crossing,
    kind in {'enter', 'exit'}, emitted at the crossing event itself.
    ``fence_cells`` must expose a ``gh`` column at ``precision`` (the
    covering set; membership is cell-granular, the covering's own
    contract)."""
    stream = spark.readStream.schema(schema).parquet(source_dir)
    fence = fence_cells.select("gh").distinct().withColumn("__in", F.lit(1))
    j = cell_join(tag_pages(stream, precision, lat=lat, lon=lon), fence,
                  "left")
    return ordered_fold(
        j, F.col(user).cast("string"), ts, tiebreak,
        {"inside": F.coalesce(F.col("__in"), F.lit(0))},
        "ts_us long, tb {tb}, inside int", OUT_SCHEMA, changed("inside"),
        _fold)
