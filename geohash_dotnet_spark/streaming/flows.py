"""Streaming OD tile flows: movement transitions over a live event
stream.

The streaming twin of ``operators/flows.tile_flows``: one
(from_tile, to_tile) transition the moment a user's next event lands in
a different cell, holding only the user's last event (ts_us, tb, tile)
as state. Ordering and state follow ``_order.ordered_fold``; every
transition is proven at its own event, so the transition multiset
equals the batch operator's.

Checkpoint compatibility: the state struct's ``tb`` field takes the
tiebreak column's native type (long/double/string), so a checkpoint
written by an earlier build that always stored ``tb string`` cannot be
resumed with an integral tiebreak — Spark's state schema checker fails
the query. Restart such a pipeline from a fresh checkpoint dir (the
ordering fix is worth the one-time reset: the old string order could
silently drop same-timestamp rows as late).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.native import with_geohash
from ._order import changed, ordered_fold

OUT_SCHEMA = ("user string, from_tile string, to_tile string, "
              "move_ts_us long")


def _fold(runs):
    """Each closed run yields the move into its successor."""
    tile = runs.first("tile")
    return ({"from_tile": tile[:-1], "to_tile": tile[1:],
             "move_ts_us": runs.first("ts_us")[1:]}, {})


def streaming_tile_flows(spark: SparkSession, source_dir: str, schema: str,
                         user: str = "user_id", ts: str = "ts",
                         lat: str = "lat", lon: str = "lon",
                         tiebreak: str = "event_id",
                         precision: int = 2) -> DataFrame:
    """Per-user cell-transition stream: one output row per move, with
    O(1) state per user. Aggregating the output by (from_tile, to_tile)
    reproduces the batch OD matrix (n_moves = count, n_users =
    countDistinct user) when events arrive in event-time order."""
    stream = spark.readStream.schema(schema).parquet(source_dir)
    return ordered_fold(
        with_geohash(stream, lat, lon, precision),
        F.col(user).cast("string"), ts, tiebreak, {"tile": F.col("gh")},
        "ts_us long, tb {tb}, tile string", OUT_SCHEMA, changed("tile"),
        _fold)


def flows_from_transitions(transitions: DataFrame) -> DataFrame:
    """Fold the transition stream's sink table into the OD matrix shape
    of ``operators/flows.tile_flows`` (batch-side aggregation over the
    appended transitions)."""
    return (transitions.groupBy("from_tile", "to_tile")
            .agg(F.count(F.lit(1)).alias("n_moves"),
                 F.countDistinct("user").alias("n_users")))
