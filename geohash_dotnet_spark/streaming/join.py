"""Stream-stream join: pages x events co-located on a geohash tile
within a bounded event-time window.

The last Structured Streaming join mode the engine exercises (after
stream-static geofence and stateful aggregations): both sides are
unbounded, so Spark buffers each side's rows in the state store until
the other side's watermark passes the time-range bound, then drops them
— the state is bounded by (join window) x (arrival rate), never the
stream history. Without the time-range condition on the join (not just
a filter) the state would grow forever; the range predicate is what
lets the engine garbage-collect.

Use case: attribute page crawls to nearby user activity — "pages
crawled in tile T while a user was active in T within +/- the window".
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.native import geocode_from_url, with_geohash_key


def streaming_tile_activity_join(spark: SparkSession, pages_dir: str,
                                 pages_schema: str, events_dir: str,
                                 events_schema: str, precision: int = 2,
                                 window_s: int = 3600,
                                 watermark: str = "2 hours") -> DataFrame:
    """readStream(pages) JOIN readStream(events) on same tile with
    |event ts - crawl ts| <= window_s. Inner join -> append mode; both
    sides watermarked so buffered state ages out."""
    pg = (spark.readStream.schema(pages_schema).parquet(pages_dir)
          .withWatermark("warc_ts", watermark))
    pg = with_geohash_key(pg, "lat", "lon", precision, out="tile")

    ev = (spark.readStream.schema(events_schema).parquet(events_dir)
          .withColumn("__uid", F.col("user_id").cast("string")))
    ev = geocode_from_url(ev, url="__uid", lat_out="e_lat",
                          lon_out="e_lon")
    ev = (with_geohash_key(ev, "e_lat", "e_lon", precision, out="e_tile")
          .withWatermark("ts", watermark))

    cond = ((F.col("tile") == F.col("e_tile"))
            & (F.col("ts") >= F.col("warc_ts") - F.expr(
                f"INTERVAL {int(window_s)} SECONDS"))
            & (F.col("ts") <= F.col("warc_ts") + F.expr(
                f"INTERVAL {int(window_s)} SECONDS")))
    return (pg.join(ev, cond, "inner")
            .select("url", "warc_ts", "tile", "user_id", "event_id",
                    "ts", "event_type"))
