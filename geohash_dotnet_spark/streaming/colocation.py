"""Streaming co-presence pairs: the live twin of the batch co-travel
operator (operators/colocation.py) — "who is sharing a tile with whom,
right now".

Dataflow: one watermarked windowed aggregation builds the per
(time-bucket, tile) occupant set (``collect_set`` — streaming state is
ONE bounded set per live cell, not the event history), the crowd-cell
admission guard filters on set size BEFORE any pairing (same economics
as the batch operator: crowd cells are quadratic noise), and the pair
fan-out is a post-aggregation PROJECTION — the sorted occupant array
explodes into its upper-triangle pairs with a nested-transform
expression, so no self-join and no second stateful operator (chained
streaming aggregations aren't append-expressible; the projection is).

Emissions are append-mode: each closed (bucket, tile) cell emits its
pairs exactly once when the watermark passes, so a downstream batch
rollup of the emitted rows equals the batch operator's pair counts
exactly (parity-tested). Late events beyond the watermark are dropped —
the standard trade, identical to every watermarked operator in
streaming/.

State bound, stated honestly: the per-cell state is the DISTINCT
occupant set, bounded by actual occupancy — NOT by the cap.
``collect_set`` cannot stop accumulating mid-aggregation, so a
stadium cell with 10^5 distinct users holds a 10^5-id set until its
watermark closes; the cap bounds EMISSIONS (the quadratic pair
fan-out never happens for over-cap cells) but not the set itself.
Where adversarial crowd cells are a real risk, coarsen less (higher
precision = smaller cells), shorten the bucket, or pre-filter known
venue tiles upstream; the batch operator (whose guard drops crowd
cells BEFORE any per-cell materialization) remains the backfill
path.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.native import with_geohash_key

__all__ = ["streaming_copresence_pairs"]

_PAIRS = ("flatten(transform(us, (u, i) -> "
          "transform(slice(us, i + 2, size(us)), "
          "v -> struct(u AS user_a, v AS user_b))))")


def streaming_copresence_pairs(spark: SparkSession, source_dir: str,
                               schema: str, precision: int = 1,
                               bucket_s: int = 900,
                               max_cell_users: int = 200,
                               watermark: str = "2 hours",
                               user: str = "user_id",
                               ts: str = "ts") -> DataFrame:
    """readStream(parquet dir with lat/lon) -> per-(bucket, tile)
    occupant sets -> capped upper-triangle pair emission. Output rows:
    (bucket_start, tile, user_a, user_b), user_a < user_b, one row per
    co-presence cell — aggregate downstream for evidence counts."""
    if max_cell_users < 2:
        raise ValueError("max_cell_users must be >= 2 (pairs need 2)")
    stream = spark.readStream.schema(schema).parquet(source_dir)
    tagged = with_geohash_key(stream, "lat", "lon", precision, out="tile")
    occ = (tagged
           .withWatermark(ts, watermark)
           .groupBy(F.window(F.col(ts), f"{int(bucket_s)} seconds")
                    .alias("win"),
                    F.col("tile"))
           .agg(F.collect_set(F.col(user)).alias("users")))
    sized = occ.filter((F.size("users") >= 2)
                       & (F.size("users") <= int(max_cell_users)))
    return (sized
            .withColumn("us", F.array_sort("users"))
            .select(F.col("win.start").alias("bucket_start"), "tile",
                    F.explode(F.expr(_PAIRS)).alias("p"))
            .select("bucket_start", "tile",
                    F.col("p.user_a").alias("user_a"),
                    F.col("p.user_b").alias("user_b")))
