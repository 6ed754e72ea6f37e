"""Structured Streaming tile counts: a stream of geocoded pages aggregated
per (event-time window, geohash tile) with watermark-based late-data
handling.

The reference is batch-only; this is the engine's streaming extension so
the same gh_* functions serve continuous ingestion. File-source +
``availableNow`` keeps it testable offline; swap readStream source for
Kafka in production.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

from ..functions.native import with_geohash_key


def streaming_tile_counts(spark: SparkSession, source_dir: str, schema: str,
                          precision: int = 3, ts_col: str = "warc_ts",
                          window: str = "1 hour",
                          watermark: str = "2 hours") -> DataFrame:
    """readStream(parquet dir) -> gh tag -> windowed per-tile counts.

    Late rows beyond the watermark are dropped; state is bounded by
    (watermark / window) * live tiles.
    """
    stream = (spark.readStream.schema(schema).parquet(source_dir))
    tagged = with_geohash_key(stream, "lat", "lon", precision)
    return (tagged
            .withWatermark(ts_col, watermark)
            .groupBy(F.window(F.col(ts_col), window).alias("win"),
                     F.col("gh").alias("tile"))
            .agg(F.count(F.lit(1)).alias("n_pages"))
            .select(F.col("win.start").alias("window_start"),
                    F.col("win.end").alias("window_end"),
                    "tile", "n_pages"))


def stateful_tile_totals(spark: SparkSession, source_dir: str, schema: str,
                         precision: int = 3) -> DataFrame:
    """Custom stateful streaming operator via ``applyInPandasWithState``:
    per-tile RUNNING totals that survive across micro-batches and query
    restarts (state checkpointed), emitting one update row per tile per
    batch — the pattern for continuously-maintained per-cell statistics
    that windowed aggregation cannot express (no window: the total is
    over the stream's whole lifetime).

    State per tile is a single long; memory is O(live tiles), constant
    per batch. Arrow-batched like every other Python boundary here.
    """
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    stream = spark.readStream.schema(schema).parquet(source_dir)
    tagged = with_geohash_key(stream, "lat", "lon", precision)

    def update(key, pdfs, state: "GroupState"):
        import pandas as pd

        batch_rows = 0
        for pdf in pdfs:
            batch_rows += len(pdf)
        total = state.get[0] if state.exists else 0
        total += batch_rows
        state.update((total,))
        yield pd.DataFrame({"tile": [key[0]], "total": [total],
                            "batch_rows": [batch_rows]})

    return (tagged.groupBy("gh")
            .applyInPandasWithState(
                update,
                outputStructType="tile string, total long, batch_rows long",
                stateStructType="total long",
                outputMode="update",
                timeoutConf=GroupStateTimeout.NoTimeout))


def drain_updates(result: DataFrame, checkpoint_dir: str,
                  out_dir: str) -> None:
    """Drain an update-mode stream by appending each micro-batch to
    parquet via foreachBatch — checkpoint-recoverable (unlike the memory
    sink), which is what lets stateful totals survive query restarts;
    the offline twin of an idempotent Kafka/Delta upsert sink."""
    def write_batch(batch_df: DataFrame, batch_id: int) -> None:
        batch_df.write.mode("append").parquet(out_dir)

    q = (result.writeStream
         .foreachBatch(write_batch)
         .option("checkpointLocation", checkpoint_dir)
         .outputMode("update")
         .trigger(availableNow=True)
         .start())
    q.awaitTermination()


def run_available_now(result: DataFrame, checkpoint_dir: str,
                      out_dir: str) -> StreamingQuery:
    """Drain everything currently available and stop (offline-testable);
    returns the finished query."""
    q = (result.writeStream
         .format("parquet")
         .option("checkpointLocation", checkpoint_dir)
         .option("path", out_dir)
         .outputMode("append")
         .trigger(availableNow=True)
         .start())
    q.awaitTermination()
    return q
