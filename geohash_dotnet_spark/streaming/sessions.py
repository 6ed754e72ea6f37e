"""Structured Streaming gap-based sessionization — the streaming twin of
``operators.sessions.sessionize``.

Uses Spark's native ``session_window`` (Catalyst's dynamic-gap session
aggregation with watermark-driven state eviction) rather than a Python
stateful operator: merging overlapping [t, t+gap) windows is exactly the
gap rule, the state store holds only open sessions per user, and the
whole operator stays JVM-side. Boundary semantics vs the batch form:
``session_window`` closes a session when the next event is >= gap away
(half-open windows), while the batch lag/cumsum rule uses > gap — events
spaced EXACTLY gap apart land in one batch session but two streaming
sessions. With microsecond event times an exact tie is measure-zero;
the parity test pins the equivalence on tie-free data.

State is bounded by (open sessions) x (users active within the
watermark); late rows beyond the watermark are dropped, so a 10^12-event
stream holds state only for its live horizon, not its history.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.exact import MICRO


def streaming_sessions(spark: SparkSession, source_dir: str, schema: str,
                       user: str = "user_id", ts: str = "ts",
                       value: str = "value", gap_s: int = 1800,
                       watermark: str = "4 hours") -> DataFrame:
    """readStream(parquet dir) -> per-user session_window aggregation.

    Emits (user_id, session_start, session_end, n_events, duration_us,
    sum_value) in append mode once the watermark passes a session's
    close. ``session_end`` is the LAST EVENT time (window end minus the
    gap), matching the batch operator; ``sum_value`` uses the same
    fixed-point trick so values are addition-order independent.
    """
    stream = spark.readStream.schema(schema).parquet(source_dir)
    epoch = F.unix_micros(F.col(ts).cast("timestamp"))
    gap_us = int(gap_s) * 1_000_000
    return (stream
            .withWatermark(ts, watermark)
            .groupBy(F.col(user),
                     F.session_window(F.col(ts), f"{int(gap_s)} seconds")
                     .alias("win"))
            .agg(F.count(F.lit(1)).alias("n_events"),
                 (F.max(epoch) - F.min(epoch)).alias("duration_us"),
                 MICRO.sum(F.col(value)).alias("sum_value"))
            .select(F.col(user),
                    F.col("win.start").alias("session_start"),
                    (F.unix_micros(F.col("win.end")) - F.lit(gap_us))
                    .alias("session_end_us"),
                    "n_events", "duration_us", "sum_value"))
