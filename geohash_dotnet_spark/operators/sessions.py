"""Gap-based sessionization over an event stream (batch form).

The canonical clickstream/session rollup: per user, a new session starts
whenever the gap to the previous event exceeds ``gap_s`` seconds; events
are then aggregated per (user, session).

Plan shape: one hash exchange on ``user_id`` feeding a per-user sort for
the lag/cumsum window, then a partial+final aggregation on the session
key — the same exchange is reused for both window and groupBy (Catalyst
sees the agg keys are a superset of the window partition key), so the
event table is shuffled exactly once. Skew caveat at 10^12 events: a
single pathological user becomes one sort task; the standard mitigations
(pre-splitting a known-hot user by day and stitching boundary sessions,
or applyInPandasWithState in the streaming form) are out of scope for
the batch operator but documented here so the limit is explicit.

Doubles are aggregated through the exact fixed-point trick (floor to
micro-units as long, sum, divide) so the result is addition-order
independent — required for bit-stable results across cluster sizes AND
for the DuckDB oracle twin.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..functions.exact import MICRO


def sessionize(events: DataFrame, user: str = "user_id", ts: str = "ts",
               order_tiebreak: str = "event_id", value: str = "value",
               gap_s: int = 1800) -> DataFrame:
    """(user_id, session_idx, n_events, session_start, session_end,
    duration_us, sum_value) — gap-based sessions, one shuffle total."""
    w = Window.partitionBy(user).orderBy(F.col(ts).asc(),
                                         F.col(order_tiebreak).asc())
    # exact integer microseconds on both engines: unix_micros here,
    # epoch_us in the DuckDB twin. (A seconds-granularity cast is NOT
    # portable: Spark truncates the fractional second, DuckDB's epoch()
    # rounds it.) Naive parquet timestamps arrive as TIMESTAMP_NTZ, which
    # unix_micros rejects — cast through TIMESTAMP_LTZ first (callers pin
    # spark.sql.session.timeZone=UTC so the instant matches DuckDB).
    epoch = F.unix_micros(F.col(ts).cast("timestamp"))
    prev = F.lag(epoch).over(w)
    gap_us = int(gap_s) * 1_000_000
    is_new = F.when(prev.isNull() | (epoch - prev > F.lit(gap_us)), 1) \
        .otherwise(0)
    cum = Window.partitionBy(user).orderBy(
        F.col(ts).asc(), F.col(order_tiebreak).asc()) \
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    sess = events.withColumn("session_idx",
                             F.sum(is_new).over(cum).cast("long"))
    return (sess.groupBy(user, "session_idx")
            .agg(F.count(F.lit(1)).alias("n_events"),
                 F.min(ts).alias("session_start"),
                 F.max(ts).alias("session_end"),
                 (F.max(epoch) - F.min(epoch)).alias("duration_us"),
                 MICRO.sum(F.col(value)).alias("sum_value")))


def sessionize_sql(inner: str = "events", user: str = "user_id",
                   ts: str = "ts", order_tiebreak: str = "event_id",
                   value: str = "value", gap_s: int = 1800) -> str:
    """DuckDB twin of sessionize (identical lag/cumsum/fixed-point math)."""
    ep = f"epoch_us({ts})"
    gap_us = int(gap_s) * 1_000_000
    return f"""
WITH flagged AS (
  SELECT *, {ep} AS __ep,
         CASE WHEN lag({ep}) OVER w IS NULL
                   OR {ep} - lag({ep}) OVER w > {gap_us}
              THEN 1 ELSE 0 END AS __new
  FROM {inner}
  WINDOW w AS (PARTITION BY {user} ORDER BY {ts}, {order_tiebreak})
), sess AS (
  SELECT *, CAST(sum(__new) OVER (PARTITION BY {user} ORDER BY {ts},
            {order_tiebreak} ROWS UNBOUNDED PRECEDING) AS BIGINT)
            AS session_idx
  FROM flagged
)
SELECT {user}, session_idx, count(*) AS n_events,
       min({ts}) AS session_start, max({ts}) AS session_end,
       max(__ep) - min(__ep) AS duration_us,
       {MICRO.sum_sql(value)} AS sum_value
FROM sess GROUP BY {user}, session_idx
ORDER BY {user}, session_idx
"""
