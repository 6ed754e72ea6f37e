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

Emission contract (append-mode semantics, stated honestly): a (tile,
day) row is emitted when the day CLOSES — i.e. when a later-day event
for the same tile arrives. Each tile's final, still-open day lives in
the state store and is never emitted by the stream itself; the batch
twin, which sees end-of-input, does score it. Parity is therefore:
streaming emissions == expanding-window batch rows minus each tile's
last day. Draining open days (timeout or a final batch pass) is policy,
not operator semantics — the same contract as streaming stays/trips.

Determinism: the stateful UDF emits ONLY exact integers (tile, day,
n, days, s, ss); mean/variance/z are projected JVM-side afterwards with
the very expression tree ``tile_anomaly`` uses, so the floats are
bit-identical to the batch twin's — Python never touches a double.

Ordering contract (shared with flows/stays/trips via ``_order``):
within a micro-batch rows sort by (event-time, tiebreak); across
batches a row at or before the tile's saved position is LATE and
dropped. Day-of-epoch is floor(ts) under the UTC-pinned session
timezone, monotone in event time, so late gating by (ts, tiebreak)
also gates days.

State per tile: (open day, its running count, days/s/ss of the closed
history, last ts_us, last tiebreak) — one fixed-width row, O(1) in both
stream length and day count. The update fn is NumPy-vectorized per
Arrow batch (np.unique day segmentation + cumsum moment folds); no
per-row Python.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.exact import MICRO
from ..functions.native import with_geohash
from ._order import (drop_unorderable, sort_and_gate,
                     tiebreak_projection)

_RAW_SCHEMA = "tile string, day int, n long, days long, s long, ss long"


def streaming_tile_anomaly(spark: SparkSession, source_dir: str,
                           schema: str, ts: str = "ts",
                           lat: str = "lat", lon: str = "lon",
                           tiebreak: str = "event_id",
                           precision: int = 1) -> DataFrame:
    """Closed-day anomaly stream: one row per (tile, day) the moment a
    later-day event closes it, scored against that tile's history up to
    and including the closed day. The tile tag, the (ts, tiebreak)
    projection and the day-of-epoch all run JVM-side; the z expression
    runs JVM-side on the emitted integers."""
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    stream = spark.readStream.schema(schema).parquet(source_dir)
    g = with_geohash(stream, lat, lon, precision)
    tb_col, tb_type, tb_conv = tiebreak_projection(g, tiebreak)
    tsc = F.col(ts).cast("timestamp")
    proj = g.select(F.col("gh").alias("tile"),
                    F.unix_micros(tsc).alias("ts_us"),
                    tb_col,
                    F.unix_date(tsc.cast("date")).alias("day"))
    proj = drop_unorderable(proj, tb_type)

    def _empty_out():
        import pandas as pd

        return pd.DataFrame(
            {"tile": pd.Series(dtype=object),
             "day": pd.Series(dtype="int32"),
             "n": pd.Series(dtype="int64"),
             "days": pd.Series(dtype="int64"),
             "s": pd.Series(dtype="int64"),
             "ss": pd.Series(dtype="int64")})

    def update(key, pdfs, state: "GroupState"):
        import numpy as np
        import pandas as pd

        parts = list(pdfs)
        pdf = pd.concat(parts) if parts else pd.DataFrame(
            columns=["tile", "ts_us", "tb", "day"])
        saved = state.get if state.exists else None
        if saved is not None:
            s_day, s_n, days0, s0, ss0, s_ts, s_tb = saved
            pdf = sort_and_gate(pdf, (s_ts, s_tb))
        else:
            days0 = s0 = ss0 = 0
            pdf = sort_and_gate(pdf, None)
        if len(pdf) == 0:
            yield _empty_out()
            return

        # event time is nondecreasing after the sort and day is monotone
        # in event time, so np.unique's sorted (day, count) pairs are the
        # stream's day segments in arrival order
        uday, ucnt = np.unique(
            pdf["day"].to_numpy(dtype=np.int64), return_counts=True)
        ucnt = ucnt.astype(np.int64)
        if saved is not None:
            if uday[0] == s_day:
                # the open day continues into this batch
                ucnt[0] += s_n
            else:
                # a later day arrived: the saved day closes as-is
                uday = np.concatenate(([s_day], uday))
                ucnt = np.concatenate(([s_n], ucnt))

        cday, cn = uday[:-1], ucnt[:-1]           # closed by a successor
        k = len(cday)
        days_out = days0 + np.arange(1, k + 1, dtype=np.int64)
        s_out = s0 + np.cumsum(cn)
        ss_out = ss0 + np.cumsum(cn * cn)

        last = pdf.iloc[-1]
        state.update((int(uday[-1]), int(ucnt[-1]),
                      int(days0 + k), int(s0 + cn.sum()),
                      int(ss0 + (cn * cn).sum()),
                      int(last["ts_us"]), tb_conv(last["tb"])))

        if k == 0:
            yield _empty_out()
            return
        yield pd.DataFrame({
            "tile": np.repeat(key[0], k),
            "day": cday.astype(np.int32),
            "n": cn,
            "days": days_out,
            "s": s_out,
            "ss": ss_out,
        })

    raw = (proj.groupBy("tile")
           .applyInPandasWithState(
               update,
               outputStructType=_RAW_SCHEMA,
               stateStructType=("day int, n long, days long, s long, "
                                f"ss long, ts_us long, tb {tb_type}"),
               outputMode="append",
               timeoutConf=GroupStateTimeout.NoTimeout))

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
