"""Streaming trip segmentation: live gap-split journeys.

The streaming twin of ``operators/flows.trip_stats``: the batch form
lag-windows each user's full history and splits at time gaps >
``gap_s``; a live pipeline must emit a trip the moment a gap PROVES it
closed (the next event arrives more than ``gap_s`` after the trip's
last point), holding only the open trip — O(1) state per user, the
same ``applyInPandasWithState`` shape as streaming stays.

Emission contract (append-mode, same honesty as streaming stays): a
trip is emitted when a LATER event of the same user closes it by gap.
Each user's final open trip lives in the state store and is never
emitted by the stream itself; the batch twin, which sees end-of-input,
does close it. Parity: streaming emissions == batch trips minus each
user's last trip — asserted row-for-row by the parity test, including
the per-user trip index and the exact integer-metre path length.

Ordering contract (same as streaming flows/stays): within a micro-batch
rows sort by (event-time, tiebreak); across batches a row at or before
the user's saved position is LATE and dropped.

Exactness: leg distances replicate the batch operator's NATIVE trig
chain operation-for-operation (radians(lat2-lat1)/2 BEFORE the half,
asin(min(1, sqrt(a))), x/180*pi radians conversion — mirroring
functions/native.haversine_m so NumPy and JVM evaluate the same
expression tree) and are quantized to integer metres with the batch
operator's own quantum (``exact.METRE``) BEFORE summation. The
equality guarantee is therefore probabilistic, not absolute: NumPy's
libm and the JVM's Math intrinsics differ in the last ulps (~1e-8 m
on 1e7-m legs), so a leg whose true value falls within that wobble of
a half-metre floor boundary CAN quantize one unit apart across
platforms. Whole metres put the boundary ~7 orders of magnitude above
the wobble (millimetres were not enough — see operators/flows.py),
which makes a flip vanishingly rare, not impossible; the parity test
would report it as a one-unit dist_m diff on an otherwise identical
row.

State per user: (trip_idx, start_us, last ts_us, last tiebreak,
last lat, last lon, n_points, dist_m) — one row. The update fn is
NumPy-vectorized per Arrow batch (sort + shifted-compare + reduceat
segment sums); no per-row Python.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.exact import METRE
from ._order import (drop_unorderable, sort_and_gate,
                     tiebreak_projection)

OUT_SCHEMA = ("user string, trip_idx long, n_points long, "
              "start_us long, end_us long, dist_m long")


def _leg_m(lat1, lon1, lat2, lon2):
    """Integer-metre haversine legs, mirroring functions/native.haversine_m
    operation-for-operation (degree subtraction BEFORE the radians
    conversion, x/180*pi like java.lang.Math.toRadians, asin of the
    clamped sqrt) so the streamed sums match the batch JVM sums at the
    metre quantum (see the module docstring for the cross-libm caveat)."""
    import numpy as np

    from ..kernels.distance import EARTH_RADIUS_M

    def rad(x):
        return x / 180.0 * np.pi

    dlat = rad(lat2 - lat1) / 2
    dlng = rad(lon2 - lon1) / 2
    a = (np.sin(dlat) * np.sin(dlat)
         + np.cos(rad(lat1)) * np.cos(rad(lat2))
         * np.sin(dlng) * np.sin(dlng))
    leg = 2.0 * EARTH_RADIUS_M * np.arcsin(np.minimum(1.0, np.sqrt(a)))
    return METRE.ticks_np(leg)


def streaming_trip_stats(spark: SparkSession, source_dir: str,
                         schema: str, user: str = "user_id",
                         ts: str = "ts", lat: str = "lat",
                         lon: str = "lon", tiebreak: str = "event_id",
                         gap_s: int = 7200,
                         min_points: int = 2) -> DataFrame:
    """Closed-trip stream: one output row per trip the moment a gap
    closes it; O(1) state per user. The (ts, tiebreak) projection runs
    JVM-side, so Python sees five narrow columns (user, ts_us, tb,
    lat, lon)."""
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    gap_us = int(gap_s) * 1_000_000
    stream = spark.readStream.schema(schema).parquet(source_dir)
    tb_col, tb_type, tb_conv = tiebreak_projection(stream, tiebreak)
    proj = stream.select(F.col(user).cast("string").alias("user"),
                         F.unix_micros(F.col(ts).cast("timestamp"))
                         .alias("ts_us"),
                         tb_col,
                         F.col(lat).cast("double").alias("lat"),
                         F.col(lon).cast("double").alias("lon"))
    proj = drop_unorderable(proj, tb_type)

    def _empty_out():
        import pandas as pd

        return pd.DataFrame(
            {"user": pd.Series(dtype=object),
             "trip_idx": pd.Series(dtype="int64"),
             "n_points": pd.Series(dtype="int64"),
             "start_us": pd.Series(dtype="int64"),
             "end_us": pd.Series(dtype="int64"),
             "dist_m": pd.Series(dtype="int64")})

    def update(key, pdfs, state: "GroupState"):
        import numpy as np
        import pandas as pd

        parts = list(pdfs)
        pdf = pd.concat(parts) if parts else pd.DataFrame(
            columns=["user", "ts_us", "tb", "lat", "lon"])
        saved = state.get if state.exists else None
        if saved is not None:
            (s_idx, s_start, s_ts, s_tb, s_lat, s_lon, s_n, s_m) = saved
            pdf = sort_and_gate(pdf, (s_ts, s_tb))
        else:
            pdf = sort_and_gate(pdf, None)
        if len(pdf) == 0:
            yield _empty_out()
            return

        ts_us = pdf["ts_us"].to_numpy(dtype=np.int64)
        la = pdf["lat"].to_numpy(dtype=np.float64)
        lo = pdf["lon"].to_numpy(dtype=np.float64)
        # previous point per row: the saved position for row 0 (if any),
        # the in-batch predecessor otherwise
        if saved is not None:
            prev_ts = np.concatenate(([s_ts], ts_us[:-1]))
            prev_la = np.concatenate(([s_lat], la[:-1]))
            prev_lo = np.concatenate(([s_lon], lo[:-1]))
        else:
            prev_ts = np.concatenate(([np.int64(0)], ts_us[:-1]))
            prev_la = np.concatenate(([la[0]], la[:-1]))
            prev_lo = np.concatenate(([lo[0]], lo[:-1]))
        new_trip = (ts_us - prev_ts) > gap_us
        if saved is None:
            new_trip[0] = True
        legs = _leg_m(prev_la, prev_lo, la, lo)
        legs[new_trip] = 0

        starts = np.flatnonzero(new_trip)
        if starts.size == 0 or starts[0] != 0:
            starts = np.concatenate(([0], starts))  # continuation segment
        ends = np.concatenate((starts[1:], [len(ts_us)])) - 1
        seg_start_ts = ts_us[starts]
        seg_end_ts = ts_us[ends]
        seg_n = (ends - starts + 1).astype(np.int64)
        seg_m = np.add.reduceat(legs, starts).astype(np.int64)

        base_idx = 0  # trip index of the FIRST segment in this batch
        closed = []   # (idx, n, start, end, m) tuples, then vectorize
        if saved is not None:
            if not new_trip[0]:
                # first segment continues the saved open trip
                base_idx = s_idx
                seg_start_ts[0] = s_start
                seg_n[0] += s_n
                seg_m[0] += s_m
            else:
                base_idx = s_idx + 1
                closed.append((s_idx, s_n, s_start, s_ts, s_m))
        else:
            base_idx = 1
        n_seg = len(starts)
        for i in range(n_seg - 1):  # bounded by segments, not rows
            closed.append((base_idx + i, int(seg_n[i]),
                           int(seg_start_ts[i]), int(seg_end_ts[i]),
                           int(seg_m[i])))

        last_row = pdf.iloc[-1]
        state.update((int(base_idx + n_seg - 1), int(seg_start_ts[-1]),
                      int(last_row["ts_us"]), tb_conv(last_row["tb"]),
                      float(last_row["lat"]), float(last_row["lon"]),
                      int(seg_n[-1]), int(seg_m[-1])))

        closed = [c for c in closed if c[1] >= min_points]
        if not closed:
            yield _empty_out()
            return
        arr = np.asarray(closed, dtype=np.int64)
        yield pd.DataFrame({
            "user": np.repeat(key[0], len(closed)),
            "trip_idx": arr[:, 0],
            "n_points": arr[:, 1],
            "start_us": arr[:, 2],
            "end_us": arr[:, 3],
            "dist_m": arr[:, 4],
        })

    return (proj.groupBy("user")
            .applyInPandasWithState(
                update,
                outputStructType=OUT_SCHEMA,
                stateStructType=("trip_idx long, start_us long, ts_us long, "
                                 f"tb {tb_type}, lat double, lon double, "
                                 "n long, dist_m long"),
                outputMode="append",
                timeoutConf=GroupStateTimeout.NoTimeout))
