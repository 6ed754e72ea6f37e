"""Streaming trip segmentation (availableNow, offline): closed-trip
parity with the batch operator — including per-user trip indexes and
exact integer-metre path lengths — plus cross-batch trip
extension and the late-row/replay policy."""

import calendar
import math

from pyspark.sql import Window
from pyspark.sql import functions as F

from geohash_dotnet_spark.operators.flows import trip_stats
from geohash_dotnet_spark.streaming.trips import streaming_trip_stats

SCHEMA = ("user_id long, ts timestamp, event_id long, "
          "lat double, lon double")

GAP_S = 21600       # same as q_trip_stats
MIN_POINTS = 2


def _events(spark, sf_small):
    """The q_trip_stats input (event_id-geocoded events), built the same
    way so the streamed corpus is exactly the driver-gated one."""
    from geohash_dotnet_spark.functions.native import geocode_from_url

    ev = (spark.read.parquet(f"{sf_small}/events.parquet")
          .withColumn("__eid", F.col("event_id").cast("string")))
    ev = geocode_from_url(ev, url="__eid")
    return ev.select("user_id", "ts", "event_id", "lat", "lon")


def _drain(spark, src, ckpt, out):
    q = (streaming_trip_stats(spark, src, SCHEMA, gap_s=GAP_S,
                              min_points=MIN_POINTS)
         .writeStream.format("parquet")
         .option("path", out).option("checkpointLocation", ckpt)
         .trigger(availableNow=True).start())
    q.awaitTermination()


def _us(ts):
    return calendar.timegm(ts.timetuple()) * 1_000_000 + ts.microsecond


def _m(dist_m):
    return int(math.floor(dist_m + 0.5))


def _batch_closed_trips(ev):
    """Batch truth for the streaming contract: trips MINUS each user's
    final (still-open) trip, then the min_points threshold."""
    allt = trip_stats(ev, gap_s=GAP_S, min_points=1, tiebreak="event_id")
    w = Window.partitionBy("user_id")
    closed = (allt.withColumn("__last", F.max("trip_idx").over(w))
              .filter(F.col("trip_idx") < F.col("__last"))
              .filter(F.col("n_points") >= MIN_POINTS))
    return {(r["user_id"], r["trip_idx"], r["n_points"],
             _us(r["start_ts"]), _us(r["end_ts"]), _m(r["dist_m"]))
            for r in closed.collect()}


def _got(spark, out):
    return {(int(r["user"]), r["trip_idx"], r["n_points"],
             r["start_us"], r["end_us"], r["dist_m"])
            for r in spark.read.parquet(out).collect()}


def test_streaming_trips_match_batch_closed(spark, sf_small, tmp_path):
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    ev = _events(spark, sf_small)
    src, ckpt, out = (str(tmp_path / d) for d in ("src", "ckpt", "out"))
    ev.write.parquet(src)
    _drain(spark, src, ckpt, out)

    want = _batch_closed_trips(ev)
    assert _got(spark, out) == want and len(want) > 0


def test_streaming_trips_extend_across_batches(spark, sf_small, tmp_path):
    """Split the stream at the median event time: trips that STRADDLE
    the boundary (and their metre path sums, which accumulate in
    state) only come out whole if the open-trip state survives."""
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    ev = _events(spark, sf_small)
    us = F.unix_micros(F.col("ts").cast("timestamp"))
    tcut = ev.agg(F.expr(
        "percentile(unix_micros(CAST(ts AS TIMESTAMP)), 0.5)")).first()[0]
    src, ckpt, out = (str(tmp_path / d) for d in ("src", "ckpt", "out"))
    ev.filter(us <= tcut).write.parquet(src)
    _drain(spark, src, ckpt, out)
    ev.filter(us > tcut).write.mode("append").parquet(src)
    _drain(spark, src, ckpt, out)

    assert _got(spark, out) == _batch_closed_trips(ev)


def test_streaming_trips_replay_emits_nothing(spark, sf_small, tmp_path):
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    ev = _events(spark, sf_small)
    src, ckpt, out = (str(tmp_path / d) for d in ("rsrc", "rckpt", "rout"))
    ev.write.parquet(src)
    _drain(spark, src, ckpt, out)
    n1 = spark.read.parquet(out).count()
    ev.write.mode("append").parquet(src)
    _drain(spark, src, ckpt, out)
    assert spark.read.parquet(out).count() == n1


def test_streaming_trips_hand_case(spark, tmp_path):
    """Hand-checkable split: three points 10 minutes apart (one trip),
    a 7-hour gap, two more points (the open trip). Exactly the first
    trip emits; its path length equals the two quantized legs."""
    import datetime as dt

    from geohash_dotnet_spark.kernels.distance import haversine_m as hav_np

    spark.conf.set("spark.sql.session.timeZone", "UTC")
    t = lambda m: dt.datetime(2024, 1, 1, 0, 0) + dt.timedelta(minutes=m)
    pts = [(52.50, 13.40), (52.51, 13.42), (52.52, 13.40),
           (52.60, 13.50), (52.61, 13.52)]
    rows = [(7, t(0), 1, *pts[0]), (7, t(10), 2, *pts[1]),
            (7, t(20), 3, *pts[2]),
            (7, t(20 + 7 * 60), 4, *pts[3]), (7, t(30 + 7 * 60), 5, *pts[4])]
    src, ckpt, out = (str(tmp_path / d) for d in ("src", "ckpt", "out"))
    spark.createDataFrame(rows, SCHEMA).write.parquet(src)
    _drain(spark, src, ckpt, out)

    got = spark.read.parquet(out).collect()
    assert len(got) == 1
    r = got[0]
    legs = sum(_m(float(hav_np(a[0], a[1], b[0], b[1])))
               for a, b in zip(pts[:2], pts[1:3]))
    assert (int(r["user"]), r["trip_idx"], r["n_points"]) == (7, 1, 3)
    assert r["start_us"] == _us(t(0)) and r["end_us"] == _us(t(20))
    # kernel haversine and the streamed native-order chain agree at
    # metre scale on these ~1.5 km legs (wobble << 1 m)
    assert abs(r["dist_m"] - legs) <= 1
