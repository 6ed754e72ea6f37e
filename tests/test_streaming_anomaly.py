"""Streaming tile anomaly (availableNow, offline): closed-day parity
with the expanding-history batch twin, cross-batch day extension,
late-row/replay policy, and the moment-fold arithmetic."""

import datetime as dt

from pyspark.sql import Window
from pyspark.sql import functions as F

from geohash_dotnet_spark.functions.exact import MICRO
from geohash_dotnet_spark.functions.native import (geocode_from_url,
                                                   with_geohash)
from geohash_dotnet_spark.streaming.anomaly import streaming_tile_anomaly

SCHEMA = "event_id long, ts timestamp, lat double, lon double"
P = 1


def _events(spark, sf_small):
    """Deterministically geocoded events — the q_tile_anomaly input
    (hash-of-id coordinates, ~30 days of timestamps)."""
    ev = (spark.read.parquet(f"{sf_small}/events.parquet")
          .withColumn("__eid", F.col("event_id").cast("string")))
    ev = geocode_from_url(ev, url="__eid")
    return ev.select("event_id", "ts", "lat", "lon")


def _drain(spark, src, ckpt, out):
    q = (streaming_tile_anomaly(spark, src, SCHEMA, precision=P)
         .writeStream.format("parquet")
         .option("path", out).option("checkpointLocation", ckpt)
         .trigger(availableNow=True).start())
    q.awaitTermination()


def _batch_closed_days(ev):
    """Batch truth for the streaming contract: the expanding-history
    z-scores (cumulative moments over days <= d, the same integer sums
    and the same IEEE tree as operators/hotspots.tile_anomaly), minus
    each tile's final (still-open) day."""
    g = with_geohash(ev, "lat", "lon", P)
    daily = (g.groupBy(F.col("gh").alias("tile"),
                       F.col("ts").cast("date").alias("day"))
             .agg(F.count(F.lit(1)).alias("n")))
    w = (Window.partitionBy("tile").orderBy("day")
         .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    cum = (daily
           .withColumn("days", F.count(F.lit(1)).over(w))
           .withColumn("s", F.sum("n").over(w))
           .withColumn("ss", F.sum(F.col("n") * F.col("n")).over(w))
           .withColumn("__last",
                       F.max("day").over(Window.partitionBy("tile")))
           .filter(F.col("day") < F.col("__last")))
    days_d = F.col("days").cast("double")
    mean = F.col("s").cast("double") / days_d
    var = F.col("ss").cast("double") / days_d - mean * mean
    z = F.when((F.col("days") >= 2) & (var > 0),
               MICRO.round((F.col("n").cast("double") - mean) / F.sqrt(var)))
    rows = cum.select("tile", "day", "n", "days",
                      MICRO.round(mean).alias("mean_n"), z.alias("z")).collect()
    return {(r["tile"], r["day"], r["n"], r["days"], r["mean_n"], r["z"])
            for r in rows}


def _got(spark, out):
    rows = spark.read.parquet(out).collect()
    return {(r["tile"], r["day"], r["n"], r["days"], r["mean_n"], r["z"])
            for r in rows}


def test_streaming_anomaly_matches_expanding_batch(spark, sf_small,
                                                   tmp_path):
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    ev = _events(spark, sf_small)
    src, ckpt, out = (str(tmp_path / d) for d in ("src", "ckpt", "out"))
    ev.write.parquet(src)
    _drain(spark, src, ckpt, out)

    want = _batch_closed_days(ev)
    got = _got(spark, out)
    assert got == want and len(want) > 0
    # the history must actually expand: some tile reaches >= 3 days
    assert max(r[3] for r in got) >= 3


def test_streaming_anomaly_days_extend_across_batches(spark, sf_small,
                                                      tmp_path):
    """Split the stream at the median event time (mid-day for most
    tiles): a day straddling the boundary only scores once, with the
    full count, if the open-day state survives the restart; the closed
    history moments must also carry over so later z-scores match."""
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

    assert _got(spark, out) == _batch_closed_days(ev)


def test_streaming_anomaly_replay_emits_nothing(spark, sf_small,
                                                tmp_path):
    """Exact replay: every row ties or precedes the saved position and
    is dropped as late — zero new rows, moments not double-counted."""
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    ev = _events(spark, sf_small)
    src, ckpt, out = (str(tmp_path / d) for d in ("rsrc", "rckpt", "rout"))
    ev.write.parquet(src)
    _drain(spark, src, ckpt, out)
    n1 = spark.read.parquet(out).count()
    ev.write.mode("append").parquet(src)
    _drain(spark, src, ckpt, out)
    assert spark.read.parquet(out).count() == n1


def test_streaming_anomaly_moment_fold_exact(spark, tmp_path):
    """Hand-built three-day tile: day counts 2, 1, 3 (day 3 stays open).
    Day 1 closes with no variance history (z NULL, days=1); day 2
    closes against {2,1}: mean 1.5, var 0.25, z = (1-1.5)/0.5 = -1."""
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    t = lambda d, h: dt.datetime(2024, 1, d, h, 0, 0)
    loc = (10.0, 10.0)
    rows = [(1, t(1, 1), *loc), (2, t(1, 2), *loc),
            (3, t(2, 1), *loc),
            (4, t(3, 1), *loc), (5, t(3, 2), *loc), (6, t(3, 3), *loc)]
    src, ckpt, out = (str(tmp_path / d) for d in ("src", "ckpt", "out"))
    spark.createDataFrame(rows, SCHEMA).write.parquet(src)
    _drain(spark, src, ckpt, out)

    got = {(r["day"], r["n"], r["days"], r["mean_n"], r["z"])
           for r in spark.read.parquet(out).collect()}
    assert got == {
        (dt.date(2024, 1, 1), 2, 1, 2.0, None),
        (dt.date(2024, 1, 2), 1, 2, 1.5, -1.0),
    }


def test_streaming_anomaly_null_tiebreak_dropped(spark, tmp_path):
    """A NULL integral tiebreak has no position under the (ts, tb)
    total order: Arrow would promote the column to float64/NaN and
    int(NaN) would kill state.update on every retry. The shared
    drop_unorderable filter removes the row JVM-side; the rest of the
    stream proceeds and the null row never counts."""
    t = lambda d, h: dt.datetime(2024, 1, d, h, 0, 0)
    loc = (10.0, 10.0)
    rows = [(1, t(1, 1), *loc), (None, t(1, 2), *loc),
            (2, t(1, 3), *loc),
            (3, t(2, 1), *loc)]
    src, ckpt, out = (str(tmp_path / d) for d in ("src", "ckpt", "out"))
    spark.createDataFrame(rows, SCHEMA).write.parquet(src)
    _drain(spark, src, ckpt, out)
    got = {(r["day"], r["n"], r["days"])
           for r in spark.read.parquet(out).collect()}
    assert got == {(dt.date(2024, 1, 1), 2, 1)}


def test_streaming_anomaly_nan_double_tiebreak_dropped(spark, tmp_path):
    """A NaN double tiebreak never satisfies tb > saved_tb and would be
    silently gated as late across batches; drop_unorderable removes it
    up front (NaN is unorderable, not late)."""
    schema_d = "event_id double, ts timestamp, lat double, lon double"
    t = lambda d, h: dt.datetime(2024, 1, d, h, 0, 0)
    loc = (10.0, 10.0)
    rows = [(1.0, t(1, 1), *loc), (float("nan"), t(1, 2), *loc),
            (2.0, t(1, 3), *loc),
            (3.0, t(2, 1), *loc)]
    src, ckpt, out = (str(tmp_path / d) for d in ("src", "ckpt", "out"))
    spark.createDataFrame(rows, schema_d).write.parquet(src)
    q = (streaming_tile_anomaly(spark, src, schema_d, precision=P)
         .writeStream.format("parquet")
         .option("path", out).option("checkpointLocation", ckpt)
         .trigger(availableNow=True).start())
    q.awaitTermination()
    got = {(r["day"], r["n"], r["days"])
           for r in spark.read.parquet(out).collect()}
    assert got == {(dt.date(2024, 1, 1), 2, 1)}


def test_streaming_anomaly_three_restarts(spark, sf_small, tmp_path):
    """Three drains over a 1/3-2/3 quantile split: the per-tile moments
    (days, s, ss) must fold correctly across TWO restarts — a
    double-counted or dropped day shifts every later mean/z, so this is
    the deepest state-evolution check the offline harness can run."""
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    ev = _events(spark, sf_small)
    us = F.unix_micros(F.col("ts").cast("timestamp"))
    q1, q2 = ev.agg(
        F.expr("percentile(unix_micros(CAST(ts AS TIMESTAMP)), 0.3333)"),
        F.expr("percentile(unix_micros(CAST(ts AS TIMESTAMP)), 0.6667)"),
    ).first()
    src, ckpt, out = (str(tmp_path / d) for d in ("src", "ckpt", "out"))
    ev.filter(us <= q1).write.parquet(src)
    _drain(spark, src, ckpt, out)
    ev.filter((us > q1) & (us <= q2)).write.mode("append").parquet(src)
    _drain(spark, src, ckpt, out)
    ev.filter(us > q2).write.mode("append").parquet(src)
    _drain(spark, src, ckpt, out)

    assert _got(spark, out) == _batch_closed_days(ev)
