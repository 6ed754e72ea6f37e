"""Streaming exact dedup (availableNow, offline).

pages(replicate=N) gives every document N copies with distinct urls and
identical text — exactly the duplicate structure a crawl re-fetch
produces — so the batch distinct-fingerprint count is the ground truth.
"""

from datetime import datetime

from pyspark.sql import functions as F

from geohash_dotnet_spark.operators import exact_dedup
from geohash_dotnet_spark.operators.text import with_fingerprint
from geohash_dotnet_spark.sources.pages import pages
from geohash_dotnet_spark.streaming.dedup import (
    stateful_first_seen,
    streaming_dedup_within_watermark,
)
from geohash_dotnet_spark.streaming.tiles import drain_updates

SCHEMA = ("url string, warc_ts timestamp, text string, lang string, "
          "doc_id long, rep int, lat double, lon double")


def test_streaming_dedup_within_watermark_matches_batch(spark, sf_small,
                                                        tmp_path):
    src = str(tmp_path / "src")
    pg = pages(spark, sf_small, replicate=3)
    pg.write.parquet(src)

    # copies of one doc differ only in rep hours (< 24h apart): a 48h
    # watermark horizon covers every duplicate cluster
    result = streaming_dedup_within_watermark(spark, src, SCHEMA,
                                              watermark="48 hours")
    ckpt, out = str(tmp_path / "ckpt"), str(tmp_path / "out")
    (result.writeStream.format("parquet")
     .option("path", out).option("checkpointLocation", ckpt)
     .trigger(availableNow=True).start().awaitTermination())

    got = spark.read.parquet(out)
    n_distinct = with_fingerprint(pg).select("fingerprint").distinct().count()
    assert got.count() == n_distinct
    assert got.select("fingerprint").distinct().count() == n_distinct
    # survivors carry full page rows (the stream passes the row through)
    assert set(got.columns) >= {"url", "text", "fingerprint"}


def test_stateful_first_seen_counts_dupes_across_restarts(spark, sf_small,
                                                          tmp_path):
    src = str(tmp_path / "ssrc")
    ckpt, out = str(tmp_path / "sckpt"), str(tmp_path / "sout")
    pg = pages(spark, sf_small, replicate=3)
    pg.write.parquet(src)

    drain_updates(stateful_first_seen(spark, src, SCHEMA), ckpt, out)
    got1 = (spark.read.parquet(out).groupBy("fingerprint")
            .agg(F.max("n_dupes_total").alias("dupes"),
                 F.sum("n_new").alias("new"),
                 F.min("first_id").alias("first_id")).collect())
    want_first = {r["fingerprint"]: r["first_id"] for r in
                  with_fingerprint(pg).groupBy("fingerprint")
                  .agg(F.min("url").alias("first_id")).collect()}
    assert len(got1) == len(want_first)
    for r in got1:
        assert r["dupes"] == 2          # 3 copies -> 2 duplicates
        assert r["new"] == 1            # first-seen exactly once
        assert r["first_id"] == want_first[r["fingerprint"]]

    # same data dropped again, NEW query, SAME checkpoint: state restores,
    # every row is now a duplicate
    pg.write.mode("append").parquet(src)
    drain_updates(stateful_first_seen(spark, src, SCHEMA), ckpt, out)
    got2 = (spark.read.parquet(out).groupBy("fingerprint")
            .agg(F.max("n_dupes_total").alias("dupes"),
                 F.sum("n_new").alias("new")).collect())
    for r in got2:
        assert r["dupes"] == 5          # 2 + 3 more copies
        assert r["new"] == 1            # still only the original first-seen


def test_case_and_whitespace_variants_share_one_fingerprint(spark, tmp_path):
    """Batch and streaming dedup agree on identity: two texts that differ
    only in case and whitespace are one document in all three."""
    rows = [("u1", datetime(2024, 1, 1), "Hello  World", "en", 1, 0, 0.0, 0.0),
            ("u2", datetime(2024, 1, 1, 1), " hello\tworld ", "en", 2, 0, 0.0, 0.0)]
    df = spark.createDataFrame(rows, SCHEMA)
    src = str(tmp_path / "src")
    df.write.parquet(src)
    assert exact_dedup(df).select("url").collect() == [("u1",)]

    out = str(tmp_path / "wm")
    (streaming_dedup_within_watermark(spark, src, SCHEMA).writeStream
     .format("parquet").option("path", out)
     .option("checkpointLocation", str(tmp_path / "wm_ckpt"))
     .trigger(availableNow=True).start().awaitTermination())
    assert spark.read.parquet(out).count() == 1

    out = str(tmp_path / "first")
    drain_updates(stateful_first_seen(spark, src, SCHEMA),
                  str(tmp_path / "first_ckpt"), out)
    got = spark.read.parquet(out).select("first_id", "n_new", "n_dupes_total")
    assert [tuple(r) for r in got.collect()] == [("u1", 1, 1)]
