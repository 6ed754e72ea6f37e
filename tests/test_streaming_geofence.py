"""Stream-static geofence join vs the batch membership filter."""

from pyspark.sql import functions as F

from geohash_dotnet_spark.kernels import cover_polygon
from geohash_dotnet_spark.sources.pages import pages
from geohash_dotnet_spark.streaming.geofence import streaming_geofence
from geohash_dotnet_spark.streaming.tiles import run_available_now

SCHEMA = ("url string, warc_ts timestamp, text string, lang string, "
          "doc_id long, rep int, lat double, lon double")
# a generous mid-latitude box so the fence actually catches pages
FENCE_WKT = "POLYGON((-30 -20, 60 -20, 60 45, -30 45, -30 -20))"
P = 2


def test_streaming_geofence_matches_batch(spark, sf_small, tmp_path):
    from geohash_dotnet_spark.functions.native import with_geohash

    src = str(tmp_path / "src")
    pg = pages(spark, sf_small, replicate=2)
    pg.write.parquet(src)

    cells = [str(c) for c in cover_polygon(FENCE_WKT, P, "intersects")]
    fence = spark.createDataFrame([(c,) for c in cells], ["gh"])

    result = streaming_geofence(spark, src, SCHEMA, fence, P)
    out = str(tmp_path / "out")
    run_available_now(result, str(tmp_path / "ckpt"), out)

    got = spark.read.parquet(out)
    batch = (with_geohash(pg, "lat", "lon", P, out="gh")
             .filter(F.col("gh").isin(cells)))
    assert got.count() == batch.count() > 0
    g = {r["url"] for r in got.select("url").collect()}
    b = {r["url"] for r in batch.select("url").collect()}
    assert g == b


def test_streaming_geofence_join_is_broadcast(spark, sf_small, tmp_path):
    """The stream side must never shuffle: the join each micro-batch of
    ``streaming_geofence`` runs is a BroadcastHashJoin, never a
    SortMergeJoin."""
    src = str(tmp_path / "bsrc")
    pages(spark, sf_small, replicate=1).write.parquet(src)
    fence = spark.createDataFrame([("9q",), ("9r",)], ["gh"])
    q = run_available_now(streaming_geofence(spark, src, SCHEMA, fence, P),
                          str(tmp_path / "ckpt"), str(tmp_path / "out"))
    s = q._jsq.streamingQuery().lastExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in s and "SortMergeJoin" not in s, s


def test_streaming_geofence_pushes_no_coordinate_filter(spark, sf_small,
                                                        tmp_path):
    """The fence joins on the non-nullable cell key, so the optimizer
    infers no ``isnotnull`` on the cell and pushes no Filter on the
    coordinates below the encode of each micro-batch."""
    import re

    src = str(tmp_path / "src")
    pages(spark, sf_small, replicate=1).write.parquet(src)
    fence = spark.createDataFrame([("9q",), ("9r",)], ["gh"])
    q = run_available_now(streaming_geofence(spark, src, SCHEMA, fence, P),
                          str(tmp_path / "ckpt"), str(tmp_path / "out"))
    plan = q._jsq.streamingQuery().lastExecution().optimizedPlan().toString()
    assert "Join LeftSemi" in plan, plan
    filters = [line for line in plan.splitlines()
               if "Filter" in line and re.search(r"\b(lat|lon)#", line)]
    assert not filters, plan
