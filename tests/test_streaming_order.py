"""The ordering contract shared by the five stateful streaming twins
(``streaming/_order.ordered_fold``), checked on each of them: a late row
in a second batch is dropped, same-timestamp integral ids order
numerically across batches, and a NULL-tiebreak row is dropped.

Each case streams a perturbed input in two batches and compares the
output with the unperturbed stream's. The perturbing row would change
every module's output if it were kept: it lands in another cell, on
another side of the fence and on another day."""

import datetime as dt

import pytest

from geohash_dotnet_spark.kernels import encode
from geohash_dotnet_spark.streaming.anomaly import streaming_tile_anomaly
from geohash_dotnet_spark.streaming.flows import streaming_tile_flows
from geohash_dotnet_spark.streaming.stays import streaming_stay_points
from geohash_dotnet_spark.streaming.transitions import (
    streaming_geofence_transitions)
from geohash_dotnet_spark.streaming.trips import streaming_trip_stats

SCHEMA = ("user_id long, ts timestamp, event_id long, "
          "lat double, lon double")
# A is inside the fence and alone in its p1 tile; B and C share a p1
# tile, lie in different p3 cells, and only C is inside the fence
A, B, C = (10.0, 10.0), (-40.0, -100.0), (-42.0, -102.0)


def _fence(spark):
    return spark.createDataFrame(
        [(str(encode(*pt, 3)[0]),) for pt in (A, C)], "gh string")


MODULES = {
    "trips": lambda spark, src: streaming_trip_stats(
        spark, src, SCHEMA, gap_s=3600, min_points=1),
    "stays": lambda spark, src: streaming_stay_points(
        spark, src, SCHEMA, precision=3, min_dwell_s=0, min_points=1),
    "flows": lambda spark, src: streaming_tile_flows(
        spark, src, SCHEMA, precision=3),
    "transitions": lambda spark, src: streaming_geofence_transitions(
        spark, src, SCHEMA, _fence(spark), 3),
    "anomaly": lambda spark, src: streaming_tile_anomaly(
        spark, src, SCHEMA, precision=1),
}


def _rows(events):
    t0 = dt.datetime(2024, 1, 1)
    return [(1, t0 + dt.timedelta(days=d), eid, *pt) for d, pt, eid in events]


# the second batch opens on the first batch's last timestamp
BATCH1 = [(1, A, 1), (2, B, 2), (3, A, 3), (4, B, 8)]
BATCH2 = [(4, C, 9), (5, A, 5), (6, B, 6), (7, A, 7), (8, B, 11)]


def _stream(spark, module, tmp_path, batch1, batch2):
    src, ckpt, out = (str(tmp_path / d) for d in ("src", "ckpt", "out"))
    for mode, batch in (("error", batch1), ("append", batch2)):
        spark.createDataFrame(_rows(batch), SCHEMA).write.mode(mode) \
            .parquet(src)
        q = (MODULES[module](spark, src).writeStream.format("parquet")
             .option("path", out).option("checkpointLocation", ckpt)
             .trigger(availableNow=True).start())
        q.awaitTermination()
    return sorted(tuple(r) for r in spark.read.parquet(out).collect())


@pytest.mark.parametrize("module", sorted(MODULES))
def test_ordering_contract(spark, module, tmp_path):
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    want = _stream(spark, module, tmp_path / "base", BATCH1, BATCH2)
    assert want
    # a row before the saved position is late, even in another cell
    late = _stream(spark, module, tmp_path / "late", BATCH1,
                   BATCH2 + [(2.5, C, 20)])
    assert late == want, "late row was not dropped"
    # ids 9 and 10 at one timestamp: 10 comes after 9 (as a string it
    # would sort first and be dropped as late)
    numeric = _stream(spark, module, tmp_path / "numeric",
                      BATCH1[:-1] + [(4, B, 9)], [(4, C, 10)] + BATCH2[1:])
    assert numeric == want, "id 10 did not follow id 9"
    # a NULL tiebreak has no place in the order
    null = _stream(spark, module, tmp_path / "null", BATCH1,
                   BATCH2 + [(6.5, C, None)])
    assert null == want, "NULL-tiebreak row was not dropped"
