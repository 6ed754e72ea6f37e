"""Streaming geofence alerting: a stream-static join between a page
stream and a (small, static) geofence covering-cell set.

The README's batch geofence recipe (`/root/reference/README.md:58-86`:
polygon -> covering cells -> membership test) turned continuous: the
covering set is computed ONCE with the batch kernels (cover_polygon /
compress), registered as a static DataFrame, and every micro-batch
hash-joins against its broadcast copy — Structured Streaming's
stream-static join, which needs no watermark and holds no state (the
static side is re-broadcast per batch, so a refreshed fence table is
picked up without restarting the query).

At scale: the fence set is cells (thousands), the stream is pages
(unbounded); the join must be broadcast — a shuffled stream-static join
would re-partition every micro-batch. Asserted on a micro-batch's
executed plan in tests/test_streaming_geofence.py.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from ..operators.spatial_join import cell_join, tag_pages


def streaming_geofence(spark: SparkSession, source_dir: str, schema: str,
                       fence_cells: DataFrame, precision: int,
                       lat: str = "lat", lon: str = "lon") -> DataFrame:
    """readStream(parquet dir) -> gh tag -> stream-static broadcast
    semi-join against the fence covering cells. Emits the matching rows
    (append mode, stateless)."""
    stream = spark.readStream.schema(schema).parquet(source_dir)
    tagged = tag_pages(stream, precision, lat=lat, lon=lon)
    return cell_join(tagged, fence_cells.select("gh"), "left_semi")
