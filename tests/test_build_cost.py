"""Driver-side build cost: the hot-path builders hand each stage to the
JVM as Spark SQL text, so building a query takes a handful of py4j round
trips that does not grow with the geohash precision, the tile zoom, the
number of quality-score subexpressions, the cell functions' outputs or
the steps of compress_cells and zonal membership."""

import contextlib

import pytest

from pyspark.sql import functions as F

from geohash_dotnet_spark.functions.native import (gh_decode, gh_neighbors,
                                                   with_geohash)
from geohash_dotnet_spark.functions.tiles import tile_bounds, with_tiles
from geohash_dotnet_spark.operators import compress_cells, zonal_stats
from geohash_dotnet_spark.operators.layout import with_hilbert
from geohash_dotnet_spark.operators.text import with_quality
from geohash_dotnet_spark.sources.pages import pages


@contextlib.contextmanager
def _round_trips(spark):
    """Count the commands the driver sends to the JVM. py4j's deletes of
    garbage-collected Python proxies are left out: when they run depends
    on the Python GC, not on the code being measured."""
    client = spark.sparkContext._gateway._gateway_client
    send = client.send_command
    sent = []

    def counting(command, *args, **kwargs):
        if not command.startswith("m\nd\n"):
            sent.append(command)
        return send(command, *args, **kwargs)

    client.send_command = counting
    try:
        yield sent
    finally:
        client.send_command = send


@pytest.fixture(scope="module")
def pg(spark, sf_small):
    return pages(spark, sf_small)


def _count(spark, build):
    with _round_trips(spark) as sent:
        build()
    return len(sent)


def test_encode_build_round_trips_do_not_grow_with_precision(spark, pg):
    counts = {p: _count(spark, lambda p=p: with_geohash(pg, "lat", "lon", p))
              for p in (2, 12)}
    assert counts[2] == counts[12], counts
    assert counts[2] <= 64, counts


def test_hilbert_build_round_trips_do_not_grow_with_order(spark, pg):
    counts = {o: _count(spark, lambda o=o: with_hilbert(pg, order=o))
              for o in (8, 16)}
    assert counts[8] == counts[16], counts
    assert counts[8] <= 64, counts


@pytest.mark.parametrize("build", [
    lambda pg, z: with_tiles(pg, z=z),
    lambda pg, z: tile_bounds(F.col("x"), F.col("y"), z)],
    ids=["with_tiles", "tile_bounds"])
def test_tile_build_round_trips_do_not_grow_with_zoom(spark, pg, build):
    build(pg, 8)  # the first build also looks up the JVM functions it calls
    counts = {z: _count(spark, lambda z=z: build(pg, z)) for z in (6, 12)}
    assert counts[6] == counts[12], counts


def test_quality_build_round_trips_bounded(spark, pg):
    assert _count(spark, lambda: with_quality(pg)) <= 48


@pytest.mark.parametrize("replicate", [1, 20])
def test_pages_build_round_trips_bounded(spark, sf_small, replicate):
    assert _count(spark, lambda: pages(spark, sf_small, replicate)) <= 64


@pytest.mark.parametrize("fn", [gh_decode, gh_neighbors])
def test_cell_function_build_round_trips_bounded(spark, pg, fn):
    cells = with_geohash(pg, "lat", "lon", 5)
    assert _count(spark, lambda: cells.select(fn(F.col("gh")))) <= 40


@pytest.mark.parametrize("group_cols", [None, ["lang"]])
def test_compress_build_round_trips_bounded(spark, pg, group_cols):
    """One text select list per step: the count grows with the group
    columns named in each list, not with the step's expressions."""
    cells = with_geohash(pg, "lat", "lon", 5)
    assert _count(spark, lambda: compress_cells(
        cells, cell_col="gh", group_cols=group_cols)) <= 256


def test_zonal_build_round_trips_bounded(spark, pg):
    """Most of these build the broadcast covering from pandas; the
    membership is one parse (one py4j call a node made it 581)."""
    zones = [("a", "POLYGON((0 40, 22 41, 18 56, 1 54, 0 40))"),
             ("b", "POLYGON((170 -10, -172 -12, -168 5, 175 8, 170 -10))")]
    assert _count(spark, lambda: zonal_stats(pg, zones, 3)) <= 200
