"""Driver-side build cost: the hot-path builders hand each stage to the
JVM as Spark SQL text, so building a query takes a handful of py4j round
trips that does not grow with the geohash precision or the number of
quality-score subexpressions."""

import contextlib

import pytest

from geohash_dotnet_spark.functions.native import with_geohash
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


def test_quality_build_round_trips_bounded(spark, pg):
    assert _count(spark, lambda: with_quality(pg)) <= 48


@pytest.mark.parametrize("replicate", [1, 20])
def test_pages_build_round_trips_bounded(spark, sf_small, replicate):
    assert _count(spark, lambda: pages(spark, sf_small, replicate)) <= 64
