"""Hypertable-style time rollup (operators/rollup.py)."""

from datetime import datetime, timedelta

import duckdb
import pytest
from pyspark.sql import functions as F

from geohash_dotnet_spark.functions.oracle import pages_sql
from geohash_dotnet_spark.operators import time_rollup
from geohash_dotnet_spark.operators.rollup import (tile_pyramid,
                                                   tile_pyramid_sql,
                                                   time_rollup_sql)
from geohash_dotnet_spark.sources.pages import pages


def _ts(s):
    return datetime.fromisoformat(s)


@pytest.fixture(scope="module")
def rolled(spark):
    rows = [
        (_ts("2024-01-01T00:00:10"), 1.25),
        (_ts("2024-01-01T00:00:50"), 2.50),   # same minute
        (_ts("2024-01-01T00:59:00"), 4.00),   # same hour, other minute
        (_ts("2024-01-01T23:00:00"), 8.00),   # same day, other hour
        (_ts("2024-01-02T00:00:00"), 16.00),  # next day
    ]
    df = spark.createDataFrame(rows, ["ts", "value"])
    out = time_rollup(df).collect()
    return {(r["level"], r["bucket"]): (r["n"], r["sum_value_us"])
            for r in out}


def test_rollup_known_values(rolled):
    assert rolled[("minute", _ts("2024-01-01T00:00:00"))] == (2, 3_750_000)
    assert rolled[("hour", _ts("2024-01-01T00:00:00"))] == (3, 7_750_000)
    assert rolled[("day", _ts("2024-01-01T00:00:00"))] == (4, 15_750_000)
    assert rolled[("day", _ts("2024-01-02T00:00:00"))] == (1, 16_000_000)
    # level cardinalities: 4 minutes, 3 hours, 2 days
    levels = {}
    for (lv, _b) in rolled:
        levels[lv] = levels.get(lv, 0) + 1
    assert levels == {"minute": 4, "hour": 3, "day": 2}


def _final_plan(df):
    df.collect()  # AQE finalizes the plan on execution
    return df._jdf.queryExecution().executedPlan().toString().split(
        "Initial Plan")[0]


def _exchanges_single_scan(final):
    """Exchange count of a one-scan plan with no per-level branches."""
    for node in ("ReusedExchange", "BroadcastExchange", "Union"):
        assert node not in final
    assert final.count("Scan parquet") == 1  # matches "FileScan parquet"
    return final.count("Exchange hashpartitioning")


def test_rollup_exchange_count_independent_of_levels(spark, sf_small):
    """The finest-level aggregation plus ONE level-exploded aggregation:
    the same (at most two) Exchanges for 2 and 4 levels, one scan."""
    ev = spark.read.parquet(f"{sf_small}/events.parquet")
    n2, n4 = (_exchanges_single_scan(_final_plan(time_rollup(ev, levels=lv)))
              for lv in (("minute", "hour"),
                         ("minute", "hour", "day", "month")))
    assert n2 == n4 <= 2


@pytest.mark.parametrize("levels,bad", [
    ((), "empty"),
    (("hour", "minute"), "'minute'"),      # finer after coarser
    (("minute", "minute"), "'minute'"),    # not strictly coarser
    (("minute", "bogus"), "'bogus'"),      # not a date_trunc unit
    (("day", "week", "month"), "'month'"),  # weeks straddle months
])
def test_rollup_rejects_bad_levels(levels, bad):
    """Both twins refuse a ladder whose levels do not nest, naming the
    offending unit, before touching the input."""
    with pytest.raises(ValueError, match=bad):
        time_rollup(None, levels=levels)
    with pytest.raises(ValueError, match=bad):
        time_rollup_sql("SELECT 1", levels=levels)


def test_rollup_matches_duckdb_twin_six_levels(spark, sf_small):
    """second..year from one second-level aggregate equals the twin's
    direct GROUP BY per level; every level accounts for every event."""
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    levels = ("second", "minute", "hour", "day", "month", "year")
    ev = spark.read.parquet(f"{sf_small}/events.parquet")
    got = sorted(tuple(r) for r in time_rollup(ev, levels=levels).collect())
    exp = sorted(duckdb.connect().execute(time_rollup_sql(
        f"SELECT ts, value FROM '{sf_small}/events.parquet'",
        levels=levels)).fetchall())
    assert got == exp
    n = ev.count()
    for lv in levels:
        assert sum(r[2] for r in got if r[0] == lv) == n


def test_tile_pyramid_known_values(spark):
    """Four points in known quadrants: zoom-1 quadkeys and the zoom-0
    grand total, plus level cardinalities at deeper zooms."""
    from geohash_dotnet_spark.operators.rollup import tile_pyramid

    rows = [(40.0, -100.0), (45.0, -90.0),   # NW quadrant -> quadkey '0'
            (40.0, 100.0),                   # NE -> '1'
            (-40.0, -100.0)]                 # SW -> '2'
    df = spark.createDataFrame(rows, "lat double, lon double")
    out = tile_pyramid(df, max_z=3)
    z1 = {r["quadkey"]: r["n_pages"] for r in
          out.filter(F.col("z") == 1).collect()}
    assert z1 == {"0": 2, "1": 1, "2": 1}
    z0 = out.filter(F.col("z") == 0).collect()
    assert len(z0) == 1 and z0[0]["quadkey"] == "" and z0[0]["n_pages"] == 4
    # every zoom's counts sum to the corpus
    for z in range(4):
        assert sum(r["n_pages"] for r in
                   out.filter(F.col("z") == z).collect()) == 4


def test_tile_pyramid_matches_direct_assignment(spark, sf_small):
    """Prefix rollup == direct per-zoom assignment (the nesting
    property the oracle also checks)."""
    from geohash_dotnet_spark.functions.tiles import with_tiles
    from geohash_dotnet_spark.operators.rollup import tile_pyramid
    from geohash_dotnet_spark.sources.pages import pages

    pg = pages(spark, sf_small)
    out = {(r["z"], r["quadkey"]): r["n_pages"]
           for r in tile_pyramid(pg, max_z=5).collect()}
    for z in (1, 3, 5):
        direct = {(z, r["quadkey"]): r["count"] for r in
                  with_tiles(pg, z=z).groupBy("quadkey").count().collect()}
        assert {k: v for k, v in out.items() if k[0] == z} == direct


@pytest.mark.parametrize("max_z", [1, 8])
def test_tile_pyramid_matches_duckdb_twin(spark, sf_small, max_z):
    """Prefix rollup equals the twin's direct per-zoom assignment, and
    every zoom accounts for every page."""
    pg = pages(spark, sf_small)
    got = sorted(tuple(r) for r in tile_pyramid(pg, max_z=max_z).collect())
    con = duckdb.connect()
    con.execute(f"CREATE VIEW documents AS SELECT * FROM "
                f"'{sf_small}/documents.parquet'")
    exp = sorted(con.execute(tile_pyramid_sql(pages_sql(), max_z=max_z))
                 .fetchall())
    assert got == exp
    n = pg.count()
    for z in range(max_z + 1):
        assert sum(r[2] for r in got if r[0] == z) == n


def test_tile_pyramid_exchange_count_independent_of_zoom(spark, sf_small):
    spark.catalog.clearCache()
    n2, n6 = (_exchanges_single_scan(_final_plan(
        tile_pyramid(pages(spark, sf_small), max_z=z))) for z in (2, 6))
    assert n2 == n6 <= 2


def test_tile_pyramid_validation():
    from geohash_dotnet_spark.operators.rollup import tile_pyramid

    with pytest.raises(ValueError):
        tile_pyramid(None, max_z=0)
    with pytest.raises(ValueError):
        tile_pyramid(None, max_z=21)


# ---------------------------------------------------------------------------
# tile_freshness
# ---------------------------------------------------------------------------

def _fresh_df(spark, rows):
    return spark.createDataFrame(
        rows, "url string, lat double, lon double, warc_ts timestamp")


def test_tile_freshness_halflife_staircase(spark):
    """Ages 0 / 3.5d / 7d / 14d / 70d at halflife 7d quantize to whole
    half-lives e = 0, 0, 1, 2, 10 -> weights 1e6, 1e6, 5e5, 2.5e5,
    floor(1e6/1024) = 976 micro-units, summed exactly."""
    from geohash_dotnet_spark.operators.rollup import tile_freshness

    spark.conf.set("spark.sql.session.timeZone", "UTC")
    base = datetime(2024, 3, 1, 0, 0, 0)
    ages_h = [0, 84, 168, 336, 1680]  # hours
    rows = [(f"u{i}", 10.0, 10.0, base - timedelta(hours=h))
            for i, h in enumerate(ages_h)]
    out = tile_freshness(_fresh_df(spark, rows), ts="warc_ts",
                         precision=2, halflife_days=7).collect()
    assert len(out) == 1
    r = out[0]
    assert r["n_pages"] == 5
    assert r["fresh_fp"] == 1_000_000 + 1_000_000 + 500_000 + 250_000 + 976
    assert r["freshness"] == r["fresh_fp"] / 1e6


def test_tile_freshness_ancient_pages_weigh_zero(spark):
    """e >= 60 clamps to weight 0 (beyond double-exact 2^e territory)."""
    from geohash_dotnet_spark.operators.rollup import tile_freshness

    base = datetime(2024, 3, 1)
    rows = [("new", 10.0, 10.0, base),
            ("old", 10.0, 10.0, base - timedelta(days=7 * 61))]
    r = tile_freshness(_fresh_df(spark, rows), ts="warc_ts",
                       precision=2, halflife_days=7).collect()[0]
    assert r["n_pages"] == 2 and r["fresh_fp"] == 1_000_000


def test_tile_freshness_single_corpus_exchange(spark):
    """The reference-epoch scalar broadcasts; the only hashpartitioning
    Exchange is the tile aggregation."""
    from geohash_dotnet_spark.operators.rollup import tile_freshness
    from geohash_dotnet_spark.sources.pages import pages

    out = tile_freshness(pages(spark, "/root/testdata/sf0.001"),
                         precision=2)
    out.collect()
    plan = out._jdf.queryExecution().executedPlan().toString()
    final = plan.split("Initial Plan")[0]
    assert final.count("Exchange hashpartitioning") == 1
    assert "BatchEvalPython" not in final
    assert "ArrowEvalPython" not in final


def test_tile_freshness_validation():
    from geohash_dotnet_spark.operators.rollup import tile_freshness

    with pytest.raises(ValueError):
        tile_freshness(None, halflife_days=0)
