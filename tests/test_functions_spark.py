"""Spark functions layer: JVM-native encode == NumPy kernel == DuckDB twin,
UDF wrappers == kernels, plan-shape checks (pushdown, codegen, no UDF in
native paths)."""

import duckdb
import numpy as np
import pytest
from pyspark.sql import functions as F

from geohash_dotnet_spark.functions import (
    gh_bbox,
    gh_children,
    gh_decode,
    gh_is_valid,
    gh_neighbor,
    gh_neighbors,
    gh_parent,
    haversine_m,
    with_geohash,
)
from geohash_dotnet_spark.functions.native import DUCKDB, haversine_sql
from geohash_dotnet_spark.functions.oracle import pages_tagged_sql, tagged_select_sql
from geohash_dotnet_spark.kernels import geohash as GK
from geohash_dotnet_spark.kernels import haversine_m as k_haversine
from geohash_dotnet_spark.kernels.hilbert import xy2d
from geohash_dotnet_spark.operators.layout import hilbert_select_sql, with_hilbert
from geohash_dotnet_spark.operators.spatial_join import spatial_join, tag_pages
from geohash_dotnet_spark.sources.pages import pages

GOLDENS = [(0.0, 0.0), (40.7128, -74.0060), (89.99999999, 0.0),
           (0.0, 179.99999999), (40.390943, -75.9375), (-33.8688, 151.2093),
           (90.0, 180.0), (-90.0, -180.0)]


@pytest.fixture(scope="module")
def points_df(spark):
    rng = np.random.default_rng(11)
    lat = np.concatenate([[g[0] for g in GOLDENS], rng.uniform(-91, 91, 5000)])
    lon = np.concatenate([[g[1] for g in GOLDENS], rng.uniform(-540, 540, 5000)])
    df = spark.createDataFrame(
        [(float(a), float(b)) for a, b in zip(lat, lon)], "lat double, lon double")
    return df, lat, lon


@pytest.mark.parametrize("p", range(1, 13))
def test_native_encode_equals_kernel(spark, points_df, p):
    df, lat, lon = points_df
    got = np.array([r.gh for r in with_geohash(df, "lat", "lon", p).collect()])
    want = GK.encode(lat, lon, p)
    assert (got == want).all()


@pytest.mark.parametrize("p", [0, 13, -1])
def test_encode_rejects_out_of_range_precision(spark, points_df, p):
    # raised when the DataFrame is built, with the kernel's message
    df, _, _ = points_df
    msg = f"Precision must be between 1 and 12, got {p}."
    with pytest.raises(ValueError, match=msg):
        GK.encode([0.0], [0.0], p)
    with pytest.raises(ValueError, match=msg):
        with_geohash(df, "lat", "lon", p)
    with pytest.raises(ValueError, match=msg):
        tag_pages(df, p)
    cov = spark.createDataFrame([("s",)], "cell string")
    with pytest.raises(ValueError, match=msg):
        spatial_join(df, cov, precision=p)


@pytest.mark.parametrize("out", ["gh", "lat", "z"])
def test_encode_replaces_existing_out_in_place(spark, points_df, out):
    """An existing ``out`` column keeps its position (``withColumn``
    semantics) and no ``__gh_*`` temporary leaks into the schema."""
    df, lat, lon = points_df
    wide = df.select(F.lit("old").alias("gh"), "lat",
                     F.lit(1).alias("z"), "lon")
    got = with_geohash(wide, "lat", "lon", 5, out=out)
    # nullable: a NULL coordinate gives a NULL cell
    want = wide.withColumn(out, F.lit(None).cast("string"))
    assert got.columns == want.columns
    assert got.schema == want.schema
    cells = np.array([r[out] for r in got.collect()])
    assert (cells == GK.encode(lat, lon, 5)).all()


def test_pages_rejects_replicate_below_one(spark, sf_small):
    for bad in (0, -3):
        with pytest.raises(ValueError, match="replicate must be at least 1"):
            pages(spark, sf_small, replicate=bad)


def test_native_encode_is_udf_free(spark, points_df):
    df, _, _ = points_df
    plan = with_geohash(df, "lat", "lon", 5)._jdf.queryExecution() \
        .executedPlan().toString()
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_pages_column_pruning_excludes_html(spark, sf_small):
    pg = pages(spark, sf_small, with_html=True)
    slim = with_geohash(pg, "lat", "lon", 5).select("url", "gh")
    plan = slim._jdf.queryExecution().optimizedPlan().toString()
    assert "html" not in plan  # never materialized in the spatial path


def test_duckdb_twin_identical(spark, sf_med):
    con = duckdb.connect()
    con.sql(f"CREATE VIEW documents AS SELECT * "
            f"FROM read_parquet('{sf_med}/documents.parquet')")
    for p in (5, 12):
        s = (with_geohash(pages(spark, sf_med, replicate=2), "lat", "lon", p)
             .select("url", "lat", "lon", "gh").toPandas()
             .sort_values("url").reset_index(drop=True))
        d = con.sql(f"SELECT url, lat, lon, gh FROM ({pages_tagged_sql(p, 2)}) "
                    f"ORDER BY url").df()
        assert (s.gh.values == d.gh.values).all()
        assert (s.lat.values == d.lat.values).all()   # bit-identical
        assert (s.lon.values == d.lon.values).all()


def _duckdb_cells(pdf, p):
    con = duckdb.connect()
    con.register("pts", pdf)
    return con.sql(f"SELECT gh FROM ({tagged_select_sql('SELECT * FROM pts', p)}) "
                   f"ORDER BY i").df().gh.values


def _duckdb_hilbert(pdf, order):
    con = duckdb.connect()
    con.register("pts", pdf)
    return list(con.sql(f"SELECT hd FROM ({hilbert_select_sql('SELECT * FROM pts', order)}) "
                        f"ORDER BY i").fetchnumpy()["hd"])


def _kernel_hilbert(lat, lon, order):
    n = 1 << order
    return xy2d(order, GK._grid_index(GK.normalize_longitude(lon), -180.0, 360.0 / n, n),
                GK._grid_index(GK.clamp_latitude(lat), -90.0, 180.0 / n, n))


def test_encode_edge_longitudes_agree_in_three_engines(spark):
    """Every longitude and latitude cell edge at p1, and a sample at p5
    and p12, each with its two ulp neighbours (so the p1 edges give -180
    and 180, and ±90 with one ulp beyond each pole): the kernel, Spark
    and DuckDB all wrap in C# order (a remainder below zero gets 360,
    rounding included), clamp alike and pick the same cell, and the
    same Hilbert index at orders 1, 8 and 16."""
    import pandas as pd

    def with_ulps(edges):
        return np.concatenate([edges, np.nextafter(edges, -np.inf),
                               np.nextafter(edges, np.inf)])

    rng = np.random.default_rng(5)
    edges = [-180.0 + k * 45.0 for k in range(9)]
    for bits in (13, 30):
        n = 1 << bits
        edges += list(-180.0 + rng.integers(0, n + 1, 64) * (360.0 / n))
    lat_edges = [-90.0 + k * 45.0 for k in range(5)]
    for bits in (12, 30):
        n = 1 << bits
        lat_edges += list(-90.0 + rng.integers(0, n + 1, 64) * (180.0 / n))
    lon_e, lat_e = with_ulps(edges), with_ulps(lat_edges)
    lat = np.concatenate([np.resize([0.0, 10.0, -45.0], lon_e.size), lat_e])
    lon = np.concatenate([lon_e, np.resize([0.0, 10.0, -100.0], lat_e.size)])
    pdf = pd.DataFrame({"i": np.arange(lon.size), "lat": lat, "lon": lon})
    df = spark.createDataFrame(pdf)
    for p in (1, 5, 12):
        df = with_geohash(df, "lat", "lon", p, out=f"g{p}")
    for order in (1, 8, 16):
        df = with_hilbert(df, order=order, out=f"h{order}")
    rows = df.orderBy("i").collect()
    for p in (1, 5, 12):
        want = GK.encode(lat, lon, p)
        assert [r[f"g{p}"] for r in rows] == list(want)
        assert list(_duckdb_cells(pdf, p)) == list(want)
    for order in (1, 8, 16):
        want = list(_kernel_hilbert(lat, lon, order))
        assert [r[f"h{order}"] for r in rows] == want, order
        assert _duckdb_hilbert(pdf, order) == want, order


def test_duckdb_twin_adds_only_the_cell_column():
    """Like ``with_geohash``, the DuckDB twin adds ``out`` and no
    encode temporary, whatever ``keep`` is."""
    inner = "SELECT 1.0 AS lat, 2.0 AS lon, 7 AS id"
    want = GK.encode([1.0], [2.0], 3)[0]
    for keep, cols in (("*", ["lat", "lon", "id", "gh"]), ("id", ["id", "gh"])):
        rel = duckdb.sql(tagged_select_sql(inner, 3, keep=keep))
        assert rel.columns == cols
        assert rel.fetchall() == [(1.0, 2.0, 7, want)[-len(cols):]]


def test_encode_null_gives_null_cell_and_nan_raises(spark):
    """A NULL coordinate has no cell in either SQL engine (greatest/least
    would skip it and tag a real cell); NaN raises the kernel's error."""
    import pandas as pd

    rows = [(0, None, None), (1, 10.0, None), (2, None, 10.0), (3, 10.0, 10.0)]
    df = spark.createDataFrame(rows, "i long, lat double, lon double")
    pdf = pd.DataFrame(rows, columns=["i", "lat", "lon"])
    want = [None, None, None, GK.encode([10.0], [10.0], 5)[0]]
    got = with_geohash(df, "lat", "lon", 5).orderBy("i").collect()
    assert [r.gh for r in got] == want
    assert [None if g is None else g for g in _duckdb_cells(pdf, 5)] == want
    msg = "Coordinates must not be NaN."
    with pytest.raises(ValueError, match=msg):
        GK.encode([float("nan")], [10.0], 5)
    for nan in ((float("nan"), 10.0), (10.0, float("nan"))):
        bad = spark.createDataFrame([nan], "lat double, lon double")
        with pytest.raises(Exception, match=msg):
            with_geohash(bad, "lat", "lon", 5).collect()
        # a pandas NaN reaches DuckDB as NULL, so the NaN is a SQL literal
        sql = tagged_select_sql(f"SELECT '{nan[0]}'::DOUBLE AS lat, "
                                f"'{nan[1]}'::DOUBLE AS lon", 5)
        with pytest.raises(duckdb.Error, match=msg):
            duckdb.sql(sql).fetchall()


def test_hilbert_null_gives_null_and_nan_raises(spark):
    """The encode's rule for the Hilbert index in both SQL engines: a
    NULL coordinate has no index, NaN raises the kernel's error."""
    import pandas as pd

    rows = [(0, None, None), (1, 10.0, None), (2, None, 10.0), (3, 10.0, 10.0)]
    df = spark.createDataFrame(rows, "i long, lat double, lon double")
    pdf = pd.DataFrame(rows, columns=["i", "lat", "lon"])
    for order in (1, 16):
        want = [None] * 3 + list(_kernel_hilbert(np.array([10.0]), np.array([10.0]), order))
        got = with_hilbert(df, order=order).orderBy("i").collect()
        assert [r.hd for r in got] == want
        duck = duckdb.connect()
        duck.register("pts", pdf)
        got = duck.sql(f"SELECT hd FROM ({hilbert_select_sql('SELECT * FROM pts', order)}) "
                       f"ORDER BY i").fetchall()
        assert [r[0] for r in got] == want
    msg = "Coordinates must not be NaN."
    for nan in ((float("nan"), 10.0), (10.0, float("nan"))):
        bad = spark.createDataFrame([nan], "lat double, lon double")
        with pytest.raises(Exception, match=msg):
            with_hilbert(bad, order=8).collect()
        sql = hilbert_select_sql(f"SELECT '{nan[0]}'::DOUBLE AS lat, "
                                 f"'{nan[1]}'::DOUBLE AS lon", 8)
        with pytest.raises(duckdb.Error, match=msg):
            duckdb.sql(sql).fetchall()


def test_udf_decode_bbox_neighbors(spark):
    gh = ["dr5reg", "s00000", "zzzzzz", "0", "u4png7x"]
    df = spark.createDataFrame([(g,) for g in gh], "gh string")
    out = df.select(
        "gh", gh_decode(F.col("gh")).alias("c"),
        gh_bbox(F.col("gh")).alias("b"),
        gh_neighbors(F.col("gh")).alias("nb"),
        F.when(F.length("gh") > 1, gh_parent(F.col("gh"))).alias("parent"),
        gh_is_valid(F.col("gh")).alias("ok"),
    ).collect()
    k_lat, k_lon = GK.decode(gh)
    for i, r in enumerate(out):
        assert r["c"]["lat"] == k_lat[i] and r["c"]["lon"] == k_lon[i]
        assert r["ok"] is True
        want_nb = [GK.neighbor([gh[i]], d)[0] for d in GK.DIRECTIONS]
        assert r["nb"] == want_nb
        if len(gh[i]) > 1:
            assert r["parent"] == gh[i][:-1]


def test_gh_neighbor_rejects_unknown_direction_at_call_time(spark):
    # raised when the Column is built, before any job (or executor) runs
    with pytest.raises(ValueError, match="Unknown direction 'up'"):
        gh_neighbor(F.col("gh"), "up")
    with pytest.raises(ValueError, match="Unknown direction 'up'"):
        GK.neighbor(["dr5"], "up")


def test_gh_children_native(spark):
    df = spark.createDataFrame([("s000",)], "gh string")
    got = df.select(gh_children(F.col("gh")).alias("ch")).collect()[0]["ch"]
    assert got == GK.children("s000")


def test_haversine_native_matches_kernel(spark):
    """One haversine text, run by Spark and by DuckDB, against the NumPy
    kernel (the engines' trig may differ in the last ulps)."""
    import pandas as pd

    rng = np.random.default_rng(5)
    rows = [(float(a), float(b), float(c), float(d))
            for a, b, c, d in zip(rng.uniform(-90, 90, 500), rng.uniform(-180, 180, 500),
                                  rng.uniform(-90, 90, 500), rng.uniform(-180, 180, 500))]
    df = spark.createDataFrame(rows, "lat1 double, lon1 double, lat2 double, lon2 double")
    got = np.array([r.d for r in df.select(
        haversine_m("lat1", "lon1", "lat2", "lon2").alias("d")).collect()])
    want = k_haversine(*(np.array(c) for c in zip(*rows)))
    assert np.allclose(got, want, rtol=1e-12, atol=1e-6)
    con = duckdb.connect()
    con.register("pts", pd.DataFrame(rows, columns=["lat1", "lon1", "lat2", "lon2"]))
    duck = con.sql(f"SELECT {haversine_sql('lat1', 'lon1', 'lat2', 'lon2', DUCKDB)} "
                   f"FROM pts").fetchnumpy()
    assert np.allclose(next(iter(duck.values())), want, rtol=1e-12, atol=1e-6)
