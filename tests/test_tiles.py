"""Web-Mercator XYZ tiles / quadkeys (functions/tiles.py).

Checks: the tile row equals the NumPy count of boundary latitudes at
or above the point on real corpus points, a deliberately adversarial
latitude grid and every tile edge +-1 ulp, and the column is the exact
floor there; quadkey encode/decode roundtrip; bbox containment agrees
with assignment; DuckDB twins are bit-identical; prefix containment (the
geohash-like property the scheme is chosen for).
"""

import duckdb
import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from geohash_dotnet_spark.functions import tiles as T
from geohash_dotnet_spark.sources.pages import pages


@pytest.fixture(scope="module")
def pts(spark, sf_small):
    return pages(spark, sf_small, replicate=2) \
        .select("doc_id", "rep", "lat", "lon")


def _boundary_count(lat, z):
    """How many internal boundary latitudes lie at or above each ``lat``."""
    bounds = np.array(T.tile_lat_bounds(z)[1:-1])
    return (bounds[None, :] >= np.asarray(lat)[:, None]).sum(axis=1).tolist()


def _edge_points(z):
    """Every tile row and column edge at zoom z with its two ulp
    neighbours, as (lat, lon) columns of one frame."""
    def with_ulps(edges):
        return np.concatenate([edges, np.nextafter(edges, -np.inf),
                               np.nextafter(edges, np.inf)])

    n = 1 << z
    lat = with_ulps(np.array(T.tile_lat_bounds(z)))
    lon = np.resize(with_ulps(-180.0 + np.arange(n + 1) * (360.0 / n)), lat.size)
    return pd.DataFrame({"i": np.arange(lat.size), "lat": lat, "lon": lon})


def test_tile_row_equals_boundary_count_on_corpus(pts):
    for z in (4, 6, 8):
        got = T.with_tiles(pts, z=z).select("lat", "y").toPandas()
        assert got.y.tolist() == _boundary_count(got.lat, z), f"z={z}"


def test_tile_row_equals_boundary_count_on_edge_grid(spark):
    lat = [-89.9 + i * 0.179 for i in range(1005)]
    lat += [0.0, 90.0, -90.0, T.MAX_MERCATOR_LAT, -T.MAX_MERCATOR_LAT]
    df = spark.createDataFrame([(i, a) for i, a in enumerate(lat)], "id long, lat double")
    got = df.select("id", T.tile_y_portable(F.col("lat"), 7).alias("y")).orderBy("id")
    assert [r.y for r in got.collect()] == _boundary_count(lat, 7)


def test_quadkey_roundtrip(pts):
    t = T.with_tiles(pts, z=8)
    x, y, z = T.quadkey_to_xy(F.col("quadkey"))
    bad = t.filter((x != F.col("x")) | (y != F.col("y"))
                   | (z != F.lit(8))).count()
    assert bad == 0


def test_quadkey_to_xy_on_literals(spark):
    """The empty quadkey is tile (0, 0, 0); an expression (not a column
    reference) reads the same as a column."""
    df = spark.createDataFrame([("",), ("3",), ("0123",), ("21",)], "qk string")
    for qk in (F.col("qk"), F.concat(F.col("qk"), F.lit(""))):
        got = df.select(*T.quadkey_to_xy(qk)).collect()
        assert [tuple(r) for r in got] == [(0, 0, 0), (1, 1, 1), (5, 3, 4), (1, 2, 2)]


def test_bbox_contains_assigned_point(spark, pts):
    for z in (6, 12):
        edges = spark.createDataFrame(_edge_points(z)).select("lat", "lon")
        t = T.with_tiles(pts.select("lat", "lon").unionByName(edges), z=z).withColumn(
            "bb", T.tile_bounds(F.col("x"), F.col("y"), z))
        # tie rule: a boundary latitude belongs to the tile whose NORTH
        # edge it is -> tile y owns (south, north]; the top row
        # additionally owns lat > 85.05 and the bottom row lat < -85.05
        # (Mercator clamp). Column x owns [w, e); the first column
        # additionally owns lon < -180 and the last lon >= 180 (clamp)
        n_tiles = 1 << z
        viol = t.filter(~(
            ((F.col("lon") >= F.col("bb.w")) | (F.col("x") == 0))
            & ((F.col("lon") < F.col("bb.e")) | (F.col("x") == n_tiles - 1))
            & ((F.col("lat") <= F.col("bb.n")) | (F.col("y") == 0))
            & ((F.col("lat") > F.col("bb.s")) | (F.col("y") == n_tiles - 1))
        )).count()
        assert viol == 0, z


def test_prefix_containment(pts):
    # parent tile at z-1 = quadkey prefix of the z tile
    z = 8
    qk8 = T.with_tiles(pts, z=z).select("lat", "lon", F.col("quadkey").alias("qk8"))
    t = T.with_tiles(qk8, z=z - 1)
    bad = t.filter(F.substring("qk8", 1, z - 1) != F.col("quadkey")).count()
    assert bad == 0


def test_duckdb_twins_bit_identical(pts):
    z = 6
    pdf = T.with_tiles(pts, z=z).select(
        "doc_id", "rep", "lat", "lon", "x", "y", "quadkey") \
        .orderBy("doc_id", "rep").toPandas()
    con = duckdb.connect()
    con.register("p", pdf[["doc_id", "rep", "lat", "lon"]])
    q = (f"SELECT {T.tile_x_sql('lon', z)} AS x, "
         f"{T.tile_y_portable_sql('lat', z)} AS y, "
         f"{T.quadkey_sql(T.tile_x_sql('lon', z), T.tile_y_portable_sql('lat', z), z)}"
         f" AS quadkey FROM p ORDER BY doc_id, rep")
    d = con.sql(q).df()
    assert (d.x.values == pdf.x.values).all()
    assert (d.y.values == pdf.y.values).all()
    assert (d.quadkey.values == pdf.quadkey.values).all()


def test_null_has_no_tile_and_nan_raises(spark):
    """The encode's rule for tiles in both engines: a NULL coordinate
    gives no x, y or quadkey (greatest/least would skip it and pick an
    edge tile), a NaN raises the kernel's error."""
    z = 3
    rows = [(0, None, None), (1, 10.0, None), (2, None, 10.0), (3, 10.0, 10.0)]
    x = int((10.0 + 180.0) / 360.0 * (1 << z))
    y = sum(b >= 10.0 for b in T.tile_lat_bounds(z)[1:-1])
    qk = "".join(str((x >> i & 1) + 2 * (y >> i & 1)) for i in range(z - 1, -1, -1))
    want = [(None, None, None), (None, y, None), (x, None, None), (x, y, qk)]
    df = spark.createDataFrame(rows, "i long, lat double, lon double")
    got = T.with_tiles(df, z=z).orderBy("i").collect()
    assert [(r.x, r.y, r.quadkey) for r in got] == want
    con = duckdb.connect()
    con.register("p", pd.DataFrame(rows, columns=["i", "lat", "lon"]))

    def twin(src):
        xs, ys = T.tile_x_sql("lon", z), T.tile_y_portable_sql("lat", z)
        return con.sql(f"SELECT {xs} AS x, {ys} AS y, {T.quadkey_sql(xs, ys, z)} "
                       f"FROM {src}")

    assert twin("p ORDER BY i").fetchall() == want
    msg = "Coordinates must not be NaN."
    for nan in ((float("nan"), 10.0), (10.0, float("nan"))):
        bad = spark.createDataFrame([nan], "lat double, lon double")
        with pytest.raises(Exception, match=msg):
            T.with_tiles(bad, z=z).collect()
        with pytest.raises(duckdb.Error, match=msg):
            twin(f"(SELECT '{nan[0]}'::DOUBLE AS lat, '{nan[1]}'::DOUBLE AS lon)").fetchall()


def test_tile_edges_agree_in_both_engines(spark):
    """Every tile edge at z=1, 6, 8 and 12 with its two ulp neighbours:
    Spark and DuckDB give the row that exact comparisons against the
    boundary table give, and the column whose exact edges hold the
    point."""
    for z in (1, 6, 8, 12):
        n = 1 << z
        pdf = _edge_points(z)
        west = -180.0 + np.arange(1, n) * (360.0 / n)
        x = (west[None, :] <= pdf.lon.values[:, None]).sum(axis=1).tolist()
        want = list(zip(x, _boundary_count(pdf.lat, z)))
        got = (spark.createDataFrame(pdf)
               .select("i", T.tile_x(F.col("lon"), z).alias("x"),
                       T.tile_y_portable(F.col("lat"), z).alias("y"))
               .orderBy("i").collect())
        assert [(r.x, r.y) for r in got] == want, z
        con = duckdb.connect()
        con.register("p", pdf)
        assert con.sql(f"SELECT {T.tile_x_sql('lon', z)}, {T.tile_y_portable_sql('lat', z)} "
                       f"FROM p ORDER BY i").fetchall() == want, z


@pytest.mark.parametrize("z", [-1, T.MAX_ZOOM + 1, 64])
def test_zoom_out_of_range_rejected(spark, z):
    from geohash_dotnet_spark.operators import tile_density_clusters

    df = spark.createDataFrame([(1.0, 2.0)], "lat double, lon double")
    for build in (lambda: T.with_tiles(df, z=z),
                  lambda: tile_density_clusters(df, z=z)):
        with pytest.raises(ValueError, match=f"zoom must be in .*, got {z}"):
            build()


def test_tile_bounds_table_properties():
    b = T.tile_lat_bounds(6)
    assert len(b) == 65
    assert b[0] == pytest.approx(T.MAX_MERCATOR_LAT)
    assert b[-1] == pytest.approx(-T.MAX_MERCATOR_LAT)
    assert b[32] == 0.0  # equator is an exact boundary at even zooms
    assert all(a > bb for a, bb in zip(b, b[1:]))  # strictly descending
