"""Web-Mercator XYZ tiles + Bing-style quadkeys — a second cell-index
scheme next to geohash (the north rule asks for "H3/S2-style cell
indexes"; XYZ/quadkey is the slippy-map standard: z/x/y integer tiles,
quadkey = the z-digit base-4 string whose digit i interleaves bit i of x
and y, so parent/child containment is string-prefix containment, exactly
like geohash but on the Web-Mercator projection).

Both tile indices follow the geohash encode's discipline
(``native._grid_index_sql``): an estimate, then one exact fix-up.

* x is the encode's grid index on 2^z columns of 360/2^z degrees from
  -180: a floor-division estimate checked against the exact dyadic
  column edges, so x is the column whose ``tile_bounds`` hold the point.
* y counts the internal tile-row boundary latitudes (precomputed once,
  driver-side, as exact double literals) that lie at or above the
  point. The closed-form Mercator projection estimates the row edge
  nearest the point; comparing the point with that one table entry
  turns the estimate into the count exactly. ``ln`` and ``tan`` differ
  by an ulp between Java and libm, which could flip a ``floor`` at a
  tile edge; a comparison against shared literals cannot, so DuckDB
  replays Spark's text bit for bit.

Tie rule: a point exactly on an internal boundary latitude belongs to
the tile BELOW it (count uses ``>=``), matching the canonical slippy
``floor`` at exactly-representable boundaries (e.g. lat=0).

A NULL coordinate has no tile and a NaN raises the encode's error, in
both engines, as in the geohash encode.
"""

from __future__ import annotations

import math
from functools import lru_cache

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..kernels.geohash import NAN_ERROR
from .native import DUCKDB, SPARK, Dialect, _grid_index_sql, _text_column, deinterleave_sql

MAX_MERCATOR_LAT = math.degrees(math.atan(math.sinh(math.pi)))  # 85.0511...
# the tile-row text holds the boundary table, 2^z + 1 literals, and the
# JVM parses it on every build: on 10k cached points (4-core VM) building
# the x and y columns took 0.25 s at z=12, 0.6 s at z=14 and 2.3 s at
# z=16, running them 0.15, 0.23 and 0.48 s
MAX_ZOOM = 12


def check_zoom(z: int, least: int = 0) -> None:
    """Raise ValueError unless ``least <= z <= MAX_ZOOM``."""
    if not (least <= z <= MAX_ZOOM):
        raise ValueError(
            f"zoom must be in [{least}, {MAX_ZOOM}], got {z}: the tile-row "
            f"text holds a table of the 2^z + 1 boundary latitudes; for finer "
            f"cells use the geohash encode (functions.native.with_geohash)")


@lru_cache(maxsize=None)
def tile_lat_bounds(z: int) -> tuple[float, ...]:
    """The 2^z + 1 tile-row boundary latitudes at zoom z, descending
    (index y = north edge of tile row y)."""
    n = 1 << z
    return tuple(
        math.degrees(math.atan(math.sinh(math.pi * (1 - 2 * k / n))))
        for k in range(n + 1))


@lru_cache(maxsize=None)
def _lat_table_sql(z: int, d: Dialect) -> str:
    """``tile_lat_bounds(z)`` as DOUBLE literals in dialect ``d``."""
    return ", ".join(map(d.double, tile_lat_bounds(z)))


def _tile_sql(coord: str, value: str, d: Dialect) -> str:
    """``value`` under the encode's rule: a NULL ``coord`` has no tile and
    a NaN raises (``greatest``/``least`` would skip a NULL)."""
    return (f"CASE WHEN isnan({coord}) THEN {d.error}('{NAN_ERROR}') "
            f"WHEN {coord} IS NOT NULL THEN {value} END")


def tile_x_sql(lon: str, z: int, d: Dialect = DUCKDB) -> str:
    """Tile column of the longitude expression ``lon`` in dialect ``d``:
    the encode's exact grid index."""
    lon = f"({lon})"
    return _tile_sql(lon, _grid_index_sql(lon, -180.0, 360.0, z, d), d)


def tile_y_portable_sql(lat: str, z: int, d: Dialect = DUCKDB) -> str:
    """Tile row of the latitude expression ``lat`` in dialect ``d``: the
    number of internal boundary latitudes at or above the point.

    The estimate ``k`` is the row edge nearest the point by the closed-form
    Mercator projection (of the latitude clamped to the Mercator domain),
    clamped to a row. An error under half a row leaves ``k`` the point's
    row or the one below it; with ``B`` the whole table (its ends are the
    domain's edges), the point is in row ``k`` if ``B[k]`` is at or above
    it and in row ``k - 1`` if not."""
    n, lat, m = 1 << z, f"({lat})", d.double(MAX_MERCATOR_LAT)
    merc = (f"ln(tan(radians(greatest(least({lat}, {m}), -{m})) * {d.double(0.5)} + "
            f"{d.double(math.pi / 4)}))")
    k = (f"least(greatest(CAST(floor({d.double(n / 2 + 0.5)} - {merc} * "
         f"{d.double(n / (2 * math.pi))}) AS BIGINT), 0), {n - 1})")
    below = f"CASE WHEN {d.item(_lat_table_sql(z, d), k)} < {lat} THEN 1 ELSE 0 END"
    return _tile_sql(lat, f"greatest({k} - {below}, 0)", d)


def tile_x(lon: Column, z: int) -> Column:
    """``tile_x_sql`` as a Spark column."""
    return _text_column(lambda c: tile_x_sql(c, z, SPARK), lon)


def tile_y_portable(lat: Column, z: int) -> Column:
    """``tile_y_portable_sql`` as a Spark column."""
    return _text_column(lambda c: tile_y_portable_sql(c, z, SPARK), lat)


def quadkey_sql(x: str, y: str, z: int, d: Dialect = DUCKDB) -> str:
    """z/x/y -> the z-character base-4 quadkey (digit = y-bit·2 + x-bit,
    most significant level first) in dialect ``d``; NULL if x or y is."""
    return " || ".join(f"CAST({d.shiftright(x, i)} % 2 + {d.shiftright(y, i)} % 2 * 2 AS STRING)"
                       for i in range(z - 1, -1, -1)) or "''"


def quadkey_to_xy(qk: Column) -> tuple[Column, Column, Column]:
    """quadkey string -> (x, y, z) columns (z = length): the low and the
    high bits of its base-4 digits. A leading 0 digit makes the empty
    quadkey tile (0, 0, 0); ``conv`` reads '' as NULL."""
    def bits(c: str) -> tuple[str, str]:
        return deinterleave_sql(f"concat('0', {c})")

    return (_text_column(lambda c: bits(c)[0], qk), _text_column(lambda c: bits(c)[1], qk),
            F.length(qk).cast("long"))


def tile_bounds(x: Column, y: Column, z: int) -> Column:
    """struct(w, s, e, n) degree bbox of tile (x, y) at zoom z; the
    north/south edges come from the boundary table the tile row is
    fixed up against, so bbox and assignment agree exactly."""
    n_tiles = 1 << z
    lats = F.expr(f"array({_lat_table_sql(z, SPARK)})")
    w = x.cast("double") / F.lit(float(n_tiles)) * F.lit(360.0) - F.lit(180.0)
    e = (x + 1).cast("double") / F.lit(float(n_tiles)) * F.lit(360.0) \
        - F.lit(180.0)
    north = F.element_at(lats, (y + 1).cast("int"))
    south = F.element_at(lats, (y + 2).cast("int"))
    return F.struct(w.alias("w"), south.alias("s"), e.alias("e"),
                    north.alias("n"))


def with_tiles(df: DataFrame, lat: str = "lat", lon: str = "lon",
               z: int = 8) -> DataFrame:
    """Add z, x, y, quadkey columns for each point row (x, y and quadkey
    are NULL where a coordinate is)."""
    check_zoom(z)
    out = (df.withColumn("z", F.lit(z).cast("long"))
           .withColumn("x", tile_x(F.col(lon), z))
           .withColumn("y", tile_y_portable(F.col(lat), z)))
    return out.withColumn("quadkey", F.expr(quadkey_sql("x", "y", z, SPARK)))
