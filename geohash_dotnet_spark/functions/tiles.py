"""Web-Mercator XYZ tiles + Bing-style quadkeys — a second cell-index
scheme next to geohash (the north rule asks for "H3/S2-style cell
indexes"; XYZ/quadkey is the slippy-map standard: z/x/y integer tiles,
quadkey = the z-digit base-4 string whose digit i interleaves bit i of x
and y, so parent/child containment is string-prefix containment, exactly
like geohash but on the Web-Mercator projection).

Two tile-row (y) implementations, same tiling:

* ``tile_y_portable`` — counts how many of the 2^z - 1 internal tile
  boundary latitudes (precomputed once, driver-side, as exact double
  literals) lie at or above the point. Pure comparisons, rendered as
  one text for Spark and DuckDB (``tile_y_portable_sql``), so DuckDB
  replays it bit-for-bit — ``ln`` differs by ≤1 ulp between Java and
  libm, which could flip a ``floor`` at a tile edge; a literal-table
  comparison cannot. Every tiling operator uses it. The literal table,
  and the comparisons per row, are O(2^z), so zooms above ``MAX_ZOOM``
  are rejected.
* ``tile_y`` — closed-form Mercator ``ln(tan/…)``, the reference
  ``tile_y_portable`` is asserted equal to in pytest (documented 1-ulp
  edge caveat).

x is exact in both engines unconditionally: ``floor((lon+180)/360·2^z)``
is +, /, · and floor — IEEE-defined, identical everywhere.

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
from .native import DUCKDB, SPARK, Dialect, _text_column

MAX_MERCATOR_LAT = math.degrees(math.atan(math.sinh(math.pi)))  # 85.0511...
# tile_y_portable compares 2^z - 1 literals per row in an interpreted
# lambda. On 10k cached pages (4-core VM) building the x and y columns
# took 0.4 s at z=12, 1.7 s at z=14 and 5.5 s at z=16, running them
# 0.8, 1.9 and 6 s
MAX_ZOOM = 12


def check_zoom(z: int, least: int = 0) -> None:
    """Raise ValueError unless ``least <= z <= MAX_ZOOM``."""
    if not (least <= z <= MAX_ZOOM):
        raise ValueError(
            f"zoom must be in [{least}, {MAX_ZOOM}], got {z}: tile_y_portable "
            f"compares 2^z - 1 boundary latitudes per row; for finer cells use "
            f"the geohash encode (functions.native.with_geohash)")


@lru_cache(maxsize=None)
def tile_lat_bounds(z: int) -> tuple[float, ...]:
    """The 2^z + 1 tile-row boundary latitudes at zoom z, descending
    (index y = north edge of tile row y)."""
    n = 1 << z
    return tuple(
        math.degrees(math.atan(math.sinh(math.pi * (1 - 2 * k / n))))
        for k in range(n + 1))


def _tile_sql(coord: str, value: str, d: Dialect) -> str:
    """``value`` under the encode's rule: a NULL ``coord`` has no tile and
    a NaN raises (``greatest``/``least`` would skip a NULL)."""
    return (f"CASE WHEN isnan({coord}) THEN {d.error}('{NAN_ERROR}') "
            f"WHEN {coord} IS NOT NULL THEN {value} END")


def tile_x_sql(lon: str, z: int, d: Dialect = DUCKDB) -> str:
    """Tile column from the longitude expression ``lon`` in dialect ``d``
    — exact linear math, engine-portable."""
    n, lon = 1 << z, f"({lon})"
    raw = f"floor(({lon} + {d.double(180.0)}) / {d.double(360.0)} * {d.double(n)})"
    return _tile_sql(lon, f"CAST(greatest(0, least({n - 1}, {raw})) AS BIGINT)", d)


def tile_y_portable_sql(lat: str, z: int, d: Dialect = DUCKDB) -> str:
    """Tile row of the latitude expression ``lat`` in dialect ``d``, by
    counting the internal boundary latitudes at or above the point —
    exact cross-engine (pure double comparisons against shared literals)."""
    bounds, lat = ", ".join(map(d.double, tile_lat_bounds(z)[1:-1])), f"({lat})"
    return _tile_sql(lat, f"CAST({d.count_ge(bounds, lat)} AS BIGINT)", d)


def tile_x(lon: Column, z: int) -> Column:
    """``tile_x_sql`` as a Spark column."""
    return _text_column(lambda c: tile_x_sql(c, z, SPARK), lon)


def tile_y_portable(lat: Column, z: int) -> Column:
    """``tile_y_portable_sql`` as a Spark column."""
    return _text_column(lambda c: tile_y_portable_sql(c, z, SPARK), lat)


def tile_y(lat: Column, z: int) -> Column:
    """Tile row via the closed-form Mercator projection (the reference
    for tile_y_portable; ln carries a ≤1-ulp cross-engine edge caveat —
    see module doc)."""
    n = 1 << z
    # clamp to the Mercator domain first: |lat| -> 90 makes (1 - sin)
    # a zero divisor (ANSI divide-by-zero); the poles live in the edge
    # tile rows anyway
    lat = F.greatest(F.lit(-MAX_MERCATOR_LAT),
                     F.least(F.lit(MAX_MERCATOR_LAT), lat))
    lat_rad = F.radians(lat)
    frac = (F.lit(1.0)
            - F.log((F.lit(1.0) + F.sin(lat_rad))
                    / (F.lit(1.0) - F.sin(lat_rad))) / F.lit(2.0 * math.pi)
            ) / F.lit(2.0)
    raw = F.floor(frac * F.lit(float(n)))
    return F.greatest(F.lit(0), F.least(F.lit(n - 1), raw)).cast("long")


def quadkey_sql(x: str, y: str, z: int, d: Dialect = DUCKDB) -> str:
    """z/x/y -> the z-character base-4 quadkey (digit = y-bit·2 + x-bit,
    most significant level first) in dialect ``d``; NULL if x or y is."""
    return " || ".join(f"CAST({d.shiftright(x, i)} % 2 + {d.shiftright(y, i)} % 2 * 2 AS STRING)"
                       for i in range(z - 1, -1, -1)) or "''"


def quadkey_to_xy(qk: Column) -> tuple[Column, Column, Column]:
    """quadkey string -> (x, y, z) columns (z = length)."""
    z = F.length(qk).cast("int")
    idx = F.sequence(F.lit(1), z)
    x = F.aggregate(
        idx, F.lit(0).cast("long"),
        lambda acc, i: (acc * 2 + (F.ascii(F.substr(qk, i, F.lit(1))) - 48)
                        .bitwiseAND(F.lit(1)).cast("long")).cast("long"))
    y = F.aggregate(
        idx, F.lit(0).cast("long"),
        lambda acc, i: (acc * 2
                        + F.shiftright(F.ascii(F.substr(qk, i, F.lit(1)))
                                       - 48, 1)
                        .bitwiseAND(F.lit(1)).cast("long")).cast("long"))
    return x, y, z.cast("long")


def tile_bounds(x: Column, y: Column, z: int) -> Column:
    """struct(w, s, e, n) degree bbox of tile (x, y) at zoom z; the
    north/south edges come from the same literal boundary table the
    portable encoder uses, so bbox and assignment agree exactly."""
    n_tiles = 1 << z
    lats = F.array(*[F.lit(b) for b in tile_lat_bounds(z)])
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
