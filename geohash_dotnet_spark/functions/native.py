"""JVM-native Spark column functions (whole-stage-codegen friendly).

The hot-path geohash encode is expressed entirely in built-in Spark SQL
arithmetic — no Python/Arrow in the data plane. It implements the same
exact integer formulation as kernels/geohash.py (floor-division grid index
plus a one-round exact fix-up against dyadic cell boundaries), which is
provably identical to the reference's midpoint-halving loop
(/root/reference/src/Geohasher.cs:76-102); cross-checked against the NumPy
kernel in tests/test_functions_spark.py.

The hot-path builders (``with_geohash``, ``geocode_from_url``) are text
renderers: each stage is Spark SQL text, rendered in pure Python, memoized
on its arguments (only strings, never JVM objects) and handed to the JVM
in one call. Built one ``Column`` call at a time, the same tree cost
py4j round trips per node, over five thousand for a p12 encode, and
building a query took longer than running it. The parsed tree is the one
those calls built, so plans and codegen are unchanged. Floats are DOUBLE
literals (``repr`` + ``D``; a bare ``0.5`` is a DECIMAL in Spark SQL) and
column names are backtick-quoted. Precedence and left associativity, not
parentheses, shape the text: a new JVM parses nested parentheses slowly
(a fully parenthesized p12 grid-index stage took 0.7 s, unparenthesized
about 0.3 s, on a 4-core VM), and every cold start pays for it.

``with_geohash`` runs as *staged selects* (clamp/normalize, grid index,
base-32 ``concat``) so each intermediate is an attribute reference,
keeping the Catalyst expression tree small.
"""

from __future__ import annotations

from functools import lru_cache

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..kernels.geohash import _check_precision

BASE32 = "0123456789bcdefghjkmnpqrstuvwxyz"
_VALID_RE = "^[0-9bcdefghjkmnpqrstuvwxyzBCDEFGHJKMNPQRSTUVWXYZ]{1,12}$"

EARTH_RADIUS_M = 6_371_008.8


def sql_name(name: str) -> str:
    """A column name as a Spark SQL identifier (backticks, escaped)."""
    return "`" + name.replace("`", "``") + "`"


def sql_double(x: float) -> str:
    """A Spark SQL DOUBLE literal that round-trips ``x`` exactly; negative
    values are parenthesized so they can follow a binary minus."""
    lit = f"{float(x)!r}D"
    return f"({lit})" if x < 0 else lit


def _grid_index_sql(x: str, lo: float, step: float, n: int) -> str:
    """Exact grid index with dyadic-boundary fix-up (kernel _grid_index twin)."""
    lo, step = sql_double(lo), sql_double(step)
    i0 = f"least(greatest(CAST(floor(({x} - {lo}) / {step}) AS BIGINT), 0), {n - 1})"
    i1 = f"{i0} - CASE WHEN {x} < {lo} + {i0} * {step} THEN 1 ELSE 0 END"
    i2 = (f"{i1} + CASE WHEN {i1} < {n - 1} AND {x} >= {lo} + ({i1} + 1) * {step} "
          f"THEN 1 ELSE 0 END")
    return f"least(greatest({i2}, 0), {n - 1})"


@lru_cache(maxsize=256)
def _encode_stages(lat: str, lon: str, precision: int) -> tuple:
    """Spark SQL text of the three encode stages: (name, text) pairs of the
    ``__gh_lat``/``__gh_lon`` and ``__gh_lat_i``/``__gh_lng_i``
    temporaries, then the geohash ``concat``.

    Stream bit j (0 = MSB) of the geohash: even j -> lon bit
    (n_lng_bits-1 - j//2), odd j -> lat bit (n_lat_bits-1 - (j-1)//2) —
    lon-first interleave (src/Geohasher.cs:76-94); five bits per base-32
    character, looked up with a 1-based ``substr`` of the alphabet.
    """
    total = 5 * precision
    n_lat_bits = total // 2
    n_lng_bits = (total + 1) // 2
    # clamp latitude, wrap longitude into [-180, 180) (src/Geohasher.cs:213-219)
    normalized = (
        ("__gh_lat", f"greatest(least(CAST({sql_name(lat)} AS DOUBLE), 90.0D), "
                     f"-90.0D)"),
        ("__gh_lon", f"pmod(CAST({sql_name(lon)} AS DOUBLE) + 180.0D, 360.0D) "
                     f"- 180.0D"),
    )
    indexed = (
        ("__gh_lat_i", _grid_index_sql("`__gh_lat`", -90.0,
                                       180.0 / (1 << n_lat_bits), 1 << n_lat_bits)),
        ("__gh_lng_i", _grid_index_sql("`__gh_lon`", -180.0,
                                       360.0 / (1 << n_lng_bits), 1 << n_lng_bits)),
    )
    chars = []
    for c in range(precision):
        digit = "0"
        for k in range(5):
            j = 5 * c + k
            if j % 2 == 0:
                src, bit = "`__gh_lng_i`", n_lng_bits - 1 - j // 2
            else:
                src, bit = "`__gh_lat_i`", n_lat_bits - 1 - (j - 1) // 2
            digit += f" + (shiftright({src}, {bit}) & 1) * {1 << (4 - k)}"
        chars.append(f"substr('{BASE32}', CAST({digit} + 1 AS INT), 1)")
    return normalized, indexed, "concat(" + ", ".join(chars) + ")"


def exprs(stage) -> dict:
    """(name, Spark SQL text) pairs as the ``withColumns`` argument."""
    return {name: F.expr(text) for name, text in stage}


def with_geohash(df: DataFrame, lat: str, lon: str, precision: int,
                 out: str = "gh") -> DataFrame:
    """Add a geohash column computed fully JVM-side (staged selects).

    An existing ``out`` column is replaced in place (``withColumn``).
    """
    _check_precision(precision)
    normalized, indexed, concat = _encode_stages(lat, lon, int(precision))
    staged = df.withColumns(exprs(normalized)).withColumns(exprs(indexed))
    temporaries = [name for name, _ in normalized + indexed]
    return staged.withColumn(out, F.expr(concat)).drop(*temporaries)


def gh_parent(gh: Column) -> Column:
    """Parent cell = drop last char (src/Geohasher.cs:181-187)."""
    return gh.substr(F.lit(1), F.length(gh) - 1)


def gh_truncate(gh: Column, level: int) -> Column:
    """Ancestor at a precision level (substring prefix)."""
    return F.substring(gh, 1, level)


def gh_is_valid(gh: Column) -> Column:
    """Syntactic validity (src/Geohasher.cs:190-199) — native rlike."""
    return gh.rlike(_VALID_RE)


def gh_children(gh: Column) -> Column:
    """All 32 children in base-32 order — native concat, no UDF
    (src/Geohasher.cs:168-178)."""
    return F.array(*[F.concat(gh, F.lit(c)) for c in BASE32])


def haversine_m(lat1: Column, lng1: Column, lat2: Column, lng2: Column) -> Column:
    """Great-circle distance in meters, native trig exprs
    (src/RadiusHasher.cs:275-280) — stays inside whole-stage codegen."""
    dlat = F.radians(lat2 - lat1) / 2
    dlng = F.radians(lng2 - lng1) / 2
    a = F.sin(dlat) * F.sin(dlat) + \
        F.cos(F.radians(lat1)) * F.cos(F.radians(lat2)) * F.sin(dlng) * F.sin(dlng)
    return F.lit(2.0 * EARTH_RADIUS_M) * F.asin(F.least(F.lit(1.0), F.sqrt(a)))


@lru_cache(maxsize=256)
def geocode_sql(url: str) -> tuple[str, str]:
    """Spark SQL text of ``geocode_from_url``'s (lat, lon) for a url column."""
    def coord(first: int, span: float) -> str:
        h = (f"CAST(conv(substring(md5({sql_name(url)}), {first}, 8), 16, 10) "
             f"AS BIGINT)")
        return (f"({h} + 0.5D) / 4294967296.0D * {sql_double(span)} "
                f"- {sql_double(span / 2)}")
    return coord(1, 180.0), coord(9, 360.0)


def geocode_from_url(df: DataFrame, url: str = "url",
                     lat_out: str = "lat", lon_out: str = "lon") -> DataFrame:
    """Deterministic geocode: lat/lon from md5(url) (reproducible across
    cluster sizes; the north rule's hash-derived coordinates).

    Bit-identical to the DuckDB oracle twin in functions/oracle.py.
    """
    return df.withColumns(exprs(zip((lat_out, lon_out), geocode_sql(url))))
