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
keeping the Catalyst expression tree small. This text (and the Hilbert
and tile text) is rendered once for both engines (``Dialect``); the DuckDB
oracle nests the stages as subqueries.

The cell functions (``gh_decode``, ``gh_bbox``, ``gh_neighbor(s)``) and
``operators/compress.py`` are rendered from one packed cell key
(``cell_key_sql``: the left-aligned 60-bit lon-first interleave, the S2
``CellId`` layout without its sentinel bit): ``conv`` reads a cell as a
base-32 number, its base-4 digits de-interleave into the grid indices,
neighbours are carry arithmetic on the key, and ``cell_sql`` renders a
key back to base 32. They match kernels/geohash.py bit for bit, raise
its error messages and run no Python: a pandas UDF is one Python task
per partition, and each task pays PySpark's per-task
``importlib.invalidate_caches()`` (0.26 s a call in a worker on a 4-core
VM), more than the arithmetic costs.
"""

from __future__ import annotations

from functools import lru_cache
from typing import Callable, NamedTuple

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..kernels.geohash import (DIRECTIONS, NAN_ERROR, PARSE_ERRORS, _check_precision,
                               _offset)

BASE32 = "0123456789bcdefghjkmnpqrstuvwxyz"
# \z, not $: a Java regex $ also matches before a final line terminator
_VALID_RE = "^[0-9bcdefghjkmnpqrstuvwxyzBCDEFGHJKMNPQRSTUVWXYZ]{1,12}\\z"

EARTH_RADIUS_M = 6_371_008.8


def sql_name(name: str) -> str:
    """A column name as a Spark SQL identifier (backticks, escaped)."""
    return "`" + name.replace("`", "``") + "`"


def sql_double(x: float) -> str:
    """A Spark SQL DOUBLE literal that round-trips ``x`` exactly; negative
    values are parenthesized so they can follow a binary minus."""
    lit = f"{float(x)!r}D"
    return f"({lit})" if x < 0 else lit


class Dialect(NamedTuple):
    """The tokens Spark SQL and DuckDB spell differently in the encode,
    geocode, haversine, Hilbert and tile text; the rest of that text is
    common to both engines, so the DuckDB oracle (functions/oracle.py)
    runs Spark's text."""
    double: Callable[[float], str]        # a DOUBLE literal
    shiftright: Callable[[str, int], str]
    error: str                            # the function that raises
    hex_bigint: Callable[[str], str]      # a hex digest read as BIGINT
    item: Callable[[str, str], str]       # item i (from 0) of the items


# DuckDB reads a decimal literal as a DECIMAL, whose cast to DOUBLE can
# round twice (a value of 17 digits is past 2^53); a string cast rounds once
SPARK = Dialect(sql_double, lambda x, b: f"shiftright({x}, {b})", "raise_error",
                lambda h: f"CAST(conv({h}, 16, 10) AS BIGINT)",
                lambda items, i: f"array({items})[{i}]")
DUCKDB = Dialect(lambda x: f"CAST('{float(x)!r}' AS DOUBLE)",
                 lambda x, b: f"({x} >> {b})", "error",
                 lambda h: f"('0x' || {h})::BIGINT",
                 lambda items, i: f"[{items}][{i} + 1]")


def _normalized_sql(lat_d: str, lon_d: str, d: Dialect) -> tuple[str, str]:
    """Clamp latitude, wrap longitude in C# order (src/Geohasher.cs:213-219:
    truncating %, then + 360 only below zero); NaN raises the kernel's
    error. ``lat_d``/``lon_d`` are DOUBLE expressions."""
    nan = f"{d.error}('{NAN_ERROR}')"
    r = f"({lon_d} + {d.double(180.0)}) % {d.double(360.0)}"
    return (f"CASE WHEN isnan({lat_d}) THEN {nan} ELSE greatest(least({lat_d}, "
            f"{d.double(90.0)}), -{d.double(90.0)}) END",
            f"CASE WHEN isnan({lon_d}) THEN {nan} "
            f"WHEN {r} < {d.double(0.0)} THEN {r} + {d.double(360.0)} - "
            f"{d.double(180.0)} ELSE {r} - {d.double(180.0)} END")


def _grid_index_sql(x: str, lo: float, span: float, bits: int, d: Dialect) -> str:
    """Exact index of ``x`` on a grid of 2^bits steps over ``span`` from
    ``lo``, with dyadic-boundary fix-up (kernel _grid_index twin)."""
    n = 1 << bits
    lo, step = d.double(lo), d.double(span / n)
    i0 = f"least(greatest(CAST(floor(({x} - {lo}) / {step}) AS BIGINT), 0), {n - 1})"
    i1 = f"{i0} - CASE WHEN {x} < {lo} + {i0} * {step} THEN 1 ELSE 0 END"
    i2 = (f"{i1} + CASE WHEN {i1} < {n - 1} AND {x} >= {lo} + ({i1} + 1) * {step} "
          f"THEN 1 ELSE 0 END")
    return f"least(greatest({i2}, 0), {n - 1})"


def _stream_bits(precision: int) -> list[tuple[bool, int]]:
    """(is_lon, bit) of each geohash stream bit j (0 = MSB): even j -> lon
    bit n_lng_bits-1 - j//2, odd j -> lat bit n_lat_bits-1 - j//2 —
    lon-first interleave (src/Geohasher.cs:76-94)."""
    total = 5 * precision
    n_bits = {True: (total + 1) // 2, False: total // 2}  # lon gets an odd bit
    return [(j % 2 == 0, n_bits[j % 2 == 0] - 1 - j // 2) for j in range(total)]


def _grid_sql(lat: str, lon: str, lat_bits: int, lng_bits: int, d: Dialect,
              ref: Callable[[str], str]) -> tuple:
    """The encode's first two stages in dialect ``d``, (name, text) pairs:
    the clamped and wrapped ``__gh_lat``/``__gh_lon``, their grid indices
    ``__gh_lat_i``/``__gh_lng_i`` on 2^lat_bits x 2^lng_bits cells; then
    the NULL guard on the inputs. ``ref`` renders a column reference."""
    lat_d, lon_d = (f"CAST({ref(c)} AS DOUBLE)" for c in (lat, lon))
    normalized = tuple(zip(("__gh_lat", "__gh_lon"), _normalized_sql(lat_d, lon_d, d)))
    indexed = (
        ("__gh_lat_i", _grid_index_sql(ref("__gh_lat"), -90.0, 180.0, lat_bits, d)),
        ("__gh_lng_i", _grid_index_sql(ref("__gh_lon"), -180.0, 360.0, lng_bits, d)),
    )
    # a NULL coordinate has no value. The guard sits on the inputs, not on
    # the indices (least/greatest would skip a NULL): a filter or join
    # on the value then pushes down as this condition alone, while a
    # nullable index would inline every stage into the pushed filter
    return normalized, indexed, f"{lat_d} IS NOT NULL AND {lon_d} IS NOT NULL"


def _encode_sql(lat: str, lon: str, precision: int, d: Dialect,
                ref: Callable[[str], str]) -> tuple:
    """The three encode stages in dialect ``d``: ``_grid_sql``'s two,
    then the cell: five stream bits a character, a 1-based ``substr`` of
    the alphabet."""
    normalized, indexed, guard = _grid_sql(lat, lon, 5 * precision // 2,
                                           (5 * precision + 1) // 2, d, ref)
    terms = [f" + ({d.shiftright(ref('__gh_lng_i' if is_lon else '__gh_lat_i'), bit)}"
             f" & 1) * {16 >> j % 5}"
             for j, (is_lon, bit) in enumerate(_stream_bits(precision))]
    chars = [f"substr('{BASE32}', CAST(0{''.join(terms[c:c + 5])} + 1 AS INT), 1)"
             for c in range(0, len(terms), 5)]
    return (normalized, indexed,
            f"CASE WHEN {guard} THEN concat(" + ", ".join(chars) + ") END")


@lru_cache(maxsize=256)
def _encode_stages(lat: str, lon: str, precision: int) -> tuple:
    """Spark SQL text of the three encode stages (see ``_encode_sql``)."""
    return _encode_sql(lat, lon, precision, SPARK, sql_name)


def exprs(stage) -> dict:
    """(name, Spark SQL text) pairs as the ``withColumns`` argument."""
    return {name: F.expr(text) for name, text in stage}


def with_stages(df: DataFrame, stages: tuple, out: str) -> DataFrame:
    """Add ``out`` from rendered Spark SQL stages (``_grid_sql``'s two
    temporary stages, then the value) as staged selects; the temporaries
    are dropped and an existing ``out`` is replaced in place."""
    normalized, indexed, value = stages
    staged = df.withColumns(exprs(normalized)).withColumns(exprs(indexed))
    temporaries = [name for name, _ in normalized + indexed]
    return staged.withColumn(out, F.expr(value)).drop(*temporaries)


def with_geohash(df: DataFrame, lat: str, lon: str, precision: int,
                 out: str = "gh") -> DataFrame:
    """Add a geohash column computed fully JVM-side (staged selects).

    An existing ``out`` column is replaced in place (``withColumn``).
    """
    _check_precision(precision)
    return with_stages(df, _encode_stages(lat, lon, int(precision)), out)


def with_geohash_key(df: DataFrame, lat: str, lon: str, precision: int,
                     out: str = "gh") -> DataFrame:
    """``with_geohash`` for the key of streaming state: rows with no cell
    (a NULL coordinate) are dropped and ``out`` stays non-nullable. Spark
    refuses to resume a checkpoint whose state key changed nullability,
    and ``out`` was non-nullable when NULL coordinates still got a cell."""
    g = with_geohash(df, lat, lon, precision, out).filter(F.col(out).isNotNull())
    # the optimizer pushes the filter below the encode, which leaves the
    # column nullable; the coalesce never takes its ''
    return g.withColumn(out, F.coalesce(F.col(out), F.lit("")))


# ---------------------------------------------------------------------------
# packed cell key: the left-aligned 60-bit lon-first interleave
# ---------------------------------------------------------------------------

# conv()'s base-32 digits: it reads them in either case and writes them
# in upper case. ``translate`` maps both cases of a cell's characters to
# them, as ``lower`` would first cost a cold ICU load (about 2 s)
_CONV32 = "0123456789abcdefghijklmnopqrstuv"
_CELL_CHARS = BASE32 + BASE32[10:].upper()
_CELL_DIGITS = _CONV32 + _CONV32[10:]
_BAD_CHAR_RE = "[^0-9b-hjkmnp-zB-HJKMNP-Z]"
# latitude and longitude bit positions of a key, and its 60 bits
_LAT_BITS = 0x0555555555555555
_LNG_BITS = 0x0AAAAAAAAAAAAAAA
_KEY_BITS = (1 << 60) - 1
_LAT_UNIT = sql_double(180.0 / (1 << 30))
_LNG_UNIT = sql_double(360.0 / (1 << 30))


def cell_key_sql(g: str) -> str:
    """Packed key of a cell ``g``: its 5 bits a character, left-aligned
    to 60 bits, so a cell of length L is the key interval
    ``[key, key + 2^(5(12-L)))``.

    For a ``g`` the kernel rejects, the key raises the kernel's
    ``PARSE_ERRORS``, in the kernel's order: it is a CASE that is 0 or
    an error, plus the key of the characters. Every cell function reads
    ``g``'s characters only through this key, and nothing else it does
    raises on any string, so a rejected cell yields the kernel's error
    and no output. The CASE is an addend, not a branch around the key:
    Catalyst shares subexpressions only outside conditional branches."""
    null, too_long, bad_char = PARSE_ERRORS
    return (f"CASE WHEN {g} IS NULL OR {g} = '' THEN raise_error('{null}') "
            f"WHEN length({g}) > 12 THEN raise_error('{too_long}') "
            f"WHEN {g} RLIKE '{_BAD_CHAR_RE}' THEN raise_error('{bad_char}') "
            f"ELSE 0L END + CAST(conv(translate(rpad({g}, 12, '0'), "
            f"'{_CELL_CHARS}', '{_CELL_DIGITS}'), 32, 10) AS BIGINT)")


def cell_sql(key: str, length: str) -> str:
    """The base-32 cell of ``length`` characters at a packed key."""
    return (f"substr(translate(lpad(conv({key}, 10, 32), 12, '0'), "
            f"'{_CONV32.upper()}', '{BASE32}'), 1, {length})")


def deinterleave_sql(quads: str) -> tuple[str, str]:
    """The low and the high bits of the base-4 digits ``quads``, each read
    as a binary number: ``translate`` keeps one bit of each digit."""
    return tuple(f"CAST(conv(translate({quads}, '0123', '{keep}'), 2, 10) AS BIGINT)"
                 for keep in ("0101", "0011"))


def _bounds_sql(g: str) -> tuple[str, str, str, str]:
    """(min_lat, min_lng, max_lat, max_lng): the kernel's dyadic
    ``bounding_box`` arithmetic, term for term, on the left-aligned
    30-bit grid indices. In the key's base-4 digits each digit is one
    (lon, lat) bit pair."""
    lat, lng = deinterleave_sql(f"conv({cell_key_sql(g)}, 10, 4)")
    min_lat = f"-90.0D + {lat} * {_LAT_UNIT}"
    min_lng = f"-180.0D + {lng} * {_LNG_UNIT}"
    return (min_lat, min_lng,
            f"{min_lat} + 180.0D / shiftleft(1L, shiftright(5 * length({g}), 1))",
            f"{min_lng} + 360.0D / shiftleft(1L, shiftright(5 * length({g}) + 1, 1))")


def _neighbor_key_sql(g: str, d_lat: int, d_lng: int) -> str:
    """Key of the cell ``d_lat`` rows and ``d_lng`` columns from ``g``,
    by carry arithmetic on the interleaved key (kernel ``_shifted``):
    latitude clamps at the poles, longitude wraps across the
    antimeridian. ``u`` and ``v`` are the cell's lowest latitude and
    longitude bits; setting the other axis' bits to 1 carries an add
    past them, clearing them borrows a subtract through them."""
    key, n = cell_key_sql(g), f"5 * least(length({g}), 12)"
    u = f"shiftleft(1L, 60 - 2 * shiftright({n}, 1))"
    v = f"shiftleft(1L, 61 - 2 * shiftright({n} + 1, 1))"
    lat = {0: f"{key} & {_LAT_BITS}",
           # a carry out of the top row saturates back to the top row
           1: f"least(({key} | {_LNG_BITS}) + {u}, {_KEY_BITS}) & {_LAT_BITS} & -{u}",
           -1: f"greatest(({key} & {_LAT_BITS}) - {u}, 0) & {_LAT_BITS}"}[d_lat]
    lng = {0: f"{key} & {_LNG_BITS}",
           1: f"({key} | {_LAT_BITS}) + {v} & {_LNG_BITS}",
           -1: f"({key} & {_LNG_BITS}) - {v} & {_LNG_BITS}"}[d_lng]
    return f"{lat} | {lng}"


@lru_cache(maxsize=256)
def _decode_sql(g: str) -> str:
    min_lat, min_lng, max_lat, max_lng = _bounds_sql(g)
    return (f"named_struct('lat', ({min_lat} + ({max_lat})) * 0.5D, "
            f"'lon', ({min_lng} + ({max_lng})) * 0.5D)")


@lru_cache(maxsize=256)
def _bbox_sql(g: str) -> str:
    names = ("min_lat", "min_lng", "max_lat", "max_lng")
    return "named_struct(" + ", ".join(
        f"'{n}', {b}" for n, b in zip(names, _bounds_sql(g))) + ")"


@lru_cache(maxsize=256)
def _neighbor_sql(g: str, d_lat: int, d_lng: int) -> str:
    return cell_sql(_neighbor_key_sql(g, d_lat, d_lng), f"length({g})")


@lru_cache(maxsize=256)
def _neighbors_sql(g: str) -> str:
    return "array(" + ", ".join(
        _neighbor_sql(g, *_offset(d)) for d in DIRECTIONS) + ")"


def _text_column(render, gh: Column) -> Column:
    """The function ``render`` (Spark SQL text of an expression over one
    input: a cell function, a tile index) applied to ``gh``. A column
    reference goes into the text, which runs under whole-stage codegen,
    where Catalyst computes the key and grid indices that the outputs
    share once per row. Any other expression is
    bound to a lambda parameter, which Spark evaluates interpreted."""
    node = gh._jc.node()
    if node.getClass().getSimpleName() == "UnresolvedAttribute":
        parts = node.nameParts().mkString("\0").split("\0")
        return F.expr(render(".".join(map(sql_name, parts))))
    return F.call_function("transform", F.array(gh),
                           F.expr(f"__gh -> {render('__gh')}"))[0]


def gh_decode(gh: Column) -> Column:
    """Cell center -> struct<lat:double, lon:double>
    (src/Geohasher.cs:108-112)."""
    return _text_column(_decode_sql, gh)


def gh_bbox(gh: Column) -> Column:
    """Exact cell bounds -> struct<min_lat,min_lng,max_lat,max_lng>."""
    return _text_column(_bbox_sql, gh)


def gh_neighbors(gh: Column) -> Column:
    """All 8 neighbors as array<string> in N,NE,E,SE,S,SW,W,NW order
    (src/Geohasher.cs:158-165)."""
    return _text_column(_neighbors_sql, gh)


def gh_neighbor(gh: Column, direction: str) -> Column:
    """Single-direction neighbor (src/Geohasher.cs:151-155). An unknown
    ``direction`` raises ValueError here, before any job runs."""
    d_lat, d_lng = _offset(direction)
    return _text_column(lambda g: _neighbor_sql(g, d_lat, d_lng), gh)


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


def haversine_sql(lat1: str, lng1: str, lat2: str, lng2: str, d: Dialect) -> str:
    """Great-circle metres (src/RadiusHasher.cs:275-280) in dialect ``d``
    between DOUBLE operands: names, ``d.double`` literals or parenthesized
    text. kernels/distance.py is the independent NumPy reference."""
    dlat, dlng = (f"radians({b} - {a}) / 2" for a, b in ((lat1, lat2), (lng1, lng2)))
    return (f"{d.double(2.0 * EARTH_RADIUS_M)} * asin(least({d.double(1.0)}, sqrt("
            f"sin({dlat}) * sin({dlat}) + cos(radians({lat1})) * cos(radians({lat2})) "
            f"* sin({dlng}) * sin({dlng}))))")


def haversine_m(lat1: str, lng1: str, lat2: str, lng2: str) -> Column:
    """``haversine_sql`` as a Spark column, from column names or Spark SQL
    text; native trig, so it stays inside whole-stage codegen."""
    return F.expr(haversine_sql(lat1, lng1, lat2, lng2, SPARK))


def _geocode_sql(url: str, d: Dialect) -> tuple[str, str]:
    """(lat, lon) from md5 of the string expression ``url`` in dialect ``d``."""
    def coord(first: int, span: float) -> str:
        h = d.hex_bigint(f"substring(md5({url}), {first}, 8)")
        return (f"({h} + {d.double(0.5)}) / {d.double(4294967296.0)} * "
                f"{d.double(span)} - {d.double(span / 2)}")
    return coord(1, 180.0), coord(9, 360.0)


@lru_cache(maxsize=256)
def geocode_sql(url: str) -> tuple[str, str]:
    """Spark SQL text of ``geocode_from_url``'s (lat, lon) for a url column."""
    return _geocode_sql(sql_name(url), SPARK)


def geocode_from_url(df: DataFrame, url: str = "url",
                     lat_out: str = "lat", lon_out: str = "lon") -> DataFrame:
    """Deterministic geocode: lat/lon from md5(url) (reproducible across
    cluster sizes; the north rule's hash-derived coordinates).

    The DuckDB oracle (functions/oracle.py:geocode_lat_sql) renders the
    same text.
    """
    return df.withColumns(exprs(zip((lat_out, lon_out), geocode_sql(url))))
