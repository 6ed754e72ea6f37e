"""DuckDB-dialect SQL text generators — the oracle twins of the Spark
expressions in functions/native.py.

The driver's correctness gate runs our Spark queries AND these SQL strings
side-by-side on the same parquet; both implement the exact same integer
geohash formulation, so cells/tiles/join rows match bit-for-bit.
"""

from __future__ import annotations

from ..kernels.geohash import NAN_ERROR

BASE32 = "0123456789bcdefghjkmnpqrstuvwxyz"


def geocode_lat_sql(url_expr: str = "url") -> str:
    """lat from md5(url) — DuckDB twin of functions.native.geocode_from_url."""
    h1 = f"(('0x' || substr(md5({url_expr}), 1, 8))::BIGINT)"
    return f"(({h1} + 0.5) / 4294967296.0 * 180.0 - 90.0)"


def geocode_lon_sql(url_expr: str = "url") -> str:
    h2 = f"(('0x' || substr(md5({url_expr}), 9, 8))::BIGINT)"
    return f"(({h2} + 0.5) / 4294967296.0 * 360.0 - 180.0)"


def clamp_lat_sql(x: str) -> str:
    return f"greatest(least(CAST({x} AS DOUBLE), 90.0), -90.0)"


def normalize_lon_sql(x: str) -> str:
    """Longitude wrap in the kernel's C# order: truncating ``%``, then 360
    added only to a negative remainder (kernels.geohash.normalize_longitude).
    Adding 360 to every remainder would round a longitude one ulp below a
    cell edge onto the edge."""
    r = f"(CAST({x} AS DOUBLE) + 180.0) % 360.0"
    return f"CASE WHEN {r} < 0.0 THEN {r} + 360.0 - 180.0 ELSE {r} - 180.0 END"


def grid_index_sql(x: str, lo: float, step: float, n: int) -> str:
    """Exact grid index with dyadic fix-up (twin of native._grid_index_sql).

    ``x`` must be a simple column reference (it is repeated several times).
    """
    i0 = f"least(greatest(CAST(floor(({x} - ({lo!r})) / {step!r}) AS BIGINT), 0), {n - 1})"
    i1 = f"({i0} - CASE WHEN {x} < ({lo!r}) + {i0} * {step!r} THEN 1 ELSE 0 END)"
    i2 = (f"({i1} + CASE WHEN {i1} < {n - 1} AND "
          f"{x} >= ({lo!r}) + ({i1} + 1) * {step!r} THEN 1 ELSE 0 END)")
    return f"least(greatest({i2}, 0), {n - 1})"


def gh_char_sql(lat_i: str, lng_i: str, precision: int, c: int) -> str:
    """Base-32 char c from grid-index columns (twin of a character of
    native._encode_stages)."""
    total = 5 * precision
    n_lat_bits = total // 2
    n_lng_bits = (total + 1) // 2
    terms = []
    for k in range(5):
        j = 5 * c + k
        if j % 2 == 0:
            src, bit = lng_i, n_lng_bits - 1 - j // 2
        else:
            src, bit = lat_i, n_lat_bits - 1 - (j - 1) // 2
        terms.append(f"(({src} >> {bit}) & 1) * {1 << (4 - k)}")
    digit = " + ".join(terms)
    return f"substr('{BASE32}', CAST({digit} AS INT) + 1, 1)"


def gh_concat_sql(lat_i: str, lng_i: str, precision: int) -> str:
    """The cell string; NULL when an index is (``||`` propagates NULL,
    DuckDB's ``concat`` skips it)."""
    return " || ".join(gh_char_sql(lat_i, lng_i, precision, c)
                       for c in range(precision))


def tagged_select_sql(inner_sql: str, precision: int, lat: str = "lat",
                      lon: str = "lon", out: str = "gh",
                      keep: str = "*") -> str:
    """SELECT wrapping ``inner_sql`` (which must expose lat/lon columns)
    that adds the geohash column ``out`` — staged like with_geohash."""
    total = 5 * precision
    n_lat_bits = total // 2
    n_lng_bits = (total + 1) // 2
    lat_step = 180.0 / (1 << n_lat_bits)
    lng_step = 360.0 / (1 << n_lng_bits)
    # NaN raises the kernel's error; NULL stays NULL through every stage
    # (greatest/least would skip it, so the index is guarded)
    lat_d = f"CAST({lat} AS DOUBLE)"
    nan = f"error('{NAN_ERROR}')"
    norm = (f"SELECT {keep}, CASE WHEN isnan({lat_d}) THEN {nan} "
            f"WHEN {lat_d} > 90.0 THEN 90.0 WHEN {lat_d} < -90.0 THEN -90.0 "
            f"ELSE {lat_d} END AS __lat_n, "
            f"CASE WHEN isnan(CAST({lon} AS DOUBLE)) THEN {nan} "
            f"ELSE {normalize_lon_sql(lon)} END AS __lon_n FROM ({inner_sql})")
    idx = (f"SELECT {keep}, CASE WHEN __lat_n IS NOT NULL THEN "
           f"{grid_index_sql('__lat_n', -90.0, lat_step, 1 << n_lat_bits)} END AS __lat_i, "
           f"CASE WHEN __lon_n IS NOT NULL THEN "
           f"{grid_index_sql('__lon_n', -180.0, lng_step, 1 << n_lng_bits)} END AS __lng_i "
           f"FROM ({norm})")
    return (f"SELECT {keep}, {gh_concat_sql('__lat_i', '__lng_i', precision)} AS {out} "
            f"FROM ({idx})")


def decoded_select_sql(inner_sql: str, precision: int, gh_col: str = "gh",
                       keep: str = "gh") -> str:
    """SELECT wrapping ``inner_sql`` that adds the exact cell bounds
    ``__min_lat/__min_lng/__max_lat/__max_lng`` decoded from a geohash
    string column of fixed length ``precision``.

    Twin of kernels.geohash.bounding_box. Both recover the same integer
    grid indices: here bit by bit for one fixed precision, there by one
    de-interleave of the left-aligned 60-bit stream of any length. Every
    product and boundary is an exact dyadic double, so the bounds are
    bit-identical to the Spark/pandas-UDF side.
    """
    total = 5 * precision
    n_lat_bits = total // 2
    n_lng_bits = (total + 1) // 2
    lat_step = 180.0 / (1 << n_lat_bits)
    lng_step = 360.0 / (1 << n_lng_bits)
    # stage 1: per-char base-32 digit values
    vals = ", ".join(
        f"(strpos('{BASE32}', substr({gh_col}, {c + 1}, 1)) - 1) AS __v{c}"
        for c in range(precision))
    s1 = f"SELECT {keep}, {vals} FROM ({inner_sql})"
    # stage 2: de-interleave (inverse of gh_char_sql bit layout)
    lat_terms, lng_terms = [], []
    for c in range(precision):
        for k in range(5):
            j = 5 * c + k
            bit = f"((__v{c} >> {4 - k}) & 1)"
            if j % 2 == 0:
                lng_terms.append(f"{bit} * {1 << (n_lng_bits - 1 - j // 2)}")
            else:
                lat_terms.append(f"{bit} * {1 << (n_lat_bits - 1 - (j - 1) // 2)}")
    s2 = (f"SELECT {keep}, ({' + '.join(lat_terms)}) AS __lat_i, "
          f"({' + '.join(lng_terms)}) AS __lng_i FROM ({s1})")
    # stage 3: exact dyadic bounds (same formulas as the kernel)
    return (f"SELECT {keep}, "
            f"(-90.0 + CAST(__lat_i AS DOUBLE) * {lat_step!r}) AS __min_lat, "
            f"(-180.0 + CAST(__lng_i AS DOUBLE) * {lng_step!r}) AS __min_lng, "
            f"(-90.0 + CAST(__lat_i AS DOUBLE) * {lat_step!r}) + {lat_step!r} "
            f"AS __max_lat, "
            f"(-180.0 + CAST(__lng_i AS DOUBLE) * {lng_step!r}) + {lng_step!r} "
            f"AS __max_lng FROM ({s2})")


def center_lat_sql() -> str:
    """Cell-center latitude from decoded bounds ((min+max)*0.5, the exact
    kernel formula)."""
    return "((__min_lat + __max_lat) * 0.5)"


def center_lng_sql() -> str:
    return "((__min_lng + __max_lng) * 0.5)"


def haversine_sql(lat1: str, lng1: str, lat2: str, lng2: str) -> str:
    """Great-circle meters — twin of functions.native.haversine_m."""
    return (f"2.0 * 6371008.8 * asin(least(1.0, sqrt("
            f"sin(radians({lat2} - {lat1}) / 2) * sin(radians({lat2} - {lat1}) / 2) "
            f"+ cos(radians({lat1})) * cos(radians({lat2})) "
            f"* sin(radians({lng2} - {lng1}) / 2) * sin(radians({lng2} - {lng1}) / 2))))")


def pages_sql(replicate: int = 1) -> str:
    """The deterministic Common-Crawl-style pages table derived from the
    ``documents`` view — DuckDB twin of sources/pages.py.

    Columns: url, warc_ts, text, lang, doc_id, rep, lat, lon.
    """
    rep_src = (f"documents CROSS JOIN (SELECT unnest(range({replicate})) AS rep)"
               if replicate > 1 else "documents, (SELECT 0 AS rep)")
    url = ("'https://crawl.example/' || source || '/' || CAST(doc_id AS VARCHAR)"
           " || '/' || CAST(rep AS VARCHAR)")
    return (
        "SELECT url, "
        "TIMESTAMP '2024-01-01 00:00:00' + INTERVAL (doc_id % 365) DAY "
        "+ INTERVAL (rep % 24) HOUR AS warc_ts, "
        "text, lang, doc_id, rep, "
        f"{geocode_lat_sql('url')} AS lat, {geocode_lon_sql('url')} AS lon "
        f"FROM (SELECT {url} AS url, * FROM {rep_src})"
    )


def pages_tagged_sql(precision: int, replicate: int = 1) -> str:
    """pages + geohash column ``gh`` at the given precision."""
    return tagged_select_sql(
        pages_sql(replicate), precision,
        keep="url, warc_ts, text, lang, doc_id, rep, lat, lon")
