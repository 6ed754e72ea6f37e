"""DuckDB SQL text generators — the oracle twins of the Spark queries.

The correctness checks run each Spark query and its twin here on the
same parquet, so cells, tiles and join rows must match bit for bit. The
encode, the geocode, the haversine and the Hilbert index are not copies:
they are Spark's text in its ``DUCKDB`` dialect (functions/native.py,
operators/layout.py). The NumPy kernel and the reference goldens are the
independent reference both engines are tested against.
"""

from __future__ import annotations

from ..kernels.geohash import lat_lng_steps
from .native import BASE32, DUCKDB, _encode_sql, _geocode_sql, _stream_bits


def geocode_lat_sql(url_expr: str = "url") -> str:
    """lat from md5(url) — functions.native.geocode_from_url in DuckDB."""
    return f"({_geocode_sql(url_expr, DUCKDB)[0]})"


def geocode_lon_sql(url_expr: str = "url") -> str:
    return f"({_geocode_sql(url_expr, DUCKDB)[1]})"


def nested_select_sql(inner_sql: str, stages: tuple, out: str,
                      keep: str = "*") -> str:
    """``native.with_stages`` in DuckDB: the rendered stages nested as
    subqueries over ``inner_sql``. ``keep`` names the other output columns;
    the default keeps every column of ``inner_sql`` and adds only ``out``."""
    normalized, indexed, value = stages
    staged = inner_sql
    for stage in (normalized, indexed):
        cols = ", ".join(f"{text} AS {name}" for name, text in stage)
        staged = f"SELECT *, {cols} FROM ({staged})"
    if keep == "*":
        keep = f"* EXCLUDE ({', '.join(name for name, _ in normalized + indexed)})"
    return f"SELECT {keep}, {value} AS {out} FROM ({staged})"


def tagged_select_sql(inner_sql: str, precision: int, lat: str = "lat",
                      lon: str = "lon", out: str = "gh",
                      keep: str = "*") -> str:
    """SELECT wrapping ``inner_sql`` (which must expose lat/lon columns)
    that adds the geohash column ``out`` — with_geohash in DuckDB."""
    return nested_select_sql(inner_sql, _encode_sql(lat, lon, precision, DUCKDB, str),
                             out, keep)


def decoded_select_sql(inner_sql: str, precision: int, gh_col: str = "gh",
                       keep: str = "gh") -> str:
    """SELECT wrapping ``inner_sql`` that adds the exact cell bounds
    ``__min_lat/__min_lng/__max_lat/__max_lng`` decoded from a geohash
    string column of fixed length ``precision``.

    Twin of kernels.geohash.bounding_box. Both recover the same integer
    grid indices: here bit by bit for one fixed precision, there by one
    de-interleave of the left-aligned 60-bit stream of any length. Every
    product and boundary is an exact dyadic double, so the bounds are
    bit-identical to ``gh_bbox``'s JVM expressions.
    """
    lat_step, lng_step = lat_lng_steps(precision)
    # stage 1: per-char base-32 digit values
    vals = ", ".join(
        f"(strpos('{BASE32}', substr({gh_col}, {c + 1}, 1)) - 1) AS __v{c}"
        for c in range(precision))
    s1 = f"SELECT {keep}, {vals} FROM ({inner_sql})"
    # stage 2: de-interleave by the encode's stream-bit map
    lat_terms, lng_terms = [], []
    for j, (is_lon, bit) in enumerate(_stream_bits(precision)):
        c, k = divmod(j, 5)
        (lng_terms if is_lon else lat_terms).append(
            f"((__v{c} >> {4 - k}) & 1) * {1 << bit}")
    s2 = (f"SELECT {keep}, ({' + '.join(lat_terms)}) AS __lat_i, "
          f"({' + '.join(lng_terms)}) AS __lng_i FROM ({s1})")
    # stage 3: exact dyadic bounds (same formulas as the kernel)
    min_lat = f"(-90.0 + CAST(__lat_i AS DOUBLE) * {lat_step!r})"
    min_lng = f"(-180.0 + CAST(__lng_i AS DOUBLE) * {lng_step!r})"
    return (f"SELECT {keep}, {min_lat} AS __min_lat, {min_lng} AS __min_lng, "
            f"{min_lat} + {lat_step!r} AS __max_lat, "
            f"{min_lng} + {lng_step!r} AS __max_lng FROM ({s2})")


def center_lat_sql() -> str:
    """Cell-center latitude from decoded bounds ((min+max)*0.5, the exact
    kernel formula)."""
    return "((__min_lat + __max_lat) * 0.5)"


def center_lng_sql() -> str:
    return "((__min_lng + __max_lng) * 0.5)"


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
