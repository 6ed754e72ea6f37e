"""Crawl-side scheduling over the pages table.

:func:`crawl_slots` — per-site politeness scheduling: order each
site's URLs by fetch timestamp (URL tiebreak — timestamps collide in
any real frontier) and assign each a fetch *slot* of at most ``rate``
URLs, i.e. slot ``s`` holds the s-th batch a polite fetcher may issue
against that site concurrently. This is the frontier-partitioning
step every large crawler runs between "URLs discovered" and "URLs
fetched" (cf. the host-level budgets of `url_host_stats` — this is
the *when*, that is the *how much*).

Scale shape: ONE site-keyed Exchange; the per-site ``row_number`` and
the (site, slot) aggregation both ride it (group key ⊇ partition
key), so Catalyst inserts no second corpus-scale shuffle
(plan-asserted in tests). The within-site rank is inherently
sequential — a site's frontier sorts inside one task. That is the
honest shape of politeness (slots ARE a per-site total order); a
pathological mega-site spills its sort rather than breaking the
semantics, and the site key has no cross-site skew coupling — every
other site proceeds in parallel.

Cross-engine determinism: the ordering key (ts, url) is a total order
(urls are unique), slot ids are exact integer division of the 0-based
rank, and the per-slot witness is ``min(url)`` — no floats anywhere.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..functions.exact import MICRO, MILLI

__all__ = ["crawl_slots", "crawl_slots_sql",
           "site_footprint", "site_footprint_sql"]

SITE_RE = r"^https?://[^/]+/([^/]+)/"


def crawl_slots(df: DataFrame, rate: int = 16, url: str = "url",
                ts: str = "warc_ts", site_re: str = SITE_RE) -> DataFrame:
    """-> (site, slot long, n_urls long, first_url): the polite fetch
    schedule. Slot ``s`` of a site holds its URLs ranked
    ``[s*rate, (s+1)*rate)`` in (ts, url) order; ``n_urls`` is the
    slot's fill (== rate except the last slot) and ``first_url`` its
    lexicographically first member (a deterministic witness that the
    ordering, not just the counts, agrees cross-engine). URLs with a
    NULL ts rank last, as in the twin's default ORDER BY.
    """
    if rate < 1:
        raise ValueError(f"rate must be >= 1, got {rate}")
    site = F.regexp_extract(F.col(url), site_re, 1)
    w = Window.partitionBy("site").orderBy(F.col("__t").asc_nulls_last(),
                                           F.col("__u").asc())
    ranked = (df.select(site.alias("site"), F.col(url).alias("__u"),
                        F.col(ts).alias("__t"))
              .withColumn("__rn", F.row_number().over(w) - 1))
    return (ranked
            .withColumn("slot", F.expr(f"__rn div {int(rate)}").cast("long"))
            .groupBy("site", "slot")
            .agg(F.count(F.lit(1)).alias("n_urls"),
                 F.min("__u").alias("first_url")))


def crawl_slots_sql(inner: str, rate: int = 16, url: str = "url",
                    ts: str = "warc_ts", site_re: str = SITE_RE) -> str:
    """DuckDB oracle twin of :func:`crawl_slots`. ``inner`` must expose
    the url and ts columns."""
    if rate < 1:
        raise ValueError(f"rate must be >= 1, got {rate}")
    return f"""
WITH u AS (
  SELECT regexp_extract({url}, '{site_re}', 1) AS site,
         {url} AS __u, {ts} AS __t
  FROM ({inner})
), r AS (
  SELECT site, __u,
         row_number() OVER (PARTITION BY site ORDER BY __t, __u) - 1 AS __rn
  FROM u
)
SELECT site, CAST(__rn // {int(rate)} AS BIGINT) AS slot,
       CAST(count(*) AS BIGINT) AS n_urls, min(__u) AS first_url
FROM r GROUP BY site, slot
"""


def site_footprint(df: DataFrame, precision: int = 4, url: str = "url",
                   lat: str = "lat", lon: str = "lon",
                   site_re: str = SITE_RE) -> DataFrame:
    """Per-site geographic footprint — where on the globe a site's
    pages land: page count, distinct geohash-``precision`` cells
    occupied, exact bounding box, fixed-point centroid, and the
    bbox-diagonal span.  The crawl-planning twin of ``url_host_stats``
    (that budgets *bytes* per host; this maps its *geography* — a CDN-
    or geo-sharded site shows a wide span, a local one a tight box).

    Cross-engine determinism: bbox min/max are order-free comparisons
    of pass-through doubles; the centroid sums MICRODEGREE fixed-point
    BIGINTs (exact on any layout / cluster size) before one shared IEEE
    division tree, rounded to ``exact.MICRO``; the span is the haversine
    of the two bbox corners quantized to millimeters (``exact.MILLI`` —
    one value per site, never summed).

    Scale shape (100 TB): ONE logical site-keyed aggregation.  Catalyst
    plans the exact distinct-cell count as the standard two-level
    (site, cell) -> (site) cascade — both exchanges are keyed by site
    prefixes, partials collapse map-side, and no corpus-scale row
    survives past the first hash aggregate.  Sites are ~10^7 keys at
    web scale with no cross-key coupling; a mega-site is one hot key
    handled by AQE skew splitting of the partial stage.  For a
    sketch-tolerant caller the HLL++ path in operators/sketches.py
    replaces the exact distinct at one exchange.
    """
    if precision < 1 or precision > 12:
        raise ValueError(f"precision must be in 1..12, got {precision}")
    from ..functions.native import haversine_m, with_geohash

    tagged = with_geohash(df, lat, lon, precision, out="__cell")
    site = F.regexp_extract(F.col(url), site_re, 1)
    agg = (tagged
           .select(site.alias("site"), F.col("__cell"),
                   F.col(lat).cast("double").alias("__lat"),
                   F.col(lon).cast("double").alias("__lon"))
           .withColumns({
               "__lat_u": MICRO.ticks(F.col("__lat")),
               "__lon_u": MICRO.ticks(F.col("__lon"))})
           .groupBy("site")
           .agg(F.count(F.lit(1)).alias("n_pages"),
                F.countDistinct("__cell").alias("n_cells"),
                F.min("__lat").alias("min_lat"),
                F.max("__lat").alias("max_lat"),
                F.min("__lon").alias("min_lon"),
                F.max("__lon").alias("max_lon"),
                F.sum(F.col("__lat_u").cast("decimal(38,0)")).alias("__slat"),
                F.sum(F.col("__lon_u").cast("decimal(38,0)")).alias("__slon")))
    span = haversine_m("min_lat", "min_lon", "max_lat", "max_lon")
    return (agg
            .withColumns({
                "ctr_lat": MICRO.round(MICRO.real(
                    F.col("__slat").cast("double")
                    / F.col("n_pages").cast("double"))),
                "ctr_lon": MICRO.round(MICRO.real(
                    F.col("__slon").cast("double")
                    / F.col("n_pages").cast("double"))),
                "span_mm": MILLI.ticks(span)})
            .select("site", "n_pages", "n_cells", "min_lat", "max_lat",
                    "min_lon", "max_lon", "ctr_lat", "ctr_lon", "span_mm"))


def site_footprint_sql(tagged_inner: str, url: str = "url",
                       site_re: str = SITE_RE) -> str:
    """DuckDB oracle twin of :func:`site_footprint`.  ``tagged_inner``
    must expose url, lat, lon and the geohash column ``gh`` at the
    operator's precision (functions.oracle.pages_tagged_sql)."""
    from ..functions.native import DUCKDB, haversine_sql

    span = haversine_sql("min_lat", "min_lon", "max_lat", "max_lon", DUCKDB)
    ctr_lat, ctr_lon = (MICRO.round_sql(MICRO.real_sql(
        f"CAST(__s{c} AS DOUBLE) / CAST(n_pages AS DOUBLE)"))
        for c in ("lat", "lon"))
    return f"""
WITH agg AS (
  SELECT regexp_extract({url}, '{site_re}', 1) AS site,
         CAST(count(*) AS BIGINT) AS n_pages,
         CAST(count(DISTINCT gh) AS BIGINT) AS n_cells,
         min(lat) AS min_lat, max(lat) AS max_lat,
         min(lon) AS min_lon, max(lon) AS max_lon,
         sum({MICRO.ticks_sql('lat')}) AS __slat,
         sum({MICRO.ticks_sql('lon')}) AS __slon
  FROM ({tagged_inner}) GROUP BY 1
)
SELECT site, n_pages, n_cells, min_lat, max_lat, min_lon, max_lon,
       {ctr_lat} AS ctr_lat, {ctr_lon} AS ctr_lon,
       {MILLI.ticks_sql(span)} AS span_mm
FROM agg
"""
