"""Tile diversity and radial-profile analytics over the pages table.

Two census-style reductions a geo web-corpus pipeline runs constantly:

- :func:`tile_entropy` — per-tile Shannon entropy of a categorical
  column (language mix diversity). One (tile, key) aggregation, then a
  tile-level reduction; the identity H = log2(N) - sum(n*log2 n)/N
  makes it a single pass over per-key counts (no per-row probability
  column, no second join back for totals).
- :func:`distance_bands` — radial histogram around a point: page
  counts per fixed-width great-circle ring. A pure projection plus one
  aggregation; the band id is computed from the FIXED-POINT distance
  (``exact.MICRO`` ticks of metres), so the bucket edge behaves identically in
  Spark and DuckDB even where libm trig differs in the last ulp only
  after the 6th decimal.

Both are partial-aggregate shapes: map-side combine shrinks the
shuffle to |tiles| x |keys| (entropy) or n_bands+1 (bands) rows —
corpus-size-independent exchanges.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..functions.exact import MICRO
from ..functions.native import DUCKDB, haversine_m, haversine_sql, sql_double, sql_name, with_geohash

__all__ = ["tile_entropy", "tile_entropy_sql",
           "distance_bands", "distance_bands_sql",
           "tile_terms", "tile_terms_sql",
           "tile_skew", "tile_skew_sql"]


def tile_entropy(df: DataFrame, lat: str = "lat", lon: str = "lon",
                 precision: int = 2, key: str = "lang") -> DataFrame:
    """-> (tile, n_pages long, n_keys long, entropy double): Shannon
    entropy (bits) of the ``key`` distribution inside each geohash
    tile. entropy is fp6-rounded; 0.0 for single-key tiles."""
    pg = with_geohash(df, lat, lon, precision, out="__tile")
    per_key = (pg.groupBy(F.col("__tile").alias("tile"), F.col(key))
               .agg(F.count(F.lit(1)).alias("n")))
    return (per_key.groupBy("tile")
            .agg(F.sum("n").alias("n_pages"),
                 F.count(F.lit(1)).alias("n_keys"),
                 F.sum(F.col("n").cast("double") * F.log2("n")).alias("__s"))
            .select("tile", "n_pages", "n_keys",
                    MICRO.round(F.log2("n_pages")
                                - F.col("__s") / F.col("n_pages").cast("double"))
                    .alias("entropy")))


def tile_entropy_sql(tagged_inner: str, key: str = "lang") -> str:
    """DuckDB twin; ``tagged_inner`` must expose ``gh`` and ``key``."""
    return (
        f"WITH pk AS (SELECT gh AS tile, {key} AS k, "
        f"CAST(count(*) AS BIGINT) AS n FROM ({tagged_inner}) GROUP BY 1, 2) "
        f"SELECT tile, CAST(sum(n) AS BIGINT) AS n_pages, "
        f"CAST(count(*) AS BIGINT) AS n_keys, "
        + MICRO.round_sql("log2(CAST(sum(n) AS DOUBLE)) - "
                          "sum(CAST(n AS DOUBLE) * log2(n)) / sum(CAST(n AS DOUBLE))")
        + " AS entropy FROM pk GROUP BY tile")


def distance_bands(df: DataFrame, center_lat: float, center_lon: float,
                   band_m: int = 500_000, n_bands: int = 20,
                   lat: str = "lat", lon: str = "lon") -> DataFrame:
    """-> (band int, n_pages long, n_urls long): ring histogram around
    (center_lat, center_lon). band b covers [b*band_m, (b+1)*band_m);
    everything at/past n_bands*band_m lands in the overflow band
    ``n_bands``. Bucketing happens on the fixed-point distance
    (micro-meters, BIGINT) so edges are engine-portable."""
    if band_m < 1 or n_bands < 1:
        raise ValueError(f"band_m/n_bands must be >= 1, got "
                         f"{band_m}/{n_bands}")
    d = haversine_m(f"CAST({sql_name(lat)} AS DOUBLE)", f"CAST({sql_name(lon)} AS DOUBLE)",
                    sql_double(center_lat), sql_double(center_lon))
    fpd = MICRO.ticks(d)
    band = F.least(F.floor(fpd / F.lit(float(band_m * MICRO.scale))),
                   F.lit(int(n_bands)))
    return (df.withColumn("__band", band.cast("int"))
            .groupBy(F.col("__band").alias("band"))
            .agg(F.count(F.lit(1)).alias("n_pages"),
                 F.countDistinct("url").alias("n_urls")))


def distance_bands_sql(inner: str, center_lat: float, center_lon: float,
                       band_m: int = 500_000, n_bands: int = 20,
                       lat: str = "lat", lon: str = "lon") -> str:
    """DuckDB twin; ``inner`` must expose lat/lon/url."""
    d = haversine_sql(lat, lon, repr(float(center_lat)),
                      repr(float(center_lon)), DUCKDB)
    fpd = MICRO.ticks_sql(d)
    band = (f"CAST(least(floor({fpd} / {float(band_m * MICRO.scale)!r}), "
            f"{int(n_bands)}) AS INT)")
    return (f"SELECT {band} AS band, CAST(count(*) AS BIGINT) AS n_pages, "
            f"CAST(count(DISTINCT url) AS BIGINT) AS n_urls "
            f"FROM ({inner}) GROUP BY 1")


def tile_terms(df: DataFrame, text: str = "text", lat: str = "lat",
               lon: str = "lon", precision: int = 2, k: int = 5,
               min_count: int = 3) -> DataFrame:
    """-> (tile, term, c_tw, n_t, c_w, lift, rank): the ``k`` most
    DISTINCTIVE whitespace tokens per geohash tile, ranked by lift —
    the term's in-tile share over its corpus share:

        lift = (c_tw / n_t) / (c_w / N)

    with c_tw the (tile, term) count, n_t the tile's token total, c_w
    the term's corpus total, N the corpus token total. "What words
    characterize this region" — the regional-profile primitive of a
    geo web corpus. Terms with c_w < ``min_count`` are dropped BEFORE
    ranking (one-off noise can have unbounded lift).

    Cross-engine determinism: lift is pure IEEE arithmetic on exact
    integers (three correctly-rounded divisions, no transcendentals)
    so Spark and DuckDB produce bit-identical doubles; fp6 plus the
    term tiebreak makes the per-tile rank a total order.

    Scale shape (100 TB): ONE corpus scan + token explode collapses
    map-side into the (tile, term) aggregate — the only corpus-scale
    exchange. That table (<= |tiles| x |vocab| rows) is persisted
    (registered for :func:`..dedup.release_dedup_cache`) and re-read
    for the scalar total (one-row broadcast) and the two window sorts
    (tile, term); nothing downstream touches the corpus again. The
    term window's skew is bounded by |tiles| rows per term.
    """
    from pyspark.sql import Window

    from .dedup import _persist
    from .text import _tokens

    if not (1 <= precision <= 12):
        raise ValueError(f"precision must be in [1, 12], got {precision}")
    if k < 1:
        raise ValueError(f"k must be >= 1, got {k}")
    if min_count < 1:
        raise ValueError(f"min_count must be >= 1, got {min_count}")

    g = with_geohash(df, lat, lon, precision, out="__tile")
    tt = (g.select(F.col("__tile").alias("tile"),
                   F.explode(_tokens(F.col(text))).alias("term"))
          .filter(F.col("term") != F.lit(""))
          .groupBy("tile", "term")
          .agg(F.count(F.lit(1)).alias("c_tw")))
    tt = _persist(tt)
    tot = tt.agg(F.sum("c_tw").cast("long").alias("__N"))
    x = (tt.withColumn("n_t", F.sum("c_tw").over(Window.partitionBy("tile")))
         .withColumn("c_w", F.sum("c_tw").over(Window.partitionBy("term")))
         .filter(F.col("c_w") >= F.lit(int(min_count)))
         .crossJoin(F.broadcast(tot)))
    lift = MICRO.round((F.col("c_tw").cast("double") / F.col("n_t").cast("double"))
                       / (F.col("c_w").cast("double") / F.col("__N").cast("double")))
    ranked = (x.withColumn("lift", lift)
              .withColumn("rank", F.row_number().over(
                  Window.partitionBy("tile")
                  .orderBy(F.col("lift").desc(), F.col("term")))))
    return (ranked.filter(F.col("rank") <= F.lit(int(k)))
            .select("tile", "term", "c_tw", "n_t", "c_w", "lift",
                    F.col("rank").cast("int").alias("rank")))


def tile_terms_sql(tagged_inner: str, text: str = "text", k: int = 5,
                   min_count: int = 3) -> str:
    """DuckDB twin; ``tagged_inner`` must expose ``gh`` and the text
    column. Same tokenization, windows, lift arithmetic, and tiebreak."""
    from .lm import _TOKS_SQL_TMPL

    toks = _TOKS_SQL_TMPL.format(text=text)
    lift = MICRO.round_sql(
        "(CAST(c_tw AS DOUBLE) / CAST(n_t AS DOUBLE))"
        " / (CAST(c_w AS DOUBLE) / CAST(__n AS DOUBLE))")
    return f"""
WITH tt AS (
  SELECT tile, term, CAST(count(*) AS BIGINT) AS c_tw
  FROM (SELECT gh AS tile, unnest({toks}) AS term
        FROM ({tagged_inner})) u
  WHERE term <> '' GROUP BY 1, 2
), tot AS (SELECT CAST(sum(c_tw) AS BIGINT) AS __n FROM tt),
x AS (
  SELECT tile, term, c_tw,
         CAST(sum(c_tw) OVER (PARTITION BY tile) AS BIGINT) AS n_t,
         CAST(sum(c_tw) OVER (PARTITION BY term) AS BIGINT) AS c_w
  FROM tt
), r AS (
  SELECT tile, term, c_tw, n_t, c_w, {lift} AS lift,
         row_number() OVER (
           PARTITION BY tile ORDER BY {lift} DESC, term) AS rank
  FROM x CROSS JOIN tot WHERE c_w >= {int(min_count)}
)
SELECT tile, term, c_tw, n_t, c_w, lift, CAST(rank AS INT) AS rank
FROM r WHERE rank <= {int(k)}"""


def tile_skew(df: DataFrame, lat: str = "lat", lon: str = "lon",
              precision: int = 2) -> DataFrame:
    """One-row skew census of the tile occupancy distribution ->
    (n_tiles, n_pages, top_tile, top_n, top_share, gini): the Gini
    coefficient and hottest-cell share of pages-per-tile — the numbers
    that DECIDE the engine's own physical plan (a high top_share says
    a shuffled join needs AQE's skew split; gini ~ 0
    says plain hash partitioning is already balanced). Run it at the
    bucketing precision before choosing a layout.

    Shapes: one corpus-keyed tile aggregation (map-side partials),
    then a single-partition rank window over the TILE table only —
    bounded by 32^precision rows, enforced (precision <= 4, ~1M cells
    max), never by the corpus. Gini uses the sorted-rank identity
        G = (2*sum(i*n_i) - (n+1)*sum(n)) / (n*sum(n))
    on exact BIGINTs (ties: equal n values make sum(i*n_i) invariant
    to their order, so the tile tiebreak cannot change G); top-cell
    tie breaks to the lexicographically lowest tile via struct-min.
    Overflow bound: n_tiles * n_pages < 2^63 (at the enforced 1M-cell
    cap that allows ~9e12 pages; raise precision via multiple runs on
    subsets beyond that), guarded at runtime.
    """
    if not 1 <= precision <= 4:
        raise ValueError(f"precision must be in [1, 4], got {precision}")
    pg = with_geohash(df, lat, lon, precision, out="__tile")
    tiles = (pg.groupBy(F.col("__tile").alias("tile"))
             .agg(F.count(F.lit(1)).alias("n")))
    w = Window.orderBy(F.col("n").asc(), F.col("tile").asc())
    r = tiles.withColumn("__rn", F.row_number().over(w).cast("long"))
    agg = r.agg(
        F.count(F.lit(1)).alias("n_tiles"),
        F.sum("n").alias("n_pages"),
        F.sum(F.col("__rn") * F.col("n")).alias("__wsum"),
        F.min(F.struct((-F.col("n")).alias("nn"),
                       F.col("tile").alias("t"))).alias("__top"))
    denom = F.col("n_tiles") * F.col("n_pages")
    # overflow enforcement (not just documentation): a wrapped product
    # goes negative in non-ANSI Spark — raise instead of emitting a
    # garbage Gini. Folded into the output expression (a standalone
    # guard column would be pruned away unevaluated by Catalyst).
    gini_raw = ((F.lit(2) * F.col("__wsum")
                 - (F.col("n_tiles") + F.lit(1)) * F.col("n_pages"))
                .cast("double") / denom.cast("double"))
    gini = F.when(
        denom < 0,
        F.raise_error(F.lit("tile_skew: n_tiles*n_pages overflowed BIGINT "
                            "— shard the input"))
    ).otherwise(MICRO.round(gini_raw))
    return agg.select(
        "n_tiles", "n_pages",
        F.col("__top.t").alias("top_tile"),
        (-F.col("__top.nn")).alias("top_n"),
        MICRO.round((-F.col("__top.nn")).cast("double")
                    / F.col("n_pages").cast("double")).alias("top_share"),
        gini.alias("gini"))


def tile_skew_sql(tagged_inner: str) -> str:
    """DuckDB oracle twin of :func:`tile_skew`; ``tagged_inner`` must
    expose ``gh`` at the query's precision."""
    return f"""
WITH t AS (
  SELECT gh AS tile, CAST(count(*) AS BIGINT) AS n
  FROM ({tagged_inner}) GROUP BY gh
), r AS (
  SELECT tile, n,
         CAST(row_number() OVER (ORDER BY n, tile) AS BIGINT) AS rn
  FROM t
)
SELECT CAST(count(*) AS BIGINT) AS n_tiles,
       CAST(sum(n) AS BIGINT) AS n_pages,
       (SELECT tile FROM r ORDER BY n DESC, tile ASC LIMIT 1) AS top_tile,
       (SELECT n FROM r ORDER BY n DESC, tile ASC LIMIT 1) AS top_n,
       """ + MICRO.round_sql(
        "CAST((SELECT n FROM r ORDER BY n DESC, tile ASC LIMIT 1) AS DOUBLE)"
        " / CAST(sum(n) AS DOUBLE)") + """ AS top_share,
       """ + MICRO.round_sql(
        "CAST(2 * sum(rn * n) - (count(*) + 1) * sum(n) AS DOUBLE)"
        " / CAST(count(*) * sum(n) AS DOUBLE)") + """ AS gini
FROM r
"""
