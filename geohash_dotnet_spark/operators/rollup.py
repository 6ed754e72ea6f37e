"""Hypertable-style continuous rollup: one time series aggregated at a
ladder of granularities (minute -> hour -> day), every level from ONE
finest-level aggregate, never from the raw events again.

The TimescaleDB continuous-aggregate idea as DataFrame algebra: the
finest-level aggregate is the only operator that touches the corpus.
Each coarser bucket is a pure function of the finest one, so every
finest-level row explodes into one (level, bucket) pair per level and
ONE ``groupBy(level, bucket)`` aggregates all levels — two Exchanges
at any depth (plan-asserted in tests), and only bucket rows cross the
second. :func:`tile_pyramid` is the same shape over quadkey prefixes.

Portability: value sums are fixed-point micros (``exact.MICRO`` ticks
summed as BIGINT) — exact, order-independent, and re-aggregable, so
"day from minutes" is bit-identical to "day from raw events", which is
exactly what the DuckDB twin (direct GROUP BY per level from the raw
table) verifies.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.exact import MICRO

__all__ = ["time_rollup", "time_rollup_sql", "tile_pyramid",
           "tile_pyramid_sql", "tile_freshness", "tile_freshness_sql"]


_UNITS = ("microsecond", "millisecond", "second", "minute", "hour", "day",
          "week", "month", "quarter", "year")  # date_trunc, finest first


def _check_levels(levels: Sequence[str]) -> None:
    """Raise unless ``levels`` is a non-empty ladder of ``_UNITS``, each
    strictly coarser than the one before and nested in it (a unit nests
    in every later one, except that weeks straddle months and years)."""
    if not levels:
        raise ValueError("levels is empty: name at least one date_trunc unit")
    prev = None
    for lv in levels:
        u = str(lv).lower()
        if u not in _UNITS:
            raise ValueError(f"level {lv!r} is not a date_trunc unit "
                             f"({', '.join(_UNITS)})")
        if prev and (prev == "week" or _UNITS.index(u) <= _UNITS.index(prev)):
            raise ValueError(f"level {lv!r} is not strictly coarser than "
                             f"{prev!r} and nested in it")
        prev = u


def time_rollup(df: DataFrame, ts: str = "ts", value: str = "value",
                levels: Sequence[str] = ("minute", "hour", "day"),
                ) -> DataFrame:
    """Rollup ladder -> (level, bucket, n, sum_value_us) from one
    aggregation at ``levels[0]`` and one level-exploded aggregation.
    ``levels`` are ``date_trunc`` units, finest first, each nesting
    into the next (minute ⊂ hour ⊂ day ⊂ ...); else ValueError."""
    _check_levels(levels)
    leaf = (df.groupBy(F.date_trunc(levels[0], F.col(ts)).alias("bucket"))
            .agg(F.count(F.lit(1)).alias("n"),
                 F.sum(MICRO.ticks(F.col(value))).alias("sum_value_us")))
    lv = F.explode(F.array(*[
        F.struct(F.lit(u).alias("level"),
                 F.date_trunc(u, F.col("bucket")).alias("bucket"))
        for u in levels]))
    return (leaf.select(lv.alias("__lv"), "n", "sum_value_us")
            .groupBy("__lv.level", "__lv.bucket")
            .agg(F.sum("n").alias("n"),
                 F.sum("sum_value_us").alias("sum_value_us")))


def time_rollup_sql(inner: str, ts: str = "ts", value: str = "value",
                    levels: Sequence[str] = ("minute", "hour", "day"),
                    ) -> str:
    """DuckDB twin: each level aggregated DIRECTLY from the raw rows —
    verifying that rollup-from-the-finest-level equals rollup-from-raw."""
    _check_levels(levels)
    vfp = MICRO.ticks_sql(value)
    parts = [
        (f"SELECT '{lv}' AS level, date_trunc('{lv}', {ts}) AS bucket, "
         f"CAST(count(*) AS BIGINT) AS n, "
         f"CAST(sum({vfp}) AS BIGINT) AS sum_value_us "
         f"FROM ({inner}) GROUP BY 2")
        for lv in levels
    ]
    return " UNION ALL ".join(parts)


def tile_pyramid(df, lat: str = "lat", lon: str = "lon",
                 max_z: int = 8) -> DataFrame:
    """Web-map tile pyramid: page counts per quadkey at EVERY zoom
    0..max_z, from one quadkey count at ``max_z`` exploded into its
    prefixes and aggregated once per (zoom, prefix) — the spatial
    analogue of :func:`time_rollup`; two Exchanges at any ``max_z``.

    Valid because quadkeys nest dyadically: the zoom-z quadkey is the
    length-z prefix of the zoom-max_z quadkey (x is the exact index on
    dyadic column edges, so x_z = x_maxz >> (max_z - z); the y boundary
    table at zoom z is a subset of zoom z+1's). The DuckDB twin
    verifies exactly that: it computes every zoom DIRECTLY from the
    raw rows with that zoom's own x/y/quadkey math, so prefix-rollup
    equalling direct-assignment is part of the check.

    -> (z int, quadkey string, n_pages long); zoom 0 is the one-row
    grand total with quadkey ''.
    """
    from ..functions.tiles import check_zoom, with_tiles

    check_zoom(max_z, least=1)
    leaf = (with_tiles(df, lat, lon, z=max_z).groupBy("quadkey")
            .agg(F.count(F.lit(1)).alias("n")))
    zs = F.explode(F.sequence(F.lit(0), F.lit(max_z))).alias("z")
    return (leaf.select("quadkey", "n", zs)
            .groupBy("z", F.expr("substr(quadkey, 1, z)").alias("quadkey"))
            .agg(F.sum("n").alias("n_pages")))


def tile_pyramid_sql(inner: str, lat: str = "lat", lon: str = "lon",
                     max_z: int = 8) -> str:
    """DuckDB twin of :func:`tile_pyramid`: every zoom computed
    DIRECTLY from the raw rows (independent of the prefix-rollup
    formulation)."""
    from ..functions.tiles import (quadkey_sql, tile_x_sql,
                                   tile_y_portable_sql)

    parts = []
    for z in range(max_z, -1, -1):
        if z == 0:
            qk = "''"
        else:
            qk = quadkey_sql(f"({tile_x_sql(lon, z)})",
                             f"({tile_y_portable_sql(lat, z)})", z)
        parts.append(
            f"SELECT CAST({z} AS INT) AS z, {qk} AS quadkey, "
            f"CAST(count(*) AS BIGINT) AS n_pages FROM ({inner}) "
            f"GROUP BY 2")
    return " UNION ALL ".join(parts)


def tile_freshness(df: DataFrame, ts: str = "warc_ts", lat: str = "lat",
                   lon: str = "lon", precision: int = 3,
                   halflife_days: int = 7) -> DataFrame:
    """Freshness-weighted tile popularity -> (tile, n_pages,
    fresh_fp long, freshness double): each page contributes a weight
    that HALVES per ``halflife_days`` of age relative to the newest
    page in the input, so recently-crawled regions outrank stale ones
    — the recency-biased serving layer of a crawl map (tile_trend is
    the day-over-day delta; this is the exponentially-decayed level).

    Portability by construction: age quantizes to WHOLE half-lives
    (integer division of epoch-microsecond deltas — a staircase decay,
    documented trade vs a continuous exp() whose cross-engine libm
    wobble would break the value gate), the per-page weight is
    ``1e6 // 2^e`` (power-of-two doubles are exact, floor-exact), and
    weights are summed as BIGINT micro-units — order-free. ``freshness``
    is ``fresh_fp / 1e6`` (one exact scaling).

    Scale shape: the reference epoch is ONE scalar aggregate broadcast
    back as a single row (same pattern as pagerank's teleport share);
    the weight is then a pure projection and the tile aggregation is
    the only corpus-keyed exchange, with map-side partials.
    """
    if halflife_days < 1:
        raise ValueError(f"halflife_days must be >= 1, got {halflife_days}")
    from ..functions.native import with_geohash

    ref = df.agg(F.max(F.unix_micros(F.col(ts))).alias("__ref"))
    pg = with_geohash(df.crossJoin(F.broadcast(ref)), lat, lon, precision,
                      out="__tile")
    hl_us = int(halflife_days) * 86_400_000_000
    e = ((F.col("__ref") - F.unix_micros(F.col(ts))) / F.lit(hl_us)) \
        .cast("long")
    w_fp = (F.when(e >= 60, F.lit(0))
            .otherwise(F.floor(F.lit(float(MICRO.scale))
                               / F.pow(F.lit(2.0), e)))
            .cast("long"))
    return (pg.withColumn("__w", w_fp)
            .groupBy(F.col("__tile").alias("tile"))
            .agg(F.count(F.lit(1)).alias("n_pages"),
                 F.sum("__w").alias("fresh_fp"))
            .withColumn("freshness", MICRO.real(F.col("fresh_fp"))))


def tile_freshness_sql(tagged_inner: str, ts: str = "warc_ts",
                       halflife_days: int = 7) -> str:
    """DuckDB oracle twin of :func:`tile_freshness`. ``tagged_inner``
    must expose ``gh`` (the tile at the query's precision) and ``ts``."""
    if halflife_days < 1:
        raise ValueError(f"halflife_days must be >= 1, got {halflife_days}")
    hl_us = int(halflife_days) * 86_400_000_000
    e = (f"CAST((SELECT max(epoch_us({ts})) FROM t) - epoch_us({ts}) "
         f"AS DOUBLE) / {hl_us} ")
    # CAST(double AS BIGINT) rounds in DuckDB; trunc() matches Spark's
    # double->long truncation
    e = f"CAST(trunc({e}) AS BIGINT)"
    w = (f"(CASE WHEN {e} >= 60 THEN 0 ELSE "
         f"CAST(floor({MICRO.sql} / power(2.0, {e})) AS BIGINT) END)")
    return f"""
WITH t AS (SELECT * FROM ({tagged_inner}))
SELECT gh AS tile, CAST(count(*) AS BIGINT) AS n_pages,
       CAST(sum({w}) AS BIGINT) AS fresh_fp,
       {MICRO.real_sql(f"CAST(sum({w}) AS BIGINT)")} AS freshness
FROM t GROUP BY gh
"""
