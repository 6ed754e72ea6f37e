"""Spatial hotspot detection: Getis-Ord Gi* z-scores over geohash tiles.

The classic local-statistic layer of tile analytics, one step past focal
smoothing (``q_tile_smooth``): instead of reporting the raw 3x3
neighborhood sum, score how anomalous that sum is against the global
distribution of tile values. Binary queen-contiguity weights (the 8
geohash neighbors plus self), restricted to tiles WITH data — the
standard formulation for sparse grids, where empty cells are outside
the study area rather than zeros.

For tile i with W_i = |(neighbors(i) + {i}) restricted to occupied|:

    Gi* = (sum_j w_ij x_j  -  xbar * W_i)
          / ( S * sqrt((n * W_i - W_i^2) / (n - 1)) )

with n = occupied-tile count, xbar = sum(x)/n, S = sqrt(sum(x^2)/n -
xbar^2)  (Getis & Ord 1995, the Gi* form with self-inclusion).

Scale shape (100 TB): the neighborhood expansion runs on the
AGGREGATED tile table (|tiles| rows, never the corpus), so the cost is
independent of page count; the global moments are ONE row computed from
exact integer sums (count/sum/sum-of-squares of bigint tile counts —
order-independent, hence engine-portable) and reach the plan as a
broadcast, never a driver collect; the focal join is tile-keyed. All
double math downstream of the exact integer moments is a fixed IEEE
expression tree mirrored verbatim by the DuckDB oracle twin, with the
final z fp6-gated.

Caveat: S = 0 (all tiles equal) or W_i = n (every tile adjacent to
every other, only possible for <= 9-cell study areas) make the
denominator 0 and Gi* undefined — callers feed real tile grids.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.exact import MICRO
from ..functions.native import gh_neighbors

__all__ = ["focal_hotspots", "focal_hotspots_sql",
           "moran_i", "moran_i_sql",
           "tile_anomaly", "tile_anomaly_sql"]


def focal_hotspots(tiles: DataFrame, cell_col: str = "gh",
                   value_col: str = "n",
                   hot_z: float = 2.0) -> DataFrame:
    """Gi* z-score per occupied tile; ``hot`` = 1 where gi_z >= hot_z.

    ``tiles`` is an aggregated (cell, value) table — e.g. the output of
    a per-tile count — with integral values (exact global moments).
    Output: (cell_col, value_col, wx = neighborhood sum, w = occupied
    neighborhood size incl. self, gi_z fp6, hot).
    """
    t = tiles.select(F.col(cell_col).alias("t"),
                     F.col(value_col).cast("long").alias("x"))
    nb = t.select(
        "t",
        F.explode(F.array_union(gh_neighbors(F.col("t")),
                                F.array(F.col("t")))).alias("s"))
    focal = (nb.join(t.select(F.col("t").alias("s"),
                              F.col("x").alias("xs")), "s")
             .groupBy("t").agg(F.sum("xs").alias("wx"),
                               F.count(F.lit(1)).alias("w")))
    glob = t.agg(F.count(F.lit(1)).alias("nt"),
                 F.sum("x").alias("sx"),
                 F.sum(F.col("x") * F.col("x")).alias("sxx"))
    j = t.join(focal, "t").crossJoin(F.broadcast(glob))
    # fixed IEEE expression tree — mirrored token-for-token in the twin
    mean = F.col("sx") / F.col("nt")
    s = F.sqrt(F.col("sxx") / F.col("nt") - mean * mean)
    denom = s * F.sqrt(
        (F.col("nt") * F.col("w") - F.col("w") * F.col("w")).cast("double")
        / (F.col("nt") - F.lit(1)))
    z = MICRO.round(((F.col("wx") - mean * F.col("w")) / denom).cast("double"))
    return (j.select(F.col("t").alias(cell_col),
                     F.col("x").alias(value_col),
                     "wx", "w", z.alias("gi_z"))
            .withColumn("hot", (F.col("gi_z") >= F.lit(hot_z)).cast("int")))


def moran_i(tiles: DataFrame, cell_col: str = "gh",
            value_col: str = "n") -> DataFrame:
    """Global Moran's I spatial autocorrelation over geohash tiles —
    the corpus-level companion to the per-tile Gi*: one number saying
    whether tile values cluster at all (I > E[I]) before asking where.

    Binary symmetric queen weights between OCCUPIED tiles (no self);
    W = number of directed neighbor pairs.

        I   = (n / W) * (sum_ij w_ij (xi-xbar)(xj-xbar)) / (sum_i (xi-xbar)^2)
        E   = -1 / (n-1)
        z   = (I - E) / sqrt(Var_N(I))        (normality assumption:
        Var_N = (n^2*S1 - n*S2 + 3W^2) / ((n^2-1)*W^2) - E^2,
        with S1 = 2W and S2 = 4*sum_i deg_i^2 for binary symmetric w)

    Portability: every aggregate is an exact integer (pair count, sums
    of x, x^2, xi*xj over edges, squared degrees), so the cross-engine
    result is a fixed IEEE expression tree over exact inputs — the
    DuckDB twin reproduces it bit-for-bit under the fp6 gate. The sums
    expand the centered products: sum w (xi-m)(xj-m) = sum(xi*xj) -
    m*(sum xi + sum xj) + m^2*W. Returns ONE row:
    (n_tiles, w_pairs, moran_i, e_i, z_norm).

    Scale shape: edges = tile-keyed explode+join on the aggregated tile
    table; three one-row aggregates broadcast-combined. Page count
    never enters. Caveat: sum(xi*xj) is int64 — at >10^9-count tiles
    cast ``value_col`` down (e.g. to thousands) before calling.
    """
    t = tiles.select(F.col(cell_col).alias("a"),
                     F.col(value_col).cast("long").alias("xa"))
    # array_distinct: pole-adjacent cells can bounce two directions onto
    # the same neighbor — the oracle's DISTINCT pair expansion dedups too
    edges = (t.withColumn(
                 "b", F.explode(F.array_distinct(gh_neighbors(F.col("a")))))
             .join(t.select(F.col("a").alias("b"),
                            F.col("xa").alias("xb")), "b")
             .filter(F.col("a") != F.col("b")))
    pair = edges.agg(F.count(F.lit(1)).alias("w_pairs"),
                     F.sum(F.col("xa") * F.col("xb")).alias("sxy"),
                     F.sum("xa").alias("sxa"),
                     F.sum("xb").alias("sxb"))
    deg = (edges.groupBy("a").agg(F.count(F.lit(1)).alias("d"))
           .agg(F.sum(F.col("d") * F.col("d")).alias("sdeg2")))
    glob = t.agg(F.count(F.lit(1)).alias("nt"),
                 F.sum("xa").alias("sx"),
                 F.sum(F.col("xa") * F.col("xa")).alias("sxx"))
    j = pair.crossJoin(deg).crossJoin(glob)
    # fixed IEEE tree over exact integers — mirrored in moran_i_sql
    nt = F.col("nt").cast("double")
    w = F.col("w_pairs").cast("double")
    mean = F.col("sx") / F.col("nt")
    num = (F.col("sxy") - mean * (F.col("sxa") + F.col("sxb"))
           + mean * mean * w)
    den = F.col("sxx") - mean * F.col("sx")
    i_val = (nt / w) * (num / den)
    e_val = F.lit(-1.0) / (nt - F.lit(1.0))
    s1 = F.lit(2.0) * w
    s2 = F.lit(4.0) * F.col("sdeg2").cast("double")
    var_n = ((nt * nt * s1 - nt * s2 + F.lit(3.0) * w * w)
             / ((nt * nt - F.lit(1.0)) * w * w)) - e_val * e_val
    z = (i_val - e_val) / F.sqrt(var_n)
    return j.select(F.col("nt").alias("n_tiles"),
                    F.col("w_pairs"),
                    MICRO.round(i_val).alias("moran_i"),
                    MICRO.round(e_val).alias("e_i"),
                    MICRO.round(z).alias("z_norm"))


def moran_i_sql(tiles_cte: str, pairs_cte: str) -> str:
    """DuckDB oracle twin of moran_i.

    ``pairs_cte`` is the same tile -> {neighbors + self} expansion the
    Gi*/smooth oracles use; self pairs are filtered here.
    """
    mean = "(CAST(sx AS DOUBLE) / nt)"
    num = f"(CAST(sxy AS DOUBLE) - {mean} * (sxa + sxb) + {mean} * {mean} * CAST(w_pairs AS DOUBLE))"
    den = f"(CAST(sxx AS DOUBLE) - {mean} * sx)"
    i_val = f"((CAST(nt AS DOUBLE) / CAST(w_pairs AS DOUBLE)) * ({num} / {den}))"
    e_val = "(-1.0 / (CAST(nt AS DOUBLE) - 1.0))"
    s1 = "(2.0 * CAST(w_pairs AS DOUBLE))"
    s2 = "(4.0 * CAST(sdeg2 AS DOUBLE))"
    nt = "CAST(nt AS DOUBLE)"
    w = "CAST(w_pairs AS DOUBLE)"
    var_n = (f"(({nt} * {nt} * {s1} - {nt} * {s2} + 3.0 * {w} * {w}) "
             f"/ (({nt} * {nt} - 1.0) * {w} * {w}) - {e_val} * {e_val})")
    z = f"(({i_val} - {e_val}) / sqrt({var_n}))"
    return f"""
WITH tiles AS ({tiles_cte}), pairs0 AS ({pairs_cte}),
edges AS (
  SELECT p.t AS a, ta.n AS xa, p.s AS b, tb.n AS xb
  FROM pairs0 p JOIN tiles ta ON ta.gh = p.t
                JOIN tiles tb ON tb.gh = p.s
  WHERE p.t <> p.s
), pair AS (
  SELECT CAST(count(*) AS BIGINT) AS w_pairs,
         CAST(sum(xa * xb) AS BIGINT) AS sxy,
         CAST(sum(xa) AS BIGINT) AS sxa, CAST(sum(xb) AS BIGINT) AS sxb
  FROM edges
), deg AS (
  SELECT CAST(sum(d * d) AS BIGINT) AS sdeg2 FROM (
    SELECT a, CAST(count(*) AS BIGINT) AS d FROM edges GROUP BY a)
), gstats AS (
  SELECT CAST(count(*) AS BIGINT) AS nt, CAST(sum(n) AS BIGINT) AS sx,
         CAST(sum(n * n) AS BIGINT) AS sxx FROM tiles
)
SELECT nt AS n_tiles, w_pairs,
       {MICRO.round_sql(i_val)} AS moran_i,
       {MICRO.round_sql(e_val)} AS e_i,
       {MICRO.round_sql(z)} AS z_norm
FROM pair CROSS JOIN deg CROSS JOIN gstats
"""


def focal_hotspots_sql(tiles_cte: str, pairs_cte: str,
                       cell_col: str = "gh", value_col: str = "n",
                       hot_z: float = 2.0) -> str:
    """DuckDB oracle twin of focal_hotspots.

    ``tiles_cte`` must yield (gh, n) occupied tiles; ``pairs_cte`` must
    yield DISTINCT (t, s) = tile -> {neighbors + self} pairs (the same
    expansion the tile_smooth oracle builds). Column aliases follow
    cell_col/value_col.
    """
    mean = "(CAST(sx AS DOUBLE) / nt)"
    sdev = f"sqrt(CAST(sxx AS DOUBLE) / nt - {mean} * {mean})"
    denom = (f"{sdev} * sqrt(CAST(nt * w - w * w AS DOUBLE) "
             f"/ (nt - 1))")
    zraw = f"(CAST(wx AS DOUBLE) - {mean} * w) / ({denom})"
    z = MICRO.round_sql(zraw)
    return f"""
WITH tiles AS ({tiles_cte}), pairs AS ({pairs_cte}),
focal AS (
  SELECT p.t, CAST(sum(c.n) AS BIGINT) AS wx,
         CAST(count(*) AS BIGINT) AS w
  FROM pairs p JOIN tiles c ON c.gh = p.s GROUP BY p.t
), gstats AS (
  SELECT CAST(count(*) AS BIGINT) AS nt, CAST(sum(n) AS BIGINT) AS sx,
         CAST(sum(n * n) AS BIGINT) AS sxx FROM tiles
)
SELECT tiles.gh AS {cell_col}, CAST(tiles.n AS BIGINT) AS {value_col},
       wx, w, {z} AS gi_z,
       CAST({z} >= {hot_z} AS INT) AS hot
FROM tiles JOIN focal ON focal.t = tiles.gh CROSS JOIN gstats
"""


# ---------------------------------------------------------------------------
# Temporal anomaly detection over tile time series
# ---------------------------------------------------------------------------

def tile_anomaly(df: DataFrame, lat: str = "lat", lon: str = "lon",
                 ts: str = "ts", precision: int = 2) -> DataFrame:
    """Per-(tile, day) activity z-scores against the tile's own daily
    history — the burst/outage detector of geo-temporal monitoring
    (traffic spikes, crawl storms, sensor dropouts): a tile's day is
    anomalous when its event count sits far from that tile's mean.

    z uses the population std over the tile's observed days; tiles with
    a single day or zero variance emit z = NULL (no history to be
    anomalous against). Determinism: daily counts are exact BIGINTs and
    the per-tile moments come from integer sums (n/sum/sum-of-squares),
    so mean/var enter one fixed IEEE expression tree mirrored verbatim
    in the DuckDB twin; z is fp6-gated.

    Scale shape (100 TB): one event->(tile, day) aggregation with
    map-side partials collapses the corpus to |tiles|x|days| rows;
    everything after runs on that reduced table (a tile-keyed moment agg
    joined back tile-keyed, reusing the exchange). No windows over the
    raw events, no driver collects.
    """
    from ..functions.native import with_geohash
    g = with_geohash(df, lat, lon, precision)
    daily = (g.groupBy(F.col("gh").alias("tile"),
                       F.col(ts).cast("date").alias("day"))
             .agg(F.count(F.lit(1)).alias("n")))
    mom = (daily.groupBy("tile")
           .agg(F.count(F.lit(1)).alias("days"),
                F.sum("n").alias("s"),
                F.sum(F.col("n") * F.col("n")).alias("ss")))
    j = daily.join(mom, "tile")
    days = F.col("days").cast("double")
    mean = F.col("s").cast("double") / days
    var = F.col("ss").cast("double") / days - mean * mean
    z = F.when((F.col("days") >= 2) & (var > 0),
               MICRO.round((F.col("n").cast("double") - mean) / F.sqrt(var)))
    return j.select("tile", "day", "n", "days",
                    MICRO.round(mean).alias("mean_n"), z.alias("z"))


def tile_anomaly_sql(tagged_inner: str, ts: str = "ts") -> str:
    """DuckDB oracle twin of :func:`tile_anomaly`. ``tagged_inner`` must
    expose ``gh`` (the tile at the query's precision) plus the event
    timestamp column."""
    mean = "CAST(s AS DOUBLE) / CAST(days AS DOUBLE)"
    var = f"CAST(ss AS DOUBLE) / CAST(days AS DOUBLE) - ({mean}) * ({mean})"
    z = MICRO.round_sql(f"(CAST(n AS DOUBLE) - ({mean})) / sqrt({var})")
    return f"""
WITH daily AS (
  SELECT gh AS tile, CAST({ts} AS DATE) AS day, count(*) AS n
  FROM ({tagged_inner}) GROUP BY gh, CAST({ts} AS DATE)
), mom AS (
  SELECT tile, count(*) AS days, sum(n) AS s, sum(n * n) AS ss
  FROM daily GROUP BY tile
)
SELECT daily.tile, day, CAST(n AS BIGINT) AS n,
       CAST(days AS BIGINT) AS days,
       {MICRO.round_sql(mean)} AS mean_n,
       CASE WHEN days >= 2 AND ({var}) > 0 THEN {z} END AS z
FROM daily JOIN mom ON daily.tile = mom.tile
"""
