"""k-nearest-neighbors via geohash cell-ring expansion + window top-k.

The reference README positions the cell index as the candidate pre-filter
for distance queries (/root/reference/README.md:58-72); kNN composes that
with iterative radius doubling:

round r: cover a circle of radius R*2^r around each query (driver-side
circle kernel, cells broadcast) -> equi-join candidate points ->
row_number() over (partition by query order by exact haversine) <= k.
A query is *settled* when it has >= k candidates whose k-th distance is
within the covered radius (the covering guarantees no closer point exists
outside it). Unsettled queries escalate to the next round.

Scale shape (single-scan formulation):
* the points table is geohash-tagged ONCE at the finest (round-0)
  precision; every coarser round derives its join key with a native
  ``substring`` prefix — no per-round re-encode, no extra codegen stages;
* each round is exactly one job over the points table: the broadcast
  equi-join + window top-k collects at most k x |remaining queries| rows
  (intrinsically tiny — that is the operator's output bound), and the
  settle check runs driver-side on those same rows instead of issuing a
  second aggregate job;
* the final result is assembled from the settled rows, so triggering an
  action on it does NOT replay earlier rounds (the round-1 formulation
  lazily recomputed every round's scan at action time).
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import Window

from ..functions.exact import MICRO
from ..functions.native import haversine_m, sql_double, sql_name, with_geohash
from ..kernels.circle import cover_circle
from ..kernels.distance import precision_for_radius
from .spatial_join import cell_join

# above this many unsettled queries a round's coverings are built on
# executors (cover_circles), not by the driver-side circle kernel
DRIVER_COVER_THRESHOLD = 64


def knn_join(spark: SparkSession, points_df: DataFrame, queries: pd.DataFrame,
             k: int, initial_radius_m: float = 2_000.0, max_rounds: int = 10,
             lat: str = "lat", lon: str = "lon", gh_col: str = "gh",
             precision: int | None = None) -> DataFrame:
    """queries: pandas DataFrame (query_id, lat, lon). Returns a DataFrame
    (query_id, rank, dist_m, + point columns) with rank 1..k by distance.

    Covering placement: with few unsettled queries the ring coverings are
    built by the driver-side circle kernel (cheap, no extra job). Above
    ``DRIVER_COVER_THRESHOLD`` unsettled queries, a round's coverings are
    built on EXECUTORS via :func:`cover_circles` — for a query *table*
    (thousands of rows) the per-query kernel calls would otherwise
    serialize on the driver and dominate the round. The covering is still
    broadcast into the points join (its size is bounded by the circle
    kernel's per-query cell ceiling x |remaining|, not by the corpus)."""
    remaining = queries.copy()

    # tag once at the finest precision any round will use; coarser rounds
    # take substring prefixes of this single column
    p_fine = precision or max(min(precision_for_radius(initial_radius_m), 9), 2)
    tagged = points_df if gh_col in points_df.columns else \
        with_geohash(points_df, lat, lon, p_fine, out=gh_col)

    settled_rows: list = []
    out_schema = None

    for r in range(max_rounds):
        radius = initial_radius_m * (2 ** r)
        p = precision or precision_for_radius(radius)
        p = max(min(p, p_fine), 2)

        if len(remaining) > DRIVER_COVER_THRESHOLD:
            # distributed coverings: one executor-side kernel call per
            # query (cover_circles mapInPandas), joined back to query
            # coords — no driver-side per-query loop
            from .coverage import cover_circles
            qdf = spark.createDataFrame(
                remaining[["query_id", "lat", "lon"]])
            circles = qdf.select(
                F.col("query_id").alias("circle_id"),
                F.col("lat"), F.col("lon"),
                F.lit(float(radius)).alias("radius_m"),
                F.lit(int(p)).cast("int").alias("precision"),
                F.lit("intersects").alias("criteria"))
            cov = (cover_circles(spark, circles)
                   .withColumnRenamed("circle_id", "query_id")
                   .join(F.broadcast(qdf.select(
                       "query_id",
                       F.col("lat").alias("q_lat"),
                       F.col("lon").alias("q_lon"))), on="query_id")
                   .withColumnRenamed("cell", "__ghr"))
        else:
            cov_rows = []
            for q in remaining.itertuples(index=False):
                cells = cover_circle(float(q.lat), float(q.lon), radius, p,
                                     "intersects")
                cov_rows.append(pd.DataFrame({
                    "query_id": q.query_id, "q_lat": q.lat, "q_lon": q.lon,
                    "__ghr": cells}))
            cov = spark.createDataFrame(pd.concat(cov_rows, ignore_index=True))

        cand = (cell_join(tagged.withColumn("__ghr",
                                            F.substring(gh_col, 1, p)),
                          cov, gh_col="__ghr")
                .withColumn("dist_m",
                            haversine_m("q_lat", "q_lon",
                                        sql_name(lat), sql_name(lon))))
        w = Window.partitionBy("query_id").orderBy(F.col("dist_m").asc())
        topk = (cand.withColumn("rank", F.row_number().over(w))
                .filter(F.col("rank") <= k)
                .drop("q_lat", "q_lon", "__ghr"))

        rows = topk.collect()  # <= k x |remaining| rows by construction
        out_schema = topk.schema

        # settle check on the already-collected rows (no second job):
        # k-th distance must be within the guaranteed covered radius
        by_q: dict = {}
        for row in rows:
            by_q.setdefault(row["query_id"], []).append(row)
        settled_ids = {qid for qid, qrows in by_q.items()
                       if len(qrows) >= k
                       and max(x["dist_m"] for x in qrows) <= radius}
        if r == max_rounds - 1:
            settled_ids = set(remaining.query_id)
        for qid in settled_ids:
            settled_rows.extend(by_q.get(qid, []))
        remaining = remaining[~remaining.query_id.isin(settled_ids)]
        if remaining.empty:
            break

    if not settled_rows:
        return spark.createDataFrame([], "query_id string, rank int, dist_m double")
    return spark.createDataFrame(settled_rows, out_schema)


def nearest_assign(df: DataFrame, sites: list[tuple[str, float, float]],
                   lat: str = "lat", lon: str = "lon",
                   out_site: str = "site",
                   out_dist: str = "dist_m") -> DataFrame:
    """Reverse geocoding: assign every row to its nearest site
    (name, lat, lon) by great-circle distance, ties broken by site name.

    The K sites are query-time constants, so the assignment is a pure
    SHUFFLE-FREE projection — the same argmax lesson the round-2 IVF
    verdict taught (operators/similarity.py): build an array of
    (distance, name) structs and take ``array_min`` (lexicographic
    struct compare = min distance, then name), instead of exploding to
    N x K rows and ranking with a window. At 100 TB the corpus is
    scanned once with zero exchanges; K lives in the instruction
    stream, not in a join side. The DuckDB twin replays the N x K
    cross join + QUALIFY argmin — an independent relational evaluation
    of the same haversine doubles (bit-exact twin expression), so the
    fp6-gated distances and every tie land identically.
    """
    cands = F.array(*[
        F.struct(
            haversine_m(sql_name(lat), sql_name(lon),
                        sql_double(slat), sql_double(slon)).alias("d"),
            F.lit(name).alias("s"))
        for name, slat, slon in sites])
    best = F.array_min(cands)
    return (df.withColumn(out_site, best["s"])
            .withColumn(out_dist, MICRO.round(best["d"])))


def nearest_sites(df: DataFrame, sites: list[tuple[str, float, float]],
                  k: int, lat: str = "lat", lon: str = "lon",
                  out_rank: str = "rank", out_site: str = "site",
                  out_dist: str = "dist_m") -> DataFrame:
    """k-NN join against a constant site table: for every row, the k
    nearest of the K ``sites`` (name, lat, lon), ranked by great-circle
    distance with ties broken by site name.

    The top-k generalization of :func:`nearest_assign`: the K sites are
    query-time constants, so the whole ranking is a SHUFFLE-FREE
    projection — build the array of (distance, name) structs,
    ``array_sort`` it (lexicographic struct compare = distance, then
    name — exactly the window's ORDER BY), ``slice`` the first k, and
    ``posexplode``. No join node, no window exchange, no corpus
    shuffle: at 100 TB the table is scanned once and each row emits its
    k hits inline (the K-way sort runs in the instruction stream,
    K = |sites| is a catalog, not a corpus). The DuckDB twin replays
    the N x K cross join + QUALIFY row_number() <= k over the bit-exact
    haversine twin expression, so every rank and fp6-gated distance
    lands identically.

    ``k`` is clamped to K (slice past the end would throw, and more
    than K neighbors of K sites is vacuous).
    """
    if k <= 0:
        raise ValueError(f"k must be positive, got {k}")
    if not sites:
        # an empty catalog would slice to an empty array and posexplode
        # away EVERY input row — surface the miswiring instead
        raise ValueError("sites must be non-empty")
    k = min(int(k), len(sites))
    cands = F.array(*[
        F.struct(
            haversine_m(sql_name(lat), sql_name(lon),
                        sql_double(slat), sql_double(slon)).alias("d"),
            F.lit(name).alias("s"))
        for name, slat, slon in sites])
    top = F.slice(F.array_sort(cands), 1, k)
    ex = df.select("*", F.posexplode(top).alias("__pos", "__hit"))
    return (ex.withColumn(out_rank, (F.col("__pos") + 1).cast("int"))
            .withColumn(out_site, F.col("__hit")["s"])
            .withColumn(out_dist, MICRO.round(F.col("__hit")["d"]))
            .drop("__pos", "__hit"))
