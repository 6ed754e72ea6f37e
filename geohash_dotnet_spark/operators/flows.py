"""Origin–destination tile flows: movement analytics over an event
stream.

The OD-matrix primitive of geo-temporal analytics: order each user's
events in time, take consecutive-event cell transitions, and aggregate
them into a (from_tile, to_tile) flow matrix with move counts and
distinct-mover counts — commute matrices, migration flows, taxi OD
studies all reduce to this shape.

Scale shape: one user-keyed exchange feeds the lag window (users are
the natural partition; a hot user is impossible by construction — a
human emits bounded events), self-transitions are dropped BEFORE the
flow aggregation, and the final groupBy keys on (from, to) whose
cardinality is bounded by tiles², not events — partial aggs collapse
the event volume map-side.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..functions.exact import DEG4, METRE
from ..functions.native import with_geohash
from ..functions.oracle import tagged_select_sql

__all__ = ["tile_flows", "tile_flows_sql", "user_mobility",
           "user_mobility_sql", "stay_points", "stay_points_sql",
           "trip_stats", "trip_stats_sql", "visit_recurrence",
           "visit_recurrence_sql", "bearing_rose", "bearing_rose_sql"]


def tile_flows(df: DataFrame, user: str = "user_id", ts: str = "ts",
               lat: str = "lat", lon: str = "lon", precision: int = 2,
               tiebreak: str | None = None) -> DataFrame:
    """(from_tile, to_tile, n_moves, n_users) for consecutive-event
    geohash transitions per user. ``tiebreak`` orders same-timestamp
    events deterministically (pass the event id when timestamps can
    collide — a window order that ties is a nondeterministic flow)."""
    g = with_geohash(df, lat, lon, precision)
    order = [F.col(ts).asc()]
    if tiebreak is not None:
        order.append(F.col(tiebreak).asc())
    w = Window.partitionBy(user).orderBy(*order)
    g = g.withColumn("__prev", F.lag("gh").over(w))
    moves = g.filter(F.col("__prev").isNotNull()
                     & (F.col("__prev") != F.col("gh")))
    return (moves.groupBy(F.col("__prev").alias("from_tile"),
                          F.col("gh").alias("to_tile"))
            .agg(F.count(F.lit(1)).alias("n_moves"),
                 F.countDistinct(user).alias("n_users")))


def tile_flows_sql(inner: str, user: str = "user_id", ts: str = "ts",
                   precision: int = 2,
                   tiebreak: str | None = None) -> str:
    """DuckDB oracle twin of :func:`tile_flows`. ``inner`` must expose
    ``lat``/``lon`` plus the user/ts(/tiebreak) columns."""
    keep = f"{user}, {ts}" + (f", {tiebreak}" if tiebreak else "")
    tagged = tagged_select_sql(inner, precision, keep=keep)
    order = f"{ts}" + (f", {tiebreak}" if tiebreak else "")
    return f"""
WITH t AS ({tagged}), l AS (
  SELECT {user}, gh,
         lag(gh) OVER (PARTITION BY {user} ORDER BY {order}) AS prev
  FROM t
)
SELECT prev AS from_tile, gh AS to_tile,
       count(*) AS n_moves, count(DISTINCT {user}) AS n_users
FROM l WHERE prev IS NOT NULL AND prev <> gh
GROUP BY prev, gh
"""


# ---------------------------------------------------------------------------
# Per-user mobility: centroid + radius of gyration
# ---------------------------------------------------------------------------

def user_mobility(df: DataFrame, user: str = "user_id",
                  lat: str = "lat", lon: str = "lon") -> DataFrame:
    """Per-user activity extent: event count, centroid, and radius of
    gyration (degree-space RMS distance from the centroid — the
    González-et-al human-mobility statistic; multiply by ~111 km/deg
    for a magnitude in metres at mid latitudes).

    One user-keyed aggregation over integer-quantized coordinates
    (1e-4-degree quanta): sums and sums-of-squares are exact BIGINTs
    (safe to ~10^7 events per user before the square-sum nears 2^63),
    so centroid and rog come out of ONE shared IEEE tree —
    deterministic on any layout, any cluster size, bit-identical in
    DuckDB (sqrt is IEEE-correctly-rounded, unlike ln/exp). The
    E[x^2] - E[x]^2 form can go epsilon-negative under cancellation;
    both engines clamp at zero before the sqrt.
    """
    la, lo = DEG4.ticks(F.col(lat)), DEG4.ticks(F.col(lon))
    agg = (df.groupBy(user)
           .agg(F.count(F.lit(1)).alias("n_events"),
                F.sum(la).alias("sl"), F.sum(lo).alias("so"),
                F.sum(la * la).alias("ssl"),
                F.sum(lo * lo).alias("sso")))
    q = DEG4.scale
    nq = (F.col("n_events") * F.lit(q)).cast("double")
    nqq = (F.col("n_events") * F.lit(q * q)).cast("double")
    cl = F.col("sl").cast("double") / nq
    co = F.col("so").cast("double") / nq
    var = ((F.col("ssl").cast("double") / nqq - cl * cl)
           + (F.col("sso").cast("double") / nqq - co * co))
    return agg.select(
        user, "n_events", cl.alias("c_lat"), co.alias("c_lon"),
        F.sqrt(F.greatest(var, F.lit(0.0))).alias("rog_deg"))


def user_mobility_sql(inner: str, user: str = "user_id",
                      lat: str = "lat", lon: str = "lon") -> str:
    """DuckDB oracle twin of :func:`user_mobility`."""
    la, lo = DEG4.ticks_sql(lat), DEG4.ticks_sql(lon)
    q = DEG4.scale
    return f"""
WITH q AS (
  SELECT {user}, {la} AS la, {lo} AS lo FROM {inner}
), a AS (
  SELECT {user}, count(*) AS n_events,
         CAST(sum(la) AS BIGINT) AS sl, CAST(sum(lo) AS BIGINT) AS so,
         CAST(sum(la * la) AS BIGINT) AS ssl,
         CAST(sum(lo * lo) AS BIGINT) AS sso
  FROM q GROUP BY {user}
)
SELECT {user}, n_events,
       CAST(sl AS DOUBLE) / CAST(n_events * {q} AS DOUBLE) AS c_lat,
       CAST(so AS DOUBLE) / CAST(n_events * {q} AS DOUBLE) AS c_lon,
       sqrt(greatest(
         ((CAST(ssl AS DOUBLE) / CAST(n_events * {q * q} AS DOUBLE)
           - (CAST(sl AS DOUBLE) / CAST(n_events * {q} AS DOUBLE))
             * (CAST(sl AS DOUBLE) / CAST(n_events * {q} AS DOUBLE)))
          + (CAST(sso AS DOUBLE) / CAST(n_events * {q * q} AS DOUBLE)
           - (CAST(so AS DOUBLE) / CAST(n_events * {q} AS DOUBLE))
             * (CAST(so AS DOUBLE) / CAST(n_events * {q} AS DOUBLE)))),
         0.0e0)) AS rog_deg
FROM a
"""


# ---------------------------------------------------------------------------
# Stay-point detection: maximal same-cell dwell runs per user
# ---------------------------------------------------------------------------

def stay_points(df: DataFrame, user: str = "user_id", ts: str = "ts",
                lat: str = "lat", lon: str = "lon", precision: int = 3,
                min_dwell_s: int = 0, min_points: int = 2,
                tiebreak: str | None = None) -> DataFrame:
    """Stay points: maximal runs of consecutive events (per user, time
    order) inside the SAME geohash cell, kept when the run spans
    ``min_dwell_s`` seconds and ``min_points`` events — the
    dwell/visit primitive of mobility analytics (home/work detection,
    POI visits), with the cell index standing in for the classic
    anchor-radius test so the whole operator is relational.

    Shape: ONE user-keyed exchange feeds both window passes (lag
    cell-change flag, then running sum -> run id over the SAME window
    spec, so Spark reuses one sort), then a (user, run) aggregation
    whose map-side partials collapse each run to one row.  All outputs
    are integers/timestamps — bit-identical cross-engine.  ``tiebreak``
    orders same-timestamp events deterministically (pass the event id
    whenever timestamps can collide)."""
    g = with_geohash(df, lat, lon, precision)
    order = [F.col(ts).asc()]
    if tiebreak is not None:
        order.append(F.col(tiebreak).asc())
    w = Window.partitionBy(user).orderBy(*order)
    chg = F.when(F.lag("gh").over(w).isNull()
                 | (F.lag("gh").over(w) != F.col("gh")), 1).otherwise(0)
    run = F.sum(chg).over(
        w.rowsBetween(Window.unboundedPreceding, Window.currentRow))
    runs = g.withColumn("__run", run)
    out = (runs.groupBy(user, F.col("__run").alias("run_idx"), "gh")
           .agg(F.count(F.lit(1)).alias("n_points"),
                F.min(ts).alias("enter_ts"), F.max(ts).alias("exit_ts")))
    # micros, not seconds: Spark's unix_timestamp truncates fractional
    # seconds while DuckDB's epoch() keeps them — unix_micros/epoch_us
    # are the portable pair (same discipline as sessions/colocation)
    dwell = (F.unix_micros(F.col("exit_ts").cast("timestamp"))
             - F.unix_micros(F.col("enter_ts").cast("timestamp"))
             ).alias("dwell_us")
    return (out.select(user, F.col("gh").alias("cell"), "enter_ts",
                       "exit_ts", "n_points", dwell)
            .filter((F.col("dwell_us") >= int(min_dwell_s) * 1_000_000)
                    & (F.col("n_points") >= min_points)))


def stay_points_sql(inner: str, user: str = "user_id", ts: str = "ts",
                    precision: int = 3, min_dwell_s: int = 0,
                    min_points: int = 2,
                    tiebreak: str | None = None) -> str:
    """DuckDB oracle twin of :func:`stay_points`. ``inner`` must expose
    ``lat``/``lon`` plus the user/ts(/tiebreak) columns."""
    keep = f"{user}, {ts}" + (f", {tiebreak}" if tiebreak else "")
    tagged = tagged_select_sql(inner, precision, keep=keep)
    order = f"{ts}" + (f", {tiebreak}" if tiebreak else "")
    tb = f", {tiebreak}" if tiebreak else ""
    return f"""
WITH t AS ({tagged}), c AS (
  SELECT {user}, {ts}{tb}, gh,
         CASE WHEN lag(gh) OVER w IS NULL OR lag(gh) OVER w <> gh
              THEN 1 ELSE 0 END AS chg
  FROM t WINDOW w AS (PARTITION BY {user} ORDER BY {order})
), r AS (
  SELECT {user}, {ts}, gh,
         sum(chg) OVER (PARTITION BY {user} ORDER BY {order}
                        ROWS UNBOUNDED PRECEDING) AS run_idx
  FROM c
)
SELECT {user}, gh AS cell, min({ts}) AS enter_ts, max({ts}) AS exit_ts,
       count(*) AS n_points,
       epoch_us(max({ts})) - epoch_us(min({ts})) AS dwell_us
FROM r GROUP BY {user}, run_idx, gh
HAVING epoch_us(max({ts})) - epoch_us(min({ts})) >= {int(min_dwell_s) * 1_000_000}
   AND count(*) >= {min_points}
"""


# ---------------------------------------------------------------------------
# Trip segmentation: gap-split journeys with exact path length
# ---------------------------------------------------------------------------

def trip_stats(df: DataFrame, user: str = "user_id", ts: str = "ts",
               lat: str = "lat", lon: str = "lon", gap_s: int = 7200,
               min_points: int = 2,
               tiebreak: str | None = None) -> DataFrame:
    """Trip segmentation: split each user's time-ordered event stream
    into trips at gaps > ``gap_s`` seconds, then per trip report point
    count, start/end timestamps, duration, and great-circle path length
    (sum of consecutive-leg haversines).

    Exactness discipline: each leg distance is quantized to integer
    metres (``exact.METRE``) BEFORE the per-trip sum (doubles summed in
    task order are layout-dependent; BIGINT sums are not). Across
    engines JVM and C-library trig differ in the last ulps (~1.5e-8 m
    on 1e7-m legs); a leg that close to a half-metre boundary can still
    round apart, but whole metres make that 1000 times rarer than the
    millimetre quantum, which flipped a leg at sf0.01.  Shape: one
    user-keyed exchange shared by the lag and running-sum windows, then a
    (user, trip) aggregation with map-side partials."""
    order = [F.col(ts).asc()]
    if tiebreak is not None:
        order.append(F.col(tiebreak).asc())
    w = Window.partitionBy(user).orderBy(*order)
    # micros, not seconds (portable vs DuckDB epoch_us — see stay_points)
    ep = F.unix_micros(F.col(ts).cast("timestamp"))
    prev_ep = F.lag(ep).over(w)
    new_trip = F.when(
        prev_ep.isNull() | ((ep - prev_ep) > int(gap_s) * 1_000_000),
        1).otherwise(0)
    from ..functions.native import haversine_m, sql_name
    over = (f"OVER (PARTITION BY {sql_name(user)} ORDER BY "
            + ", ".join(sql_name(c) for c in [ts, tiebreak] if c) + ")")
    leg = haversine_m(f"lag({sql_name(lat)}) {over}", f"lag({sql_name(lon)}) {over}",
                      sql_name(lat), sql_name(lon))
    leg_m = F.when(new_trip == 1, F.lit(0)).otherwise(
        METRE.ticks(leg)).cast("long")
    seg = (df.withColumn("__new", new_trip)
           .withColumn("__leg_m", leg_m)
           .withColumn("__trip", F.sum("__new").over(
               w.rowsBetween(Window.unboundedPreceding, Window.currentRow))))
    out = (seg.groupBy(user, F.col("__trip").alias("trip_idx"))
           .agg(F.count(F.lit(1)).alias("n_points"),
                F.min(ts).alias("start_ts"), F.max(ts).alias("end_ts"),
                F.sum("__leg_m").alias("__m")))
    dur = (F.unix_micros(F.col("end_ts").cast("timestamp"))
           - F.unix_micros(F.col("start_ts").cast("timestamp")))
    return (out.select(
        user, "trip_idx", "n_points", "start_ts", "end_ts",
        dur.alias("duration_us"),
        METRE.real(F.col("__m")).alias("dist_m"))
        .filter(F.col("n_points") >= min_points))


def trip_stats_sql(inner: str, user: str = "user_id", ts: str = "ts",
                   gap_s: int = 7200, min_points: int = 2,
                   tiebreak: str | None = None) -> str:
    """DuckDB oracle twin of :func:`trip_stats` (haversine twin
    expression is bit-exact with the Spark native trig chain)."""
    from ..functions.native import DUCKDB, haversine_sql
    order = f"{ts}" + (f", {tiebreak}" if tiebreak else "")
    tb = f", {tiebreak}" if tiebreak else ""
    hv = haversine_sql("plat", "plon", "lat", "lon", DUCKDB)
    return f"""
WITH l AS (
  SELECT {user}, {ts}{tb}, lat, lon,
         lag({ts}) OVER w AS pts,
         lag(lat) OVER w AS plat, lag(lon) OVER w AS plon
  FROM {inner} WINDOW w AS (PARTITION BY {user} ORDER BY {order})
), s AS (
  SELECT {user}, {ts}{tb},
         CASE WHEN pts IS NULL
                   OR epoch_us({ts}) - epoch_us(pts) > {int(gap_s) * 1_000_000}
              THEN 1 ELSE 0 END AS new_trip,
         CASE WHEN pts IS NULL
                   OR epoch_us({ts}) - epoch_us(pts) > {int(gap_s) * 1_000_000}
              THEN CAST(0 AS BIGINT)
              ELSE {METRE.ticks_sql(hv)}
         END AS leg_m
  FROM l
), r AS (
  SELECT {user}, {ts}, leg_m,
         sum(new_trip) OVER (PARTITION BY {user} ORDER BY {order}
                             ROWS UNBOUNDED PRECEDING) AS trip_idx
  FROM s
)
SELECT {user}, trip_idx, count(*) AS n_points,
       min({ts}) AS start_ts, max({ts}) AS end_ts,
       epoch_us(max({ts})) - epoch_us(min({ts})) AS duration_us,
       {METRE.real_sql('sum(leg_m)')} AS dist_m
FROM r GROUP BY {user}, trip_idx
HAVING count(*) >= {min_points}
"""


def visit_recurrence(df: DataFrame, user: str = "user_id",
                     ts: str = "ts", lat: str = "lat", lon: str = "lon",
                     precision: int = 3) -> DataFrame:
    """Returner-vs-explorer census: how many (user, place) relationships
    involve 1, 2, 3, ... distinct DAYS of visits.

    Three collapsing aggregations, each strictly smaller than the last:
    events -> distinct (user, cell, day) presence (the only
    corpus-sized exchange, with map-side partial dedup) -> per
    (user, cell) distinct-day counts -> the recurrence histogram.
    All-integer output.

    -> (n_days int, n_user_cells long, n_users long): n_user_cells =
    how many (user, cell) pairs were visited on exactly n_days distinct
    days; n_users = distinct users among them.
    """
    pg = with_geohash(df, lat, lon, precision, out="__cell")
    presence = (pg.select(F.col(user).alias("u"), F.col("__cell").alias("c"),
                          F.to_date(F.col(ts)).alias("d"))
                .distinct())
    per_uc = (presence.groupBy("u", "c")
              .agg(F.count(F.lit(1)).alias("n_days")))
    return (per_uc.groupBy(F.col("n_days").cast("int").alias("n_days"))
            .agg(F.count(F.lit(1)).alias("n_user_cells"),
                 F.countDistinct("u").alias("n_users")))


def visit_recurrence_sql(tagged_inner: str, user: str = "user_id",
                         ts: str = "ts") -> str:
    """DuckDB twin — independent formulation: per-(user, cell)
    count(DISTINCT day) directly, no intermediate presence dedup.
    ``tagged_inner`` must expose ``gh``, ``user`` and ``ts``."""
    return (
        f"WITH uc AS (SELECT {user} AS u, gh AS c, "
        f"CAST(count(DISTINCT CAST({ts} AS DATE)) AS INT) AS n_days "
        f"FROM ({tagged_inner}) GROUP BY 1, 2) "
        f"SELECT n_days, CAST(count(*) AS BIGINT) AS n_user_cells, "
        f"CAST(count(DISTINCT u) AS BIGINT) AS n_users "
        f"FROM uc GROUP BY n_days")


def bearing_rose(df: DataFrame, user: str = "user_id", ts: str = "ts",
                 lat: str = "lat", lon: str = "lon",
                 tiebreak: str | None = None) -> DataFrame:
    """Compass rose of movement: initial great-circle bearings of
    consecutive per-user moves, bucketed into the 8 compass sectors
    (0=N 45-degree wedges, clockwise). The direction-bias census that
    complements tile_flows' where-to-where matrix.

    Stationary pairs (exactly equal coordinates — a deterministic,
    trig-free test) are dropped: their bearing is undefined.

    One user-keyed window exchange (shared shape with tile_flows),
    then an 8-group aggregation. The bearing uses the standard
    forward-azimuth formula; both engines evaluate the identical IEEE
    expression tree, and sector edges at 45-degree multiples are hit
    by synthetic data with probability ~0 (same risk class as every
    haversine threshold in this engine).

    -> (sector int, n_moves long, n_users long).
    """
    order = [F.col(ts).asc()]
    if tiebreak is not None:
        order.append(F.col(tiebreak).asc())
    w = Window.partitionBy(user).orderBy(*order)
    g = (df.withColumn("__plat", F.lag(F.col(lat).cast("double")).over(w))
         .withColumn("__plon", F.lag(F.col(lon).cast("double")).over(w)))
    mv = g.filter(F.col("__plat").isNotNull()
                  & ((F.col("__plat") != F.col(lat))
                     | (F.col("__plon") != F.col(lon))))
    dlam = F.radians(F.col(lon) - F.col("__plon"))
    y = F.sin(dlam) * F.cos(F.radians(F.col(lat)))
    x = (F.cos(F.radians(F.col("__plat"))) * F.sin(F.radians(F.col(lat)))
         - F.sin(F.radians(F.col("__plat"))) * F.cos(F.radians(F.col(lat)))
         * F.cos(dlam))
    deg = F.degrees(F.atan2(y, x))
    sector = F.least(F.floor(F.pmod(deg + F.lit(360.0), F.lit(360.0))
                             / F.lit(45.0)), F.lit(7))
    return (mv.groupBy(sector.cast("int").alias("sector"))
            .agg(F.count(F.lit(1)).alias("n_moves"),
                 F.countDistinct(user).alias("n_users")))


def bearing_rose_sql(inner: str, user: str = "user_id", ts: str = "ts",
                     lat: str = "lat", lon: str = "lon",
                     tiebreak: str | None = None) -> str:
    """DuckDB twin of :func:`bearing_rose` — the identical IEEE
    expression tree over the same lag window."""
    order = f"{ts}" + (f", {tiebreak}" if tiebreak else "")
    dlam = f"radians({lon} - plon)"
    y = f"sin({dlam}) * cos(radians({lat}))"
    x = (f"cos(radians(plat)) * sin(radians({lat})) "
         f"- sin(radians(plat)) * cos(radians({lat})) * cos({dlam})")
    deg = f"degrees(atan2({y}, {x}))"
    sector = (f"CAST(least(floor(((({deg}) + 360.0) % 360.0 + 360.0) "
              f"% 360.0 / 45.0), 7) AS INT)")
    return f"""
WITH l AS (
  SELECT {user}, {lat}, {lon},
         lag(CAST({lat} AS DOUBLE)) OVER (PARTITION BY {user} ORDER BY {order}) AS plat,
         lag(CAST({lon} AS DOUBLE)) OVER (PARTITION BY {user} ORDER BY {order}) AS plon
  FROM ({inner})
)
SELECT {sector} AS sector, CAST(count(*) AS BIGINT) AS n_moves,
       CAST(count(DISTINCT {user}) AS BIGINT) AS n_users
FROM l WHERE plat IS NOT NULL AND (plat <> {lat} OR plon <> {lon})
GROUP BY 1
"""
