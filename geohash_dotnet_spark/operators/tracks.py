"""Trajectory (polyline) to geohash-cell coverage.

The reference covers polygons and circles (`/root/reference/src/
PolygonHasher.cs`, `RadiusHasher.cs`); routes/tracks are the third shape
web-scale geo pipelines need (map-matching, corridor joins, movement
tile rollups). Semantics here are SAMPLING-BASED and engine-portable:
each segment is sampled at >= 2 points per cell step (endpoints always
included), every sample is geohash-encoded with the native JVM encode,
and the per-track distinct cell set is the covering. A cell the segment
only corner-clips for less than half a cell step may be missed — that
is the documented contract (identical in the DuckDB twin, which replays
the same sample lattice bit-for-bit); densify with ``oversample`` where
the guarantee must tighten.

Scale shape: one projection computes the per-segment sample count, an
``explode(sequence(...))`` fans samples out WITHOUT any shuffle (rows
expand in place), the encode is the same staged codegen projection the
pages pipeline uses, and the only exchange is the final per-track
distinct — keyed by (track, cell), the output's own key. Long segments
are bounded by an admission guard (`max_samples_per_segment`) mirroring
the reference's candidate-cell ceiling (src/RadiusHasher.cs:56-63).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.native import with_geohash
from ..functions.oracle import tagged_select_sql
from ..kernels.geohash import lat_lng_steps

__all__ = ["cover_tracks", "cover_tracks_sql", "corridor_join",
           "corridor_join_sql", "snap_to_route", "snap_to_route_sql"]


def _samples_expr(lat_step: float, lng_step: float, oversample: float,
                  cap: int):
    """Per-segment sample count n (segment is split into n spans, n+1
    points): >= oversample points per cell step crossed, >= 1."""
    spans = F.greatest(
        F.abs(F.col("lat2") - F.col("lat1")) / F.lit(lat_step),
        F.abs(F.col("lon2") - F.col("lon1")) / F.lit(lng_step))
    return F.least(F.greatest(F.ceil(spans * F.lit(oversample)),
                              F.lit(1)).cast("int"),
                   F.lit(cap))


def cover_tracks(segments: DataFrame, precision: int,
                 track_col: str = "track_id", oversample: float = 2.0,
                 max_samples_per_segment: int = 100_000,
                 guard: bool = True) -> DataFrame:
    """(track_id, gh) distinct cell covering of each track's segments.

    ``segments`` needs columns (track_col, lat1, lon1, lat2, lon2).
    ``guard=True`` raises when any segment would exceed the sample
    ceiling instead of silently truncating its covering.
    """
    lat_step, lng_step = lat_lng_steps(precision)
    n = _samples_expr(lat_step, lng_step, oversample,
                      max_samples_per_segment)
    seg = segments.withColumn("__n", n)
    if guard:
        spans = F.greatest(
            F.abs(F.col("lat2") - F.col("lat1")) / F.lit(lat_step),
            F.abs(F.col("lon2") - F.col("lon1")) / F.lit(lng_step))
        need = F.ceil(spans * F.lit(oversample))
        over = seg.filter(need > F.lit(max_samples_per_segment)).count()
        if over:
            raise ValueError(
                f"{over} segment(s) need more than "
                f"{max_samples_per_segment} samples at precision "
                f"{precision}; raise max_samples_per_segment, lower the "
                f"precision, or split the segments")
    t = (F.col("__i").cast("double") / F.col("__n"))
    pts = (seg.select(F.col(track_col),
                      "lat1", "lon1", "lat2", "lon2", "__n",
                      F.explode(F.sequence(F.lit(0), F.col("__n")))
                      .alias("__i"))
           .withColumns({
               "lat": F.col("lat1") + (F.col("lat2") - F.col("lat1")) * t,
               "lon": F.col("lon1") + (F.col("lon2") - F.col("lon1")) * t,
           }))
    return (with_geohash(pts, "lat", "lon", precision, out="gh")
            .select(track_col, "gh")
            .distinct())


def cover_tracks_sql(inner: str, precision: int,
                     track_col: str = "track_id", oversample: float = 2.0,
                     max_samples_per_segment: int = 100_000) -> str:
    """DuckDB twin of cover_tracks: same sample lattice (identical IEEE
    arithmetic), same staged encode, same distinct."""
    lat_step, lng_step = lat_lng_steps(precision)
    spans = (f"greatest(abs(lat2 - lat1) / {lat_step!r}, "
             f"abs(lon2 - lon1) / {lng_step!r})")
    n = (f"least(CAST(greatest(ceil({spans} * {oversample!r}), 1) AS INT), "
         f"{max_samples_per_segment})")
    pts = f"""
SELECT {track_col},
       lat1 + (lat2 - lat1) * (CAST(__i AS DOUBLE) / __n) AS lat,
       lon1 + (lon2 - lon1) * (CAST(__i AS DOUBLE) / __n) AS lon
FROM (SELECT *, unnest(range(0, __n + 1)) AS __i
      FROM (SELECT *, {n} AS __n FROM ({inner})))
"""
    tagged = tagged_select_sql(pts, precision, keep=track_col)
    return f"SELECT DISTINCT {track_col}, gh FROM ({tagged})"


# ---------------------------------------------------------------------------
# Corridor (route-buffer) join
# ---------------------------------------------------------------------------

def _corridor_candidates(segments: list[tuple], precision: int,
                         radius_deg: float):
    """(seg_id, cell) candidate pairs: dense segment sampling (L-inf
    spacing <= min_dim/2) + a 2-ring neighbor expansion.

    Soundness: any point within radius_deg (<= min_dim) of the segment
    sits in a cell <= 1 ring from some cell the segment crosses, and
    every crossed cell is <= 1 ring from a sampled cell (the chord
    inside it passes within half a cell of a sample) — so 2 rings
    around the sampled cells over-approximate the corridor. The refine
    step restores exactness.
    """
    import numpy as np

    from ..kernels.geohash import encode, lat_lng_steps, neighbors

    lat_step, lng_step = lat_lng_steps(precision)
    min_dim = min(lat_step, lng_step)
    if radius_deg > min_dim:
        raise ValueError(
            f"radius_deg={radius_deg} exceeds the precision-{precision} "
            f"min cell dimension {min_dim}; lower the precision (the "
            f"candidate ring argument needs radius <= one cell)")
    out = []
    for seg_id, y1, x1, y2, x2 in segments:
        spans = max(abs(y2 - y1) / (min_dim / 2.0),
                    abs(x2 - x1) / (min_dim / 2.0), 1.0)
        n = int(np.ceil(spans)) + 1
        t = np.linspace(0.0, 1.0, n)
        cells = set(encode(y1 + t * (y2 - y1), x1 + t * (x2 - x1),
                           precision).tolist())
        for _ in range(2):  # 2-ring expansion
            arr = np.array(sorted(cells))
            for v in neighbors(arr).values():
                cells.update(v.tolist())
        out += [(str(seg_id), c) for c in sorted(cells)]
    return out


_SEG_DIST = """CASE WHEN {l2} = 0.0D THEN
  sqrt(({px} - {x1}) * ({px} - {x1}) + ({py} - {y1}) * ({py} - {y1}))
ELSE sqrt(
  ({px} - ({x1} + least(greatest((({px} - {x1}) * {dx} + ({py} - {y1})
    * {dy}) / {l2}, 0.0D), 1.0D) * {dx}))
  * ({px} - ({x1} + least(greatest((({px} - {x1}) * {dx} + ({py} - {y1})
    * {dy}) / {l2}, 0.0D), 1.0D) * {dx}))
  + ({py} - ({y1} + least(greatest((({px} - {x1}) * {dx} + ({py} - {y1})
    * {dy}) / {l2}, 0.0D), 1.0D) * {dy}))
  * ({py} - ({y1} + least(greatest((({px} - {x1}) * {dx} + ({py} - {y1})
    * {dy}) / {l2}, 0.0D), 1.0D) * {dy}))) END"""


def _seg_dist_expr(px, py, x1, y1, x2, y2, double_suffix: str) -> str:
    """Planar point-to-segment distance, one shared IEEE tree: only
    +,-,*,/ and sqrt/clamp — every op correctly rounded, so the double
    is bit-identical across engines and layouts (the user_mobility
    argument; no fp6 needed). ``double_suffix`` renders double
    literals per dialect ('D' for Spark SQL, 'e0' for DuckDB)."""
    dx = f"({x2} - {x1})"
    dy = f"({y2} - {y1})"
    l2 = f"({dx} * {dx} + {dy} * {dy})"
    return (_SEG_DIST
            .format(px=px, py=py, x1=x1, y1=y1, dx=dx, dy=dy, l2=l2)
            .replace("0.0D", "0.0" + double_suffix)
            .replace("1.0D", "1.0" + double_suffix))


def corridor_join(points: DataFrame, segments: list[tuple],
                  radius_deg: float, precision: int,
                  lat: str = "lat", lon: str = "lon") -> DataFrame:
    """Points within ``radius_deg`` (planar degree-space, the
    user_mobility convention) of any route segment.

    ``segments``: [(seg_id, lat1, lon1, lat2, lon2)] — query-side
    small (a route). Returns the input columns + (seg_id, dist_deg),
    one row per (point, segment) hit. Planar semantics are consistent
    end-to-end (candidates, refine, and the brute-force oracle all
    non-wrapping): a route crossing the antimeridian must be split
    into two segments at ±180 by the caller, the same contract
    split_antimeridian serves for polygons.

    Plan: candidate cells are generated DRIVER-side per segment
    (sample + 2-ring expansion — sound over-approximation, see
    :func:`_corridor_candidates`) and broadcast; points take one
    geohash tag projection and one broadcast hash join, then the exact
    planar segment distance (a pure codegen expression — no UDF)
    refines. The point table never shuffles; segment geometry rides
    the broadcast rows, so the refine needs no second join.
    """
    from .spatial_join import cell_join, tag_pages

    spark = points.sparkSession
    cand = _corridor_candidates(segments, precision, radius_deg)
    geom = {str(s[0]): s[1:] for s in segments}
    if len(geom) != len(segments):
        raise ValueError("duplicate seg_id in segments: ids must be "
                         "unique, or points would refine against the "
                         "wrong segment geometry")
    cov = spark.createDataFrame(
        [(sid, cell) + tuple(float(v) for v in geom[sid])
         for sid, cell in cand],
        "seg_id string, gh string, y1 double, x1 double, "
        "y2 double, x2 double")
    tagged = tag_pages(points, precision, lat=lat, lon=lon)
    j = cell_join(tagged, cov)
    dist = F.expr(_seg_dist_expr(lon, lat, "x1", "y1", "x2", "y2", "D"))
    return (j.withColumn("dist_deg", dist)
            .filter(F.col("dist_deg") <= F.lit(float(radius_deg)))
            .drop("gh", "y1", "x1", "y2", "x2"))


def corridor_join_sql(inner: str, segments: list[tuple],
                      radius_deg: float, keep: str,
                      lat: str = "lat", lon: str = "lon") -> str:
    """INDEPENDENT brute-force DuckDB oracle: points CROSS JOIN the
    segment list with the same shared-IEEE-tree distance — no cell
    index anywhere, so the candidate generation's soundness is what
    the value gate checks. ``keep`` lists the point columns to carry."""
    vals = ", ".join(
        f"('{sid}', CAST({y1!r} AS DOUBLE), CAST({x1!r} AS DOUBLE), "
        f"CAST({y2!r} AS DOUBLE), CAST({x2!r} AS DOUBLE))"
        for sid, y1, x1, y2, x2 in segments)
    dist = _seg_dist_expr(f"p.{lon}", f"p.{lat}",
                          "s.x1", "s.y1", "s.x2", "s.y2", "e0")
    return f"""
WITH s(seg_id, y1, x1, y2, x2) AS (VALUES {vals})
SELECT {keep}, s.seg_id, {dist} AS dist_deg
FROM ({inner}) p CROSS JOIN s
WHERE {dist} <= {radius_deg!r}
"""


def snap_to_route(points: DataFrame, segments: list[tuple],
                  radius_deg: float, precision: int, id_col: str,
                  lat: str = "lat", lon: str = "lon") -> DataFrame:
    """Map-matching lite: snap each point to its NEAREST route segment
    within ``radius_deg`` (points farther than the radius from every
    segment are dropped — they're off-route).

    Composition: :func:`corridor_join` provides the (point, segment,
    dist) candidates (broadcast candidates, UDF-free refine, point
    table never shuffled); the argmin is a partial-aggregable
    ``min(struct(dist, seg_id))`` keyed by the point id — no window,
    no sort, ties break to the lexicographically smallest seg_id
    (deterministic because dist doubles are bit-identical everywhere).
    """
    cand = corridor_join(points, segments, radius_deg, precision,
                         lat=lat, lon=lon)
    best = F.min(F.struct(F.col("dist_deg"), F.col("seg_id"))).alias("b")
    return (cand.groupBy(id_col).agg(best)
            .select(id_col, F.col("b.seg_id").alias("seg_id"),
                    F.col("b.dist_deg").alias("dist_deg")))


def snap_to_route_sql(inner: str, segments: list[tuple],
                      radius_deg: float, id_col: str,
                      lat: str = "lat", lon: str = "lon") -> str:
    """DuckDB oracle twin of :func:`snap_to_route`: the brute-force
    cross join + a QUALIFY row_number argmin — an independent
    formulation of the same nearest rule."""
    corridor = corridor_join_sql(inner, segments, radius_deg,
                                 keep=f"p.{id_col}", lat=lat, lon=lon)
    return f"""
SELECT {id_col}, seg_id, dist_deg FROM ({corridor})
QUALIFY row_number() OVER (PARTITION BY {id_col}
                           ORDER BY dist_deg, seg_id) = 1
"""
