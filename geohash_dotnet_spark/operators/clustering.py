"""Grid-density spatial clustering (grid-DBSCAN) over XYZ tiles.

The classic "find the hotspot REGIONS, not just the hot cells" analytics
op: aggregate points into Web-Mercator tiles (functions/tiles.py), keep
tiles with at least ``min_count`` points (the DBSCAN density test with
the tile as the epsilon-neighborhood), then connect dense tiles that
touch (8-neighbor adjacency, antimeridian-wrapped in x) into clusters —
i.e. DBSCAN where core points are dense cells and reachability is grid
adjacency (the GriT-DBSCAN / grid-based DBSCAN family).

Scale shape (the reason this beats point-level DBSCAN at 100 TB):
the corpus is touched exactly once, by the tile aggregation (one
partial+final agg exchange on the tile key). Everything after — the
8-way neighbor explode, the dense⋈dense adjacency equi-join, and the
hash-to-min label propagation — runs on the DENSE-TILE table, whose
size is bounded by 4^z regardless of corpus size (at z=12 that is
≤16.7M rows against 10^10+ points). Label propagation reuses
``connected_components`` (operators/dedup.py): pointer jumping gives
O(log diameter) rounds, and hotspot blobs are low-diameter.

Cluster labels are deterministic: ``cluster_id`` is the minimum packed
tile id ``x·2^z + y`` reachable in the component, so results are
layout- and cluster-size-independent (the driver gate replays the whole
thing against a DuckDB recursive-CTE closure).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.tiles import (
    check_zoom,
    tile_x,
    tile_x_sql,
    tile_y_portable,
    tile_y_portable_sql,
)
from .dedup import connected_components

__all__ = ["tile_density_clusters", "tile_density_clusters_sql"]


def tile_density_clusters(df: DataFrame, lat: str = "lat",
                          lon: str = "lon", z: int = 8,
                          min_count: int = 5) -> DataFrame:
    """Cluster dense tiles into connected hotspot regions.

    Returns one row per DENSE tile: ``(z, x, y, n_points, cluster_id,
    cluster_size)`` — ``cluster_id`` the min packed tile id of the
    connected component (a dense tile with no dense neighbor is its own
    singleton cluster), ``cluster_size`` the component's tile count.
    Rows with a NULL coordinate have no tile: they group as x = y = NULL.
    """
    check_zoom(z)
    n = 1 << z
    # localCheckpoint (not just persist): the label-propagation loop
    # re-embeds its inputs into each round's logical plan, so the
    # corpus-side lineage must be TRUNCATED here or the plan tree grows
    # exponentially with rounds. The checkpointed table is tile-bounded
    # (<= 4^z rows) — the same executor-loss trade dedup.py's loop
    # already takes every 8 rounds.
    dense = (
        df.select(tile_x(F.col(lon), z).alias("x"),
                  tile_y_portable(F.col(lat), z).alias("y"))
        .groupBy("x", "y")
        .agg(F.count(F.lit(1)).alias("n_points"))
        .filter(F.col("n_points") >= int(min_count))
        .withColumn("tid", (F.col("x") * n + F.col("y")).cast("long"))
        .localCheckpoint())

    # 8-neighbor explode on the dense table (x wraps at the
    # antimeridian; y is clamped — Mercator has no pole wrap), then an
    # equi-join back against the dense set keeps edges between dense
    # tiles only. Both sides are tile-bounded, never corpus-sized.
    offs = F.array(*[
        F.struct(F.lit(dx).alias("dx"), F.lit(dy).alias("dy"))
        for dx in (-1, 0, 1) for dy in (-1, 0, 1) if (dx, dy) != (0, 0)])
    nbr = (dense.select("tid", "x", "y", F.explode(offs).alias("o"))
           .select(F.col("tid").alias("u"),
                   ((F.col("x") + F.col("o.dx") + n) % n).alias("nx"),
                   (F.col("y") + F.col("o.dy")).alias("ny"))
           .filter((F.col("ny") >= 0) & (F.col("ny") < n)))
    edges = (nbr.join(dense.select(F.col("x").alias("nx"),
                                   F.col("y").alias("ny"),
                                   F.col("tid").alias("v")),
                      ["nx", "ny"])
             .select(F.col("u").alias("id_a"), F.col("v").alias("id_b")))

    comp = connected_components(edges)
    return (dense
            .join(comp, dense["tid"] == comp["id"], "left")
            .select(F.lit(z).cast("long").alias("z"),
                    "x", "y", "n_points",
                    F.coalesce(F.col("cluster_id"),
                               F.col("tid")).alias("cluster_id"),
                    F.coalesce(F.col("n_members"),
                               F.lit(1).cast("long")).alias("cluster_size")))


def tile_density_clusters_sql(inner: str, lat: str = "lat",
                              lon: str = "lon", z: int = 8,
                              min_count: int = 5) -> str:
    """DuckDB oracle twin: same portable tile math, adjacency as a
    non-equi modulo self-join, components as a recursive-CTE min-label
    transitive closure (fine at oracle scale; the Spark side is the one
    that has to scale)."""
    n = 1 << z
    return f"""
WITH RECURSIVE pts AS (
  SELECT {tile_x_sql(lon, z)} AS x, {tile_y_portable_sql(lat, z)} AS y
  FROM {inner}
), dense AS (
  SELECT x, y, count(*) AS n_points, x * {n} + y AS tid
  FROM pts GROUP BY x, y HAVING count(*) >= {int(min_count)}
), edges AS (
  SELECT a.tid AS u, b.tid AS v
  FROM dense a JOIN dense b ON a.tid <> b.tid
   AND ((a.x - b.x + {n}) % {n} <= 1 OR (b.x - a.x + {n}) % {n} <= 1)
   AND abs(a.y - b.y) <= 1
), reach(id, lbl) AS (
  SELECT u AS id, u AS lbl FROM edges
  UNION
  SELECT e.v AS id, r.lbl FROM reach r JOIN edges e ON e.u = r.id
), comp AS (
  SELECT id, MIN(lbl) AS cluster_id FROM reach GROUP BY id
), sz AS (
  SELECT cluster_id, count(*) AS cluster_size FROM comp GROUP BY cluster_id
)
SELECT CAST({z} AS BIGINT) AS z, d.x, d.y, d.n_points,
       COALESCE(c.cluster_id, d.tid) AS cluster_id,
       COALESCE(s.cluster_size, 1) AS cluster_size
FROM dense d
LEFT JOIN comp c ON c.id = d.tid
LEFT JOIN sz s ON s.cluster_id = c.cluster_id
"""
