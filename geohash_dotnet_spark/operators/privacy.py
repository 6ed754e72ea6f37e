"""K-anonymous tile generalization: publishable per-tile counts where
every emitted tile carries at least k records — small cells generalize
up the geohash hierarchy instead of leaking.

The privacy side of tile analytics (mobility reports, census-style
releases): a precision-6 cell with 3 users identifies them; the
k-anonymity rule is "emit a cell only when its count ≥ k, otherwise
fold it into its parent and try again a level up". The geohash
hierarchy makes the generalization ladder free — parent = prefix.

Semantics (deterministic, order-free): counts start at ``precision``;
each level emits cells with n ≥ k; the RESIDUAL below-k cells roll
their counts into their parents, where they combine with sibling
residuals (never with already-emitted descendants — those rows left
the ladder) and re-test. Residual mass still below k at precision 1
is reported as one ``tile='*'`` suppression row (so the output always
accounts for every input record: sum(n) == |input|).

Scale shape: ONE corpus-scale exchange (the precision-p count; partial
aggs collapse event volume map-side). Every later level re-aggregates
only the BELOW-k cells of the level beneath — each such cell holds
< k rows' worth of count, and there are at most 32× fewer cells per
level, so the ladder's data volume shrinks geometrically; the union
output is assembled without any driver loop state, collect(), or
cache. Unlike time_rollup, tile_pyramid and adaptive_cells (ONE
level-exploded aggregation; each level a function of the leaf key),
the residual at level L depends on which cells were emitted at level
L+1, so it has no closed form and each rung reads the one beneath it.

Counts are exact BIGINTs end to end — bit-identical on any layout,
any cluster size, and in the DuckDB unrolled-CTE replay.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.native import with_geohash

__all__ = ["k_anonymous_tiles", "k_anonymous_tiles_sql"]


def k_anonymous_tiles(df: DataFrame, k: int, precision: int,
                      lat: str = "lat", lon: str = "lon") -> DataFrame:
    """(tile, level, n) k-anonymous release: every row has n >= k
    except the single optional root suppression row (tile='*',
    level=0) holding the unpublishable remainder. sum(n) equals the
    input row count exactly."""
    if k < 1:
        raise ValueError("k must be >= 1")
    if not (1 <= precision <= 12):
        raise ValueError("precision out of range")
    tagged = with_geohash(df, lat, lon, precision)
    cur = (tagged.groupBy(F.col("gh").alias("tile"))
           .agg(F.count(F.lit(1)).alias("n")))
    out = None
    for level in range(precision, 0, -1):
        emit = (cur.filter(F.col("n") >= k)
                .select("tile", F.lit(level).cast("long").alias("level"),
                        "n"))
        out = emit if out is None else out.unionByName(emit)
        rest = cur.filter(F.col("n") < k)
        if level > 1:
            cur = (rest.groupBy(F.substring("tile", 1, level - 1)
                                .alias("tile"))
                   .agg(F.sum("n").alias("n")))
        else:
            suppressed = (rest.agg(F.sum("n").alias("n"))
                          .filter(F.col("n").isNotNull())
                          .select(F.lit("*").alias("tile"),
                                  F.lit(0).cast("long").alias("level"),
                                  "n"))
            out = out.unionByName(suppressed)
    return out


def k_anonymous_tiles_sql(tagged_inner: str, k: int,
                          precision: int) -> str:
    """DuckDB oracle twin: the same ladder as unrolled MATERIALIZED
    CTEs (each level's count table is read twice — emit and residual).
    ``tagged_inner`` must expose a ``gh`` column at ``precision``."""
    blocks = [f"""
c{precision} AS MATERIALIZED (
  SELECT gh AS tile, CAST(count(*) AS BIGINT) AS n
  FROM ({tagged_inner}) GROUP BY gh
)"""]
    selects = [f"SELECT tile, CAST({precision} AS BIGINT) AS level, n "
               f"FROM c{precision} WHERE n >= {int(k)}"]
    for level in range(precision - 1, 0, -1):
        blocks.append(f"""
c{level} AS MATERIALIZED (
  SELECT substr(tile, 1, {level}) AS tile, CAST(sum(n) AS BIGINT) AS n
  FROM c{level + 1} WHERE n < {int(k)} GROUP BY substr(tile, 1, {level})
)""")
        selects.append(f"SELECT tile, CAST({level} AS BIGINT) AS level, n "
                       f"FROM c{level} WHERE n >= {int(k)}")
    selects.append(
        f"SELECT '*' AS tile, CAST(0 AS BIGINT) AS level, "
        f"CAST(sum(n) AS BIGINT) AS n FROM c1 WHERE n < {int(k)} "
        f"HAVING sum(n) IS NOT NULL")
    return ("WITH " + ",".join(blocks) + "\n"
            + "\nUNION ALL\n".join(selects))
