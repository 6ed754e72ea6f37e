"""Adaptive (quadtree-style) cell refinement: split dense geohash cells
into their 32 children until every emitted cell holds at most
``threshold`` points (or ``max_precision`` is reached).

The skew answer for tile analytics at 100 TB: a fixed precision either
drowns dense urban tiles (too coarse) or scatters rural ones across
billions of empty cells (too fine). Adaptive refinement gives every
emitted cell a bounded population, so downstream per-cell work (joins,
renders, per-tile models) is balanced by construction — the same idea
as geohash-dotnet's auto-precision RadiusHasher (src/RadiusHasher.cs),
applied to a population histogram instead of a radius.

Spark plan (scale story): ONE corpus aggregation at ``max_precision``
builds the leaf-count table — the only operator that ever touches the
corpus. Every level is a pure function of the leaf key (level-k cell =
length-k prefix), so each leaf row is exploded into its
``base_precision..max_precision`` prefixes and ONE ``groupBy(level,
cell)`` counts every level at once; the parent's count is a window sum
over ``(level, parent prefix)``. The plan has three Exchanges whatever
the depth, and every stage after the first runs on aggregated cell
tables (<= (max - base + 1) * min(N, 32^max_precision) rows).

Emission rule (what the output MEANS): a cell is emitted at the
smallest level >= ``base_precision`` where its population is <=
``threshold``; cells still over the threshold at ``max_precision`` are
emitted there (marked by level = max_precision and n_pages >
threshold). Emitted cells partition the populated space: every point
lies in exactly one emitted cell, so ``sum(n_pages)`` equals the
corpus row count (asserted in tests).

Because ancestor counts never increase with depth, a cell is emitted
exactly when it fits (or sits at ``max_precision``) and its parent
does not fit (or it sits at ``base_precision``).

The DuckDB twin verifies with a DIFFERENT formulation: per
max-precision leaf cell it picks the emission ancestor (the smallest
ancestor level whose count fits) through one join per level, then
de-duplicates. Per-cell rule vs per-leaf ancestor pick agreeing is the
check.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..functions.native import with_geohash

__all__ = ["adaptive_cells", "adaptive_cells_sql"]


def adaptive_cells(df: DataFrame, lat: str = "lat", lon: str = "lon",
                   base_precision: int = 1, max_precision: int = 3,
                   threshold: int = 1000) -> DataFrame:
    """-> (cell string, level int, n_pages long): the adaptive covering
    of the point set, every cell at the shallowest precision in
    [base_precision, max_precision] with population <= threshold."""
    if not (1 <= base_precision <= max_precision <= 12):
        raise ValueError(
            f"need 1 <= base_precision <= max_precision <= 12, got "
            f"{base_precision}..{max_precision}")
    if threshold < 1:
        raise ValueError(f"threshold must be >= 1, got {threshold}")

    pg = with_geohash(df, lat, lon, max_precision, out="__gh")
    leaf = pg.groupBy("__gh").agg(F.count(F.lit(1)).alias("n"))
    levels = F.sequence(F.lit(base_precision), F.lit(max_precision))
    counts = (leaf.select("__gh", "n", F.explode(levels).alias("level"))
              .groupBy("level", F.expr("substr(__gh, 1, level)").alias("cell"))
              .agg(F.sum("n").alias("n_pages")))
    parent_n = F.sum("n_pages").over(Window.partitionBy(
        "level", F.expr("substr(cell, 1, level - 1)")))
    thr = F.lit(int(threshold))
    lv = F.col("level")
    return (counts.withColumn("__parent_n", parent_n)
            .filter(((F.col("n_pages") <= thr) | (lv == max_precision))
                    & ((lv == base_precision) | (F.col("__parent_n") > thr)))
            .select("cell", "level", "n_pages"))


def adaptive_cells_sql(tagged_max_sql: str, base_precision: int = 1,
                       max_precision: int = 3,
                       threshold: int = 1000) -> str:
    """DuckDB twin. ``tagged_max_sql`` must expose a ``gh`` geohash
    column at ``max_precision`` (functions.oracle.tagged_select_sql).

    Independent formulation: per leaf cell, the emission ancestor in
    closed form — smallest level whose (monotone non-increasing)
    ancestor count is <= threshold, else the leaf itself."""
    ks = list(range(base_precision, max_precision))
    if not ks:  # base == max: plain fixed-precision histogram
        return (f"SELECT gh AS cell, CAST({max_precision} AS INT) AS level, "
                f"CAST(count(*) AS BIGINT) AS n_pages "
                f"FROM ({tagged_max_sql}) GROUP BY 1")
    ladder = [f"leaf AS (SELECT gh AS cell, CAST(count(*) AS BIGINT) AS n "
              f"FROM ({tagged_max_sql}) GROUP BY 1)"]
    for k in ks:
        ladder.append(
            f"lv{k} AS (SELECT substr(cell, 1, {k}) AS cell, "
            f"CAST(sum(n) AS BIGINT) AS n FROM leaf GROUP BY 1)")
    joins = " ".join(
        f"JOIN lv{k} a{k} ON a{k}.cell = substr(l.cell, 1, {k})" for k in ks)
    cell_case = ("CASE "
                 + " ".join(f"WHEN a{k}.n <= {int(threshold)} "
                            f"THEN a{k}.cell" for k in ks)
                 + " ELSE l.cell END")
    n_case = ("CASE "
              + " ".join(f"WHEN a{k}.n <= {int(threshold)} THEN a{k}.n"
                         for k in ks)
              + " ELSE l.n END")
    return (f"WITH {', '.join(ladder)} "
            f"SELECT DISTINCT {cell_case} AS cell, "
            f"CAST(length({cell_case}) AS INT) AS level, "
            f"{n_case} AS n_pages FROM leaf l {joins}")
