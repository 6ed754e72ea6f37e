"""Cell-index spatial join — the engine's core dataflow operator.

Canonical usage from the reference README (/root/reference/README.md:58-86):
cover a shape, key the fact table by geohash, equi-join on the cell id,
then refine with the exact predicate. Here:

    pages -> with_geohash(p) -> JOIN coverage(shape_id, cell) -> [refine]

Every join on a covering cell in the engine goes through ``cell_join``:
coverage sets are query-side small, so the covering is broadcast and the
pages table is never shuffled, and the join key is the cell made
non-nullable. The polygon refine is ``zonal.zone_members``' JVM even-odd
test, shared with ``zonal_stats``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.native import sql_name, with_geohash

_HOWS = ("inner", "left", "left_semi", "left_anti")


def tag_pages(pages_df: DataFrame, precision: int, lat: str = "lat",
              lon: str = "lon", out: str = "gh") -> DataFrame:
    """Key a point table by its geohash cell (JVM-native encode)."""
    return with_geohash(pages_df, lat, lon, precision, out)


def cell_join(tagged: DataFrame, cov: DataFrame, how: str = "inner",
              gh_col: str = "gh") -> DataFrame:
    """``tagged.join(broadcast(cov), on=gh_col, how=how)`` for ``how`` in
    inner, left, left_semi and left_anti, keyed on the cell with NULL as
    ''; the cell keeps its place among ``tagged``'s columns. A NULL cell
    matches no covering cell either way, but on the nullable cell the
    optimizer infers an ``isnotnull`` filter and pushes it down through
    every encode stage, which doubled the flagship's planning time
    (0.07 -> 0.14 s on a 4-core VM). A right or full join would drop the
    key of a covering cell that no row matches, so it is refused."""
    if how not in _HOWS:
        raise ValueError(f"how must be one of {', '.join(_HOWS)}; got {how!r}")
    key = "__cell_key"
    return (tagged.withColumn(key, F.expr(f"coalesce({sql_name(gh_col)}, '')"))
            .join(F.broadcast(cov.withColumnRenamed(gh_col, key)),
                  on=key, how=how)
            .drop(key))


def spatial_join(pages_df: DataFrame, coverage_df: DataFrame, precision: int,
                 how: str = "inner", gh_col: str = "gh") -> DataFrame:
    """Equi-join pages to exploded coverage sets on the cell id.

    ``coverage_df``: (shape id column(s), cell string) — from
    cover_polygons / cover_circles or a precomputed covering.
    ``how='left_semi'`` gives the pure containment filter; ``how`` takes
    the values ``cell_join`` takes.
    """
    tagged = pages_df if gh_col in pages_df.columns else \
        tag_pages(pages_df, precision, out=gh_col)
    cov = coverage_df.withColumnRenamed("cell", gh_col) \
        if "cell" in coverage_df.columns else coverage_df
    out = cell_join(tagged, cov, how, gh_col)
    # the USING-join column order: the cell first
    return out.select(gh_col, *[c for c in out.columns if c != gh_col])


def spatial_join_refined(pages_df: DataFrame, wkt: str, precision: int,
                         lat: str = "lat", lon: str = "lon") -> DataFrame:
    """The pages exactly inside the WKT polygon (even-odd, holes and
    antimeridian parts included), with their cell ``gh`` first.

    The polygon's covering at ``precision`` is joined as ``zonal_stats``
    joins a zone: points in ``contains`` cells pass on the cell id alone,
    points in boundary cells run the JVM even-odd test
    (README.md:62-72 recipe).
    """
    from .zonal import zone_members

    joined = zone_members(pages_df, [("", wkt)], precision, lat, lon)
    return joined.filter(F.col("__member")).select(
        "gh", *[c for c in pages_df.columns if c != "gh"])


def tile_stats(pages_df: DataFrame, precision: int, prefix_len: int | None = None,
               gh_col: str = "gh") -> DataFrame:
    """Per-tile page counts (partial+final hash agg, shuffle only on the
    tile key). ``prefix_len`` rolls tiles up to a coarser ancestor."""
    tagged = pages_df if gh_col in pages_df.columns else \
        tag_pages(pages_df, precision, out=gh_col)
    key = F.substring(F.col(gh_col), 1, prefix_len) if prefix_len else F.col(gh_col)
    return (tagged.groupBy(key.alias("tile"))
            .agg(F.count(F.lit(1)).alias("n_pages"),
                 F.countDistinct("url").alias("n_urls")))


def rect_overlap_join(rects_df: DataFrame, cell_deg: float = 1.0,
                      id_col: str = "rect_id") -> DataFrame:
    """Rectangle<->rectangle overlap self-join via grid-cell partitioning
    (PBSM / reference-point method) — the shape-to-shape analogue of the
    point-in-polygon join (README.md:58-86 recipe, generalized to two
    extended operands).

    Input: ``(id_col, min_lat, max_lat, min_lon, max_lon)``. Output: the
    distinct pairs ``(a_id, b_id)`` with ``a_id < b_id`` whose boxes
    intersect (closed-interval semantics: edge touching counts).

    Scale shape (100 TB design point): the naive form is an O(N^2) cross
    join; this one is ONE equi-join. Each rect is exploded onto the
    lat/lon grid cells (side ``cell_deg`` degrees) its box touches, the
    self-join is an equi-join on ``(xi, yi)``, and the exact interval
    predicate refines the candidates. A pair sharing k cells would
    surface k times; instead of a `distinct` (second full shuffle) each
    pair is emitted ONLY from the cell containing the intersection's
    lower-left corner — the classic duplicate-avoidance trick (Patel &
    DeWitt, SIGMOD'96): zero extra shuffles, exactly-once by geometry.
    ``cell_deg`` trades replication (small cells -> more copies of big
    rects) against candidate selectivity (big cells -> more false
    candidates); size it near the median rect side. Dense cells are the
    skew risk — AQE skew-join splits them at runtime; antimeridian-
    crossing boxes must be pre-split by the caller (kernels.polygon
    SplitAntimeridian semantics).
    """
    import math
    cell = float(cell_deg)
    if not math.isfinite(cell) or cell <= 0.0:
        raise ValueError(f"cell_deg must be finite and > 0, got {cell_deg!r}")
    exploded = (rects_df
                .withColumn("xi", F.explode(F.sequence(
                    F.floor(F.col("min_lon") / cell),
                    F.floor(F.col("max_lon") / cell))))
                .withColumn("yi", F.explode(F.sequence(
                    F.floor(F.col("min_lat") / cell),
                    F.floor(F.col("max_lat") / cell)))))
    a = exploded.select(F.col(id_col).alias("a_id"), "xi", "yi",
                        *[F.col(c).alias(f"a_{c}") for c in
                          ("min_lat", "max_lat", "min_lon", "max_lon")])
    b = exploded.select(F.col(id_col).alias("b_id"), "xi", "yi",
                        *[F.col(c).alias(f"b_{c}") for c in
                          ("min_lat", "max_lat", "min_lon", "max_lon")])
    ref_lon = F.greatest("a_min_lon", "b_min_lon")
    ref_lat = F.greatest("a_min_lat", "b_min_lat")
    return (a.join(b, ["xi", "yi"])
            .filter(F.col("a_id") < F.col("b_id"))
            .filter((F.col("a_min_lat") <= F.col("b_max_lat"))
                    & (F.col("b_min_lat") <= F.col("a_max_lat"))
                    & (F.col("a_min_lon") <= F.col("b_max_lon"))
                    & (F.col("b_min_lon") <= F.col("a_max_lon")))
            .filter((F.floor(ref_lon / cell) == F.col("xi"))
                    & (F.floor(ref_lat / cell) == F.col("yi")))
            .select("a_id", "b_id"))
