"""Hilbert-curve data layout: a space-filling-curve index whose
contiguous ranges are spatially compact — the layout primitive for
range-pruned scans at 100 TB.

Geohash IS a Z-order (Morton) curve: bit-interleaved lat/lon, so
prefix ranges are cells. Z-order however takes long diagonal jumps
(cell 0b0111 -> 0b1000 teleports across the map), so a contiguous
Z-range can straddle distant regions. The Hilbert curve visits every
cell of the 2^k x 2^k grid exactly once moving only between
edge-adjacent cells — contiguous Hilbert ranges are connected blobs.
Writing a table sorted/range-partitioned by Hilbert index gives
min/max-pruned spatial range scans with strictly better locality than
geohash-prefix layout (DataBricks Z-ORDER / Delta liquid clustering
rationale; here with the curve one better).

Everything is exact integer bit arithmetic (the classic xy2d state
machine), rendered once as SQL text for Spark and its DuckDB twin, so
both match the NumPy kernel (kernels/hilbert.py) bit for bit —
cross-checked in tests.

Scale notes: the index is a pure projection (zero shuffles, zero
joins); the shard histogram below is one partial+final aggregation.
``repartitionByRange(out)`` on the index column is the write-side
layout hook.
"""

from __future__ import annotations

from typing import Callable

import numpy as np
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..functions.native import (DUCKDB, SPARK, Dialect, _grid_sql, _text_column, sql_name,
                                with_geohash, with_stages)
from ..functions.oracle import nested_select_sql
from ..kernels.geohash import _grid_index, clamp_latitude
from ..kernels.hilbert import xy2d

__all__ = ["with_hilbert", "hilbert_shards", "hilbert_select_sql",
           "hilbert_shards_sql", "hilbert_ranges_for_bbox",
           "hilbert_bbox_tiles", "hilbert_bbox_tiles_sql",
           "hilbert_range_predicate"]


# xy2d (kernels/hilbert.py) as a 4-state machine on the raw grid bits:
# state bit 0 = x and y swapped, bit 1 = both complemented. The 4-bit
# entry at 4 * (4 * state + q), q = 2 * xbit + ybit, holds the bit
# plane's Hilbert digit (entry >> 2) and the next state (entry & 3).
_XY2D_STATES = 0x2C7B36DA95E08F41


def _hilbert_sql(lat: str, lon: str, order: int, d: Dialect,
                 ref: Callable[[str], str]) -> tuple:
    """The Hilbert index in dialect ``d``: the encode's clamp, wrap and
    grid index (``native._grid_sql``) on the 2^order x 2^order grid, then
    one state-machine step per bit plane, MSB first, plus the encode's
    NULL guard (a NaN raises the encode's error). Each step reads the
    previous one once, so the text grows with order^2. ``%`` stands for
    ``&`` (every operand is non-negative) as it needs no grouping
    parentheses (see functions/native.py on their parse cost)."""
    if not (1 <= order <= 16):
        raise ValueError(f"order must be in [1, 16], got {order}")
    normalized, indexed, guard = _grid_sql(lat, lon, order, order, d, ref)
    entry, digits = None, []  # entry: the state table shifted to this plane's entry
    for i in range(order - 1, -1, -1):
        at = (f"{d.shiftright(ref('__gh_lng_i'), i)} % 2 * 8 + "
              f"{d.shiftright(ref('__gh_lat_i'), i)} % 2 * 4")
        if entry is not None:
            at = f"{entry} % 4 * 16 + {at}"
        entry = d.shiftright(str(_XY2D_STATES), at)
        digits.append(f"{d.shiftright(entry, 2)} % 4 * {4 ** i}")
    # the guard is an addend, not a branch around the digits: Catalyst
    # shares the steps that the digits repeat only outside a branch
    return normalized, indexed, " + ".join(digits) + f" + CASE WHEN {guard} THEN 0 END"


def with_hilbert(df: DataFrame, lat: str = "lat", lon: str = "lon",
                 order: int = 8, out: str = "hd") -> DataFrame:
    """Add the Hilbert index ``out`` (long, in [0, 4^order)) of each
    point on the 2^order x 2^order grid; a NULL coordinate gives NULL.

    Classic xy2d: walk bit-planes MSB-first, accumulate the quadrant
    digit, rotate/reflect the frame (Hilbert 1891; the bit formulation
    follows the public-domain Wikipedia reference implementation), here
    as JVM expressions (``_hilbert_sql``) in the encode's staged selects.

    A filter on ``out`` is pushed through the projection with the whole
    index inlined, once per reference; filter a computed index behind a
    generator, as :func:`hilbert_bbox_tiles` does.
    """
    return with_stages(df, _hilbert_sql(lat, lon, order, SPARK, sql_name), out)


def hilbert_shards(df: DataFrame, lat: str = "lat", lon: str = "lon",
                   order: int = 8, n_shards: int = 64) -> DataFrame:
    """-> (shard int, n_pages long, n_cells long): the population of
    each of ``n_shards`` equal contiguous Hilbert-index ranges — what a
    range-partitioned writer would put in each file. n_cells counts
    distinct grid cells (shard spatial footprint).

    shard = floor(hd * n_shards / 4^order): exact, because
    hd * n_shards < 2^53 for order <= 16 ranges checked here and the
    divisor is a power of two.
    """
    if n_shards < 1:
        raise ValueError(f"n_shards must be >= 1, got {n_shards}")
    if order > 20 or (4 ** order) * n_shards >= 2 ** 53:
        raise ValueError("order/n_shards too large for exact double math")
    total = 4 ** order
    hd = with_hilbert(df, lat, lon, order, out="__hd_s")
    # two-level aggregation instead of countDistinct: the per-cell agg
    # collapses the corpus map-side to <= 4^order rows per task before
    # the ONLY exchange (countDistinct would Expand to 2x corpus rows
    # first); the shard rollup then runs on <= 4^order rows total
    cells = (hd.groupBy("__hd_s")
             .agg(F.count(F.lit(1)).alias("__n")))
    shard = F.floor(F.col("__hd_s") * F.lit(n_shards) / F.lit(total))
    return (cells.groupBy(shard.cast("int").alias("shard"))
            .agg(F.sum("__n").alias("n_pages"),
                 F.count("__hd_s").alias("n_cells")))


def hilbert_select_sql(inner_sql: str, order: int = 8, lat: str = "lat",
                       lon: str = "lon", out: str = "hd") -> str:
    """DuckDB twin of :func:`with_hilbert`: the same text, nested."""
    return nested_select_sql(inner_sql, _hilbert_sql(lat, lon, order, DUCKDB, str), out)


def hilbert_shards_sql(inner_sql: str, order: int = 8, lat: str = "lat",
                       lon: str = "lon", n_shards: int = 64) -> str:
    """DuckDB twin of :func:`hilbert_shards`."""
    total = 4 ** order
    hsql = hilbert_select_sql(inner_sql, order, lat, lon)
    return (f"SELECT CAST(floor(hd * {n_shards} / {total}.0) AS INT) "
            f"AS shard, CAST(count(*) AS BIGINT) AS n_pages, "
            f"CAST(count(DISTINCT hd) AS BIGINT) AS n_cells "
            f"FROM ({hsql}) GROUP BY 1")


def hilbert_ranges_for_bbox(min_lat: float, min_lon: float,
                            max_lat: float, max_lon: float,
                            order: int = 8,
                            max_ranges: int = 64) -> list[tuple[int, int]]:
    """Decompose a lat/lon bbox into contiguous Hilbert-index ranges
    whose cells form a SUPERSET of the bbox — the scan-pruning key set
    for a table laid out by :func:`with_hilbert`.

    Quadrant descent over grid-aligned squares: every power-of-two
    aligned square IS a Hilbert subtree, so its cells occupy one
    contiguous index interval [m*s*s, (m+1)*s*s - 1] — the base is
    recovered from ANY member cell by flooring xy2d to the subtree
    size, no orientation bookkeeping needed. Squares fully inside the
    grid bbox emit their whole interval; straddlers split into four;
    singles emit at order. Adjacent intervals merge; if the merged
    list still exceeds ``max_ranges``, coarser straddlers are emitted
    whole (superset stays valid — the exact lat/lon refine downstream
    restores precision).

    The bbox must not cross the antimeridian — split it first
    (kernels/polygon.py:split_antimeridian) like every other covering
    operator in this engine.
    """
    if not (min_lat <= max_lat and min_lon <= max_lon):
        raise ValueError("bbox must satisfy min <= max on both axes")
    if min_lon < -180.0 or max_lon > 180.0:
        raise ValueError(
            "bbox longitudes must be in canonical [-180, 180]; a bbox "
            "crossing the antimeridian must be split first "
            "(kernels/polygon.py:split_antimeridian)")
    if not (1 <= order <= 16):
        raise ValueError(f"order must be in [1, 16], got {order}")
    if max_ranges < 1:
        raise ValueError(f"max_ranges must be >= 1, got {max_ranges}")
    n = 1 << order

    def gi(v, lo, step):
        return int(_grid_index(np.asarray([v], dtype=np.float64),
                               lo, step, n)[0])

    la0 = float(clamp_latitude(np.float64(min_lat)))
    la1 = float(clamp_latitude(np.float64(max_lat)))
    y0, y1 = gi(la0, -90.0, 180.0 / n), gi(la1, -90.0, 180.0 / n)
    # x intervals in grid columns. lon normalization wraps +180 onto
    # -180 (column 0), so a bbox edge AT the antimeridian covers both
    # the last column run and column 0 — emit two column intervals
    # rather than mis-normalizing the edge.
    x_ivals = []
    x0 = gi(min_lon if min_lon < 180.0 else -180.0, -180.0, 360.0 / n)
    if max_lon == 180.0:
        x_ivals.append((x0, n - 1))
        if x0 > 0:
            x_ivals.append((0, 0))  # points at exactly lon=180
    else:
        x_ivals.append((x0, gi(max_lon, -180.0, 360.0 / n)))

    out: list[tuple[int, int]] = []
    for xa, xb in x_ivals:
        stack = [(0, 0, n)]
        while stack:
            qx, qy, s = stack.pop()
            if qx > xb or qx + s - 1 < xa or qy > y1 or qy + s - 1 < y0:
                continue  # disjoint
            inside = (qx >= xa and qx + s - 1 <= xb
                      and qy >= y0 and qy + s - 1 <= y1)
            if inside or s == 1 or len(out) + len(stack) >= max_ranges:
                d = int(xy2d(order, [qx], [qy])[0])
                base = (d // (s * s)) * (s * s)
                out.append((base, base + s * s - 1))
            else:
                h = s // 2
                stack.extend([(qx, qy, h), (qx + h, qy, h),
                              (qx, qy + h, h), (qx + h, qy + h, h)])
    out.sort()
    merged = [out[0]]
    for lo, hi in out[1:]:
        if lo <= merged[-1][1] + 1:
            merged[-1] = (merged[-1][0], max(merged[-1][1], hi))
        else:
            merged.append((lo, hi))
    return merged


def hilbert_bbox_tiles(df: DataFrame, min_lat: float, min_lon: float,
                       max_lat: float, max_lon: float, order: int = 8,
                       precision: int = 2, lat: str = "lat",
                       lon: str = "lon") -> DataFrame:
    """Spatial range query THROUGH the curve index: keep rows whose
    Hilbert index falls in the bbox's range covering, exact-refine on
    the raw coordinates, aggregate per geohash tile.

    At 100 TB this is the pruned-scan path: on a table written
    range-partitioned/sorted by ``hd``, the range disjunction reaches
    the parquet reader as min/max-prunable predicates (plan-asserted in
    tests), so only shard files overlapping the bbox are read at all.
    The exact refine makes the covering's slack invisible in results.

    -> (tile string, n_pages long); the DuckDB twin is an INDEPENDENT
    plain lat/lon bbox filter with no curve anywhere, so the range
    decomposition itself is value-checked.
    """
    ranges = hilbert_ranges_for_bbox(min_lat, min_lon, max_lat, max_lon,
                                     order)
    # the index goes through a generator, so the range filter reads the
    # generated column: a filter on a projected index is pushed down with
    # the whole index inlined, once per range comparison
    hd = (with_hilbert(df, lat, lon, order, out="__hd")
          .select("*", F.explode(F.array("__hd")).alias("__hd_q")).drop("__hd"))
    refined = (hd.filter(hilbert_range_predicate(F.col("__hd_q"), ranges))
               .filter((F.col(lat) >= F.lit(float(min_lat)))
                       & (F.col(lat) <= F.lit(float(max_lat)))
                       & (F.col(lon) >= F.lit(float(min_lon)))
                       & (F.col(lon) <= F.lit(float(max_lon)))))
    return (with_geohash(refined, lat, lon, precision, out="__tile")
            .groupBy(F.col("__tile").alias("tile"))
            .agg(F.count(F.lit(1)).alias("n_pages")))


def hilbert_bbox_tiles_sql(tagged_inner: str, min_lat: float,
                           min_lon: float, max_lat: float,
                           max_lon: float, lat: str = "lat",
                           lon: str = "lon") -> str:
    """INDEPENDENT DuckDB oracle: direct bbox filter + tile group — no
    Hilbert anywhere. ``tagged_inner`` must expose ``gh`` at the same
    precision plus raw lat/lon."""
    return (f"SELECT gh AS tile, CAST(count(*) AS BIGINT) AS n_pages "
            f"FROM ({tagged_inner}) "
            f"WHERE {lat} >= {float(min_lat)!r} AND {lat} <= {float(max_lat)!r} "
            f"AND {lon} >= {float(min_lon)!r} AND {lon} <= {float(max_lon)!r} "
            f"GROUP BY 1")


def hilbert_range_predicate(col: Column, ranges: list[tuple[int, int]]):
    """OR-of-BETWEENs over a STORED Hilbert index column — the form the
    parquet reader can push down for min/max row-group and file pruning
    on a curve-sorted layout. Use it on a stored or generated column: on
    a projected index the filter pushdown inlines the whole index per
    comparison (see hilbert_bbox_tiles)."""
    if not ranges:
        raise ValueError("ranges must be non-empty")
    return _text_column(lambda c: " OR ".join(
        f"{c} BETWEEN {int(lo)} AND {int(hi)}" for lo, hi in ranges), col)
