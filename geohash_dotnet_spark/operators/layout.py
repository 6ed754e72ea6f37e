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
machine), so the vectorized NumPy kernel behind the Arrow UDF and the
DuckDB chained-subquery twin match bit-for-bit — cross-checked in
tests.

Scale notes: the index is a pure projection (zero shuffles, zero
joins); the shard histogram below is one partial+final aggregation.
``repartitionByRange(out)`` on the index column is the write-side
layout hook.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf

from ..functions.native import DUCKDB, _grid_index_sql, _normalized_sql
from ..kernels.geohash import _grid_index, clamp_latitude, normalize_longitude
from ..kernels.hilbert import xy2d

__all__ = ["with_hilbert", "hilbert_shards", "hilbert_select_sql",
           "hilbert_shards_sql", "hilbert_ranges_for_bbox",
           "hilbert_bbox_tiles", "hilbert_bbox_tiles_sql",
           "hilbert_range_predicate"]


def with_hilbert(df: DataFrame, lat: str = "lat", lon: str = "lon",
                 order: int = 8, out: str = "hd") -> DataFrame:
    """Add the Hilbert index ``out`` (long, in [0, 4^order)) of each
    point on the 2^order x 2^order grid.

    Classic xy2d: walk bit-planes MSB-first, accumulate the quadrant
    digit, rotate/reflect the frame (Hilbert 1891; the bit formulation
    follows the public-domain Wikipedia reference implementation).

    Runs the vectorized NumPy kernel (kernels/hilbert.py) behind an Arrow
    pandas UDF: ~10 array ops per bit plane, exact int64, a Python task
    per partition where the cell functions are JVM expressions (see below
    for why). The DuckDB twin
    (``hilbert_select_sql``) is the reference it is checked against.

    Why not a staged per-iteration projection (the with_geohash
    trick): each xy2d step references the previous x and y several
    times, so when CollapseProject inlines the stages — and
    PushDownPredicate ALWAYS substitutes filter predicates through
    Projects — the tree grows ~5x per bit plane, ~5^order nodes: at
    order 8 a ~400k-node predicate that OOMs the optimizer. The UDF is
    one opaque expression, so every downstream reference to ``out``
    stays linear.
    """
    if not (1 <= order <= 16):
        raise ValueError(f"order must be in [1, 16], got {order}")
    n = 1 << order

    @pandas_udf("long")
    def _hd(la: pd.Series, lo: pd.Series) -> pd.Series:
        yi = _grid_index(clamp_latitude(la.to_numpy(dtype=np.float64)),
                         -90.0, 180.0 / n, n)
        xi = _grid_index(normalize_longitude(lo.to_numpy(dtype=np.float64)),
                         -180.0, 360.0 / n, n)
        return pd.Series(xy2d(order, xi, yi))

    return df.withColumn(out, _hd(F.col(lat).cast("double"),
                                  F.col(lon).cast("double")))


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
                 F.count(F.lit(1)).alias("n_cells")))


def hilbert_select_sql(inner_sql: str, order: int = 8, lat: str = "lat",
                       lon: str = "lon", out: str = "hd",
                       keep: str = "*") -> str:
    """DuckDB twin of :func:`with_hilbert` — same xy2d bit state machine
    unrolled into chained subqueries, over the encode's clamp, wrap and
    grid index (functions/native.py; NaN raises the encode's error)."""
    n = 1 << order
    lat_n, lon_n = _normalized_sql(f"CAST({lat} AS DOUBLE)",
                                   f"CAST({lon} AS DOUBLE)", DUCKDB)
    s0 = f"SELECT {keep}, {lat_n} AS __hlat, {lon_n} AS __hlon FROM ({inner_sql})"
    # every stage emits FRESH column names (suffix = bit plane) so the
    # SELECT-*-chained subqueries never collide
    y0, x0, d0 = f"__hy{order}", f"__hx{order}", f"__hd{order}"
    s1 = (f"SELECT {keep}, "
          f"{_grid_index_sql('__hlat', -90.0, 180.0, order, DUCKDB)} AS {y0}, "
          f"{_grid_index_sql('__hlon', -180.0, 360.0, order, DUCKDB)} AS {x0}, "
          f"CAST(0 AS BIGINT) AS {d0} FROM ({s0})")
    cur, px, py, pd = s1, x0, y0, d0
    for i in range(order - 1, -1, -1):
        s = 1 << i
        nx, ny, nd = f"__hx{i}", f"__hy{i}", f"__hd{i}"
        rx = f"(({px} >> {i}) & 1)"
        ry = f"(({py} >> {i}) & 1)"
        fx = f"CASE WHEN {rx} = 1 THEN {n - 1} - {px} ELSE {px} END"
        fy = f"CASE WHEN {rx} = 1 THEN {n - 1} - {py} ELSE {py} END"
        cur = (f"SELECT {keep}, "
               f"{pd} + {s * s} * CAST(xor(3 * {rx}, {ry}) AS BIGINT) "
               f"AS {nd}, "
               f"CASE WHEN {ry} = 0 THEN {fy} ELSE {px} END AS {nx}, "
               f"CASE WHEN {ry} = 0 THEN {fx} ELSE {py} END AS {ny} "
               f"FROM ({cur})")
        px, py, pd = nx, ny, nd
    # EXCLUDE (DuckDB syntax — this IS the DuckDB twin) strips the
    # 3*(order+1)+2 working columns so the twin adds exactly one column
    # like with_hilbert does
    helpers = ["__hlat", "__hlon"] + [
        f"__h{a}{i}" for i in range(order + 1) for a in ("x", "y", "d")]
    return (f"SELECT * EXCLUDE ({', '.join(helpers)}), {pd} AS {out} "
            f"FROM ({cur})")


def hilbert_shards_sql(inner_sql: str, order: int = 8, lat: str = "lat",
                       lon: str = "lon", n_shards: int = 64) -> str:
    """DuckDB twin of :func:`hilbert_shards`."""
    total = 4 ** order
    hsql = hilbert_select_sql(inner_sql, order, lat, lon, out="hd",
                              keep="*")
    return (f"SELECT CAST(floor(hd * {n_shards} / {total}.0) AS INT) "
            f"AS shard, CAST(count(*) AS BIGINT) AS n_pages, "
            f"CAST(count(DISTINCT hd) AS BIGINT) AS n_cells "
            f"FROM ({hsql}) GROUP BY 1")


def _xy2d_scalar(n: int, x: int, y: int) -> int:
    """Driver-side scalar wrapper over the ONE xy2d implementation
    (kernels/hilbert.py) — no separate scalar copy of the state machine."""
    return int(xy2d(n.bit_length() - 1,
                    np.asarray([x], dtype=np.int64),
                    np.asarray([y], dtype=np.int64))[0])


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
                d = _xy2d_scalar(n, qx, qy)
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
    hd = with_hilbert(df, lat, lon, order, out="__hd_q")
    # membership via exists() over a LITERAL range array: exactly ONE
    # reference to the computed index column. An OR-of-BETWEENs here
    # would make CollapseProject inline the whole staged xy2d chain
    # once per comparison (2x per range) — an exponential expression
    # blowup that OOMs the optimizer. The BETWEEN form is for STORED
    # index columns, where it pushes down (hilbert_range_predicate).
    rarr = F.array(*[F.struct(F.lit(lo).alias("lo"), F.lit(hi).alias("hi"))
                     for lo, hi in ranges])
    refined = (hd.filter(F.exists(rarr, lambda r: (F.col("__hd_q") >= r.lo)
                                  & (F.col("__hd_q") <= r.hi)))
               .filter((F.col(lat) >= F.lit(float(min_lat)))
                       & (F.col(lat) <= F.lit(float(max_lat)))
                       & (F.col(lon) >= F.lit(float(min_lon)))
                       & (F.col(lon) <= F.lit(float(max_lon)))))
    from ..functions.native import with_geohash
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
    on a curve-sorted layout. Use only on materialized columns: on a
    computed index the projection collapse duplicates the xy2d chain
    per comparison (see hilbert_bbox_tiles)."""
    if not ranges:
        raise ValueError("ranges must be non-empty")
    cond = None
    for lo, hi in ranges:
        c = col.between(F.lit(int(lo)), F.lit(int(hi)))
        cond = c if cond is None else (cond | c)
    return cond
