"""Hilbert-curve layout (operators/layout.py)."""

import pytest
from pyspark.sql import functions as F

from geohash_dotnet_spark.operators.layout import hilbert_shards, with_hilbert
from geohash_dotnet_spark.sources.pages import pages

SF = "/root/testdata/sf0.001"


def _xy2d(n: int, x: int, y: int) -> int:
    """Pure-Python reference (classic public-domain xy2d)."""
    d, s = 0, n // 2
    while s > 0:
        rx = 1 if (x & s) > 0 else 0
        ry = 1 if (y & s) > 0 else 0
        d += s * s * ((3 * rx) ^ ry)
        if ry == 0:
            if rx == 1:
                x, y = n - 1 - x, n - 1 - y
            x, y = y, x
        s //= 2
    return d


def _grid_df(spark, order: int):
    """One point at the center of every 2^order x 2^order grid cell."""
    n = 1 << order
    rows = [(-90.0 + (y + 0.5) * 180.0 / n,
             -180.0 + (x + 0.5) * 360.0 / n, x, y)
            for x in range(n) for y in range(n)]
    return spark.createDataFrame(rows, "lat double, lon double, x int, y int")


def test_matches_reference_and_is_a_bijection(spark):
    order, n = 3, 8
    ref = {(x, y): _xy2d(n, x, y) for x in range(n) for y in range(n)}
    got = {(r["x"], r["y"]): r["hd"]
           for r in with_hilbert(_grid_df(spark, order), order=order).collect()}
    assert got == ref
    assert sorted(got.values()) == list(range(n * n))


def test_consecutive_cells_are_edge_adjacent(spark):
    """The defining Hilbert property: d and d+1 are grid neighbors
    (|dx| + |dy| == 1) — what makes contiguous ranges connected."""
    order, n = 4, 16
    by_d = {r["hd"]: (r["x"], r["y"])
            for r in with_hilbert(_grid_df(spark, order), order=order).collect()}
    for d in range(n * n - 1):
        (x1, y1), (x2, y2) = by_d[d], by_d[d + 1]
        assert abs(x1 - x2) + abs(y1 - y2) == 1


def test_hilbert_shards_beat_row_major_locality(spark):
    """Per-shard spatial diameter (L1 bbox extent in grid units) is
    smaller under Hilbert ranges than row-major ranges — the reason to
    lay files out along the curve. Exhaustive order-5 grid, 16 shards:
    Hilbert shards are 8x16 blocks (diameter 22), row-major shards are
    2 full rows (diameter 32+1)."""
    order, n, n_shards = 5, 32, 16
    total = n * n
    df = with_hilbert(_grid_df(spark, order), order=order)
    df = df.withColumn("rm", F.col("y") * n + F.col("x"))

    def mean_diameter(col):
        shard = F.floor(F.col(col) * n_shards / total)
        agg = (df.groupBy(shard.alias("s"))
               .agg((F.max("x") - F.min("x") + F.max("y") - F.min("y"))
                    .alias("diam")))
        return agg.agg(F.avg("diam")).collect()[0][0]

    h, r = mean_diameter("hd"), mean_diameter("rm")
    assert h < r, f"hilbert diameter {h} not below row-major {r}"
    assert h <= 24  # 8x16 block -> 7 + 15 = 22


def test_shards_partition_the_corpus(spark):
    pg = pages(spark, SF)
    out = hilbert_shards(pg, order=8, n_shards=64).collect()
    assert sum(r["n_pages"] for r in out) == pg.count()
    assert all(0 <= r["shard"] < 64 for r in out)
    assert all(r["n_cells"] <= r["n_pages"] for r in out)


def test_validation(spark):
    with pytest.raises(ValueError):
        with_hilbert(None, order=0)
    with pytest.raises(ValueError):
        with_hilbert(None, order=17)
    with pytest.raises(ValueError):
        hilbert_shards(None, n_shards=0)


def test_index_is_jvm_single_scan_and_filtered_once(spark):
    """The index is JVM expressions over a single scan, with no Python
    node; hilbert_bbox_tiles filters a generated copy of it, so its
    filter holds no copy of the index (pushed through a projection, a
    filter gets the whole index inlined once per range comparison)."""
    from geohash_dotnet_spark.operators.layout import _XY2D_STATES, hilbert_bbox_tiles

    spark.catalog.clearCache()  # cached-pages substitution hides the scan
    out = hilbert_shards(pages(spark, SF), order=8, n_shards=64)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "EvalPython" not in plan  # neither the Arrow nor the batch node
    assert plan.count("Scan parquet") == 1  # matches "FileScan parquet" too
    q = hilbert_bbox_tiles(pages(spark, SF), 20.0, -130.0, 55.0, -60.0, order=16)
    nodes = [line.lstrip("+-: ") for line in
             q._jdf.queryExecution().optimizedPlan().toString().splitlines()]
    with_index = [n for n in nodes if str(_XY2D_STATES) in n]
    assert len(with_index) == 1 and with_index[0].startswith("Project"), with_index
    filters = [n for n in nodes if n.startswith("Filter") and "__hd_q" in n]
    assert filters and not any(str(_XY2D_STATES) in n for n in filters)


def test_bbox_ranges_cover_exactly(spark):
    """Range decomposition properties at order 5 (exhaustive): sorted,
    disjoint, non-adjacent after merge, and the covered cell set is
    EXACTLY the grid-bbox rectangle (aligned subtrees add no slack
    beyond the cell quantization itself)."""
    from geohash_dotnet_spark.operators.layout import (
        hilbert_ranges_for_bbox)

    order, n = 5, 32
    bbox = (10.0, -50.0, 47.0, 33.0)
    ranges = hilbert_ranges_for_bbox(*bbox, order=order, max_ranges=10**9)
    for (l1, h1), (l2, h2) in zip(ranges, ranges[1:]):
        assert l1 <= h1 and h1 + 1 < l2  # sorted, disjoint, merged
    covered = {d for lo, hi in ranges for d in range(lo, hi + 1)}
    # expected: the grid rectangle of the bbox
    import numpy as np

    from geohash_dotnet_spark.kernels.geohash import _grid_index

    def gi(v, lo, step):
        return int(_grid_index(np.asarray([v]), lo, step, n)[0])

    y0, y1 = gi(bbox[0], -90.0, 180.0 / n), gi(bbox[2], -90.0, 180.0 / n)
    x0, x1 = gi(bbox[1], -180.0, 360.0 / n), gi(bbox[3], -180.0, 360.0 / n)
    expected = {_xy2d(n, x, y) for x in range(x0, x1 + 1)
                for y in range(y0, y1 + 1)}
    assert covered == expected


def test_bbox_ranges_cap_is_superset(spark):
    """With a tight max_ranges the decomposition coarsens but must stay
    a superset of the exact covering."""
    from geohash_dotnet_spark.operators.layout import (
        hilbert_ranges_for_bbox)

    bbox = (10.0, -50.0, 47.0, 33.0)
    exact = {d for lo, hi in
             hilbert_ranges_for_bbox(*bbox, order=6, max_ranges=10**9)
             for d in range(lo, hi + 1)}
    capped_ranges = hilbert_ranges_for_bbox(*bbox, order=6, max_ranges=4)
    capped = {d for lo, hi in capped_ranges for d in range(lo, hi + 1)}
    assert exact <= capped


def test_bbox_ranges_validation():
    from geohash_dotnet_spark.operators.layout import (
        hilbert_ranges_for_bbox)

    with pytest.raises(ValueError):
        hilbert_ranges_for_bbox(10.0, 5.0, 0.0, 6.0)  # min_lat > max_lat
    with pytest.raises(ValueError):
        hilbert_ranges_for_bbox(0.0, 170.0, 10.0, -170.0)  # antimeridian
    with pytest.raises(ValueError):
        hilbert_ranges_for_bbox(0.0, 0.0, 1.0, 1.0, order=0)


def test_bbox_tiles_equal_direct_filter(spark):
    """The curve-range path returns EXACTLY the plain bbox filter's
    tiles (superset covering + exact refine)."""
    from pyspark.sql import functions as F

    from geohash_dotnet_spark.functions.native import with_geohash
    from geohash_dotnet_spark.operators.layout import hilbert_bbox_tiles

    pg = pages(spark, SF)
    bbox = (20.0, -130.0, 55.0, -60.0)
    got = {(r["tile"], r["n_pages"]) for r in
           hilbert_bbox_tiles(pg, *bbox, order=8, precision=2).collect()}
    direct = (pg.filter((F.col("lat") >= bbox[0]) & (F.col("lat") <= bbox[2])
                        & (F.col("lon") >= bbox[1])
                        & (F.col("lon") <= bbox[3])))
    exp = {(r["gh"], r["count"]) for r in
           with_geohash(direct, "lat", "lon", 2)
           .groupBy("gh").count().collect()}
    assert got == exp and got


def test_range_predicate_pushes_to_parquet(spark, tmp_path):
    """On a STORED curve-sorted layout the range disjunction reaches
    the parquet reader as min/max-prunable pushed filters — the 100 TB
    pruned-scan path."""
    from pyspark.sql import functions as F

    from geohash_dotnet_spark.operators.layout import (
        hilbert_range_predicate, hilbert_ranges_for_bbox, with_hilbert)

    path = str(tmp_path / "hd_sorted")
    (with_hilbert(pages(spark, SF), order=8)
     .select("url", "lat", "lon", "hd")
     .repartitionByRange(4, F.col("hd"))
     .sortWithinPartitions("hd")
     .write.parquet(path))
    ranges = hilbert_ranges_for_bbox(20.0, -130.0, 55.0, -60.0, order=8)
    tbl = spark.read.parquet(path)
    q = tbl.filter(hilbert_range_predicate(F.col("hd"), ranges))
    plan = q._jdf.queryExecution().executedPlan().toString()
    assert "PushedFilters: [" in plan
    assert "hd" in plan.split("PushedFilters: [", 1)[1].split("]", 1)[0], (
        "hd range disjunction did not reach the parquet scan")
    # and the filtered read is still exact
    lo, hi = ranges[0]
    assert (q.filter((F.col("hd") >= lo) & (F.col("hd") <= hi)).count()
            == tbl.filter((F.col("hd") >= lo) & (F.col("hd") <= hi)).count())


def test_bbox_ranges_antimeridian_edge():
    """max_lon == 180.0: longitude normalization wraps +180 onto column
    0, so the covering must include BOTH the trailing column run and
    column 0 (for points at exactly lon=180) — two column intervals,
    not a mis-normalized empty one."""
    import numpy as np

    from geohash_dotnet_spark.kernels.geohash import _grid_index
    from geohash_dotnet_spark.operators.layout import (
        hilbert_ranges_for_bbox)

    order, n = 4, 16
    ranges = hilbert_ranges_for_bbox(-10.0, 150.0, 10.0, 180.0,
                                     order=order, max_ranges=10**9)

    def gi(v, lo, step):
        return int(_grid_index(np.asarray([v]), lo, step, n)[0])

    y0, y1 = gi(-10.0, -90.0, 180.0 / n), gi(10.0, -90.0, 180.0 / n)
    x0 = gi(150.0, -180.0, 360.0 / n)
    expected = {_xy2d(n, x, y)
                for x in list(range(x0, n)) + [0]
                for y in range(y0, y1 + 1)}
    covered = {d for lo, hi in ranges for d in range(lo, hi + 1)}
    assert covered == expected


def test_bbox_ranges_full_longitude_span():
    """The whole-planet bbox collapses to the single root range (and
    the max_lon=180 edge adds no duplicate column-0 interval when the
    run already starts at column 0)."""
    from geohash_dotnet_spark.operators.layout import (
        hilbert_ranges_for_bbox)

    order, n = 3, 8
    ranges = hilbert_ranges_for_bbox(-90.0, -180.0, 90.0, 180.0,
                                     order=order, max_ranges=10**9)
    assert ranges == [(0, n * n - 1)]


def test_bbox_ranges_rejects_noncanonical_lons():
    """Out-of-range longitudes raise instead of being silently
    normalized (a wrapped bbox is a different rectangle)."""
    from geohash_dotnet_spark.operators.layout import (
        hilbert_ranges_for_bbox)

    with pytest.raises(ValueError):
        hilbert_ranges_for_bbox(0.0, -190.0, 1.0, 0.0)
    with pytest.raises(ValueError):
        hilbert_ranges_for_bbox(0.0, 0.0, 1.0, 190.0)


def test_kernel_xy2d_matches_reference():
    """The NumPy kernel that the range decomposition and the SQL text are
    checked against equals the pure-Python xy2d (exhaustive at order 4)."""
    from geohash_dotnet_spark.kernels.hilbert import xy2d

    n = 16
    x, y = zip(*[(x, y) for x in range(n) for y in range(n)])
    assert list(xy2d(4, x, y)) == [_xy2d(n, a, b) for a, b in zip(x, y)]


def test_hilbert_select_sql_twin_adds_exactly_one_column(spark):
    """The DuckDB twin's EXCLUDE strips every working column: output
    schema is the input columns plus `hd`, and the hd values match
    with_hilbert on the same rows."""
    import duckdb

    from geohash_dotnet_spark.operators.layout import hilbert_select_sql

    rows = [(1, 10.0, 20.0), (2, -33.9, 151.2), (3, 64.1, -21.9)]
    inner = ("SELECT * FROM (VALUES (1, 10.0, 20.0), (2, -33.9, 151.2), "
             "(3, 64.1, -21.9)) AS t(id, lat, lon)")
    rel = duckdb.sql(hilbert_select_sql(inner, order=6))
    assert rel.columns == ["id", "lat", "lon", "hd"]
    got = {r[0]: r[3] for r in rel.fetchall()}
    df = spark.createDataFrame(rows, "id int, lat double, lon double")
    want = {r["id"]: r["hd"]
            for r in with_hilbert(df, order=6).collect()}
    assert got == want
