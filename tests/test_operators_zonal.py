"""Zonal statistics (operators/zonal.py)."""

import pytest

from geohash_dotnet_spark.operators import zonal_stats

SCHEMA = "pt_id long, lat double, lon double, v double"

# a triangle over central Europe — NOT axis-aligned, so the exactness
# test can't pass by bbox luck
TRI = "POLYGON((5 45, 25 45, 15 57, 5 45))"


def _grid(n=30):
    """Deterministic point lattice spanning the triangle's bbox+margin."""
    rows = []
    i = 0
    for a in range(n):
        for b in range(n):
            lat = 43.0 + 16.0 * a / (n - 1) + 0.003  # avoid edge hits
            lon = 3.0 + 24.0 * b / (n - 1) + 0.007
            rows.append((i, lat, lon, (i % 100) / 4.0))
            i += 1
    return rows


def test_exact_vs_bruteforce_refine(spark):
    """zonal_stats count == exact point-in-polygon membership count
    (the interior-cell shortcut must not change the answer)."""
    from geohash_dotnet_spark.kernels import points_inside

    rows = _grid()
    df = spark.createDataFrame(rows, SCHEMA)
    got = {r["zone_id"]: r["n_points"]
           for r in zonal_stats(df, [("tri", TRI)], precision=3).collect()}
    want = int(points_inside(TRI, [r[1] for r in rows],
                             [r[2] for r in rows]).sum())
    assert want > 50  # the lattice genuinely straddles the triangle
    assert got == {"tri": want}


def test_interior_split_is_exercised(spark):
    """At p3 the triangle must have BOTH contains-cells and edge cells —
    otherwise the shortcut path isn't under test."""
    from geohash_dotnet_spark.kernels import cover_polygon

    inner = set(cover_polygon(TRI, 3, "contains").tolist())
    outer = set(cover_polygon(TRI, 3, "intersects").tolist())
    assert inner and outer - inner


def test_overlapping_zones_count_twice(spark):
    df = spark.createDataFrame([(1, 50.0, 10.0, 2.5)], SCHEMA)
    big = "POLYGON((0 40, 20 40, 20 60, 0 60, 0 40))"
    small = "POLYGON((8 48, 12 48, 12 52, 8 52, 8 48))"
    out = {r["zone_id"]: (r["n_points"], r["sum_value"])
           for r in zonal_stats(df, [("big", big), ("small", small)],
                                precision=3, value="v").collect()}
    assert out == {"big": (1, 2.5), "small": (1, 2.5)}


def test_empty_zone_emits_no_row(spark):
    df = spark.createDataFrame([(1, 50.0, 10.0, 1.0)], SCHEMA)
    far = "POLYGON((100 -40, 110 -40, 110 -30, 100 -30, 100 -40))"
    assert zonal_stats(df, [("far", far)], precision=3).count() == 0


def test_value_sum_exact(spark):
    rows = [(i, 50.0 + i * 0.01, 10.0, 0.1) for i in range(10)]
    df = spark.createDataFrame(rows, SCHEMA)
    big = "POLYGON((0 40, 20 40, 20 60, 0 60, 0 40))"
    [r] = zonal_stats(df, [("z", big)], precision=3, value="v").collect()
    # ten 0.1s sum to exactly 1.0 through the micro-unit integers
    assert r["n_points"] == 10 and r["sum_value"] == 1.0


def test_broadcast_plan_no_point_shuffle(spark):
    df = spark.createDataFrame(_grid(5), SCHEMA)
    plan = zonal_stats(df, [("tri", TRI)], precision=3) \
        ._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan and "ShuffledHashJoin" not in plan


def test_zones_required(spark):
    df = spark.createDataFrame([(1, 50.0, 10.0, 1.0)], SCHEMA)
    with pytest.raises(ValueError):
        zonal_stats(df, [], precision=3)
