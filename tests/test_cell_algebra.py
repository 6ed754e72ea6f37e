"""Query-side cell algebra: ``compress_cells`` (window passes over packed
cell keys), the cell functions, and ``zonal_stats`` and
``spatial_join_refined`` (JVM boundary membership) against their exact
references, and the plan shapes that keep them Python-free and to one
pass."""

import numpy as np
import pytest
from pyspark.sql import functions as F

from geohash_dotnet_spark.functions import (gh_bbox, gh_decode, gh_neighbor,
                                            gh_neighbors)
from geohash_dotnet_spark.kernels import children as kchildren
from geohash_dotnet_spark.kernels import compress as kcompress
from geohash_dotnet_spark.kernels import (cover_polygon, encode, parse_wkt,
                                          points_inside)
from geohash_dotnet_spark.operators import (compress_cells,
                                            spatial_join_refined, zonal_stats)

SCHEMA = "pt_id long, lat double, lon double, v double"
SCHEMA_COLS = ["pt_id", "lat", "lon", "v"]

# vertex latitudes 45.0, 50.625 and 39.375 lie on p3 and p4 row edges
HOLE = ("POLYGON((0 40, 22 41, 18 56, 1 54, 0 40), "
        "(5 45, 15 45, 10 50.625, 5 45))")
MULTI = ("MULTIPOLYGON(((30 30, 40 31, 35 39.375, 30 30)), "
         "((42 30, 50 30, 50 36, 42 30)))")
ANTI = "POLYGON((170 -10, -172 -12, -168 5, 175 8, 170 -10))"
ZONES = [("hole", HOLE), ("multi", MULTI), ("anti", ANTI)]


def _executed(df):
    return df._jdf.queryExecution().executedPlan().toString()


# ---------------------------------------------------------------------------
# compress_cells
# ---------------------------------------------------------------------------

def _cases():
    rng = np.random.default_rng(11)
    rand = encode(rng.uniform(-90, 90, 2000), rng.uniform(-180, 180, 2000),
                  4).tolist()
    return [
        ["9", "9q", "9qz", "dr"],                        # 1-prefix ancestor
        ["dr5", "dr5", "dr5r", "DR5", "9Q", "9q", "9QZ"],  # duplicates, case
        [g for c in kchildren("y") for g in kchildren(c)],   # cascade to "y"
        [g for c in kchildren("tdn") for g in kchildren(c)],  # to "tdn"
        rand + kchildren("tdnu2") + ["b", "bc1"],
    ]


@pytest.mark.parametrize("min_level", [1, 2, 3])
def test_two_pass_compress_matches_kernel(spark, min_level):
    for i, cells in enumerate(_cases()):
        df = spark.createDataFrame([(c,) for c in cells], "cell string")
        got = sorted(r["cell"] for r in
                     compress_cells(df, min_level=min_level).collect())
        assert got == kcompress(cells, min_level=min_level), f"case {i}"


@pytest.mark.parametrize("max_level", [1, 2])
def test_compress_truncates_to_max_level(spark, max_level):
    cells = ["9q", "9R", "9qz", "dr5", "d"]
    df = spark.createDataFrame([(c,) for c in cells], "cell string")
    got = sorted(r["cell"] for r in
                 compress_cells(df, max_level=max_level).collect())
    assert got == kcompress(cells, max_level=max_level)


def test_kernel_compress_lowercases_case_variants():
    assert kcompress(["9Q", "9q", "9QZ"]) == ["9q"]
    assert kcompress(["DR5", "dr5r"], min_level=3) == ["dr5"]


@pytest.mark.parametrize("min_level", [1, 2, 3])
def test_two_pass_compress_grouped_matches_kernel(spark, min_level):
    cases = _cases()
    rows = [(gid, c) for gid, cells in enumerate(cases) for c in cells]
    df = spark.createDataFrame(rows, "gid int, cell string")
    got = {r["gid"]: r["cells"] for r in
           compress_cells(df, min_level=min_level, group_cols=["gid"])
           .groupBy("gid").agg(F.sort_array(F.collect_list("cell"))
                               .alias("cells")).collect()}
    assert got == {gid: kcompress(cells, min_level=min_level)
                   for gid, cells in enumerate(cases)}


@pytest.mark.parametrize("group_cols", [None, ["gid"]])
def test_compress_cells_is_window_passes_without_python_or_joins(
        spark, group_cols):
    """One shuffle per (group, 2-prefix) window, one per (group,
    1-prefix) window; no Python node, no join."""
    df = spark.createDataFrame([(0, "9q"), (1, "dr")], "gid int, cell string")
    plan = _executed(compress_cells(df, group_cols=group_cols))
    for node in ("FlatMapGroupsInPandas", "ArrowEvalPython", "Join"):
        assert node not in plan, plan
    assert plan.count("Exchange hashpartitioning") == 2, plan


def test_cell_functions_are_python_free(spark):
    df = spark.createDataFrame([("dr5reg",)], "cell string")
    c = F.col("cell")
    for col in (gh_decode(c), gh_bbox(c), gh_neighbors(c), gh_neighbor(c, "n")):
        plan = _executed(df.select(col))
        assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan


# ---------------------------------------------------------------------------
# zonal_stats
# ---------------------------------------------------------------------------

def _lattice(wkt, n=36):
    """Points on a lattice over the zone's bbox (plus margin) that also
    takes every vertex latitude and longitude."""
    xy = np.concatenate([r for poly in parse_wkt(wkt) for r in poly])
    x = np.where(xy[:, 0] < 0, xy[:, 0] + 360.0, xy[:, 0])  # unwrap ±180
    lats = np.union1d(np.linspace(xy[:, 1].min() - 1, xy[:, 1].max() + 1, n),
                      xy[:, 1])
    lons = np.union1d(np.linspace(x.min() - 1, x.max() + 1, n), x)
    lons = np.where(lons >= 180.0, lons - 360.0, lons)
    return [(float(a), float(o)) for a in lats for o in lons]


def _points(spark):
    pts = [p for _, wkt in ZONES for p in _lattice(wkt)]
    return spark.createDataFrame(
        [(i, la, lo, i % 7 / 4) for i, (la, lo) in enumerate(pts)], SCHEMA)


@pytest.mark.parametrize("precision", [3, 4])
def test_zonal_matches_bruteforce_pip(spark, precision):
    """Hole, MULTIPOLYGON and antimeridian zones, lattice points on vertex
    latitudes: every count and value sum equals the even-odd brute force."""
    df = _points(spark)
    got = {r["zone_id"]: (r["n_points"], r["sum_value"]) for r in
           zonal_stats(df, ZONES, precision, value="v").collect()}
    pts = df.toPandas()
    want = {}
    for z, wkt in ZONES:
        inside = pts[points_inside(wkt, pts["lat"], pts["lon"])]
        want[z] = (len(inside), float(inside["v"].sum()))
    assert min(n for n, _ in want.values()) > 50
    assert got == want
    for _, wkt in ZONES:  # both membership paths are under test
        inner = set(cover_polygon(wkt, precision, "contains"))
        assert inner and set(cover_polygon(wkt, precision, "intersects")) - inner


def test_zonal_membership_is_python_free(spark):
    df = _points(spark)
    plan = _executed(zonal_stats(df, ZONES, 3))
    assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan
    assert "BroadcastHashJoin" in plan


def test_zonal_rejects_duplicate_zone_id(spark):
    df = spark.createDataFrame([(1, 50.0, 10.0, 1.0)], SCHEMA)
    with pytest.raises(ValueError, match="'hole'"):
        zonal_stats(df, [("hole", HOLE), ("multi", MULTI), ("hole", ANTI)], 3)


# ---------------------------------------------------------------------------
# spatial_join_refined
# ---------------------------------------------------------------------------

@pytest.mark.parametrize("precision", [3, 4])
def test_refined_join_matches_bruteforce_pip(spark, precision):
    """The same lattice: the pages kept are exactly the even-odd inside
    points, keyed by their cell."""
    df = _points(spark)
    pts = df.toPandas()
    for _, wkt in ZONES:
        got = spatial_join_refined(df, wkt, precision).toPandas()
        inside = pts[points_inside(wkt, pts["lat"], pts["lon"])]
        assert list(got.columns) == ["gh", *SCHEMA_COLS]
        assert sorted(got["pt_id"]) == sorted(inside["pt_id"])
        assert got["gh"].tolist() == encode(
            got["lat"].to_numpy(), got["lon"].to_numpy(), precision).tolist()


def test_refined_join_is_broadcast_and_python_free(spark):
    plan = _executed(spatial_join_refined(_points(spark), HOLE, 3))
    assert "BroadcastHashJoin" in plan, plan
    assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan
