"""Adaptive quadtree cell refinement (operators/adaptive.py)."""

import duckdb
import pytest
from pyspark.sql import functions as F

from geohash_dotnet_spark.functions.oracle import pages_tagged_sql
from geohash_dotnet_spark.operators.adaptive import (adaptive_cells,
                                                     adaptive_cells_sql)
from geohash_dotnet_spark.sources.pages import pages

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def pg(spark):
    return pages(spark, SF).cache()


def test_partitions_the_point_set(spark, pg):
    """Emitted cells tile the populated space exactly once: counts sum
    to the corpus, and no emitted cell is a prefix of another."""
    out = adaptive_cells(pg, threshold=8, base_precision=1,
                         max_precision=3).collect()
    assert sum(r["n_pages"] for r in out) == pg.count()
    cells = sorted(r["cell"] for r in out)
    for a, b in zip(cells, cells[1:]):
        assert not b.startswith(a), f"{a} is an ancestor of emitted {b}"


def test_emission_rule(spark, pg):
    """Below max precision every emitted cell fits the threshold; only
    max-precision cells may exceed it (and then must, since an
    emitted-below-threshold ancestor would have been kept instead)."""
    thr = 2
    out = adaptive_cells(pg, threshold=thr, base_precision=1,
                         max_precision=3).collect()
    levels = {r["level"] for r in out}
    assert levels >= {2, 3}, "threshold should force a mixed-depth tiling"
    for r in out:
        assert r["level"] == len(r["cell"])
        if r["level"] < 3:
            assert r["n_pages"] <= thr


def test_splits_only_overfull_parents(spark, pg):
    """A level-k cell (k > base) is emitted only if its parent chain is
    all overfull — check against recomputed prefix counts."""
    thr = 8
    # recompute ancestor counts from the operator's own max-precision run
    leaf = adaptive_cells(pg, threshold=1, base_precision=3,
                          max_precision=3).collect()
    counts = {}
    for r in leaf:
        for k in (1, 2, 3):
            c = r["cell"][:k]
            counts[c] = counts.get(c, 0) + r["n_pages"]
    out = adaptive_cells(pg, threshold=thr, base_precision=1,
                         max_precision=3).collect()
    for r in out:
        for k in range(1, r["level"]):
            assert counts[r["cell"][:k]] > thr, (
                f"{r['cell']} emitted under a fitting ancestor")


def test_base_equals_max_is_fixed_histogram(spark, pg):
    out = adaptive_cells(pg, threshold=5, base_precision=2,
                         max_precision=2)
    got = {(r["cell"], r["n_pages"]) for r in out.collect()}
    from geohash_dotnet_spark.functions.native import with_geohash
    exp = {(r["gh"], r["count"]) for r in
           with_geohash(pg, "lat", "lon", 2).groupBy("gh").count().collect()}
    assert got == exp
    assert all(r["level"] == 2 for r in out.collect())


def test_sql_twin_base_equals_max():
    sql = adaptive_cells_sql("SELECT 1", base_precision=2, max_precision=2,
                             threshold=5)
    assert "CASE" not in sql and "GROUP BY 1" in sql


def test_validation():
    with pytest.raises(ValueError):
        adaptive_cells(None, base_precision=0)
    with pytest.raises(ValueError):
        adaptive_cells(None, base_precision=3, max_precision=2)
    with pytest.raises(ValueError):
        adaptive_cells(None, threshold=0)


@pytest.mark.parametrize("base,mx,thr",
                         [(1, 5, 1), (2, 6, 3), (3, 3, 5), (1, 4, 8)])
def test_matches_duckdb_twin_deep_and_offset(spark, pg, base, mx, thr):
    """Deep, offset and single-level ladders equal the twin's per-leaf
    ancestor pick, and the emitted cells still partition the corpus."""
    con = duckdb.connect()
    con.execute(f"CREATE VIEW documents AS SELECT * FROM "
                f"'{SF}/documents.parquet'")
    got = sorted(tuple(r) for r in adaptive_cells(
        pg, base_precision=base, max_precision=mx, threshold=thr).collect())
    exp = sorted(con.execute(adaptive_cells_sql(
        pages_tagged_sql(mx), base_precision=base, max_precision=mx,
        threshold=thr)).fetchall())
    assert got == exp
    assert sum(r[2] for r in got) == pg.count()


def test_exchange_count_independent_of_depth(spark):
    """One leaf aggregation, one level-exploded aggregation and the
    parent-count window: the final plan has the same (at most three)
    Exchanges at max 3 and max 5, no per-level branch (Union,
    ReusedExchange, broadcast frontier), and scans the corpus once."""
    spark.catalog.clearCache()  # cached-pages substitution hides the scan
    counts = []
    for mx in (3, 5):
        out = adaptive_cells(pages(spark, SF), threshold=8,
                             base_precision=1, max_precision=mx)
        out.collect()  # AQE finalizes on execution
        plan = out._jdf.queryExecution().executedPlan().toString()
        final = plan.split("Initial Plan")[0]
        for node in ("ReusedExchange", "BroadcastExchange", "Union"):
            assert node not in final
        assert final.count("Scan parquet") == 1  # matches "FileScan parquet"
        counts.append(final.count("Exchange hashpartitioning"))
    assert counts[0] == counts[1] <= 3
