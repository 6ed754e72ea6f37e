"""Polite crawl scheduling (operators/crawl.py: crawl_slots)."""

from datetime import datetime, timedelta

import pytest

from geohash_dotnet_spark.operators import crawl_slots


def _frontier(spark, rows):
    return spark.createDataFrame(rows, "url string, warc_ts timestamp")


def test_crawl_slots_orders_by_ts_not_url(spark):
    """35 urls whose lexicographic order is the REVERSE of their fetch
    order: slots must follow (ts, url), so slot 0 holds the 16 earliest
    timestamps (= the 16 largest url ids) and its min-url witness is the
    url of rank 15."""
    base = datetime(2024, 1, 1)
    rows = [(f"https://x.example/siteA/{99 - i:02d}/0",
             base + timedelta(seconds=i)) for i in range(35)]
    out = {r["slot"]: (r["n_urls"], r["first_url"])
           for r in crawl_slots(_frontier(spark, rows), rate=16).collect()}
    assert set(out) == {0, 1, 2}
    assert out[0] == (16, "https://x.example/siteA/84/0")   # ranks 0-15
    assert out[1] == (16, "https://x.example/siteA/68/0")   # ranks 16-31
    assert out[2] == (3, "https://x.example/siteA/65/0")    # ranks 32-34


def test_crawl_slots_ts_tie_breaks_url_asc(spark):
    """Colliding timestamps order by url: with rate=1 each url is its
    own slot, and slot ids follow url order within the tie. A NULL
    timestamp ranks last, in Spark and in the DuckDB twin alike."""
    import duckdb

    from geohash_dotnet_spark.operators.crawl import crawl_slots_sql

    t = datetime(2024, 1, 1)
    rows = [(f"https://x.example/s/{u}/0", t) for u in ("b", "a", "c")]
    rows.append(("https://x.example/s/0/0", None))
    got = crawl_slots(_frontier(spark, rows), rate=1).collect()
    out = {r["first_url"].split("/")[-2]: r["slot"] for r in got}
    assert out == {"a": 0, "b": 1, "c": 2, "0": 3}
    con = duckdb.connect()
    con.execute("CREATE TABLE f (url VARCHAR, warc_ts TIMESTAMP)")
    con.executemany("INSERT INTO f VALUES (?, ?)", rows)
    twin = con.sql(crawl_slots_sql("SELECT * FROM f", rate=1)).fetchall()
    assert sorted(twin) == sorted(tuple(r) for r in got)


def test_crawl_slots_sites_independent(spark):
    """Each site ranks its own frontier; identical timestamps across
    sites do not interleave."""
    t = datetime(2024, 1, 1)
    rows = [(f"https://x.example/{s}/{i}/0", t + timedelta(seconds=i))
            for s in ("sa", "sb") for i in range(5)]
    out = crawl_slots(_frontier(spark, rows), rate=4).collect()
    by_site = {}
    for r in out:
        by_site.setdefault(r["site"], []).append((r["slot"], r["n_urls"]))
    assert sorted(by_site) == ["sa", "sb"]
    for s in by_site.values():
        assert sorted(s) == [(0, 4), (1, 1)]


def test_crawl_slots_single_site_exchange(spark):
    """ONE site-keyed Exchange: the window rank and the (site, slot)
    aggregation both ride it (group key contains the partition key)."""
    base = datetime(2024, 1, 1)
    rows = [(f"https://x.example/s{i % 3}/{i}/0",
             base + timedelta(seconds=i)) for i in range(30)]
    out = crawl_slots(_frontier(spark, rows), rate=4)
    out.collect()
    plan = out._jdf.queryExecution().executedPlan().toString()
    final = plan.split("Initial Plan")[0]
    assert final.count("Exchange hashpartitioning") == 1
    assert "BatchEvalPython" not in final
    assert "ArrowEvalPython" not in final


def test_crawl_slots_validation(spark):
    with pytest.raises(ValueError):
        crawl_slots(None, rate=0)


# ---------------------------------------------------------------------------
# site_footprint
# ---------------------------------------------------------------------------

def _geo_pages(spark, rows):
    return spark.createDataFrame(rows, "url string, lat double, lon double")


def test_site_footprint_hand_values(spark):
    """Two sites: A spans two p4 cells (bbox/centroid/span computed by
    hand from the kernel haversine), B is a single point (zero span)."""
    from geohash_dotnet_spark.kernels.distance import haversine_m
    from geohash_dotnet_spark.operators import site_footprint

    rows = [
        ("https://x.example/siteA/1/0", 10.0, 20.0),
        ("https://x.example/siteA/2/0", 10.5, 20.5),
        ("https://x.example/siteB/1/0", -33.87, 151.21),
    ]
    out = {r["site"]: r for r in
           site_footprint(_geo_pages(spark, rows), precision=4).collect()}
    a = out["siteA"]
    assert (a["n_pages"], a["n_cells"]) == (2, 2)
    assert (a["min_lat"], a["max_lat"]) == (10.0, 10.5)
    assert (a["min_lon"], a["max_lon"]) == (20.0, 20.5)
    assert (a["ctr_lat"], a["ctr_lon"]) == (10.25, 20.25)
    want_mm = int(haversine_m(10.0, 20.0, 10.5, 20.5) * 1000.0 + 0.5)
    assert a["span_mm"] == want_mm
    b = out["siteB"]
    assert (b["n_pages"], b["n_cells"], b["span_mm"]) == (1, 1, 0)


def test_site_footprint_same_cell_collapses(spark):
    """Pages inside one p4 cell (~39x19.5 km) count one distinct cell."""
    from geohash_dotnet_spark.operators import site_footprint

    rows = [("https://x.example/s/1/0", 50.0001, 8.0001),
            ("https://x.example/s/2/0", 50.0002, 8.0002)]
    [r] = site_footprint(_geo_pages(spark, rows), precision=4).collect()
    assert (r["n_pages"], r["n_cells"]) == (2, 1)


def test_site_footprint_validates_precision(spark):
    from geohash_dotnet_spark.operators import site_footprint

    with pytest.raises(ValueError, match="precision"):
        site_footprint(_geo_pages(spark, []), precision=0)


def test_site_footprint_stays_jvm_side(spark):
    """The whole footprint is native exprs + aggregates — no Python
    eval nodes anywhere in the executed plan."""
    from geohash_dotnet_spark.operators import site_footprint

    rows = [("https://x.example/s/1/0", 1.0, 2.0)]
    out = site_footprint(_geo_pages(spark, rows), precision=4)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "BatchEvalPython" not in plan
    assert "ArrowEvalPython" not in plan
