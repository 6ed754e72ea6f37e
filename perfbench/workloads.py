"""The three benchmark workloads.

Each workload builds its inputs in ``setup``, checks the program's output
once against an independent oracle in ``verify``, runs one timed job in
``job`` and one traced job, with a prefix action per layer, in ``trace``.
A job is a list of operations; each returns a digest, and every timed job's
digests must equal the verified ones.
"""

from __future__ import annotations

import os
import time

import duckdb
import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from geohash_dotnet_spark.functions import (gh_decode, gh_neighbors,
                                            gh_truncate, with_geohash)
from geohash_dotnet_spark.functions.oracle import pages_sql, pages_tagged_sql
from geohash_dotnet_spark.kernels import compress as kernel_compress
from geohash_dotnet_spark.kernels import cover_polygon
from geohash_dotnet_spark.kernels import geohash as GK
from geohash_dotnet_spark.operators import (compress_cells, cover_polygons,
                                            spatial_join, tile_stats,
                                            with_quality, zonal_stats)
from geohash_dotnet_spark.operators.coverage import CoverageMetrics
from geohash_dotnet_spark.operators.spatial_join import tag_pages
from geohash_dotnet_spark.operators.text import quality_sql
from geohash_dotnet_spark.sources.pages import pages

import inputs
import kernel_bench
from tracing import Span, Tracer, exchanges, subplan

# 5,000 documents x 20 = 100,000 pages
REPLICATE = 20
PAGES = inputs.N_DOCS * REPLICATE

# name -> (unit, better); every traced run reports all of them, and a
# layer a workload leaves idle reads 0
LAYER_METRICS = {
    "sources.pages_s": ("s", "lower"),
    "sources.rows": ("count", "lower"),
    "sources.scan_bytes": ("bytes", "lower"),
    "functions.native.encode_s": ("s", "lower"),
    "functions.native.rows": ("count", "lower"),
    "functions.native.codegen_pipeline_ms": ("ms", "lower"),
    "operators.spatial_join.join_s": ("s", "lower"),
    "operators.spatial_join.probe_rows": ("count", "lower"),
    "operators.spatial_join.out_rows": ("count", "lower"),
    "operators.spatial_join.selectivity": ("ratio", "higher"),
    "operators.spatial_join.broadcast_bytes": ("bytes", "lower"),
    "operators.spatial_join.broadcast_build_ms": ("ms", "lower"),
    "operators.spatial_join.exchanges": ("count", "lower"),
    "operators.spatial_join.tile_stats_s": ("s", "lower"),
    "operators.spatial_join.shuffle_records": ("count", "lower"),
    "operators.spatial_join.shuffle_bytes": ("bytes", "lower"),
    "operators.spatial_join.agg_peak_mem_bytes": ("bytes", "lower"),
    "operators.spatial_join.avg_hash_probe": ("count", "lower"),
    "operators.text.quality_s": ("s", "lower"),
    "operators.text.rows": ("count", "lower"),
    "operators.coverage.cover_s": ("s", "lower"),
    "operators.coverage.tasks": ("count", "lower"),
    "operators.coverage.cells_emitted": ("count", "lower"),
    "operators.coverage.cells_out": ("count", "lower"),
    "operators.coverage.dedup_ratio": ("ratio", "higher"),
    "operators.compress.compress_s": ("s", "lower"),
    "operators.compress.groups": ("count", "lower"),
    "operators.compress.max_group_share": ("ratio", "lower"),
    "operators.compress.cells_in": ("count", "lower"),
    "operators.compress.cells_out": ("count", "lower"),
    "operators.compress.shuffle_records": ("count", "lower"),
    "functions.udfs.decode_s": ("s", "lower"),
    "functions.udfs.neighbors_s": ("s", "lower"),
    "functions.udfs.rows_to_python": ("count", "lower"),
    "functions.udfs.bytes_to_python": ("bytes", "lower"),
    "functions.udfs.bytes_from_python": ("bytes", "lower"),
    "functions.udfs.python_s": ("s", "lower"),
    "operators.zonal.zonal_s": ("s", "lower"),
    "operators.zonal.join_rows": ("count", "lower"),
    "operators.zonal.edge_rows": ("count", "lower"),
    "operators.zonal.edge_frac": ("ratio", "lower"),
    "kernels.cover_polygon_s": ("s", "lower"),
    "kernels.cover_candidates": ("count", "lower"),
    "kernels.cover_cells": ("count", "lower"),
    "kernels.cover_yield": ("ratio", "higher"),
    "kernels.compress_s": ("s", "lower"),
    "kernels.encode_s": ("s", "lower"),
    "kernels.decode_s": ("s", "lower"),
    "kernels.bytes_moved": ("bytes", "lower"),
    "session.exchanges": ("count", "lower"),
    "session.stages": ("count", "lower"),
    "session.tasks": ("count", "lower"),
    "session.build_s": ("s", "lower"),
    "trace.overhead_s": ("s", "lower"),
}

# counters that must repeat exactly between two traced runs of one seed
DETERMINISTIC = tuple(
    name for name, (unit, _) in LAYER_METRICS.items()
    if unit in ("count", "bytes", "ratio")
    and not name.endswith("agg_peak_mem_bytes"))


class Mismatch(AssertionError):
    """The program's output differs from the oracle's."""


def check(ok: bool, what: str) -> None:
    if not ok:
        raise Mismatch(what)


def digest_df(df: DataFrame, *cols: str) -> DataFrame:
    """One row: the order-independent (row count, xor of row hashes) of
    ``df``."""
    return df.agg(F.count(F.lit(1)), F.bit_xor(F.xxhash64(*cols)))


def digest(df: DataFrame, *cols: str) -> tuple:
    return tuple(digest_df(df, *cols).collect()[0])


def rows_digest(rows) -> tuple:
    return tuple(sorted(map(tuple, rows)))


def timed(fn):
    start = time.perf_counter()
    out = fn()
    return time.perf_counter() - start, out


def _c(span: Span, key: str) -> float:
    return span.counters.get(key, 0)


def _delta(after: Span, before: Span | None, key: str) -> float:
    return _c(after, key) - (_c(before, key) if before else 0)


class Workload:
    """Inputs, oracle, timed job and traced job of one workload."""

    name = ""
    pages = 0  # input pages per job; 0 where the job is not a page scan
    # untimed jobs between set-up and the measured phase: the JVM's JIT
    # keeps speeding a page job up over its first ten or so jobs
    warmup_s = 12.0
    # timed jobs at the least, however short ``--seconds`` is
    min_jobs = 3

    def __init__(self, spark: SparkSession, work: str, seed: int):
        self.spark = spark
        self.work = work
        self.seed = seed
        self.geo = inputs.Geometry(seed)
        self.sf_dir = ""
        self._cached: list[DataFrame] = []

    def _documents(self, rep: int) -> None:
        """A fresh copy of the corpus per set-up, so no set-up reads files
        an earlier one listed."""
        self.sf_dir = os.path.join(self.work, f"docs{rep}")
        os.makedirs(self.sf_dir)
        inputs.write_documents(os.path.join(self.sf_dir, "documents.parquet"))

    def _cache(self, df: DataFrame) -> DataFrame:
        df = df.cache()
        df.count()
        self._cached.append(df)
        return df

    def _cells_df(self, cells) -> DataFrame:
        return self.spark.createDataFrame(pd.DataFrame({"cell": cells}))

    def _duckdb(self) -> duckdb.DuckDBPyConnection:
        con = duckdb.connect(config={
            "threads": 2, "memory_limit": "1GB",
            "temp_directory": os.path.join(self.work, "duckdb")})
        path = os.path.join(self.sf_dir, "documents.parquet")
        con.sql(f"CREATE VIEW documents AS SELECT * FROM read_parquet('{path}')")
        return con

    def setup(self, rep: int) -> None:
        for df in self._cached:
            df.unpersist(blocking=True)
        self._cached = []
        self._documents(rep)
        self._build()

    def _build(self) -> None:
        raise NotImplementedError

    def verify(self, first: list[tuple[str, float, tuple]]) -> dict[str, tuple]:
        """Check the program's output against the oracle and return the
        digest every job must give, per operation. ``first`` is the first
        job's result; it must match too."""
        raise NotImplementedError

    def job(self) -> list[tuple[str, float, tuple]]:
        raise NotImplementedError

    def trace(self, tracer: Tracer, parent: str) -> tuple[dict, dict]:
        """Run one traced job; return its layer metrics and the digest of
        each operation's final action, to check like a timed job's."""
        raise NotImplementedError

    def kernel_metrics(self) -> dict:
        """The NumPy kernel micro-benchmark, where the workload uses the
        kernels."""
        return {}


class FlagshipCold(Workload):
    """Parquet in, tile aggregate out, nothing cached: pages built from the
    documents file, geocoded, encoded at p2, semi-joined to a 345-cell
    covering, quality-scored and aggregated per (p1 tile, lang)."""

    name = "flagship_cold"
    pages = PAGES
    # a cold job waits on its slowest task at every stage, so it feels a
    # busy host most: its median takes more jobs than ``--seconds`` holds
    min_jobs = 12

    def _build(self) -> None:
        self.cells = cover_polygon(self.geo.flagship_rect, 2, "intersects")
        self.cov = self._cells_df(self.cells)

    def _query(self):
        src = pages(self.spark, self.sf_dir, replicate=REPLICATE)
        tagged = tag_pages(src, 2)
        joined = spatial_join(tagged, self.cov, precision=2, how="left_semi")
        scored = with_quality(joined)
        agg = (scored.groupBy(F.substring("gh", 1, 1).alias("tile1"), "lang")
               .agg(F.count(F.lit(1)).alias("pages"),
                    F.sum(F.floor(F.col("quality_score") * 1e6 + F.lit(0.5)))
                    .alias("quality_micro")))
        # each prefix keeps only the columns the rest of the job reads
        return [src.select("lat", "lon", "text", "lang"),
                tagged.select("gh", "text", "lang"),
                joined.select("gh", "text", "lang"),
                scored.select("gh", "lang", "quality_score")], agg

    def job(self):
        seconds, rows = timed(lambda: self._query()[1].collect())
        return [("job", seconds, rows_digest(rows))]

    def verify(self, first):
        con = self._duckdb()
        con.register("cov", pd.DataFrame({"cell": self.cells}))
        want = con.sql(f"""
            WITH tagged AS ({pages_tagged_sql(2, REPLICATE)}),
            joined AS (SELECT * FROM tagged
                       WHERE gh IN (SELECT cell FROM cov)),
            scored AS ({quality_sql("joined")})
            SELECT substr(gh, 1, 1), lang, count(*),
                   CAST(sum(CAST(floor(quality_score * 1e6 + 0.5) AS BIGINT))
                        AS BIGINT)
            FROM scored GROUP BY ALL""").fetchall()
        con.close()
        (_, _, got), = first
        check(got == tuple(sorted(want)), "flagship aggregate != DuckDB twin")
        return {"job": got}

    def trace(self, tracer, parent):
        build_s, (prefixes, agg) = timed(self._query)
        names = ("sources", "functions.native", "operators.spatial_join",
                 "operators.text")
        counts, spans = _materialize(tracer, parent, names, prefixes)
        rows, final = tracer.collect("job", parent, agg)
        src, enc, join, text = spans
        m = {"session.build_s": build_s,
            "sources.pages_s": src.seconds,
            "sources.rows": counts[0],
            "sources.scan_bytes": _c(src, "FileSourceScanExec.filesSize"),
            "functions.native.encode_s": enc.seconds - src.seconds,
            "functions.native.rows": counts[1],
            "operators.text.quality_s": text.seconds - join.seconds,
            "operators.text.rows": counts[3],
        }
        m.update(_native_metrics(enc, src))
        m.update(_join_metrics(join, enc, counts[1], counts[2]))
        m.update(_agg_metrics(final, text))
        m.update(_session_metrics([final]))
        return m, {"job": rows_digest(rows)}


class TileJoin(Workload):
    """Cached pages encoded at p12, keyed by their p4 ancestor, joined to a
    331,680-cell p4 covering and aggregated per p6 tile."""

    name = "tile_join"
    pages = PAGES

    def _build(self) -> None:
        self.pg = self._cache(pages(self.spark, self.sf_dir,
                                    replicate=REPLICATE))
        self.cells = cover_polygon(self.geo.tile_rect, 4, "intersects")
        self.cov = self._cache(self._cells_df(self.cells))

    def _query(self):
        tagged = (with_geohash(self.pg, "lat", "lon", 12)
                  .withColumn("gh4", gh_truncate(F.col("gh"), 4)))
        joined = spatial_join(tagged, self.cov, precision=4, gh_col="gh4")
        tiles = tile_stats(joined, precision=12, prefix_len=6)
        # each prefix keeps only the columns the rest of the job reads
        return [self.pg.select("lat", "lon", "url"),
                tagged.select("gh", "gh4", "url"),
                joined.select("gh", "url")], tiles

    @staticmethod
    def _summary(tiles: DataFrame) -> DataFrame:
        return tiles.agg(F.count(F.lit(1)), F.sum("n_pages"), F.sum("n_urls"),
                         F.bit_xor(F.xxhash64("tile", "n_pages", "n_urls")))

    def job(self):
        seconds, rows = timed(
            lambda: self._summary(self._query()[1]).collect())
        return [("job", seconds, tuple(rows[0]))]

    def verify(self, first):
        con = self._duckdb()
        con.register("cov", pd.DataFrame({"cell": self.cells}))
        want = con.sql(f"""
            WITH tagged AS ({pages_tagged_sql(12, REPLICATE)})
            SELECT substr(gh, 1, 6), count(*), count(DISTINCT url)
            FROM tagged WHERE substr(gh, 1, 4) IN (SELECT cell FROM cov)
            GROUP BY 1""").fetchall()
        con.close()
        got = self._query()[1].collect()
        check(sorted(map(tuple, got)) == sorted(want),
              "per-tile stats != DuckDB twin")
        (_, _, summary), = first
        check(summary[:3] == (len(want), sum(r[1] for r in want),
                              sum(r[2] for r in want)),
              "tile summary disagrees with the verified tiles")
        return {"job": summary}

    def trace(self, tracer, parent):
        build_s, (prefixes, tiles) = timed(self._query)
        names = ("cache_scan", "functions.native", "operators.spatial_join")
        counts, spans = _materialize(tracer, parent, names, prefixes)
        rows, final = tracer.collect("job", parent, self._summary(tiles))
        scan, enc, join = spans
        m = {"session.build_s": build_s,
             "functions.native.encode_s": enc.seconds - scan.seconds,
             "functions.native.rows": counts[1]}
        m.update(_native_metrics(enc, scan))
        m.update(_join_metrics(join, enc, counts[1], counts[2]))
        m.update(_agg_metrics(final, join))
        m.update(_session_metrics([final]))
        return m, {"job": tuple(rows[0])}


UDF_COLS = ("cell", "d.lat", "d.lon", "nb")


class CellAlgebra(Workload):
    """Query-side cell operations, each timed on its own: cover a
    seed-placed, scaled California at p6; compress that covering; decode
    and take the neighbours of the distinct p4-p6 cells of the cached pages
    in a seed-placed box; zonal statistics of California and two
    rectangles at p3."""

    name = "cell_algebra"
    # no untimed jobs, so that a run fits the time budget of the whole
    # check; its jobs still get faster by up to a quarter over a run
    warmup_s = 0.0
    min_jobs = 4

    def _build(self) -> None:
        self.pg = self._cache(pages(self.spark, self.sf_dir,
                                    replicate=REPLICATE))
        self.cover_spec = [("q", self.geo.cover_polygon, 6, "intersects")]
        self.covering = self._cache(
            cover_polygons(self.spark, self.cover_spec).select("cell"))
        lon0, lat0, lon1, lat1 = _bounds(self.geo.udf_box)
        boxed = with_geohash(
            self.pg.filter(F.col("lat").between(lat0, lat1)
                           & F.col("lon").between(lon0, lon1)),
            "lat", "lon", 6)
        levels = [boxed.select(F.substring("gh", 1, k).alias("cell"))
                  for k in (4, 5, 6)]
        self.cells = self._cache(
            levels[0].union(levels[1]).union(levels[2]).distinct())

    def _cover(self, metrics: CoverageMetrics | None = None) -> DataFrame:
        return cover_polygons(self.spark, self.cover_spec, metrics=metrics)

    def _compress(self) -> DataFrame:
        return compress_cells(self.covering)

    def _decode(self) -> DataFrame:
        return self.cells.select("cell", gh_decode(F.col("cell")).alias("d"))

    def _cell_udfs(self) -> DataFrame:
        """Both cell UDFs in one action, as a query decoding a cell set and
        its neighbours would run them."""
        return self.cells.select("cell", gh_decode(F.col("cell")).alias("d"),
                                 gh_neighbors(F.col("cell")).alias("nb"))

    def _zonal(self) -> DataFrame:
        return zonal_stats(self.pg, self.geo.zones, precision=3)

    def job(self):
        t_cov, d_cov = timed(lambda: digest(self._cover(), "polygon_id",
                                            "cell"))
        t_cmp, d_cmp = timed(lambda: digest(self._compress(), "cell"))
        t_udf, d_udf = timed(lambda: digest(self._cell_udfs(), *UDF_COLS))
        t_zon, rows = timed(lambda: self._zonal().collect())
        return [("cover", t_cov, d_cov), ("compress", t_cmp, d_cmp),
                ("cell_udf", t_udf, d_udf),
                ("zonal", t_zon, rows_digest(rows))]

    def verify(self, first):
        ref = {}
        # coverage against the kernel, and at seed 0 the golden California
        # p5 covering
        got, ref["cover"] = _checked(self._cover(), "polygon_id", "cell")
        check(got["cell"].is_unique and set(got["cell"]) == set(
            cover_polygon(self.geo.cover_polygon, 6, "intersects")),
            "covering != kernel")
        if self.seed == 0:
            with open(inputs.CALIFORNIA_WKT) as f:
                ca = f.read()
            with open(inputs.CALIFORNIA_P5_CONTAINS) as f:
                golden = set(f.read().split())
            got_ca = cover_polygons(self.spark, [("ca", ca, 5, "contains")])
            check(set(got_ca.toPandas()["cell"]) == golden,
                  "California p5 covering != golden cells")
        # compression against the kernel
        cells = self.covering.toPandas()["cell"].tolist()
        got, ref["compress"] = _checked(self._compress(), "cell")
        check(sorted(got["cell"]) == sorted(kernel_compress(cells)),
              "compressed covering != kernel")
        prefixes = pd.Series([c[:2] for c in cells]).value_counts()
        self.n_covering = len(cells)
        self.groups = len(prefixes)
        self.max_group_share = prefixes.iloc[0] / len(cells)
        # decode and neighbours against the NumPy kernels
        got, ref["cell_udf"] = _checked(self._cell_udfs(), *UDF_COLS)
        cells = got["cell"].to_numpy(object)
        lat, lon = GK.decode(cells)
        check(np.array_equal(lat, [d["lat"] for d in got["d"]])
              and np.array_equal(lon, [d["lon"] for d in got["d"]]),
              "gh_decode != kernel")
        want = np.stack([GK.neighbor(cells, d) for d in GK.DIRECTIONS], axis=1)
        check(np.array_equal(np.stack(got["nb"].to_numpy()), want),
              "gh_neighbors != kernel")
        # zonal counts against an even-odd test over the DuckDB pages
        con = self._duckdb()
        pts = con.sql(f"SELECT lat, lon FROM ({pages_sql(REPLICATE)})").df()
        con.close()
        x, y = pts["lon"].to_numpy(), pts["lat"].to_numpy()
        want = {}
        for zid, wkt in self.geo.zones:
            n = int(_points_in_ring(inputs.ring(wkt), x, y).sum())
            if n:
                want[zid] = n
        ref["zonal"] = {op: d for op, _, d in first}["zonal"]
        check(dict(ref["zonal"]) == want, "zonal counts != even-odd oracle")
        return ref

    def trace(self, tracer, parent):
        m, finals, digests = {}, [], {}

        metrics = CoverageMetrics(self.spark)
        cover = self._cover(metrics)
        rows, span = tracer.collect("operators.coverage", parent,
                                    digest_df(cover, "polygon_id", "cell"))
        digests["cover"] = tuple(rows[0])
        finals.append(span)
        out, emitted = rows[0][0], metrics.cells_emitted.value
        m.update({"operators.coverage.cover_s": span.seconds,
                  "operators.coverage.tasks": metrics.tasks_total,
                  "operators.coverage.cells_emitted": emitted,
                  "operators.coverage.cells_out": out,
                  "operators.coverage.dedup_ratio": out / max(emitted, 1)})

        rows, span = tracer.collect("operators.compress", parent,
                                    digest_df(self._compress(), "cell"))
        digests["compress"] = tuple(rows[0])
        finals.append(span)
        m.update({
            "operators.compress.compress_s": span.seconds,
            "operators.compress.groups": self.groups,
            "operators.compress.max_group_share": self.max_group_share,
            "operators.compress.cells_in": self.n_covering,
            "operators.compress.cells_out": rows[0][0],
            "operators.compress.shuffle_records":
                _c(span, "ShuffleExchangeExec.shuffleRecordsWritten")})

        # decode alone, then decode and neighbours as the timed job runs
        # them: neighbours' self time is the difference
        _, decode = tracer.collect(
            "functions.udfs.decode", parent,
            digest_df(self._decode(), "cell", "d.lat", "d.lon"))
        tracer.python_seconds()
        rows, span = tracer.collect("functions.udfs", parent,
                                    digest_df(self._cell_udfs(), *UDF_COLS))
        digests["cell_udf"] = tuple(rows[0])
        finals.append(span)
        m.update({
            "functions.udfs.decode_s": decode.seconds,
            "functions.udfs.neighbors_s": span.seconds - decode.seconds,
            "functions.udfs.python_s": tracer.python_seconds(),
            **{f"functions.udfs.{name}": _c(span, f"ArrowEvalPythonExec.{key}")
               for name, key in (("rows_to_python", "pythonNumRowsReceived"),
                                 ("bytes_to_python", "pythonDataSent"),
                                 ("bytes_from_python", "pythonDataReceived"))},
        })

        # the rows zonal_stats' own broadcast join hands to its member
        # test, split by the program's is_edge flag
        zonal = self._zonal()
        joined = subplan(zonal, "Join")
        rows, _ = tracer.collect(
            "operators.zonal.join", parent,
            joined.agg(F.sum(F.col("is_edge").cast("long"))))
        n_edge = rows[0][0] or 0
        rows, span = tracer.collect("operators.zonal", parent, zonal)
        digests["zonal"] = rows_digest(rows)
        finals.append(span)
        n_join = _c(span, "BroadcastHashJoinExec.numOutputRows")
        m.update({"operators.zonal.zonal_s": span.seconds,
                  "operators.zonal.join_rows": n_join,
                  "operators.zonal.edge_rows": n_edge,
                  "operators.zonal.edge_frac": n_edge / max(n_join, 1)})
        m.update(_session_metrics(finals))
        return m, digests

    def kernel_metrics(self) -> dict:
        return kernel_bench.run(self.seed, self.geo.cover_polygon)


WORKLOADS = {w.name: w for w in (FlagshipCold, TileJoin, CellAlgebra)}


def _materialize(tracer: Tracer, parent: str, names, prefixes):
    counts, spans = [], []
    for name, df in zip(names, prefixes):
        n, span = tracer.materialize(name, parent, df)
        counts.append(n)
        spans.append(span)
    return counts, spans


def _native_metrics(enc: Span, before: Span) -> dict:
    return {"functions.native.codegen_pipeline_ms":
            _delta(enc, before, "WholeStageCodegenExec.pipelineTime")}


def _join_metrics(join: Span, before: Span, probe: int, out: int) -> dict:
    p = "operators.spatial_join."
    return {p + "join_s": join.seconds - before.seconds,
            p + "probe_rows": probe,
            p + "out_rows": out,
            p + "selectivity": out / max(probe, 1),
            p + "broadcast_bytes": _c(join, "BroadcastExchangeExec.dataSize"),
            p + "broadcast_build_ms":
                _c(join, "BroadcastExchangeExec.buildTime"),
            p + "exchanges": exchanges(join) - exchanges(before)}


def _agg_metrics(final: Span, before: Span) -> dict:
    """The aggregation that ends a page job: its self time, its shuffle,
    and its hash tables. Spark keeps an average metric in tenths, summed
    over tasks; ``avg_hash_probe`` is that sum in probes."""
    p = "operators.spatial_join."
    return {p + "tile_stats_s": final.seconds - before.seconds,
            p + "shuffle_records": _delta(
                final, before, "ShuffleExchangeExec.shuffleRecordsWritten"),
            p + "shuffle_bytes": _delta(
                final, before, "ShuffleExchangeExec.shuffleBytesWritten"),
            p + "agg_peak_mem_bytes": _delta(
                final, before, "HashAggregateExec.peakMemory"),
            p + "avg_hash_probe": _delta(
                final, before, "HashAggregateExec.avgHashProbe") / 10}


def _session_metrics(finals: list[Span]) -> dict:
    return {"session.exchanges": sum(exchanges(s) for s in finals),
            "session.stages": sum(s.stages for s in finals),
            "session.tasks": sum(s.tasks for s in finals)}


def _checked(df: DataFrame, *cols: str) -> tuple[pd.DataFrame, tuple]:
    """``df`` computed once: its rows, to check, and its digest."""
    df = df.cache()
    try:
        return df.toPandas(), digest(df, *cols)
    finally:
        df.unpersist()


def _bounds(wkt: str) -> tuple[float, float, float, float]:
    ring = inputs.ring(wkt)
    (lon0, lat0), (lon1, lat1) = ring.min(axis=0), ring.max(axis=0)
    return lon0, lat0, lon1, lat1


def _points_in_ring(ring: np.ndarray, x: np.ndarray,
                    y: np.ndarray) -> np.ndarray:
    """Even-odd point-in-polygon test of one closed ring."""
    inside = np.zeros(x.shape[0], dtype=bool)
    for (x1, y1), (x2, y2) in zip(ring[:-1], ring[1:]):
        if y1 == y2:
            continue
        crosses = (y1 > y) != (y2 > y)
        inside ^= crosses & (x < x1 + (y - y1) * (x2 - x1) / (y2 - y1))
    return inside
