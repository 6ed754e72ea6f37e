"""Deterministic Common-Crawl-style pages table (the engine's
production-shaped input per BASELINE.json input_hint).

Derived from the driver-provided ``documents`` parquet, deterministically —
no wall-clock, no RNG: url is a bijection of (doc_id, rep), lat/lon derive
from md5(url), and ``text`` passes through byte-identical per url (the
per-row invariant). The DuckDB twin is functions/oracle.pages_sql.

Columns: url string, warc_ts timestamp, html binary, text string,
lang string, doc_id long, rep int, lat double, lon double.

``html`` is a synthetic binary payload that the spatial path must never
read (column-pruning check: it is projected away by Catalyst unless
explicitly selected).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.native import exprs, geocode_sql

URL_PREFIX = "https://crawl.example/"

# Spark SQL text of the derived columns
_URL = (f"concat('{URL_PREFIX}', `source`, '/', CAST(`doc_id` AS STRING), "
        f"'/', CAST(`rep` AS STRING))")
_WARC_TS = ("to_timestamp('2024-01-01 00:00:00') "
            "+ make_dt_interval(`doc_id` % 365, `rep` % 24, 0, 0BD)")
_HTML = "encode(concat('<html><body>', `text`, '</body></html>'), 'utf-8')"


def pages(spark: SparkSession, sf_dir: str, replicate: int = 1,
          with_html: bool = False) -> DataFrame:
    """Build the pages table at a scale factor directory.

    ``replicate`` fans each document out into N distinct pages (distinct
    urls, same text) — the deterministic scale knob for throughput runs;
    it must be at least 1.

    Each stage (rep, url/warc_ts[/html], geocode) is Spark SQL text handed
    to the JVM in one call, like functions/native.py.
    """
    if replicate < 1:
        raise ValueError(f"replicate must be at least 1, got {replicate}.")
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    if replicate > 1:
        # documents is a single small file -> one input partition; spread it
        # across the cluster BEFORE the fan-out so the replicated table (and
        # everything downstream) is parallel. Repartitioning 5k doc rows is
        # cheap; repartitioning the exploded table would not be. 4 waves of
        # tasks per core: a single straggler then costs ~1/4 of a wave, not
        # a whole one (long tails dominate single-wave schedules).
        n_part = max(4 * spark.sparkContext.defaultParallelism, 8)
        docs = docs.repartition(n_part).withColumn(
            "rep", F.expr(f"explode(sequence(0, {replicate - 1}))"))
    else:
        docs = docs.withColumn("rep", F.expr("0"))

    stage = [("url", _URL), ("warc_ts", _WARC_TS)]
    if with_html:
        stage.append(("html", _HTML))
    out = docs.withColumns(exprs(stage))
    # geocode_from_url and the final projection in one select
    lat, lon = geocode_sql("url")
    cols = ["url", "warc_ts", "text", "lang", "doc_id", "rep"]
    if with_html:
        cols.insert(2, "html")
    return out.selectExpr(*cols, f"{lat} AS lat", f"{lon} AS lon")
