"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)`` runs the flagship query on sf0.001; ``queries()`` exposes
one callable per implemented operator from SURVEY.md §2 (plus the
training-data extensions); ``oracle_sql()`` gives the DuckDB twin for every
SQL-expressible query. Geohash encode / geocode are implemented twice —
JVM-native Spark expressions and DuckDB SQL — both proven bit-identical to
the golden-tested NumPy kernels (tests/test_functions_spark.py).
"""

from __future__ import annotations

import math
import os
import sys
from collections.abc import Callable

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import pandas as pd  # noqa: E402
from pyspark.sql import DataFrame, SparkSession  # noqa: E402
from pyspark.sql import functions as F  # noqa: E402

from geohash_dotnet_spark.functions import with_geohash  # noqa: E402
from geohash_dotnet_spark.functions.exact import MICRO  # noqa: E402
from geohash_dotnet_spark.functions.native import (  # noqa: E402
    BASE32,
    DUCKDB,
    gh_bbox,
    gh_children,
    gh_decode,
    gh_is_valid,
    gh_neighbor,
    gh_neighbors,
    haversine_m,
    haversine_sql,
    sql_double,
)
from geohash_dotnet_spark.functions.oracle import (  # noqa: E402
    center_lat_sql,
    center_lng_sql,
    decoded_select_sql,
    geocode_lat_sql,
    geocode_lon_sql,
    pages_sql,
    pages_tagged_sql,
    tagged_select_sql,
)
from geohash_dotnet_spark.kernels import compress as kcompress  # noqa: E402
from geohash_dotnet_spark.kernels import cover_circle, cover_polygon  # noqa: E402
from geohash_dotnet_spark.kernels.geohash import lat_lng_steps  # noqa: E402
from geohash_dotnet_spark.operators import (  # noqa: E402
    compress_cells,
    cover_circles,
    cover_polygons,
    cosine_topk,
    duplicate_groups,
    extract_features,
    knn_join,
    lsh_cosine_topk,
    minhash_lsh_pairs,
    ngram_jaccard_pairs,
    simhash_near_pairs,
    gh_grid,
    pick_grid_precision,
    spatial_join,
    synthetic_media,
    tile_stats,
    with_quality,
    with_token_stats,
)
from geohash_dotnet_spark.operators.dedup import (  # noqa: E402
    cluster_canonical_sql,
    containment_sql,
    dedup_clusters_sql,
    md5_60bit_sql,
    minhash_cross_sql,
    duplicate_spans_sql,
    paragraph_dedup_sql,
    latest_snapshot_sql,
    minhash_lsh_sql,
    ngram_jaccard_sql,
    simhash_sql,
)
from geohash_dotnet_spark.operators.multimodal import media_features_sql  # noqa: E402
from geohash_dotnet_spark.operators.pipeline import (  # noqa: E402
    boilerplate_sql,
    contamination_sql,
    mixture_weights_sql,
    pack_shards_sql,
    pii_scrub_sql,
    repetition_sql,
    sample_exact_n_sql,
    stratified_sample_sql,
)
from geohash_dotnet_spark.operators.asof import (  # noqa: E402
    asof_join_sql,
    interval_join_sql,
)
from geohash_dotnet_spark.operators.graph import (  # noqa: E402
    bfs_reach_sql,
    hits_sql,
    host_edges_sql,
    pagerank_sql,
)
from geohash_dotnet_spark.operators.hotspots import (  # noqa: E402
    focal_hotspots_sql,
    tile_anomaly_sql,
    moran_i_sql,
)
from geohash_dotnet_spark.operators.flows import (  # noqa: E402
    bearing_rose_sql,
    stay_points_sql,
    trip_stats_sql,
    visit_recurrence_sql,
)
from geohash_dotnet_spark.operators.lm import (  # noqa: E402
    hashed_linear_score_sql,
    score_calibration_sql,
)
from geohash_dotnet_spark.operators.rollup import (  # noqa: E402
    tile_freshness_sql,
    tile_pyramid_sql,
    time_rollup_sql,
)
from geohash_dotnet_spark.operators.sessions import sessionize_sql  # noqa: E402
from geohash_dotnet_spark.operators.clustering import (  # noqa: E402
    tile_density_clusters_sql,
)
from geohash_dotnet_spark.operators.bpe import bpe_merges_sql  # noqa: E402
from geohash_dotnet_spark.operators.privacy import (  # noqa: E402
    k_anonymous_tiles_sql,
)
from geohash_dotnet_spark.operators.tracks import (  # noqa: E402
    corridor_join_sql,
    snap_to_route_sql,
)
from geohash_dotnet_spark.operators.colocation import (  # noqa: E402
    cotravel_pairs_sql,
    place_profile_pairs_sql,
)
from geohash_dotnet_spark.operators.index import (  # noqa: E402
    bm25_topk_sql,
    build_postings_sql,
    doc_keywords_sql,
    geo_text_search_sql,
    phrase_match_sql,
)
from geohash_dotnet_spark.operators.cdc import snapshot_diff_sql  # noqa: E402
from geohash_dotnet_spark.operators.flows import (  # noqa: E402
    tile_flows_sql,
    user_mobility_sql,
)
from geohash_dotnet_spark.operators.kmeans import kmeans_fit_sql  # noqa: E402
from geohash_dotnet_spark.operators.lm import (  # noqa: E402
    bigram_ppl_sql,
    collocations_sql,
    dsir_weights_sql,
)
from geohash_dotnet_spark.operators.similarity import (  # noqa: E402
    cosine_near_pairs_sql,
    cosine_topk_sql,
    ivf_cosine_topk_sql,
    lsh_cosine_topk_sql,
    pq_topk_sql,
    semantic_dedup_sql,
)
from geohash_dotnet_spark.operators.crawl import (  # noqa: E402
    crawl_slots_sql,
    site_footprint_sql,
)
from geohash_dotnet_spark.operators.raster import hot_regions_sql  # noqa: E402
from geohash_dotnet_spark.operators.adaptive import adaptive_cells_sql  # noqa: E402
from geohash_dotnet_spark.operators.layout import (  # noqa: E402
    hilbert_bbox_tiles_sql,
    hilbert_shards_sql,
)
from geohash_dotnet_spark.operators.diversity import (  # noqa: E402
    distance_bands_sql,
    tile_entropy_sql,
    tile_skew_sql,
    tile_terms_sql,
)
from geohash_dotnet_spark.operators.links import (  # noqa: E402
    anchor_term_index_sql,
    frontier_hosts_sql,
    link_host_edges_sql,
    link_locality_sql,
    planted_anchors_sql,
    planted_local_anchors_sql,
    planted_mixed_anchors_sql,
    planted_rich_anchors_sql,
)
from geohash_dotnet_spark.operators.text import (  # noqa: E402
    char_entropy_sql_expr,
    group_quantiles_sql,
    quality_sql,
    token_stats_sql,
    vocab_topk_sql,
    winnow_sql,
)
from geohash_dotnet_spark.sources.pages import pages  # noqa: E402

REP = 8  # pages replication at correctness scale

# Fixed query geometry (edges < 180 deg lon jumps: no antimeridian handling)
RECT_WKT = "POLYGON((-85 -60, 0 -60, 85 -60, 85 60, 0 60, -85 60, -85 -60))"
RECT = dict(min_lat=-60.0, max_lat=60.0, min_lon=-85.0, max_lon=85.0)
CIRCLE = dict(lat=40.7128, lon=-74.0060, radius_m=3_000_000.0, precision=2)
KNN_QUERIES = [("q_berlin", 52.52, 13.405), ("q_sydney", -33.87, 151.21),
               ("q_lima", -12.05, -77.04)]
KNN_K = 10
# deterministic 96-query table: above knn's DRIVER_COVER_THRESHOLD
# (64), so round-1 ring coverings are built on EXECUTORS via cover_circles
# — the distributed path is under the driver's value gate, not just pytest
KNN_TABLE_QUERIES = [(f"qt_{i:03d}",
                      float(-58 + (i * 37) % 117),
                      float(-170 + (i * 73) % 341))
                     for i in range(96)]
KNN_TABLE_K = 5


def _docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/documents.parquet")


def _emb(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/embeddings.parquet")


def _pages(spark: SparkSession, sf_dir: str) -> DataFrame:
    return pages(spark, sf_dir, replicate=REP)


# ---------------------------------------------------------------------------
# queries
# ---------------------------------------------------------------------------

def q_encode_p5(spark, sf_dir):
    """gh_encode: JVM-native geohash of every page at precision 5."""
    return (with_geohash(_pages(spark, sf_dir), "lat", "lon", 5)
            .select("url", "lat", "lon", "gh"))


def q_tile_counts_p2(spark, sf_dir):
    """Aggregation: per-tile page counts at precision 2."""
    return (tile_stats(_pages(spark, sf_dir), precision=2)
            .select("tile", "n_pages", "n_urls"))


def q_tile_rollup(spark, sf_dir):
    """Hierarchy: p4 tiles rolled up to their p1 ancestor (parent op)."""
    pg = with_geohash(_pages(spark, sf_dir), "lat", "lon", 4)
    return (pg.groupBy(F.substring("gh", 1, 1).alias("tile1"))
            .agg(F.count(F.lit(1)).alias("n_pages"),
                 F.countDistinct(F.substring("gh", 1, 4)).alias("n_tiles_p4"))
            .orderBy("tile1"))


DIRECTIONS = ("n", "ne", "e", "se", "s", "sw", "w", "nw")
DIR_OFFSETS = {"n": (1, 0), "ne": (1, 1), "e": (0, 1), "se": (-1, 1),
               "s": (-1, 0), "sw": (-1, -1), "w": (0, -1), "nw": (1, -1)}


def _cells(spark, sf_dir, precision):
    """Distinct geohash cells of the pages table at a precision —
    deterministic input for the cell-algebra queries."""
    return (with_geohash(_pages(spark, sf_dir), "lat", "lon", precision)
            .select("gh").distinct())


def q_gh_decode(spark, sf_dir):
    """gh_decode: exact cell centers of every distinct p5 cell."""
    c = _cells(spark, sf_dir, 5).withColumn("d", gh_decode(F.col("gh")))
    return (c.select("gh", F.col("d.lat").alias("lat_c"),
                     F.col("d.lon").alias("lon_c"))
            .orderBy("gh"))


def q_gh_bbox(spark, sf_dir):
    """gh_bbox: exact dyadic cell bounds of every distinct p4 cell."""
    c = _cells(spark, sf_dir, 4).withColumn("b", gh_bbox(F.col("gh")))
    return (c.select("gh", "b.min_lat", "b.min_lng", "b.max_lat", "b.max_lng")
            .orderBy("gh"))


def q_gh_neighbors(spark, sf_dir):
    """All 8 neighbors of every distinct p3 cell (pole bounce +
    antimeridian wrap semantics)."""
    dirs = F.array(*[F.lit(d) for d in DIRECTIONS])
    c = _cells(spark, sf_dir, 3)
    out = c.select(F.col("gh").alias("src"),
                   F.posexplode(gh_neighbors(F.col("gh"))).alias("pos", "neighbor"))
    return (out.select("src", F.element_at(dirs, F.col("pos") + 1).alias("dir"),
                       "neighbor")
            .orderBy("src", "dir"))


def q_gh_neighbor(spark, sf_dir):
    """Single-direction neighbor (GetNeighbor, src/Geohasher.cs:151-155):
    the north neighbor of every distinct p4 cell (pole bounce included)."""
    c = _cells(spark, sf_dir, 4)
    return (c.select(F.col("gh").alias("src"),
                     gh_neighbor(F.col("gh"), "n").alias("neighbor"))
            .orderBy("src"))


def q_gh_children(spark, sf_dir):
    """All 32 children of every distinct p2 cell, base-32 order."""
    c = _cells(spark, sf_dir, 2)
    return (c.select(F.col("gh").alias("parent"),
                     F.explode(gh_children(F.col("gh"))).alias("child"))
            .orderBy("parent", "child"))


def q_gh_validity(spark, sf_dir):
    """IsValid over valid cells + case-folded / bad-char / too-long mutants."""
    c = _cells(spark, sf_dir, 3)
    cand = (c.select(F.col("gh").alias("candidate"))
            .union(c.select(F.upper("gh")))
            .union(c.select(F.concat("gh", F.lit("a"))))
            .union(c.select(F.concat(*([F.col("gh")] * 5)))))
    return (cand.select("candidate",
                        gh_is_valid(F.col("candidate")).alias("valid"))
            .orderBy("candidate", "valid"))


def q_gh_distance_cells(spark, sf_dir):
    """Hash-to-hash haversine distance (cell centers) over d* x s* p2 cells."""
    c = _cells(spark, sf_dir, 2)
    a = (c.filter(F.col("gh").startswith("d"))
         .select(F.col("gh").alias("gh_a"),
                 gh_decode(F.col("gh")).alias("da")))
    b = (c.filter(F.col("gh").startswith("s"))
         .select(F.col("gh").alias("gh_b"),
                 gh_decode(F.col("gh")).alias("db")))
    return (a.crossJoin(b)
            .select("gh_a", "gh_b",
                    MICRO.round(haversine_m("da.lat", "da.lon", "db.lat", "db.lon"))
                    .alias("dist_m"))
            .orderBy("gh_a", "gh_b"))


def q_cover_california(spark, sf_dir):
    """Distributed polygon coverage vs the reference's own golden set
    (tests/PolygonHasherTests.cs:20-47 — 22,754 p5 Contains cells)."""
    here = os.path.dirname(os.path.abspath(__file__))
    wkt = open(os.path.join(here, "tests/golden/california_p5_contains.wkt")).read()
    return (cover_polygons(spark, [("ca", wkt, 5, "contains")])
            .select("cell").orderBy("cell"))


CIRCLES = [("berlin", 52.52, 13.405, 100_000.0),
           ("fiji", -17.7, 179.9, 300_000.0),     # antimeridian-crossing
           ("nyc", 40.7128, -74.0060, 250_000.0),
           ("sydney", -33.87, 151.21, 50_000.0)]


VIEWPORT = dict(s=-25.0, w=160.0, n=10.0, e=200.0)  # spans the antimeridian
VIEWPORT_MAX_CELLS = 3000


def q_gh_grid(spark, sf_dir):
    """Viewport grid enumeration (playground parity) at the finest
    precision fitting the cell budget; viewport crosses the antimeridian
    (unnormalized longitudes, encode normalizes)."""
    v = VIEWPORT
    p = pick_grid_precision(v["s"], v["w"], v["n"], v["e"], VIEWPORT_MAX_CELLS)
    return (gh_grid(spark, v["s"], v["w"], v["n"], v["e"], p,
                    VIEWPORT_MAX_CELLS)
            .orderBy("min_lat", "min_lng"))


def q_geofence_ring(spark, sf_dir):
    """Geofence recipe from the reference README (README.md:76-86):
    boundary cells = intersects covering EXCEPT contains covering; pages
    landing in boundary cells are the ones needing the exact refine."""
    inter = spark.createDataFrame(
        [(c,) for c in cover_polygon(RECT_WKT, 3, "intersects")], "cell string")
    cont = spark.createDataFrame(
        [(c,) for c in cover_polygon(RECT_WKT, 3, "contains")], "cell string")
    edge = inter.exceptAll(cont)
    joined = spatial_join(_pages(spark, sf_dir), edge, precision=3)
    return (joined.groupBy("gh").agg(F.count(F.lit(1)).alias("n_pages"))
            .select(F.col("gh").alias("cell"), "n_pages").orderBy("cell"))


def q_cover_circles(spark, sf_dir):
    """Distributed circle coverage (auto precision, intersects) over a
    circles table — mapInPandas twin of the driver-side kernel."""
    df = spark.createDataFrame(
        CIRCLES, "circle_id string, lat double, lon double, radius_m double")
    return cover_circles(spark, df).orderBy("circle_id", "cell")


def q_spatial_join_rect(spark, sf_dir):
    """Core spatial join: pages -> broadcast covering of RECT (p2,
    intersects) -> per-cell counts."""
    cov_cells = cover_polygon(RECT_WKT, 2, "intersects")
    cov = spark.createDataFrame([(c,) for c in cov_cells], "cell string")
    joined = spatial_join(_pages(spark, sf_dir), cov, precision=2)
    return (joined.groupBy("gh").agg(F.count(F.lit(1)).alias("n_pages"))
            .select(F.col("gh").alias("cell"), "n_pages"))


def q_spatial_join_refined(spark, sf_dir):
    """Join + exact refine: pages strictly inside RECT, counted per lang."""
    cov_cells = cover_polygon(RECT_WKT, 2, "intersects")
    cov = spark.createDataFrame([(c,) for c in cov_cells], "cell string")
    joined = spatial_join(_pages(spark, sf_dir), cov, precision=2,
                          how="left_semi")
    inside = joined.filter(
        (F.col("lat") > RECT["min_lat"]) & (F.col("lat") < RECT["max_lat"])
        & (F.col("lon") > RECT["min_lon"]) & (F.col("lon") < RECT["max_lon"]))
    return (inside.groupBy("lang").agg(F.count(F.lit(1)).alias("n_pages"))
            .orderBy("lang"))


def q_circle_join(spark, sf_dir):
    """Radius query: circle covering (kernel) -> broadcast join -> exact
    haversine refine (README.md:62-72 recipe)."""
    cells = cover_circle(CIRCLE["lat"], CIRCLE["lon"], CIRCLE["radius_m"],
                         CIRCLE["precision"], "intersects")
    cov = spark.createDataFrame([(c,) for c in cells], "cell string")
    pg = spatial_join(_pages(spark, sf_dir), cov,
                      precision=CIRCLE["precision"], how="left_semi")
    d = haversine_m(sql_double(CIRCLE["lat"]), sql_double(CIRCLE["lon"]), "lat", "lon")
    return (pg.withColumn("dist_m", MICRO.round(d))
            .filter(F.col("dist_m") <= CIRCLE["radius_m"])
            .select("url", "dist_m")
            .orderBy("dist_m", "url"))


def q_knn(spark, sf_dir):
    """kNN via cell-ring expansion + window top-k."""
    queries = pd.DataFrame(KNN_QUERIES, columns=["query_id", "lat", "lon"])
    out = knn_join(spark, _pages(spark, sf_dir), queries, k=KNN_K,
                   initial_radius_m=500_000.0)
    return (out.select("query_id", "rank", "url",
                       MICRO.round(F.col("dist_m")).alias("dist_m"))
            .orderBy("query_id", "rank"))


def q_knn_table(spark, sf_dir):
    """kNN over a query TABLE: executor-side ring coverings (96 queries
    exceed knn.DRIVER_COVER_THRESHOLD, so cover_circles builds every round-1
    covering distributed)."""
    queries = pd.DataFrame(KNN_TABLE_QUERIES, columns=["query_id", "lat", "lon"])
    out = knn_join(spark, _pages(spark, sf_dir), queries, k=KNN_TABLE_K,
                   initial_radius_m=500_000.0)
    return (out.select("query_id", "rank", "url",
                       MICRO.round(F.col("dist_m")).alias("dist_m"))
            .orderBy("query_id", "rank"))


def q_compress_covering(spark, sf_dir):
    """Covering-set compression of the California p4 intersects covering."""
    wkt = open(os.path.join(os.path.dirname(os.path.abspath(__file__)),
                            "tests/golden/california_p5_contains.wkt")).read()
    cells = cover_polygon(wkt, 4, "intersects")
    df = spark.createDataFrame([(c,) for c in cells], "cell string")
    return compress_cells(df).orderBy("cell")


def q_exact_dedup_groups(spark, sf_dir):
    """Exact dedup: fingerprint groups over replicated pages."""
    return (duplicate_groups(_pages(spark, sf_dir), id_col="url")
            .select("fingerprint", "n_dups",
                    F.col("keep_id").alias("keep_url"))
            .orderBy("fingerprint"))


def q_ngram_jaccard(spark, sf_dir):
    """Near-dup pairs by 3-gram Jaccard >= 0.5 (fully relational)."""
    return (ngram_jaccard_pairs(_docs(spark, sf_dir), threshold=0.5)
            .orderBy("id_a", "id_b"))


def q_ngram_jaccard_capped(spark, sf_dir):
    """Near-dup pairs by 3-gram Jaccard with the production
    document-frequency cap (max_df=0.05): shingles present in more than
    5% of the corpus are dropped from the shingle universe before the
    self-join, bounding the hot-shingle quadratic that makes the exact
    form pairs-quadratic at scale. Jaccard is recomputed over the capped
    shingle space; the DuckDB twin replays the cap, so the capped
    semantics are value-verified end-to-end."""
    return (ngram_jaccard_pairs(_docs(spark, sf_dir), threshold=0.5,
                                max_df=0.05)
            .orderBy("id_a", "id_b"))


def q_minhash_pairs(spark, sf_dir):
    """MinHash-LSH near-dup pairs, candidate-restricted exact verify.

    Oracle = the full relational Jaccard at the same threshold, so every
    driver run asserts 100% LSH recall on the corpus."""
    return (minhash_lsh_pairs(_docs(spark, sf_dir), threshold=0.5)
            .orderBy("id_a", "id_b"))


def q_simhash_pairs(spark, sf_dir):
    """SimHash near-dup pairs (hamming <= 3, exact-recall chunk
    bucketing); oracle recomputes the md5-derived 60-bit simhashes and
    does brute-force all-pairs hamming in DuckDB."""
    return simhash_near_pairs(_docs(spark, sf_dir), max_hamming=3) \
        .orderBy("id_a", "id_b")


def q_winnow_fingerprints(spark, sf_dir):
    """Rolling-hash winnowing fingerprints (k=8 char grams, w=16
    windows) — the classic local copy-detection fingerprint set; fully
    native expressions with a value-exact DuckDB twin."""
    from geohash_dotnet_spark.operators.text import winnow_fingerprints

    return winnow_fingerprints(_docs(spark, sf_dir)).orderBy("id", "fp")


def q_token_stats(spark, sf_dir):
    """Token counting over documents (native exprs)."""
    return (with_token_stats(_docs(spark, sf_dir))
            .select("doc_id", "n_tokens", "n_bpe_tokens", "n_chars_text",
                    "avg_token_len")
            .orderBy("doc_id"))


def q_quality(spark, sf_dir):
    """Quality scoring + heuristic language ID.

    The input unions in four synthetic LONG documents (text+' '
    replicated 200x -> always > 8190 bytes) so the packed-lane fast
    path AND the >8190-byte per-language filter() slow path of
    with_quality both sit under the driver value gate (round-3 VERDICT
    item 8 — synthetic docs are otherwise all short)."""
    docs = _docs(spark, sf_dir)
    long_docs = (docs.filter(F.col("doc_id") < 4)
                 .select((F.col("doc_id") + F.lit(1_000_000)).alias("doc_id"),
                         F.repeat(F.concat(F.col("text"), F.lit(" ")),
                                  200).alias("text"),
                         "lang", "source", "n_chars"))
    return (with_quality(docs.unionByName(long_docs))
            .select("doc_id", "stopword_ratio", "lang_pred", "quality_score")
            .orderBy("doc_id"))


def q_decontaminate(spark, sf_dir):
    """Benchmark decontamination: word-3-gram overlap of every training
    doc against the eval split (deterministic doc_id % 17 carve-out),
    benchmark grams broadcast so the corpus is never shuffled."""
    from geohash_dotnet_spark.operators import contamination_stats

    docs = _docs(spark, sf_dir)
    ev = docs.filter(F.col("doc_id") % 17 == 0)
    tr = docs.filter(F.col("doc_id") % 17 != 0)
    return (contamination_stats(tr, ev, n=3, threshold=0.2)
            .orderBy("doc_id"))


def q_repetition_stats(spark, sf_dir):
    """Gopher-style repetition quality signals (duplicate-word fraction,
    top-2-gram occupancy) — word-count-shaped aggregation with map-side
    combine."""
    from geohash_dotnet_spark.operators import repetition_stats

    return repetition_stats(_docs(spark, sf_dir), n=2).orderBy("doc_id")


def q_boilerplate_stats(spark, sf_dir):
    """Cross-document boilerplate fraction: bigram document frequency,
    hot set (df >= max(2, ceil(5% of corpus))) broadcast back for the
    per-doc recount — the CCNet/RefinedWeb boilerplate signal."""
    from geohash_dotnet_spark.operators import boilerplate_stats

    return (boilerplate_stats(_docs(spark, sf_dir), n=2, min_df=0.05)
            .orderBy("doc_id"))


def q_stratified_sample(spark, sf_dir):
    """Deterministic per-language training-mix sampling: hash-threshold
    keep rule (zero shuffle, layout-independent row survival)."""
    from geohash_dotnet_spark.operators import stratified_sample

    rates = {"en": 0.5, "de": 0.25, "es": 0.1}
    return (stratified_sample(_docs(spark, sf_dir), rates,
                              default_rate=0.05)
            .select("doc_id", "lang", "u")
            .orderBy("doc_id"))


PII_SUFFIX_SQL = (" contact user' || CAST(doc_id AS VARCHAR) || "
                  "'@example.com from 10.' || CAST(doc_id % 256 AS VARCHAR) "
                  "|| '.0.1 call +1-555-' || "
                  "lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')")


def q_pii_scrub(spark, sf_dir):
    """PII scrubbing over documents with deterministically planted
    email/IP/phone per row (both engines synthesize the same suffix, so
    the scrubbed-text fingerprints must agree byte-for-byte)."""
    from geohash_dotnet_spark.operators import with_pii_scrubbed

    docs = _docs(spark, sf_dir)
    planted = docs.withColumn(
        "text",
        F.concat(F.col("text"),
                 F.lit(" contact user"), F.col("doc_id").cast("string"),
                 F.lit("@example.com from 10."),
                 (F.col("doc_id") % 256).cast("string"),
                 F.lit(".0.1 call +1-555-"),
                 F.lpad((F.col("doc_id") % 10000).cast("string"), 4, "0")))
    return (with_pii_scrubbed(planted)
            .select("doc_id", "n_emails", "n_phones", "n_ipv4",
                    F.md5(F.col("text_scrubbed")).alias("scrub_fp"))
            .orderBy("doc_id"))


def q_cover_tracks(spark, sf_dir):
    """Trajectory coverage: per-user tracks built from consecutive
    deterministically-geocoded events, each segment sampled >= 2 points
    per p3 cell step and encoded with the native staged codegen encode;
    per-track distinct-cell rollup (sampling semantics replayed
    bit-for-bit by the DuckDB twin)."""
    from pyspark.sql import Window

    from geohash_dotnet_spark.functions.native import geocode_from_url
    from geohash_dotnet_spark.operators.tracks import cover_tracks

    ev = (spark.read.parquet(f"{sf_dir}/events.parquet")
          .withColumn("__eid", F.col("event_id").cast("string")))
    ev = geocode_from_url(ev, url="__eid")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seg = (ev.select(F.col("user_id").alias("track_id"),
                     F.lag("lat").over(w).alias("lat1"),
                     F.lag("lon").over(w).alias("lon1"),
                     F.col("lat").alias("lat2"),
                     F.col("lon").alias("lon2"))
           .filter(F.col("lat1").isNotNull()))
    cells = cover_tracks(seg, precision=3)
    return (cells.groupBy("track_id")
            .agg(F.count(F.lit(1)).alias("n_cells"),
                 F.min("gh").alias("first_cell"),
                 F.max("gh").alias("last_cell"))
            .orderBy("track_id"))


def _cover_tracks_sql() -> str:
    from geohash_dotnet_spark.operators.tracks import cover_tracks_sql

    eid = "CAST(event_id AS VARCHAR)"
    pts = (f"SELECT user_id, ts, event_id, "
           f"{geocode_lat_sql(eid)} AS lat, {geocode_lon_sql(eid)} AS lon "
           f"FROM events")
    seg = (f"SELECT user_id AS track_id, lag(lat) OVER w AS lat1, "
           f"lag(lon) OVER w AS lon1, lat AS lat2, lon AS lon2 "
           f"FROM ({pts}) "
           f"WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)")
    inner = f"SELECT * FROM ({seg}) WHERE lat1 IS NOT NULL"
    cover = cover_tracks_sql(inner, 3)
    return (f"SELECT track_id, CAST(count(*) AS BIGINT) AS n_cells, "
            f"min(gh) AS first_cell, max(gh) AS last_cell "
            f"FROM ({cover}) GROUP BY track_id ORDER BY track_id")


def q_tile_smooth(spark, sf_dir):
    """Raster-style 3x3 focal smoothing of per-tile page counts at p3:
    each tile's smoothed value is the sum over its (deduped) neighbor
    set plus itself. The neighbor expansion runs on the AGGREGATED tile
    set (|tiles| rows, never the corpus), so smoothing cost is
    independent of page count — the focal window of GIS map algebra
    expressed as explode + join + re-aggregate."""
    pg = with_geohash(_pages(spark, sf_dir), "lat", "lon", 3)
    tiles = pg.groupBy("gh").agg(F.count(F.lit(1)).alias("n"))
    nb = tiles.select(
        F.col("gh").alias("t"),
        F.explode(F.array_union(gh_neighbors(F.col("gh")),
                                F.array(F.col("gh")))).alias("s"))
    focal = (nb.join(tiles.select(F.col("gh").alias("s"),
                                  F.col("n").alias("sn")), "s")
             .groupBy("t").agg(F.sum("sn").alias("focal_n")))
    return (tiles.select(F.col("gh").alias("tile"), "n")
            .join(focal.withColumnRenamed("t", "tile"), "tile")
            .orderBy("tile"))


_CITIES = [
    ("anchorage", 61.22, -149.9), ("delhi", 28.61, 77.21),
    ("lagos", 6.46, 3.38), ("london", 51.51, -0.13),
    ("nyc", 40.71, -74.01), ("saopaulo", -23.55, -46.63),
    ("sydney", -33.87, 151.21), ("tokyo", 35.68, 139.69),
]


def q_nearest_city(spark, sf_dir):
    """Reverse geocoding: nearest of 8 fixed city sites per page —
    shuffle-free broadcast-constant argmin projection (array of
    (dist, name) structs + array_min), vs the DuckDB N x K cross-join
    QUALIFY argmin."""
    from geohash_dotnet_spark.operators import nearest_assign

    return (nearest_assign(_pages(spark, sf_dir), _CITIES)
            .select("url", "site", "dist_m").orderBy("url"))


def q_tile_hotspots(spark, sf_dir):
    """Getis-Ord Gi* hotspot z-scores over p3 tile page counts: the
    focal neighborhood sum scored against global moments (exact-integer
    sums broadcast as one row). Neighborhood expansion runs on the
    aggregated tile set, never the corpus."""
    from geohash_dotnet_spark.operators import focal_hotspots

    pg = with_geohash(_pages(spark, sf_dir), "lat", "lon", 3)
    tiles = pg.groupBy("gh").agg(F.count(F.lit(1)).alias("n"))
    return focal_hotspots(tiles, cell_col="gh", value_col="n").orderBy("gh")


def q_events_asof(spark, sf_dir):
    """As-of join: attach each user's most recent purchase value (and
    its timestamp) to every non-purchase event, 6h tolerance — the
    union+window formulation (one key exchange, no join node), checked
    against DuckDB's native ASOF LEFT JOIN."""
    from pyspark.sql import Window

    from geohash_dotnet_spark.operators import asof_join

    spark.conf.set("spark.sql.session.timeZone", "UTC")
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    w = Window.partitionBy("user_id", "ts").orderBy(F.col("event_id").desc())
    pur = (ev.filter(F.col("event_type") == "purchase")
           .withColumn("__rn", F.row_number().over(w))
           .filter(F.col("__rn") == 1).select("user_id", "ts", "value"))
    lft = (ev.filter(F.col("event_type") != "purchase")
           .select("event_id", "user_id", "ts", "event_type"))
    return (asof_join(lft, pur, key="user_id", values=("value",),
                      tolerance_s=6 * 3600, out_prefix="last_purchase_")
            .orderBy("event_id"))


def q_events_range(spark, sf_dir):
    """Range join: every non-purchase event inside any [purchase,
    purchase+2h) window of the same user — bucket-explode equi-join +
    exact refine (the temporal covering join), checked against the
    plain inequality join in DuckDB."""
    from geohash_dotnet_spark.operators import interval_join

    spark.conf.set("spark.sql.session.timeZone", "UTC")
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    pur = (ev.filter(F.col("event_type") == "purchase")
           .select(F.col("event_id").alias("window_id"), "user_id",
                   F.col("ts").alias("start_ts"),
                   (F.col("ts") + F.expr("interval 2 hours"))
                   .alias("end_ts"),
                   F.col("value").alias("purchase_value")))
    lft = (ev.filter(F.col("event_type") != "purchase")
           .select("event_id", "user_id", "ts", "event_type"))
    return (interval_join(lft, pur, key="user_id")
            .select("event_id", "user_id", "ts", "event_type",
                    "window_id", "purchase_value")
            .orderBy("event_id", "window_id"))


def q_events_time_rollup(spark, sf_dir):
    """Hypertable-style rollup ladder: minute/hour/day event aggregates
    from one raw scan to minutes and ONE level-exploded aggregation;
    fixed-point sums keep re-aggregation bit-identical to direct
    aggregation (the oracle's form)."""
    from geohash_dotnet_spark.operators import time_rollup

    spark.conf.set("spark.sql.session.timeZone", "UTC")
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    return time_rollup(ev).orderBy("level", "bucket")


def q_tile_moran(spark, sf_dir):
    """Global Moran's I over p3 tile page counts: one-row spatial
    autocorrelation summary (I, E[I], z under normality) computed
    entirely from exact integer aggregates on the tile table."""
    from geohash_dotnet_spark.operators import moran_i

    pg = with_geohash(_pages(spark, sf_dir), "lat", "lon", 3)
    tiles = pg.groupBy("gh").agg(F.count(F.lit(1)).alias("n"))
    return moran_i(tiles, cell_col="gh", value_col="n")


def q_tile_trend(spark, sf_dir):
    """Geo-temporal trend: per-tile daily event counts with the
    day-over-day delta (lag over the PRESENT days per tile). The window
    runs on the aggregated (tile, day) table — small — after one
    corpus-keyed aggregation exchange."""
    from pyspark.sql import Window

    from geohash_dotnet_spark.functions.native import geocode_from_url

    spark.conf.set("spark.sql.session.timeZone", "UTC")
    ev = (spark.read.parquet(f"{sf_dir}/events.parquet")
          .withColumn("__uid", F.col("user_id").cast("string")))
    ev = with_geohash(geocode_from_url(ev, url="__uid"), "lat", "lon", 2)
    daily = (ev.groupBy(F.col("gh").alias("tile"),
                        F.date_trunc("day", F.col("ts").cast("timestamp"))
                        .cast("date").alias("day"))
             .agg(F.count(F.lit(1)).alias("n_events")))
    w = Window.partitionBy("tile").orderBy("day")
    return (daily.withColumn(
        "delta",
        F.coalesce(F.col("n_events") - F.lag("n_events").over(w),
                   F.lit(0)).cast("long"))
            .orderBy("tile", "day"))


def _tile_trend_sql() -> str:
    uid = "CAST(user_id AS VARCHAR)"
    pts = (f"SELECT ts, {geocode_lat_sql(uid)} AS lat, "
           f"{geocode_lon_sql(uid)} AS lon FROM events")
    tagged = tagged_select_sql(pts, 2, keep="ts")
    return (f"WITH daily AS (SELECT gh AS tile, "
            f"CAST(date_trunc('day', ts) AS DATE) AS day, "
            f"CAST(count(*) AS BIGINT) AS n_events "
            f"FROM ({tagged}) GROUP BY 1, 2) "
            f"SELECT tile, day, n_events, "
            f"CAST(COALESCE(n_events - lag(n_events) OVER ("
            f"PARTITION BY tile ORDER BY day), 0) AS BIGINT) AS delta "
            f"FROM daily ORDER BY tile, day")


def q_tile_quality_dist(spark, sf_dir):
    """Per-tile quality distribution: exact interpolated median plus
    min/max of the fp6-quantized quality score. Median is rank-based
    (deterministic under any aggregation order, unlike a float mean),
    and at f=0.5 both engines interpolate lower + 0.5*(higher-lower)
    over identical quantized inputs, so the gate is exact."""
    from geohash_dotnet_spark.operators.text import with_quality

    pg = with_quality(with_geohash(_pages(spark, sf_dir),
                                   "lat", "lon", 2))
    return (pg.groupBy(F.col("gh").alias("tile"))
            .agg(F.count(F.lit(1)).alias("n_pages"),
                 MICRO.round(F.percentile(F.col("quality_score"), F.lit(0.5)))
                 .alias("median_q"),
                 F.min("quality_score").alias("min_q"),
                 F.max("quality_score").alias("max_q"))
            .orderBy("tile"))


def q_extract_text(spark, sf_dir):
    """The input_hint invariant as a gated query: text extracted from
    the html binary must be byte-identical to the text column per url
    (fp = md5 of the extraction, byte_identical asserted row-wise; the
    oracle replays decode+strip relationally)."""
    from geohash_dotnet_spark.operators.text import extract_text

    pg = pages(spark, sf_dir, replicate=2, with_html=True)
    ex = extract_text(pg)
    return (ex.select("url",
                      F.md5(F.col("extracted_text")).alias("fp"),
                      (F.col("extracted_text") == F.col("text"))
                      .cast("int").alias("byte_identical"))
            .orderBy("url"))


def q_url_canonical_dedup(spark, sf_dir):
    """URL-level dedup after canonicalization: deterministic dirty
    variants (case-shifted host, www prefix, fragment, shuffled query
    params, trailing slash) collapse to one canonical form per page."""
    from geohash_dotnet_spark.operators import with_canonical_url

    docs = _docs(spark, sf_dir).withColumn(
        "rep", F.explode(F.sequence(F.lit(0), F.lit(7))))
    base = F.concat(
        F.when(F.col("doc_id") % 3 == 0,
               F.lit("HTTPS://WWW.Crawl.Example"))
        .otherwise(F.lit("https://crawl.example")),
        F.lit("/"), F.col("source"), F.lit("/"),
        F.col("doc_id").cast("string"))
    m = F.col("rep") % 4
    dirty = (F.when(m == 0, base)
             .when(m == 1, F.concat(base, F.lit("#section")))
             .when(m == 2, F.concat(base, F.lit("?b=2&a=1")))
             .otherwise(F.concat(base, F.lit("/?a=1&b=2"))))
    d = with_canonical_url(docs.withColumn("url", dirty))
    return (d.groupBy("canon_url")
            .agg(F.count(F.lit(1)).alias("n_rows"),
                 F.countDistinct("url").alias("n_variants"))
            .orderBy("canon_url"))


def _url_canonical_dedup_sql() -> str:
    from geohash_dotnet_spark.operators.pipeline import (
        canonical_url_sql_expr)

    base = ("CASE WHEN doc_id % 3 = 0 THEN 'HTTPS://WWW.Crawl.Example' "
            "ELSE 'https://crawl.example' END || '/' || source || '/' "
            "|| CAST(doc_id AS VARCHAR)")
    dirty = (f"CASE WHEN rep % 4 = 0 THEN base "
             f"WHEN rep % 4 = 1 THEN base || '#section' "
             f"WHEN rep % 4 = 2 THEN base || '?b=2&a=1' "
             f"ELSE base || '/?a=1&b=2' END")
    return (f"SELECT {canonical_url_sql_expr('url')} AS canon_url, "
            f"CAST(count(*) AS BIGINT) AS n_rows, "
            f"CAST(count(DISTINCT url) AS BIGINT) AS n_variants "
            f"FROM (SELECT {dirty} AS url FROM "
            f"(SELECT doc_id, source, unnest(range(8)) AS rep, "
            f"{base} AS base FROM documents)) "
            f"GROUP BY canon_url ORDER BY canon_url")


def q_vocab_topk(spark, sf_dir):
    """Corpus vocabulary: 200 most frequent tokens (word-count shape,
    deterministic (n desc, token asc) boundary)."""
    from geohash_dotnet_spark.operators import vocab_topk

    return vocab_topk(_docs(spark, sf_dir), k=200)


def q_pack_shards(spark, sf_dir):
    """Token-budget shard packing: docs → hash buckets → exclusive-cumsum
    shard boundaries within each bucket (layout-independent assignment)."""
    from geohash_dotnet_spark.operators import pack_shards
    from geohash_dotnet_spark.operators.text import with_token_stats

    docs = with_token_stats(_docs(spark, sf_dir))
    return (pack_shards(docs, budget=2000, n_buckets=8)
            .select("doc_id", "bucket", "shard", "n_tokens")
            .orderBy("doc_id"))


CURATION_RATES = {"en": 0.8, "de": 0.6, "es": 0.6, "fr": 0.6}


def q_curation_pipeline(spark, sf_dir):
    """End-to-end corpus curation: quality-score -> filter -> exact
    dedup (keep lowest id per fingerprint) -> stratified mix on the
    PREDICTED language -> repetition filter -> per-language corpus
    stats. Composes five operators; the oracle replays the whole chain
    relationally, so every stage sits under the value gate at once."""
    from geohash_dotnet_spark.operators import (
        exact_dedup, repetition_stats, stratified_sample)
    from geohash_dotnet_spark.operators.text import (
        with_quality, with_token_stats)

    docs = _docs(spark, sf_dir)
    scored = with_token_stats(with_quality(docs))
    good = scored.filter(F.col("quality_score") >= 0.15)
    deduped = exact_dedup(good)
    sampled = stratified_sample(deduped, CURATION_RATES,
                                strata_col="lang_pred",
                                default_rate=0.5)
    # repetition is per-row deterministic, so scoring only the sampled
    # subset gives the same keep set as scoring the whole corpus (the
    # oracle scores the corpus) at a fraction of the gram work
    keep = (repetition_stats(sampled.select("doc_id", "text"))
            .filter(F.col("top_ngram_share") <= 0.4)
            .select("doc_id"))
    flt = sampled.join(keep, "doc_id", "left_semi")
    return (flt.groupBy("lang_pred")
            .agg(F.count(F.lit(1)).alias("n_docs"),
                 F.sum("n_tokens").alias("total_tokens"),
                 MICRO.mean(F.col("quality_score")).alias("avg_quality"))
            .orderBy("lang_pred"))


def _curation_pipeline_sql() -> str:
    from geohash_dotnet_spark.operators.text import fingerprint_sql_expr

    scored = token_stats_sql(inner=f"({quality_sql('documents')})")
    good = f"SELECT * FROM ({scored}) WHERE quality_score >= 0.15"
    fp = fingerprint_sql_expr()
    deduped = (f"SELECT * FROM (SELECT *, {fp} AS fingerprint "
               f"FROM ({good})) QUALIFY row_number() OVER ("
               f"PARTITION BY fingerprint ORDER BY doc_id) = 1")
    sampled = stratified_sample_sql(
        inner=f"({deduped})", rates=CURATION_RATES,
        strata_col="lang_pred", default_rate=0.5)
    rep = repetition_sql("documents", n=2)
    return (f"SELECT lang_pred, count(*) AS n_docs, "
            f"CAST(sum(n_tokens) AS BIGINT) AS total_tokens, "
            f"{MICRO.mean_sql('quality_score')} AS avg_quality "
            f"FROM ({sampled}) WHERE doc_id IN "
            f"(SELECT doc_id FROM ({rep}) WHERE top_ngram_share <= 0.4) "
            f"GROUP BY lang_pred ORDER BY lang_pred")


def q_cosine_topk(spark, sf_dir):
    """Brute-force cosine top-k over the embeddings table."""
    emb = _emb(spark, sf_dir)
    queries = (emb.filter(F.col("vec_id") < 5)
               .select(F.col("vec_id").alias("q_id"),
                       F.col("embedding").alias("q_vec")))
    return (cosine_topk(emb, queries, k=10)
            .orderBy("q_id", "rank"))


def q_ivf_cosine_topk(spark, sf_dir):
    """IVF-style ANN top-k (coarse quantizer -> inverted lists -> probe
    -> exact rerank); oracle replays the whole approximate path."""
    from geohash_dotnet_spark.operators.similarity import ivf_cosine_topk

    emb = _emb(spark, sf_dir)
    queries = (emb.filter(F.col("vec_id") < 5)
               .select(F.col("vec_id").alias("q_id"),
                       F.col("embedding").alias("q_vec")))
    return ivf_cosine_topk(emb, queries, k=10).orderBy("q_id", "rank")


def q_cosine_near_pairs(spark, sf_dir):
    """Embedding-cosine near-dup pairs (banded SRP-LSH self-join + exact
    verify); oracle replays the identical banded candidate generation."""
    from geohash_dotnet_spark.operators import cosine_near_pairs

    return (cosine_near_pairs(_emb(spark, sf_dir), threshold=0.4)
            .orderBy("id_a", "id_b"))


def q_lsh_cosine_topk(spark, sf_dir):
    """LSH-bucketed approximate cosine top-k (scale path). Oracle replays
    the seed-fixed hyperplane buckets + multiprobe + rerank in DuckDB."""
    emb = _emb(spark, sf_dir)
    queries = (emb.filter(F.col("vec_id") < 5)
               .select(F.col("vec_id").alias("q_id"),
                       F.col("embedding").alias("q_vec")))
    return (lsh_cosine_topk(emb, queries, k=10, dim=64)
            .orderBy("q_id", "rank"))


def q_semantic_dedup(spark, sf_dir):
    """SemDeDup-style semantic dedup: shuffle-free coarse clustering,
    cluster-local near-identical pairs, most-similar-lower-id keep rule.

    max_cluster_size=20 deliberately ACTIVATES the md5 sub-bucket
    cluster-size guard at driver scale (500 vectors / 16 centroids
    ~= 31 per cluster) so the guard itself sits under the value gate."""
    from geohash_dotnet_spark.operators import semantic_dedup

    return semantic_dedup(_emb(spark, sf_dir), threshold=0.2,
                          max_cluster_size=20)


def q_multimodal_features(spark, sf_dir):
    """Real binary-column decode: deterministic BMP/WAV payloads built
    from the url hash, parsed back by the pure-NumPy container decoder
    (header parse -> pixel/sample extract -> features). The oracle
    recomputes the expected features in closed form from the same hash —
    so a decoder that misparses the bytes fails the gate."""
    from geohash_dotnet_spark.operators.dedup import md5_60bit

    sel = (_pages(spark, sf_dir).select("url").distinct()
           .filter(md5_60bit(F.col("url")) % 50 == 0))
    out = extract_features(synthetic_media(sel), decoder="real")
    return (out.select("url", "media_type", "width", "height",
                       MICRO.round(F.element_at("features", 1)).alias("f0"),
                       MICRO.round(F.element_at("features", 2)).alias("f1"))
            .orderBy("url"))


def q_flagship(spark, sf_dir):
    """Flagship: geocode -> gh p3 -> rect covering join -> quality ->
    per-(tile1, lang) page counts + avg quality."""
    cov_cells = cover_polygon(RECT_WKT, 2, "intersects")
    cov = spark.createDataFrame([(c,) for c in cov_cells], "cell string")
    # join first: the cheap cell-index semi-join prunes pages before the
    # expensive per-row quality scoring (predicate-ordering at scale)
    joined = with_quality(
        spatial_join(_pages(spark, sf_dir), cov, precision=2, how="left_semi"))
    # fixed-point integer sum -> order-insensitive, bit-identical average
    # across engines (quality_score is already rounded to 6 dp)
    return (joined.groupBy(F.substring("gh", 1, 1).alias("tile1"), "lang")
            .agg(F.count(F.lit(1)).alias("n_pages"),
                 MICRO.mean(F.col("quality_score")).alias("avg_quality"))
            .orderBy("tile1", "lang"))


def q_events_windowed_tiles(spark, sf_dir):
    """Spatio-temporal rollup over the events stream (batch twin of
    streaming/tiles.py): deterministic geocode by user_id -> gh p2 ->
    tumbling 1-hour event-time windows -> per (window, tile, type) counts,
    exact fixed-point value sums, and JSON-extracted props."""
    from geohash_dotnet_spark.functions.native import geocode_from_url

    # F.window aligns in spark.sql.session.timeZone while the DuckDB
    # twin's time_bucket is tz-naive; pin UTC so the two agree in any
    # environment (a fractional-offset session tz would silently shift
    # the window starts).
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    ev = (spark.read.parquet(f"{sf_dir}/events.parquet")
          .withColumn("__uid", F.col("user_id").cast("string")))
    ev = geocode_from_url(ev, url="__uid")
    ev = with_geohash(ev, "lat", "lon", 2)
    k = F.get_json_object("props", "$.k").cast("int")
    return (ev.groupBy(F.window("ts", "1 hour")["start"].alias("window_start"),
                       F.col("gh").alias("tile"), "event_type")
            .agg(F.count(F.lit(1)).alias("n_events"),
                 MICRO.sum(F.col("value")).alias("sum_value"),
                 F.sum(k).alias("sum_k"))
            .orderBy("window_start", "tile", "event_type"))


# TPC-H-style relational sanity (scan/filter/agg/join/window/limit)
def q_pricing_summary(spark, sf_dir):
    # timestamp-literal comparison must agree with the tz-naive DuckDB
    # twin in any session timezone (same reasoning as events query)
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    disc = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (li.filter(F.col("l_shipdate") <= F.lit("1998-09-02"))
            .groupBy("l_returnflag", "l_linestatus")
            .agg(MICRO.sum(F.col("l_quantity")).alias("sum_qty"),
                 MICRO.sum(F.col("l_extendedprice")).alias("sum_base_price"),
                 MICRO.sum(disc).alias("sum_disc_price"),
                 MICRO.mean(F.col("l_quantity")).alias("avg_qty"),
                 F.count(F.lit(1)).alias("count_order"))
            .orderBy("l_returnflag", "l_linestatus"))


def q_regional_suppliers(spark, sf_dir):
    """Star-schema sanity: two broadcast dim joins (region -> nation ->
    supplier) + per-region rollup."""
    r = spark.read.parquet(f"{sf_dir}/region.parquet")
    n = spark.read.parquet(f"{sf_dir}/nation.parquet")
    s = spark.read.parquet(f"{sf_dir}/supplier.parquet")
    j = (s.join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
         .join(F.broadcast(r), n.n_regionkey == r.r_regionkey))
    return (j.groupBy("r_name")
            .agg(F.count(F.lit(1)).alias("n_suppliers"),
                 MICRO.mean(F.col("s_acctbal")).alias("avg_acctbal"))
            .orderBy("r_name"))


def q_top_customers(spark, sf_dir):
    o = spark.read.parquet(f"{sf_dir}/orders.parquet")
    c = spark.read.parquet(f"{sf_dir}/customer.parquet")
    return (o.join(c, o.o_custkey == c.c_custkey)
            .groupBy("c_custkey", "c_name")
            .agg(MICRO.sum(F.col("o_totalprice")).alias("total_spend"),
                 F.count(F.lit(1)).alias("n_orders"))
            .orderBy(F.col("total_spend").desc(), F.col("c_custkey"))
            .limit(25))


def q_dedup_clusters(spark, sf_dir):
    """Near-duplicate CLUSTERS: MinHash-LSH pair graph -> connected
    components via hash-to-min label propagation with pointer jumping
    (O(log diameter) shuffle rounds — the scalable form). Oracle =
    recursive-CTE transitive closure over the exact relational Jaccard
    pairs at the same threshold, so the key simultaneously re-asserts
    LSH recall and verifies the component labels."""
    from geohash_dotnet_spark.operators import connected_components

    pairs = minhash_lsh_pairs(_docs(spark, sf_dir), threshold=0.5)
    return connected_components(pairs).orderBy("id")


def q_latest_snapshot(spark, sf_dir):
    """Crawl-snapshot dedup: newest (warc_ts, rep) fetch per document via
    a struct-max aggregation (partial-agg friendly — the exchange carries
    |docs| rows, not |fetches|; a row_number window would shuffle+sort
    the full fetch history). Oracle = QUALIFY row_number in DuckDB."""
    from geohash_dotnet_spark.operators import latest_snapshot

    return latest_snapshot(_pages(spark, sf_dir)).orderBy("doc_id")


QK_Z = 6  # zoom for the quadkey driver key (64x64 world grid)


def q_quadkey_tiles(spark, sf_dir):
    """Web-Mercator XYZ tile aggregation keyed by Bing-style quadkey —
    the second cell-index scheme next to geohash (north rule: "H3/S2-
    style cell indexes"). x and y are exact indices on the tile edges
    (functions/tiles.py), so the DuckDB twin is bit-exact."""
    from geohash_dotnet_spark.functions.tiles import with_tiles

    t = with_tiles(_pages(spark, sf_dir), "lat", "lon", z=QK_Z)
    return (t.groupBy("z", "x", "y", "quadkey")
            .agg(F.count(F.lit(1)).alias("n_pages"),
                 F.countDistinct("doc_id").alias("n_docs"))
            .orderBy("quadkey"))


def q_domain_quota(spark, sf_dir):
    """Per-domain document quota: top-3 pages of every (host, source
    dir) domain by text length (url tiebreak) via the skew-proof
    two-level tournament; the oracle is the independent one-stage
    QUALIFY formulation."""
    from geohash_dotnet_spark.operators import domain_topk

    p = _pages(spark, sf_dir)
    host = F.regexp_extract("url", r"^https?://([^/]+)/", 1)
    top = F.regexp_extract("url", r"^https?://[^/]+/([^/]+)/", 1)
    base = p.select(F.concat(host, F.lit("/"), top).alias("domain"),
                    "url", F.length("text").cast("long").alias("score"))
    return (domain_topk(base, k=3)
            .select("domain", F.col("rk").cast("long").alias("rk"),
                    "url", "score")
            .orderBy("domain", "rk"))



def q_domain_mixture(spark, sf_dir):
    """Temperature-scaled (alpha=0.5) domain mixture weights over the
    crawl's (host, source-dir) domains, weighted by char mass (text
    lengths differ per domain, so the normalization is exercised
    non-trivially — doc counts are uniform in the synthetic crawl) —
    the alpha-sampling rule used to set multi-source / multilingual
    corpus mixtures. The operator's
    fp6-quantized integer-sum formulation makes the emitted doubles
    bit-identical to the DuckDB twin (not merely approximately equal),
    so the typed value hash is safe."""
    from geohash_dotnet_spark.operators import mixture_weights

    p = _pages(spark, sf_dir)
    host = F.regexp_extract("url", r"^https?://([^/]+)/", 1)
    top = F.regexp_extract("url", r"^https?://[^/]+/([^/]+)/", 1)
    base = p.select(F.concat(host, F.lit("/"), top).alias("domain"),
                    F.length("text").cast("long").alias("n_chars"))
    return mixture_weights(base, size_col="n_chars").orderBy("domain")


def q_sample_exact(spark, sf_dir):
    """Deterministic exact-N corpus sample (the "exactly 137 docs for
    this ablation, same docs every run" primitive): n smallest rows
    under the portable md5-60bit hash order, ranks assembled
    distributively (bucketed two-stage rank — no driver-side
    TakeOrderedAndProject, no single-partition window). The
    ``frac_hint`` scan-side cut is exercised here too; the oracle is
    the independent ONE-window global row_number + QUALIFY
    formulation, so a hint that dropped a needed row would hash-fail."""
    from geohash_dotnet_spark.operators import sample_exact_n

    d = _docs(spark, sf_dir).select("doc_id", "lang")
    return (sample_exact_n(d, n=137, id_col="doc_id",
                           frac_hint=0.3)
            .orderBy("rnk"))


def q_tile_clusters(spark, sf_dir):
    """Grid-density spatial clustering (grid-DBSCAN): dense z=5 tiles
    (>= 6 pages) connected into hotspot REGIONS via 8-neighbor
    adjacency + hash-to-min label propagation with pointer jumping.
    The corpus is touched once (tile agg); everything downstream is
    tile-bounded. The oracle replays adjacency as a modulo self-join
    and components as a recursive-CTE min-label closure — a wholly
    independent algorithm for the same fixpoint."""
    from geohash_dotnet_spark.operators import tile_density_clusters

    return (tile_density_clusters(_pages(spark, sf_dir), z=5, min_count=6)
            .orderBy("x", "y"))


# Terms chosen from the synthetic corpus vocabulary (31 words, all
# df~390 except the rare "dup" at df~25): q1 exercises multi-term
# accumulation, q2 the high-idf rare-term contrast.
BM25_QUERIES = {"q1": "data join fast", "q2": "dup merge"}


def q_postings(spark, sf_dir):
    """Inverted-index build: sharded posting lists over documents.
    One corpus exchange (repartition on term) carries the tf agg, the
    exact-df window, AND the (term, shard) list aggregation — no
    further Exchange (plan-asserted in pytest). max_df elides
    stopword-scale terms BEFORE any list is materialized."""
    from geohash_dotnet_spark.operators import build_postings

    # no max_df here: the synthetic vocab is 31 near-uniform terms
    # (df~390), so any useful cap would empty the gate — the elision
    # path is pinned by test_postings_max_df_elides_stopwords instead
    return (build_postings(_docs(spark, sf_dir), n_shards=4)
            .orderBy("term", "shard"))


def q_bm25(spark, sf_dir):
    """BM25 ranked retrieval (Lucene-style idf + k1/b saturation) for
    two keyword queries. Per-term contributions are quantized to
    integer micro-units and summed as integers, so scores and ranks
    are addition-order independent and bit-identical to the DuckDB
    twin; the corpus is never shuffled on the term key (query terms
    broadcast-restrict the exploded pairs first)."""
    from geohash_dotnet_spark.operators import bm25_topk

    return (bm25_topk(_docs(spark, sf_dir), BM25_QUERIES, k=8)
            .orderBy("qid", "rank"))


def q_bigram_ppl(spark, sf_dir):
    """Self-trained add-k bigram-LM perplexity per document — the
    CCNet/RedPajama perplexity-filter quality signal. Per-bigram log
    probabilities are quantized once in the model (integer micro-
    units); document scores are integer sums, so logprob is bit-exact
    and ppl fp6-gated against the DuckDB twin."""
    from geohash_dotnet_spark.operators import bigram_ppl

    return bigram_ppl(_docs(spark, sf_dir)).orderBy("doc_id")


def q_snapshot_diff(spark, sf_dir):
    """Crawl-to-crawl CDC: both engines deterministically derive a
    "next crawl" from documents (drop %17 ids, append ' v2' to %13
    texts, add 20 new ids) and classify every id added / removed /
    changed / unchanged by content fingerprint — one co-partitioned
    full-outer join on the id, fingerprints computed in the scan
    projection so the join never carries text."""
    from geohash_dotnet_spark.operators import snapshot_diff

    d = _docs(spark, sf_dir).select("doc_id", "text")
    kept = d.filter(F.col("doc_id") % 17 != 0)
    new = kept.withColumn(
        "text",
        F.when(F.col("doc_id") % 13 == 0,
               F.concat(F.col("text"), F.lit(" v2")))
        .otherwise(F.col("text")))
    added = d.filter(F.col("doc_id") < 20).select(
        (F.col("doc_id") + 1000000).alias("doc_id"),
        F.concat(F.lit("new page "),
                 F.col("doc_id").cast("string")).alias("text"))
    return snapshot_diff(d, new.unionByName(added)).orderBy("doc_id")


def q_tile_flows(spark, sf_dir):
    """Origin-destination tile flow matrix over the events stream:
    per-event deterministic geocode (event_id), per-user time-ordered
    lag window (event_id tiebreak — deterministic under timestamp
    ties), self-transitions dropped, flows aggregated on the
    tiles^2-bounded (from, to) key."""
    from geohash_dotnet_spark.functions.native import geocode_from_url
    from geohash_dotnet_spark.operators import tile_flows

    spark.conf.set("spark.sql.session.timeZone", "UTC")
    ev = (spark.read.parquet(f"{sf_dir}/events.parquet")
          .withColumn("__eid", F.col("event_id").cast("string")))
    ev = geocode_from_url(ev, url="__eid")
    return (tile_flows(ev, precision=2, tiebreak="event_id")
            .orderBy("from_tile", "to_tile"))


def q_kmeans(spark, sf_dir):
    """Distributed Lloyd k-means (2 rounds, 8 clusters) over the
    embeddings table — the IVF codebook trainer. Assignment is the
    shuffle-free literal-codebook argmin; centroid updates are integer
    micro-unit sums, so every emitted component double is bit-identical
    to the DuckDB chained-CTE replay (which argmins via join+QUALIFY —
    an independent formulation)."""
    from geohash_dotnet_spark.operators import kmeans_fit

    emb = _emb(spark, sf_dir)
    return (kmeans_fit(emb, n_clusters=8, n_iter=2)
            .orderBy("cluster", "pos"))


def q_sample_exact_by_lang(spark, sf_dir):
    """Per-group exact quota: EXACTLY 29 documents per language under
    the portable hash order (the "same 1M docs per language, every
    run" ablation primitive) — the grouped form of the bucketed
    two-stage rank, gated against the independent per-group QUALIFY
    window."""
    from geohash_dotnet_spark.operators import sample_exact_n

    d = _docs(spark, sf_dir).select("doc_id", "lang")
    return (sample_exact_n(d, n=29, id_col="doc_id", group_col="lang")
            .orderBy("lang", "rnk"))


def q_collocations(spark, sf_dir):
    """Top-50 PMI collocations (min_count=5) over documents — phrase
    mining from exact integer counts through one shared IEEE tree;
    the k-boundary is deterministic because ranking orders by the
    fp6-quantized integer."""
    from geohash_dotnet_spark.operators import collocations

    return (collocations(_docs(spark, sf_dir), k=50, min_count=5)
            .orderBy("w1", "w2"))


def q_char_entropy(spark, sf_dir):
    """Character-class entropy (letters/digits/whitespace/other) per
    document — the zero-shuffle gibberish / encoding-junk detector.
    Three regexp passes + one fixed-order IEEE fold, fp6-gated."""
    from geohash_dotnet_spark.operators.text import with_char_entropy

    return (with_char_entropy(_docs(spark, sf_dir))
            .select("doc_id", "char_entropy").orderBy("doc_id"))


def q_user_mobility(spark, sf_dir):
    """Per-user centroid + radius of gyration over the events stream
    (per-event deterministic geocode): one user-keyed aggregation of
    integer-quantized coordinates — exact BIGINT sums, one shared IEEE
    tree, sqrt is correctly rounded, so every double is bit-identical
    cross-engine with NO fp6 quantization needed."""
    from geohash_dotnet_spark.functions.native import geocode_from_url
    from geohash_dotnet_spark.operators import user_mobility

    ev = (spark.read.parquet(f"{sf_dir}/events.parquet")
          .withColumn("__eid", F.col("event_id").cast("string")))
    ev = geocode_from_url(ev, url="__eid")
    return user_mobility(ev).orderBy("user_id")


def q_host_pagerank(spark, sf_dir):
    """Host-graph PageRank (3 damped iterations) over a deterministic
    link graph: each site links to 3 hash-chosen sites (site-level
    fanout — per-PAGE derivation would saturate the distinct-edge
    support into the complete graph at this host cardinality, making
    every rank identical and the gate non-discriminative; pytest keeps
    the per-page form under test). Integer micro-unit ranks — exact
    BIGINT sums + floor division only, so every rank is bit-identical
    to the DuckDB unrolled-CTE replay on any partitioning or cluster
    size."""
    from geohash_dotnet_spark.operators import host_edges, pagerank

    sites = (_pages(spark, sf_dir)
             .select(F.regexp_extract(
                 "url", r"^https?://[^/]+/([^/]+)/", 1).alias("site"))
             .distinct())
    return (pagerank(host_edges(sites, node="site", key="site"), n_iter=3)
            .orderBy("node"))


def q_dup_spans(spark, sf_dir):
    """Cross-document duplicated-span profile (width-8 token spans, full
    md5 keys): per doc, the count and fraction of span positions whose
    exact text also appears in another document — the substring-dedup
    signal of Lee et al. 2022 at token-span grain."""
    from geohash_dotnet_spark.operators import duplicate_spans

    return (duplicate_spans(_docs(spark, sf_dir), width=8)
            .orderBy("doc_id"))


def q_paragraph_dedup(spark, sf_dir):
    """Corpus-wide paragraph dedup (CCNet, Wenzek et al. 2020) with
    document reconstruction — a unit survives only at its globally
    first (id, pos) occurrence. The synthetic docs are single-line, so
    the gate runs at word grain (sep=' '), which exercises the same
    explode -> keyed-min election -> rebuild machinery the newline
    production form uses."""
    from geohash_dotnet_spark.operators import paragraph_dedup

    return (paragraph_dedup(_docs(spark, sf_dir), sep=" ")
            .orderBy("doc_id"))


def q_rect_join(spark, sf_dir):
    """Rectangle<->rectangle overlap self-join via grid-cell candidates +
    reference-point dedup (ONE equi-join, no distinct). Rects are derived
    deterministically from events (hash-geocoded centers, event_id-keyed
    half-sizes); the DuckDB oracle is the INDEPENDENT quadratic pairwise
    join, so the cell-partitioned algorithm's exactly-once geometry is
    value-checked against brute force."""
    from geohash_dotnet_spark.functions.native import geocode_from_url
    from geohash_dotnet_spark.operators import rect_overlap_join

    ev = (spark.read.parquet(f"{sf_dir}/events.parquet")
          .filter(F.col("event_id") % 3 == 0)
          .withColumn("__eid", F.col("event_id").cast("string")))
    ev = geocode_from_url(ev, url="__eid")
    rects = ev.select(
        F.col("event_id").alias("rect_id"),
        (F.col("lat") * 0.8 - (0.3 + (F.col("event_id") % 5) * 0.2))
        .alias("min_lat"),
        (F.col("lat") * 0.8 + (0.3 + (F.col("event_id") % 5) * 0.2))
        .alias("max_lat"),
        (F.col("lon") * 0.8 - (0.4 + (F.col("event_id") % 7) * 0.25))
        .alias("min_lon"),
        (F.col("lon") * 0.8 + (0.4 + (F.col("event_id") % 7) * 0.25))
        .alias("max_lon"))
    return rect_overlap_join(rects, cell_deg=2.0).orderBy("a_id", "b_id")


def _rect_wkt(s, w, n, e):
    return f"POLYGON(({w} {s}, {e} {s}, {e} {n}, {w} {n}, {w} {s}))"


# zonal-stats zones: rectangles (so the DuckDB oracle is an independent
# bounds formulation, not a replay of the covering); eu_east overlaps eu,
# exercising multi-zone membership under the value gate
ZONAL_ZONES = [("eu", (35.0, 0.0, 60.0, 40.0)),
               ("na", (25.0, -130.0, 55.0, -60.0)),
               ("eu_east", (30.0, 20.0, 55.0, 60.0))]



# corridor route: two polylines (Europe, North America); radius 3 deg at
# p2 satisfies the radius <= min-cell-dimension candidate-ring argument
CORRIDOR_SEGS = [("eu1", 40.0, 0.0, 45.0, 10.0),
                 ("eu2", 45.0, 10.0, 48.0, 20.0),
                 ("eu3", 48.0, 20.0, 50.0, 30.0),
                 ("na1", 30.0, -120.0, 40.0, -90.0),
                 ("na2", 40.0, -90.0, 45.0, -70.0)]


def q_corridor_join(spark, sf_dir):
    """Corridor (route-buffer) join: events within 3 deg of a 5-segment
    route — driver-side sample+2-ring candidate cells broadcast, exact
    planar segment-distance refine as a pure codegen expression (one
    shared IEEE tree: +,-,*,/ /sqrt/clamp only, so dist_deg is
    bit-identical cross-engine with NO quantization). The DuckDB
    oracle is the INDEPENDENT brute-force cross join — no cell index —
    so the candidate ring's soundness is value-gated."""
    from geohash_dotnet_spark.functions.native import geocode_from_url
    from geohash_dotnet_spark.operators import corridor_join

    ev = (spark.read.parquet(f"{sf_dir}/events.parquet")
          .withColumn("__eid", F.col("event_id").cast("string")))
    ev = geocode_from_url(ev, url="__eid").select("event_id", "lat", "lon")
    return (corridor_join(ev, CORRIDOR_SEGS, radius_deg=3.0, precision=2)
            .select("event_id", "seg_id", "dist_deg")
            .orderBy("event_id", "seg_id"))


def q_host_hits(spark, sf_dir):
    """HITS hubs/authorities (3 max-normalized integer power
    iterations) over the same deterministic site graph as
    host_pagerank — exact BIGINT sums + floor division only, so every
    score is bit-identical to the DuckDB unrolled-CTE replay."""
    from geohash_dotnet_spark.operators import host_edges
    from geohash_dotnet_spark.operators.graph import hits

    sites = (_pages(spark, sf_dir)
             .select(F.regexp_extract(
                 "url", r"^https?://[^/]+/([^/]+)/", 1).alias("site"))
             .distinct())
    return (hits(host_edges(sites, node="site", key="site"), n_iter=3)
            .orderBy("node"))


def q_snap_route(spark, sf_dir):
    """Map-matching lite: each event within 3 deg of the route snaps to
    its NEAREST segment — corridor candidates + a partial-aggregable
    min(struct(dist, seg_id)) argmin (no window/sort; ties to the
    smallest seg_id, deterministic because the planar distances are
    bit-identical cross-engine). Oracle is the independent brute-force
    cross join + QUALIFY argmin."""
    from geohash_dotnet_spark.functions.native import geocode_from_url
    from geohash_dotnet_spark.operators import snap_to_route

    ev = (spark.read.parquet(f"{sf_dir}/events.parquet")
          .withColumn("__eid", F.col("event_id").cast("string")))
    ev = geocode_from_url(ev, url="__eid").select("event_id", "lat", "lon")
    return (snap_to_route(ev, CORRIDOR_SEGS, radius_deg=3.0, precision=2,
                          id_col="event_id")
            .orderBy("event_id"))


def q_k_anon_tiles(spark, sf_dir):
    """K-anonymous tile release (k=8, start p3) over the events stream:
    publish a tile only when its count reaches k, folding small cells
    up the geohash hierarchy (residuals combine with sibling residuals,
    never with emitted descendants); unpublishable root remainder
    lands in one tile='*' suppression row, so sum(n) == |events|
    exactly. One corpus exchange; the ladder shrinks geometrically."""
    from geohash_dotnet_spark.functions.native import geocode_from_url
    from geohash_dotnet_spark.operators import k_anonymous_tiles

    ev = (spark.read.parquet(f"{sf_dir}/events.parquet")
          .withColumn("__eid", F.col("event_id").cast("string")))
    ev = geocode_from_url(ev, url="__eid")
    return (k_anonymous_tiles(ev, k=8, precision=3)
            .orderBy("level", "tile"))


def q_phrase_search(spark, sf_dir):
    """Exact phrase search ("table hash") — Lucene-PhraseQuery
    semantics as a ZERO-SHUFFLE projection: the phrase is a query-side
    literal, so each document tests its own token array over candidate
    start positions (overlapping occurrences counted); no positional
    postings are materialized or joined."""
    from geohash_dotnet_spark.operators import phrase_match

    return phrase_match(_docs(spark, sf_dir), "table hash") \
        .orderBy("doc_id")


def q_zonal_stats(spark, sf_dir):
    """Zonal statistics (raster<->vector): per-zone event counts + exact
    micro-unit value sums via the interior/boundary covering split —
    contains-cells skip geometry; only the boundary band pays the exact
    even-odd test, a JVM expression over the cell's band segments. One
    broadcast join, no Python UDF. The DuckDB oracle is the INDEPENDENT
    exact-bounds membership test, so the split's exactness is
    value-gated."""
    from geohash_dotnet_spark.functions.native import geocode_from_url
    from geohash_dotnet_spark.operators import zonal_stats

    ev = (spark.read.parquet(f"{sf_dir}/events.parquet")
          .withColumn("__eid", F.col("event_id").cast("string")))
    ev = geocode_from_url(ev, url="__eid")
    zones = [(z, _rect_wkt(*b)) for z, b in ZONAL_ZONES]
    return (zonal_stats(ev, zones, precision=3, value="value")
            .orderBy("zone_id"))


def q_bpe_merges(spark, sf_dir):
    """Distributed BPE tokenizer training: 10 merge rounds over the
    documents corpus — ONE corpus exchange (word counts), then
    vocabulary-scale pair aggregations with a single driver-synced
    argmax row per round and literal-merge fold projections (zero
    joins). Every merge decision depends on the full history of prior
    applications, so the DuckDB chained-CTE replay value-checks the
    whole recursion."""
    from geohash_dotnet_spark.operators import bpe_merges

    return bpe_merges(_docs(spark, sf_dir), n_merges=10).orderBy("rank")


def q_cotravel(spark, sf_dir):
    """Co-travel pair detection over the events stream: distinct
    (user, p1-tile, 6h-bucket) presence -> occupancy-capped
    (max_cell_users=8, so the crowd-cell guard is exercised under the
    value gate) -> presence self-join -> pair aggregation with the
    min_cobuckets=2 evidence floor. All-integer outputs — bit-identical
    cross-engine."""
    from geohash_dotnet_spark.functions.native import geocode_from_url
    from geohash_dotnet_spark.operators import cotravel_pairs

    spark.conf.set("spark.sql.session.timeZone", "UTC")
    ev = (spark.read.parquet(f"{sf_dir}/events.parquet")
          .withColumn("__eid", F.col("event_id").cast("string")))
    ev = geocode_from_url(ev, url="__eid")
    return (cotravel_pairs(ev, precision=1, bucket_s=21600,
                           min_cobuckets=2, max_cell_users=8)
            .orderBy("user_a", "user_b"))


def q_length_quantiles(spark, sf_dir):
    """Exact per-language length quantiles (p50/p90/p99 of n_chars) —
    the corpus profile every curation run starts with. Exact
    interpolating percentile (type-7, same definition as DuckDB's
    quantile_cont), fp6-gated; percentile_approx is the documented
    single-giant-group fallback (tolerance-tested in pytest)."""
    from geohash_dotnet_spark.operators import group_quantiles

    return group_quantiles(_docs(spark, sf_dir)).orderBy("lang")


def q_tile_anomaly(spark, sf_dir):
    """Per-(tile, day) burst/outage z-scores against each tile's own
    daily history over the events stream — exact integer daily counts
    and integer moment sums feeding one fixed IEEE tree, z fp6-gated."""
    from geohash_dotnet_spark.functions.native import geocode_from_url
    from geohash_dotnet_spark.operators import tile_anomaly

    spark.conf.set("spark.sql.session.timeZone", "UTC")
    ev = (spark.read.parquet(f"{sf_dir}/events.parquet")
          .withColumn("__eid", F.col("event_id").cast("string")))
    ev = geocode_from_url(ev, url="__eid")
    return tile_anomaly(ev, precision=1).orderBy("tile", "day")


def q_dsir_weights(spark, sf_dir):
    """DSIR importance weights (Xie et al. 2023): hashed-unigram
    log-likelihood ratio of a target model (the deterministic
    doc_id%17 carve-out, decontaminate's convention) vs the corpus
    model — per-bucket llr quantized to integer micro-units in the
    B-bounded model table, document scores exact integer sums."""
    from geohash_dotnet_spark.operators.lm import dsir_weights

    docs = _docs(spark, sf_dir)
    tgt = docs.filter(F.col("doc_id") % 17 == 0)
    cor = docs.filter(F.col("doc_id") % 17 != 0)
    return dsir_weights(cor, tgt, n_buckets=512).orderBy("doc_id")


def q_url_host_stats(spark, sf_dir):
    """Per-(host, top directory) crawl stats — the URL-curation rollup
    every crawl pipeline runs (host-level budgets/blocklists). Pure
    native regexp_extract + partial-agg counts; the regex is shared
    verbatim with the DuckDB twin."""
    p = _pages(spark, sf_dir)
    host = F.regexp_extract("url", r"^https?://([^/]+)/", 1)
    top = F.regexp_extract("url", r"^https?://[^/]+/([^/]+)/", 1)
    return (p.select(host.alias("host"), top.alias("top_dir"),
                     "doc_id", "text")
            .groupBy("host", "top_dir")
            .agg(F.count(F.lit(1)).alias("n_pages"),
                 F.countDistinct("doc_id").alias("n_docs"),
                 F.sum(F.length("text")).alias("total_chars"))
            .orderBy("host", "top_dir"))


def q_event_sessions(spark, sf_dir):
    """Gap-based sessionization of the events stream (30-min gap): one
    user-keyed exchange reused by both the lag/cumsum window and the
    session aggregation; double sums via the exact fixed-point trick so
    results are addition-order independent across cluster sizes."""
    from geohash_dotnet_spark.operators import sessionize

    spark.conf.set("spark.sql.session.timeZone", "UTC")
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    return sessionize(ev, gap_s=1800).orderBy("user_id", "session_idx")


KNN_SITES_K = 3
# sticky-events jitter scale: home cell from user_id, +-0.35 deg jitter
# from event_id (p3 cells are ~1.4 deg, so most of a user's events stay
# in the home cell and boundary-adjacent homes bounce between cells)
_JIT_LAT = 0.35 / 90.0
_JIT_LON = 0.35 / 180.0


def _sticky_events(spark, sf_dir):
    """Events with sticky home-plus-jitter coordinates: home geocoded
    from user_id, jitter scaled from the event_id geocode. The same
    double expression tree as the DuckDB twin (geocode twins are
    bit-identical; + and * associate identically here)."""
    from geohash_dotnet_spark.functions.native import geocode_from_url

    ev = (spark.read.parquet(f"{sf_dir}/events.parquet")
          .withColumn("__uid", F.col("user_id").cast("string"))
          .withColumn("__eid", F.col("event_id").cast("string")))
    ev = geocode_from_url(ev, url="__uid", lat_out="h_lat", lon_out="h_lon")
    ev = geocode_from_url(ev, url="__eid", lat_out="j_lat", lon_out="j_lon")
    return ev.select(
        "user_id", "ts", "event_id",
        (F.col("h_lat") + F.col("j_lat") * F.lit(_JIT_LAT)).alias("lat"),
        (F.col("h_lon") + F.col("j_lon") * F.lit(_JIT_LON)).alias("lon"))


def _sticky_events_sql() -> str:
    ulat = geocode_lat_sql("CAST(user_id AS VARCHAR)")
    ulon = geocode_lon_sql("CAST(user_id AS VARCHAR)")
    elat = geocode_lat_sql("CAST(event_id AS VARCHAR)")
    elon = geocode_lon_sql("CAST(event_id AS VARCHAR)")
    return (f"SELECT user_id, ts, event_id, "
            f"{ulat} + {elat} * {_JIT_LAT!r} AS lat, "
            f"{ulon} + {elon} * {_JIT_LON!r} AS lon FROM events")


def q_knn_sites(spark, sf_dir):
    """k-NN join against a constant site table: the 3 nearest of the 8
    fixed cities per page as a SHUFFLE-FREE sorted-array projection
    (array_sort of (dist, name) structs + slice + posexplode — no join,
    no window exchange), vs the DuckDB N x K cross-join QUALIFY top-k."""
    from geohash_dotnet_spark.operators import nearest_sites

    return (nearest_sites(_pages(spark, sf_dir), _CITIES, k=KNN_SITES_K)
            .select("url", "rank", "site", "dist_m")
            .orderBy("url", "rank"))


def q_stay_points(spark, sf_dir):
    """Stay-point detection: maximal same-p3-cell dwell runs per user
    over sticky home+jitter events (>=2 points, >=1h span). One
    user-keyed exchange shared by both window passes; exact integer
    micros dwell."""
    from geohash_dotnet_spark.operators import stay_points

    spark.conf.set("spark.sql.session.timeZone", "UTC")
    # the sort key carries every independent output column: (user_id,
    # enter_ts) alone is not a total order (same-ts events in adjacent
    # cells open two runs with one enter_ts), and even (.., cell) ties
    # when a user alternates A,B,A within one timestamp — two distinct
    # A-runs share (user, enter_ts, cell). With exit_ts and n_points in
    # the key, rows can only tie by being value-identical, which the
    # row-order-sensitive driver hash cannot distinguish anyway.
    return (stay_points(_sticky_events(spark, sf_dir), precision=3,
                        min_dwell_s=3600, min_points=2,
                        tiebreak="event_id")
            .orderBy("user_id", "enter_ts", "cell", "exit_ts",
                     "n_points"))


def q_trip_stats(spark, sf_dir):
    """Trip segmentation: split each user's event stream at >6h gaps;
    per-trip point count, duration, and exact great-circle path length
    (integer-metre leg quantization so the sum is addition-order
    independent)."""
    from geohash_dotnet_spark.functions.native import geocode_from_url
    from geohash_dotnet_spark.operators import trip_stats

    spark.conf.set("spark.sql.session.timeZone", "UTC")
    ev = (spark.read.parquet(f"{sf_dir}/events.parquet")
          .withColumn("__eid", F.col("event_id").cast("string")))
    ev = geocode_from_url(ev, url="__eid")
    return (trip_stats(ev.select("user_id", "ts", "event_id", "lat", "lon"),
                       gap_s=21600, min_points=2, tiebreak="event_id")
            .orderBy("user_id", "trip_idx"))


def q_minhash_incremental(spark, sf_dir):
    """Incremental (cross-snapshot) MinHash near-dedup: a derived NEW
    snapshot (every 5th doc; half byte-identical, half with an appended
    revision suffix) banded against the FULL old corpus — candidate
    volume scales with the increment, not the corpus. Oracle = exact
    relational cross-corpus Jaccard at the same threshold, so every
    driver run asserts 100% LSH recall."""
    from geohash_dotnet_spark.operators.dedup import minhash_lsh_pairs_cross

    docs = _docs(spark, sf_dir)
    new = (docs.filter(F.col("doc_id") % 5 == 0)
           .select("doc_id",
                   F.when(F.col("doc_id") % 10 == 0, F.col("text"))
                   .otherwise(F.concat(
                       F.col("text"),
                       F.lit(" revision note appended"))).alias("text")))
    return (minhash_lsh_pairs_cross(new, docs, threshold=0.5)
            .orderBy("id_new", "id_old"))


def q_classifier_scores(spark, sf_dir):
    """fastText-architecture hashed-ngram linear classifier over the
    documents table: unigram+bigram feature hashing, frozen integer
    weights compiled into the projection (no weight-table join), exact
    BIGINT score sums, one id-keyed exchange."""
    from geohash_dotnet_spark.operators import hashed_linear_score

    return hashed_linear_score(_docs(spark, sf_dir)).orderBy("doc_id")


def q_adaptive_cells(spark, sf_dir):
    """Quadtree-style adaptive refinement: split geohash cells denser
    than the threshold into children until every emitted cell holds a
    bounded population (skew-adaptive tiling; one corpus scan, then one
    level-exploded aggregation counts every level)."""
    from geohash_dotnet_spark.operators.adaptive import adaptive_cells

    return adaptive_cells(_pages(spark, sf_dir), base_precision=1,
                          max_precision=3, threshold=10)


def q_hilbert_shards(spark, sf_dir):
    """Hilbert-curve layout: per contiguous Hilbert-index range, the
    page population and distinct-cell footprint a range-partitioned
    writer would place in each shard (exact integer xy2d, zero-shuffle
    projection + one aggregation)."""
    from geohash_dotnet_spark.operators.layout import hilbert_shards

    return hilbert_shards(_pages(spark, sf_dir), order=8, n_shards=64)


def q_tile_entropy(spark, sf_dir):
    """Per-p2-tile Shannon entropy (bits) of the language mix — tile
    diversity census via the single-pass log-sum identity."""
    from geohash_dotnet_spark.operators.diversity import tile_entropy

    return tile_entropy(_pages(spark, sf_dir), precision=2, key="lang")


def q_tile_terms(spark, sf_dir):
    """Top-3 distinctive terms per p2 tile by corpus-share lift —
    regional vocabulary profiling over the geo web corpus. The only
    corpus-scale exchange is the (tile, term) aggregate; ranking runs
    on that table alone."""
    from geohash_dotnet_spark.operators.diversity import tile_terms

    # the persisted (tile, term) aggregate stays registered in the
    # dedup cache registry (release_dedup_cache) like the other
    # dedup/similarity entries — freed on session teardown
    return tile_terms(_pages(spark, sf_dir), precision=2, k=3,
                      min_count=3)


def q_distance_bands(spark, sf_dir):
    """Radial ring histogram around a fixed point, bucketed on the
    fixed-point great-circle distance (engine-portable band edges)."""
    from geohash_dotnet_spark.operators.diversity import distance_bands

    return distance_bands(_pages(spark, sf_dir), 40.0, -100.0,
                          band_m=500_000, n_bands=30)


def q_tile_pyramid(spark, sf_dir):
    """Web-map tile pyramid: quadkey page counts at every zoom 0..6,
    rolled up from zoom 6 in one level-exploded aggregation (one corpus
    scan); the oracle computes every zoom DIRECTLY from raw rows so the
    quadkey prefix-nesting property is itself value-checked."""
    from geohash_dotnet_spark.operators.rollup import tile_pyramid

    return tile_pyramid(_pages(spark, sf_dir), max_z=6)


def q_visit_recurrence(spark, sf_dir):
    """Returner-vs-explorer census over sticky home+jitter events: how
    many (user, p3-cell) relationships span 1, 2, 3... distinct visit
    days. Three strictly-collapsing aggregations, all-integer."""
    from geohash_dotnet_spark.operators.flows import visit_recurrence

    spark.conf.set("spark.sql.session.timeZone", "UTC")
    return visit_recurrence(_sticky_events(spark, sf_dir), precision=3)


# North-America-ish bbox for the curve-range query (antimeridian-free)
HB_BBOX = (20.0, -130.0, 55.0, -60.0)


def q_hilbert_bbox(spark, sf_dir):
    """Spatial range query through the Hilbert curve index: bbox ->
    contiguous index ranges (aligned-subtree decomposition) -> exists()
    range filter -> exact lat/lon refine -> per-p2-tile counts. The
    oracle is a plain bbox filter with NO curve anywhere, so the range
    decomposition itself is value-checked (a missing range drops rows
    and fails the gate)."""
    from geohash_dotnet_spark.operators.layout import hilbert_bbox_tiles

    return hilbert_bbox_tiles(_pages(spark, sf_dir), *HB_BBOX, order=8,
                              precision=2)


def q_place_profiles(spark, sf_dir):
    """Similar-users-by-place-profile: pairs whose visited-p2-cell sets
    have Jaccard >= 0.2 (crowd cells excluded by the admission guard).
    Inverted-index pair generation vs the oracle's independent
    quadratic list-intersection formulation."""
    from geohash_dotnet_spark.operators.colocation import (
        place_profile_pairs)

    return place_profile_pairs(_sticky_events(spark, sf_dir), precision=2,
                               threshold=0.2)


def q_link_graph(spark, sf_dir):
    """Host-level web graph parsed out of the html BINARY with one
    codegen regex (the WAT-extraction step): anchors planted
    deterministically per url (variable counts incl. zero), extracted
    with extract_links, aggregated to (src_host, dst_host) edges.
    src host = the url's path site segment so the graph is many-to-
    many. The html payload never crosses an exchange (plan-asserted in
    tests/test_operators_links.py)."""
    from geohash_dotnet_spark.operators.links import (link_host_edges,
                                                      with_planted_anchors)

    pg = with_planted_anchors(pages(spark, sf_dir, replicate=REP))
    return link_host_edges(pg, src_host_re="https?://[^/]+/([^/]+)")


def q_host_reach(spark, sf_dir):
    """Multi-source BFS crawl depth over the deterministic site graph
    (the q_host_pagerank graph): hop distance from the hash-chosen
    seed sites within 3 hops — "what does a depth-3 crawl from these
    seeds cover?". Frontier BFS (round h joins only the hop-(h-1)
    frontier), label-setting so hops are set exactly once; all-integer,
    bit-identical to the unrolled-CTE DuckDB replay."""
    from geohash_dotnet_spark.operators.dedup import md5_60bit
    from geohash_dotnet_spark.operators.graph import bfs_reach, host_edges

    sites = (_pages(spark, sf_dir)
             .select(F.regexp_extract(
                 "url", r"^https?://[^/]+/([^/]+)/", 1).alias("site"))
             .distinct())
    seeds = (sites.select(F.col("site").alias("node"))
             .where(F.pmod(md5_60bit(F.col("node")), F.lit(7)) == 0))
    return bfs_reach(host_edges(sites, node="site", key="site"),
                     seeds, n_hops=3)


def q_bearing_rose(spark, sf_dir):
    """Compass rose of movement: initial great-circle bearings of
    consecutive per-user moves in 8 sectors (one user-keyed window
    exchange, then an 8-group aggregation)."""
    from geohash_dotnet_spark.operators.flows import bearing_rose

    spark.conf.set("spark.sql.session.timeZone", "UTC")
    return bearing_rose(_sticky_events(spark, sf_dir), tiebreak="event_id")


# bbox + term for the composed geo-text serving query (antimeridian-free)
GTS_BBOX = dict(min_lat=0.0, max_lat=45.0, min_lon=-60.0, max_lon=30.0)
GTS_TERM = "spark"


def q_tile_skew(spark, sf_dir):
    """One-row skew census (Gini + hottest-cell share) of the p2 tile
    occupancy distribution — the statistic that decides between plain
    hash partitioning and AQE's skew-join split."""
    from geohash_dotnet_spark.operators.diversity import tile_skew

    return tile_skew(_pages(spark, sf_dir), precision=2)


def q_tile_freshness(spark, sf_dir):
    """Exponentially-decayed (staircase, fp6-exact) recency-weighted
    p3 tile popularity over warc_ts — the crawl-map serving level."""
    from geohash_dotnet_spark.operators.rollup import tile_freshness

    spark.conf.set("spark.sql.session.timeZone", "UTC")
    return tile_freshness(_pages(spark, sf_dir), precision=3,
                          halflife_days=7)


def q_doc_keywords(spark, sf_dir):
    """Top-3 rarity-weighted terms per document (integer-exact tf-idf
    variant) with the stopword df-cap branch exercised (max_df=400
    actually cuts terms at sf0.01: df spans 25..402 over 500 docs)."""
    from geohash_dotnet_spark.operators.index import doc_keywords

    return doc_keywords(_docs(spark, sf_dir), k=3, max_df=400)


def q_geo_text_search(spark, sf_dir):
    """Composed serving query: geohash-covering semi-join bbox prune +
    exact refine + token tf filter + global top-k. Oracle is a direct
    bbox filter with NO covering, so the decomposition is value-checked."""
    from geohash_dotnet_spark.operators.index import geo_text_search

    return geo_text_search(_pages(spark, sf_dir), GTS_TERM,
                           precision=2, k=20, **GTS_BBOX)


def q_pq_topk(spark, sf_dir):
    """Product-quantization ADC top-k (compressed-domain ANN): 4
    sub-codebooks x 16 codes, integer fp6 sub-distance LUTs; oracle is
    an independent relational PQ replay (argmin cross join + GROUP BY
    ADC sum)."""
    from geohash_dotnet_spark.operators.similarity import pq_topk

    emb = _emb(spark, sf_dir)
    qs = (emb.filter(F.col("vec_id") < 5)
          .select(F.col("vec_id").alias("q_id"),
                  F.col("embedding").alias("q_vec")))
    return pq_topk(emb, qs, k=10).orderBy("q_id", "rank")


def q_anchor_terms(spark, sf_dir):
    """Anchor-text index over the rich-planted host graph: for each
    target host, the terms the web links to it with — n_links plus the
    spam-resistant distinct-source-host count. The html payload dies in
    the scan stage (plan-asserted in tests)."""
    from geohash_dotnet_spark.operators.links import (
        anchor_term_index, with_planted_rich_anchors)

    pg = with_planted_rich_anchors(pages(spark, sf_dir, replicate=REP))
    return anchor_term_index(pg, src_host_re="https?://[^/]+/([^/]+)")


def q_link_locality(spark, sf_dir):
    """Geographic link locality: ring histogram of great-circle
    distance between linking page and linked page, over anchors that
    target sibling corpus replicas (every absolute href resolves, so
    the url-keyed corpus self-join — the one scale-bearing exchange —
    is value-checked end-to-end). Band 0 carries the self/intra-site
    spike; the mean distance per ring sums integer-mm legs
    (``exact.MILLI``) so it hashes identically in DuckDB."""
    from geohash_dotnet_spark.operators.links import (
        link_locality, with_planted_local_anchors)

    pg = with_planted_local_anchors(pages(spark, sf_dir, replicate=REP),
                                    replicate=REP)
    return link_locality(pg, band_m=1_000_000, n_bands=20)


def q_hot_regions(spark, sf_dir):
    """Raster -> vector: 5-degree fixed-point occupancy raster,
    thresholded, 4-adjacency connected components (hash-to-min +
    pointer jumping) -> vector regions with bbox + mass. Oracle
    replays the same integer raster but labels via an independent
    recursive-CTE min-label closure."""
    from geohash_dotnet_spark.operators.raster import hot_regions

    return hot_regions(_pages(spark, sf_dir), cell_udeg=5_000_000,
                       min_pages=3)


def q_crawl_slots(spark, sf_dir):
    """Polite per-site fetch schedule: (ts, url)-ordered row_number
    inside one site-keyed exchange, integer-division slot ids, min-url
    witness per slot."""
    from geohash_dotnet_spark.operators.crawl import crawl_slots

    spark.conf.set("spark.sql.session.timeZone", "UTC")
    return crawl_slots(_pages(spark, sf_dir), rate=16)


def q_containment_pairs(spark, sf_dir):
    """Asymmetric near-dup pairs by shingle containment (overlap
    coefficient) with the production df-cap — catches quote-inclusion /
    boilerplate-wrapper dups whose Jaccard is diluted by the longer
    side; contained_id is the curation-stage drop witness."""
    from geohash_dotnet_spark.operators.dedup import containment_pairs

    return containment_pairs(_docs(spark, sf_dir), threshold=0.5,
                             max_df=0.05)


def q_site_footprint(spark, sf_dir):
    """Per-site geographic footprint at p4: page count, distinct cells,
    exact bbox, microdegree-fixed-point centroid, mm-quantized bbox
    span — one site-keyed aggregation cascade."""
    from geohash_dotnet_spark.operators.crawl import site_footprint

    return site_footprint(_pages(spark, sf_dir), precision=4)


def q_frontier_hosts(spark, sf_dir):
    """Crawl frontier by target host: outlinks that do NOT resolve in
    the corpus (left ANTI of the url-keyed join link_locality INNERs),
    with the spam-resistant distinct-source count. The mixed-anchor
    planting keeps BOTH branches of the known/unknown split live."""
    from geohash_dotnet_spark.operators.links import (
        frontier_hosts, with_planted_mixed_anchors)

    pg = with_planted_mixed_anchors(pages(spark, sf_dir, replicate=REP),
                                    replicate=REP)
    return frontier_hosts(pg)


def q_cluster_canonical(spark, sf_dir):
    """Survivor per near-dup cluster (longest member, ties -> smallest
    id) via LSH pairs -> connected components -> one cluster-keyed
    struct-min argmax; oracle replays the closure over exact Jaccard
    pairs + QUALIFY argmax."""
    from geohash_dotnet_spark.operators.dedup import cluster_canonical

    return cluster_canonical(_docs(spark, sf_dir), threshold=0.5)


def q_score_calibration(spark, sf_dir):
    """Per-source percentile calibration of the hashed-linear
    classifier via a (group, milli-logit-bucket) histogram CDF — the
    per-domain "keep the top half" curation gate WITHOUT a per-group
    corpus sort (windows ride the aggregated histogram only)."""
    from geohash_dotnet_spark.operators.lm import score_calibration

    return score_calibration(_docs(spark, sf_dir)).orderBy("doc_id")


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query on /root/testdata/sf0.001; driver checks rows>0."""
    return q_flagship(spark, "/root/testdata/sf0.001")


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """Key order is load-bearing: the external driver gate value-checks
    only the FIRST 50 keys (insertion order).  Rotation policy (round-3
    VERDICT item 2): keys never driver-checked, changed since their last
    check, red last round, or new this round go FIRST; long-green stable
    keys rotate to the back (each retains a green CORRECTNESS row from
    the round it was last inside the window).  Round-5 rotation: all 50
    r4-window keys went GREEN in CORRECTNESS_r04 and are unchanged this
    round, so they rotate out (their rows stay <=1 round old); the 44
    keys last checked in r1-r3 rotate back in, followed by the new r5
    keys and the flagship.  The local replica
    (tests/test_entry_oracle.py) always runs ALL keys regardless."""
    return {
        # --- last driver-checked in r3 or earlier: rotated back inside
        # the window (44 keys at the start of r5; batches 9-10 later
        # displaced five of them — see the boundary comment — leaving
        # 39 here, all unchanged since their last green row)
        "gh_encode_p5": q_encode_p5,
        "cover_california": q_cover_california,
        "cover_circles_table": q_cover_circles,
        "spatial_join_refined": q_spatial_join_refined,
        "compress_covering": q_compress_covering,
        "exact_dedup_groups": q_exact_dedup_groups,
        "dedup_clusters": q_dedup_clusters,
        "cover_tracks": q_cover_tracks,
        "tile_hotspots": q_tile_hotspots,
        "events_range_join": q_events_range,
        "events_time_rollup": q_events_time_rollup,
        "nearest_city": q_nearest_city,
        "tile_quality_dist": q_tile_quality_dist,
        "simhash_pairs": q_simhash_pairs,
        "token_stats": q_token_stats,
        "pii_scrub": q_pii_scrub,
        "curation_pipeline": q_curation_pipeline,
        "knn_table": q_knn_table,
        # --- NEW in r5 batch 6 (never driver-checked -> must be inside
        # the window; they displace six r3-green keys whose shapes are
        # redundantly pinned — see the boundary comment below)
        "tile_skew": q_tile_skew,
        "tile_freshness": q_tile_freshness,
        "doc_keywords": q_doc_keywords,
        "geo_text_search": q_geo_text_search,
        "pq_topk": q_pq_topk,
        "crawl_slots": q_crawl_slots,
        "hot_regions": q_hot_regions,
        "anchor_terms": q_anchor_terms,
        "link_locality": q_link_locality,
        # --- NEW in r5 (must-check; slots 40-48)
        "knn_sites": q_knn_sites,
        "stay_points": q_stay_points,
        "trip_stats": q_trip_stats,
        "minhash_incremental": q_minhash_incremental,
        "classifier_scores": q_classifier_scores,
        "adaptive_cells": q_adaptive_cells,
        "hilbert_shards": q_hilbert_shards,
        "tile_entropy": q_tile_entropy,
        "distance_bands": q_distance_bands,
        "tile_pyramid": q_tile_pyramid,
        "visit_recurrence": q_visit_recurrence,
        "hilbert_bbox": q_hilbert_bbox,
        "place_profiles": q_place_profiles,
        "bearing_rose": q_bearing_rose,
        "tile_terms": q_tile_terms,
        "link_graph": q_link_graph,
        "host_reach": q_host_reach,
        # --- NEW in r5 batch 9 (never driver-checked -> in-window;
        # they displace tile_moran / minhash_pairs /
        # winnow_fingerprints — see the boundary comment below)
        "containment_pairs": q_containment_pairs,
        "site_footprint": q_site_footprint,
        "score_calibration": q_score_calibration,
        # --- NEW in r5 batch 10 (never driver-checked -> in-window;
        # they displace event_sessions / stratified_sample — see the
        # boundary comment below)
        "frontier_hosts": q_frontier_hosts,
        "cluster_canonical": q_cluster_canonical,
        # --- the flagship stays inside the window every round
        "flagship": q_flagship,
        # --- window boundary: 50 keys once the r5 additions fill slots
        # 40-48 (tests/test_entry_oracle.py::test_window_boundary pins
        # the must-check set).  The four gh_* kernel wrappers directly
        # below were displaced by the second batch of r5 operators:
        # last driver-green in r3, unchanged since, and their kernels
        # are pinned by reference goldens + hypothesis round-trips in
        # tests/test_kernel_geohash.py (plus the all-keys local
        # replica).  Every other key below went GREEN in
        # CORRECTNESS_r04 and is unchanged this round, so its driver
        # row stays <=1 round old.  quadkey_tiles was displaced by
        # tile_terms (r5 batch 4): pure native tile math pinned by
        # goldens in tests/test_tiles.py, r3-green, unchanged since.
        # tile_counts_p2 was displaced by link_graph (r5 batch 5): its
        # p2 tile aggregation is the exact sub-shape of the in-window
        # tile_rollup / tile_pyramid ladders, r3-green, unchanged.
        # tile_smooth was displaced by host_reach (r5 batch 5):
        # r3-green, wrapper and underlying neighbor/tile ops unchanged
        # since, and its 3x3 focal shape is pinned by the full DuckDB
        # neighbor-replay twin in the local all-keys replica.
        # r5 batch 6 displaced six more r3-green unchanged keys, each
        # redundantly pinned inside the window or by reference goldens:
        # knn (3-query subset of the in-window 96-query knn_table,
        # same rings/refine kernel), tile_rollup (sub-shape of the
        # in-window tile_pyramid ladder), spatial_join_rect (same
        # cover+semi-join+refine pipeline as the in-window
        # spatial_join_refined, rect WKT pinned by polygon-kernel
        # goldens), circle_join (circle kernel shared with the
        # in-window cover_circles_table), gh_grid_viewport (pure grid
        # math pinned by exact-dyadic goldens in tests + the all-keys
        # replica), repetition_stats (same token machinery as the
        # in-window token_stats; pinned by pytest goldens).
        # hot_regions (r5 batch 7) displaced latest_snapshot: r3-green,
        # unchanged since; its struct-max shape is pinned by the
        # window-equivalence + no-Window/Sort plan pytests and the
        # all-keys local replica. anchor_terms (batch 7) displaced
        # boilerplate_stats: r3-green, unchanged; same ngram/token
        # machinery as the in-window token_stats + curation_pipeline
        # (which composes the boilerplate stage under the value gate).
        # link_locality (batch 8) displaced tile_trend: r3-green,
        # unchanged since; its per-(tile, day) lag-window shape shares
        # the daily-rollup machinery with the in-window tile_freshness
        # and the r4-green tile_anomaly, and is pinned by pytest
        # goldens + the all-keys local replica.
        # r5 batch 9 (containment_pairs, site_footprint,
        # score_calibration) displaced three more r3-green unchanged
        # keys: tile_moran (same aggregated-tile neighbor machinery as
        # the in-window tile_hotspots; exact integer moments pinned by
        # pytest), minhash_pairs (the sig/band/exact-verify path is
        # composed inside the in-window minhash_incremental cross
        # form; pigeonhole-recall pinned by pytest), and
        # winnow_fingerprints (same tokenizer/hash machinery as the
        # in-window token_stats; window-guarantee property pinned by
        # pytest + the all-keys local replica).
        # r5 batch 10 (frontier_hosts, cluster_canonical) displaced
        # event_sessions (r3-green, unchanged; the sessionize shape is
        # parity-pinned by the native session_window streaming twin in
        # test_streaming_sessions plus gap-edge pytests) and
        # stratified_sample (r3-green, unchanged; the zero-shuffle
        # md5-threshold machinery is shared with the r4-green
        # sample_exact / sample_exact_by_lang family and pinned by the
        # layout-independence pytest).
        "event_sessions": q_event_sessions,
        "stratified_sample": q_stratified_sample,
        "tile_moran": q_tile_moran,
        "minhash_pairs": q_minhash_pairs,
        "winnow_fingerprints": q_winnow_fingerprints,
        "tile_trend": q_tile_trend,
        "knn": q_knn,
        "boilerplate_stats": q_boilerplate_stats,
        "tile_rollup": q_tile_rollup,
        "spatial_join_rect": q_spatial_join_rect,
        "circle_join": q_circle_join,
        "gh_grid_viewport": q_gh_grid,
        "repetition_stats": q_repetition_stats,
        "latest_snapshot": q_latest_snapshot,
        "tile_counts_p2": q_tile_counts_p2,
        "tile_smooth": q_tile_smooth,
        "quadkey_tiles": q_quadkey_tiles,
        "gh_decode": q_gh_decode,
        "gh_bbox": q_gh_bbox,
        "gh_neighbors": q_gh_neighbors,
        "gh_neighbor": q_gh_neighbor,
        "gh_children": q_gh_children,
        "gh_validity": q_gh_validity,
        "gh_distance_cells": q_gh_distance_cells,
        "salted_join": q_spatial_join_rect,
        "geofence_ring": q_geofence_ring,
        "vocab_topk": q_vocab_topk,
        "url_canonical_dedup": q_url_canonical_dedup,
        "extract_text": q_extract_text,
        "pack_shards": q_pack_shards,
        "semantic_dedup": q_semantic_dedup,
        "ivf_cosine_topk": q_ivf_cosine_topk,
        "cosine_topk": q_cosine_topk,
        "lsh_cosine_topk": q_lsh_cosine_topk,
        "cosine_near_pairs": q_cosine_near_pairs,
        "multimodal_features": q_multimodal_features,
        "events_windowed_tiles": q_events_windowed_tiles,
        "pricing_summary": q_pricing_summary,
        "regional_suppliers": q_regional_suppliers,
        "top_customers": q_top_customers,
        "url_host_stats": q_url_host_stats,
        "domain_quota": q_domain_quota,
        "domain_mixture": q_domain_mixture,
        "sample_exact": q_sample_exact,
        "tile_clusters": q_tile_clusters,
        "postings": q_postings,
        "bm25_search": q_bm25,
        "bigram_ppl": q_bigram_ppl,
        "snapshot_diff": q_snapshot_diff,
        "tile_flows": q_tile_flows,
        "kmeans_codebook": q_kmeans,
        "sample_exact_by_lang": q_sample_exact_by_lang,
        "collocations": q_collocations,
        "char_entropy": q_char_entropy,
        "user_mobility": q_user_mobility,
        "host_pagerank": q_host_pagerank,
        "dup_spans": q_dup_spans,
        "length_quantiles": q_length_quantiles,
        "tile_anomaly": q_tile_anomaly,
        "dsir_weights": q_dsir_weights,
        "paragraph_dedup": q_paragraph_dedup,
        "rect_join": q_rect_join,
        "cotravel_pairs": q_cotravel,
        "bpe_merges": q_bpe_merges,
        "zonal_stats": q_zonal_stats,
        "phrase_search": q_phrase_search,
        "corridor_join": q_corridor_join,
        "k_anon_tiles": q_k_anon_tiles,
        "snap_route": q_snap_route,
        "host_hits": q_host_hits,
        "quality": q_quality,
        "decontaminate": q_decontaminate,
        "ngram_jaccard": q_ngram_jaccard,
        "ngram_jaccard_capped": q_ngram_jaccard_capped,
        "events_asof": q_events_asof,
    }

# ---------------------------------------------------------------------------
# oracles (DuckDB dialect; same parquet views)
# ---------------------------------------------------------------------------

def _cells_in_list(cells) -> str:
    return ", ".join(f"'{c}'" for c in sorted(cells))


def _quadkey_tiles_sql() -> str:
    """DuckDB twin of q_quadkey_tiles: same boundary-table tile math
    (functions/tiles.py twins), same aggregation."""
    from geohash_dotnet_spark.functions.tiles import (
        quadkey_sql, tile_x_sql, tile_y_portable_sql)

    inner = (f"SELECT CAST({QK_Z} AS BIGINT) AS z, "
             f"{tile_x_sql('lon', QK_Z)} AS x, "
             f"{tile_y_portable_sql('lat', QK_Z)} AS y, doc_id "
             f"FROM ({pages_sql(REP)})")
    return (f"SELECT z, x, y, {quadkey_sql('x', 'y', QK_Z)} AS quadkey, "
            f"count(*) AS n_pages, count(DISTINCT doc_id) AS n_docs "
            f"FROM ({inner}) GROUP BY z, x, y ORDER BY quadkey")


def oracle_sql() -> dict[str, str]:
    tagged2 = pages_tagged_sql(2, REP)
    rect_cells = _cells_in_list(cover_polygon(RECT_WKT, 2, "intersects"))
    circle_cells = _cells_in_list(cover_circle(
        CIRCLE["lat"], CIRCLE["lon"], CIRCLE["radius_m"],
        CIRCLE["precision"], "intersects"))
    here = os.path.dirname(os.path.abspath(__file__))
    cal_wkt = open(os.path.join(here, "tests/golden/california_p5_contains.wkt")).read()
    compress_expected = kcompress(cover_polygon(cal_wkt, 4, "intersects").tolist())
    compress_values = ", ".join(f"('{c}')" for c in compress_expected)
    knn_q = ", ".join(f"('{q}', CAST({la!r} AS DOUBLE), CAST({lo!r} AS DOUBLE))"
                      for q, la, lo in KNN_QUERIES)
    knn_tq = ", ".join(f"('{q}', CAST({la!r} AS DOUBLE), CAST({lo!r} AS DOUBLE))"
                       for q, la, lo in KNN_TABLE_QUERIES)
    hav = haversine_sql("q.qlat", "q.qlon", "p.lat", "p.lon", DUCKDB)
    hav_c = haversine_sql(repr(CIRCLE["lat"]), repr(CIRCLE["lon"]), "p.lat", "p.lon", DUCKDB)

    def distinct_cells_sql(precision: int) -> str:
        return (f"SELECT DISTINCT gh FROM ({pages_tagged_sql(precision, REP)})")

    dec5 = decoded_select_sql(distinct_cells_sql(5), 5)
    dec4 = decoded_select_sql(distinct_cells_sql(4), 4)
    dec3 = decoded_select_sql(distinct_cells_sql(3), 3)
    offs = ", ".join(f"('{d}', {dla}, {dlo})"
                     for d, (dla, dlo) in sorted(DIR_OFFSETS.items()))
    nb_pts = (
        f"SELECT gh AS src, dir, "
        f"{center_lat_sql()} + CAST(dlat AS DOUBLE) * (__max_lat - __min_lat) AS lat, "
        f"{center_lng_sql()} + CAST(dlng AS DOUBLE) * (__max_lng - __min_lng) AS lon "
        f"FROM ({dec3}) CROSS JOIN (VALUES {offs}) o(dir, dlat, dlng)")
    # shared CTE bodies for the p3 tile-analytics oracles (smooth /
    # hotspots / moran): occupied p3 tiles and their neighbor+self pairs
    tiles3_cte = (f"SELECT gh, CAST(count(*) AS BIGINT) AS n "
                  f"FROM ({pages_tagged_sql(3, REP)}) GROUP BY gh")
    pairs3_cte = (
        f"SELECT DISTINCT t, s FROM ("
        f"SELECT src AS t, neighbor AS s FROM "
        f"({tagged_select_sql(nb_pts, 3, keep='src', out='neighbor')}) "
        f"UNION ALL SELECT gh AS t, gh AS s FROM tiles)")
    b32_vals = ", ".join(f"('{ch}')" for ch in BASE32)
    dec2d = decoded_select_sql(
        f"SELECT gh FROM ({distinct_cells_sql(2)}) WHERE gh LIKE 'd%'", 2)
    dec2s = decoded_select_sql(
        f"SELECT gh FROM ({distinct_cells_sql(2)}) WHERE gh LIKE 's%'", 2)
    # viewport grid oracle: same index math as operators/grid.py, centers
    # as exact dyadic doubles, encode via the SQL twin
    v = VIEWPORT
    p_grid = pick_grid_precision(v["s"], v["w"], v["n"], v["e"],
                                 VIEWPORT_MAX_CELLS)
    lat_step, lng_step = lat_lng_steps(p_grid)
    lat_start = math.floor(max(v["s"], -90.0) / lat_step)
    lat_end = math.ceil(min(v["n"], 90.0) / lat_step)
    lng_start = math.floor(v["w"] / lng_step)
    lng_end = math.ceil(v["e"] / lng_step)
    la_s = f"CAST({lat_step!r} AS DOUBLE)"
    lo_s = f"CAST({lng_step!r} AS DOUBLE)"
    grid_inner = (
        f"SELECT min_lat, min_lng, max_lat, max_lng, "
        f"min_lat + CAST({lat_step * 0.5!r} AS DOUBLE) AS lat, "
        f"min_lng + CAST({lng_step * 0.5!r} AS DOUBLE) AS lon FROM ("
        f"SELECT li, gi, li * {la_s} AS min_lat, "
        f"li * {la_s} + {la_s} AS max_lat, "
        f"gi * {lo_s} AS min_lng, "
        f"gi * {lo_s} + {lo_s} AS max_lng "
        f"FROM (SELECT unnest(range({lat_start}, {lat_end})) AS li) "
        f"CROSS JOIN (SELECT unnest(range({lng_start}, {lng_end})) AS gi) "
        f"WHERE li * {la_s} + {la_s} > -90.0 "
        f"AND li * {la_s} < 90.0 "
        f"ORDER BY li, gi LIMIT {VIEWPORT_MAX_CELLS})")
    grid_sql = tagged_select_sql(
        grid_inner, p_grid,
        keep="min_lat, min_lng, max_lat, max_lng",
        out="cell") + " ORDER BY min_lat, min_lng"

    here2 = os.path.dirname(os.path.abspath(__file__))
    cal_golden = open(os.path.join(
        here2, "tests/golden/california_p5_contains.txt")).read().split()
    cal_values = ", ".join(f"('{c}')" for c in cal_golden)

    return {
        "gh_encode_p5":
            f"SELECT url, lat, lon, gh FROM ({pages_tagged_sql(5, REP)})",
        "gh_decode":
            f"SELECT gh, {center_lat_sql()} AS lat_c, {center_lng_sql()} AS lon_c "
            f"FROM ({dec5}) ORDER BY gh",
        "gh_bbox":
            f"SELECT gh, __min_lat AS min_lat, __min_lng AS min_lng, "
            f"__max_lat AS max_lat, __max_lng AS max_lng "
            f"FROM ({dec4}) ORDER BY gh",
        "gh_neighbors":
            tagged_select_sql(nb_pts, 3, keep="src, dir", out="neighbor")
            + " ORDER BY src, dir",
        "gh_neighbor":
            tagged_select_sql(
                f"SELECT gh AS src, "
                f"{center_lat_sql()} + (__max_lat - __min_lat) AS lat, "
                f"{center_lng_sql()} AS lon FROM ({dec4})",
                4, keep="src", out="neighbor") + " ORDER BY src",
        "gh_grid_viewport": grid_sql,
        "gh_children":
            f"SELECT gh AS parent, gh || c AS child "
            f"FROM ({distinct_cells_sql(2)}) CROSS JOIN (VALUES {b32_vals}) t(c) "
            f"ORDER BY parent, child",
        "gh_validity":
            f"WITH cells AS ({distinct_cells_sql(3)}), "
            f"cand AS (SELECT gh AS candidate FROM cells "
            f"UNION ALL SELECT upper(gh) FROM cells "
            f"UNION ALL SELECT gh || 'a' FROM cells "
            f"UNION ALL SELECT repeat(gh, 5) FROM cells) "
            f"SELECT candidate, regexp_matches(candidate, "
            f"'^[0-9bcdefghjkmnpqrstuvwxyzBCDEFGHJKMNPQRSTUVWXYZ]{{1,12}}$') "
            f"AS valid FROM cand ORDER BY candidate, valid",
        "gh_distance_cells":
            f"SELECT a.gh_a, b.gh_b, {MICRO.round_sql(haversine_sql('a.alat', 'a.alon', 'b.blat', 'b.blon', DUCKDB))} AS dist_m "
            f"FROM (SELECT gh AS gh_a, {center_lat_sql()} AS alat, "
            f"{center_lng_sql()} AS alon FROM ({dec2d})) a "
            f"CROSS JOIN (SELECT gh AS gh_b, {center_lat_sql()} AS blat, "
            f"{center_lng_sql()} AS blon FROM ({dec2s})) b "
            f"ORDER BY gh_a, gh_b",
        "cover_california":
            f"SELECT cell FROM (VALUES {cal_values}) t(cell) ORDER BY cell",
        "cover_circles_table":
            "SELECT circle_id, cell FROM (VALUES "
            + ", ".join(f"('{cid}', '{cell}')" for cid, la, lo, r in CIRCLES
                        for cell in sorted(cover_circle(la, lo, r, None,
                                                        "intersects").tolist()))
            + ") t(circle_id, cell) ORDER BY circle_id, cell",
        "salted_join":
            f"SELECT gh AS cell, count(*) AS n_pages FROM ({tagged2}) "
            f"WHERE gh IN ({rect_cells}) GROUP BY gh",
        "geofence_ring": (lambda edge3: (
            f"SELECT gh AS cell, count(*) AS n_pages "
            f"FROM ({pages_tagged_sql(3, REP)}) "
            f"WHERE gh IN ({edge3}) GROUP BY gh ORDER BY cell"))(
            _cells_in_list(
                sorted(set(cover_polygon(RECT_WKT, 3, "intersects").tolist())
                       - set(cover_polygon(RECT_WKT, 3, "contains").tolist())))),
        "tile_counts_p2":
            f"SELECT gh AS tile, count(*) AS n_pages, "
            f"count(DISTINCT url) AS n_urls FROM ({tagged2}) GROUP BY gh",
        "tile_rollup":
            f"SELECT substr(gh, 1, 1) AS tile1, count(*) AS n_pages, "
            f"count(DISTINCT substr(gh, 1, 4)) AS n_tiles_p4 "
            f"FROM ({pages_tagged_sql(4, REP)}) GROUP BY 1 ORDER BY tile1",
        "spatial_join_rect":
            f"SELECT gh AS cell, count(*) AS n_pages FROM ({tagged2}) "
            f"WHERE gh IN ({rect_cells}) GROUP BY gh",
        "spatial_join_refined":
            f"SELECT lang, count(*) AS n_pages FROM ({tagged2}) "
            f"WHERE gh IN ({rect_cells}) "
            f"AND lat > {RECT['min_lat']} AND lat < {RECT['max_lat']} "
            f"AND lon > {RECT['min_lon']} AND lon < {RECT['max_lon']} "
            f"GROUP BY lang ORDER BY lang",
        "circle_join":
            f"SELECT url, dist_m FROM ("
            f"SELECT url, {MICRO.round_sql(hav_c)} AS dist_m "
            f"FROM ({tagged2}) p WHERE gh IN ({circle_cells})) "
            f"WHERE dist_m <= {CIRCLE['radius_m']!r} ORDER BY dist_m, url",
        "knn":
            f"WITH q(query_id, qlat, qlon) AS (VALUES {knn_q}), "
            f"d AS (SELECT q.query_id, p.url, {MICRO.round_sql(hav)} AS dist_m "
            f"FROM ({pages_sql(REP)}) p CROSS JOIN q) "
            f"SELECT query_id, rank, url, dist_m FROM ("
            f"SELECT *, row_number() OVER (PARTITION BY query_id "
            f"ORDER BY dist_m, url) AS rank FROM d) WHERE rank <= {KNN_K} "
            f"ORDER BY query_id, rank",
        "knn_table":
            f"WITH q(query_id, qlat, qlon) AS (VALUES {knn_tq}), "
            f"d AS (SELECT q.query_id, p.url, {MICRO.round_sql(hav)} AS dist_m "
            f"FROM ({pages_sql(REP)}) p CROSS JOIN q) "
            f"SELECT query_id, rank, url, dist_m FROM ("
            f"SELECT *, row_number() OVER (PARTITION BY query_id "
            f"ORDER BY dist_m, url) AS rank FROM d) "
            f"WHERE rank <= {KNN_TABLE_K} "
            f"ORDER BY query_id, rank",
        "compress_covering":
            f"SELECT cell FROM (VALUES {compress_values}) t(cell) ORDER BY cell",
        "exact_dedup_groups":
            f"SELECT md5(regexp_replace(trim(lower(text)), '\\s+', ' ', 'g')) "
            f"AS fingerprint, count(*) AS n_dups, min(url) AS keep_url "
            f"FROM ({pages_sql(REP)}) GROUP BY 1 HAVING count(*) > 1 "
            f"ORDER BY fingerprint",
        "ngram_jaccard": ngram_jaccard_sql(threshold=0.5),
        "ngram_jaccard_capped": ngram_jaccard_sql(threshold=0.5, max_df=0.05),
        "minhash_pairs": minhash_lsh_sql(threshold=0.5),
        "knn_sites": (lambda cities_vals: (
            f"WITH pg AS (SELECT url, lat, lon FROM ({pages_sql(REP)})), "
            f"c(name, clat, clon) AS (VALUES {cities_vals}), "
            f"d AS (SELECT url, name, "
            f"{haversine_sql('lat', 'lon', 'clat', 'clon', DUCKDB)} AS dist "
            f"FROM pg CROSS JOIN c), "
            f"r AS (SELECT url, name, dist, row_number() OVER "
            f"(PARTITION BY url ORDER BY dist, name) AS rn FROM d) "
            f"SELECT url, CAST(rn AS INT) AS rank, name AS site, "
            f"{MICRO.round_sql('dist')} AS dist_m "
            f"FROM r WHERE rn <= {KNN_SITES_K} ORDER BY url, rank"))(
            ", ".join(f"('{n}', {la}, {lo})" for n, la, lo in _CITIES)),
        "stay_points":
            "SELECT * FROM ("
            + stay_points_sql(f"({_sticky_events_sql()})", precision=3,
                              min_dwell_s=3600, min_points=2,
                              tiebreak="event_id")
            + ") ORDER BY user_id, enter_ts, cell, exit_ts, n_points",
        "trip_stats":
            "SELECT * FROM ("
            + trip_stats_sql(
                "(SELECT user_id, ts, event_id, "
                + geocode_lat_sql("CAST(event_id AS VARCHAR)")
                + " AS lat, "
                + geocode_lon_sql("CAST(event_id AS VARCHAR)")
                + " AS lon FROM events)",
                gap_s=21600, min_points=2, tiebreak="event_id")
            + ") ORDER BY user_id, trip_idx",
        "minhash_incremental":
            "SELECT * FROM ("
            + minhash_cross_sql(
                "SELECT doc_id, CASE WHEN doc_id % 10 = 0 THEN text "
                "ELSE text || ' revision note appended' END AS text "
                "FROM documents WHERE doc_id % 5 = 0",
                "SELECT doc_id, text FROM documents",
                threshold=0.5)
            + ") ORDER BY id_new, id_old",
        "classifier_scores":
            "SELECT * FROM (" + hashed_linear_score_sql()
            + ") ORDER BY doc_id",
        "adaptive_cells": adaptive_cells_sql(
            pages_tagged_sql(3, REP), base_precision=1, max_precision=3,
            threshold=10),
        "hilbert_shards": hilbert_shards_sql(
            pages_sql(REP), order=8, n_shards=64),
        "tile_entropy": tile_entropy_sql(tagged2, key="lang"),
        "tile_terms": tile_terms_sql(tagged2, k=3, min_count=3),
        "tile_skew": tile_skew_sql(tagged2),
        "tile_freshness": tile_freshness_sql(pages_tagged_sql(3, REP),
                                             halflife_days=7),
        "doc_keywords": doc_keywords_sql("documents", k=3, max_df=400),
        "geo_text_search": geo_text_search_sql(pages_sql(REP), GTS_TERM,
                                               k=20, **GTS_BBOX),
        "pq_topk": pq_topk_sql(10, [0, 1, 2, 3, 4], dim=64),
        "crawl_slots": crawl_slots_sql(pages_sql(REP), rate=16),
        "containment_pairs": containment_sql(threshold=0.5, max_df=0.05),
        "frontier_hosts": frontier_hosts_sql(
            planted_mixed_anchors_sql(pages_sql(REP), replicate=REP),
            pages_sql(REP)),
        "cluster_canonical": cluster_canonical_sql(threshold=0.5),
        "site_footprint": site_footprint_sql(pages_tagged_sql(4, REP)),
        "score_calibration":
            "SELECT * FROM (" + score_calibration_sql()
            + ") ORDER BY doc_id",
        "hot_regions": hot_regions_sql(pages_sql(REP), cell_udeg=5_000_000,
                                       min_pages=3),
        "link_graph": link_host_edges_sql(
            planted_anchors_sql(pages_sql(REP)),
            src_host_re="https?://[^/]+/([^/]+)"),
        "anchor_terms": anchor_term_index_sql(
            planted_rich_anchors_sql(pages_sql(REP)),
            src_host_re="https?://[^/]+/([^/]+)"),
        "link_locality": link_locality_sql(
            planted_local_anchors_sql(pages_sql(REP), replicate=REP),
            pages_sql(REP), band_m=1_000_000, n_bands=20),
        "distance_bands": distance_bands_sql(
            pages_sql(REP), 40.0, -100.0, band_m=500_000, n_bands=30),
        "tile_pyramid": tile_pyramid_sql(pages_sql(REP), max_z=6),
        "visit_recurrence": visit_recurrence_sql(
            tagged_select_sql(_sticky_events_sql(), 3,
                              keep="user_id, ts, event_id, lat, lon")),
        "hilbert_bbox": hilbert_bbox_tiles_sql(tagged2, *HB_BBOX),
        "place_profiles": place_profile_pairs_sql(
            tagged_select_sql(_sticky_events_sql(), 2,
                              keep="user_id, ts, event_id, lat, lon"),
            threshold=0.2),
        "bearing_rose": bearing_rose_sql(_sticky_events_sql(),
                                         tiebreak="event_id"),
        "dedup_clusters": dedup_clusters_sql(threshold=0.5),
        "latest_snapshot": latest_snapshot_sql(pages_sql(REP)),
        "quadkey_tiles": _quadkey_tiles_sql(),
        "domain_quota":
            f"SELECT domain, rk, url, score FROM ("
            f"SELECT domain, url, score, row_number() OVER ("
            f"PARTITION BY domain ORDER BY score DESC, url) AS rk FROM ("
            f"SELECT regexp_extract(url, '^https?://([^/]+)/', 1) || '/' || "
            f"regexp_extract(url, '^https?://[^/]+/([^/]+)/', 1) AS domain, "
            f"url, CAST(length(text) AS BIGINT) AS score "
            f"FROM ({pages_sql(REP)}))) WHERE rk <= 3 ORDER BY domain, rk",
        "domain_mixture":
            mixture_weights_sql(
                f"(SELECT regexp_extract(url, '^https?://([^/]+)/', 1) "
                f"|| '/' || "
                f"regexp_extract(url, '^https?://[^/]+/([^/]+)/', 1) "
                f"AS domain, CAST(length(text) AS BIGINT) AS n_chars "
                f"FROM ({pages_sql(REP)}))", size_col="n_chars"
            ) + " ORDER BY domain",
        "sample_exact":
            "SELECT * FROM ("
            + sample_exact_n_sql(
                inner="(SELECT doc_id, lang FROM documents)",
                n=137, id_col="doc_id", cols="doc_id, lang")
            + ") ORDER BY rnk",
        "sample_exact_by_lang":
            "SELECT * FROM ("
            + sample_exact_n_sql(
                inner="(SELECT doc_id, lang FROM documents)",
                n=29, id_col="doc_id", cols="doc_id, lang",
                group_col="lang")
            + ") ORDER BY lang, rnk",
        "tile_clusters":
            "SELECT * FROM ("
            + tile_density_clusters_sql(f"({pages_sql(REP)})",
                                        z=5, min_count=6)
            + ") ORDER BY x, y",
        "bigram_ppl":
            "SELECT * FROM ("
            + bigram_ppl_sql()
            + ") ORDER BY doc_id",
        "collocations":
            "SELECT * FROM ("
            + collocations_sql(k=50, min_count=5)
            + ") ORDER BY w1, w2",
        "char_entropy":
            "SELECT doc_id, " + char_entropy_sql_expr("text")
            + " AS char_entropy FROM documents ORDER BY doc_id",
        "kmeans_codebook":
            "SELECT * FROM ("
            + kmeans_fit_sql(n_clusters=8, n_iter=2, dim=64)
            + ") ORDER BY cluster, pos",
        "user_mobility":
            "SELECT * FROM ("
            + user_mobility_sql(
                "(SELECT user_id, "
                + geocode_lat_sql("CAST(event_id AS VARCHAR)")
                + " AS lat, "
                + geocode_lon_sql("CAST(event_id AS VARCHAR)")
                + " AS lon FROM events)")
            + ") ORDER BY user_id",
        "tile_flows":
            "SELECT * FROM ("
            + tile_flows_sql(
                "(SELECT user_id, ts, event_id, "
                + geocode_lat_sql("CAST(event_id AS VARCHAR)")
                + " AS lat, "
                + geocode_lon_sql("CAST(event_id AS VARCHAR)")
                + " AS lon FROM events)",
                precision=2, tiebreak="event_id")
            + ") ORDER BY from_tile, to_tile",
        "cotravel_pairs":
            "SELECT * FROM ("
            + cotravel_pairs_sql(
                "(SELECT user_id, ts, "
                + geocode_lat_sql("CAST(event_id AS VARCHAR)")
                + " AS lat, "
                + geocode_lon_sql("CAST(event_id AS VARCHAR)")
                + " AS lon FROM events)",
                precision=1, bucket_s=21600, min_cobuckets=2,
                max_cell_users=8)
            + ") ORDER BY user_a, user_b",
        "bpe_merges":
            "SELECT * FROM ("
            + bpe_merges_sql(n_merges=10)
            + ") ORDER BY rank",
        "phrase_search":
            "SELECT * FROM ("
            + phrase_match_sql("table hash")
            + ") ORDER BY doc_id",
        "snap_route":
            "SELECT * FROM ("
            + snap_to_route_sql(
                "SELECT event_id, "
                + geocode_lat_sql("CAST(event_id AS VARCHAR)")
                + " AS lat, "
                + geocode_lon_sql("CAST(event_id AS VARCHAR)")
                + " AS lon FROM events",
                CORRIDOR_SEGS, 3.0, id_col="event_id")
            + ") ORDER BY event_id",
        "k_anon_tiles":
            "SELECT * FROM ("
            + k_anonymous_tiles_sql(
                tagged_select_sql(
                    "(SELECT event_id, "
                    + geocode_lat_sql("CAST(event_id AS VARCHAR)")
                    + " AS lat, "
                    + geocode_lon_sql("CAST(event_id AS VARCHAR)")
                    + " AS lon FROM events)",
                    3, keep="event_id"),
                k=8, precision=3)
            + ") ORDER BY level, tile",
        "corridor_join":
            "SELECT * FROM ("
            + corridor_join_sql(
                "SELECT event_id, "
                + geocode_lat_sql("CAST(event_id AS VARCHAR)")
                + " AS lat, "
                + geocode_lon_sql("CAST(event_id AS VARCHAR)")
                + " AS lon FROM events",
                CORRIDOR_SEGS, 3.0, keep="p.event_id")
            + ") ORDER BY event_id, seg_id",
        "zonal_stats":
            " UNION ALL ".join(
                f"SELECT '{z}' AS zone_id, count(*) AS n_points, "
                f"{MICRO.sum_sql('value')} AS sum_value "
                f"FROM (SELECT value, "
                + geocode_lat_sql("CAST(event_id AS VARCHAR)")
                + " AS lat, "
                + geocode_lon_sql("CAST(event_id AS VARCHAR)")
                + f" AS lon FROM events) "
                f"WHERE lat > {s} AND lat < {n} "
                f"AND lon > {w} AND lon < {e} "
                # HAVING mirrors the operator's "empty zones emit no
                # row" contract (a bare global count would emit 0/NULL)
                f"HAVING count(*) > 0"
                for z, (s, w, n, e) in ZONAL_ZONES)
            + " ORDER BY zone_id",
        "snapshot_diff":
            "SELECT * FROM ("
            + snapshot_diff_sql(
                old="(SELECT doc_id, text FROM documents)",
                new=("(SELECT doc_id, CASE WHEN doc_id % 13 = 0 "
                     "THEN text || ' v2' ELSE text END AS text "
                     "FROM documents WHERE doc_id % 17 <> 0 "
                     "UNION ALL SELECT doc_id + 1000000, "
                     "'new page ' || CAST(doc_id AS VARCHAR) "
                     "FROM documents WHERE doc_id < 20)"))
            + ") ORDER BY doc_id",
        "postings":
            "SELECT * FROM ("
            + build_postings_sql(n_shards=4)
            + ") ORDER BY term, shard",
        "bm25_search":
            "SELECT * FROM ("
            + bm25_topk_sql(BM25_QUERIES, k=8)
            + ") ORDER BY qid, rank",
        "host_reach": (lambda _sites:
            bfs_reach_sql(
                host_edges_sql(_sites, node="site", key="site"),
                f"SELECT site AS node FROM ({_sites}) "
                f"WHERE ({md5_60bit_sql('site')}) % 7 = 0",
                n_hops=3))(
            "SELECT DISTINCT regexp_extract(url, "
            "'^https?://[^/]+/([^/]+)/', 1) AS site "
            f"FROM ({pages_sql(REP)})"),
        "host_pagerank":
            "SELECT * FROM ("
            + pagerank_sql(
                host_edges_sql(
                    "SELECT DISTINCT regexp_extract(url, "
                    "'^https?://[^/]+/([^/]+)/', 1) AS site "
                    f"FROM ({pages_sql(REP)})",
                    node="site", key="site"),
                n_iter=3)
            + ") ORDER BY node",
        "host_hits":
            "SELECT * FROM ("
            + hits_sql(
                host_edges_sql(
                    "SELECT DISTINCT regexp_extract(url, "
                    "'^https?://[^/]+/([^/]+)/', 1) AS site "
                    f"FROM ({pages_sql(REP)})",
                    node="site", key="site"),
                n_iter=3)
            + ") ORDER BY node",
        "dup_spans":
            "SELECT * FROM ("
            + duplicate_spans_sql("SELECT * FROM documents", width=8)
            + ") ORDER BY doc_id",
        "paragraph_dedup":
            "SELECT * FROM ("
            + paragraph_dedup_sql("SELECT * FROM documents",
                                  sep_sql="' '")
            + ") ORDER BY doc_id",
        # independent oracle ALGORITHM: brute-force quadratic pairwise
        # join (the Spark side is the cell-partitioned exactly-once form)
        "rect_join":
            "WITH r AS (SELECT event_id AS rect_id, "
            + geocode_lat_sql("CAST(event_id AS VARCHAR)")
            + " * 0.8 AS clat, "
            + geocode_lon_sql("CAST(event_id AS VARCHAR)")
            + " * 0.8 AS clon, "
            "(0.3 + (event_id % 5) * 0.2) AS hh, "
            "(0.4 + (event_id % 7) * 0.25) AS hw "
            "FROM events WHERE event_id % 3 = 0), "
            "b AS (SELECT rect_id, clat - hh AS min_lat, "
            "clat + hh AS max_lat, clon - hw AS min_lon, "
            "clon + hw AS max_lon FROM r) "
            "SELECT x.rect_id AS a_id, y.rect_id AS b_id "
            "FROM b x JOIN b y ON x.rect_id < y.rect_id "
            "AND x.min_lat <= y.max_lat AND y.min_lat <= x.max_lat "
            "AND x.min_lon <= y.max_lon AND y.min_lon <= x.max_lon "
            "ORDER BY a_id, b_id",
        "length_quantiles":
            "SELECT * FROM ("
            + group_quantiles_sql("SELECT * FROM documents")
            + ") ORDER BY lang",
        "tile_anomaly":
            "SELECT * FROM ("
            + tile_anomaly_sql(tagged_select_sql(
                "SELECT ts, "
                + geocode_lat_sql("CAST(event_id AS VARCHAR)") + " AS lat, "
                + geocode_lon_sql("CAST(event_id AS VARCHAR)") + " AS lon "
                "FROM events", 1, keep="ts"))
            + ") ORDER BY tile, day",
        "dsir_weights":
            "SELECT * FROM ("
            + dsir_weights_sql(
                "SELECT * FROM documents WHERE doc_id % 17 <> 0",
                "SELECT * FROM documents WHERE doc_id % 17 = 0",
                n_buckets=512)
            + ") ORDER BY doc_id",
        "url_host_stats":
            f"SELECT regexp_extract(url, '^https?://([^/]+)/', 1) AS host, "
            f"regexp_extract(url, '^https?://[^/]+/([^/]+)/', 1) AS top_dir, "
            f"count(*) AS n_pages, count(DISTINCT doc_id) AS n_docs, "
            f"CAST(sum(length(text)) AS BIGINT) AS total_chars "
            f"FROM ({pages_sql(REP)}) GROUP BY host, top_dir "
            f"ORDER BY host, top_dir",
        "event_sessions": sessionize_sql(gap_s=1800),
        "cover_tracks": _cover_tracks_sql(),
        "tile_smooth": (
            f"WITH tiles3 AS (SELECT gh, CAST(count(*) AS BIGINT) AS n "
            f"FROM ({pages_tagged_sql(3, REP)}) GROUP BY gh), "
            f"pairs AS (SELECT DISTINCT t, s FROM ("
            f"SELECT src AS t, neighbor AS s FROM "
            f"({tagged_select_sql(nb_pts, 3, keep='src', out='neighbor')}) "
            f"UNION ALL SELECT gh AS t, gh AS s FROM tiles3)) "
            f"SELECT tiles3.gh AS tile, tiles3.n, f.focal_n "
            f"FROM tiles3 JOIN (SELECT p.t, CAST(sum(c.n) AS BIGINT) AS "
            f"focal_n FROM pairs p JOIN tiles3 c ON c.gh = p.s "
            f"GROUP BY p.t) f ON f.t = tiles3.gh "
            f"ORDER BY tile"),
        "tile_trend": _tile_trend_sql(),
        "tile_hotspots": (
            "SELECT * FROM (" + focal_hotspots_sql(
                tiles_cte=tiles3_cte, pairs_cte=pairs3_cte)
            + ") ORDER BY gh"),
        "tile_moran": moran_i_sql(tiles_cte=tiles3_cte,
                                  pairs_cte=pairs3_cte),
        "events_asof": (
            "SELECT * FROM (" + asof_join_sql(
                left_cte=("SELECT event_id, user_id, ts, event_type "
                          "FROM events WHERE event_type <> 'purchase'"),
                right_cte=(
                    "SELECT user_id, ts, value FROM ("
                    "SELECT user_id, ts, value, row_number() OVER ("
                    "PARTITION BY user_id, ts ORDER BY event_id DESC) AS rn "
                    "FROM events WHERE event_type = 'purchase') WHERE rn = 1"),
                key="user_id",
                left_cols="l.event_id, l.user_id, l.ts, l.event_type",
                values=("value",), tolerance_s=6 * 3600,
                out_prefix="last_purchase_")
            + ") ORDER BY event_id"),
        "events_range_join": (
            "SELECT * FROM (" + interval_join_sql(
                events_cte=("SELECT event_id, user_id, ts, event_type "
                            "FROM events WHERE event_type <> 'purchase'"),
                intervals_cte=(
                    "SELECT event_id AS window_id, user_id, "
                    "ts AS start_ts, ts + INTERVAL 2 HOUR AS end_ts, "
                    "value AS purchase_value "
                    "FROM events WHERE event_type = 'purchase'"),
                key="user_id",
                out_cols=("e.event_id, e.user_id, e.ts, e.event_type, "
                          "iv.window_id, iv.purchase_value"))
            + ") ORDER BY event_id, window_id"),
        "events_time_rollup": (
            "SELECT * FROM ("
            + time_rollup_sql("SELECT ts, value FROM events")
            + ") ORDER BY level, bucket"),
        "nearest_city": (lambda cities_vals: (
            f"WITH pg AS (SELECT url, lat, lon FROM ({pages_sql(REP)})), "
            f"c(name, clat, clon) AS (VALUES {cities_vals}), "
            f"d AS (SELECT url, name, "
            f"{haversine_sql('lat', 'lon', 'clat', 'clon', DUCKDB)} AS dist "
            f"FROM pg CROSS JOIN c) "
            f"SELECT url, name AS site, {MICRO.round_sql('dist')} AS dist_m "
            f"FROM d QUALIFY row_number() OVER "
            f"(PARTITION BY url ORDER BY dist, name) = 1 ORDER BY url"))(
            ", ".join(f"('{n}', {la}, {lo})" for n, la, lo in _CITIES)),
        "tile_quality_dist": (
            f"SELECT gh AS tile, CAST(count(*) AS BIGINT) AS n_pages, "
            f"{MICRO.round_sql('quantile_cont(quality_score, 0.5)')} AS median_q, "
            f"min(quality_score) AS min_q, max(quality_score) AS max_q "
            f"FROM ({quality_sql(inner='(' + tagged2 + ')')}) "
            f"GROUP BY gh ORDER BY tile"),
        "simhash_pairs": simhash_sql(max_hamming=3),
        "multimodal_features": media_features_sql(pages_sql(REP), 50),
        "events_windowed_tiles": (lambda inner: (
            f"SELECT time_bucket(INTERVAL '1 hour', ts) AS window_start, "
            f"gh AS tile, event_type, count(*) AS n_events, "
            f"{MICRO.sum_sql('value')} AS sum_value, "
            f"CAST(sum(k) AS BIGINT) AS sum_k "
            f"FROM ({tagged_select_sql(inner, 2, keep='ts, event_type, value, k')}) "
            f"GROUP BY 1, 2, 3 ORDER BY window_start, tile, event_type"))(
            f"SELECT ts, event_type, value, "
            f"CAST(props->>'k' AS INT) AS k, "
            f"{geocode_lat_sql('CAST(user_id AS VARCHAR)')} AS lat, "
            f"{geocode_lon_sql('CAST(user_id AS VARCHAR)')} AS lon "
            f"FROM events"),
        "token_stats":
            f"SELECT doc_id, n_tokens, n_bpe_tokens, n_chars_text, "
            f"avg_token_len FROM ({token_stats_sql()}) ORDER BY doc_id",
        "winnow_fingerprints":
            f"SELECT id, fp FROM ({winnow_sql()}) ORDER BY id, fp",
        "quality":
            "SELECT doc_id, stopword_ratio, lang_pred, quality_score "
            "FROM (" + quality_sql(
                "(SELECT * FROM documents UNION ALL "
                "SELECT doc_id + 1000000, repeat(text || chr(32), 200), "
                "lang, source, n_chars FROM documents WHERE doc_id < 4)")
            + ") ORDER BY doc_id",
        "decontaminate":
            f"SELECT * FROM ({contamination_sql('documents', eval_pred='doc_id % 17 = 0', n=3, threshold=0.2)}) "
            f"ORDER BY doc_id",
        "repetition_stats":
            f"SELECT * FROM ({repetition_sql('documents', n=2)}) "
            f"ORDER BY doc_id",
        "boilerplate_stats":
            f"SELECT * FROM ({boilerplate_sql('documents', n=2, min_df=0.05)}) "
            f"ORDER BY doc_id",
        "stratified_sample":
            f"SELECT doc_id, lang, u FROM "
            f"({stratified_sample_sql('documents', rates={'en': 0.5, 'de': 0.25, 'es': 0.1}, cols='doc_id, lang', default_rate=0.05)}) "
            f"ORDER BY doc_id",
        "pii_scrub":
            f"SELECT doc_id, n_emails, n_phones, n_ipv4, "
            f"md5(text_scrubbed) AS scrub_fp FROM ("
            + pii_scrub_sql(
                inner=("(SELECT doc_id, text || '" + PII_SUFFIX_SQL
                       + " AS text FROM documents)"),
                cols="doc_id")
            + ") ORDER BY doc_id",
        "curation_pipeline": _curation_pipeline_sql(),
        "vocab_topk": vocab_topk_sql(k=200),
        "url_canonical_dedup": _url_canonical_dedup_sql(),
        "extract_text": (
            f"SELECT url, md5(regexp_replace("
            f"'<html><body>' || text || '</body></html>', "
            f"'<[^>]*>', '', 'g')) AS fp, "
            f"CAST(regexp_replace('<html><body>' || text || "
            f"'</body></html>', '<[^>]*>', '', 'g') = text AS INT) "
            f"AS byte_identical "
            f"FROM ({pages_sql(2)}) ORDER BY url"),
        "pack_shards":
            f"SELECT doc_id, bucket, shard, n_tokens FROM "
            f"({pack_shards_sql(inner='(' + token_stats_sql() + ')', budget=2000, n_buckets=8, cols='doc_id, n_tokens')}) "
            f"ORDER BY doc_id",
        "cosine_topk": cosine_topk_sql(10, [0, 1, 2, 3, 4]),
        "lsh_cosine_topk": lsh_cosine_topk_sql(10, [0, 1, 2, 3, 4]),
        "cosine_near_pairs": cosine_near_pairs_sql(0.4),
        "ivf_cosine_topk": ivf_cosine_topk_sql(10, [0, 1, 2, 3, 4]),
        "semantic_dedup": semantic_dedup_sql(threshold=0.2,
                                             max_cluster_size=20),
        "flagship":
            f"SELECT substr(gh, 1, 1) AS tile1, lang, count(*) AS n_pages, "
            f"{MICRO.mean_sql('quality_score')} AS avg_quality "
            f"FROM ({quality_sql(inner='(' + tagged2 + ')')}) "
            f"WHERE gh IN ({rect_cells}) "
            f"GROUP BY 1, 2 ORDER BY tile1, lang",
        "pricing_summary":
            "SELECT l_returnflag, l_linestatus, "
            f"{MICRO.sum_sql('l_quantity')} AS sum_qty, "
            f"{MICRO.sum_sql('l_extendedprice')} AS sum_base_price, "
            f"{MICRO.sum_sql('l_extendedprice * (1 - l_discount)')} "
            "AS sum_disc_price, "
            f"{MICRO.mean_sql('l_quantity')} AS avg_qty, "
            "count(*) AS count_order "
            "FROM lineitem WHERE l_shipdate <= TIMESTAMP '1998-09-02' "
            "GROUP BY l_returnflag, l_linestatus "
            "ORDER BY l_returnflag, l_linestatus",
        "regional_suppliers":
            "SELECT r_name, count(*) AS n_suppliers, "
            f"{MICRO.mean_sql('s_acctbal')} AS avg_acctbal "
            "FROM supplier JOIN nation ON s_nationkey = n_nationkey "
            "JOIN region ON n_regionkey = r_regionkey "
            "GROUP BY r_name ORDER BY r_name",
        "top_customers":
            "SELECT c_custkey, c_name, "
            f"{MICRO.sum_sql('o_totalprice')} AS total_spend, "
            "count(*) AS n_orders FROM orders JOIN customer "
            "ON o_custkey = c_custkey GROUP BY c_custkey, c_name "
            "ORDER BY total_spend DESC, c_custkey LIMIT 25",
    }
