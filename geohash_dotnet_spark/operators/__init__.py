"""Dataflow operators (SURVEY.md §2 inventory + training-data extensions)."""

from .coverage import (  # noqa: F401
    CoverageMetrics,
    cover_circles,
    cover_polygons,
    plan_polygon_tasks,
)
from .compress import compress_cells  # noqa: F401
from .spatial_join import (  # noqa: F401
    rect_overlap_join,
    spatial_join,
    spatial_join_refined,
    tag_pages,
    tile_stats,
)
from .grid import cells_to_wkt, gh_grid, pick_grid_precision  # noqa: F401
from .sketches import approx_tile_stats  # noqa: F401
from .knn import knn_join, nearest_assign, nearest_sites  # noqa: F401
from .dedup import (  # noqa: F401
    cluster_canonical,
    connected_components,
    containment_pairs,
    duplicate_groups,
    exact_dedup,
    latest_snapshot,
    minhash_lsh_pairs,
    minhash_signatures,
    ngram_jaccard_pairs,
    release_dedup_cache,
    simhash_bits,
    simhash_near_pairs,
)
from .similarity import (  # noqa: F401
    cosine_near_pairs,
    cosine_topk,
    lsh_cosine_topk,
    pq_encode,
    pq_topk,
    semantic_dedup,
    signature_col,
    signature_col_vec,
    with_cosine,
)
from .pipeline import (  # noqa: F401
    boilerplate_stats,
    contamination_stats,
    domain_topk,
    mixture_weights,
    pack_shards,
    sample_exact_n,
    repetition_stats,
    stratified_sample,
    with_canonical_url,
    with_pii_scrubbed,
)
from .asof import asof_join, interval_join  # noqa: F401
from .cdc import snapshot_diff  # noqa: F401
from .dedup import duplicate_spans, paragraph_dedup  # noqa: F401
from .clustering import tile_density_clusters  # noqa: F401
from .bpe import bpe_merges  # noqa: F401
from .privacy import k_anonymous_tiles  # noqa: F401
from .zonal import zonal_stats  # noqa: F401
from .colocation import cotravel_pairs  # noqa: F401
from .flows import (  # noqa: F401
    stay_points,
    tile_flows,
    trip_stats,
    user_mobility,
)
from .graph import host_edges, pagerank  # noqa: F401
from .crawl import crawl_slots, site_footprint  # noqa: F401
from .index import (  # noqa: F401
    bm25_topk,
    build_postings,
    doc_keywords,
    geo_text_search,
    phrase_match,
)
from .kmeans import kmeans_assign, kmeans_fit  # noqa: F401
from .lm import (  # noqa: F401
    bigram_ppl,
    collocations,
    dsir_weights,
    hashed_linear_score,
    score_calibration,
)
from .diversity import tile_skew  # noqa: F401
from .hotspots import focal_hotspots, moran_i, tile_anomaly  # noqa: F401
from .raster import hot_regions, rasterize  # noqa: F401
from .rollup import tile_freshness, time_rollup  # noqa: F401
from .sessions import sessionize  # noqa: F401
from .tracks import corridor_join, cover_tracks, snap_to_route  # noqa: F401
from .text import (  # noqa: F401
    group_quantiles,
    vocab_topk,
    with_fingerprint,
    with_quality,
    with_token_stats,
)
from .multimodal import extract_features, synthetic_media  # noqa: F401
