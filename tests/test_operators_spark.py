"""Spark operator integration tests: distributed results must equal the
kernel twins exactly, and physical plans must have the right shape
(broadcast where expected, no Python in native paths)."""

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from geohash_dotnet_spark.functions import with_geohash
from geohash_dotnet_spark.kernels import compress as kcompress
from geohash_dotnet_spark.kernels import cover_circle, cover_polygon, encode
from geohash_dotnet_spark.kernels import children as kchildren
from geohash_dotnet_spark.operators import (
    compress_cells,
    cover_circles,
    cover_polygons,
    cosine_topk,
    exact_dedup,
    knn_join,
    lsh_cosine_topk,
    minhash_lsh_pairs,
    ngram_jaccard_pairs,
    release_dedup_cache,
    simhash_near_pairs,
    spatial_join,
    spatial_join_refined,
    tile_stats,
)
from geohash_dotnet_spark.sources.pages import pages

CAL_WKT = open("tests/golden/california_p5_contains.wkt").read().strip()


# ---------------------------------------------------------------------------
# coverage operators == kernel twins
# ---------------------------------------------------------------------------

def test_cover_polygons_matches_kernel(spark):
    polys = [
        ("california", CAL_WKT, 4, "contains"),
        ("box", "POLYGON((0 0, 22.5 0, 22.5 11.25, 0 11.25, 0 0))", 2, "intersects"),
    ]
    got = (cover_polygons(spark, polys)
           .groupBy("polygon_id").agg(F.sort_array(F.collect_list("cell")).alias("cells"))
           .collect())
    got = {r["polygon_id"]: r["cells"] for r in got}
    for pid, wkt, p, crit in polys:
        want = sorted(cover_polygon(wkt, p, crit))
        assert got[pid] == want, pid


def test_cover_polygons_golden_california_p5(spark):
    got = (cover_polygons(spark, [("ca", CAL_WKT, 5, "contains")])
           .count())
    assert got == 22754


def test_cover_circles_matches_kernel(spark):
    circles = pd.DataFrame([
        {"circle_id": "berlin", "lat": 52.5163, "lon": 13.3777,
         "radius_m": 5000.0, "precision": 6, "criteria": "intersects"},
        {"circle_id": "pole", "lat": 89.5, "lon": 0.0,
         "radius_m": 100000.0, "precision": 3, "criteria": "intersects"},
        {"circle_id": "auto", "lat": 40.7, "lon": -74.0,
         "radius_m": 8000.0, "precision": None, "criteria": "contains"},
    ])
    cdf = spark.createDataFrame(circles)
    got = (cover_circles(spark, cdf)
           .groupBy("circle_id").agg(F.sort_array(F.collect_list("cell")).alias("cells"))
           .collect())
    got = {r["circle_id"]: r["cells"] for r in got}
    assert got["berlin"] == sorted(cover_circle(52.5163, 13.3777, 5000, 6))
    assert got["pole"] == sorted(cover_circle(89.5, 0, 100000, 3))
    assert got["auto"] == sorted(cover_circle(40.7, -74.0, 8000, None, "contains"))
    assert "zzz" in got["pole"]


# ---------------------------------------------------------------------------
# compression operator == kernel twin
# ---------------------------------------------------------------------------

def test_compress_cells_matches_kernel(spark):
    cases = [
        kchildren("tdnu2"),                                   # full merge
        [g for c in kchildren("y") for g in kchildren(c)],    # cascade
        ["y0", "y01", "z2"],                                  # ancestor prune
        ["wbcd", "wbce", "wbcf", "wxyz"],                     # no-op
    ]
    rng = np.random.default_rng(7)
    rand = encode(rng.uniform(-90, 90, 3000), rng.uniform(-180, 180, 3000), 4).tolist()
    cases.append(rand + kchildren("tdnu2"))
    for i, cells in enumerate(cases):
        df = spark.createDataFrame([(c,) for c in cells], "cell string")
        got = sorted(r["cell"] for r in compress_cells(df).collect())
        want = kcompress(cells)
        assert got == want, f"case {i}"


def test_compress_cells_grouped(spark):
    df = spark.createDataFrame(
        [("a", c) for c in kchildren("tdnu2")] + [("b", "tdnu20"), ("b", "q5")],
        "gid string, cell string")
    got = (compress_cells(df, group_cols=["gid"])
           .groupBy("gid").agg(F.sort_array(F.collect_list("cell")).alias("cells"))
           .collect())
    got = {r["gid"]: r["cells"] for r in got}
    assert got["a"] == ["tdnu2"]
    assert got["b"] == ["q5", "tdnu20"]


# ---------------------------------------------------------------------------
# spatial join + tile stats
# ---------------------------------------------------------------------------

def test_spatial_join_broadcast_and_salting_invariance(spark, sf_small):
    pg = pages(spark, sf_small, replicate=8)
    cov_cells = cover_polygon(
        "POLYGON((-90 -45, 90 -45, 90 45, -90 45, -90 -45))", 3, "intersects")
    cov = spark.createDataFrame([(c,) for c in cov_cells], "cell string")

    plain = spatial_join(pg, cov, precision=3)
    plan = plain._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan, plan[:2000]

    n_plain = plain.count()
    assert n_plain > 0

    semi = spatial_join(pg, cov, precision=3, how="left_semi")
    assert semi.count() == n_plain  # coverage cells are distinct


@pytest.mark.parametrize("how", ["right", "full", "outer"])
def test_spatial_join_refuses_unsupported_how(spark, how):
    """A right or full join would keep a covering cell no page matches
    as an all-NULL row, its cell id dropped with the temporary key."""
    pg = spark.createDataFrame([(50.0, 10.0)], "lat double, lon double")
    cov = spark.createDataFrame([("9q",)], "cell string")
    with pytest.raises(ValueError, match="inner, left, left_semi, left_anti"):
        spatial_join(pg, cov, precision=2, how=how)


def test_spatial_join_refined_exact(spark, sf_small):
    # NOTE: keep every edge's lon jump < 180 deg — wider jumps trigger the
    # reference's antimeridian short-way-around convention
    # (src/PolygonHasher.cs:228-245), which both our covering and refine
    # faithfully reproduce.
    wkt = "POLYGON((-85 -60, 0 -60, 85 -60, 85 60, 0 60, -85 60, -85 -60))"
    pg = pages(spark, sf_small, replicate=4)
    refined = spatial_join_refined(pg, wkt, precision=3)
    rows = refined.select("lat", "lon").collect()
    assert rows
    for r in rows:
        assert -60 <= r["lat"] <= 60 and -85 <= r["lon"] <= 85
    # equals the direct predicate filter (strict interior, even-odd)
    direct = pg.filter((F.col("lat") > -60) & (F.col("lat") < 60)
                       & (F.col("lon") > -85) & (F.col("lon") < 85))
    assert refined.count() == direct.count()


def test_tile_stats(spark, sf_small):
    pg = pages(spark, sf_small, replicate=4)
    stats = tile_stats(pg, precision=2)
    total = stats.agg(F.sum("n_pages")).collect()[0][0]
    assert total == pg.count()
    rolled = tile_stats(pg, precision=2, prefix_len=1)
    assert rolled.count() <= stats.count()


# ---------------------------------------------------------------------------
# kNN
# ---------------------------------------------------------------------------

def test_knn_matches_brute_force(spark, sf_small):
    pg = pages(spark, sf_small, replicate=8).cache()
    queries = pd.DataFrame({
        "query_id": ["q1", "q2"],
        "lat": [10.0, -45.0],
        "lon": [20.0, 100.0],
    })
    k = 5
    got = knn_join(spark, pg, queries, k=k,
                   initial_radius_m=200_000).toPandas()
    # brute force oracle
    pdf = pg.select("url", "lat", "lon").toPandas()
    from geohash_dotnet_spark.kernels import haversine_m as hm
    for q in queries.itertuples(index=False):
        d = hm(q.lat, q.lon, pdf.lat.values, pdf.lon.values)
        want = set(pdf.url.values[np.argsort(d, kind="stable")[:k]])
        sub = got[got.query_id == q.query_id]
        assert len(sub) == k
        assert set(sub.url) == want, q.query_id


def test_knn_query_table_uses_distributed_covering(spark, sf_small,
                                                   monkeypatch):
    """A query TABLE (hundreds of rows) must build its ring coverings on
    executors (cover_circles), never via the driver-side per-query kernel
    loop — the driver kernel is monkeypatched to raise, so any driver-side
    call fails the test. Values still match brute force."""
    import geohash_dotnet_spark.operators.knn as knn_mod

    pg = pages(spark, sf_small, replicate=8).cache()
    rng = np.random.default_rng(7)
    nq = 150
    queries = pd.DataFrame({
        "query_id": [f"q{i}" for i in range(nq)],
        "lat": rng.uniform(-60, 60, nq),
        "lon": rng.uniform(-179, 179, nq),
    })

    def _boom(*a, **kw):
        raise AssertionError("driver-side cover_circle called for a "
                             "query table above the threshold")

    # the executor path re-imports the kernels module inside Python
    # workers, so this patch only intercepts DRIVER-side calls;
    # threshold 0 forces the distributed path in EVERY round (with the
    # default threshold, late rounds with few unsettled queries would
    # legitimately drop back to the driver loop)
    monkeypatch.setattr(knn_mod, "cover_circle", _boom)
    monkeypatch.setattr(knn_mod, "DRIVER_COVER_THRESHOLD", 0)
    got = knn_join(spark, pg, queries, k=3, initial_radius_m=500_000).toPandas()

    pdf = pg.select("url", "lat", "lon").toPandas()
    from geohash_dotnet_spark.kernels import haversine_m as hm
    for q in queries.sample(10, random_state=3).itertuples(index=False):
        d = hm(q.lat, q.lon, pdf.lat.values, pdf.lon.values)
        want = set(pdf.url.values[np.argsort(d, kind="stable")[:3]])
        sub = got[got.query_id == q.query_id]
        assert len(sub) == 3 and set(sub.url) == want, q.query_id


# ---------------------------------------------------------------------------
# dedup / similarity / text
# ---------------------------------------------------------------------------

def test_exact_dedup(spark):
    df = spark.createDataFrame(
        [(1, "hello world"), (2, "hello world"), (3, "Hello   WORLD"),
         (4, "unique text")],
        "doc_id long, text string")
    kept = exact_dedup(df)
    ids = sorted(r["doc_id"] for r in kept.collect())
    assert ids == [1, 4]  # normalization folds case+whitespace


def test_ngram_jaccard_and_minhash_agree(spark, sf_med):
    docs = spark.read.parquet(f"{sf_med}/documents.parquet").limit(200).cache()
    exact = ngram_jaccard_pairs(docs, threshold=0.35).select("id_a", "id_b")
    lsh = minhash_lsh_pairs(docs, threshold=0.35).select("id_a", "id_b")
    e = {(r.id_a, r.id_b) for r in exact.collect()}
    l = {(r.id_a, r.id_b) for r in lsh.collect()}
    assert l <= e              # LSH never invents pairs (exact verify step)
    if e:
        assert len(l) >= len(e) * 0.5  # and recalls a reasonable fraction


def test_simhash_pairs_run(spark, sf_med):
    docs = spark.read.parquet(f"{sf_med}/documents.parquet").limit(100)
    pairs = simhash_near_pairs(docs, max_hamming=16)
    for r in pairs.collect():
        assert r["hamming"] <= 16 and r["id_a"] < r["id_b"]


def test_simhash_exact_recall_vs_brute_force(spark, sf_small):
    """Pigeonhole chunking must have EXACT recall: the operator's pairs at
    max_hamming=12 must equal NumPy brute-force all-pairs hamming over the
    same simhash values (the round-1 4x16-bit chunking silently lost pairs
    at hamming 4-12)."""
    from geohash_dotnet_spark.operators import simhash_bits

    docs = spark.read.parquet(f"{sf_small}/documents.parquet")
    sims = {r["id"]: r["simhash"] for r in simhash_bits(docs).collect()}
    ids = sorted(sims)
    vals = np.array([sims[i] for i in ids], dtype=np.uint64)
    xo = vals[:, None] ^ vals[None, :]
    ham = np.zeros_like(xo, dtype=np.int64)
    for _ in range(64):
        ham += (xo & np.uint64(1)).astype(np.int64)
        xo >>= np.uint64(1)
    want = {(ids[i], ids[j]) for i in range(len(ids)) for j in range(len(ids))
            if ids[i] < ids[j] and ham[i, j] <= 12}
    got = {(r.id_a, r.id_b)
           for r in simhash_near_pairs(docs, max_hamming=12).collect()}
    assert got == want


def test_minhash_plan_has_no_shingle_self_join(spark, sf_med):
    """The verify step must be candidate-restricted: no full shingle
    self-join (the round-1 scale-killer) anywhere in the optimized plan."""
    docs = spark.read.parquet(f"{sf_med}/documents.parquet")
    plan = minhash_lsh_pairs(docs, threshold=0.5) \
        ._jdf.queryExecution().optimizedPlan().toString()
    assert "shingle" not in plan.lower()


def test_minhash_signature_matches_reference_math(spark):
    """Vectorized signature == straightforward per-permutation Python min
    over the same xxhash64 shingle hashes (bit-for-bit)."""
    from geohash_dotnet_spark.operators import minhash_signatures
    from geohash_dotnet_spark.operators.dedup import (
        _MINHASH_A, _MINHASH_B, _shingles)

    df = spark.createDataFrame(
        [(1, "the quick brown fox jumps over the lazy dog"),
         (2, "pack my box with five dozen liquor jugs"),
         (3, "a b"),          # shorter than n=3 tokens -> empty signature
         (4, "one two three")],
        "doc_id long, text string")
    sigs = {r["id"]: r["sig"]
            for r in minhash_signatures(df, num_hashes=16).collect()}
    hashes = {r["id"]: r["hs"] for r in df.select(
        F.col("doc_id").alias("id"),
        F.transform(_shingles(F.col("text"), 3),
                    lambda s: F.xxhash64(s)).alias("hs")).collect()}
    for doc_id, hs in hashes.items():
        if not hs:
            assert sigs[doc_id] == [-1] * 16
            continue
        for k in range(16):
            want = min(((int(h) & 0xFFFFFFFFFFFFFFFF) * int(_MINHASH_A[k])
                        + int(_MINHASH_B[k])) & 0xFFFFFFFFFFFFFFFF
                       for h in hs)
            got = sigs[doc_id][k] & 0xFFFFFFFFFFFFFFFF
            assert got == want, (doc_id, k)


def test_winnow_fingerprints_properties(spark):
    """Winnowing invariants: identical docs share all fingerprints; a
    doc with an edit far from a region keeps that region's prints
    (locality); short docs (<k chars) produce none."""
    from geohash_dotnet_spark.operators.text import winnow_fingerprints

    base = "the quick brown fox jumps over the lazy dog " * 5
    edited = base[:60] + "XYZ" + base[60:]
    df = spark.createDataFrame(
        [(1, base), (2, base), (3, edited), (4, "short")],
        "doc_id long, text string")
    fps = winnow_fingerprints(df).collect()
    by_id: dict = {}
    for r in fps:
        by_id.setdefault(r["id"], set()).add(r["fp"])
    assert by_id[1] == by_id[2]          # deterministic per content
    overlap = len(by_id[1] & by_id[3]) / len(by_id[1])
    assert overlap > 0.5                 # local edit keeps distant prints
    assert 4 not in by_id                # < k chars -> no fingerprints


def test_coverage_metrics_accumulators(spark):
    """Progress accumulators (the reference's IProgress analogue,
    src/PolygonHasher.cs:180-194): task + cell counts must reconcile with
    the emitted rows exactly on a clean single-part run."""
    from geohash_dotnet_spark.operators import CoverageMetrics

    m = CoverageMetrics(spark)
    df = cover_polygons(spark, [("ca", CAL_WKT, 5, "contains")], metrics=m)
    assert m.tasks_total > 0 and m.tasks_done.value == 0  # lazy until action
    n = df.count()
    assert m.tasks_done.value == m.tasks_total
    assert m.cells_emitted.value == n  # single part -> no cross-part dups
    assert m.progress() == 1.0

    m2 = CoverageMetrics(spark)
    circles = spark.createDataFrame(
        [("a", 52.52, 13.405, 50_000.0), ("b", -33.87, 151.21, 25_000.0)],
        "circle_id string, lat double, lon double, radius_m double")
    out = cover_circles(spark, circles, metrics=m2)
    n2 = out.count()
    assert m2.tasks_done.value == 2
    assert m2.cells_emitted.value == n2


def test_coverage_cancellation(spark):
    """CancellationToken analogue: cancel() from another thread must
    abort a long-running coverage action promptly instead of letting it
    run to completion."""
    import threading
    import time as _time

    from geohash_dotnet_spark.operators import CoverageMetrics

    m = CoverageMetrics(spark)
    df = cover_polygons(spark, [("ca", CAL_WKT, 7, "intersects")])  # ~24M cells
    err: list = []

    def run():
        try:
            with m.cancellable("cancellation test"):
                df.count()
        except Exception as e:  # cancellation surfaces as a job failure
            err.append(e)

    t = threading.Thread(target=run)
    t0 = _time.time()
    t.start()
    _time.sleep(2.0)
    m.cancel()
    t.join(timeout=60)
    assert not t.is_alive(), "cancel() did not stop the coverage job"
    assert err, "cancelled action should raise, not succeed"
    assert "cancel" in str(err[0]).lower()
    assert _time.time() - t0 < 55


def test_precision_constants():
    from geohash_dotnet_spark.functions import precision as P
    from geohash_dotnet_spark.kernels.distance import cell_size_m

    assert P.SIZE_KM_5X5 == 5 and P.SIZE_M_1X1 == 10 and P.SIZE_MM_37X19 == 12
    assert sorted(P.APPROX_CELL_SIZE_M) == list(range(1, 13))
    # documented magnitudes are loose (reference doc aliases): within ~2x
    for p, (w_doc, h_doc) in P.APPROX_CELL_SIZE_M.items():
        w, h = cell_size_m(p, 0.0)
        assert 0.5 < w / w_doc < 1.5, p
        assert 0.5 < h / h_doc < 1.5, p


def test_quality_no_lane_overflow(spark):
    """Regression (round-1 ADVICE): >4095 stopword hits in one language
    must not carry into the next lane, and huge token counts must not
    overflow — 5000 'the' tokens is stopword_ratio 1.0, lang en."""
    from geohash_dotnet_spark.operators import with_quality

    df = spark.createDataFrame(
        [(1, " ".join(["the"] * 5000)),       # 20 KB -> exact slow path
         (2, " ".join(["der"] * 40000)),      # 160 KB -> exact slow path
         (3, "the " * 3 + "der " * 5000),
         (4, "the " * 2000),                  # 8000 B -> packed fast path
         (5, "el " * 2730)],                  # 8190 B -> fast-path boundary
        "doc_id long, text string")
    out = {r["doc_id"]: r for r in with_quality(df).collect()}
    assert out[1]["stopword_ratio"] == 1.0 and out[1]["lang_pred"] == "en"
    assert out[2]["stopword_ratio"] == 1.0 and out[2]["lang_pred"] == "de"
    assert out[3]["lang_pred"] == "de" and out[3]["quality_score"] == 1.0
    assert out[4]["stopword_ratio"] == 1.0 and out[4]["lang_pred"] == "en"
    assert out[5]["stopword_ratio"] == 1.0 and out[5]["lang_pred"] == "es"


def test_quality_fast_and_slow_paths_match_duckdb_twin(spark):
    """The packed fast path (<= 8190 bytes) and the per-language slow path
    (longer documents) give the same scores for the same token mix, and
    both equal the DuckDB twin ``quality_sql`` value for value."""
    import duckdb

    from geohash_dotnet_spark.operators import with_quality
    from geohash_dotnet_spark.operators.text import quality_sql

    unit = "The der el le la und x Mit 42 los pour "  # 39 bytes, 11 tokens
    docs = pd.DataFrame({
        "doc_id": [1, 2, 3, 4],
        "text": [unit * 204,       # 7956 B -> packed fast path
                 unit * 300,       # 11700 B -> exact slow path
                 "le la de " * 1000 + "der",  # 9003 B, slow path, fr
                 "zzz"],
    })
    assert len(docs.text[0].encode()) <= 8190 < len(docs.text[1].encode())
    cols = ["doc_id", "stopword_ratio", "lang_pred", "quality_score"]
    got = (with_quality(spark.createDataFrame(docs)).select(*cols)
           .toPandas().sort_values("doc_id").reset_index(drop=True))
    con = duckdb.connect()
    con.register("docs", docs)
    want = con.sql(f"SELECT {', '.join(cols)} FROM ({quality_sql('docs')}) "
                   f"ORDER BY doc_id").df()
    pd.testing.assert_frame_equal(got, want, check_dtype=False)
    fast, slow = got.iloc[0], got.iloc[1]
    assert fast[cols[1:]].tolist() == slow[cols[1:]].tolist()
    assert slow.lang_pred == "de"


def test_cosine_topk_and_lsh(spark, sf_med):
    emb = spark.read.parquet(f"{sf_med}/embeddings.parquet").cache()
    queries = (emb.filter(F.col("vec_id") < 3)
               .select(F.col("vec_id").alias("q_id"),
                       F.col("embedding").alias("q_vec")))
    exact = cosine_topk(emb, queries, k=5).toPandas()
    assert set(exact.groupby("q_id").size()) == {5}
    # self-match is rank 1 with cosine 1.0
    self_rows = exact[exact.q_id == exact.vec_id]
    assert (self_rows["rank"] == 1).all()
    assert (self_rows.cosine == 1.0).all()

    approx = lsh_cosine_topk(emb, queries, k=5, dim=64).toPandas()
    # approximate top-1 should equal exact top-1 (self vector in own bucket)
    for qid in (0, 1, 2):
        a1 = approx[(approx.q_id == qid) & (approx["rank"] == 1)].vec_id.iloc[0]
        e1 = exact[(exact.q_id == qid) & (exact["rank"] == 1)].vec_id.iloc[0]
        assert a1 == e1


def test_text_stats_and_quality(spark, sf_med):
    from geohash_dotnet_spark.operators import with_quality, with_token_stats

    docs = spark.read.parquet(f"{sf_med}/documents.parquet")
    out = with_quality(with_token_stats(docs)).limit(50).toPandas()
    assert (out.n_tokens > 0).all()
    assert ((out.quality_score >= 0) & (out.quality_score <= 1)).all()
    assert set(out.lang_pred) <= {"en", "de", "es", "fr", "und"}


def test_multimodal_real_decode_roundtrip(spark, sf_small):
    """Generator builds real BMP/WAV bytes; the decoder must recover the
    exact per-channel means / amplitude stats by parsing those bytes."""
    from geohash_dotnet_spark.operators import extract_features, synthetic_media
    from geohash_dotnet_spark.operators.multimodal import _decode_real

    pg = pages(spark, sf_small).limit(40)
    media = synthetic_media(pg)
    feats = extract_features(media, decoder="real").toPandas()
    assert len(feats) == 40
    kinds = set(feats.media_type)
    assert "image" in kinds  # hash mix produces mostly images
    for row in feats.itertuples(index=False):
        want = _decode_real(row.payload, row.media_type)
        assert np.array_equal(np.array(row.features), want)
        if row.media_type == "image":
            assert len(row.features) == 3
            assert all(0 <= v <= 255 for v in row.features)
            assert row.width % 4 == 0 and row.height > 0
        else:
            assert len(row.features) == 2
            assert row.duration_s > 0

    # fake (container-agnostic histogram) path still available
    fk = extract_features(media, decoder="fake").toPandas()
    assert all(len(f) == 32 for f in fk.features)
    assert all(abs(sum(f) - 1.0) < 1e-3 for f in fk.features)

    # corrupt payload raises cleanly
    import pytest as _pytest
    with _pytest.raises(ValueError):
        _decode_real(b"NOTACONTAINERATALL", "image")


def test_multimodal_decoder_parses_foreign_bytes():
    """The decoder must work on containers we did not generate: build a
    BMP with padding (width not divisible by 4) and a WAV by hand."""
    import struct

    from geohash_dotnet_spark.operators.multimodal import _decode_real

    w, h = 3, 2  # stride 12 with 3 bytes padding per row
    stride = ((3 * w + 3) // 4) * 4
    px = bytearray()
    vals = list(range(3 * w))
    for _ in range(h):
        px += bytes(vals) + b"\x00" * (stride - 3 * w)
    payload = (struct.pack("<2sIHHI", b"BM", 54 + len(px), 0, 0, 54)
               + struct.pack("<IiiHHIIiiII", 40, w, h, 1, 24, 0, len(px),
                             2835, 2835, 0, 0) + bytes(px))
    f = _decode_real(bytes(payload), "image")
    assert np.allclose(f, [np.mean([0, 3, 6]), np.mean([1, 4, 7]),
                           np.mean([2, 5, 8])])

    sr, samples = 8000, [0, 100, -100, 32767, -32768]
    data = struct.pack(f"<{len(samples)}h", *samples)
    wav = (b"RIFF" + struct.pack("<I", 36 + len(data)) + b"WAVE"
           + b"fmt " + struct.pack("<IHHIIHH", 16, 1, 1, sr, sr * 2, 2, 16)
           + b"data" + struct.pack("<I", len(data)) + data)
    f2 = _decode_real(wav, "audio")
    s = np.array(samples, dtype=np.float64)
    assert np.allclose(f2, [s.mean(), np.sqrt((s * s).mean())])


def test_ivf_topk_quality(spark, sf_med):
    """IVF probe path: self-match is always recalled (a vector shares its
    own inverted list), and recall@5 vs exact top-k is reasonable with
    nprobe=4 of 16 lists."""
    from geohash_dotnet_spark.operators.similarity import ivf_cosine_topk

    emb = spark.read.parquet(f"{sf_med}/embeddings.parquet").cache()
    queries = (emb.filter(F.col("vec_id") < 3)
               .select(F.col("vec_id").alias("q_id"),
                       F.col("embedding").alias("q_vec")))
    approx = ivf_cosine_topk(emb, queries, k=5).toPandas()
    exact = cosine_topk(emb, queries, k=5).toPandas()
    for qid in (0, 1, 2):
        a = approx[approx.q_id == qid]
        assert a[a["rank"] == 1].vec_id.iloc[0] == qid  # self-match
        e_ids = set(exact[exact.q_id == qid].vec_id)
        recall = len(set(a.vec_id) & e_ids) / len(e_ids)
        assert recall >= 0.4, (qid, recall)


def test_cosine_near_pairs_finds_planted_dups(spark):
    """Plant 20 near-duplicate vector pairs (cosine ~0.999); the banded
    SRP self-join must recall nearly all of them, and the exact verify
    guarantees no pair below the threshold ever escapes."""
    from geohash_dotnet_spark.operators import cosine_near_pairs

    rng = np.random.default_rng(5)
    base = rng.standard_normal((20, 64))
    dup = base + 0.02 * rng.standard_normal((20, 64))
    vecs = np.vstack([base, dup])
    df = spark.createDataFrame(
        [(i, [float(x) for x in v]) for i, v in enumerate(vecs)],
        "vec_id long, embedding array<float>")
    got = {(r.id_a, r.id_b): r.cosine
           for r in cosine_near_pairs(df, threshold=0.9).collect()}
    planted = {(i, i + 20) for i in range(20)}
    assert all(c >= 0.9 for c in got.values())
    found = planted & set(got)
    assert len(found) >= 17, f"recall too low: {len(found)}/20"
    # verified subset of brute force: no fabricated pairs
    n = vecs / np.linalg.norm(vecs, axis=1, keepdims=True)
    sims = n @ n.T
    for (ia, ib) in got:
        assert sims[ia, ib] >= 0.9 - 1e-6


def test_srp_signature_vectorized_twin(spark, sf_med):
    """signature_col_vec (Arrow matmul path) must produce bit-identical
    signatures to the native per-plane expression."""
    from geohash_dotnet_spark.operators import signature_col, signature_col_vec

    emb = spark.read.parquet(f"{sf_med}/embeddings.parquet").limit(500)
    both = (emb.withColumn("s_native", signature_col("embedding", 64, 12))
            .withColumn("s_vec", signature_col_vec("embedding", 64, 12)))
    diff = both.filter(F.col("s_native") != F.col("s_vec")).count()
    assert diff == 0


def test_cells_to_wkt_roundtrip(spark):
    """raster->vector->raster: covering a cell's own WKT box at the same
    precision with 'intersects' must include the cell (and its box
    corners land exactly on the grid)."""
    from geohash_dotnet_spark.operators import cells_to_wkt

    cells = ["u33", "dr5", "9q8", "s00", "zzz"]
    df = spark.createDataFrame([(c,) for c in cells], "cell string")
    rows = cells_to_wkt(df).collect()
    for r in rows:
        covered = set(cover_polygon(r["wkt"], 3, "contains"))
        assert r["cell"] in covered
        assert len(covered) == 1  # the box IS exactly one p3 cell


def test_text_byte_identical_through_spatial_path(spark, sf_small):
    """North-rule per-row invariant: the spatial path must never rewrite
    ``text`` — every joined row's text is byte-identical to its source
    document's text (projection-only carry-through)."""
    from geohash_dotnet_spark.operators import spatial_join, with_quality

    docs = spark.read.parquet(f"{sf_small}/documents.parquet") \
        .select("doc_id", F.col("text").alias("src_text"))
    pg = pages(spark, sf_small, replicate=3)
    cells = cover_polygon(
        "POLYGON((-85 -60, 85 -60, 85 60, -85 60, -85 -60))", 2, "intersects")
    cov = spark.createDataFrame([(c,) for c in cells], "cell string")
    out = with_quality(spatial_join(pg, cov, precision=2, how="left_semi"))

    cmp = out.join(docs, on="doc_id")
    n = cmp.count()
    assert n > 0
    # binary-level equality, not just string display equality
    same = cmp.filter(
        F.md5(F.encode("text", "utf-8")) == F.md5(F.encode("src_text", "utf-8")))
    assert same.count() == n


def test_ngram_max_df_bounds_hot_shingle(spark):
    """A universal shingle planted in every document must be dropped by
    max_df before the self-join (bounded candidates), with Jaccard
    recomputed over the capped shingle space — value-parity vs the
    capped DuckDB twin is exercised separately at sf scale."""
    import duckdb

    from geohash_dotnet_spark.operators.dedup import ngram_jaccard_sql

    # 40 docs, all sharing the universal prefix; two planted near-dups
    rows = [(i, "common shared header " + f"unique body {i} tail {i * 7}")
            for i in range(40)]
    rows[1] = (1, rows[0][1])  # exact dup of doc 0
    docs = spark.createDataFrame(rows, "doc_id long, text string")

    capped = ngram_jaccard_pairs(docs, threshold=0.3, max_df=0.25)
    got = sorted(map(tuple, capped.collect()))
    con = duckdb.connect()
    con.register("docs_pd", docs.toPandas())
    con.execute("CREATE VIEW documents AS SELECT * FROM docs_pd")
    exp = sorted(map(tuple, con.execute(
        ngram_jaccard_sql(threshold=0.3, max_df=0.25)).fetchall()))
    assert got == exp and (0, 1) in {(a, b) for a, b, *_ in got}

    # the universal 'common shared header' shingle is in all 40 docs >
    # 25% cap -> it feeds no candidates: docs with nothing else in
    # common must produce zero intersect rows
    uncapped_pairs = ngram_jaccard_pairs(docs, threshold=0.0).count()
    capped_pairs = ngram_jaccard_pairs(docs, threshold=0.0, max_df=0.25).count()
    assert uncapped_pairs == 40 * 39 // 2  # universal shingle: all pairs
    assert capped_pairs == 1  # only the planted exact dup survives


def test_simhash_degenerate_bucket_stays_linear(spark):
    """1k documents with identical (empty) text collapse to one distinct
    fingerprint: the bucket self-join must see ONE row for the group
    (linear candidates), while the output still contains every true
    hamming-0 pair (output-bounded expansion)."""
    from geohash_dotnet_spark.operators.dedup import (
        _simhash_fp_candidates, simhash_bits)

    n_empty = 1000
    rows = [(i, "") for i in range(n_empty)]
    rows += [(n_empty, "alpha beta gamma delta"),
             (n_empty + 1, "alpha beta gamma delta epsilon")]
    docs = spark.createDataFrame(rows, "doc_id long, text string")

    fps = simhash_bits(docs).select("simhash").distinct()
    n_fp = fps.count()
    assert n_fp <= 3  # 1k empties share one fingerprint
    cand = _simhash_fp_candidates(fps, max_hamming=3).count()
    # candidates over distinct fingerprints: at most C(n_fp, 2), never
    # quadratic in the 1k-document group
    assert cand <= n_fp * (n_fp - 1) // 2

    pairs = simhash_near_pairs(docs, max_hamming=3)
    got = {(r["id_a"], r["id_b"]) for r in pairs.collect()}
    # every empty-empty pair is a true hamming-0 result
    assert sum(1 for a, b in got if a < n_empty and b < n_empty) \
        == n_empty * (n_empty - 1) // 2
    release_dedup_cache()


def test_release_dedup_cache_unpins_storage(spark, sf_med):
    """After materializing minhash/simhash outputs, release_dedup_cache()
    must leave zero persistent RDDs (round-2 ADVICE: the shingle persist
    previously pinned executor storage until session shutdown)."""
    def persistent_ids():
        m = spark.sparkContext._jsc.getPersistentRDDs()
        return set(m.keySet().toArray())

    release_dedup_cache()  # drop anything earlier tests registered
    baseline = persistent_ids()
    docs = spark.read.parquet(f"{sf_med}/documents.parquet")
    minhash_lsh_pairs(docs, threshold=0.5).count()
    simhash_near_pairs(docs, max_hamming=3).count()
    assert len(persistent_ids() - baseline) >= 2
    released = release_dedup_cache()
    assert released >= 2
    assert persistent_ids() == baseline


def test_read_table_parquet_and_gated_formats(spark, sf_small):
    from geohash_dotnet_spark.sources.tables import read_table

    docs = read_table(spark, f"{sf_small}/documents.parquet")
    assert docs.count() > 0 and "doc_id" in docs.columns

    with pytest.raises(ValueError, match="unsupported format"):
        read_table(spark, "x", fmt="avro-ish")
    # no iceberg runtime jar in this environment: the error must be the
    # actionable runtime-jar hint, not a raw ClassNotFoundException
    with pytest.raises(ValueError, match="runtime jar"):
        read_table(spark, f"{sf_small}/documents.parquet", fmt="iceberg")
    # catalog identifier without a configured catalog: actionable hint too
    with pytest.raises(ValueError, match="configured iceberg catalog"):
        read_table(spark, "cat.db.pages", fmt="iceberg")


# ---------------------------------------------------------------------------
# connected components + latest snapshot (round 3)
# ---------------------------------------------------------------------------

def test_connected_components_chain_and_islands(spark):
    from geohash_dotnet_spark.operators import (
        connected_components, release_dedup_cache)

    # a 10-node path (worst-case diameter for its size: exercises pointer
    # jumping), a triangle, a 2-cycle duplicate edge, reversed-order ids
    edges = [(i, i + 1) for i in range(1, 10)]
    edges += [(100, 101), (101, 102), (102, 100), (200, 201), (201, 200),
              (301, 300)]
    pairs = spark.createDataFrame(edges, "id_a long, id_b long")
    out = connected_components(pairs).orderBy("id").collect()
    lbl = {r.id: r.cluster_id for r in out}
    size = {r.id: r.n_members for r in out}
    assert all(lbl[i] == 1 for i in range(1, 11))
    assert all(size[i] == 10 for i in range(1, 11))
    assert lbl[100] == lbl[101] == lbl[102] == 100 and size[100] == 3
    assert lbl[200] == lbl[201] == 200 and size[200] == 2
    assert lbl[300] == lbl[301] == 300
    assert release_dedup_cache() >= 1


def test_connected_components_empty_and_nonconvergence(spark):
    from geohash_dotnet_spark.operators import (
        connected_components, release_dedup_cache)

    empty = spark.createDataFrame([], "id_a long, id_b long")
    assert connected_components(empty).count() == 0
    # a 40-node path cannot converge in 1 round even with jumping
    path = spark.createDataFrame([(i, i + 1) for i in range(40)],
                                 "id_a long, id_b long")
    import pytest as _pt
    with _pt.raises(RuntimeError, match="did not converge"):
        connected_components(path, max_iter=1)
    release_dedup_cache()


def test_latest_snapshot_struct_max_matches_window(spark, sf_small):
    from pyspark.sql import Window

    from geohash_dotnet_spark.operators import latest_snapshot
    from geohash_dotnet_spark.sources.pages import pages

    p = pages(spark, sf_small, replicate=5)
    got = latest_snapshot(p).orderBy("doc_id").toPandas()
    w = Window.partitionBy("doc_id").orderBy(
        F.col("warc_ts").desc(), F.col("rep").desc())
    want = (p.withColumn("rn", F.row_number().over(w))
            .filter("rn = 1").select("doc_id", "warc_ts", "rep", "url")
            .orderBy("doc_id").toPandas())
    assert got.equals(want)


def test_sessionize_gap_semantics_and_plan(spark):
    from geohash_dotnet_spark.operators import sessionize

    rows = [
        # user 1: two sessions split by a 1801-s gap; sub-second jitter
        (1, "2024-01-01 00:00:00.100", 1, 1.0),
        (2, "2024-01-01 00:10:00.200", 1, 2.0),
        (3, "2024-01-01 00:40:00.300", 1, 4.0),   # 1800.1s gap -> new
        # user 2: exactly at the gap boundary stays in-session (> not >=)
        (4, "2024-01-01 00:00:00", 2, 1.5),
        (5, "2024-01-01 00:30:00", 2, 2.5),
    ]
    ev = spark.createDataFrame(
        rows, "event_id long, ts string, user_id long, value double") \
        .withColumn("ts", F.col("ts").cast("timestamp"))
    out = sessionize(ev, gap_s=1800).orderBy("user_id", "session_idx") \
        .collect()
    got = [(r.user_id, r.session_idx, r.n_events, r.sum_value)
           for r in out]
    assert got == [(1, 1, 2, 3.0), (1, 2, 1, 4.0), (2, 1, 2, 4.0)]

    # one user-keyed exchange total: the window and the aggregation reuse
    # the same hash partitioning
    plan = sessionize(ev, gap_s=1800)._jdf.queryExecution() \
        .executedPlan().toString()
    assert plan.count("Exchange hashpartitioning") == 1


def test_table_option_plumbing_and_catalog_conf(spark, sf_small, tmp_path):
    """Iceberg plumbing is unit-testable without the runtime jar: the
    catalog conf builder and time-travel option mapping are pure, and
    reader options demonstrably reach the DataSource (pathGlobFilter
    observable on parquet). Round-3 VERDICT item 9."""
    from geohash_dotnet_spark.sources.tables import (
        _iceberg_read_options, iceberg_catalog_conf, read_table,
        write_table)

    conf = iceberg_catalog_conf("ice", "/w")
    assert conf["spark.sql.catalog.ice"] == \
        "org.apache.iceberg.spark.SparkCatalog"
    assert conf["spark.sql.catalog.ice.type"] == "hadoop"
    assert conf["spark.sql.catalog.ice.warehouse"] == "/w"
    assert "spark.sql.catalog.r.warehouse" not in iceberg_catalog_conf(
        "r", impl="rest")

    assert _iceberg_read_options(snapshot_id=42) == {"snapshot-id": "42"}
    assert _iceberg_read_options(as_of_ms=1000) == {
        "as-of-timestamp": "1000"}
    with pytest.raises(ValueError, match="not both"):
        _iceberg_read_options(1, 2)

    # options reach the reader: a decoy non-parquet file breaks the scan
    # unless pathGlobFilter (passed through read_table) excludes it
    import shutil
    d = tmp_path / "tbl"
    d.mkdir()
    shutil.copy(f"{sf_small}/documents.parquet", d / "part-0.parquet")
    (d / "decoy.txt").write_text("not parquet")
    n = read_table(spark, str(d),
                   options={"pathGlobFilter": "*.parquet"}).count()
    assert n > 0


def test_write_table_v1_roundtrip_and_iceberg_gate(spark, sf_small,
                                                   tmp_path):
    from geohash_dotnet_spark.sources.tables import read_table, write_table

    df = read_table(spark, f"{sf_small}/documents.parquet")
    out = tmp_path / "out"
    write_table(df, str(out), mode="overwrite", partition_by=["lang"])
    back = read_table(spark, str(out))
    assert back.count() == df.count()
    # partitionBy produced lang=... directories (partition pruning works)
    assert any(p.name.startswith("lang=") for p in out.iterdir())
    with pytest.raises(ValueError, match="unsupported format"):
        write_table(df, str(out), fmt="csv-ish")
    # no iceberg runtime/catalog in this sandbox: actionable gate error
    with pytest.raises(ValueError,
                       match="runtime jar|configured iceberg"):
        write_table(df, "cat.db.pages", fmt="iceberg")


def test_quality_driver_key_exercises_slow_path(spark):
    """q_quality unions four >8190-byte documents into its input so the
    with_quality slow branch (per-language filter() instead of the
    packed-lane aggregate) sits under the driver value gate (round-3
    VERDICT item 8). Verify those rows exist and carry sane values."""
    import __spark_entry__ as E

    out = {r["doc_id"]: r.asDict()
           for r in E.queries()["quality"](spark,
                                           "/root/testdata/sf0.001").collect()}
    longs = {k: v for k, v in out.items() if k >= 1_000_000}
    assert set(longs) == {1_000_000, 1_000_001, 1_000_002, 1_000_003}
    # a replicated doc has the same stopword ratio as its source doc
    # (same token distribution), and the predicted language must agree
    for k, v in longs.items():
        src = out[k - 1_000_000]
        assert v["lang_pred"] == src["lang_pred"]
        assert abs(v["stopword_ratio"] - src["stopword_ratio"]) < 0.02


def _rects_df(spark, n=200, seed=7):
    rng = np.random.default_rng(seed)
    lat = rng.uniform(-70, 70, n)
    lon = rng.uniform(-170, 170, n)
    hh = rng.uniform(0.2, 3.0, n)
    hw = rng.uniform(0.2, 4.0, n)
    pdf = pd.DataFrame({
        "rect_id": np.arange(n, dtype=np.int64),
        "min_lat": lat - hh, "max_lat": lat + hh,
        "min_lon": lon - hw, "max_lon": lon + hw,
    })
    return spark.createDataFrame(pdf), pdf


def _brute_pairs(pdf):
    out = set()
    r = pdf.to_numpy()
    for i in range(len(r)):
        for j in range(i + 1, len(r)):
            a, b = r[i], r[j]
            if (a[1] <= b[2] and b[1] <= a[2]
                    and a[3] <= b[4] and b[3] <= a[4]):
                out.add((int(a[0]), int(b[0])))
    return out


def test_rect_overlap_join_matches_bruteforce(spark):
    from geohash_dotnet_spark.operators import rect_overlap_join
    df, pdf = _rects_df(spark)
    got = {(r["a_id"], r["b_id"])
           for r in rect_overlap_join(df, cell_deg=2.0).collect()}
    assert got == _brute_pairs(pdf)


def test_rect_overlap_join_exactly_once_across_many_cells(spark):
    """Two rects sharing dozens of grid cells still yield ONE pair row
    (reference-point dedup), at several cell sizes."""
    from geohash_dotnet_spark.operators import rect_overlap_join
    pdf = pd.DataFrame({
        "rect_id": [1, 2],
        "min_lat": [-10.0, -9.5], "max_lat": [10.0, 11.0],
        "min_lon": [-20.0, -19.0], "max_lon": [20.0, 25.0],
    })
    df = spark.createDataFrame(pdf)
    for cell in (0.5, 1.0, 5.0):
        rows = rect_overlap_join(df, cell_deg=cell).collect()
        assert [(r["a_id"], r["b_id"]) for r in rows] == [(1, 2)]


def test_rect_overlap_join_plan_one_equijoin_no_distinct(spark):
    """The 100 TB shape, pinned: candidates come from ONE (xi, yi)
    equi-join — no cartesian/nested-loop node and no deduplicating
    second shuffle anywhere in the plan."""
    from geohash_dotnet_spark.operators import rect_overlap_join
    df, _ = _rects_df(spark, n=8)
    plan = (rect_overlap_join(df, cell_deg=2.0)
            ._jdf.queryExecution().executedPlan().toString())
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "Distinct" not in plan and "distinct" not in plan


def test_rect_overlap_join_layout_independent(spark):
    from geohash_dotnet_spark.operators import rect_overlap_join
    df, _ = _rects_df(spark, n=120, seed=3)
    a = sorted(map(tuple, rect_overlap_join(df, 2.0).collect()))
    b = sorted(map(tuple,
                   rect_overlap_join(df.repartition(13), 2.0).collect()))
    assert a == b


def test_rect_overlap_join_validates_cell_deg(spark):
    """cell_deg <= 0 or non-finite would divide into inf/NaN inside
    F.sequence (confusing runtime error) or explode the grid — reject
    up front (ADVICE r4)."""
    import pytest

    from geohash_dotnet_spark.operators import rect_overlap_join
    df, _ = _rects_df(spark, n=4)
    for bad in (0.0, -1.0, float("nan"), float("inf")):
        with pytest.raises(ValueError, match="cell_deg"):
            rect_overlap_join(df, cell_deg=bad)


# ---------------------------------------------------------------------------
# containment_pairs (asymmetric near-dup: overlap coefficient)
# ---------------------------------------------------------------------------

def test_containment_catches_quote_inclusion_jaccard_misses(spark):
    """d1's whole text sits inside d2 (the quote-inclusion dup shape):
    containment = inter/min = 1.0 while Jaccard = 4/8 = 0.5 — a 0.8
    threshold keeps the pair under containment and drops it under
    Jaccard. contained_id names the smaller side."""
    from geohash_dotnet_spark.operators import containment_pairs

    docs = spark.createDataFrame(
        [(1, "a b c d e f"),
         (2, "a b c d e f g h i j"),
         (3, "p q r s t u v w")],
        "doc_id long, text string")
    out = containment_pairs(docs, threshold=0.8).collect()
    assert [(r["id_a"], r["id_b"], r["inter"], r["n_a"], r["n_b"],
             r["containment"], r["contained_id"]) for r in out] == \
        [(1, 2, 4, 4, 8, 1.0, 1)]
    jac = ngram_jaccard_pairs(docs, threshold=0.8).collect()
    assert jac == []  # resemblance dilutes the pair below threshold


def test_containment_matches_duckdb_twin_with_cap(spark):
    """Value parity with the DuckDB twin under the df-cap: the shingle
    every doc shares is dropped from the universe (numerator AND
    denominators) before pairing."""
    import duckdb

    from geohash_dotnet_spark.operators import containment_pairs
    from geohash_dotnet_spark.operators.dedup import containment_sql

    rows = [(i, f"hot common shingle unique{i} tail{i} end{i}")
            for i in range(4)]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    got = sorted(tuple(r) for r in
                 containment_pairs(docs, threshold=0.0,
                                   max_df=0.25).collect())
    con = duckdb.connect()
    con.register("documents", docs.toPandas())
    want = sorted(tuple(r) for r in con.sql(
        containment_sql(threshold=0.0, max_df=0.25)).fetchall())
    assert got == want
    # the ubiquitous "hot common shingle" (df=4 > cap=1) is gone, so no
    # pair can share a shingle at all
    assert got == []


def test_containment_contained_id_tie_prefers_id_a(spark):
    """Equal shingle counts (a doc and its exact permutation-free copy)
    tie-break contained_id to id_a."""
    from geohash_dotnet_spark.operators import containment_pairs

    docs = spark.createDataFrame(
        [(7, "x y z w"), (9, "x y z w")], "doc_id long, text string")
    [r] = containment_pairs(docs, threshold=0.9).collect()
    assert (r["id_a"], r["id_b"], r["contained_id"]) == (7, 9, 7)
    assert r["containment"] == 1.0


# ---------------------------------------------------------------------------
# cluster_canonical (survivor selection per near-dup cluster)
# ---------------------------------------------------------------------------

def test_cluster_canonical_picks_longest_then_smallest_id(spark):
    """Two planted clusters: {1,2,3} (2 is longest) and {10, 11}
    (equal length -> smallest id 10 wins). The unrelated doc emits no
    cluster row (singletons are excluded upstream by construction)."""
    from geohash_dotnet_spark.operators.dedup import (
        cluster_canonical, release_dedup_cache)

    base = "alpha beta gamma delta epsilon zeta eta theta"
    docs = spark.createDataFrame(
        [(1, base),
         (2, base + " iota"),          # longest member of cluster 1
         (3, base + " x"),             # near-dup, shorter than 2
         (10, "one two three four five six seven"),
         (11, "one two three four five six eight"),  # same length as 10
         (99, "totally unrelated content words here")],
        "doc_id long, text string")
    out = {r["cluster_id"]: (r["n_members"], r["canonical_id"],
                             r["canonical_chars"])
           for r in cluster_canonical(docs, threshold=0.4).collect()}
    release_dedup_cache()
    assert set(out) == {1, 10}
    assert out[1] == (3, 2, len(base + " iota"))
    n10, cid10, len10 = out[10]
    assert (n10, cid10) == (2, 10)  # tie on length -> smaller id


def test_cluster_canonical_no_window_no_sort_after_cc(spark):
    """The argmax is a partial-aggregable struct-min: the plan after
    the CC labels must contain no Window node and no Sort feeding it
    (the latest_snapshot discipline)."""
    from geohash_dotnet_spark.operators.dedup import (
        cluster_canonical, release_dedup_cache)

    docs = spark.createDataFrame(
        [(i, "shared common text body here word" + str(i % 2))
         for i in range(6)],
        "doc_id long, text string")
    plan = (cluster_canonical(docs, threshold=0.3)
            ._jdf.queryExecution().optimizedPlan().toString())
    release_dedup_cache()
    assert "Window" not in plan
