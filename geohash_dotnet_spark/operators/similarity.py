"""Similarity search over an embedding column (array<float>).

* cosine_topk          — brute-force top-k per query: broadcast the (small)
                         query set, native higher-order-function dot
                         product (zip_with + aggregate, JVM-side), window
                         rank. The exactness baseline.
* lsh_cosine_topk      — sign-random-projection LSH: H deterministic
                         hyperplanes -> bit signature -> bucket join ->
                         exact rerank inside buckets (with multi-probe on
                         neighboring buckets). The 100TB scale path: the
                         big side is touched by one narrow projection +
                         bucket-key shuffle instead of a full cross join.

The hyperplane matrix is derived from a fixed seed — deterministic across
cluster sizes and runs.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..functions.exact import MICRO


def _dot(a, b):
    return F.aggregate(F.zip_with(a, b, lambda x, y: x * y),
                       F.lit(0.0), lambda acc, x: acc + x)


def _norm(a):
    return F.sqrt(F.aggregate(F.transform(a, lambda x: x * x),
                              F.lit(0.0), lambda acc, x: acc + x))


def _cosine_fp6(a_expr, b_expr):
    """fp6 cosine between two array expressions (each cast to double) —
    the one expression shape every cosine in this module uses, so the
    IEEE addition order (left-to-right aggregate) is identical across
    column/column, column/literal, and the DuckDB twins."""
    a = F.transform(a_expr, lambda x: x.cast("double"))
    b = F.transform(b_expr, lambda x: x.cast("double"))
    return MICRO.round(_dot(a, b) / (_norm(a) * _norm(b)))


def with_cosine(df: DataFrame, vec_a: str, vec_b: str,
                out: str = "cosine") -> DataFrame:
    """cosine(vec_a, vec_b) as a native column (arrays cast to double)."""
    return df.withColumn(out, _cosine_fp6(F.col(vec_a), F.col(vec_b)))


def cosine_topk(emb_df: DataFrame, queries_df: DataFrame, k: int,
                vec_col: str = "embedding", id_col: str = "vec_id",
                q_id: str = "q_id", q_vec: str = "q_vec") -> DataFrame:
    """Exact top-k by cosine for each query vector.

    queries_df: (q_id, q_vec array<float>) — small, broadcast. Returns
    (q_id, rank, vec_id, cosine).
    """
    joined = emb_df.crossJoin(F.broadcast(queries_df))
    scored = with_cosine(joined, vec_col, q_vec, "cosine")
    w = Window.partitionBy(q_id).orderBy(F.col("cosine").desc(),
                                         F.col(id_col).asc())
    return (scored.withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= k)
            .select(q_id, "rank", id_col, "cosine"))


def _hyperplanes(dim: int, n_planes: int) -> np.ndarray:
    rng = np.random.default_rng(20240202)
    return rng.standard_normal((n_planes, dim))


def signature_col(vec_col: str, dim: int, n_planes: int = 16):
    """Sign-random-projection signature as a native expression: bit b set
    iff dot(vec, plane_b) > 0. Hyperplanes folded in as literals — stays
    JVM-side (no UDF)."""
    planes = _hyperplanes(dim, n_planes)
    sig = F.lit(0).cast("long")
    v = F.transform(F.col(vec_col), lambda x: x.cast("double"))
    for b in range(n_planes):
        w = F.array(*[F.lit(float(x)) for x in planes[b]])
        dot = F.aggregate(F.zip_with(v, w, lambda x, y: x * y),
                          F.lit(0.0), lambda acc, x: acc + x)
        sig = sig + F.when(dot > 0, F.lit(1 << b)).otherwise(F.lit(0)).cast("long")
    return sig


def signature_col_vec(vec_col: str, dim: int, n_planes: int = 16):
    """Arrow-vectorized twin of ``signature_col``: one (batch x dim) @
    (dim x planes) matmul per Arrow batch instead of ``n_planes`` array
    traversals per row. Same hyperplanes, bit-identical signatures
    (verified in tests) — the preferred form when ``n_planes`` is large
    or the embedding table is the 100TB side."""
    from pyspark.sql.functions import pandas_udf

    planes_t = _hyperplanes(dim, n_planes).T  # (dim, n_planes)
    weights = (np.int64(1) << np.arange(n_planes, dtype=np.int64))

    @pandas_udf("long")
    def _sig(vecs: pd.Series) -> pd.Series:
        n = len(vecs)
        if n == 0:  # empty Arrow batch
            return pd.Series([], dtype=np.int64)
        # null / ragged rows degrade to signature 0 — exactly what the
        # native twin computes (null dot -> when() falls through to 0)
        out = np.zeros(n, dtype=np.int64)
        valid = [i for i, v in enumerate(vecs)
                 if v is not None and len(v) == planes_t.shape[0]]
        if valid:
            m = np.stack([np.asarray(vecs.iloc[i], dtype=np.float64)
                          for i in valid])
            # sequential accumulation over dim — the same left-to-right
            # IEEE addition order as the JVM aggregate(), so signs (and
            # therefore signatures) are bit-identical, unlike a BLAS
            # matmul whose pairwise summation can flip near-zero dots
            acc = np.zeros((m.shape[0], planes_t.shape[1]))
            for j in range(planes_t.shape[0]):
                acc += m[:, j, None] * planes_t[j][None, :]
            out[valid] = ((acc > 0) @ weights).astype(np.int64)
        return pd.Series(out)

    return _sig(vec_col)


def lsh_cosine_topk(emb_df: DataFrame, queries_df: DataFrame, k: int,
                    dim: int = 64, n_planes: int = 12, probe_bits: int = 1,
                    vec_col: str = "embedding", id_col: str = "vec_id",
                    q_id: str = "q_id", q_vec: str = "q_vec") -> DataFrame:
    """Approximate top-k: bucket join on the SRP signature with multi-probe
    (flip up to ``probe_bits`` bits of the query signature), exact cosine
    rerank inside the candidate set.

    The big (embeddings) side uses the Arrow-vectorized signature; the
    small query side the native expression — bit-identical by
    construction (tests/test_operators_spark.py), so buckets agree."""
    tagged = emb_df.withColumn("sig", signature_col_vec(vec_col, dim, n_planes))
    q = queries_df.withColumn("sig0", signature_col(q_vec, dim, n_planes))
    # multi-probe: query matches its own bucket + all 1-bit-flip buckets
    probes = [F.col("sig0")]
    if probe_bits >= 1:
        probes += [F.col("sig0").bitwiseXOR(F.lit(1 << b))
                   for b in range(n_planes)]
    q = q.withColumn("sig", F.explode(F.array(*probes)))
    cand = tagged.join(F.broadcast(q.select(q_id, q_vec, "sig")),
                       on="sig", how="inner")
    scored = with_cosine(cand, vec_col, q_vec, "cosine")
    w = Window.partitionBy(q_id).orderBy(F.col("cosine").desc(),
                                         F.col(id_col).asc())
    return (scored.withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= k)
            .select(q_id, "rank", id_col, "cosine"))


def ivf_cosine_topk(emb_df: DataFrame, queries_df: DataFrame, k: int,
                    n_centroids: int = 16, nprobe: int = 4,
                    vec_col: str = "embedding", id_col: str = "vec_id",
                    q_id: str = "q_id", q_vec: str = "q_vec") -> DataFrame:
    """IVF-style approximate top-k: coarse quantizer -> inverted lists ->
    probe the ``nprobe`` nearest lists -> exact rerank.

    The demo quantizer takes the ``n_centroids`` lowest-id vectors as
    centroids (deterministic and SQL-replayable; swap in offline k-means
    centroids in production — the dataflow is identical). Every corpus
    vector is assigned to its max-fp6-cosine centroid (ties -> lowest
    centroid id) in ONE shuffle-free projection: the centroids are a
    driver-side artifact (C rows — in production they come from offline
    k-means anyway), folded in as literal arrays, and the argmax is a
    native ``array_max`` over (cosine, -cid) structs — no N x C
    cross-join, no window, no Exchange (asserted in
    tests/test_plan_shapes.py::test_ivf_assignment_is_shuffle_free).
    Queries probe their ``nprobe`` best centroids (window over the tiny
    query table only); candidates rerank with the exact fp6 cosine.

    Scale shape: the corpus is touched by one narrow projection
    (assignment) plus one broadcast equi-join on the centroid id — no
    cross join or shuffle of the big side anywhere before the final
    output-bounded rank; inverted lists shrink the rerank to
    ~nprobe/n_centroids of the corpus. Deterministic end-to-end, so the
    DuckDB twin (ivf_cosine_topk_sql) replays it exactly.
    """
    cents = (emb_df.filter(F.col(id_col) < n_centroids)
             .select(F.col(id_col).alias("cid"),
                     F.col(vec_col).alias("c_vec")))
    # bounded collect: exactly n_centroids rows — the quantizer codebook
    cent_rows = sorted(cents.collect(), key=lambda r: r["cid"])
    tagged = _coarse_assign(emb_df, cent_rows, vec_col, id_col)

    def assign(df, key, vec, rank_limit, out):
        scored = with_cosine(df.crossJoin(F.broadcast(cents)), vec, "c_vec",
                             "c_cos")
        w = Window.partitionBy(key).orderBy(F.col("c_cos").desc(),
                                            F.col("cid").asc())
        return (scored.withColumn("__r", F.row_number().over(w))
                .filter(F.col("__r") <= rank_limit)
                .select(key, vec, F.col("cid").alias(out)))

    probes = assign(queries_df.select(q_id, q_vec), q_id, q_vec, nprobe, "cid")
    cand = tagged.join(F.broadcast(probes), on="cid", how="inner")
    scored = with_cosine(cand, vec_col, q_vec, "cosine")
    w = Window.partitionBy(q_id).orderBy(F.col("cosine").desc(),
                                         F.col(id_col).asc())
    return (scored.withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= k)
            .select(q_id, "rank", id_col, "cosine"))


def _coarse_assign(emb_df: DataFrame, cent_rows, vec_col: str,
                   id_col: str) -> DataFrame:
    """Shuffle-free coarse-quantizer assignment: the codebook (a bounded
    driver-side artifact) folds in as literal arrays; the argmax is a
    native ``array_max`` over (cosine, -cid) structs.

    Struct max picks highest cosine first, then highest -cid = lowest
    cid — the same tie rule as the window form and the SQL twin. A
    null cosine (null/ragged vector) sorts below any non-null struct,
    and the all-null case degrades to the lowest cid — also identical.
    """
    def _lit_vec(v):
        return F.array(*[F.lit(float(x)) for x in v])

    structs = [
        F.struct(
            _cosine_fp6(F.col(vec_col), _lit_vec(r["c_vec"])).alias("c"),
            F.lit(-int(r["cid"])).cast("long").alias("nc"))
        for r in cent_rows]
    return (emb_df.select(id_col, vec_col)
            .withColumn("cid", -F.array_max(F.array(*structs))["nc"]))


def _sub_bucketed(tagged: DataFrame, id_col: str,
                  max_cluster_size: int) -> DataFrame:
    """Cluster-size guard: split clusters above ``max_cluster_size``
    into ceil(|cluster| / max) sub-buckets keyed by a portable md5 hash
    of the id, bounding the expected self-join bucket to ``max``.

    The per-cid count table is bounded by n_centroids (a handful of
    rows) — THAT is broadcast-safe, unlike a doc-keyed aggregate.
    """
    from .dedup import md5_60bit
    counts = tagged.groupBy("cid").agg(F.count(F.lit(1)).alias("__cn"))
    n_sub = F.greatest(
        F.lit(1).cast("long"),
        F.ceil(F.col("__cn") / F.lit(float(max_cluster_size))).cast("long"))
    return (tagged.join(F.broadcast(counts), "cid")
            .withColumn("__nsub", n_sub)
            .withColumn("sub", F.pmod(md5_60bit(F.col(id_col).cast("string")),
                                      F.col("__nsub")))
            .drop("__cn", "__nsub"))


def _semantic_candidates(tagged: DataFrame, vec_col: str,
                         id_col: str) -> DataFrame:
    """(cid, sub)-bucketed candidate pairs with fp6 cosine, BEFORE the
    threshold filter — separated out so tests can assert the candidate
    count stays bounded on a degenerate all-one-cluster corpus."""
    a = tagged.select("cid", "sub", F.col(id_col).alias("id_a"),
                      F.col(vec_col).alias("va"))
    b = tagged.select("cid", "sub", F.col(id_col).alias("id_b"),
                      F.col(vec_col).alias("vb"))
    return (a.join(b, ["cid", "sub"])
            .filter(F.col("id_a") < F.col("id_b"))
            .withColumn("cosine", _cosine_fp6(F.col("va"), F.col("vb"))))


def semantic_dedup(emb_df: DataFrame, threshold: float = 0.95,
                   n_centroids: int = 16, vec_col: str = "embedding",
                   id_col: str = "vec_id",
                   max_cluster_size: int = 100_000) -> DataFrame:
    """SemDeDup-style semantic deduplication over embeddings.

    Coarse-cluster every vector with the shuffle-free literal-codebook
    assignment (same quantizer as ``ivf_cosine_topk``), then mark a
    vector a duplicate when its cluster holds a LOWER-id vector with
    fp6-cosine >= ``threshold``; emit (vec_id, cid, dup_of, cosine) for
    the duplicates (dup_of = the most-similar lower id; cosine ties
    resolve to the lowest id). Pairs straddling a
    cluster boundary are not compared — the documented recall trade of
    cluster-scoped semantic dedup; raise n_centroids for tighter
    clusters or lower it toward 1 for exact (quadratic) behavior.

    Cluster-size guard (round-3 VERDICT): a cluster above
    ``max_cluster_size`` is sub-bucketed by a portable md5 id-hash into
    ceil(size/max) shards before the self-join, so the pair stage is
    O(C * max²) worst case instead of quadratic in the corpus — the
    same admission-cap family as simhash's degenerate-bucket guard and
    ngram's max_df. Pairs straddling a sub-bucket are skipped (an
    explicit recall trade, identical in kind to the cluster-boundary
    trade above); the sub-bucket assignment is deterministic and
    replayed verbatim by the DuckDB twin, so the value gate still holds
    with the guard ACTIVE.

    Scale shape: assignment is a projection (zero Exchange); the only
    self-join is (cid, sub)-local with bounded expected bucket size,
    and the dup-selection aggregate reuses the same (id) key. No
    all-pairs join of the corpus anywhere.
    """
    cents = (emb_df.filter(F.col(id_col) < n_centroids)
             .select(F.col(id_col).alias("cid"),
                     F.col(vec_col).alias("c_vec")))
    cent_rows = sorted(cents.collect(), key=lambda r: r["cid"])
    tagged = _sub_bucketed(_coarse_assign(emb_df, cent_rows, vec_col, id_col),
                           id_col, max_cluster_size)
    pairs = (_semantic_candidates(tagged, vec_col, id_col)
             .filter(F.col("cosine") >= F.lit(threshold)))
    best = F.struct(F.col("cosine").alias("c"),
                    (-F.col("id_a")).cast("long").alias("na"))
    return (pairs.groupBy(F.col("id_b").alias(id_col), "cid")
            .agg(F.max(best).alias("__b"))
            .select(id_col, "cid",
                    (-F.col("__b.na")).alias("dup_of"),
                    F.col("__b.c").alias("cosine"))
            .orderBy(id_col))


def semantic_dedup_sql(threshold: float = 0.95, n_centroids: int = 16,
                       inner: str = "embeddings",
                       max_cluster_size: int = 100_000) -> str:
    """DuckDB oracle twin of semantic_dedup (assignment replay, the
    md5 sub-bucket guard replayed verbatim, exact (cid, sub)-local
    pairs + the same (cosine desc, id asc) dup_of rule)."""
    from .dedup import md5_60bit_sql
    cos_assign = _cosine_fp6_sql("e.embedding", "c.embedding")
    cos_pair = _cosine_fp6_sql("a.embedding", "b.embedding")
    sub_hash = md5_60bit_sql("CAST(a.vec_id AS VARCHAR)")
    return f"""
WITH cents AS (
  SELECT vec_id AS cid, embedding FROM {inner} WHERE vec_id < {n_centroids}
), assigned AS (
  SELECT vec_id, embedding, cid FROM (
    SELECT e.vec_id, e.embedding, c.cid,
           row_number() OVER (PARTITION BY e.vec_id
                              ORDER BY {cos_assign} DESC, c.cid ASC) AS r
    FROM {inner} e CROSS JOIN cents c
  ) WHERE r = 1
), sized AS (
  SELECT cid, GREATEST(CAST(1 AS BIGINT),
         CAST(ceil(count(*) * 1.0 / {max_cluster_size}) AS BIGINT)) AS nsub
  FROM assigned GROUP BY cid
), bucketed AS (
  SELECT a.vec_id, a.embedding, a.cid, ({sub_hash}) % s.nsub AS sub
  FROM assigned a JOIN sized s USING (cid)
), pairs AS (
  SELECT a.cid, a.vec_id AS id_a, b.vec_id AS id_b,
         {cos_pair} AS cosine
  FROM bucketed a JOIN bucketed b ON a.cid = b.cid AND a.sub = b.sub
  WHERE a.vec_id < b.vec_id
)
SELECT id_b AS vec_id, cid, id_a AS dup_of, cosine FROM (
  SELECT *, row_number() OVER (PARTITION BY id_b
                               ORDER BY cosine DESC, id_a ASC) AS r
  FROM pairs WHERE cosine >= {threshold}
) WHERE r = 1 ORDER BY vec_id
"""


def ivf_cosine_topk_sql(k: int, query_ids: list[int], n_centroids: int = 16,
                        nprobe: int = 4, inner: str = "embeddings") -> str:
    """DuckDB oracle of ivf_cosine_topk: replay quantizer assignment,
    probe selection, and rerank with the identical fp6 cosine and tie
    rules."""
    ids = ", ".join(str(i) for i in query_ids)
    cos_assign = _cosine_fp6_sql("e.embedding", "c.embedding")
    cos_q = _cosine_fp6_sql("q.embedding", "c.embedding")
    cos_rr = _cosine_fp6_sql("t.embedding", "p.q_vec")
    return f"""
WITH cents AS (
  SELECT vec_id AS cid, embedding FROM {inner} WHERE vec_id < {n_centroids}
), assigned AS (
  SELECT vec_id, embedding, cid FROM (
    SELECT e.vec_id, e.embedding, c.cid,
           row_number() OVER (PARTITION BY e.vec_id
                              ORDER BY {cos_assign} DESC, c.cid ASC) AS r
    FROM {inner} e CROSS JOIN cents c
  ) WHERE r = 1
), probes AS (
  SELECT q_id, q_vec, cid FROM (
    SELECT q.vec_id AS q_id, q.embedding AS q_vec, c.cid,
           row_number() OVER (PARTITION BY q.vec_id
                              ORDER BY {cos_q} DESC, c.cid ASC) AS r
    FROM {inner} q CROSS JOIN cents c WHERE q.vec_id IN ({ids})
  ) WHERE r <= {nprobe}
), cand AS (
  SELECT p.q_id, t.vec_id, {cos_rr} AS cosine
  FROM assigned t JOIN probes p USING (cid)
)
SELECT q_id, rank, vec_id, cosine FROM (
  SELECT *, row_number() OVER (PARTITION BY q_id
                               ORDER BY cosine DESC, vec_id ASC) AS rank
  FROM cand
) WHERE rank <= {k}
"""


def cosine_near_pairs(emb_df: DataFrame, threshold: float = 0.9,
                      dim: int = 64, n_planes: int = 16, bands: int = 4,
                      vec_col: str = "embedding",
                      id_col: str = "vec_id") -> DataFrame:
    """Embedding-cosine near-duplicate PAIRS (the dedup-flavored sibling
    of lsh_cosine_topk): banded SRP-LSH self-join + exact cosine verify.

    The signature's ``n_planes`` bits split into ``bands``; a pair is a
    candidate iff at least one whole band matches (for cosine>=0.9 the
    default 4x4-bit banding recalls ~95% of true pairs), then every
    candidate is exactly verified with the native fp6 cosine — no
    all-pairs cross join anywhere. Returns (id_a, id_b, cosine).

    Scale shape: the only self-join is on (band, band_value); at larger
    corpus sizes raise n_planes (wider signatures) and bits-per-band so
    buckets stay selective — recall/bucket-width trade like MinHash
    banding. Deterministic (seed-fixed hyperplanes), so the DuckDB twin
    (cosine_near_pairs_sql) replays the identical candidate set.
    """
    bits_per_band = n_planes // bands
    mask = F.lit((1 << bits_per_band) - 1).cast("long")
    tagged = emb_df.withColumn("sig", signature_col_vec(vec_col, dim, n_planes))
    band_vals = F.array(*[
        F.shiftright(F.col("sig"), b * bits_per_band).bitwiseAND(mask)
        for b in range(bands)])
    banded = tagged.select(F.col(id_col).alias("id"),
                           F.posexplode(band_vals).alias("band", "bv"))
    a = banded.alias("a")
    b = banded.alias("b")
    cand = (a.join(b, on=["band", "bv"])
            .filter(F.col("a.id") < F.col("b.id"))
            .select(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
            .distinct())
    ea = emb_df.select(F.col(id_col).alias("id_a"), F.col(vec_col).alias("va"))
    eb = emb_df.select(F.col(id_col).alias("id_b"), F.col(vec_col).alias("vb"))
    return (with_cosine(cand.join(ea, on="id_a").join(eb, on="id_b"),
                        "va", "vb", "cosine")
            .filter(F.col("cosine") >= threshold)
            .select("id_a", "id_b", "cosine"))


def cosine_near_pairs_sql(threshold: float, dim: int = 64, n_planes: int = 16,
                          bands: int = 4, inner: str = "embeddings") -> str:
    """DuckDB oracle of cosine_near_pairs: replay the seed-fixed
    signatures, the banded candidate join, and the exact verify."""
    bits_per_band = n_planes // bands
    mask = (1 << bits_per_band) - 1
    sig = _signature_sql("embedding", dim, n_planes)
    band_match = " OR ".join(
        f"((a.sig >> {b * bits_per_band}) & {mask}) = "
        f"((b.sig >> {b * bits_per_band}) & {mask})"
        for b in range(bands))
    cos = _cosine_fp6_sql("va", "vb")
    return f"""
WITH s AS (
  SELECT vec_id, embedding, {sig} AS sig FROM {inner}
), cand AS (
  SELECT a.vec_id AS id_a, b.vec_id AS id_b,
         a.embedding AS va, b.embedding AS vb
  FROM s a JOIN s b ON a.vec_id < b.vec_id AND ({band_match})
)
SELECT id_a, id_b, {cos} AS cosine FROM cand
WHERE {cos} >= {threshold} ORDER BY id_a, id_b
"""


def _cosine_fp6_sql(a: str, b: str) -> str:
    """6-dp fixed-point cosine between two list columns (DuckDB)."""
    return MICRO.round_sql(
        f"list_sum(list_transform(list_zip({a}, {b}), "
        f"p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE))) "
        f"/ (sqrt(list_sum(list_transform({a}, x -> CAST(x AS DOUBLE) * x))) "
        f"* sqrt(list_sum(list_transform({b}, x -> CAST(x AS DOUBLE) * x))))")


def _signature_sql(vec: str, dim: int, n_planes: int) -> str:
    """DuckDB twin of the SRP signature.

    The dot products are emitted as explicit left-associative chains
    (``v[1]*w1 + v[2]*w2 + ...``) so the IEEE addition order is identical
    to the Spark side's sequential aggregate/NumPy accumulation — the
    sign tests (and therefore the buckets) agree bit-for-bit.
    """
    planes = _hyperplanes(dim, n_planes)
    terms = []
    for b in range(n_planes):
        dot = " + ".join(f"CAST({vec}[{j + 1}] AS DOUBLE) * {planes[b][j]!r}"
                         for j in range(dim))
        terms.append(f"(CASE WHEN ({dot}) > 0 "
                     f"THEN CAST({1 << b} AS BIGINT) ELSE 0 END)")
    return "(" + " + ".join(terms) + ")"


def lsh_cosine_topk_sql(k: int, query_ids: list[int], dim: int = 64,
                        n_planes: int = 12,
                        inner: str = "embeddings") -> str:
    """Full DuckDB oracle of lsh_cosine_topk: replays the seed-fixed
    hyperplane signatures, the 1-bit multiprobe expansion, the bucket
    equi-join, and the exact fp6-cosine rerank — every stage of the
    approximate path, not just the end result."""
    ids = ", ".join(str(i) for i in query_ids)
    sig = _signature_sql("embedding", dim, n_planes)
    cos = _cosine_fp6_sql("e.embedding", "qp.q_vec")
    return f"""
WITH q0 AS (
  SELECT vec_id AS q_id, embedding AS q_vec, {sig} AS sig0
  FROM {inner} WHERE vec_id IN ({ids})
), qp AS (
  SELECT q_id, q_vec, sig0 AS sig FROM q0
  UNION ALL
  SELECT q_id, q_vec, xor(sig0, CAST(1 AS BIGINT) << b) AS sig
  FROM q0 CROSS JOIN (SELECT unnest(range({n_planes})) AS b)
), e AS (
  SELECT vec_id, embedding, {sig} AS sig FROM {inner}
), cand AS (
  SELECT qp.q_id, e.vec_id, {cos} AS cosine
  FROM e JOIN qp ON e.sig = qp.sig
)
SELECT q_id, rank, vec_id, cosine FROM (
  SELECT *, row_number() OVER (PARTITION BY q_id
                               ORDER BY cosine DESC, vec_id ASC) AS rank
  FROM cand
) WHERE rank <= {k}
"""


def cosine_topk_sql(k: int, query_ids: list[int],
                    inner: str = "embeddings") -> str:
    """DuckDB oracle twin of cosine_topk for queries drawn from the
    embeddings table itself by vec_id."""
    ids = ", ".join(str(i) for i in query_ids)
    return f"""
WITH q AS (
  SELECT vec_id AS q_id, embedding AS q_vec FROM {inner}
  WHERE vec_id IN ({ids})
), scored AS (
  SELECT q.q_id, e.vec_id,
         {_cosine_fp6_sql('e.embedding', 'q.q_vec')} AS cosine
  FROM {inner} e CROSS JOIN q
)
SELECT q_id, rank, vec_id, cosine FROM (
  SELECT *, row_number() OVER (PARTITION BY q_id
                               ORDER BY cosine DESC, vec_id ASC) AS rank
  FROM scored
) WHERE rank <= {k}
"""


# ---------------------------------------------------------------------------
# Product quantization (PQ) — compressed-domain ANN
# ---------------------------------------------------------------------------

def _sqdist_fp6i(a_expr, b_expr):
    """Squared L2 distance between two array expressions as exact
    integer micro-units (``exact.MICRO`` ticks, BIGINT) — the same
    one-shared-IEEE-tree + fixed-point discipline as _cosine_fp6, but
    integer-valued so per-subspace distances can be SUMMED order-free
    (float sums are addition-order dependent; integer sums are not)."""
    a = F.transform(a_expr, lambda x: x.cast("double"))
    b = F.transform(b_expr, lambda x: x.cast("double"))
    d = F.aggregate(F.zip_with(a, b, lambda x, y: (x - y) * (x - y)),
                    F.lit(0.0), lambda acc, x: acc + x)
    return MICRO.ticks(d)


def _pq_codebook(emb_df: DataFrame, n_sub: int, n_codes: int,
                 vec_col: str, id_col: str):
    """The deterministic demo codebook: the ``n_codes`` lowest-id
    vectors, each split into ``n_sub`` sub-vectors (swap in offline
    k-means sub-codebooks in production — the dataflow is identical;
    cf. ivf_cosine_topk's quantizer note). Returns
    (sub_dim, [[subvec lists] per centroid])."""
    cents = (emb_df.filter(F.col(id_col) < n_codes)
             .select(F.col(id_col).alias("cid"),
                     F.col(vec_col).alias("c_vec")))
    rows = sorted(cents.collect(), key=lambda r: r["cid"])  # bounded: n_codes
    if len(rows) < n_codes:
        raise ValueError(f"need {n_codes} codebook vectors, found {len(rows)}")
    dim = len(rows[0]["c_vec"])
    if dim % n_sub != 0:
        raise ValueError(f"dim {dim} not divisible by n_sub {n_sub}")
    sub_dim = dim // n_sub
    subs = [[list(r["c_vec"][m * sub_dim:(m + 1) * sub_dim])
             for m in range(n_sub)] for r in rows]
    return sub_dim, subs


def pq_encode(emb_df: DataFrame, n_sub: int = 4, n_codes: int = 16,
              vec_col: str = "embedding", id_col: str = "vec_id"
              ) -> DataFrame:
    """Product-quantization encoding: each vector compresses to
    ``n_sub`` sub-codebook ids -> (id_col, codes array<long>). With
    n_sub=4/n_codes=16 a 64-float embedding becomes 4 nibbles — the
    64x compression that lets a 10^12-vector index live in RAM.

    Shuffle-free by the _coarse_assign rule: the codebook is a bounded
    driver artifact folded in as literals; per-subspace assignment is
    a native array_min over (sqdist_fp6, cid) structs (lowest distance,
    tie -> lowest code) — a pure projection, zero Exchange
    (plan-asserted). Null/ragged vectors yield null distances and
    degrade to the lowest code, matching the SQL twin's NULLS LAST
    argmin ordering."""
    sub_dim, subs = _pq_codebook(emb_df, n_sub, n_codes, vec_col, id_col)

    def _lit_vec(v):
        return F.array(*[F.lit(float(x)) for x in v])

    codes = []
    for m in range(n_sub):
        sl = F.slice(F.col(vec_col), m * sub_dim + 1, sub_dim)
        structs = [F.struct(
            _sqdist_fp6i(sl, _lit_vec(subs[c][m])).alias("d"),
            F.lit(c).cast("long").alias("c")) for c in range(n_codes)]
        codes.append(F.array_min(F.array(*structs))["c"])
    return emb_df.select(id_col, F.array(*codes).alias("codes"))


def pq_topk(emb_df: DataFrame, queries_df: DataFrame, k: int,
            n_sub: int = 4, n_codes: int = 16,
            vec_col: str = "embedding", id_col: str = "vec_id",
            q_id: str = "q_id", q_vec: str = "q_vec") -> DataFrame:
    """Asymmetric-distance (ADC) top-k over PQ codes -> (q_id, rank,
    vec_id, adc_fp, adc): completes the ANN family (cosine_topk =
    exact, lsh/ivf = candidate pruning, pq = compressed-domain
    scoring). A corpus vector's approximate distance is the INTEGER
    SUM of n_sub micro-unit sub-distances between the query's
    sub-vectors and the vector's code centroids — order-free, so Spark
    and the DuckDB twin agree bit-for-bit. Rank ascends by
    (adc_fp, vec_id).

    Scale shape: encoding is a zero-Exchange projection run once and
    stored; the scoring join moves only (id, n_sub codes) — with the
    defaults 16x fewer bytes through the scan+shuffle than raw
    floats, which IS the PQ win. Queries broadcast, but each lookup
    table is an expression over the query column, re-evaluated per
    (corpus row, query) pair: ADC's compute win is not realized. The
    final per-query rank is the same output-bounded window as
    cosine_topk. Compose with ivf-style list
    pruning when even the code scan must shrink."""
    encoded = pq_encode(emb_df, n_sub, n_codes, vec_col, id_col)
    sub_dim, subs = _pq_codebook(emb_df, n_sub, n_codes, vec_col, id_col)

    def _lit_vec(v):
        return F.array(*[F.lit(float(x)) for x in v])

    joined = encoded.crossJoin(F.broadcast(
        queries_df.select(q_id, q_vec)))
    adc_fp = F.lit(0).cast("long")
    for m in range(n_sub):
        qs = F.slice(F.col(q_vec), m * sub_dim + 1, sub_dim)
        lut = F.array(*[_sqdist_fp6i(qs, _lit_vec(subs[c][m]))
                        for c in range(n_codes)])
        adc_fp = adc_fp + F.element_at(
            lut, F.element_at(F.col("codes"), m + 1).cast("int") + 1)
    scored = joined.withColumn("adc_fp", adc_fp)
    w = Window.partitionBy(q_id).orderBy(F.col("adc_fp").asc(),
                                         F.col(id_col).asc())
    return (scored.withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= k)
            .select(q_id, "rank", id_col, "adc_fp",
                    MICRO.real(F.col("adc_fp")).alias("adc")))


def _sqdist_fp6i_sql(a: str, b: str) -> str:
    """DuckDB twin of _sqdist_fp6i (list_sum matches the left fold,
    same contract as _cosine_fp6_sql)."""
    return MICRO.ticks_sql(
        f"list_sum(list_transform(list_zip({a}, {b}), "
        f"p -> (CAST(p[1] AS DOUBLE) - CAST(p[2] AS DOUBLE)) * "
        f"(CAST(p[1] AS DOUBLE) - CAST(p[2] AS DOUBLE))))")


def pq_topk_sql(k: int, query_ids: list[int], n_sub: int = 4,
                n_codes: int = 16, dim: int = 64,
                inner: str = "embeddings") -> str:
    """Full DuckDB oracle of pq_topk — an INDEPENDENT relational
    formulation: sub-distances come from a (vector x subspace x
    centroid) cross join with QUALIFY argmin (vs Spark's literal-folded
    array_min projection), the LUT is a real joined table (vs folded
    literals), and the ADC sum is a GROUP BY. Only the fp6-integer
    sub-distance expression is shared."""
    if dim % n_sub != 0:
        raise ValueError(f"dim {dim} not divisible by n_sub {n_sub}")
    sd = dim // n_sub
    ids = ", ".join(str(i) for i in query_ids)
    e_slice = f"list_slice(e.embedding, m.m * {sd} + 1, (m.m + 1) * {sd})"
    c_slice = f"list_slice(c.c_vec, m.m * {sd} + 1, (m.m + 1) * {sd})"
    q_slice = f"list_slice(q.q_vec, m.m * {sd} + 1, (m.m + 1) * {sd})"
    return f"""
WITH cents AS (
  SELECT vec_id AS cid, embedding AS c_vec FROM {inner}
  WHERE vec_id < {n_codes}
), m AS (SELECT unnest(range({n_sub})) AS m),
q AS (
  SELECT vec_id AS q_id, embedding AS q_vec FROM {inner}
  WHERE vec_id IN ({ids})
), codes AS (
  SELECT e.vec_id, m.m, c.cid,
         {_sqdist_fp6i_sql(e_slice, c_slice)} AS dfp
  FROM {inner} e CROSS JOIN m CROSS JOIN cents c
  QUALIFY row_number() OVER (PARTITION BY e.vec_id, m.m
                             ORDER BY dfp ASC NULLS LAST, cid ASC) = 1
), lut AS (
  SELECT q.q_id, m.m, c.cid,
         {_sqdist_fp6i_sql(q_slice, c_slice)} AS dfp
  FROM q CROSS JOIN m CROSS JOIN cents c
), adc AS (
  SELECT l.q_id, co.vec_id, CAST(sum(l.dfp) AS BIGINT) AS adc_fp
  FROM codes co JOIN lut l ON co.m = l.m AND co.cid = l.cid
  GROUP BY l.q_id, co.vec_id
)
SELECT q_id, rank, vec_id, adc_fp, {MICRO.real_sql('adc_fp')} AS adc
FROM (
  SELECT *, row_number() OVER (PARTITION BY q_id
                               ORDER BY adc_fp ASC, vec_id ASC) AS rank
  FROM adc
) WHERE rank <= {k}
"""
