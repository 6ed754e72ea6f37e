"""Inverted-index construction + BM25 ranked retrieval over the corpus.

The search half of a webtext pipeline: ``build_postings`` turns the
corpus into sharded posting lists (the index-build batch job every
Lucene/Anserini-on-Spark deployment runs), and ``bm25_topk`` answers
ranked keyword queries against the raw corpus (the scoring semantics a
consumer of those postings implements).

Scale design:

* ``build_postings`` pays exactly ONE corpus exchange — a
  ``repartition(term)``. Everything downstream rides it: the per-doc
  term frequency aggregation groups by (term, id), the exact
  document-frequency window partitions by term, and the final posting
  aggregation groups by (term, shard) — all three are satisfied by
  hash-partitioning on ``term`` (group keys ⊇ partition key), so
  Catalyst inserts no further Exchange (plan-asserted in pytest).
* Stopword blowup is handled where it must be: the ``max_df`` cut
  filters BEFORE any posting list is materialized (the df window rides
  the same exchange), and ``n_shards`` bounds each emitted list to
  df/n_shards entries so no single task holds a mega-term's whole list.
* ``bm25_topk`` never shuffles the corpus on the term key at all: the
  (tiny, broadcast) query-term table semi-restricts the exploded pairs
  first, so every exchange after the scan carries only matching
  (doc, term) rows. Corpus-wide stats (N, total token mass) come from
  a separate aggregate-only stats pass — the two numbers a production
  index stores precomputed.

Cross-engine floats: per-(query, doc) scores are sums of per-term
contributions; float sums are addition-order dependent, so each
contribution is quantized to exact integer micro-units
(``exact.MICRO`` ticks, BIGINT) and SUMMED AS INTEGERS — order-free and
bit-identical in DuckDB. Ranks order by the integer score, so they are
deterministic too. The per-term contribution itself is one shared IEEE
expression tree; it contains ``ln`` (the BM25 idf), which is not
IEEE-correctly-rounded — a ≤1-ulp cross-engine wobble survives only if
it straddles a micro-unit floor boundary (~2^-46 per row; accepted and
documented, same trade the Mercator closed form declares).
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..functions.exact import MICRO
from .dedup import md5_60bit, md5_60bit_sql
from .text import _tokens

__all__ = [
    "build_postings",
    "build_postings_sql",
    "bm25_topk",
    "bm25_topk_sql",
    "phrase_match",
    "phrase_match_sql",
    "doc_keywords",
    "doc_keywords_sql",
    "geo_text_search",
    "geo_text_search_sql",
]

_TOKS_SQL = "string_split_regex(trim(lower({text})), '\\s+')"


def build_postings(df: DataFrame, id_col: str = "doc_id",
                   text: str = "text", n_shards: int = 16,
                   max_df: int | None = None) -> DataFrame:
    """Build sharded posting lists: one row per (term, shard) with the
    shard's docs as a sorted ``"id:tf,id:tf,..."`` string (strings, not
    array<struct>, so the value gate hashes identically cross-engine).

    Output: term, shard, df (exact term-level doc frequency), n_docs
    (this shard), tf_total (this shard), postings.

    ``max_df`` drops terms appearing in more than that many documents
    BEFORE lists are built (stopword elision — the only honest way to
    bound the worst posting at 10^10 docs); ``n_shards`` splits what
    remains so each output row is df/n_shards entries. A consumer
    unions a term's shards; exact df is already attached to each.
    """
    pairs = (df.select(F.col(id_col).cast("long").alias("id"),
                       F.explode(_tokens(F.col(text))).alias("term"))
             .repartition("term"))
    tf = pairs.groupBy("term", "id").agg(F.count(F.lit(1)).alias("tf"))
    tf = tf.withColumn(
        "df", F.count(F.lit(1)).over(Window.partitionBy("term")))
    if max_df is not None:
        tf = tf.filter(F.col("df") <= int(max_df))
    tf = tf.withColumn(
        "shard", F.pmod(md5_60bit(F.col("id").cast("string")),
                        F.lit(int(n_shards))).cast("long"))
    entry = lambda x: F.concat(x["id"].cast("string"), F.lit(":"),  # noqa: E731
                               x["tf"].cast("string"))
    return (tf.groupBy("term", "shard")
            .agg(F.max("df").alias("df"),
                 F.count(F.lit(1)).alias("n_docs"),
                 F.sum("tf").alias("tf_total"),
                 F.array_join(
                     F.transform(
                         F.sort_array(F.collect_list(
                             F.struct(F.col("id"), F.col("tf")))),
                         entry),
                     ",").alias("postings")))


def build_postings_sql(inner: str = "documents", id_col: str = "doc_id",
                       text: str = "text", n_shards: int = 16,
                       max_df: int | None = None) -> str:
    """DuckDB oracle twin of :func:`build_postings`."""
    toks = _TOKS_SQL.format(text=text)
    shard = f"{md5_60bit_sql('CAST(id AS VARCHAR)')} % {int(n_shards)}"
    df_cut = f"WHERE df <= {int(max_df)}" if max_df is not None else ""
    return f"""
WITH pairs AS (
  SELECT CAST({id_col} AS BIGINT) AS id, unnest({toks}) AS term
  FROM {inner}
), tf AS (
  SELECT term, id, count(*) AS tf FROM pairs GROUP BY term, id
), wd AS (
  SELECT term, id, tf, count(*) OVER (PARTITION BY term) AS df FROM tf
), sh AS (
  SELECT term, id, tf, df, {shard} AS shard FROM wd {df_cut}
)
SELECT term, shard, max(df) AS df, count(*) AS n_docs,
       CAST(sum(tf) AS BIGINT) AS tf_total,
       string_agg(CAST(id AS VARCHAR) || ':' || CAST(tf AS VARCHAR),
                  ',' ORDER BY id) AS postings
FROM sh GROUP BY term, shard
"""


# ---------------------------------------------------------------------------
# BM25 ranked retrieval
# ---------------------------------------------------------------------------

# One shared contribution tree (Robertson/Sparck-Jones idf as used by
# Lucene, k1/b saturation), written ONCE as a format string so the Spark
# and DuckDB sides cannot drift structurally. All literals use exponent
# notation: bare `0.5` parses as DECIMAL in BOTH engines (with
# different decimal arithmetic rules); `0.5e0` is a DOUBLE in both.
_CONTRIB = ("ln((({N} - df + 0.5e0) / (df + 0.5e0)) + 1.0e0) * "
            "((tf * ({k1} + 1.0e0)) / "
            "(tf + {k1} * (1.0e0 - {b} + {b} * (dl / {avgdl}))))")


def _dbl(x: float) -> str:
    """A literal that is the exact double ``x`` in both engines."""
    return f"CAST({float(x)!r} AS DOUBLE)"


def bm25_topk(df: DataFrame, queries: dict, k: int = 10,
              k1: float = 1.2, b: float = 0.75, id_col: str = "doc_id",
              text: str = "text") -> DataFrame:
    """Top-k docs per keyword query under BM25.

    ``queries``: {qid: "query string"} — tokenized with the shared
    corpus tokenizer. Output: qid, rank (1-based, by score desc then
    doc id — computed on the INTEGER micro-unit score so it is
    deterministic), doc id, score (micro-unit-exact double).

    The corpus is scanned twice — once for the two global stats (doc
    count, total token mass → avgdl) that a real index keeps
    precomputed, once for matching — and is never shuffled on the term
    key: query terms broadcast-restrict the exploded pairs first.
    """
    qterms = sorted({(str(qid), t)
                     for qid, qs in queries.items()
                     for t in str(qs).lower().split()})
    stats = df.select(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.size(_tokens(F.col(text)))).alias("mass")).collect()[0]
    n_docs, avgdl = int(stats["n"]), float(stats["mass"]) / float(stats["n"])

    toks = _tokens(F.col(text))
    pairs = df.select(F.col(id_col).cast("long").alias("id"),
                      F.size(toks).cast("long").alias("dl"),
                      F.explode(toks).alias("term"))
    terms = sorted({t for _, t in qterms})
    matched = pairs.filter(F.col("term").isin(terms))
    tf = (matched.groupBy("term", "id", "dl")
          .agg(F.count(F.lit(1)).alias("tf"))
          .withColumn("df", F.count(F.lit(1))
                      .over(Window.partitionBy("term"))))

    contrib = F.expr(_CONTRIB.format(
        N=f"CAST({n_docs} AS DOUBLE)", k1=_dbl(k1), b=_dbl(b),
        avgdl=_dbl(avgdl)))
    scored = tf.withColumn("c_u", MICRO.ticks(contrib))

    spark = df.sparkSession
    qdf = F.broadcast(spark.createDataFrame(qterms, "qid string, term string"))
    per_doc = (scored.join(qdf, "term")
               .groupBy("qid", "id")
               .agg(F.sum("c_u").alias("s_u")))
    w = Window.partitionBy("qid").orderBy(F.col("s_u").desc(),
                                          F.col("id").asc())
    return (per_doc.withColumn("rank", F.row_number().over(w).cast("long"))
            .filter(F.col("rank") <= int(k))
            .select("qid", "rank", F.col("id").alias(id_col),
                    MICRO.real(F.col("s_u")).alias("score")))


def bm25_topk_sql(queries: dict, inner: str = "documents", k: int = 10,
                  k1: float = 1.2, b: float = 0.75,
                  id_col: str = "doc_id", text: str = "text") -> str:
    """DuckDB oracle twin of :func:`bm25_topk` — same contribution
    tree, same integer micro-unit sum, same integer-ordered ranks; the
    global stats are computed in SQL from the same exact integers, so
    ``avgdl`` is the identical IEEE quotient."""
    toks = _TOKS_SQL.format(text=text)
    qvals = ", ".join(
        "('" + str(qid) + "', '" + t + "')"
        for qid, qs in sorted(queries.items(), key=lambda kv: str(kv[0]))
        for t in sorted(set(str(qs).lower().split())))
    contrib = _CONTRIB.format(
        N="CAST((SELECT n FROM stats) AS DOUBLE)", k1=_dbl(k1),
        b=_dbl(b),
        avgdl="(CAST((SELECT mass FROM stats) AS DOUBLE) / "
              "CAST((SELECT n FROM stats) AS DOUBLE))")
    return f"""
WITH stats AS (
  SELECT count(*) AS n,
         CAST(sum(len({toks})) AS BIGINT) AS mass
  FROM {inner}
), q(qid, term) AS (VALUES {qvals}),
pairs AS (
  SELECT CAST({id_col} AS BIGINT) AS id,
         CAST(len({toks}) AS BIGINT) AS dl,
         unnest({toks}) AS term
  FROM {inner}
), tf AS (
  SELECT term, id, dl, count(*) AS tf
  FROM pairs WHERE term IN (SELECT term FROM q)
  GROUP BY term, id, dl
), wd AS (
  SELECT term, id, dl, tf, count(*) OVER (PARTITION BY term) AS df
  FROM tf
), scored AS (
  SELECT q.qid, wd.id,
         {MICRO.ticks_sql(contrib)} AS c_u
  FROM wd JOIN q ON q.term = wd.term
), per_doc AS (
  SELECT qid, id, CAST(sum(c_u) AS BIGINT) AS s_u
  FROM scored GROUP BY qid, id
)
SELECT qid, CAST(row_number() OVER (
         PARTITION BY qid ORDER BY s_u DESC, id) AS BIGINT) AS rank,
       id AS {id_col}, {MICRO.real_sql('s_u')} AS score
FROM per_doc QUALIFY rank <= {int(k)}
"""


# ---------------------------------------------------------------------------
# Exact phrase matching
# ---------------------------------------------------------------------------

def phrase_match(df: DataFrame, phrase: str, id_col: str = "doc_id",
                 text: str = "text") -> DataFrame:
    """Exact token-phrase search: documents where the tokens of
    ``phrase`` occur consecutively; returns (id, n_occurrences,
    first_pos) with 1-based positions, overlapping occurrences counted
    ("a a a" contains "a a" twice).

    The positional-index semantics (Lucene PhraseQuery) expressed as a
    ZERO-SHUFFLE projection: the phrase is a query-side literal, so
    instead of building/joining positional postings (m−1 corpus-scale
    (id, pos) equi-joins), each document tests its own token array with
    a higher-order filter over candidate start positions — one corpus
    scan, no exchange anywhere before the result. The HOF predicate is
    interpreted, but the tree is m equalities per position and the
    first-token equality fails fast for almost all positions (the same
    interpreted-but-small call the quality projection documents).
    Position arithmetic is identical 1-based element_at in both
    engines.
    """
    terms = _phrase_terms(phrase)
    m = len(terms)
    cond = " AND ".join(
        f"element_at(toks, CAST(i + {k} AS INT)) = '{_esc_spark(t)}'"
        for k, t in enumerate(terms))
    positions = (f"CASE WHEN size(toks) < {m} THEN array() "
                 f"ELSE filter(sequence(1, size(toks) - {m} + 1), "
                 f"i -> {cond}) END")
    out = (df.select(F.col(id_col), _tokens(F.col(text)).alias("toks"))
           .select(id_col, F.expr(positions).alias("__pos"))
           .filter(F.size("__pos") > 0)
           .select(id_col,
                   F.size("__pos").cast("long").alias("n_occurrences"),
                   F.element_at("__pos", 1).cast("long").alias("first_pos")))
    return out


def _phrase_terms(phrase: str) -> list[str]:
    terms = [t for t in phrase.strip().lower().split() if t]
    if not terms:
        raise ValueError("phrase must contain at least one token")
    return terms


def _esc_spark(tok: str) -> str:
    """Escape a token for a Spark SQL single-quoted literal (backslash
    escaping) — corpus tokens are arbitrary text (apostrophes,
    backslashes), and an unescaped quote would corrupt the generated
    expression."""
    return tok.replace("\\", "\\\\").replace("'", "\\'")


def _esc_duck(tok: str) -> str:
    """Escape a token for a DuckDB single-quoted literal (doubled
    quote; backslash is literal in standard strings)."""
    return tok.replace("'", "''")


def phrase_match_sql(phrase: str, inner: str = "documents",
                     id_col: str = "doc_id", text: str = "text") -> str:
    """DuckDB oracle twin of :func:`phrase_match`."""
    terms = _phrase_terms(phrase)
    m = len(terms)
    toks = _TOKS_SQL.format(text=text)
    cond = " AND ".join(f"toks[i + {k}] = '{_esc_duck(t)}'"
                        for k, t in enumerate(terms))
    return f"""
WITH t AS (SELECT {id_col}, {toks} AS toks FROM {inner}),
p AS (
  SELECT {id_col},
         list_filter(range(1, len(toks) - {m} + 2), i -> {cond}) AS pos
  FROM t
)
SELECT {id_col}, CAST(len(pos) AS BIGINT) AS n_occurrences,
       CAST(pos[1] AS BIGINT) AS first_pos
FROM p WHERE len(pos) > 0
"""


# ---------------------------------------------------------------------------
# Per-document keywords (rarity-weighted top terms)
# ---------------------------------------------------------------------------

def doc_keywords(df: DataFrame, id_col: str = "doc_id",
                 text: str = "text", k: int = 3,
                 max_df: int | None = None) -> DataFrame:
    """Top-``k`` rarity-weighted terms per document -> (id, term, tf,
    dl, df, score, rank): the per-document dual of tile_terms'
    per-region profile — the tagging/labeling primitive of a corpus
    browser. The score is the in-document share over the term's
    document frequency,

        score = ((tf * 1e6) div dl) / df

    — tf-idf with the idf log dropped in favor of a raw 1/df rarity
    weight, which keeps the whole score inside exact-integer territory
    (one correctly-rounded IEEE division at the end; no ``ln`` ulp
    wobble crossing a quantization boundary, the trade bm25_topk has
    to document).

    Scale: the exploded pairs pay ONE term-keyed exchange (tf + the
    exact-df window ride it, same layout as build_postings); doc
    length and the rank window ride ONE doc-keyed exchange. ``max_df``
    cuts stopword terms before the doc-side shuffle. Rank breaks ties
    by (higher raw score, then term asc) — a total order.
    """
    pairs = (df.select(F.col(id_col).cast("long").alias("id"),
                       F.explode(_tokens(F.col(text))).alias("term"))
             .repartition("term"))
    tf = pairs.groupBy("term", "id").agg(F.count(F.lit(1)).alias("tf"))
    dl = tf.groupBy("id").agg(F.sum("tf").alias("dl"))
    wd = tf.withColumn(
        "df", F.count(F.lit(1)).over(Window.partitionBy("term")))
    if max_df is not None:
        wd = wd.filter(F.col("df") <= int(max_df))
    scored = (wd.join(dl, "id")
              .withColumn("__share_fp", F.expr("(tf * 1000000) div dl"))
              .withColumn("__score", F.col("__share_fp").cast("double")
                          / F.col("df").cast("double")))
    w = Window.partitionBy("id").orderBy(F.col("__score").desc(),
                                         F.col("term").asc())
    return (scored.withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= int(k))
            .select("id", "term", "tf", "dl", "df",
                    MICRO.round(F.col("__score")).alias("score"), "rank"))


def doc_keywords_sql(inner: str = "documents", id_col: str = "doc_id",
                     text: str = "text", k: int = 3,
                     max_df: int | None = None) -> str:
    """DuckDB oracle twin of :func:`doc_keywords`."""
    toks = _TOKS_SQL.format(text=text)
    df_cut = f"WHERE df <= {int(max_df)}" if max_df is not None else ""
    return f"""
WITH pairs AS (
  SELECT CAST({id_col} AS BIGINT) AS id, unnest({toks}) AS term
  FROM {inner}
), tf AS (
  SELECT term, id, count(*) AS tf FROM pairs GROUP BY term, id
), dl AS (
  SELECT id, CAST(sum(tf) AS BIGINT) AS dl FROM tf GROUP BY id
), wd AS (
  SELECT term, id, tf, count(*) OVER (PARTITION BY term) AS df FROM tf
), s AS (
  SELECT wd.id, term, tf, dl, df,
         (tf * 1000000) // dl AS share_fp
  FROM (SELECT * FROM wd {df_cut}) wd JOIN dl USING (id)
), r AS (
  SELECT *, CAST(share_fp AS DOUBLE) / CAST(df AS DOUBLE) AS score_raw,
         row_number() OVER (
           PARTITION BY id
           ORDER BY CAST(share_fp AS DOUBLE) / CAST(df AS DOUBLE) DESC,
                    term ASC) AS rank
  FROM s
)
SELECT id, term, tf, dl, df, {MICRO.round_sql('score_raw')} AS score, rank
FROM r WHERE rank <= {int(k)}
"""


# ---------------------------------------------------------------------------
# Geo-scoped keyword search (covering-index-backed bbox + term query)
# ---------------------------------------------------------------------------

def geo_text_search(df: DataFrame, term: str, min_lat: float,
                    max_lat: float, min_lon: float, max_lon: float,
                    k: int = 20, precision: int = 3, url: str = "url",
                    text: str = "text", lat: str = "lat",
                    lon: str = "lon") -> DataFrame:
    """"Pages in THIS viewport mentioning THIS word" -> (url, lat, lon,
    tf): the composed serving query of a geo web index. The bbox is
    first decomposed into its geohash covering (the same
    ``cover_polygon`` cells a tile index stores), applied as a
    broadcast LEFT SEMI join on the encoded cell — at scale this is
    the partition-pruning predicate against a cell-bucketed layout —
    then refined with the exact (closed) bbox test; term frequency is
    a native array filter; the global top-k is orderBy+limit, which
    Catalyst executes as TakeOrderedAndProject (per-partition heaps +
    driver merge — no single-partition window, no full sort).

    Why a semi join and not ``isin``: a pushed InSet predicate on the
    COMPUTED cell duplicates the whole geohash-encode expression tree
    into the filter, which at p>=2 blows janino's 64KB method limit
    and silently drops the stage to interpreted execution (measured;
    same mechanics as the Hilbert expression-blowup lesson in
    PLANS.md) — the semi join keeps the encode single and the stage
    inside whole-stage codegen.

    The DuckDB twin filters the bbox DIRECTLY with no covering
    anywhere, so the gate value-checks the covering decomposition
    itself (a dropped cell loses rows and mismatches). Bboxes crossing
    the antimeridian must be issued as two calls (validated), same
    contract as the corridor operators.
    """
    if not (min_lat <= max_lat and min_lon <= max_lon):
        raise ValueError("bbox must satisfy min_lat<=max_lat and "
                         "min_lon<=max_lon (split antimeridian queries "
                         "into two calls)")
    from ..kernels.polygon import cover_polygon
    from .spatial_join import spatial_join

    term = term.strip().lower()
    wkt = (f"POLYGON(({min_lon} {min_lat}, {max_lon} {min_lat}, "
           f"{max_lon} {max_lat}, {min_lon} {max_lat}, "
           f"{min_lon} {min_lat}))")
    cells = sorted(cover_polygon(wkt, precision, "intersects"))
    spark = df.sparkSession
    cov = spark.createDataFrame([(c,) for c in cells], "cell string")
    tagged = spatial_join(df, cov, precision, how="left_semi")
    tf = F.size(F.filter(_tokens(F.col(text)),
                         lambda t: t == F.lit(term))).cast("long")
    return (tagged
            .filter((F.col(lat) >= F.lit(float(min_lat)))
                    & (F.col(lat) <= F.lit(float(max_lat)))
                    & (F.col(lon) >= F.lit(float(min_lon)))
                    & (F.col(lon) <= F.lit(float(max_lon))))
            .withColumn("tf", tf)
            .filter(F.col("tf") > 0)
            .select(url, lat, lon, "tf")
            .orderBy(F.col("tf").desc(), F.col(url).asc())
            .limit(int(k)))


def geo_text_search_sql(inner: str, term: str, min_lat: float,
                        max_lat: float, min_lon: float, max_lon: float,
                        k: int = 20, url: str = "url", text: str = "text",
                        lat: str = "lat", lon: str = "lon") -> str:
    """INDEPENDENT DuckDB oracle of :func:`geo_text_search`: a direct
    bbox filter — no geohash covering, no cells — plus the same token
    filter and top-k rule."""
    term_sql = term.strip().lower().replace("'", "''")
    toks = _TOKS_SQL.format(text=text)
    return f"""
SELECT {url} AS url, {lat} AS lat, {lon} AS lon,
       CAST(len(list_filter({toks}, t -> t = '{term_sql}')) AS BIGINT) AS tf
FROM ({inner})
WHERE {lat} >= {float(min_lat)!r} AND {lat} <= {float(max_lat)!r}
  AND {lon} >= {float(min_lon)!r} AND {lon} <= {float(max_lon)!r}
  AND len(list_filter({toks}, t -> t = '{term_sql}')) > 0
ORDER BY tf DESC, url ASC LIMIT {int(k)}
"""
