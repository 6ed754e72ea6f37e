"""Bigram language-model perplexity scoring — the CCNet/RedPajama-style
"perplexity filter" quality signal for training-data curation.

Train an add-k-smoothed bigram LM on the corpus and score every
document's perplexity under it: low-ppl documents look like the corpus
(fluent prose), high-ppl documents are gibberish/boilerplate/wrong
language. This is the classic self-supervised quality gate (CCNet
scores against a held-out KenLM; the self-trained form here is the
same computation with train == score corpus, which is also how the
repetition-/boilerplate-heavy outliers are found).

Model: P(w2|w1) = (c(w1,w2) + k) / (c(w1,·) + k·V), V = the model's
vocabulary (distinct tokens across both bigram positions — derived
from the model itself so both engines compute the identical integer).

Scale shape: token bigrams are exploded in place (no shuffle), counted
into the model with one (w1,w2)-keyed exchange (map-side partial aggs
absorb the Zipf head), the vocab-sized context table joins the model
on w1 (model-sized, never corpus-sized), and scoring is one
bigram-keyed corpus join + one doc-keyed aggregation. Three
corpus-scale exchanges total; AQE's skew handling covers the stopword
bigram head on the scoring join.

Cross-engine floats: each bigram's log-probability is quantized ONCE
(in the model — ``exact.MICRO`` ticks of ln(p), BIGINT) and per-document
scores are INTEGER sums of those micro-units, so they are
addition-order independent and bit-identical in DuckDB. The final
perplexity exp(−logprob/n) is one shared IEEE tree over the integer
pair, fp6-gated (ln/exp carry the documented ≤1-ulp wobble; it
survives only by straddling a quantization boundary, ~2^-46/row).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.exact import MICRO
from .dedup import md5_60bit, md5_60bit_sql
from .index import _dbl
from .text import _tokens

__all__ = ["bigram_ppl", "bigram_ppl_sql", "collocations",
           "collocations_sql", "hashed_linear_score",
           "hashed_linear_score_sql", "score_calibration",
           "score_calibration_sql"]

_TOKS_SQL_TMPL = "string_split_regex(trim(lower({text})), '\\s+')"


def _bigrams(toks):
    n = F.size(toks)
    return F.arrays_zip(F.slice(toks, 1, n - 1).alias("w1"),
                        F.slice(toks, 2, n - 1).alias("w2"))


def bigram_ppl(df: DataFrame, id_col: str = "doc_id",
               text: str = "text", k: float = 0.5) -> DataFrame:
    """Per-document bigram-LM perplexity (self-trained, add-k).

    Output: id_col, n_bigrams, logprob (sum of per-bigram ln P,
    micro-unit exact), ppl (fp6). Documents with fewer than two tokens
    have no bigrams and are excluded.
    """
    toks = _tokens(F.col(text))
    bg = df.select(F.col(id_col).cast("long").alias("id"),
                   F.explode(_bigrams(toks)).alias("b")) \
        .select("id", F.col("b.w1").alias("w1"), F.col("b.w2").alias("w2"))

    c2 = bg.groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("c2"))
    c1 = c2.groupBy("w1").agg(F.sum("c2").alias("c1"))
    vocab = int(c2.select(F.col("w1").alias("w"))
                .union(c2.select(F.col("w2").alias("w")))
                .distinct().count())

    lp = F.log((F.col("c2") + F.expr(_dbl(k)))
               / (F.col("c1") + F.expr(_dbl(k)) * F.expr(_dbl(vocab))))
    model = (c2.join(c1, "w1")
             .select("w1", "w2",
                     MICRO.ticks(lp).alias("lp_u")))

    # Pre-aggregate to (doc, distinct bigram, count) BEFORE the model
    # join: the join then carries one row per distinct bigram per doc
    # instead of one per occurrence (repetitive documents — exactly the
    # ones a ppl filter exists to catch — collapse the most), and the
    # integer score is the exact weighted sum lp_u * cnt.
    bgc = bg.groupBy("id", "w1", "w2").agg(F.count(F.lit(1)).alias("cnt"))
    scored = (bgc.join(model, ["w1", "w2"])
              .groupBy("id")
              .agg(F.sum("cnt").alias("n_bigrams"),
                   F.sum(F.col("lp_u") * F.col("cnt")).alias("s_u")))
    logprob = MICRO.real(scored["s_u"])
    return scored.select(
        F.col("id").alias(id_col), "n_bigrams",
        logprob.alias("logprob"),
        MICRO.round(F.exp(-logprob / scored["n_bigrams"].cast("double")))
        .alias("ppl"))


def bigram_ppl_sql(inner: str = "documents", id_col: str = "doc_id",
                   text: str = "text", k: float = 0.5) -> str:
    """DuckDB oracle twin of :func:`bigram_ppl` — same model, same
    micro-unit quantization, same integer sums; V is computed in SQL
    from the same model table, so it is the identical integer."""
    toks = _TOKS_SQL_TMPL.format(text=text)
    kd = _dbl(k)
    return f"""
WITH docs AS (
  SELECT CAST({id_col} AS BIGINT) AS id, {toks} AS toks FROM {inner}
), pos AS (
  SELECT id, toks, unnest(range(1, len(toks))) AS i FROM docs
), bg AS (
  SELECT id, toks[i] AS w1, toks[i + 1] AS w2 FROM pos
), c2 AS (
  SELECT w1, w2, count(*) AS c2 FROM bg GROUP BY w1, w2
), c1 AS (
  SELECT w1, CAST(sum(c2) AS BIGINT) AS c1 FROM c2 GROUP BY w1
), vocab AS (
  SELECT CAST(count(*) AS BIGINT) AS v FROM (
    SELECT w1 AS w FROM c2 UNION SELECT w2 AS w FROM c2)
), model AS (
  SELECT c2.w1, c2.w2,
         {MICRO.ticks_sql(f"ln((c2.c2 + {kd}) / (c1.c1 + {kd} * "
                          f"CAST((SELECT v FROM vocab) AS DOUBLE)))")} AS lp_u
  FROM c2 JOIN c1 ON c1.w1 = c2.w1
), scored AS (
  SELECT bg.id, count(*) AS n_bigrams, CAST(sum(m.lp_u) AS BIGINT) AS s_u
  FROM bg JOIN model m ON m.w1 = bg.w1 AND m.w2 = bg.w2
  GROUP BY bg.id
)
SELECT id AS {id_col}, n_bigrams,
       {MICRO.real_sql('s_u')} AS logprob,
       {MICRO.round_sql(f"exp(-({MICRO.real_sql('s_u')}) "
                                "/ CAST(n_bigrams AS DOUBLE))")} AS ppl
FROM scored
"""


# ---------------------------------------------------------------------------
# PMI collocations
# ---------------------------------------------------------------------------

def collocations(df: DataFrame, k: int = 50, min_count: int = 5,
                 id_col: str = "doc_id", text: str = "text") -> DataFrame:
    """Top-k adjacent-pair collocations by pointwise mutual information
    — the classic phrase-mining signal (word2vec-style phrase joining,
    tokenizer-vocabulary curation).

    PMI(w1, w2) = ln( (c2/T) / ((cl/T) · (cr/T)) ) with c2 the bigram
    count, cl/cr the counts of w1 as a left element and w2 as a right
    element, and T the total bigram count — all exact integers, so the
    double is ONE shared IEEE tree cross-engine. Ranking orders by the
    fp6-quantized integer (desc, then w1, w2), so the k-boundary is
    deterministic; rare pairs below ``min_count`` are cut BEFORE the
    position-total joins (PMI is noise-maximal at c2=1).

    Scale: one corpus-scale bigram-count exchange; everything after is
    vocabulary-scale (the position totals join the filtered pair table
    on single-word keys), and the top-k is a TakeOrdered over the
    min_count-filtered pair table, never the corpus.
    """
    toks = _tokens(F.col(text))
    bg = df.select(F.explode(_bigrams(toks)).alias("b")) \
        .select(F.col("b.w1").alias("w1"), F.col("b.w2").alias("w2"))
    c2 = bg.groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("n"))
    t = int(c2.select(F.sum("n")).collect()[0][0] or 0)
    cl = c2.groupBy("w1").agg(F.sum("n").alias("cl"))
    cr = c2.groupBy("w2").agg(F.sum("n").alias("cr"))
    cand = (c2.filter(F.col("n") >= int(min_count))
            .join(cl, "w1").join(cr, "w2"))
    td = F.expr(_dbl(t))
    pmi = F.log((F.col("n") / td)
                / ((F.col("cl") / td) * (F.col("cr") / td)))
    return (cand.withColumn("__u", MICRO.ticks(pmi))
            .orderBy(F.col("__u").desc(), F.col("w1").asc(),
                     F.col("w2").asc())
            .limit(int(k))
            .select("w1", "w2", "n", MICRO.real(F.col("__u")).alias("pmi")))


def collocations_sql(inner: str = "documents", k: int = 50,
                     min_count: int = 5, id_col: str = "doc_id",
                     text: str = "text") -> str:
    """DuckDB oracle twin of :func:`collocations` — T is computed in
    SQL from the same integers, so the shared PMI tree sees the
    identical double."""
    toks = _TOKS_SQL_TMPL.format(text=text)
    td = "CAST((SELECT t FROM tot) AS DOUBLE)"
    pmi = (f"ln((n / {td}) / ((cl / {td}) * (cr / {td})))")
    return f"""
WITH docs AS (
  SELECT {toks} AS toks FROM {inner}
), pos AS (
  SELECT toks, unnest(range(1, len(toks))) AS i FROM docs
), bg AS (
  SELECT toks[i] AS w1, toks[i + 1] AS w2 FROM pos
), c2 AS (
  SELECT w1, w2, count(*) AS n FROM bg GROUP BY w1, w2
), tot AS (
  SELECT CAST(sum(n) AS BIGINT) AS t FROM c2
), cl AS (
  SELECT w1, CAST(sum(n) AS BIGINT) AS cl FROM c2 GROUP BY w1
), cr AS (
  SELECT w2, CAST(sum(n) AS BIGINT) AS cr FROM c2 GROUP BY w2
), cand AS (
  SELECT c2.w1, c2.w2, c2.n,
         {MICRO.ticks_sql(pmi)} AS u
  FROM c2 JOIN cl ON cl.w1 = c2.w1 JOIN cr ON cr.w2 = c2.w2
  WHERE c2.n >= {int(min_count)}
)
SELECT w1, w2, n, {MICRO.real_sql('u')} AS pmi
FROM cand ORDER BY u DESC, w1, w2 LIMIT {int(k)}
"""


# ---------------------------------------------------------------------------
# DSIR importance weights (hashed-ngram log-likelihood ratio)
# ---------------------------------------------------------------------------

def dsir_weights(corpus: DataFrame, target: DataFrame,
                 id_col: str = "doc_id", text: str = "text",
                 n_buckets: int = 4096, k: float = 0.5) -> DataFrame:
    """Data Selection via Importance Resampling weights (Xie et al.
    2023, DSIR): score every corpus document by the log-likelihood
    ratio of a TARGET unigram model vs the CORPUS model, both over
    hashed token features — the "select web data that looks like the
    target distribution" primitive of modern pretraining pipelines.
    The weights feed a hash-threshold sampler (stratified_sample) to
    realize the resampling step.

    Tokens hash into ``n_buckets`` portable-md5 buckets; each model is
    add-``k``-smoothed over buckets. The per-bucket llr
    ln p_t(b) - ln p_c(b) is quantized to integer micro-units ONCE, in
    the B-bounded model table (same discipline as bigram_ppl), so each
    document's score is an exact integer sum — addition-order
    independent, bit-identical cross-engine (ln's <=1-ulp wobble can
    only flip a micro-unit floor on a knife-edge boundary, same
    documented trade as bigram_ppl).

    Scale shape (100 TB): both model builds are bucket-keyed aggs whose
    map-side partials collapse every task to <= n_buckets rows; the
    model table (B rows) joins the (id, bucket, cnt) doc profile as a
    BROADCAST; the only corpus-scale exchanges are the (id, bucket)
    pre-aggregation and the final id-keyed sum. The target set is
    eval/benchmark-sized by definition.

    Output: (id_col, n_tokens, llr, avg_llr) — llr the exact
    micro-unit-backed double, avg_llr fp6-gated per-token score.
    """
    b_mod = F.lit(int(n_buckets)).cast("long")
    kd, bd = _dbl(k), _dbl(float(n_buckets))

    def buckets(df):
        toks = _tokens(F.col(text))
        return df.select(F.col(id_col).cast("long").alias("id"),
                         F.explode(toks).alias("w")) \
            .select("id", F.pmod(md5_60bit(F.col("w")), b_mod).alias("b"))

    def model_counts(df):
        return buckets(df).groupBy("b").agg(F.count(F.lit(1)).alias("c"))

    tc, cc = model_counts(target), model_counts(corpus)
    # full outer on bucket id: buckets unseen by one model still get
    # their smoothed mass (c = 0)
    m = (tc.withColumnRenamed("c", "tc")
         .join(cc.withColumnRenamed("c", "cc"), "b", "full_outer")
         .select("b", F.coalesce("tc", F.lit(0)).alias("tc"),
                 F.coalesce("cc", F.lit(0)).alias("cc")))
    tot = m.agg(F.sum("tc").alias("tt"), F.sum("cc").alias("ct"))
    lp_t = F.log((F.col("tc").cast("double") + F.expr(kd))
                 / (F.col("tt").cast("double") + F.expr(kd) * F.expr(bd)))
    lp_c = F.log((F.col("cc").cast("double") + F.expr(kd))
                 / (F.col("ct").cast("double") + F.expr(kd) * F.expr(bd)))
    model = (m.crossJoin(F.broadcast(tot))
             .select("b", MICRO.ticks(lp_t - lp_c).alias("llr_u")))

    prof = buckets(corpus).groupBy("id", "b").agg(
        F.count(F.lit(1)).alias("cnt"))
    scored = (prof.join(F.broadcast(model), "b")
              .groupBy("id")
              .agg(F.sum("cnt").alias("n_tokens"),
                   F.sum(F.col("llr_u") * F.col("cnt")).alias("s_u")))
    llr = MICRO.real(scored["s_u"])
    return scored.select(
        F.col("id").alias(id_col), "n_tokens", llr.alias("llr"),
        MICRO.round(llr / scored["n_tokens"].cast("double")).alias("avg_llr"))


def dsir_weights_sql(corpus_inner: str, target_inner: str,
                     id_col: str = "doc_id", text: str = "text",
                     n_buckets: int = 4096, k: float = 0.5) -> str:
    """DuckDB oracle twin of :func:`dsir_weights` — identical hashed
    buckets, smoothing, micro-unit quantization, and integer sums."""
    toks = _TOKS_SQL_TMPL.format(text=text)
    kd, bd = _dbl(k), _dbl(float(n_buckets))
    h = md5_60bit_sql("w")

    def buckets(inner):
        return (f"SELECT CAST({id_col} AS BIGINT) AS id, "
                f"({h}) % {n_buckets} AS b FROM ("
                f"SELECT {id_col}, unnest({toks}) AS w FROM ({inner})) u")

    return f"""
WITH tb AS ({buckets(target_inner)}), cb AS ({buckets(corpus_inner)}),
tc AS (SELECT b, count(*) AS tc FROM tb GROUP BY b),
cc AS (SELECT b, count(*) AS cc FROM cb GROUP BY b),
m AS (
  SELECT COALESCE(tc.b, cc.b) AS b, COALESCE(tc, 0) AS tc,
         COALESCE(cc, 0) AS cc
  FROM tc FULL OUTER JOIN cc ON tc.b = cc.b
), tot AS (
  SELECT CAST(sum(tc) AS BIGINT) AS tt, CAST(sum(cc) AS BIGINT) AS ct
  FROM m
), model AS (
  SELECT b, {MICRO.ticks_sql(
      f"ln((CAST(tc AS DOUBLE) + {kd}) / (CAST(tt AS DOUBLE) + {kd} * {bd}))"
      f" - ln((CAST(cc AS DOUBLE) + {kd}) / (CAST(ct AS DOUBLE) + {kd} * {bd}))"
  )} AS llr_u
  FROM m CROSS JOIN tot
), prof AS (
  SELECT id, b, count(*) AS cnt FROM cb GROUP BY id, b
), scored AS (
  SELECT id, CAST(sum(cnt) AS BIGINT) AS n_tokens,
         CAST(sum(llr_u * cnt) AS BIGINT) AS s_u
  FROM prof JOIN model ON prof.b = model.b GROUP BY id
)
SELECT id AS {id_col}, n_tokens,
       {MICRO.real_sql('s_u')} AS llr,
       {MICRO.round_sql(f"({MICRO.real_sql('s_u')}) "
                                "/ CAST(n_tokens AS DOUBLE)")} AS avg_llr
FROM scored
"""


# ---------------------------------------------------------------------------
# Hashed-n-gram linear classifier (fastText-architecture quality scorer)
# ---------------------------------------------------------------------------

def _hash_weight_milli(bucket_col):
    """Deterministic frozen weight for a feature bucket, in integer
    milli-units on [-1000, 1000]: Knuth multiplicative mix of the
    bucket id modulo 2001, shifted to be zero-centred.  A stand-in for
    trained coefficients with the same storage/compute shape (the
    bucket id -> weight lookup is what a trained model ships); pure
    integer arithmetic so both engines agree bit-for-bit."""
    return F.pmod(bucket_col * F.lit(2654435761), F.lit(2001)) - F.lit(1000)


def hashed_linear_score(df: DataFrame, id_col: str = "doc_id",
                        text: str = "text",
                        n_buckets: int = 1 << 20) -> DataFrame:
    """fastText-architecture document classifier: hash each token
    unigram and bigram into ``n_buckets`` buckets, average the buckets'
    weights, threshold at zero — the "model-based quality filter" stage
    of LLM data pipelines (fastText wiki-vs-crawl classifiers in GPT-3/
    LLaMA/RedPajama curation), with frozen deterministic weights
    standing in for trained ones (see _hash_weight_milli; the Spark
    plumbing — feature hashing, bucket lookup, exact aggregation — is
    identical either way, and training is out of scope for an engine).

    Exactness: weights are integer milli-units, per-document scores are
    exact BIGINT sums (addition-order independent on any layout), and
    the final logit is ONE shared IEEE division — bit-identical in the
    DuckDB twin (portable md5 bucket hashing, same integer mix).

    Scale shape (100 TB): features explode in place (no shuffle —
    unigram+bigram arrays are built per row inside the projection),
    weights are a pure expression of the bucket id (NO weight-table
    join at all — the "broadcast the model" step compiles into the
    instruction stream), and the only exchange is the final id-keyed
    aggregation whose map-side partials collapse each document to one
    row.  A trained model would replace the weight expression with a
    broadcast join against an n_buckets-row table — same plan shape.

    Output: (id_col, n_feats, logit, label) — logit the fp6-gated mean
    weight, label 1 when logit >= 0.
    """
    toks = _tokens(F.col(text))
    bigrams = F.zip_with(
        F.slice(toks, 1, F.size(toks) - 1),
        F.slice(toks, 2, F.size(toks) - 1),
        lambda a, b: F.concat(a, F.lit(" "), b))
    feats = F.concat(toks, bigrams)
    b_mod = F.lit(int(n_buckets)).cast("long")
    ex = df.select(F.col(id_col).cast("long").alias("id"),
                   F.explode(feats).alias("f"))
    w = _hash_weight_milli(F.pmod(md5_60bit(F.col("f")), b_mod))
    agg = (ex.groupBy("id")
           .agg(F.count(F.lit(1)).alias("n_feats"),
                F.sum(w).alias("s_milli")))
    logit = (F.col("s_milli").cast("double")
             / (F.col("n_feats").cast("double") * F.lit(1000.0)))
    return agg.select(
        F.col("id").alias(id_col), "n_feats", MICRO.round(logit).alias("logit"),
        F.when(logit >= 0.0, 1).otherwise(0).alias("label"))


def hashed_linear_score_sql(inner: str = "documents",
                            id_col: str = "doc_id", text: str = "text",
                            n_buckets: int = 1 << 20) -> str:
    """DuckDB oracle twin of :func:`hashed_linear_score`."""
    toks = _TOKS_SQL_TMPL.format(text=text)
    # unigrams ++ bigrams, built with explicit index lambdas (the
    # md5 hex->int helper uses its own guarded lambda variable)
    feats = (f"list_concat({toks}, list_transform("
             f"range(1, greatest(len({toks}) - 1, 0) + 1), "
             f"__bg -> array_to_string(list_slice({toks}, __bg, __bg + 1), ' ')))")
    bucket = f"(({md5_60bit_sql('f')}) % {n_buckets})"
    w = f"((({bucket} * 2654435761) % 2001 + 2001) % 2001 - 1000)"
    return f"""
WITH ex AS (
  SELECT CAST({id_col} AS BIGINT) AS id, unnest({feats}) AS f
  FROM {inner}
), sc AS (
  SELECT id, count(*) AS n_feats, CAST(sum({w}) AS BIGINT) AS s_milli
  FROM ex GROUP BY id
)
SELECT id AS {id_col}, n_feats,
       {MICRO.round_sql('CAST(s_milli AS DOUBLE) / (CAST(n_feats AS DOUBLE) * 1000.0)')}
         AS logit,
       CASE WHEN CAST(s_milli AS DOUBLE)
                 / (CAST(n_feats AS DOUBLE) * 1000.0) >= 0.0
            THEN 1 ELSE 0 END AS label
FROM sc
"""


def score_calibration(df: DataFrame, id_col: str = "doc_id",
                      text: str = "text", group: str = "source",
                      n_buckets: int = 1 << 20,
                      keep_frac: float = 0.5) -> DataFrame:
    """Per-group percentile calibration of the hashed-linear classifier
    score, WITHOUT a per-group corpus sort — the "calibrate the quality
    classifier per domain, then keep the top fraction of each domain"
    stage of curation pipelines (a raw threshold keeps 90% of one
    domain and 2% of another; calibrating per group makes the keep
    decision mean the same thing everywhere).

    cal(d) = (# docs in d's group with a strictly lower milli-logit
    bucket) / (group size) — the empirical CDF evaluated at bucket
    resolution (1e-3 logit).  keep = 1 when the group mass at or below
    d's bucket exceeds 1 - keep_frac: ties at the cut bucket keep
    together (a whole bucket is in or out), so the kept fraction is
    >= keep_frac, over it by at most one bucket's mass — the honest
    histogram-CDF semantics.

    Scale shape (100 TB): a naive percent_rank() per group is a
    per-group TOTAL SORT of the corpus — one giant domain becomes one
    task.  Instead the corpus collapses to a (group, bucket) histogram
    (<= |groups| * 2001 rows) in one exchange; the running-CDF windows
    ride that aggregated table only; and the per-doc calibration comes
    back via a (group, bucket)-keyed join that AQE broadcasts whenever
    the histogram fits (it always does at mixture-domain group
    cardinality).  Corpus-scale exchanges: the classifier's id-keyed
    aggregation, the group-column stitch (id-keyed), and the histogram
    aggregation — all key-partitioned, no global sort anywhere.

    Cross-engine determinism: buckets floor the fp6-gated logit at
    1e-3 (identical IEEE op sequence in the twin); cal is one IEEE
    division of exact BIGINTs, fp6-gated.

    Output: (id_col, group, logit, bucket, cal, keep int).
    """
    if not 0.0 < keep_frac <= 1.0:
        raise ValueError(f"keep_frac must be in (0, 1], got {keep_frac}")
    from pyspark.sql import Window

    sc = hashed_linear_score(df, id_col=id_col, text=text,
                             n_buckets=n_buckets)
    base = df.select(F.col(id_col), F.col(group))
    scored = (sc.join(base, id_col)
              .withColumn("bucket",
                          F.floor(F.col("logit") * F.lit(1000.0))
                          .cast("long")))
    hist = (scored.groupBy(group, "bucket")
            .agg(F.count(F.lit(1)).alias("__n")))
    wg = Window.partitionBy(group)
    wcum = (Window.partitionBy(group).orderBy("bucket")
            .rowsBetween(Window.unboundedPreceding, -1))
    cdf = (hist
           .withColumn("__below", F.coalesce(F.sum("__n").over(wcum),
                                             F.lit(0)))
           .withColumn("__tot", F.sum("__n").over(wg)))
    tot = F.col("__tot").cast("double")
    cal = MICRO.round(F.col("__below").cast("double") / tot)
    upto = (F.col("__below") + F.col("__n")).cast("double") / tot
    return (scored.join(cdf, [group, "bucket"])
            .withColumn("cal", cal)
            .withColumn("keep", F.when(upto > 1.0 - keep_frac, 1).otherwise(0))
            .select(id_col, group, "logit", "bucket", "cal", "keep"))


def score_calibration_sql(inner: str = "documents",
                          id_col: str = "doc_id", text: str = "text",
                          group: str = "source",
                          n_buckets: int = 1 << 20,
                          keep_frac: float = 0.5) -> str:
    """DuckDB oracle twin of :func:`score_calibration`."""
    score = hashed_linear_score_sql(inner=inner, id_col=id_col, text=text,
                                    n_buckets=n_buckets)
    cal = MICRO.round_sql("CAST(__below AS DOUBLE) / CAST(__tot AS DOUBLE)")
    return f"""
WITH score AS ({score}
), scored AS (
  SELECT s.{id_col}, d.{group}, s.logit,
         CAST(floor(s.logit * 1000.0) AS BIGINT) AS bucket
  FROM score s JOIN {inner} d USING ({id_col})
), hist AS (
  SELECT {group}, bucket, count(*) AS __n
  FROM scored GROUP BY 1, 2
), cdf AS (
  SELECT {group}, bucket, __n,
         coalesce(sum(__n) OVER (PARTITION BY {group} ORDER BY bucket
                  ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
           AS __below,
         sum(__n) OVER (PARTITION BY {group}) AS __tot
  FROM hist
)
SELECT s.{id_col}, s.{group}, s.logit, s.bucket, {cal} AS cal,
       CASE WHEN CAST(__below + __n AS DOUBLE) / CAST(__tot AS DOUBLE)
                 > {1.0 - keep_frac!r}e0 THEN 1 ELSE 0 END AS keep
FROM scored s JOIN cdf USING ({group}, bucket)
"""
