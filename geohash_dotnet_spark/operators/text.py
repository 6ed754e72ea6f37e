"""Text-analysis operators for training-data pipelines over the
``documents``/pages tables: token counting, quality scoring, language-ID
heuristic, and document fingerprinting.

Every operator is a native-expression DataFrame transform (JVM-side,
whole-stage codegen, no Python) with an exact DuckDB oracle twin
(the *_sql strings below) so the driver's correctness gate can verify
values, not just row counts.
"""

from __future__ import annotations

from functools import lru_cache

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.exact import MICRO
from ..functions.native import exprs, sql_name

STOPWORDS = {
    "en": ("the", "a", "and", "of", "to", "in", "is", "on", "for", "with"),
    "de": ("der", "die", "das", "und", "ist", "ein", "mit", "von", "zu", "auf"),
    "es": ("el", "la", "los", "y", "de", "que", "en", "un", "es", "con"),
    "fr": ("le", "la", "les", "et", "de", "un", "est", "en", "que", "pour"),
}


def _tokens(text_col):
    return F.split(F.trim(F.lower(text_col)), r"\s+")


# BPE-style pre-tokenizer approximation: alpha runs, digit runs, and each
# non-alnum symbol as its own token — the sub-word-ish unit count LLM
# pipelines budget by. Kept to a simple alternation so the Java (Spark)
# and RE2 (DuckDB) regex engines agree exactly.
BPE_TOKEN_RE = "[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]"


def with_token_stats(df: DataFrame, text: str = "text") -> DataFrame:
    """n_tokens (whitespace), n_bpe_tokens (BPE-ish regex units),
    n_chars_text, avg_token_len — native exprs."""
    toks = _tokens(F.col(text))
    return df.withColumns({
        "n_tokens": F.size(toks),
        "n_bpe_tokens": F.regexp_count(F.col(text), F.lit(BPE_TOKEN_RE)),
        "n_chars_text": F.length(F.col(text)),
        "avg_token_len": MICRO.round(
            (F.length(F.regexp_replace(F.col(text), r"\s+", ""))
             / F.greatest(F.size(toks), F.lit(1))).cast("double")),
    })


def token_stats_sql(inner: str = "documents", text: str = "text") -> str:
    toks = f"string_split_regex(trim(lower({text})), '\\s+')"
    stripped = f"regexp_replace({text}, '\\s+', '', 'g')"
    ratio = f"CAST(length({stripped}) AS DOUBLE) / greatest(len({toks}), 1)"
    bpe = f"len(regexp_extract_all({text}, '{BPE_TOKEN_RE}'))"
    return (
        f"SELECT *, len({toks}) AS n_tokens, "
        f"CAST({bpe} AS INT) AS n_bpe_tokens, "
        f"length({text}) AS n_chars_text, "
        f"{MICRO.round_sql(ratio)} AS avg_token_len "
        f"FROM {inner}"
    )


def with_quality(df: DataFrame, text: str = "text") -> DataFrame:
    """Stopword-ratio quality score + heuristic language ID.

    lang_pred = argmax over per-language stopword hit counts (n-gram-free
    heuristic suited to the synthetic corpus); quality_score combines
    length and stopword signals into [0, 1].

    Physical note: higher-order-function expressions are interpreted (not
    whole-stage codegen) and each *reference* to one re-evaluates it, so
    the naive formulation (one filter per language) tokenizes the text
    five times. Instead a single ``aggregate`` traversal packs the token
    count and all four per-language hit counts into bit fields of one
    64-bit accumulator (12-bit lanes per language at bits 0/12/24/36,
    token count at bits 48+). Per-token cost is two O(1) guards plus one
    hash-set membership test: a length bound (every stopword is short)
    and a single ``IN`` over the union of all stopwords — the union has
    > 10 distinct items so Catalyst's OptimizeIn rewrites it to an InSet
    hash lookup, unlike four per-language 10-item ``IN`` chains which
    stay linear scans. Only actual stopword hits pay the map lookup that
    resolves the packed per-language lane weights (a word appearing in
    several languages carries the sum of its lane bits). Measured 1.7x
    faster than four per-language ``IN`` chains at 5M rows, values
    bit-identical. Overflow safety (round-1 ADVICE): the packed path is
    taken only when ``octet_length(text) <= 8190`` — an O(1) byte-count
    test that bounds the token count (hence every lane) at 4095, making
    carries provably impossible; longer documents take an exact slow
    path (one ``filter`` traversal per language + a ``size`` recount)
    via per-row CASE, so values are identical at any document size — a
    giant document is slower, never wrong.

    Both stages (the packed accumulator, then the lane extracts and
    scores) are Spark SQL text rendered once per ``text`` column and
    handed to the JVM in one call each, like functions/native.py; built
    as ``Column`` calls the hit expressions, repeated inside the argmax,
    cost about two thousand py4j round trips per query.
    """
    packed, scores = _quality_stages(text)
    out = df.withColumn("__q_packed", F.expr(packed))
    return out.withColumns(exprs(scores)).drop("__q_packed")


@lru_cache(maxsize=64)
def _quality_stages(text: str) -> tuple:
    """Spark SQL text of with_quality's two stages for one text column:
    the packed accumulator, then (name, text) pairs of the scores."""
    langs = list(STOPWORDS)
    t = sql_name(text)
    toks = f"split(trim(lower({t})), '\\\\s+', -1)"
    lane_cap = (1 << 12) - 1  # 4095
    max_sw_len = max(len(w) for ws in STOPWORDS.values() for w in ws)

    def words(ws) -> str:
        return ", ".join(f"'{w}'" for w in ws)

    # word -> summed packed lane weight (words shared across languages get
    # the sum of their lanes, so per-language counts stay exact)
    weights: dict[str, int] = {}
    for i, lang in enumerate(langs):
        for w in STOPWORDS[lang]:
            weights[w] = weights.get(w, 0) + (1 << (12 * i))
    all_words = sorted(weights)
    weight_map = "map(" + ", ".join(
        f"'{w}', {weights[w]}L" for w in all_words) + ")"

    # token count in bits 48+; the length guard and the single union
    # InSet test let non-stopword tokens (the common case) skip the
    # lane-weight map lookup entirely. The lambda's (x, y) is (accumulator,
    # token), the names pyspark gives them, so EXPLAIN output reads the same.
    # Precedence, not parentheses, shapes the text (see functions/native.py).
    merge = (f"x + {1 << 48}L + CASE WHEN length(y) <= {max_sw_len} "
             f"AND y IN ({words(all_words)}) "
             f"THEN coalesce(try_element_at({weight_map}, y), 0L) ELSE 0L END")
    # <= 8190 bytes => <= 8190 chars => <= 4095 whitespace-separated
    # tokens => no 12-bit lane (nor the count field) can ever carry.
    # octet_length is O(1) — no extra tokenization anywhere on this path.
    fast = f"octet_length({t}) <= 8190"
    packed = (f"CASE WHEN {fast} THEN aggregate({toks}, 0L, (x, y) -> {merge}) "
              f"ELSE 0L END")

    def hit(i: int, lang: str) -> str:
        slow = f"size(filter({toks}, x -> x IN ({words(STOPWORDS[lang])})))"
        return (f"CASE WHEN {fast} THEN shiftright(`__q_packed`, {12 * i}) "
                f"& {lane_cap}L ELSE CAST({slow} AS BIGINT) END")

    hits = [hit(i, lang) for i, lang in enumerate(langs)]
    ntoks = (f"CASE WHEN {fast} THEN shiftright(`__q_packed`, 48) "
             f"ELSE CAST(size({toks}) AS BIGINT) END")
    best = "greatest(" + ", ".join(hits) + ")"
    # first language (in STOPWORDS order) achieving the max wins ties
    pred = "'und'"
    for lang, h in reversed(list(zip(langs, hits))):
        pred = f"CASE WHEN {h} = {best} AND {best} > 0 THEN '{lang}' ELSE {pred} END"
    ratio = f"({' + '.join(['0'] + hits)}) / greatest({ntoks}, 1)"
    score = f"least(1.0D, {ratio} * 2.0D + least({ntoks} / 400.0D, 0.5D))"
    return packed, (
        ("stopword_ratio", MICRO.round_spark_sql(f"CAST({ratio} AS DOUBLE)")),
        ("lang_pred", pred),
        ("quality_score", MICRO.round_spark_sql(f"CAST({score} AS DOUBLE)")),
    )


def quality_sql(inner: str = "documents", text: str = "text") -> str:
    toks = f"string_split_regex(trim(lower({text})), '\\s+')"
    hits = {}
    for lang, words in STOPWORDS.items():
        quoted = ", ".join(f"'{w}'" for w in words)
        hits[lang] = f"len(list_filter({toks}, x -> x in ({quoted})))"
    langs = list(STOPWORDS)
    best = "greatest(" + ", ".join(f"h_{l}" for l in langs) + ")"
    pred = "'und'"
    for lang in reversed(langs):
        pred = (f"CASE WHEN h_{lang} = {best} AND {best} > 0 "
                f"THEN '{lang}' ELSE {pred} END")
    total = " + ".join(f"h_{l}" for l in langs)
    inner_sel = ", ".join(f"{expr} AS h_{l}" for l, expr in hits.items())
    ratio = f"CAST(({total}) AS DOUBLE) / n"
    score = (f"least(1.0, CAST(({total}) AS DOUBLE) / n * 2.0 "
             f"+ least(len({toks}) / 400.0, 0.5))")
    return (
        f"SELECT * EXCLUDE (h_en, h_de, h_es, h_fr, n), "
        f"{MICRO.round_sql(ratio)} AS stopword_ratio, "
        f"{pred} AS lang_pred, "
        f"{MICRO.round_sql(score)} AS quality_score "
        f"FROM (SELECT *, {inner_sel}, greatest(len({toks}), 1) AS n FROM {inner})"
    )


def winnow_fingerprints(df: DataFrame, id_col: str = "doc_id",
                        text: str = "text", k: int = 8,
                        w: int = 16) -> DataFrame:
    """Winnowing document fingerprints (Schleimer-style rolling-window
    scheme): hash every k-char gram, slide a w-hash window, keep each
    window's minimum, dedup — the classic local fingerprint set for
    copy/near-dup detection that survives insertions outside the window.

    Entirely native expressions (transform/slice/array_min — no UDF).
    The gram hash is the md5-derived 60-bit portable hash so the DuckDB
    twin (winnow_sql) reproduces values exactly; at 100 TB swap
    ``dedup.md5_60bit`` for ``xxhash64`` in the transform (same
    plumbing, ~5x cheaper, no SQL twin). Documents shorter than k chars
    produce no fingerprints; with fewer than w grams the single window
    is the whole gram list (standard degenerate case).

    Returns exploded (id, fp) rows.

    The gram array gets its own projection: read inside the window
    lambda, it would be rebuilt per window (quadratic per document).
    """
    from .dedup import md5_60bit

    t = F.col(text)
    n_grams = F.greatest(F.length(t) - F.lit(k - 1), F.lit(0))
    grams = F.when(
        n_grams > 0,
        F.transform(F.sequence(F.lit(1), n_grams),
                    lambda i: md5_60bit(t.substr(i, F.lit(k))))
    ).otherwise(F.array().cast("array<long>"))
    g = F.col("__grams")
    n_windows = F.greatest(F.size(g) - F.lit(w - 1), F.lit(1))
    mins = F.transform(F.sequence(F.lit(1), n_windows),
                       lambda j: F.array_min(F.slice(g, j, w)))
    fps = F.array_distinct(F.filter(mins, lambda x: x.isNotNull()))
    return (df.select(F.col(id_col).alias("id"), grams.alias("__grams"))
            .select("id", F.explode(fps).alias("fp")))


def winnow_sql(inner: str = "documents", id_col: str = "doc_id",
               text: str = "text", k: int = 8, w: int = 16) -> str:
    """DuckDB oracle twin of winnow_fingerprints (two-level transform so
    each gram's md5 is computed once, not once per hex digit)."""
    from .dedup import hex60_sql

    to_int = hex60_sql("__h")
    return f"""
WITH ghex AS (
  SELECT {id_col} AS id,
         list_transform(range(1, greatest(length({text}) - {k - 1}, 0) + 1),
                        i -> md5(substr({text}, i, {k}))) AS hx
  FROM {inner}
), grams AS (
  SELECT id, list_transform(hx, __h -> {to_int}) AS g FROM ghex
), fps AS (
  SELECT id,
         list_distinct(list_filter(
           list_transform(range(1, greatest(len(g) - {w - 1}, 1) + 1),
                          j -> list_min(list_slice(g, j, j + {w - 1}))),
           x -> x IS NOT NULL)) AS fp_list
  FROM grams
)
SELECT id, unnest(fp_list) AS fp FROM fps
"""


def with_fingerprint(df: DataFrame, text: str = "text") -> DataFrame:
    """Whitespace-normalized md5 document fingerprint (portable)."""
    return df.withColumn(
        "fingerprint",
        F.md5(F.regexp_replace(F.trim(F.lower(F.col(text))), r"\s+", " ")))


def fingerprint_sql_expr(text: str = "text") -> str:
    return f"md5(regexp_replace(trim(lower({text})), '\\s+', ' ', 'g'))"


def vocab_topk(df: DataFrame, text: str = "text", k: int = 200) -> DataFrame:
    """Corpus vocabulary: the k most frequent whitespace tokens.

    The canonical massive aggregation: explode tokens (in-place row
    fan-out, no shuffle), count per token with map-side partial
    aggregation, then a global top-k. The total order (n desc, token
    asc) makes the k-boundary deterministic, so both engines cut the
    same set. The final sort ranks only the distinct-vocabulary counts
    (vocabulary, not corpus, cardinality); a TakeOrderedAndProject picks
    k without a global sort of the data.
    """
    toks = _tokens(F.col(text))
    return (df.select(F.explode(toks).alias("token"))
            .groupBy("token")
            .agg(F.count(F.lit(1)).alias("n"))
            .orderBy(F.col("n").desc(), F.col("token").asc())
            .limit(k))


def vocab_topk_sql(inner: str = "documents", text: str = "text",
                   k: int = 200) -> str:
    """DuckDB oracle twin of vocab_topk."""
    toks = f"string_split_regex(trim(lower({text})), '\\s+')"
    return (f"SELECT token, CAST(count(*) AS BIGINT) AS n FROM ("
            f"SELECT unnest({toks}) AS token FROM {inner}) "
            f"GROUP BY token ORDER BY n DESC, token LIMIT {k}")


def extract_text(df: DataFrame, html: str = "html",
                 out: str = "extracted_text") -> DataFrame:
    """Extract text from the ``html`` binary column: UTF-8 decode +
    tag strip — the minimal extraction matching how the synthetic
    payload embeds the text, so extraction must reproduce the ``text``
    column BYTE-IDENTICALLY per url (the pipeline's per-row invariant).
    Zero-shuffle native projection; the html column is read only here
    (everywhere else it is pruned at the scan).
    """
    s = F.decode(F.col(html), "UTF-8")
    return df.withColumn(out, F.regexp_replace(s, "<[^>]*>", ""))


# ---------------------------------------------------------------------------
# Character-class entropy quality signal
# ---------------------------------------------------------------------------

# Fixed character classes: letters, digits, whitespace, other. A 4-slot
# histogram keeps the expression tree FAR under the JVM's 64KB codegen
# method limit (a naive 38-symbol alphabet version blew it — the shared
# subtrees re-inline at every use site), while still separating prose
# (letter-heavy, spaced) from base64/hex blobs (letter+digit, no
# spaces), numeric tables, and binary mojibake (other-heavy).
_ENTROPY_CLASSES = ["[a-z]", "[0-9]", "[ \\t\\n\\r\\f]"]


def with_char_entropy(df: DataFrame, text: str = "text",
                      out: str = "char_entropy") -> DataFrame:
    """Shannon entropy (nats) of the per-document character-CLASS
    distribution (letters / digits / whitespace / other) — the cheap
    gibberish and encoding-junk detector that complements perplexity
    filtering. Range [0, ln 4]; normal prose sits near the
    letters-plus-space two-class mix, base64 and numeric dumps drift.

    Zero shuffle: each class count is length(s) - length(
    regexp_replace(s, class, '')) on the lowercased text — three fixed
    string passes plus arithmetic, no explode, no histogram map. The
    entropy folds over the classes in FIXED order, so the emitted
    double is engine-identical under the fp6 gate (ln carries the
    documented <=1-ulp wobble). Empty documents emit 0.0.
    """
    low = F.lower(F.col(text))
    n = F.length(low)
    counts = [n - F.length(F.regexp_replace(low, cls, ""))
              for cls in _ENTROPY_CLASSES]
    other = ((n - counts[0]) - counts[1]) - counts[2]
    ent = F.lit(0.0)
    for c in counts + [other]:
        p = c.cast("double") / n.cast("double")
        ent = ent + F.when(c > 0, -(p * F.log(p))).otherwise(F.lit(0.0))
    return df.withColumn(
        out, F.when(n > 0, MICRO.round(ent)).otherwise(F.lit(0.0)))


def char_entropy_sql_expr(text: str = "text") -> str:
    """DuckDB twin of the with_char_entropy column (same classes, same
    fixed fold order, same guards)."""
    low = f"lower({text})"
    n = f"length({low})"
    classes = ["[a-z]", "[0-9]", "[ \\t\\n\\r\\f]"]
    counts = [f"({n} - length(regexp_replace({low}, '{cls}', '', 'g')))"
              for cls in classes]
    other = f"((({n} - {counts[0]}) - {counts[1]}) - {counts[2]})"
    terms = []
    for c in counts + [other]:
        p = f"(CAST({c} AS DOUBLE) / CAST({n} AS DOUBLE))"
        terms.append(f"(CASE WHEN {c} > 0 THEN -({p} * ln({p})) "
                     f"ELSE 0.0e0 END)")
    ent = "(((" + terms[0] + " + " + terms[1] + ") + " + terms[2] + ") + " \
        + terms[3] + ")"
    return (f"CASE WHEN {n} > 0 THEN {MICRO.round_sql(ent)} ELSE 0.0e0 END")


# ---------------------------------------------------------------------------
# Exact per-group length quantiles (corpus profiling)
# ---------------------------------------------------------------------------

def group_quantiles(df: DataFrame, group: str = "lang",
                    value: str = "n_chars",
                    qs: tuple[float, ...] = (0.5, 0.9, 0.99),
                    exact: bool = True) -> DataFrame:
    """Per-``group`` quantiles of ``value`` — the corpus length-profile
    report every curation run starts with (token/char budgets per
    language, truncation thresholds, outlier caps).

    ``exact=True`` uses Spark's exact interpolating ``percentile``
    (type-7, the same definition as DuckDB's ``quantile_cont``) — it
    buffers each group's values on one executor, which is fine for
    grouped profiling (rows-per-group bounded by the corpus/|groups|
    memory budget) but wrong for a 10^12-row single group; for that,
    ``exact=False`` plans ``percentile_approx`` (GK sketch, bounded
    memory, mergeable partials) at the cost of oracle-exactness — the
    production default at 100 TB, tolerance-tested in pytest rather than
    hash-gated.

    Output: (group, n, q_50, q_90, q_99) — quantile columns fp6-quantized
    so the interpolated doubles hash identically cross-engine.
    """
    fn = F.percentile if exact else F.percentile_approx
    aggs = [F.count(F.lit(1)).alias("n")]
    for q in qs:
        col = fn(F.col(value).cast("double"), F.lit(q))
        aggs.append(MICRO.round(col.cast("double"))
                    .alias(f"q_{int(round(q * 100))}"))
    return df.groupBy(group).agg(*aggs)


def group_quantiles_sql(inner: str, group: str = "lang",
                        value: str = "n_chars",
                        qs: tuple[float, ...] = (0.5, 0.9, 0.99)) -> str:
    """DuckDB twin of :func:`group_quantiles` (exact form):
    ``quantile_cont`` is the same type-7 linear interpolation as Spark's
    ``percentile``."""
    cols = ", ".join(
        f"{MICRO.round_sql(f'quantile_cont(CAST({value} AS DOUBLE), {q!r})')} "
        f"AS q_{int(round(q * 100))}" for q in qs)
    return (f"SELECT {group}, count(*) AS n, {cols} "
            f"FROM ({inner}) GROUP BY {group}")
