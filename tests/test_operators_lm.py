"""Bigram-LM perplexity scoring (operators/lm.py)."""

import math

import pytest

from geohash_dotnet_spark.operators import bigram_ppl


def _hand_score(bigram_counts, context_counts, vocab, doc_bigrams, k=0.5):
    s_u = 0
    for b in doc_bigrams:
        p = (bigram_counts[b] + k) / (context_counts[b[0]] + k * vocab)
        s_u += math.floor(math.log(p) * 1e6 + 0.5)
    n = len(doc_bigrams)
    logprob = s_u / 1e6
    ppl = math.floor(math.exp(-logprob / n) * 1e6 + 0.5) / 1e6
    return n, logprob, ppl


def test_hand_computed_cell(spark):
    """Full hand replay of the model and one document's score."""
    docs = spark.createDataFrame(
        [(1, "a b a b"), (2, "a b c"), (3, "c a")],
        "doc_id long, text string")
    out = {r["doc_id"]: r.asDict() for r in bigram_ppl(docs).collect()}
    c2 = {("a", "b"): 3, ("b", "a"): 1, ("b", "c"): 1, ("c", "a"): 1}
    c1 = {"a": 3, "b": 2, "c": 1}
    vocab = 3  # {a, b, c}
    for doc_id, bgs in [(1, [("a", "b"), ("b", "a"), ("a", "b")]),
                        (2, [("a", "b"), ("b", "c")]),
                        (3, [("c", "a")])]:
        n, logprob, ppl = _hand_score(c2, c1, vocab, bgs)
        r = out[doc_id]
        assert r["n_bigrams"] == n
        assert r["logprob"] == logprob
        assert r["ppl"] == ppl


def test_fluent_beats_gibberish(spark):
    """A document made of the corpus's common bigrams scores lower
    perplexity than one made of rare transitions."""
    base = [(i, "the quick brown fox jumps over the lazy dog") for
            i in range(20)]
    docs = spark.createDataFrame(
        base + [(100, "the quick brown fox"),
                (101, "dog the over brown")],
        "doc_id long, text string")
    out = {r["doc_id"]: r["ppl"] for r in bigram_ppl(docs).collect()}
    assert out[100] < out[101]


def test_single_token_docs_excluded(spark):
    docs = spark.createDataFrame(
        [(1, "solo"), (2, "two tokens")], "doc_id long, text string")
    out = bigram_ppl(docs).collect()
    assert [r["doc_id"] for r in out] == [2]


def test_layout_independent(spark, sf_small):
    docs = spark.read.parquet(f"{sf_small}/documents.parquet")
    a = sorted(map(tuple, bigram_ppl(docs).collect()))
    b = sorted(map(tuple, bigram_ppl(docs.repartition(7)).collect()))
    assert a == b


def test_collocations_planted_phrase(spark):
    """A phrase whose words only ever appear together sits at the PMI
    maximum (tied with other always-together pairs, above any pair
    whose words also occur in other contexts — "the" pairs here)."""
    from geohash_dotnet_spark.operators import collocations

    filler = "the cat sat on the mat and the dog ran off"
    docs = spark.createDataFrame(
        [(i, filler + " kuala lumpur") for i in range(6)],
        "doc_id long, text string")
    out = {(r["w1"], r["w2"]): r for r in
           collocations(docs, k=20, min_count=5).collect()}
    top = max(r["pmi"] for r in out.values())
    kl = out[("kuala", "lumpur")]
    assert kl["n"] == 6 and kl["pmi"] == top
    # pairs involving the 3x-frequent "the" score strictly lower
    assert out[("the", "cat")]["pmi"] < top


def test_collocations_min_count_cuts_rare_pairs(spark):
    from geohash_dotnet_spark.operators import collocations

    docs = spark.createDataFrame(
        [(1, "rare pair"), (2, "common duo common duo common duo")],
        "doc_id long, text string")
    out = {(r["w1"], r["w2"]) for r in
           collocations(docs, k=10, min_count=2).collect()}
    assert ("rare", "pair") not in out
    assert ("common", "duo") in out


def test_collocations_hand_value(spark):
    """One hand-computed PMI cell under the quantization."""
    import math
    from geohash_dotnet_spark.operators import collocations

    docs = spark.createDataFrame(
        [(1, "a b a b a c")], "doc_id long, text string")
    # bigrams: (a,b) x2, (b,a) x2, (a,c) x1 -> T=5
    out = {(r["w1"], r["w2"]): r for r in
           collocations(docs, k=10, min_count=1).collect()}
    t = 5.0
    pmi_ab = math.log((2 / t) / ((3 / t) * (2 / t)))  # cl(a)=3, cr(b)=2
    assert out[("a", "b")]["pmi"] == \
        math.floor(pmi_ab * 1e6 + 0.5) / 1e6


def test_char_entropy_edges_and_order(spark):
    """Empty -> 0; single-class -> 0; prose > base64-ish > single-class;
    codegen stays under the method limit (the 38-symbol version did
    not)."""
    from geohash_dotnet_spark.operators.text import with_char_entropy

    docs = spark.createDataFrame(
        [(1, ""), (2, "aaaa aaaa".replace(" ", "")),  # letters only
         (3, "the quick brown fox jumps over 12 lazy dogs"),
         (4, "TWFkZSB3aXRoIGxvdmUgYnkgYmFzZTY0")],  # base64-ish
        "doc_id long, text string")
    out = {r["doc_id"]: r["char_entropy"]
           for r in with_char_entropy(docs).collect()}
    assert out[1] == 0.0 and out[2] == 0.0
    assert out[3] > out[4] > 0.0


def test_char_entropy_zero_shuffle(spark, sf_small):
    from geohash_dotnet_spark.operators.text import with_char_entropy

    docs = spark.read.parquet(f"{sf_small}/documents.parquet")
    out = with_char_entropy(docs).select("doc_id", "char_entropy")
    out.collect()
    head = (out._jdf.queryExecution().executedPlan().toString()
            .split("Initial Plan")[0])
    assert "Exchange" not in head


# ---------------------------------------------------------------------------
# DSIR importance weights
# ---------------------------------------------------------------------------

def _dsir(spark, corpus_rows, target_rows, **kw):
    from geohash_dotnet_spark.operators.lm import dsir_weights

    c = spark.createDataFrame(corpus_rows, "doc_id long, text string")
    t = spark.createDataFrame(target_rows, "doc_id long, text string")
    return {r["doc_id"]: r for r in dsir_weights(c, t, **kw).collect()}


def test_dsir_target_like_docs_score_higher(spark):
    target = [(100, "physics equations energy mass momentum"),
              (101, "quantum physics wave energy field")]
    corpus = [(1, "physics energy mass wave momentum"),   # target-like
              (2, "buy cheap shoes discount sale now")]   # not
    out = _dsir(spark, corpus, target, n_buckets=256)
    assert out[1]["avg_llr"] > out[2]["avg_llr"]
    assert out[1]["llr"] > 0 > out[2]["llr"]


def test_dsir_bucket_smoothing_handles_unseen_tokens(spark):
    # corpus tokens entirely unseen by the target model: finite scores
    out = _dsir(spark, [(1, "zzz yyy xxx")], [(9, "aaa bbb")],
                n_buckets=64)
    assert out[1]["n_tokens"] == 3
    assert out[1]["llr"] == out[1]["llr"]  # not NaN


def test_dsir_layout_invariance(spark, sf_med):
    from pyspark.sql import functions as F

    from geohash_dotnet_spark.operators.lm import dsir_weights

    docs = spark.read.parquet(f"{sf_med}/documents.parquet")
    tgt = docs.filter(F.col("doc_id") % 17 == 0)
    cor = docs.filter(F.col("doc_id") % 17 != 0)
    a = dsir_weights(cor, tgt, n_buckets=128).orderBy("doc_id").collect()
    b = (dsir_weights(cor.repartition(13), tgt.repartition(5),
                      n_buckets=128).orderBy("doc_id").collect())
    assert a == b


def test_dsir_model_join_is_broadcast(spark, sf_small):
    """The B-bounded model must broadcast onto the doc profile — the
    corpus is never shuffled on the bucket key for scoring."""
    from pyspark.sql import functions as F

    from geohash_dotnet_spark.operators.lm import dsir_weights

    docs = spark.read.parquet(f"{sf_small}/documents.parquet")
    tgt = docs.filter(F.col("doc_id") % 17 == 0)
    cor = docs.filter(F.col("doc_id") % 17 != 0)
    plan = (dsir_weights(cor, tgt, n_buckets=64)
            ._jdf.queryExecution().executedPlan().toString())
    assert "BroadcastHashJoin" in plan.split("Initial Plan")[0]


# ---------------------------------------------------------------------------
# score_calibration
# ---------------------------------------------------------------------------

def test_score_calibration_is_the_per_group_bucket_ecdf(spark):
    """cal must equal the empirical CDF (strictly-below mass / group
    size) recomputed in pandas from the operator's own (group, bucket)
    output, per group — and keep must be exactly "the mass at or below
    the bucket exceeds 0.5". Groups: two even-sized ones, an odd-sized
    one ("odd", 5 docs) and one whose scores all share a bucket
    ("one", 4 copies of a text)."""
    from geohash_dotnet_spark.operators import score_calibration

    rows = [(i, f"doc number {i} with words w{i % 7} v{i % 3} "
                f"filler{i} tail{i * 13}", f"g{i % 2}")
            for i in range(24)]
    rows += [(100 + i, f"odd doc {i} " + "w%d " % i * i, "odd")
             for i in range(5)]
    rows += [(200 + i, "the same words again", "one") for i in range(4)]
    docs = spark.createDataFrame(rows, "doc_id long, text string, source string")
    pdf = score_calibration(docs, keep_frac=0.5).toPandas()
    assert len(pdf) == 33
    assert pdf[pdf.source == "one"]["bucket"].nunique() == 1
    for g, grp in pdf.groupby("source"):
        n = len(grp)
        for _, r in grp.iterrows():
            below = int((grp["bucket"] < r["bucket"]).sum())
            at_or_below = int((grp["bucket"] <= r["bucket"]).sum())
            assert abs(r["cal"] - below / n) < 2e-6
            assert r["keep"] == (1 if at_or_below / n > 0.5 else 0)
    # bucketed ECDF keeps at least keep_frac of every group (ties at
    # the cut bucket keep together)
    kept = pdf.groupby("source")["keep"].mean()
    assert (kept >= 0.5 - 1e-9).all()


def test_score_calibration_group_isolation(spark):
    """A group whose scores are uniformly shifted still keeps the same
    FRACTION — calibration is per-group by construction: the same doc
    text lands in different keep-sets depending only on its group's
    distribution."""
    from geohash_dotnet_spark.operators import score_calibration

    # group A: 4 distinct texts; group B: the same 4 texts -> identical
    # per-group distributions -> identical per-group keep counts
    texts = ["alpha beta gamma", "delta epsilon zeta words",
             "eta theta iota kappa lambda", "mu nu xi omicron pi rho"]
    rows = ([(i, texts[i], "A") for i in range(4)]
            + [(10 + i, texts[i], "B") for i in range(4)])
    docs = spark.createDataFrame(rows, "doc_id long, text string, source string")
    pdf = score_calibration(docs).toPandas()
    ka = sorted(pdf[pdf.source == "A"]["keep"])
    kb = sorted(pdf[pdf.source == "B"]["keep"])
    assert ka == kb
    # and the cal values agree text-by-text across groups
    a = pdf[pdf.source == "A"].sort_values("doc_id")["cal"].tolist()
    b = pdf[pdf.source == "B"].sort_values("doc_id")["cal"].tolist()
    assert a == b


def test_score_calibration_validates_keep_frac(spark):
    from geohash_dotnet_spark.operators import score_calibration

    docs = spark.createDataFrame([(1, "a b", "g")],
                                 "doc_id long, text string, source string")
    with pytest.raises(ValueError, match="keep_frac"):
        score_calibration(docs, keep_frac=0.0)


def test_score_calibration_windows_ride_the_histogram_only(spark):
    """The scale contract: every Window node in the plan consumes the
    aggregated (group, bucket) histogram, never corpus rows — i.e. each
    Window sits above a HashAggregate, and there is no Sort of the
    corpus-keyed columns (doc_id) anywhere."""
    from geohash_dotnet_spark.operators import score_calibration

    docs = spark.createDataFrame(
        [(i, f"w{i} x{i} y{i}", f"g{i % 2}") for i in range(8)],
        "doc_id long, text string, source string")
    plan = (score_calibration(docs)
            ._jdf.queryExecution().optimizedPlan().toString())
    # the corpus-side percent_rank formulation would sort by logit
    # inside a doc-keyed window; the histogram form never does
    for line in plan.splitlines():
        if "Window " in line or line.strip().startswith("Window"):
            assert "doc_id" not in line and "logit" not in line, line


def test_score_calibration_histogram_stitch_broadcasts_under_aqe(spark):
    """The docstring claim, at runtime: the (group, bucket) join that
    stitches the histogram CDF back onto per-doc rows is converted to a
    BroadcastHashJoin in the FINAL adaptive plan whenever the histogram
    fits (it always does at mixture-domain group cardinality) — the
    corpus side is never re-shuffled for the stitch."""
    from geohash_dotnet_spark.operators import score_calibration

    docs = spark.createDataFrame(
        [(i, f"w{i} x{i % 5} y{i % 3} z{i % 7} q{i % 2}", f"g{i % 3}")
         for i in range(60)],
        "doc_id long, text string, source string")
    d = score_calibration(docs)
    d.collect()  # same QueryExecution must run to finalize the plan
    plan = d._jdf.queryExecution().executedPlan().toString()
    assert "isFinalPlan=true" in plan
    final = plan.split("== Initial Plan ==")[0]
    stitch = [l for l in final.splitlines()
              if "Join" in l and "source" in l and "bucket" in l]
    assert stitch and all("BroadcastHashJoin" in l for l in stitch), stitch
