"""Rule-based curation filters (functions/quality.py): Gopher A1.1
rules, C4 §2.2 cleaning, vocabulary top-k — hand-computed expectations
on tiny corpora, including the empty-text / single-line edge cases."""
from __future__ import annotations

from graphscope_spark.functions.quality import (
    c4_clean,
    gopher_rules,
    vocab_topk,
)

# a doc that passes every Gopher rule: >=50 words, mean word length in
# [3,10], no symbols/bullets/ellipses, all-alpha words, >=2 stop words
_GOOD = " ".join(["the quick brown fox jumps over lazy dogs to be"] * 6)


def _gopher(spark, rows):
    df = spark.createDataFrame(rows, "doc_id long, text string")
    return {r["doc_id"]: r.asDict() for r in gopher_rules(df).collect()}


def test_gopher_keeps_clean_prose(spark):
    out = _gopher(spark, [(1, _GOOD)])
    r = out[1]
    assert r["n_words"] == 60
    assert 3.0 <= r["mean_word_len"] <= 10.0
    assert r["symbol_ratio"] == 0.0
    assert r["stop_hits"] >= 2
    assert r["keep"] is True


def test_gopher_word_count_bounds(spark):
    out = _gopher(spark, [(1, "the quick fox to be")])  # 5 words < 50
    assert out[1]["keep"] is False
    assert out[1]["n_words"] == 5


def test_gopher_symbol_ratio_trips(spark):
    # 60 good words + 12 '#' tokens -> 12/72 = 0.1667 > 0.1
    out = _gopher(spark, [(1, _GOOD + " " + " ".join(["#"] * 12))])
    assert out[1]["symbol_ratio"] > 0.1
    assert out[1]["keep"] is False


def test_gopher_ellipsis_and_bullet_lines(spark):
    text = _GOOD + "\nto be continued...\n- bullet item"
    out = _gopher(spark, [(1, text)])
    r = out[1]
    assert abs(r["ellipsis_frac"] - 1 / 3) < 1e-6
    assert abs(r["bullet_frac"] - 1 / 3) < 1e-6
    assert r["keep"] is False  # ellipsis_frac 0.33 >= 0.3


def test_gopher_alpha_fraction_and_stops(spark):
    # 10 numeric tokens out of 12 -> alpha 1/6 < 0.8; stops only 'the'
    out = _gopher(spark, [(1, "the " + " ".join(str(i) for i in range(10)) + " word")])
    r = out[1]
    assert r["alpha_frac"] < 0.8
    assert r["stop_hits"] == 1
    assert r["keep"] is False


def test_gopher_empty_text(spark):
    out = _gopher(spark, [(1, "")])
    r = out[1]
    assert r["n_words"] == 0
    assert r["mean_word_len"] == 0.0
    assert r["keep"] is False


def test_c4_line_and_page_rules(spark):
    rows = [
        # two qualifying lines + one short + one unterminated -> only
        # 2 survive -> page dropped (min_lines=3)
        (1, "this first sentence carries six words.\nshort one.\n"
            "an unterminated line with many words\n"
            "this second sentence also carries six words."),
        # three qualifying lines -> kept, short line stripped
        (2, "alpha beta gamma delta epsilon zeta.\nnope.\n"
            "one two three four five six!\n"
            'a quoted line of five words"'),
        # page poisons
        (3, "lorem ipsum dolor sit amet filler sentence here."),
        (4, "a perfectly fine sentence with words { but a brace."),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r["doc_id"]: r for r in c4_clean(df).collect()}
    assert set(out) == {2}
    assert out[2]["n_lines"] == 3
    assert "nope." not in out[2]["text"]
    assert out[2]["text"].count("\n") == 2


def test_vocab_topk_counts_and_tiebreak(spark):
    df = spark.createDataFrame(
        [(1, "b b b a a c"), (2, "a c d")], "doc_id long, text string"
    )
    rows = vocab_topk(df, k=3).collect()
    assert [(r["word"], r["cnt"]) for r in rows] == [
        ("a", 3), ("b", 3), ("c", 2),
    ]


def test_bigram_lm_self_train_ranks_typical_text_higher(spark):
    from graphscope_spark.functions.quality import bigram_lm_logprob

    rows = [
        (1, "the cat sat on the mat"),
        (2, "the cat sat on the mat"),
        (3, "zeta xi omega nu upsilon phi"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r["doc_id"]: r for r in bigram_lm_logprob(df).collect()}
    assert out[1]["n_bigrams"] == 5
    # docs 1/2 share every transition (count 2); doc 3's are singletons
    assert out[1]["avg_logp"] == out[2]["avg_logp"]
    assert out[1]["avg_logp"] > out[3]["avg_logp"]


def test_bigram_lm_unseen_transitions_get_smoothing_mass(spark):
    import math

    from graphscope_spark.functions.quality import bigram_lm_logprob

    train = [(1, "a b a b")]
    score = [(2, "a b"), (3, "b a"), (4, "q z")]
    df = spark.createDataFrame(train + score, "doc_id long, text string")
    tr = df.where("doc_id = 1")
    out = {r["doc_id"]: r for r in
           bigram_lm_logprob(df, train_df=tr, k=0.5).collect()}
    # V=2; c(a)=2, c(b)=2, c(a,b)=2, c(b,a)=1
    assert abs(out[2]["avg_logp"] - round(math.log(2.5 / 3.0), 6)) < 1e-9
    assert abs(out[3]["avg_logp"] - round(math.log(1.5 / 3.0), 6)) < 1e-9
    # both words unseen: (0+0.5)/(0+0.5*2) = 0.5
    assert abs(out[4]["avg_logp"] - round(math.log(0.5), 6)) < 1e-9


def test_bigram_lm_short_docs_score_zero(spark):
    from graphscope_spark.functions.quality import bigram_lm_logprob

    df = spark.createDataFrame(
        [(1, "single"), (2, ""), (3, "two words")],
        "doc_id long, text string",
    )
    out = {r["doc_id"]: r for r in bigram_lm_logprob(df).collect()}
    assert out[1]["n_bigrams"] == 0 and out[1]["avg_logp"] == 0.0
    assert out[2]["n_bigrams"] == 0
    assert out[3]["n_bigrams"] == 1


def test_dsir_upweights_target_like_docs(spark):
    from graphscope_spark.functions.quality import dsir_logweights

    rows = [
        (1, "alpha beta alpha beta alpha"),   # target-like
        (2, "alpha beta alpha beta gamma"),
        (3, "omega psi chi phi upsilon"),     # off-target
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    target = df.where("doc_id = 1")
    out = {r["doc_id"]: r for r in
           dsir_logweights(df, target_df=target).collect()}
    assert out[1]["log_weight"] > out[2]["log_weight"] > out[3]["log_weight"]
    # 5 unigrams + 4 bigrams
    assert out[1]["n_feats"] == 9


def test_dsir_empty_doc_scores_zero(spark):
    from graphscope_spark.functions.quality import dsir_logweights

    df = spark.createDataFrame(
        [(1, ""), (2, "some words here")], "doc_id long, text string"
    )
    out = {r["doc_id"]: r for r in
           dsir_logweights(df, target_df=df.where("doc_id = 2")).collect()}
    assert out[1] == {"doc_id": 1, "n_feats": 0, "log_weight": 0.0} or (
        out[1]["n_feats"] == 0 and out[1]["log_weight"] == 0.0
    )


def test_dsir_resample_deterministic_and_weight_biased(spark):
    from graphscope_spark.functions.quality import (
        dsir_logweights,
        dsir_resample,
    )

    # 30 docs: half target-like, half off-target
    rows = [(i, "alpha beta gamma delta" if i % 2 == 0
             else "omega psi chi phi") for i in range(30)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    w = dsir_logweights(df, target_df=df.where("doc_id % 2 = 0"))
    pick1 = sorted(r["doc_id"] for r in dsir_resample(w, k=10).collect())
    pick2 = sorted(r["doc_id"] for r in dsir_resample(w, k=10).collect())
    assert pick1 == pick2 and len(pick1) == 10  # seeded + stable
    n_target = sum(1 for d in pick1 if d % 2 == 0)
    assert n_target >= 7  # heavily biased toward the target slice
    # another seed is an equally valid (deterministic) draw
    pick3 = sorted(
        r["doc_id"] for r in dsir_resample(w, k=10, seed="other").collect()
    )
    assert len(pick3) == 10


def test_dsir_gumbel_key_finite_and_equal_at_max_h60(spark):
    """At h60 = 2^60 - 1 the uniform must stay below 1.0 in both
    engines: at u = 1.0 Spark's log(0) is NULL while DuckDB's ln(0)
    raises, so the two keys would diverge."""
    import math

    import duckdb
    from pyspark.sql import functions as F

    from graphscope_spark.entry import _gumbel_sql
    from graphscope_spark.functions.quality import gumbel_noise

    h = (1 << 60) - 1
    spark_key = spark.range(1).select(
        gumbel_noise(F.lit(h)).alias("g")
    ).first()["g"]
    duck_key = duckdb.sql(
        f"SELECT {_gumbel_sql(f'{h}::BIGINT')} AS g"
    ).fetchone()[0]
    assert spark_key is not None and math.isfinite(spark_key)
    assert math.isfinite(duck_key)
    assert round(spark_key, 6) == round(duck_key, 6)


def test_c4_clean_honors_custom_text_col(spark):
    df = spark.createDataFrame(
        [(1, "alpha beta gamma delta epsilon zeta.\n"
             "one two three four five six!\n"
             "seven eight nine ten eleven twelve.")],
        "doc_id long, body string",
    )
    out = c4_clean(df, text_col="body").collect()
    assert len(out) == 1
    assert out[0]["body"].count("\n") == 2  # named per text_col
    assert "n_lines" in out[0].asDict()
