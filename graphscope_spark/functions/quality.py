"""Rule-based document-quality filters for training-data curation.

Two published public filter families, re-expressed as pure Catalyst
column expressions (zero shuffle — each is a single per-row scan whose
predicates push down to the parquet/Iceberg scan):

- :func:`gopher_rules` — the Gopher quality heuristics (Rae et al.
  2021, "Scaling Language Models: Methods, Analysis & Insights from
  Training Gopher", Appendix A1.1): word-count bounds, mean word
  length, symbol-to-word ratio, bullet/ellipsis line fractions,
  alphabetic-word fraction, and a stop-word requirement.
- :func:`c4_clean` — the C4 cleaning rules (Raffel et al. 2020,
  "Exploring the Limits of Transfer Learning with a Unified
  Text-to-Text Transformer", §2.2): keep lines that end in terminal
  punctuation and have ≥5 words; drop pages containing "lorem ipsum"
  or a curly brace; require ≥3 retained lines.

Plus :func:`vocab_topk` — corpus vocabulary with frequencies, top-k by
count (BPE/vocab prep).  The only shuffle in this module: a map-side
combined word count followed by ``TakeOrderedAndProject`` (orderBy +
limit never global-sorts the full vocabulary).

The reference engine's curation analog is its quality/stat contexts
over property graphs; these operate on the ``documents`` corpus the
driver provides.  100-TB design: gopher/c4 are embarrassingly
parallel per-row scans; vocab_topk's word shuffle is bounded by
vocabulary size (sublinear in corpus size) with partial aggregation
doing the heavy lifting map-side.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from graphscope_spark.functions.text import h60, mean_word_len, tokens

#: Gopher's required-stop-word list (Rae et al. 2021, A1.1): a doc
#: must contain at least GOPHER_MIN_STOP_HITS distinct of these.
GOPHER_STOP_WORDS = ["the", "be", "to", "of", "and", "that", "have", "with"]
GOPHER_MIN_STOP_HITS = 2

#: terminal-punctuation regex for C4's line filter (Java + RE2 safe).
_TERMINAL_RE = r'[.!?"]\s*$'
#: bullet line-start / ellipsis line-end regexes for Gopher.
_BULLET_RE = r"^\s*[•*-]"
_ELLIPSIS_RE = r"(\.\.\.|…)\s*$"


def _occurrences(c: Column, lit: str) -> Column:
    """Non-overlapping occurrence count of a literal substring —
    length difference under replace, identical semantics in DuckDB."""
    return (
        (F.length(c) - F.length(F.replace(c, F.lit(lit), F.lit(""))))
        / len(lit)
    ).cast("long")


def _lines(c: Column) -> Column:
    return F.split(c, "\n")


def _gopher_signals(c: Column) -> dict[str, Column]:
    """The seven Gopher A1.1 signal expressions over a text column —
    shared by :func:`gopher_rules` (full table) and
    :func:`gopher_structural_ok` (predicate form)."""
    toks = tokens(c)
    n_words = F.size(toks).cast("long")
    lines = _lines(c)
    n_lines = F.size(lines)
    return {
        "n_words": n_words,
        "mean_word_len": mean_word_len(toks),
        "symbol_ratio": F.when(
            n_words > 0,
            (_occurrences(c, "#") + _occurrences(c, "...")).cast(
                "double"
            )
            / n_words,
        ).otherwise(0.0),
        "bullet_frac": F.when(
            n_lines > 0,
            F.size(F.filter(lines, lambda l: l.rlike(_BULLET_RE)))
            .cast("double") / n_lines,
        ).otherwise(0.0),
        "ellipsis_frac": F.when(
            n_lines > 0,
            F.size(F.filter(lines, lambda l: l.rlike(_ELLIPSIS_RE)))
            .cast("double") / n_lines,
        ).otherwise(0.0),
        "alpha_frac": F.when(
            n_words > 0,
            F.size(F.filter(toks, lambda t: t.rlike("[a-z]")))
            .cast("double") / n_words,
        ).otherwise(0.0),
        "stop_hits": F.size(
            F.array_intersect(
                F.array_distinct(toks),
                F.array(*[F.lit(w) for w in GOPHER_STOP_WORDS]),
            )
        ).cast("long"),
    }


def gopher_structural_ok(text_col: str = "text") -> Column:
    """The four corpus-independent Gopher structure rules as ONE
    boolean Column (symbol ratio, bullet/ellipsis line fractions,
    alphabetic-word fraction) — a pure per-row predicate, so it
    composes into streaming pipelines and fuses with other filters
    without any join."""
    s = _gopher_signals(F.col(text_col))
    return (
        (s["symbol_ratio"] <= 0.1)
        & (s["bullet_frac"] < 0.9)
        & (s["ellipsis_frac"] < 0.3)
        & (s["alpha_frac"] >= 0.8)
    )


def gopher_rules(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Per-document Gopher quality signals and the combined ``keep``
    verdict (Rae et al. 2021, Appendix A1.1):

    - ``n_words`` in [50, 100000];
    - ``mean_word_len`` in [3, 10];
    - ``symbol_ratio`` (``#`` + ``...`` occurrences per word) ≤ 0.1;
    - ``bullet_frac`` (lines starting with a bullet) < 0.9;
    - ``ellipsis_frac`` (lines ending with an ellipsis) < 0.3;
    - ``alpha_frac`` (words containing ≥1 alphabetic char) ≥ 0.8;
    - ``stop_hits`` (distinct required stop words present) ≥ 2.

    Pure column expressions — a zero-shuffle scan (cf. the same-shaped
    ``repetition_stats``); at 100 TB this is a map-only pass whose
    ``keep`` predicate can fuse with downstream filters.
    """
    s = _gopher_signals(F.col(text_col))
    keep = (
        s["n_words"].between(50, 100_000)
        & s["mean_word_len"].between(3.0, 10.0)
        & (s["symbol_ratio"] <= 0.1)
        & (s["bullet_frac"] < 0.9)
        & (s["ellipsis_frac"] < 0.3)
        & (s["alpha_frac"] >= 0.8)
        & (s["stop_hits"] >= GOPHER_MIN_STOP_HITS)
    )
    return df.select(
        F.col(id_col),
        s["n_words"].alias("n_words"),
        F.round(s["mean_word_len"], 6).alias("mean_word_len"),
        F.round(s["symbol_ratio"], 6).alias("symbol_ratio"),
        F.round(s["bullet_frac"], 6).alias("bullet_frac"),
        F.round(s["ellipsis_frac"], 6).alias("ellipsis_frac"),
        F.round(s["alpha_frac"], 6).alias("alpha_frac"),
        s["stop_hits"].alias("stop_hits"),
        keep.alias("keep"),
    )


def c4_clean(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    min_line_words: int = 5,
    min_lines: int = 3,
) -> DataFrame:
    """C4 cleaning (Raffel et al. 2020, §2.2): retain only lines that
    end in terminal punctuation AND have ≥ ``min_line_words`` words;
    drop the whole document if it mentions ``lorem ipsum`` (any case)
    or contains ``{``, or fewer than ``min_lines`` lines survive.
    Returns survivors as ``(id, text, n_lines)`` with the retained
    lines re-joined in order.

    Zero-shuffle per-row scan; the line logic runs inside one
    higher-order ``filter`` over the split array, never an explode.
    """
    c = F.col(text_col)

    def line_ok(l: Column) -> Column:
        words = F.split(F.regexp_replace(F.trim(l), r"\s+", " "), " ")
        return l.rlike(_TERMINAL_RE) & (F.size(words) >= min_line_words)

    kept = F.filter(_lines(c), line_ok)
    n_kept = F.size(kept).cast("long")
    doc_ok = (
        ~F.lower(c).contains("lorem ipsum")
        & ~c.contains("{")
        & (n_kept >= min_lines)
    )
    return (
        df.select(
            F.col(id_col),
            F.array_join(kept, "\n").alias(text_col),
            n_kept.alias("n_lines"),
            doc_ok.alias("_ok"),
        )
        .where("_ok")
        .drop("_ok")
    )


def bigram_lm_logprob(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: float = 0.5,
    train_df: DataFrame | None = None,
) -> DataFrame:
    """CCNet-style language-model quality score (Wenzek et al. 2020,
    "CCNet: Extracting High Quality Monolingual Datasets from Web
    Crawl Data" — which scores docs with a KenLM 5-gram model and
    keeps the low-perplexity tail): an add-``k`` smoothed BIGRAM model
    trained on ``train_df`` (default: the corpus itself), scoring each
    document with its mean token-transition log-probability.

    Returns ``(id_col, n_bigrams, avg_logp)``; perplexity is
    ``exp(-avg_logp)``.  Higher ``avg_logp`` = more typical of the
    training corpus (CCNet keeps the head/middle of that ranking).
    ``P(w2|w1) = (c(w1,w2) + k) / (c(w1) + k·V)`` with ``V`` the
    training vocabulary size; unseen transitions fall back to the
    smoothing mass.  Documents with fewer than two tokens score
    ``n_bigrams = 0, avg_logp = 0.0``.

    Scale shape (100 TB): two count aggregations with map-side
    combine (bigram table is vocab²-bounded — sublinear in corpus
    size), then two keyed joins (bigram, unigram) and one per-doc
    aggregate.  The single driver scalar is ``V`` (one count — the
    allreduce analog).  No Python in the plan; ``F.log`` is the JVM
    natural log."""
    train = train_df if train_df is not None else df
    tr = train.select(tokens(F.col(text_col)).alias("t"))
    uni = (
        tr.select(F.explode("t").alias("w1"))
        .groupBy("w1")
        .agg(F.count("*").alias("cw"))
    )
    vocab_size = uni.count()

    def doc_bigrams(src: DataFrame, with_id: bool):
        cols = [F.col(id_col)] if with_id else []
        toks = tokens(F.col(text_col))
        return src.select(
            *cols,
            F.explode(
                F.when(
                    F.size(toks) >= 2,
                    F.transform(
                        F.sequence(F.lit(0), F.size(toks) - 2),
                        lambda i: F.struct(
                            toks[i].alias("w1"),
                            toks[i + 1].alias("w2"),
                        ),
                    ),
                ).otherwise(F.array().cast(
                    "array<struct<w1:string,w2:string>>"
                ))
            ).alias("b"),
        ).select(*cols, F.col("b.w1").alias("w1"),
                 F.col("b.w2").alias("w2"))

    big = (
        doc_bigrams(train, with_id=False)
        .groupBy("w1", "w2")
        .agg(F.count("*").alias("cwb"))
    )
    scored = (
        doc_bigrams(df, with_id=True)
        .join(big, ["w1", "w2"], "left")
        .join(uni, "w1", "left")
        .select(
            F.col(id_col),
            F.log(
                (F.coalesce(F.col("cwb"), F.lit(0)) + F.lit(k))
                / (F.coalesce(F.col("cw"), F.lit(0))
                   + F.lit(k) * vocab_size)
            ).alias("lp"),
        )
    )
    agg = scored.groupBy(id_col).agg(
        F.count("*").cast("long").alias("n_bigrams"),
        F.round(F.avg("lp"), 6).alias("avg_logp"),
    )
    return df.select(id_col).join(agg, id_col, "left").select(
        id_col,
        F.coalesce(F.col("n_bigrams"), F.lit(0)).cast("long")
        .alias("n_bigrams"),
        F.coalesce(F.col("avg_logp"), F.lit(0.0)).alias("avg_logp"),
    )


def _hashed_grams(
    src: DataFrame, id_col: str | None, text_col: str, num_buckets: int
) -> DataFrame:
    """Explode each doc into hashed uni+bigram feature buckets
    (``h60(gram) % num_buckets``) — DSIR's bag-of-hashed-ngrams."""
    toks = tokens(F.col(text_col))
    bis = F.when(
        F.size(toks) >= 2,
        F.transform(
            F.sequence(F.lit(0), F.size(toks) - 2),
            lambda i: F.concat_ws(" ", toks[i], toks[i + 1]),
        ),
    ).otherwise(F.array().cast("array<string>"))
    cols = [F.col(id_col)] if id_col else []
    return src.select(
        *cols, F.explode(F.concat(toks, bis)).alias("gram")
    ).select(
        *cols, (h60(F.col("gram")) % num_buckets).alias("bucket")
    )


def dsir_logweights(
    df: DataFrame,
    target_df: DataFrame,
    raw_df: DataFrame | None = None,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_buckets: int = 64,
    a: float = 0.5,
) -> DataFrame:
    """DSIR importance weights (Xie et al. 2023, "Data Selection for
    Language Models via Importance Resampling"): hashed uni+bigram
    features, two smoothed bag-of-buckets unigram models — the TARGET
    distribution (the domain you want more of) and the RAW
    distribution (the corpus you are selecting from, default ``df``) —
    and per document the log importance weight
    ``Σ_grams [ln p_target(bucket) − ln p_raw(bucket)]`` with add-``a``
    smoothing.  Select by top weight or Gumbel-perturbed resampling.

    Returns ``(id_col, n_feats, log_weight)``; docs with no tokens get
    ``(0, 0.0)``.  ``num_buckets`` is the scale knob — DSIR uses 10⁴+
    in production; the model tables are bucket-count-bounded, so both
    "training" passes are map-side-combined counts and the scoring
    pass is one keyed join, independent of corpus size."""
    raw = raw_df if raw_df is not None else df
    t_feats = _hashed_grams(target_df, None, text_col, num_buckets)
    r_feats = _hashed_grams(raw, None, text_col, num_buckets)
    tc = t_feats.groupBy("bucket").agg(F.count("*").alias("ct"))
    rc = r_feats.groupBy("bucket").agg(F.count("*").alias("cr"))
    n_t = t_feats.count()
    n_r = r_feats.count()
    denom_t = n_t + a * num_buckets
    denom_r = n_r + a * num_buckets
    scored = (
        _hashed_grams(df, id_col, text_col, num_buckets)
        .join(tc, "bucket", "left")
        .join(rc, "bucket", "left")
        .select(
            F.col(id_col),
            (
                F.log((F.coalesce(F.col("ct"), F.lit(0)) + F.lit(a))
                      / F.lit(denom_t))
                - F.log((F.coalesce(F.col("cr"), F.lit(0)) + F.lit(a))
                        / F.lit(denom_r))
            ).alias("lw"),
        )
    )
    agg = scored.groupBy(id_col).agg(
        F.count("*").cast("long").alias("n_feats"),
        F.round(F.sum("lw"), 6).alias("log_weight"),
    )
    return df.select(id_col).join(agg, id_col, "left").select(
        id_col,
        F.coalesce(F.col("n_feats"), F.lit(0)).cast("long")
        .alias("n_feats"),
        F.coalesce(F.col("log_weight"), F.lit(0.0)).alias("log_weight"),
    )


#: Divisor of the h60 uniform.  2^60 + 1 is not a double (it rounds
#: back to 2^60); 2^60 + 2^8 is the next double up, so
#: ``u = (h60 + 1) / _U_DENOM`` stays strictly inside (0, 1) even where
#: ``h60 + 1`` itself rounds up to 2^60.
_U_DENOM = float((1 << 60) + (1 << 8))


def gumbel_noise(h: Column) -> Column:
    """Standard Gumbel noise ``-log(-log(u))`` from an h60 hash column
    (``u`` uniform in (0, 1)); finite for every h60 value."""
    u = (h.cast("double") + F.lit(1.0)) / F.lit(_U_DENOM)
    return -F.log(-F.log(u))


def dsir_resample(
    weights: DataFrame,
    k: int,
    id_col: str = "doc_id",
    weight_col: str = "log_weight",
    seed: str = "dsir",
) -> DataFrame:
    """The resampling half of DSIR: draw ``k`` documents WITHOUT
    replacement with probability ∝ exp(weight) via the Gumbel-top-k
    trick — ``argtop_k(log_weight + Gumbel noise)`` is exactly
    importance resampling (Xie et al. 2023 §2; Vieira 2014).  The
    noise is seeded h60 uniform per doc id, so the draw is
    deterministic and engine-reproducible.  Plan shape:
    ``TakeOrderedAndProject`` over one per-row projection — no global
    sort, no driver-side randomness."""
    gumbel = gumbel_noise(
        h60(F.concat(F.lit(seed), F.col(id_col).cast("string")))
    )
    return (
        weights.select(
            F.col(id_col),
            F.col(weight_col),
            F.round(F.col(weight_col) + gumbel, 6).alias("key"),
        )
        .orderBy(F.desc("key"), F.asc(id_col))
        .limit(k)
    )


def vocab_topk(
    df: DataFrame, k: int = 100, text_col: str = "text"
) -> DataFrame:
    """Top-``k`` corpus vocabulary: ``(word, cnt)`` by descending
    frequency, word-ascending tie-break (deterministic cut).

    Plan shape: explode → partial map-side count → final count →
    ``TakeOrderedAndProject`` (orderBy+limit; no global sort of the
    full vocabulary).  The shuffle is keyed by word and sized by
    vocabulary, not corpus — sublinear at 100 TB.
    """
    return (
        df.select(F.explode(tokens(F.col(text_col))).alias("word"))
        .groupBy("word")
        .agg(F.count("*").alias("cnt"))
        .orderBy(F.desc("cnt"), F.asc("word"))
        .limit(k)
    )
