"""Deduplication operators: exact, n-gram Jaccard, MinHash+LSH,
SimHash, embedding-cosine near-dup.

Scale design (the 100 TB story):

- **exact**: one hash-groupBy on a 60-bit content hash — map-side
  partial agg, AQE-sized shuffle; never compares full texts.
- **n-gram Jaccard**: shingle → explode → self-join *on shingle* →
  pair-count.  The shingle join is the classic inverted-index trick:
  candidate pairs are generated only for docs sharing a shingle, so
  work is Σ_shingle df(s)² instead of n².  Hot shingles (stopword
  runs) are dropped by a document-frequency cap — the same skew
  guard as the hub-vertex salting in the graph apps.
- **MinHash + LSH**: k md5-derived hash functions → per-doc signature
  → b bands hashed to buckets → self-join per bucket.  Candidate
  verification re-checks true Jaccard on the candidates only.
- **SimHash**: 60-bit sign-aggregated fingerprint; near-dups =
  fingerprints within Hamming distance d (joined via band exact-match
  on bit chunks).
- **embedding cosine**: see ``similarity``; near-dup = cosine ≥ τ.

All hashes are ``h60`` (md5-derived) so the DuckDB oracle reproduces
signatures exactly; no rand(), no JVM-private hash functions in
results.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from graphscope_spark.functions.text import h60, norm_text, tokens


# ------------------------------------------------------------- exact
def exact_dedup_groups(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """``(doc_id, dup_count)`` — one representative (min id) per
    distinct normalized content, with its group size.

    Groups on the full sha256 of the normalized text, not a 60-bit
    hash: at 10^12 docs a 60-bit key has birthday collisions around
    2^30 — silently merging distinct documents — while 256 bits stay
    collision-free at any realistic corpus size.  The mining pipeline
    already carries sha256 per row (``sources/miner.py``), so this
    costs nothing extra at ingest."""
    return (
        df.select(
            F.col(id_col), F.sha2(norm_text(F.col(text_col)), 256).alias("h")
        )
        .groupBy("h")
        .agg(
            F.min(id_col).alias(id_col),
            F.count(F.lit(1)).cast("long").alias("dup_count"),
        )
        .select(id_col, "dup_count")
    )


# ------------------------------------------------------------- lines
def remove_duplicated_lines(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    min_docs: int = 2,
    min_chars: int = 10,
    sep: str = "\n",
) -> DataFrame:
    """CCNet-style duplicated-line removal: drop EVERY occurrence of
    any line that (a) is at least ``min_chars`` characters after
    trimming and (b) appears in at least ``min_docs`` DISTINCT
    documents, then reassemble each document in original line order.
    Returns ``(id_col, text_col, n_removed)`` — one row per input
    document, empty text when every line was boilerplate or the text
    is NULL.

    This is the standard web-corpus curation pass that strips shared
    boilerplate (navigation bars, license headers, cookie banners)
    the document-level dedup family above cannot touch: the documents
    differ, the lines repeat.  Short lines are exempt so structural
    tokens (blank lines, braces, separators) survive.  A line
    repeated many times WITHIN one document is not removed — that is
    a repetition signal (``functions/text.repetition_stats``), not
    cross-document boilerplate.

    Scale shape (100 TB): posexplode → groupBy(line) countDistinct →
    left join back → one per-doc ``array_sort(collect_list(struct))``
    reassembly.  The blocklist is only the lines that cross the
    ``min_docs`` threshold — tiny relative to the corpus — and the
    join/groupBy shuffle key is the line string (switch to
    ``sha2(line, 256)`` when average line length outgrows 64 bytes;
    a 64-bit hash would birthday-collide near 2^32 distinct lines
    and silently delete innocent text).  Zero Python in the plan."""
    # NULL text reads as empty: split(NULL) would explode to no rows
    # and drop the document
    text = F.coalesce(F.col(text_col), F.lit(""))
    lines = df.select(
        F.col(id_col),
        F.posexplode(F.split(text, sep)).alias("pos", "line"),
    )
    dup = (
        lines.where(F.length(F.trim(F.col("line"))) >= min_chars)
        .groupBy("line")
        .agg(F.countDistinct(id_col).alias("ndocs"))
        .where(F.col("ndocs") >= min_docs)
        .select("line", F.lit(True).alias("is_dup"))
    )
    marked = lines.join(dup, "line", "left")
    return marked.groupBy(id_col).agg(
        F.concat_ws(
            sep,
            F.transform(
                F.array_sort(
                    F.collect_list(
                        F.when(F.col("is_dup").isNull(),
                               F.struct("pos", "line"))
                    )
                ),
                lambda s: s["line"],
            ),
        ).alias(text_col),
        F.sum(F.when(F.col("is_dup").isNotNull(), 1).otherwise(0))
        .cast("long").alias("n_removed"),
    )


def remove_duplicated_spans(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 5,
    min_docs: int = 2,
) -> DataFrame:
    """Cross-document duplicate-SPAN removal, the distributed
    rolling-window approximation of exact-substring dedup (Lee et al.
    2021, "Deduplicating Training Data Makes Language Models Better",
    which uses a suffix array; C4 applies the same idea at
    three-sentence granularity).  Every ``n``-token window that occurs
    in at least ``min_docs`` DISTINCT documents is a duplicate span;
    the lowest-id document containing it (the first occurrence) keeps
    its text, every other document has all tokens covered by any
    duplicate-span occurrence removed.  Operates on the normalized
    token stream (lowercased, whitespace-collapsed — the same stream
    the shingle dedup family uses); returns ``(id_col, text_col,
    n_removed)`` with one row per input document.

    Within-document repeats are NOT removed (that is a repetition
    signal, ``functions/text.repetition_stats``); documents shorter
    than ``n`` tokens pass through untouched.

    Scale shape (100 TB): one span per token (explode), groupBy(span)
    with map-side combine to find the tiny cross-doc blocklist, a
    keyed join back, an n-wide position explode for coverage, and one
    per-doc ``array_sort(collect_list(struct))`` reassembly — all
    keyed shuffles, no cartesian.  The span string is the shuffle key
    for oracle exactness; at corpus scale switch it to
    ``sha2(span, 256)`` (same birthday-bound note as line dedup).  A
    suffix array finds variable-length duplicates this window method
    misses below length ``n``; the window method is the one that
    shards over 1000 executors."""
    toks = tokens(F.col(text_col))
    base = df.select(F.col(id_col), toks.alias("t"))
    spans = (
        base.where(F.size("t") >= n)
        .select(
            F.col(id_col),
            F.explode(
                F.transform(
                    F.sequence(F.lit(0), F.size("t") - n),
                    lambda i: F.struct(
                        i.alias("start"),
                        F.array_join(
                            F.slice("t", i + 1, F.lit(n)), " "
                        ).alias("span"),
                    ),
                )
            ).alias("s"),
        )
        .select(
            id_col,
            F.col("s.start").alias("start"),
            F.col("s.span").alias("span"),
        )
    )
    dup = (
        spans.groupBy("span")
        .agg(
            F.countDistinct(id_col).alias("ndocs"),
            F.min(id_col).alias("owner"),
        )
        .where(F.col("ndocs") >= min_docs)
        .select("span", "owner")
    )
    victims = (
        spans.join(dup, "span")
        .where(F.col(id_col) != F.col("owner"))
        .select(
            F.col(id_col),
            F.explode(
                F.sequence(F.col("start"), F.col("start") + (n - 1))
            ).alias("pos"),
        )
        .distinct()
    )
    # only documents that actually contain a non-owner duplicate span
    # pay the token-level explode + reassembly; the (typically vast)
    # untouched majority passes through as one array_join — the
    # corpus-sized token shuffle this saves is what matters at 100 TB.
    # (The victims subtree appears in both branches; a caller looping
    # over huge corpora can persist() the returned plan's parents, but
    # the whole function stays lazy by contract.)
    victim_docs = victims.select(id_col).distinct()
    touched = df.join(victim_docs, id_col, "left_semi")
    tokpos = touched.select(
        F.col(id_col), F.posexplode(toks).alias("pos", "tok")
    )
    kept = tokpos.join(victims, [id_col, "pos"], "left_anti")
    out = kept.groupBy(id_col).agg(
        F.concat_ws(
            " ",
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "tok"))),
                lambda s: s["tok"],
            ),
        ).alias(text_col),
        F.count("*").cast("long").alias("n_kept"),
    )
    sizes = touched.select(
        F.col(id_col), F.size(toks).cast("long").alias("n_toks")
    )
    touched_out = sizes.join(out, id_col, "left").select(
        id_col,
        F.coalesce(F.col(text_col), F.lit("")).alias(text_col),
        (F.col("n_toks") - F.coalesce(F.col("n_kept"), F.lit(0)))
        .cast("long")
        .alias("n_removed"),
    )
    untouched = df.join(victim_docs, id_col, "left_anti").select(
        F.col(id_col),
        F.array_join(toks, " ").alias(text_col),
        F.lit(0).cast("long").alias("n_removed"),
    )
    return touched_out.unionByName(untouched)


# ---------------------------------------------------------- shingles
def word_shingles(
    df: DataFrame,
    n: int = 3,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Distinct word n-gram shingles: ``(id, shingle string)``."""
    toks = tokens(F.col(text_col))
    shingles = F.when(
        F.size(toks) >= n,
        F.array_distinct(
            F.transform(
                F.sequence(F.lit(1), F.size(toks) - (n - 1)),
                lambda i: F.concat_ws(" ", F.slice(toks, i, n)),
            )
        ),
    ).otherwise(F.array().cast("array<string>"))
    return df.select(
        F.col(id_col), F.explode(shingles).alias("shingle")
    )


def ngram_jaccard_pairs(
    df: DataFrame,
    n: int = 3,
    threshold: float = 0.5,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_shingle_df: int | None = None,
) -> DataFrame:
    """Pairs ``(id_a, id_b, jaccard)`` with n-gram Jaccard ≥ threshold
    (id_a < id_b).  ``max_shingle_df`` drops shingles appearing in
    more than that many docs (stop-shingle skew guard) — None keeps
    all (exact semantics, used when an oracle must match)."""
    sh = word_shingles(df, n, id_col, text_col)
    if max_shingle_df is not None:
        hot = (
            sh.groupBy("shingle")
            .agg(F.count(F.lit(1)).alias("df"))
            .where(F.col("df") > max_shingle_df)
            .select("shingle")
        )
        sh = sh.join(hot, "shingle", "left_anti")
    sh = sh.persist()
    sizes = sh.groupBy(id_col).agg(F.count(F.lit(1)).alias("sz"))
    a = sh.select(F.col(id_col).alias("id_a"), "shingle")
    b = sh.select(F.col(id_col).alias("id_b"), "shingle")
    inter = (
        a.join(b, "shingle")
        .where(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).alias("inter"))
    )
    return (
        inter.join(sizes.withColumnRenamed(id_col, "id_a")
                   .withColumnRenamed("sz", "sz_a"), "id_a")
        .join(sizes.withColumnRenamed(id_col, "id_b")
              .withColumnRenamed("sz", "sz_b"), "id_b")
        .withColumn(
            "jaccard",
            F.col("inter")
            / (F.col("sz_a") + F.col("sz_b") - F.col("inter")),
        )
        .where(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", F.round("jaccard", 6).alias("jaccard"))
    )


# ----------------------------------------------------------- minhash
def minhash_signatures(
    df: DataFrame,
    num_hashes: int = 12,
    n: int = 3,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """``(id, h0..h{k-1})`` — MinHash signature over word n-gram
    shingles; hash family ``h_i(s) = h60(i || ':' || s)``.  Docs with
    no shingles get the empty-set sentinel h60('∅:i')."""
    sh = word_shingles(df, n, id_col, text_col)
    mins = [
        F.min(h60(F.concat(F.lit(f"{i}:"), F.col("shingle")))).alias(f"h{i}")
        for i in range(num_hashes)
    ]
    sig = sh.groupBy(id_col).agg(*mins)
    # keep docs with no shingles (deterministic sentinel signature)
    empty = [
        h60(F.concat(F.lit(f"{i}:"), F.lit("∅"))).alias(f"h{i}")
        for i in range(num_hashes)
    ]
    all_ids = df.select(F.col(id_col))
    return (
        all_ids.join(sig, id_col, "left")
        .select(
            id_col,
            *[
                F.coalesce(F.col(f"h{i}"), empty[i]).alias(f"h{i}")
                for i in range(num_hashes)
            ],
        )
    )


def lsh_candidate_pairs(
    signatures: DataFrame,
    bands: int = 4,
    rows_per_band: int = 3,
    id_col: str = "doc_id",
    max_bucket_size: int | None = None,
) -> DataFrame:
    """Distinct candidate pairs ``(id_a, id_b)`` sharing at least one
    LSH band bucket (id_a < id_b).  Band bucket = h60 of the band's
    concatenated signature slice.

    ``max_bucket_size`` drops (band, bucket) groups holding more than
    that many docs before the self-join — the skew guard mirroring
    ``ngram_jaccard_pairs``'s ``max_shingle_df``: a bucket of k docs
    emits k²/2 candidate pairs, so one pathological bucket (e.g.
    boilerplate-identical signatures on a web corpus) dominates the
    join.  None keeps all buckets (exact LSH recall, used when an
    oracle must match).  Callers should also exclude no-shingle docs
    BEFORE banding (``minhash_dedup_pairs`` does) — the sentinel
    signature of :func:`minhash_signatures` is identical for every
    empty doc, i.e. one quadratic bucket per band."""
    per_band = []
    for b in range(bands):
        cols = [
            F.col(f"h{b * rows_per_band + r}") for r in range(rows_per_band)
        ]
        bucket = h60(F.concat_ws(",", *[c.cast("string") for c in cols]))
        per_band.append(
            signatures.select(
                F.col(id_col), F.lit(b).alias("band"), bucket.alias("bucket")
            )
        )
    buckets = per_band[0]
    for p in per_band[1:]:
        buckets = buckets.unionByName(p)
    if max_bucket_size is not None:
        # persist: buckets (and the whole signature computation under
        # it) otherwise re-evaluates for the hot-bucket aggregation on
        # top of the two self-join sides — exchange reuse across the
        # differing aggregations is not guaranteed
        buckets = buckets.persist()
        hot = (
            buckets.groupBy("band", "bucket")
            .agg(F.count(F.lit(1)).alias("k"))
            .where(F.col("k") > max_bucket_size)
            .select("band", "bucket")
        )
        buckets = buckets.join(hot, ["band", "bucket"], "left_anti")
    a = buckets.select(F.col(id_col).alias("id_a"), "band", "bucket")
    b_ = buckets.select(F.col(id_col).alias("id_b"), "band", "bucket")
    return (
        a.join(b_, ["band", "bucket"])
        .where(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .distinct()
    )


def minhash_dedup_pairs(
    df: DataFrame,
    num_hashes: int = 12,
    bands: int = 4,
    n: int = 3,
    threshold: float = 0.5,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_bucket_size: int | None = None,
) -> DataFrame:
    """Full MinHash-LSH pipeline: signatures → band buckets →
    candidates → verify true Jaccard ≥ threshold on candidates only.
    Returns ``(id_a, id_b, jaccard)``.

    No-shingle (sub-n-gram) docs are anti-joined out BEFORE banding:
    they all share the identical sentinel signature, so on a corpus
    with k such docs every band would hold one k-sized bucket →
    ~k²/2 candidate pairs that Jaccard-verify to nothing.  Dropping
    them is lossless — a doc with no shingles has Jaccard 0 with
    everything — and turns a latent quadratic blowup into a semi-join.
    The verified OUTPUT is therefore identical with or without the
    filter, which keeps the SQL oracle exact."""
    rows_per_band = num_hashes // bands
    sh = word_shingles(df, n, id_col, text_col).persist()
    nonempty = sh.select(F.col(id_col)).distinct()
    sigs = minhash_signatures(df, num_hashes, n, id_col, text_col).join(
        nonempty, id_col, "left_semi"
    )
    cands = lsh_candidate_pairs(
        sigs, bands, rows_per_band, id_col, max_bucket_size
    )
    sizes = sh.groupBy(id_col).agg(F.count(F.lit(1)).alias("sz"))
    inter = (
        cands.join(
            sh.select(F.col(id_col).alias("id_a"), "shingle"), "id_a"
        )
        .join(sh.select(F.col(id_col).alias("id_b"), "shingle"),
              ["id_b", "shingle"])
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).alias("inter"))
    )
    return (
        inter.join(sizes.withColumnRenamed(id_col, "id_a")
                   .withColumnRenamed("sz", "sz_a"), "id_a")
        .join(sizes.withColumnRenamed(id_col, "id_b")
              .withColumnRenamed("sz", "sz_b"), "id_b")
        .withColumn(
            "jaccard",
            F.col("inter") / (F.col("sz_a") + F.col("sz_b") - F.col("inter")),
        )
        .where(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", F.round("jaccard", 6).alias("jaccard"))
    )


def minhash_dedup_groups(
    df: DataFrame,
    num_hashes: int = 12,
    bands: int = 4,
    n: int = 3,
    threshold: float = 0.5,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """``(doc_id, group_id)`` — near-duplicate GROUPS: the verified
    MinHash-LSH pairs form a graph whose connected components are the
    dup clusters; ``group_id`` = min doc id in the cluster (the canonical
    representative a dedup pipeline keeps).  Docs with no near-dup get
    their own id.

    This is the operator a training-data pipeline actually consumes —
    pairs alone over-count (A≈B≈C yields 2-3 pairs but ONE keep
    decision).  Composition: LSH candidate generation → pair verify →
    min-label WCC over the (tiny, sparse) pair graph — the component
    step runs on |pairs| rows, not |docs|."""
    from graphscope_spark.graph import Graph
    from graphscope_spark.operators.wcc import wcc

    pairs = minhash_dedup_pairs(
        df, num_hashes, bands, n, threshold, id_col, text_col
    ).select(F.col("id_a").alias("src"), F.col("id_b").alias("dst"))
    members = (
        pairs.select(F.col("src").alias("id"))
        .unionByName(pairs.select(F.col("dst").alias("id")))
        .distinct()
    )
    g = Graph.from_edges(pairs, directed=False, vertices=members)
    comp = wcc(g).select(
        F.col("id").alias(id_col), F.col("comp").alias("group_id")
    )
    return (
        df.select(F.col(id_col))
        .join(comp, id_col, "left")
        .select(id_col, F.coalesce("group_id", F.col(id_col)).alias("group_id"))
    )


# ----------------------------------------------------------- simhash
SIMHASH_BITS = 60


def simhash(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """``(id, simhash long)`` — 60-bit SimHash over the token multiset
    (term frequency weighted, the standard Charikar construction)."""
    tok = df.select(
        F.col(id_col), F.explode(tokens(F.col(text_col))).alias("tok")
    ).withColumn("th", h60(F.col("tok")))
    bit_sums = tok.groupBy(id_col).agg(
        *[
            F.sum(
                F.when(F.shiftright(F.col("th"), j).bitwiseAND(1) == 1, 1)
                .otherwise(-1)
            ).alias(f"b{j}")
            for j in range(SIMHASH_BITS)
        ]
    )
    fp = None
    for j in range(SIMHASH_BITS):
        term = F.when(F.col(f"b{j}") > 0, F.lit(1).cast("long") * (2 ** j)).otherwise(
            F.lit(0).cast("long")
        )
        fp = term if fp is None else fp + term
    sig = bit_sums.select(F.col(id_col), fp.alias("simhash"))
    # empty docs: simhash 0
    return (
        df.select(F.col(id_col))
        .join(sig, id_col, "left")
        .select(
            id_col, F.coalesce("simhash", F.lit(0).cast("long")).alias("simhash")
        )
    )


def simhash_near_pairs(
    df: DataFrame,
    max_hamming: int = 3,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Pairs with SimHash Hamming distance ≤ ``max_hamming``
    (id_a < id_b), found by the chunk-match trick: split the 60-bit
    fingerprint into ``max_hamming + 1`` chunks — any pair within the
    distance must agree exactly on at least one chunk, so candidates
    come from equality joins on chunks, never a cross join."""
    sig = simhash(df, id_col, text_col).persist()
    chunks = max_hamming + 1
    width = SIMHASH_BITS // chunks
    parts = []
    for ci in range(chunks):
        chunk = F.shiftright(F.col("simhash"), ci * width).bitwiseAND(
            (1 << width) - 1
        )
        parts.append(
            sig.select(
                F.col(id_col), F.lit(ci).alias("ci"), chunk.alias("chunk"),
                "simhash",
            )
        )
    all_chunks = parts[0]
    for p in parts[1:]:
        all_chunks = all_chunks.unionByName(p)
    a = all_chunks.select(
        F.col(id_col).alias("id_a"), "ci", "chunk",
        F.col("simhash").alias("sh_a"),
    )
    b = all_chunks.select(
        F.col(id_col).alias("id_b"), "ci", "chunk",
        F.col("simhash").alias("sh_b"),
    )
    cands = (
        a.join(b, ["ci", "chunk"])
        .where(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b", "sh_a", "sh_b")
        .distinct()
    )
    hamming = F.bit_count(
        F.col("sh_a").bitwiseXOR(F.col("sh_b"))
    )
    return (
        cands.withColumn("hamming", hamming.cast("int"))
        .where(F.col("hamming") <= max_hamming)
        .select("id_a", "id_b", "hamming")
    )


# ------------------------------------------------- embedding near-dup
def embedding_near_dup_pairs(
    df: DataFrame,
    threshold: float = 0.95,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Pairs ``(id_a, id_b, cos)`` with cosine ≥ threshold
    (id_a < id_b).  Brute-force pair join — the oracle-checkable
    baseline; the LSH-bucketed scale path is
    ``similarity.cosine_lsh_pairs``."""
    v = df.select(
        F.col(id_col).alias("id"),
        F.transform(F.col(vec_col), lambda x: x.cast("double")).alias("v"),
    ).withColumn(
        "norm",
        F.sqrt(
            F.aggregate(
                F.zip_with(F.col("v"), F.col("v"), lambda a, b: a * b),
                F.lit(0.0),
                lambda acc, x: acc + x,
            )
        ),
    )
    a = v.select(
        F.col("id").alias("id_a"), F.col("v").alias("va"),
        F.col("norm").alias("na"),
    )
    b = v.select(
        F.col("id").alias("id_b"), F.col("v").alias("vb"),
        F.col("norm").alias("nb"),
    )
    dot = F.aggregate(
        F.zip_with(F.col("va"), F.col("vb"), lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    return (
        a.crossJoin(b)
        .where(F.col("id_a") < F.col("id_b"))
        .withColumn("cos", dot / (F.col("na") * F.col("nb")))
        .where(F.col("cos") >= threshold)
        .select("id_a", "id_b", F.round("cos", 6).alias("cos"))
    )
