"""Training-data ops vs pure-Python oracles (hashlib/itertools math,
no Spark) on a small synthetic document set with edge cases: empty
text, single word, exact duplicates, near duplicates."""

import hashlib
import math
import re

import pytest
from pyspark.sql import functions as F

from graphscope_spark.functions.dedup import (
    SIMHASH_BITS,
    embedding_near_dup_pairs,
    exact_dedup_groups,
    lsh_candidate_pairs,
    minhash_dedup_pairs,
    minhash_signatures,
    ngram_jaccard_pairs,
    simhash,
    simhash_near_pairs,
)
from graphscope_spark.functions.multimodal import (
    FEATURE_DIM,
    attach_fake_payloads,
    extract_features,
    frame_sample_plan,
)
from graphscope_spark.functions.similarity import (
    cosine_lsh_pairs,
    cosine_topk,
    cosine_topk_pandas,
)
from graphscope_spark.functions.text import (
    fingerprint,
    lang_id,
    text_stats,
)

DOCS = [
    (0, "the quick brown fox jumps over the lazy dog", "en"),
    (1, "the quick brown fox jumps over the lazy cat", "en"),
    (2, "der schnelle braune fuchs springt und ist nicht faul", "de"),
    (3, "", "und"),
    (4, "word", "und"),
    (5, "the quick brown fox jumps over the lazy dog", "en"),  # dup of 0
    (6, "le chat est dans la maison et les oiseaux", "fr"),
    (7, "el perro es grande y los gatos son una familia", "es"),
    (8, "completely unrelated text about spark engines!", "und"),
]


# ---------------------------------------------------------- oracles
def py_h60(s: str) -> int:
    return int(hashlib.md5(s.encode()).hexdigest()[:15], 16)


def py_norm(s: str) -> str:
    return re.sub(r"\s+", " ", s.strip()).lower()


def py_tokens(s: str) -> list[str]:
    return [] if not s.strip() else py_norm(s).split(" ")


def py_shingles(s: str, n: int = 3) -> set[str]:
    t = py_tokens(s)
    return {" ".join(t[i : i + n]) for i in range(len(t) - n + 1)} if len(t) >= n else set()


def py_minhash(s: str, k: int) -> list[int]:
    sh = py_shingles(s)
    if not sh:
        return [py_h60(f"{i}:∅") for i in range(k)]
    return [min(py_h60(f"{i}:{x}") for x in sh) for i in range(k)]


def py_simhash(s: str) -> int:
    toks = py_tokens(s)
    if not toks:
        return 0
    fp = 0
    for j in range(SIMHASH_BITS):
        acc = sum(1 if (py_h60(t) >> j) & 1 else -1 for t in toks)
        if acc > 0:
            fp |= 1 << j
    return fp


@pytest.fixture(scope="module")
def docs_df(spark):
    return spark.createDataFrame(
        [(i, t) for i, t, _ in DOCS], "doc_id long, text string"
    )


def test_text_stats(spark, docs_df):
    rows = {r["doc_id"]: r for r in text_stats(docs_df).collect()}
    for i, t, _ in DOCS:
        toks = py_tokens(t)
        assert rows[i]["n_tokens"] == len(toks)
        punct = len(re.findall(r"[^A-Za-z0-9\s]", t))
        assert rows[i]["n_punct"] == punct
        if toks:
            assert math.isclose(
                rows[i]["mean_word_len"],
                round(sum(map(len, toks)) / len(toks), 6),
                abs_tol=1e-09,
            )


def test_lang_id(spark, docs_df):
    got = {r["doc_id"]: r["lang_pred"] for r in lang_id(docs_df).collect()}
    want = {i: lang for i, _, lang in DOCS}
    assert got == want


def test_fingerprint(spark, docs_df):
    got = {r["doc_id"]: r["fp"] for r in fingerprint(docs_df).collect()}
    for i, t, _ in DOCS:
        assert got[i] == py_h60(py_norm(t))


def test_exact_dedup(spark, docs_df):
    got = {
        r["doc_id"]: r["dup_count"]
        for r in exact_dedup_groups(docs_df).collect()
    }
    # doc 5 duplicates doc 0 -> representative 0 with count 2; 5 absent
    assert got[0] == 2 and 5 not in got
    assert sum(got.values()) == len(DOCS)


def test_ngram_jaccard(spark, docs_df):
    got = {
        (r["id_a"], r["id_b"]): r["jaccard"]
        for r in ngram_jaccard_pairs(docs_df, threshold=0.3).collect()
    }
    # oracle: all pairs with true jaccard >= 0.3
    want = {}
    for i, ti, _ in DOCS:
        for j, tj, _ in DOCS:
            if i < j:
                si, sj = py_shingles(ti), py_shingles(tj)
                if si and sj:
                    jac = len(si & sj) / len(si | sj)
                    if jac >= 0.3:
                        want[(i, j)] = round(jac, 6)
    assert got == want


def test_minhash_signatures_parity(spark, docs_df):
    k = 8
    rows = {
        r["doc_id"]: [r[f"h{i}"] for i in range(k)]
        for r in minhash_signatures(docs_df, num_hashes=k).collect()
    }
    for i, t, _ in DOCS:
        assert rows[i] == py_minhash(t, k)


def test_minhash_lsh_finds_near_dups(spark, docs_df):
    pairs = {
        (r["id_a"], r["id_b"])
        for r in minhash_dedup_pairs(docs_df, threshold=0.3).collect()
    }
    assert (0, 5) in pairs  # exact dup always caught
    assert (0, 1) in pairs  # 1-word-different docs share most shingles
    sigs = minhash_signatures(docs_df, num_hashes=12)
    cands = {
        (r["id_a"], r["id_b"])
        for r in lsh_candidate_pairs(sigs, bands=4, rows_per_band=3).collect()
    }
    assert pairs <= cands  # verification only filters candidates


def test_simhash_parity(spark, docs_df):
    got = {r["doc_id"]: r["simhash"] for r in simhash(docs_df).collect()}
    for i, t, _ in DOCS:
        assert got[i] == py_simhash(t)


def test_simhash_near_pairs(spark, docs_df):
    got = {
        (r["id_a"], r["id_b"]): r["hamming"]
        for r in simhash_near_pairs(docs_df, max_hamming=10).collect()
    }
    want = {}
    for i, ti, _ in DOCS:
        for j, tj, _ in DOCS:
            if i < j:
                d = bin(py_simhash(ti) ^ py_simhash(tj)).count("1")
                if d <= 10:
                    want[(i, j)] = d
    assert got == want


# ----------------------------------------------------- similarity
@pytest.fixture(scope="module")
def emb_df(spark):
    import random

    rng = random.Random(3)
    rows = []
    for i in range(40):
        base = [rng.uniform(-1, 1) for _ in range(16)]
        rows.append((i, [float(x) for x in base]))
        if i % 10 == 0:  # a near-duplicate neighbor
            rows.append(
                (1000 + i, [float(x + rng.uniform(-0.01, 0.01)) for x in base])
            )
    return spark.createDataFrame(rows, "vec_id long, embedding array<float>")


def py_cosine(a, b):
    dot = sum(x * y for x, y in zip(a, b))
    na = math.sqrt(sum(x * x for x in a))
    nb = math.sqrt(sum(y * y for y in b))
    return dot / (na * nb)


def test_cosine_topk_matches_bruteforce(spark, emb_df):
    vecs = {r["vec_id"]: [float(x) for x in r["embedding"]]
            for r in emb_df.collect()}
    queries = emb_df.where(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    got = cosine_topk(emb_df, queries, k=5)
    got_pd = cosine_topk_pandas(emb_df, queries, k=5)
    s1 = sorted(map(tuple, got.collect()))
    s2 = sorted(map(tuple, got_pd.collect()))
    assert s1 == s2
    for qid in range(3):
        ranked = sorted(
            ((round(py_cosine(vecs[qid], v), 6), -i) for i, v in vecs.items()
             if i != qid),
            reverse=True,
        )[:5]
        want = {(-i) for _, i in ranked}
        got_ids = {r[1] for r in s1 if r[0] == qid}
        assert got_ids == want


def test_embedding_near_dup_and_lsh(spark, emb_df):
    vecs = {r["vec_id"]: [float(x) for x in r["embedding"]]
            for r in emb_df.collect()}
    exact = {
        (r["id_a"], r["id_b"])
        for r in embedding_near_dup_pairs(emb_df, threshold=0.99).collect()
    }
    want = {
        (i, j)
        for i in vecs for j in vecs
        if i < j and py_cosine(vecs[i], vecs[j]) >= 0.99
    }
    assert exact == want and len(want) >= 4  # the planted near-dups
    approx = {
        (r["id_a"], r["id_b"])
        for r in cosine_lsh_pairs(
            emb_df, threshold=0.99, num_planes=12, bands=4, dim=16
        ).collect()
    }
    assert approx <= want  # no false positives (exact verify step)
    assert len(approx) >= len(want) * 0.5  # reasonable recall


# ----------------------------------------------------- multimodal
def test_multimodal_pipeline(spark, docs_df):
    media = attach_fake_payloads(docs_df)
    feats = extract_features(media)
    rows = {r["media_id"]: r for r in feats.collect()}
    assert len(rows) == len(DOCS)
    for i, t, _ in DOCS:
        assert rows[i]["payload_sha256"] == hashlib.sha256(
            t.encode()
        ).hexdigest()
        assert len(rows[i]["feature"]) == FEATURE_DIM
        digest = hashlib.sha256(t.encode()).digest()
        assert rows[i]["feature"][0] == int.from_bytes(digest[:4], "big") / 2**32
    plan = frame_sample_plan(media)
    vids = media.where(F.col("modality") == "video").collect()
    expect = sum(max(1, v["duration_ms"] // 1000) if v["duration_ms"] >= 1000
                 else 1 for v in vids)
    assert plan.count() == expect
    try:
        import PIL  # noqa: F401
        has_pil = True
    except ImportError:
        has_pil = False
    if not has_pil:
        # no decoder available → the real path must fail loudly, not
        # silently return stub features
        with pytest.raises(Exception):
            extract_features(media, decode_stub=False).collect()


def test_multimodal_real_decode_with_pil(spark):
    """Exercises the REAL decode path when PIL is installed (skipped
    in environments without it): a generated PNG round-trips through
    extract_features(decode_stub=False) with its true dimensions."""
    PIL = pytest.importorskip("PIL")  # noqa: N806
    import io

    from PIL import Image

    buf = io.BytesIO()
    Image.new("RGB", (5, 3), (200, 10, 10)).save(buf, format="PNG")
    payload = buf.getvalue()
    media = spark.createDataFrame(
        [(1, "image", bytearray(payload), 5, 3, 0)],
        "media_id long, modality string, payload binary,"
        " width int, height int, duration_ms int",
    )
    row = extract_features(media, decode_stub=False).collect()[0]
    # decoder resizes to 2x2 grayscale: [w, h, npx, mean, p0..p3]
    assert row["feature"][0] == 2.0 and row["feature"][1] == 2.0
    assert row["payload_sha256"] == hashlib.sha256(payload).hexdigest()


def test_minhash_dedup_groups_vs_union_find(spark, docs_df):
    from graphscope_spark.functions.dedup import (
        minhash_dedup_groups,
        minhash_dedup_pairs,
    )

    pairs = [
        (r["id_a"], r["id_b"])
        for r in minhash_dedup_pairs(
            docs_df, num_hashes=12, bands=4, n=2, threshold=0.2
        ).collect()
    ]
    parent = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in pairs:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    ids = [r[0] for r in docs_df.select("doc_id").collect()]
    want = {i: find(i) if i in parent else i for i in ids}
    got = {r["doc_id"]: r["group_id"]
           for r in minhash_dedup_groups(
               docs_df, num_hashes=12, bands=4, n=2, threshold=0.2
           ).collect()}
    assert got == want


def test_remove_duplicated_lines(spark):
    from graphscope_spark.functions.dedup import remove_duplicated_lines

    boiler = "COPYRIGHT 2026 EXAMPLE CORP"   # >=10 chars, in 3 docs
    docs = [
        (1, "\n".join([boiler, "unique alpha line one", "{",
                       "unique alpha line two"])),
        (2, "\n".join([boiler, "unique beta line", "{"])),
        (3, "\n".join(["unique gamma line", boiler, boiler])),
        (4, "\n".join(["{", "solo document line"])),
        (5, boiler),                          # only boilerplate
    ]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    out = {r["doc_id"]: (r["text"], r["n_removed"])
           for r in remove_duplicated_lines(
               df, min_docs=2, min_chars=10).collect()}
    # every occurrence of the boilerplate line is gone (doc 3 loses
    # both copies); short lines like "{" survive even though shared
    assert out[1] == ("unique alpha line one\n{\nunique alpha line two", 1)
    assert out[2] == ("unique beta line\n{", 1)
    assert out[3] == ("unique gamma line", 2)
    assert out[4] == ("{\nsolo document line", 0)
    assert out[5] == ("", 1)
    assert len(out) == 5  # all-boilerplate docs still present


def test_remove_duplicated_lines_keeps_null_text_docs(spark):
    from graphscope_spark.functions.dedup import remove_duplicated_lines

    shared = "a shared long line of text"
    docs = [(1, shared), (2, None), (3, shared)]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    out = {r["doc_id"]: (r["text"], r["n_removed"])
           for r in remove_duplicated_lines(
               df, min_docs=2, min_chars=10).collect()}
    assert out == {1: ("", 1), 2: ("", 0), 3: ("", 1)}


def test_remove_duplicated_lines_min_docs_threshold(spark):
    from graphscope_spark.functions.dedup import remove_duplicated_lines

    shared = "a shared long line of text"
    docs = [(1, shared), (2, shared), (3, "another unique long line")]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    # min_docs=3: the pair-shared line stays
    out = {r["doc_id"]: r["n_removed"]
           for r in remove_duplicated_lines(
               df, min_docs=3, min_chars=10).collect()}
    assert out == {1: 0, 2: 0, 3: 0}
