"""Training-pipeline function tests (dedup / similarity / text)."""

import hashlib

import numpy as np
import pyspark.sql.functions as F
import pytest

from combblas_spark.functions import (
    token_stats,
    quality_score,
    fingerprint,
    exact_dedup,
    shingles,
    minhash_signatures,
    lsh_candidate_pairs,
    jaccard_pairs,
    simhash,
    simhash_near_dups,
    cosine_topk,
    lsh_ann_topk,
)

DOCS = [
    (0, "the quick brown fox jumps over the lazy dog"),
    (1, "the quick brown fox jumps over the lazy cat"),  # near-dup of 0
    (2, "completely different text about spark engines and semirings"),
    (3, "the quick brown fox jumps over the lazy dog"),  # exact dup of 0
    (4, "tiny"),
]


@pytest.fixture()
def docs(spark):
    return spark.createDataFrame(DOCS, "doc_id long, text string")


def test_token_stats(spark, docs):
    got = {r["doc_id"]: r.asDict() for r in token_stats(docs).collect()}
    assert got[0]["n_tokens"] == 9
    assert got[0]["n_distinct_tokens"] == 8  # 'the' twice
    assert got[4]["n_tokens"] == 1
    assert got[0]["n_chars"] == len(DOCS[0][1])


def test_fingerprint_and_exact_dedup(spark, docs):
    fps = {r["doc_id"]: r["fp"] for r in fingerprint(docs).collect()}
    assert fps[0] == fps[3] != fps[1]
    assert fps[0] == hashlib.md5(DOCS[0][1].encode()).hexdigest()
    groups = {r["rep_id"]: r["n_dups"] for r in exact_dedup(docs).collect()}
    assert groups[0] == 2 and groups[1] == 1


def test_minhash_lsh_finds_near_dup(spark, docs):
    sh = shingles(docs, k=3)
    sig = minhash_signatures(sh, num_hashes=8)
    assert sig.groupBy("id").count().filter(F.col("count") != 8).count() == 0
    pairs = lsh_candidate_pairs(sig, bands=4, rows_per_band=2)
    got = {(r["id_a"], r["id_b"]) for r in pairs.collect()}
    assert (0, 3) in got  # exact dups always collide
    jac = {
        (r["id_a"], r["id_b"]): (r["n_common"], r["n_a"], r["n_b"])
        for r in jaccard_pairs(sh, pairs).collect()
    }
    n_common, n_a, n_b = jac[(0, 3)]
    assert n_common == n_a == n_b  # identical shingle sets


def test_simhash(spark, docs):
    sig = simhash(docs)
    got = {r["id"]: r["simhash"] for r in sig.collect()}
    assert got[0] == got[3]  # identical docs -> identical simhash
    # near-dups within a few bits
    nd = simhash_near_dups(sig, band_bits=16, max_hamming=16)
    pairs = {(r["id_a"], r["id_b"]) for r in nd.collect()}
    assert (0, 3) in pairs


def test_simhash_degenerate_bucket_capped(spark):
    # 1000 identical docs share every band bucket; with max_bucket below the
    # bucket size the self-join must emit ZERO pairs instead of ~10^6.
    docs = spark.createDataFrame(
        [(i, "the same boilerplate text repeated everywhere") for i in range(1000)],
        "doc_id long, text string",
    )
    sig = simhash(docs)
    capped = simhash_near_dups(sig, band_bits=15, max_hamming=3, max_bucket=100)
    assert capped.count() == 0
    # a healthy cap still lets small buckets through
    ok = simhash_near_dups(sig, band_bits=15, max_hamming=3, max_bucket=2000)
    assert ok.count() == 1000 * 999 // 2


def test_near_dup_clusters(spark, docs):
    from combblas_spark.functions.dedup import near_dup_clusters

    out = {
        r["doc_id"]: r["canonical_id"]
        for r in near_dup_clusters(docs, k=3, num_hashes=8, bands=4).collect()
    }
    assert len(out) == 5  # every doc has a row, singletons included
    assert out[0] == 0 and out[3] == 0  # exact dups cluster to the min id
    assert out[2] == 2 and out[4] == 4  # dissimilar docs keep themselves
    assert out[1] in (0, 1)  # near-dup joins 0's cluster iff LSH surfaced it


def test_repetition_stats(spark):
    from combblas_spark.functions.text import repetition_stats

    docs = spark.createDataFrame(
        [(0, "a a a b"), (1, "x y x y x"), (2, "solo"), (3, "")],
        "doc_id long, text string",
    )
    got = {r["doc_id"]: r.asDict() for r in repetition_stats(docs).collect()}
    assert len(got) == 4
    # doc0: bigrams 'a a','a a','a b' -> top 2 of 3 slots
    assert got[0]["n_tokens"] == 4 and got[0]["top_token_n"] == 3
    assert got[0]["top_token_e6"] == 750_000
    assert got[0]["top_bigram_n"] == 2 and got[0]["top_bigram_e6"] == 666_666
    # doc1: 'x y' twice of 4 slots
    assert got[1]["top_token_n"] == 3 and got[1]["top_bigram_n"] == 2
    assert got[1]["top_bigram_e6"] == 500_000
    # single-token and empty docs: zero bigrams, no NULLs
    assert got[2]["top_token_n"] == 1 and got[2]["top_bigram_n"] == 0
    assert got[2]["top_token_e6"] == 1_000_000 and got[2]["top_bigram_e6"] == 0
    assert got[3]["n_tokens"] == 0 and got[3]["top_token_n"] == 0
    assert got[3]["top_token_e6"] == 0 and got[3]["top_bigram_e6"] == 0


def test_bpe_pair_counts(spark):
    from combblas_spark.functions.text import bpe_pair_counts

    docs = spark.createDataFrame(
        [(0, "ab ab ab"), (1, "ab cd")], "doc_id long, text string"
    )
    # doc0 pieces: ['ab', ' ab', ' ab'] -> ('ab',' ab'), (' ab',' ab')
    # doc1 pieces: ['ab', ' cd'] -> ('ab',' cd'); all counts 1, tie-broken
    got = [
        (r["piece_a"], r["piece_b"], r["n_pair"])
        for r in bpe_pair_counts(docs, top_k=10).collect()
    ]
    assert got == [(" ab", " ab", 1), ("ab", " ab", 1), ("ab", " cd", 1)]
    # dominant pair rises to the top across docs
    docs2 = docs.union(
        docs.sparkSession.createDataFrame(
            [(2, "x y x y x y")], "doc_id long, text string"
        )
    )
    top = bpe_pair_counts(docs2, top_k=1).collect()[0]
    assert (top["piece_a"], top["piece_b"], top["n_pair"]) == (" x", " y", 2)


def _np_cosine_topk(vecs, k):
    v = np.asarray(vecs, dtype=np.float64)
    nrm = np.linalg.norm(v, axis=1)
    sims = (v @ v.T) / np.outer(nrm, nrm)
    out = {}
    for q in range(len(v)):
        order = sorted(
            (i for i in range(len(v)) if i != q),
            key=lambda i: (-sims[q, i], i),
        )
        out[q] = [(i, sims[q, i]) for i in order[:k]]
    return out


def test_cosine_topk_vs_numpy(spark):
    rng = np.random.default_rng(3)
    vecs = rng.standard_normal((20, 8)).astype(np.float32)
    emb = spark.createDataFrame(
        [(i, [float(x) for x in vecs[i]]) for i in range(20)],
        "vec_id long, embedding array<float>",
    )
    queries = emb.select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("qvec")
    )
    got = {}
    for r in cosine_topk(emb, queries, k=3).collect():
        got.setdefault(r["query_id"], []).append((r["neighbor_id"], r["cos"]))
    want = _np_cosine_topk(vecs, 3)
    for q in range(20):
        assert [n for n, _ in got[q]] == [n for n, _ in want[q]]
        for (gn, gc), (wn, wc) in zip(got[q], want[q]):
            assert gc == pytest.approx(wc, abs=1e-6)


def test_lsh_ann_is_subset_quality(spark):
    rng = np.random.default_rng(4)
    base = rng.standard_normal((10, 8)).astype(np.float32)
    # clusters: each base vector plus small noise copies
    vecs = np.concatenate([base + 0.01 * rng.standard_normal((10, 8)).astype(np.float32) for _ in range(3)])
    emb = spark.createDataFrame(
        [(i, [float(x) for x in vecs[i]]) for i in range(len(vecs))],
        "vec_id long, embedding array<float>",
    )
    ann = lsh_ann_topk(emb, k=1, n_planes=4, seed=1, dim=8)
    rows = ann.collect()
    assert len(rows) > 0
    # every returned neighbor really is in the same noise-cluster for most queries
    same = sum(1 for r in rows if r["neighbor_id"] % 10 == r["query_id"] % 10)
    assert same / len(rows) > 0.6


def test_token_entropy(spark):
    import math
    from combblas_spark.functions.text import token_entropy

    docs = spark.createDataFrame(
        [(0, "a a a a"), (1, "a b c d"), (2, "a a b b"), (3, ""), (4, "solo")],
        "doc_id long, text string",
    )
    got = {
        r["doc_id"]: (r["n_tokens"], r["entropy"])
        for r in token_entropy(docs).collect()
    }
    assert got[0] == (4, 0.0)                       # all same token
    assert got[1] == (4, round(math.log(4), 6))     # uniform over 4
    assert got[2] == (4, round(math.log(2), 6))     # two tokens, 2/2
    assert got[3] == (0, 0.0) and got[4] == (1, 0.0)


def test_decontaminate(spark):
    """Hand-built corpus where the split is forced via salt choice is
    brittle; instead verify the structural contract on a real-ish corpus:
    only train docs are returned, n_overlap <= n_shingles, and a train doc
    sharing its full text with a test doc reports full overlap."""
    from combblas_spark.functions.dedup import decontaminate
    from combblas_spark.functions.sampling import split_by_hash

    base = [(i, f"tok{i} tok{i+1} tok{i+2} tok{i+3} tok{i+4}") for i in range(40)]
    docs = spark.createDataFrame(base, "doc_id long, text string")
    split = {
        r["doc_id"]: r["split"]
        for r in split_by_hash(docs, test_permille=300).collect()
    }
    test_ids = {i for i, s in split.items() if s == "test"}
    assert test_ids, "salt must put some docs in test at 30%"
    # clone one test doc's text onto a train doc -> that train doc is fully
    # contaminated
    donor = min(test_ids)
    train_ids = [i for i in split if split[i] == "train"]
    victim = train_ids[0]
    rows = [(i, dict(base)[donor] if i == victim else t) for i, t in base]
    docs2 = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        r["doc_id"]: (r["n_shingles"], r["n_overlap"])
        for r in decontaminate(docs2, k=3, test_permille=300).collect()
    }
    assert set(got) == set(train_ids)
    for i, (n, o) in got.items():
        assert 0 <= o <= n
    n, o = got[victim]
    assert n == 3 and o == 3  # 5 tokens -> 3 shingles, all in the eval set


def test_corpus_filter(spark):
    from combblas_spark.functions.text import (
        corpus_filter,
        FILTER_TOO_SHORT,
        FILTER_LOW_DISTINCT,
        FILTER_REPETITIVE,
        FILTER_WRONG_LANG,
    )

    docs = spark.createDataFrame(
        [
            # clean: long enough, distinct, the+a+of stopwords -> 'en'
            (0, "the quick brown fox jumps over a lazy dog of the meadow now"),
            # too short AND wrong lang (no stopwords)
            (1, "tiny doc"),
            # repetitive + low distinct: one token dominates
            (2, " ".join(["spam"] * 40) + " the a of in is"),
        ],
        "doc_id long, text string",
    )
    got = {r["doc_id"]: (r["keep"], r["reasons"]) for r in corpus_filter(docs).collect()}
    assert got[0] == (1, 0)
    # 2 tokens: too short, no stopwords, and top-token ratio 1/2 trips the
    # repetition bit too (short docs always look "repetitive" — the length
    # filter is what drops them)
    assert got[1][0] == 0
    assert got[1][1] & FILTER_TOO_SHORT and got[1][1] & FILTER_WRONG_LANG
    assert got[2][0] == 0
    assert got[2][1] & (FILTER_LOW_DISTINCT | FILTER_REPETITIVE)


def test_mixture_stats(spark):
    from combblas_spark.functions.text import mixture_stats

    docs = spark.createDataFrame(
        [
            (0, "a b c", "en", "web"),
            (1, "d e", "en", "web"),
            (2, "f", "fr", "web"),
            (3, "g h i j", "en", "book"),
        ],
        "doc_id long, text string, lang string, source string",
    )
    got = {
        (r["source"], r["lang"]): (r["n_docs"], r["n_tokens"], r["share_e6"])
        for r in mixture_stats(docs).collect()
    }
    assert got[("web", "en")] == (2, 5, 500_000)
    assert got[("web", "fr")] == (1, 1, 250_000)
    assert got[("book", "en")] == (1, 4, 250_000)


def test_pack_sequences(spark):
    """Prefix sums follow the md5-60bit shuffle order exactly (python
    replay), seq assignment = prefix // L, and the result is invariant to
    input partitioning."""
    import hashlib
    from combblas_spark.functions.sampling import pack_sequences

    rows = [(i, " ".join(f"t{j}" for j in range(i % 7 + 1))) for i in range(50)]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r["doc_id"]: (r["prefix"], r["seq_id"], r["seq_offset"])
           for r in pack_sequences(docs, seq_len=10).collect()}

    def h60(i):
        return int(hashlib.md5(f"pack|{i}".encode()).hexdigest()[:15], 16)

    order = sorted(range(50), key=lambda i: (h60(i), i))
    acc = 0
    for i in order:
        n = i % 7 + 1
        assert got[i] == (acc, acc // 10, acc % 10), i
        acc += n
    again = {r["doc_id"]: (r["prefix"], r["seq_id"], r["seq_offset"])
             for r in pack_sequences(docs.repartition(13), seq_len=10).collect()}
    assert got == again
