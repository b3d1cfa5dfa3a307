"""Text analysis for large-scale training-data pipelines.

All pure Column expressions (JVM-side, whole-stage codegen) — no UDFs.
Token model: whitespace-separated words (the corpus is already normalized);
hashes are md5 hex so a SQL oracle (DuckDB) reproduces them byte-for-byte.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
import pyspark.sql.functions as F

# compact English-ish stopword list used by the n-gram/stopword language
# heuristic; fixed order, shared with the SQL oracle.
STOPWORDS = [
    "the", "a", "an", "and", "or", "of", "to", "in", "is", "it",
    "on", "for", "with", "as", "at", "by", "from", "that", "this", "be",
]


def tokens_col(text: Column) -> Column:
    """Whitespace tokens, empties removed."""
    return F.filter(F.split(text, " "), lambda t: t != "")


def token_stats(docs: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """(id, n_chars, n_tokens, n_distinct_tokens, max_token_len) — exact ints."""
    t = tokens_col(F.col(text_col))
    return docs.select(
        F.col(id_col),
        F.length(text_col).cast("long").alias("n_chars"),
        F.size(t).cast("long").alias("n_tokens"),
        F.size(F.array_distinct(t)).cast("long").alias("n_distinct_tokens"),
        F.array_max(F.transform(t, F.length)).cast("long").alias("max_token_len"),
    )


def quality_score(docs: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """Heuristic quality signals (lengths / repetition / stopword density).

    Integer-scaled (x1e6, floor) so results hash exactly vs a SQL oracle.
    """
    t = tokens_col(F.col(text_col))
    n_tok = F.size(t)
    n_distinct = F.size(F.array_distinct(t))
    stop_arr = F.array(*[F.lit(s) for s in STOPWORDS])
    n_stop = F.size(F.array_intersect(t, stop_arr))
    return docs.select(
        F.col(id_col),
        F.length(text_col).cast("long").alias("n_chars"),
        n_tok.cast("long").alias("n_tokens"),
        F.floor(n_distinct * F.lit(1_000_000) / n_tok).cast("long").alias("distinct_ratio_e6"),
        F.floor(n_stop * F.lit(1_000_000) / F.greatest(n_distinct, F.lit(1)))
        .cast("long")
        .alias("stopword_ratio_e6"),
    )


def language_id(docs: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """Stopword-density language heuristic: 'en' if >= 5% of distinct tokens
    are English stopwords, else 'other'. (The real corpus here is synthetic
    English-ish text; the point is the scalable shape: set-intersection of a
    token array against a broadcast lexicon, no UDF.)"""
    q = quality_score(docs, id_col, text_col)
    return q.select(
        id_col,
        F.when(F.col("stopword_ratio_e6") >= 50_000, F.lit("en"))
        .otherwise(F.lit("other"))
        .alias("lang_pred"),
        "stopword_ratio_e6",
    )


def fingerprint(docs: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """Document fingerprint: md5 of the token-normalized text (stable under
    whitespace variation) — the exact-dedup key."""
    norm = F.array_join(tokens_col(F.col(text_col)), " ")
    return docs.select(F.col(id_col), F.md5(norm).alias("fp"))


def repetition_stats(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Gopher-style repetition quality signals, per document:

    (doc_id, n_tokens, top_token_n, top_bigram_n, top_token_e6,
    top_bigram_e6) — the most-frequent-token count, the most-frequent-
    bigram count, and their integer-scaled (x1e6, floor) fractions of the
    token / bigram slots. High top_*_e6 = boilerplate/repetitive text, the
    classic pre-training quality filter signal.

    Scale shape: two explode -> groupBy counts (map-side combinable), one
    narrow max per doc, then a left join back onto the doc table — no UDF,
    no driver collect. Bigrams are built with the same slice/array_join
    idiom as ``dedup.shingles`` (non-distinct: repetition is the signal).
    """
    spark = docs.sparkSession
    t = tokens_col(F.col(text_col))
    base = docs.repartition(spark.sparkContext.defaultParallelism).select(
        F.col(id_col).alias("id"), t.alias("t")
    )
    ex = base.select("id", F.explode("t").alias("tok"))
    top_tok = (
        ex.groupBy("id", "tok")
        .agg(F.count(F.lit(1)).alias("c"))
        .groupBy("id")
        .agg(F.max("c").alias("top_token_n"))
    )
    n = F.size(F.col("t"))
    bigrams = F.when(
        n >= 2,
        F.transform(
            F.sequence(F.lit(0), n - 2),
            lambda i: F.array_join(F.slice(F.col("t"), i + 1, 2), " "),
        ),
    ).otherwise(F.array().cast("array<string>"))
    bg = base.select("id", F.explode(bigrams).alias("bg"))
    top_bg = (
        bg.groupBy("id", "bg")
        .agg(F.count(F.lit(1)).alias("c"))
        .groupBy("id")
        .agg(F.max("c").alias("top_bigram_n"))
    )
    sizes = base.select("id", F.size("t").cast("long").alias("n_tokens"))
    out = sizes.join(top_tok, on="id", how="left").join(top_bg, on="id", how="left")
    tt = F.coalesce(F.col("top_token_n"), F.lit(0)).cast("long")
    tb = F.coalesce(F.col("top_bigram_n"), F.lit(0)).cast("long")
    return out.select(
        F.col("id").alias(id_col),
        "n_tokens",
        tt.alias("top_token_n"),
        tb.alias("top_bigram_n"),
        F.floor(tt * F.lit(1_000_000) / F.greatest(F.col("n_tokens"), F.lit(1)))
        .cast("long")
        .alias("top_token_e6"),
        F.floor(tb * F.lit(1_000_000) / F.greatest(F.col("n_tokens") - 1, F.lit(1)))
        .cast("long")
        .alias("top_bigram_e6"),
    )


#: GPT-2-style pretokenizer shape, ASCII-safe subset shared verbatim with
#: the DuckDB oracle (both engines treat these classes identically):
#: optional leading space + a letter run, digit run, or punctuation run.
BPE_SPLIT_RE = r" ?[A-Za-z]+| ?[0-9]+| ?[^A-Za-z0-9 ]+"


def bpe_token_stats(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """(id, n_bpe_pieces, n_distinct_pieces, n_ws_tokens) — token counting
    with the BPE-ish pretokenizer regex next to the whitespace count, the
    standard pair a training-data pipeline budgets with. Pure Column
    expressions (JVM regex), exact integers.
    """
    pieces = F.regexp_extract_all(F.col(text_col), F.lit(BPE_SPLIT_RE), 0)
    return docs.select(
        F.col(id_col),
        F.size(pieces).cast("long").alias("n_bpe_pieces"),
        F.size(F.array_distinct(pieces)).cast("long").alias("n_distinct_pieces"),
        F.size(tokens_col(F.col(text_col))).cast("long").alias("n_ws_tokens"),
    )


def bpe_pair_counts(
    docs: DataFrame, top_k: int = 100, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """The first merge-candidate scan of BPE tokenizer training, corpus-wide:
    pretokenize with BPE_SPLIT_RE, count every adjacent (piece_a, piece_b)
    occurrence globally, return the deterministic top-k (count DESC, then
    piece_a/piece_b ASC — the tie-break makes the result engine-exact).

    100-TB shape: explode + one hash groupBy (map-side combinable: distinct
    pair count << corpus token count), then a global sort-limit over the
    AGGREGATED pair table, which Spark executes as TakeOrderedAndProject —
    never a full sort of the raw pairs.
    """
    spark = docs.sparkSession
    p = F.regexp_extract_all(F.col(text_col), F.lit(BPE_SPLIT_RE), 0)
    n = F.size(p)
    adj = F.when(
        n >= 2,
        F.transform(
            F.sequence(F.lit(0), n - 2),
            lambda i: F.struct(F.get(p, i).alias("a"), F.get(p, i + 1).alias("b")),
        ),
    ).otherwise(F.array().cast("array<struct<a:string,b:string>>"))
    pairs = (
        docs.repartition(spark.sparkContext.defaultParallelism)
        .select(F.explode(adj).alias("pr"))
        .select(F.col("pr.a").alias("piece_a"), F.col("pr.b").alias("piece_b"))
    )
    counted = pairs.groupBy("piece_a", "piece_b").agg(
        F.count(F.lit(1)).alias("n_pair")
    )
    return (
        counted.orderBy(F.col("n_pair").desc(), "piece_a", "piece_b")
        .limit(top_k)
        .select("piece_a", "piece_b", F.col("n_pair").cast("long").alias("n_pair"))
    )


def token_entropy(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Unigram token entropy per document (nats): H = -Σ (c/n)·ln(c/n) over
    the document's token histogram — the information-density quality signal
    (low H = repetitive/boilerplate, complements repetition_stats' top-1
    counts with the full-distribution view).

    Returns (doc_id, n_tokens, entropy) with entropy ROUND(.,6) so the
    DuckDB oracle hash-matches (both engines' ln agree well inside 1e-6).

    Scale shape: one explode -> (id, tok) count (map-side combinable), a
    window-free second agg per id, and a left join back — all Column
    expressions, no UDF, no collect.
    """
    spark = docs.sparkSession
    base = docs.repartition(spark.sparkContext.defaultParallelism).select(
        F.col(id_col).alias("id"), tokens_col(F.col(text_col)).alias("t")
    )
    counts = (
        base.select("id", F.explode("t").alias("tok"))
        .groupBy("id", "tok")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    sizes = base.select("id", F.size("t").cast("long").alias("n_tokens"))
    ent = (
        counts.join(sizes, on="id")
        .select(
            "id",
            (
                -(F.col("c") / F.col("n_tokens"))
                * F.log(F.col("c") / F.col("n_tokens"))
            ).alias("term"),
        )
        .groupBy("id")
        .agg(F.sum("term").alias("entropy"))
    )
    return (
        sizes.join(ent, on="id", how="left")
        .select(
            F.col("id").alias(id_col),
            "n_tokens",
            F.round(F.coalesce(F.col("entropy"), F.lit(0.0)), 6).alias("entropy"),
        )
    )


#: corpus_filter reason bits — a doc is KEPT iff reasons == 0
FILTER_TOO_SHORT = 1        # n_tokens < min_tokens
FILTER_TOO_LONG = 2         # n_tokens > max_tokens
FILTER_LOW_DISTINCT = 4     # distinct_ratio_e6 < min_distinct_e6
FILTER_REPETITIVE = 8       # top_token_e6 > max_top_token_e6
FILTER_WRONG_LANG = 16      # lang_pred != keep_lang


def corpus_filter(
    docs: DataFrame,
    min_tokens: int = 10,
    max_tokens: int = 100_000,
    min_distinct_e6: int = 200_000,
    max_top_token_e6: int = 200_000,
    keep_lang: str = "en",
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """The assembled pre-training keep/drop decision — quality_score +
    repetition_stats + language_id fused into one verdict per document:
    (doc_id, keep, reasons) where ``reasons`` is a bitmask of FILTER_*
    flags (0 = clean = keep). The bitmask — rather than a bare boolean —
    is what production pipelines log: per-reason drop rates are the
    monitoring signal that catches a filter regression at 100 TB.

    Scale shape: all three signal passes are Column-only (the repetition
    pass is the one with shuffles, two map-side-combinable counts); the
    final verdict is two hash joins on doc_id. No UDF, no collect.
    """
    q = quality_score(docs, id_col, text_col)
    r = repetition_stats(docs, id_col, text_col).select(
        id_col, "top_token_e6"
    )
    l = language_id(docs, id_col, text_col).select(id_col, "lang_pred")
    j = q.join(r, on=id_col).join(l, on=id_col)
    reasons = (
        F.when(F.col("n_tokens") < min_tokens, F.lit(FILTER_TOO_SHORT)).otherwise(F.lit(0))
        + F.when(F.col("n_tokens") > max_tokens, F.lit(FILTER_TOO_LONG)).otherwise(F.lit(0))
        + F.when(
            F.col("distinct_ratio_e6") < min_distinct_e6, F.lit(FILTER_LOW_DISTINCT)
        ).otherwise(F.lit(0))
        + F.when(
            F.col("top_token_e6") > max_top_token_e6, F.lit(FILTER_REPETITIVE)
        ).otherwise(F.lit(0))
        + F.when(F.col("lang_pred") != keep_lang, F.lit(FILTER_WRONG_LANG)).otherwise(
            F.lit(0)
        )
    )
    return j.select(
        F.col(id_col),
        reasons.cast("long").alias("reasons"),
    ).select(
        id_col,
        (F.col("reasons") == 0).cast("long").alias("keep"),
        "reasons",
    )


def mixture_stats(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    strata: tuple = ("source", "lang"),
) -> DataFrame:
    """The mixture re-weighting table every pretraining run starts from:
    per stratum (default source x lang) — document count, token and char
    totals, and the stratum's corpus share x1e6 (floor). Sampling weights /
    temperature schedules are computed downstream from exactly this table.

    Scale shape: one map-side-combinable groupBy over pure Column
    aggregates; the corpus total arrives via a broadcast 1-row aggregate
    (no second scan — Spark reuses the cached partial), no UDF, no collect.
    """
    t = tokens_col(F.col(text_col))
    per = docs.groupBy(*[F.col(c) for c in strata]).agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(F.size(t)).cast("long").alias("n_tokens"),
        F.sum(F.length(text_col)).cast("long").alias("n_chars"),
    )
    tot = per.agg(F.sum("n_docs").alias("tot"))
    return per.crossJoin(F.broadcast(tot)).select(
        *strata,
        F.col("n_docs").cast("long").alias("n_docs"),
        "n_tokens",
        "n_chars",
        F.floor(F.col("n_docs") * F.lit(1_000_000) / F.col("tot"))
        .cast("long")
        .alias("share_e6"),
    )


def dup_ngram_fraction(
    docs: DataFrame,
    k: int = 3,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Corpus-wide duplicated-n-gram share per document — the global
    dedup quality signal (Gopher / RefinedWeb style): for each doc, the
    fraction of its DISTINCT k-gram shingles that also occur in at least
    one OTHER document. High dup_frac marks boilerplate / template pages
    that per-doc repetition stats (repetition_stats) cannot see.

    Output: (doc_id, n_grams, n_dup_grams, dup_frac) — BIGINT counts,
    dup_frac rounded to 6. Docs shorter than k tokens emit no row (they
    have no k-grams), matching the shingle semantics in dedup.shingles.

    Scale shape: explode to distinct (doc, gram) pairs, one
    map-side-combinable count per gram (shingles() already dedups per
    doc, so COUNT(*) per gram == distinct-doc frequency), one shuffle
    join back on the gram key, one final per-doc agg. The gram->count
    table is the only global state and it shrinks with Zipf: no
    windows, no UDFs, no driver state.
    """
    from combblas_spark.functions.dedup import shingles

    sh = shingles(docs, k=k, id_col=id_col, text_col=text_col)
    gcnt = sh.groupBy("shingle").agg(F.count(F.lit(1)).alias("ndocs"))
    return (
        sh.join(gcnt, "shingle")
        .groupBy(F.col("id").alias(id_col))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_grams"),
            F.sum((F.col("ndocs") >= 2).cast("long")).cast("long").alias("n_dup_grams"),
            F.round(
                F.sum((F.col("ndocs") >= 2).cast("double")) / F.count(F.lit(1)),
                6,
            ).alias("dup_frac"),
        )
    )


def tfidf_topk(
    docs: DataFrame,
    k: int = 5,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Top-k TF-IDF terms per document — the keyword/topic signal a
    training-data pipeline uses for domain tagging and mixture audits.

    tfidf(d, t) = tf(d, t) * ln(N / df(t)) with tf the raw in-document
    count, df the distinct-document frequency and N the corpus size.
    Output: (doc_id, rank, term, tf BIGINT, tfidf) with rank 1..k ordered
    by (ROUND(tfidf, 6) DESC, term ASC). Ranking on the ROUNDED score is
    deliberate: mathematically-equal products computed differently
    (2*ln(10) vs ln(100)) can differ in the last ulp and differently so
    across engines — rounding first makes the order engine-portable, and
    the term tiebreak settles the rounded ties.

    Scale shape: one explode -> (doc, term) count (map-side combinable),
    one term-keyed df aggregation joined back on the term key, N as a
    broadcast one-row cross join, and the per-doc top-k as a window over
    doc_id — the window key is the highest-cardinality column in the
    corpus, so partitions stay balanced at any scale. No UDFs.
    """
    from pyspark.sql import Window

    base = docs.select(F.col(id_col).alias("id"), tokens_col(F.col(text_col)).alias("t"))
    tf = (
        base.select("id", F.explode("t").alias("term"))
        .groupBy("id", "term")
        .agg(F.count(F.lit(1)).cast("long").alias("tf"))
    )
    df = tf.groupBy("term").agg(F.count(F.lit(1)).cast("double").alias("df"))
    n = base.agg(F.count(F.lit(1)).cast("double").alias("n_docs"))
    scored = tf.join(df, "term").crossJoin(F.broadcast(n)).select(
        "id", "term", "tf",
        F.round(F.col("tf") * F.log(F.col("n_docs") / F.col("df")), 6).alias("tfidf"),
    )
    w = Window.partitionBy("id").orderBy(F.col("tfidf").desc(), F.col("term"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(
            F.col("id").alias(id_col),
            F.col("rank").cast("long").alias("rank"),
            "term",
            "tf",
            "tfidf",
        )
    )


def bm25_topk(
    docs: DataFrame,
    k: int = 5,
    k1: float = 1.2,
    b: float = 0.75,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Top-k BM25 terms per document — the retrieval-grade upgrade of
    tfidf_topk: term frequency saturates at k1 and is normalized by
    document length, so long boilerplate documents stop dominating the
    keyword signal (the exact ranking function retrieval-based data
    curation / decontamination-by-search pipelines run).

        idf(t)     = ln(1 + (N - df + 0.5) / (df + 0.5))   # Lucene form,
                                                           # always > 0
        score(d,t) = idf(t) * tf * (k1 + 1)
                     / (tf + k1 * (1 - b + b * dl / avgdl))

    Output: (doc_id, rank, term, tf BIGINT, bm25) with rank 1..k by
    (ROUND(bm25, 6) DESC, term ASC) — ranking on the ROUNDED score for
    engine portability, term tiebreak settles rounded ties (same
    discipline as tfidf_topk). Empty documents emit no rows.

    Scale shape identical to tfidf_topk: one map-side-combinable
    (doc, term) count, one term-keyed df agg joined back on term, the
    corpus scalars (N, avgdl) as one broadcast row, per-doc top-k as a
    row_number window keyed by the highest-cardinality column. No UDFs.
    """
    from pyspark.sql import Window

    base = docs.select(
        F.col(id_col).alias("id"), tokens_col(F.col(text_col)).alias("t")
    )
    tf = (
        base.select("id", F.explode("t").alias("term"))
        .groupBy("id", "term")
        .agg(F.count(F.lit(1)).cast("long").alias("tf"))
    )
    dl = base.select("id", F.size("t").cast("double").alias("dl"))
    df = tf.groupBy("term").agg(F.count(F.lit(1)).cast("double").alias("df"))
    # corpus scalars from exact integer totals (broadcast one-row)
    tots = base.agg(
        F.count(F.lit(1)).cast("double").alias("n_docs"),
        (F.sum(F.size("t")).cast("double") / F.count(F.lit(1))).alias("avgdl"),
    )
    idf = F.log(
        F.lit(1.0)
        + (F.col("n_docs") - F.col("df") + F.lit(0.5)) / (F.col("df") + F.lit(0.5))
    )
    denom = F.col("tf") + F.lit(k1) * (
        F.lit(1.0) - F.lit(b) + F.lit(b) * F.col("dl") / F.col("avgdl")
    )
    scored = (
        tf.join(dl, "id")
        .join(df, "term")
        .crossJoin(F.broadcast(tots))
        .select(
            "id", "term", "tf",
            F.round(idf * F.col("tf") * F.lit(k1 + 1.0) / denom, 6).alias("bm25"),
        )
    )
    w = Window.partitionBy("id").orderBy(F.col("bm25").desc(), F.col("term"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(
            F.col("id").alias(id_col),
            F.col("rank").cast("long").alias("rank"),
            "term",
            "tf",
            "bm25",
        )
    )


def unigram_xent(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Per-document cross-entropy (nats/token) against the corpus unigram
    language model — the CCNet-style "perplexity" quality filter signal:
    xent(d) = -(1/|d|) * SUM over tokens w of d of ln(c(w) / C), where c(w)
    is the corpus-wide count of w and C the corpus token total. Low xent =
    the document looks like the corpus (common tokens); high xent =
    rare-token-dense (often noise, ciphertext, or genuinely novel text).
    No smoothing is needed: every scored token is by construction part of
    the corpus LM, so c(w) >= 1.

    Complements token_entropy (which is *within*-document information
    density) with the *corpus-relative* view; the standard pretraining
    pipeline thresholds on both.

    Returns (doc_id, n_tokens BIGINT, xent ROUND(.,6)); empty docs get 0.0.

    Scale shape (100 TB): one explode feeding BOTH the per-(doc, token)
    count and the corpus-wide token count (two map-side-combinable hash
    aggregations), a token-keyed shuffle hash join between them (the token
    table is Zipf-skewed but the join key is the *type*, not the
    occurrence, so no single key explodes), a one-row broadcast corpus
    total, and one final per-doc aggregation. No windows, no UDFs, no
    driver iteration — the same plan family as tfidf_topk minus its
    window.
    """
    spark = docs.sparkSession
    base = docs.repartition(spark.sparkContext.defaultParallelism).select(
        F.col(id_col).alias("id"), tokens_col(F.col(text_col)).alias("t")
    )
    occ = base.select("id", F.explode("t").alias("tok"))
    dc = occ.groupBy("id", "tok").agg(F.count(F.lit(1)).alias("c_doc"))
    lm = occ.groupBy("tok").agg(F.count(F.lit(1)).cast("double").alias("c_lm"))
    tot = lm.agg(F.sum("c_lm").alias("c_tot"))
    sizes = base.select("id", F.size("t").cast("long").alias("n_tokens"))
    ll = (
        dc.join(lm, "tok")
        .crossJoin(F.broadcast(tot))
        .select(
            "id",
            (-F.col("c_doc") * F.log(F.col("c_lm") / F.col("c_tot"))).alias("nll"),
        )
        .groupBy("id")
        .agg(F.sum("nll").alias("nll"))
    )
    return sizes.join(ll, "id", "left").select(
        F.col("id").alias(id_col),
        "n_tokens",
        F.round(
            F.when(
                F.col("n_tokens") > 0,
                F.coalesce(F.col("nll"), F.lit(0.0)) / F.col("n_tokens"),
            ).otherwise(F.lit(0.0)),
            6,
        ).alias("xent"),
    )


def bigram_xent(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Per-document cross-entropy (nats/bigram) against the corpus BIGRAM
    language model — the KenLM-style sequence-aware quality filter one
    order up from unigram_xent: xent2(d) = -(1/(|d|-1)) * SUM over adjacent
    token pairs (w1,w2) of d of ln(c(w1,w2) / c1(w1)), where c(w1,w2) is
    the corpus bigram count and c1(w1) = SUM_w2 c(w1,w2) the left-context
    total. A document of common tokens in an UNCOMMON ORDER (shuffled
    boilerplate, word-salad spam) scores near unigram_xent on the unigram
    model but spikes here. No smoothing is needed: every scored bigram is
    by construction in the corpus LM, so c >= 1 and the conditional is
    well-defined.

    Returns (doc_id, n_bigrams BIGINT, xent2 ROUND(.,6)); docs with < 2
    tokens get 0.0.

    Scale shape (100 TB): bigrams come from ONE zip_with over the already
    tokenized array (no self-join of an exploded position table); then the
    same plan family as unigram_xent — two map-side-combinable hash
    aggregations off one explode, a (w1,w2)-keyed shuffle join (keys are
    bigram TYPES, Zipf-bounded), a w1-keyed join for the conditional
    denominator, one final per-doc aggregation. No windows, no UDFs.
    """
    spark = docs.sparkSession
    base = docs.repartition(spark.sparkContext.defaultParallelism).select(
        F.col(id_col).alias("id"), tokens_col(F.col(text_col)).alias("t")
    )
    n = F.size("t")
    pairs = F.when(
        n >= 2,
        F.zip_with(
            F.slice("t", 1, n - 1),
            F.slice("t", 2, n - 1),
            lambda a, b: F.struct(a.alias("w1"), b.alias("w2")),
        ),
    ).otherwise(F.array().cast("array<struct<w1:string,w2:string>>"))
    occ = base.select("id", F.explode(pairs).alias("p")).select(
        "id", F.col("p.w1").alias("w1"), F.col("p.w2").alias("w2")
    )
    dc = occ.groupBy("id", "w1", "w2").agg(F.count(F.lit(1)).alias("c_doc"))
    bg = occ.groupBy("w1", "w2").agg(
        F.count(F.lit(1)).cast("double").alias("c_bg")
    )
    lf = bg.groupBy("w1").agg(F.sum("c_bg").alias("c_left"))
    ll = (
        dc.join(bg, ["w1", "w2"])
        .join(lf, "w1")
        .select(
            "id",
            (-F.col("c_doc") * F.log(F.col("c_bg") / F.col("c_left"))).alias(
                "nll"
            ),
        )
        .groupBy("id")
        .agg(F.sum("nll").alias("nll"))
    )
    sizes = base.select(
        "id", F.greatest(n - 1, F.lit(0)).cast("long").alias("n_bigrams")
    )
    return sizes.join(ll, "id", "left").select(
        F.col("id").alias(id_col),
        "n_bigrams",
        F.round(
            F.when(
                F.col("n_bigrams") > 0,
                F.coalesce(F.col("nll"), F.lit(0.0)) / F.col("n_bigrams"),
            ).otherwise(F.lit(0.0)),
            6,
        ).alias("xent2"),
    )


def zipf_stats(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """One-row corpus vocabulary health report: Zipf rank-frequency slope.

    Fits y = a + b·x by least squares over the full vocabulary with
    x = ln(rank), y = ln(count) (rank 1 = most frequent; ties broken by
    token text so the ranking is engine-portable). A healthy natural
    corpus has slope ~ -1; templated/boilerplate corpora flatten, and
    synthetic token soup steepens — the cheapest corpus-level drift alarm
    next to the per-doc signals (token_entropy, unigram_xent).

    -> (n_types BIGINT, n_tokens BIGINT, zipf_slope, zipf_intercept), the
    floats ROUND(.,6); slope/intercept 0.0 when the vocabulary has < 2
    types (zero variance).

    Scale shape: one explode -> token count (map-side combinable); the
    rank runs through the range-partitioned sample sort
    (``_global_ranks``) — on a real web crawl the raw type table (typos,
    hashes, boilerplate tokens) reaches billions of rows, so no
    single-task global window is allowed over it; the fit collapses
    through a single aggregate. No UDFs.
    """
    from combblas_spark.operators.indexing import _global_ranks

    spark = docs.sparkSession
    occ = docs.repartition(spark.sparkContext.defaultParallelism).select(
        F.explode(tokens_col(F.col(text_col))).alias("tok")
    )
    cnt = occ.groupBy("tok").agg(F.count(F.lit(1)).alias("c"))
    ranked = _global_ranks(cnt, [F.col("c").desc(), F.col("tok").asc()])
    xy = ranked.select(
        F.log((F.col("rank") + 1).cast("double")).alias("x"),
        F.log(F.col("c").cast("double")).alias("y"),
        F.col("c"),
    )
    mom = xy.agg(
        F.count(F.lit(1)).cast("long").alias("n_types"),
        F.sum("c").cast("long").alias("n_tokens"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
    )
    n = F.col("n_types").cast("double")
    # plain multiplies (x*x), never POWER — see graph_stats' portability note
    varx = F.col("sxx") / n - (F.col("sx") / n) * (F.col("sx") / n)
    cov = F.col("sxy") / n - (F.col("sx") / n) * (F.col("sy") / n)
    slope = F.when(varx > 0, cov / varx).otherwise(F.lit(0.0))
    return mom.select(
        "n_types",
        "n_tokens",
        F.round(slope, 6).alias("zipf_slope"),
        F.round(
            F.when(
                varx > 0, F.col("sy") / n - (cov / varx) * (F.col("sx") / n)
            ).otherwise(F.lit(0.0)),
            6,
        ).alias("zipf_intercept"),
    )


def vocab_growth(
    docs: DataFrame,
    n_checkpoints: int = 8,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Heaps'-law vocabulary growth curve: cumulative distinct types vs
    cumulative token occurrences at ``n_checkpoints`` corpus prefixes
    (docs ordered by ``id_col``). The standard sanity curve before
    sizing a tokenizer vocabulary or extrapolating dedup rates: a
    natural corpus grows types ~ tokens^beta with beta ~ 0.5; templated
    corpora flatten early, token soup stays near-linear.

    -> one row per checkpoint k = 1..n_checkpoints:
    (ckpt, n_docs, n_tokens, vocab, new_types) all BIGINT — cumulative
    docs / token occurrences / distinct types over the prefix, and the
    types first seen in the k-th slice.

    Scale shape: docs land in their prefix slice by pure id arithmetic
    (floor(id*K/(max+1)), one broadcast 1-row max — no rank window over
    the corpus); token counts are one map-side-combinable aggregate per
    slice; each type's FIRST slice is min(slice) per token (one explode
    + agg — first-occurrence beats K distinct-counts, which would rescan
    the corpus per checkpoint); the cumulative sums run over the K-row
    checkpoint table only. No UDFs, no windows over corpus-sized data.
    """
    if n_checkpoints < 1:
        raise ValueError(f"n_checkpoints must be >= 1, got {n_checkpoints}")
    spark = docs.sparkSession
    k = int(n_checkpoints)
    mx = docs.agg(F.max(F.col(id_col)).alias("_mx"))
    db = (
        docs.repartition(spark.sparkContext.defaultParallelism)
        .crossJoin(F.broadcast(mx))
        .select(
            F.floor(F.col(id_col) * k / (F.col("_mx") + 1)).alias("bk"),
            tokens_col(F.col(text_col)).alias("toks"),
        )
    )
    dc = db.groupBy("bk").agg(
        F.count(F.lit(1)).cast("long").alias("nd"),
        F.sum(F.size("toks")).cast("long").alias("nt"),
    )
    fv = (
        db.select("bk", F.explode("toks").alias("tok"))
        .groupBy("tok")
        .agg(F.min("bk").alias("bk"))
        .groupBy("bk")
        .agg(F.count(F.lit(1)).cast("long").alias("nv"))
    )
    grid = spark.range(k).select(F.col("id").alias("bk"))
    j = (
        grid.join(dc, "bk", "left")
        .join(fv, "bk", "left")
        .select(
            "bk",
            F.coalesce("nd", F.lit(0)).cast("long").alias("nd"),
            F.coalesce("nt", F.lit(0)).cast("long").alias("nt"),
            F.coalesce("nv", F.lit(0)).cast("long").alias("nv"),
        )
    )
    from pyspark.sql import Window

    w = Window.orderBy("bk").rowsBetween(Window.unboundedPreceding, 0)
    return j.select(
        (F.col("bk") + 1).cast("long").alias("ckpt"),
        F.sum("nd").over(w).cast("long").alias("n_docs"),
        F.sum("nt").over(w).cast("long").alias("n_tokens"),
        F.sum("nv").over(w).cast("long").alias("vocab"),
        F.col("nv").alias("new_types"),
    )


def bpe_merge_training(
    spark,
    docs: DataFrame,
    num_merges: int = 6,
    id_col: str = "doc_id",
    text_col: str = "text",
    runner=None,
) -> DataFrame:
    """The iterative heart of BPE tokenizer training, corpus-distributed:
    ``num_merges`` rounds of (count all adjacent symbol pairs) -> (pick the
    most frequent, ties by piece_a/piece_b ASC) -> (apply the merge
    greedily left-to-right to every sequence), starting from the
    BPE_SPLIT_RE pretokens. Returns the learned merge table
    (rank BIGINT 1.., piece_a, piece_b, n_pair BIGINT) — bpe_pair_counts
    is exactly round 1's candidate scan; this runs the whole loop.

    Merged symbols are space-joined ("a b"), unambiguous because pretokens
    never contain interior spaces; symbol identity is its string, the
    standard BPE convention. Greedy application: overlapping matches (only
    possible for self-pairs like ("x","x") on runs "x x x") merge at even
    offsets within each run — islands of consecutive match positions keep
    the odd ROW_NUMBERs, the textbook left-to-right scan.

    Scale shape: sequences live as (doc, idx, sym) ROWS the whole loop —
    never per-doc arrays — so every round is LEAD/ROW_NUMBER windows
    keyed by doc id (the highest-cardinality key: balanced partitions at
    any scale) plus one map-side-combinable pair count and two hash joins
    against the (tiny) active-match set. One driver action per round
    fetches the single argmax row (count DESC, pa, pb — engine-exact);
    lineage is truncated per round. No UDFs, no driver-side sequence data.
    """
    from pyspark.sql import Window

    from combblas_spark.plans.superstep import SuperstepRunner

    runner = runner or SuperstepRunner(spark)
    p = F.regexp_extract_all(F.col(text_col), F.lit(BPE_SPLIT_RE), 0)
    rows = docs.select(
        F.col(id_col).alias("did"), F.posexplode(p).alias("idx", "sym")
    )
    rows = runner.truncate(rows)
    merges = []
    for r in range(1, num_merges + 1):
        wdoc = Window.partitionBy("did").orderBy("idx")
        # re-densify positions (merges leave gaps), then pair via LEAD —
        # same partitioning+ordering, one exchange for both window ops
        dense = rows.select(
            "did", F.row_number().over(wdoc).alias("idx"), "sym"
        )
        wd = Window.partitionBy("did").orderBy("idx")
        withn = dense.withColumn("nxt", F.lead("sym").over(wd))
        top = (
            withn.filter(F.col("nxt").isNotNull())
            .groupBy(F.col("sym").alias("pa"), F.col("nxt").alias("pb"))
            .agg(F.count(F.lit(1)).alias("c"))
            .orderBy(F.col("c").desc(), "pa", "pb")
            .limit(1)
            .collect()
        )
        if not top:
            break
        a, b, c = top[0]["pa"], top[0]["pb"], int(top[0]["c"])
        merges.append((r, a, b, c))
        hits = withn.filter(
            (F.col("sym") == F.lit(a)) & (F.col("nxt") == F.lit(b))
        ).select("did", "idx")
        isl = hits.withColumn(
            "isl", F.col("idx") - F.row_number().over(wd)
        )
        act = (
            isl.withColumn(
                "rno",
                F.row_number().over(
                    Window.partitionBy("did", "isl").orderBy("idx")
                ),
            )
            .filter((F.col("rno") % 2) == 1)
            .select("did", F.col("idx").alias("aidx"))
        )
        m_self = act.select(
            "did", F.col("aidx").alias("idx"), F.lit(1).alias("_m")
        )
        m_prev = act.select(
            "did", (F.col("aidx") + 1).alias("idx"), F.lit(1).alias("_eat")
        )
        nxt_rows = (
            withn.join(m_self, ["did", "idx"], "left")
            .join(m_prev, ["did", "idx"], "left")
            .filter(F.col("_eat").isNull())
            .select(
                "did",
                "idx",
                F.when(F.col("_m").isNotNull(), F.lit(a + " " + b))
                .otherwise(F.col("sym"))
                .alias("sym"),
            )
        )
        rows = runner.truncate(nxt_rows)
    return spark.createDataFrame(
        merges, "rank long, piece_a string, piece_b string, n_pair long"
    )


def pmi_pairs(
    docs: DataFrame,
    k: int = 100,
    min_count: int = 5,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Top-k adjacent-token pairs by pointwise mutual information — the
    classic collocation / association-mining signal (word2vec-era SGNS is
    implicitly a PMI factorization): pmi(a,b) = ln(c(a,b)·N / (cl(a)·cr(b)))
    over corpus bigram count c, left/right marginals cl/cr and bigram total
    N. Raw bigram counts (bpe_pair_counts) surface FREQUENT pairs; PMI
    surfaces BOUND pairs — multiword expressions, names, idioms — that a
    tokenizer or phrase-mining pass should keep together. ``min_count``
    kills the low-support noise PMI is notorious for.

    Returns the top ``k`` rows (pair_a, pair_b, n_pair BIGINT, pmi
    ROUND(.,6)), ranked by the ROUNDED pmi DESC then (pair_a, pair_b) —
    rounded-first ordering is the engine-portable tie discipline.

    Scale shape (100 TB): bigrams via one zip_with (no position
    self-join); THREE map-side-combinable hash aggregations (pair, left
    marginal, right marginal — marginals re-aggregate the pair table, so
    the explode is scanned once); a one-row broadcast total; the global
    top-k is an aggregated sort-limit that executes as
    TakeOrderedAndProject, never a full sort.
    """
    spark = docs.sparkSession
    base = docs.repartition(spark.sparkContext.defaultParallelism).select(
        tokens_col(F.col(text_col)).alias("t")
    )
    n = F.size("t")
    pairs = F.when(
        n >= 2,
        F.zip_with(
            F.slice("t", 1, n - 1),
            F.slice("t", 2, n - 1),
            lambda a, b: F.struct(a.alias("w1"), b.alias("w2")),
        ),
    ).otherwise(F.array().cast("array<struct<w1:string,w2:string>>"))
    occ = base.select(F.explode(pairs).alias("p")).select(
        F.col("p.w1").alias("w1"), F.col("p.w2").alias("w2")
    )
    bg = occ.groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("c_pair"))
    lf = bg.groupBy("w1").agg(F.sum("c_pair").cast("double").alias("c_l"))
    rt = bg.groupBy("w2").agg(F.sum("c_pair").cast("double").alias("c_r"))
    tot = bg.agg(F.sum("c_pair").cast("double").alias("c_tot"))
    scored = (
        bg.filter(F.col("c_pair") >= min_count)
        .join(lf, "w1")
        .join(rt, "w2")
        .crossJoin(F.broadcast(tot))
        .select(
            F.col("w1").alias("pair_a"),
            F.col("w2").alias("pair_b"),
            F.col("c_pair").cast("long").alias("n_pair"),
            F.round(
                F.log(
                    F.col("c_pair").cast("double")
                    * F.col("c_tot")
                    / (F.col("c_l") * F.col("c_r"))
                ),
                6,
            ).alias("pmi"),
        )
    )
    return scored.orderBy(
        F.col("pmi").desc(), F.col("pair_a").asc(), F.col("pair_b").asc()
    ).limit(k)


# ------------------------------------------------------------------- PII

# Engine-portable scrub patterns: character classes + bounded repetition
# only — no \d, \b, backreferences or alternation, so Java regex (Spark)
# and RE2 (DuckDB) match IDENTICAL spans (leftmost-first vs
# leftmost-longest coincide when the pattern has no alternation).
# Ordered: redaction applies top-to-bottom (emails first so their digit
# runs can't be half-eaten by the phone pass).
PII_PATTERNS = (
    ("email", r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+[.][A-Za-z]{2,}", "[EMAIL]"),
    ("ipv4", r"([0-9]{1,3}[.]){3}[0-9]{1,3}", "[IP]"),
    ("phone", r"[0-9]{2}-[0-9]{3}-[0-9]{3}-[0-9]{4}", "[PHONE]"),
)


def pii_scan(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Per-row PII hit counts: appends one BIGINT column per pattern
    (n_email, n_ipv4, n_phone) — the screening pass a curation pipeline
    thresholds or routes on. Pure regexp_count Column expressions
    (JVM-side, codegen); counts are over the ORIGINAL text.
    """
    out = docs
    for name, pat, _rep in PII_PATTERNS:
        out = out.withColumn(
            f"n_{name}", F.regexp_count(F.col(text_col), F.lit(pat)).cast("long")
        )
    return out


def pii_redact(docs: DataFrame, text_col: str = "text",
               out_col: str = "redacted") -> DataFrame:
    """Appends ``out_col``: the text with every PII span replaced by its
    typed placeholder, applied in PII_PATTERNS order (all occurrences,
    matching DuckDB regexp_replace(..., 'g'))."""
    col = F.col(text_col)
    for _name, pat, rep in PII_PATTERNS:
        col = F.regexp_replace(col, pat, rep)
    return docs.withColumn(out_col, col)


# ------------------------------------------------------------ anchor text


def anchored_links(docs: DataFrame, fanout: int = 3) -> DataFrame:
    """Deterministic link-with-anchor-text fixture over the documents
    table: each document with >= 2 tokens emits ``fanout`` out-links; link
    j of doc i targets md5-60bit('al|i|j') % n_docs (doc ids are dense
    0-based) and carries a 2-token anchor sliced from the SOURCE text at
    position 1 + md5-60bit('ap|i|j') % (len-1) — the (link, anchor-text)
    pair shape a crawler's outlink extractor produces. n_docs rides a
    broadcast 1-row count, never a driver collect."""
    from combblas_spark.functions.dedup import md5_60bit

    toks = docs.select(
        F.col("doc_id").cast("long").alias("src"),
        tokens_col(F.col("text")).alias("toks"),
    ).filter(F.size("toks") >= 2)
    n_docs = docs.agg(F.count(F.lit(1)).cast("long").alias("_d"))
    j = F.explode(F.array(*[F.lit(i) for i in range(1, fanout + 1)])).alias("j")

    def h60(salt: str):
        return md5_60bit(
            F.concat(
                F.lit(salt + "|"),
                F.col("src").cast("string"),
                F.lit("|"),
                F.col("j").cast("string"),
            )
        )

    return (
        toks.select("src", "toks", j)
        .crossJoin(F.broadcast(n_docs))
        .select(
            "src",
            (h60("al") % F.col("_d")).alias("dst"),
            F.array_join(
                F.slice(
                    F.col("toks"),
                    (F.lit(1) + h60("ap") % (F.size("toks") - 1)).cast("int"),
                    2,
                ),
                " ",
            ).alias("anchor"),
        )
    )


def anchor_text_index(links: DataFrame, k: int = 3) -> DataFrame:
    """Per-target top-k anchor terms over the in-links — the anchor-text
    index web search builds (anchors describe the TARGET better than its
    own body text; Brin & Page 1998 §2.2). links(src, dst, anchor) ->
    (dst, term, cnt, rank), rank by (cnt DESC, term ASC) so ties are
    deterministic and the oracle replays the ordering.

    Scale shape: tokenize-explode then ONE map-side-combinable count onto
    (dst, term) — skew bounded like a word count — then the kselect
    two-phase salted top-k so a mega-hub target (10^8 in-links, unbounded
    distinct anchor vocabulary) never sorts through a single task: local
    top-k per (dst, term-hash salt), global top-k over <= 16k survivors
    per dst."""
    from pyspark.sql import Window

    from combblas_spark.functions.dedup import md5_60bit

    terms = links.select(
        F.col("dst").cast("long").alias("dst"),
        F.explode(tokens_col(F.col("anchor"))).alias("term"),
    )
    counts = terms.groupBy("dst", "term").agg(
        F.count(F.lit(1)).cast("long").alias("cnt")
    )
    local_w = Window.partitionBy(
        "dst", F.pmod(md5_60bit(F.col("term")), F.lit(16))
    ).orderBy(F.col("cnt").desc(), F.col("term").asc())
    survivors = (
        counts.withColumn("_rn", F.row_number().over(local_w))
        .filter(F.col("_rn") <= k)
        .drop("_rn")
    )
    glob_w = Window.partitionBy("dst").orderBy(
        F.col("cnt").desc(), F.col("term").asc()
    )
    return (
        survivors.withColumn("rank", F.row_number().over(glob_w))
        .filter(F.col("rank") <= k)
        .select("dst", "term", "cnt", F.col("rank").cast("long").alias("rank"))
    )


def boilerplate_scrub(
    docs: DataFrame,
    host_col: str = "host",
    id_col: str = "doc_id",
    text_col: str = "text",
    df_num: int = 2,
    df_den: int = 5,
) -> DataFrame:
    """Host-level boilerplate-line removal — the CCNet/CommonCrawl
    cleaning pass: a LINE is boilerplate within a host when it appears
    in >= df_num/df_den of the host's documents (nav bars, cookie
    banners, footers — per-site furniture that survives doc-level dedup
    because every page differs in its body). Lines are matched by md5
    so the per-(host, line) frequency table carries hashes, never text.

    Scale shape: one posexplode over lines, one (host, line_hash)
    distinct-doc count, one doc-count per host, a broadcastable
    boilerplate line set (hosts x frequent-lines — tiny vs the corpus),
    one anti-ish left join back, and a per-doc reassembly groupBy.
    All counts are exact integers; the threshold is cross-multiplied.

    Returns (doc_id, host, n_lines, n_removed, clean_text): lines in
    original order with boilerplate dropped.
    """
    lines = docs.select(
        F.col(id_col).alias("doc_id"),
        F.col(host_col).alias("host"),
        F.posexplode(F.split(F.col(text_col), "\n")).alias(
            "line_no", "line"
        ),
    ).withColumn("lh", F.md5("line"))
    host_docs = docs.groupBy(F.col(host_col).alias("host")).agg(
        F.countDistinct(F.col(id_col)).alias("n_docs")
    )
    line_df = lines.groupBy("host", "lh").agg(
        F.countDistinct("doc_id").alias("df")
    )
    boiler = (
        line_df.join(F.broadcast(host_docs), "host")
        .filter(
            F.col("df") * F.lit(df_den) >= F.lit(df_num) * F.col("n_docs")
        )
        .select("host", "lh", F.lit(True).alias("is_boiler"))
    )
    tagged = lines.join(F.broadcast(boiler), ["host", "lh"], "left")
    kept = F.array_sort(
        F.collect_list(
            F.when(
                F.col("is_boiler").isNull(),
                F.struct(F.col("line_no"), F.col("line")),
            )
        )
    )
    return (
        tagged.groupBy("doc_id", "host")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_lines"),
            F.sum(F.col("is_boiler").isNotNull().cast("int"))
            .cast("long")
            .alias("n_removed"),
            F.array_join(
                F.transform(kept, lambda s: s["line"]), "\n"
            ).alias("clean_text"),
        )
    )


def conjunctive_topk(
    docs: DataFrame,
    terms: list[str],
    k: int = 10,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Conjunctive (AND) retrieval with tf-idf ranking — the posting-
    list intersection a search index serves: only documents containing
    EVERY query term qualify, ranked by the summed tf*ln(N/df) of the
    query terms. The postings explode filters to the query terms
    immediately (a literal IN over the exploded term — tiny fraction of
    the corpus survives), df comes from the surviving postings
    themselves, N is a broadcast one-row scalar, and the AND is one
    HAVING count(distinct term) = |terms| — no per-term join chain, so
    adding query terms never adds a shuffle. Global top-k executes as
    TakeOrderedAndProject (rank by ROUND(score, 6) DESC then doc id —
    the engine-portable ordering convention).

    Returns (doc_id, n_hits, score): n_hits = total occurrences of
    query terms, score ROUND(.,6).
    """
    base = docs.select(
        F.col(id_col).alias("id"), tokens_col(F.col(text_col)).alias("t")
    )
    n = base.agg(F.count(F.lit(1)).cast("double").alias("n_docs"))
    tf = (
        base.select("id", F.explode("t").alias("term"))
        .filter(F.col("term").isin(list(terms)))
        .groupBy("id", "term")
        .agg(F.count(F.lit(1)).cast("long").alias("tf"))
    )
    dfreq = tf.groupBy("term").agg(
        F.count(F.lit(1)).cast("double").alias("df")
    )
    scored = (
        tf.join(F.broadcast(dfreq), "term")
        .crossJoin(F.broadcast(n))
        .groupBy("id")
        .agg(
            F.countDistinct("term").alias("n_terms"),
            F.sum("tf").cast("long").alias("n_hits"),
            F.round(
                F.sum(F.col("tf") * F.log(F.col("n_docs") / F.col("df"))), 6
            ).alias("score"),
        )
        .filter(F.col("n_terms") == len(terms))
    )
    return (
        scored.orderBy(F.col("score").desc(), F.col("id"))
        .limit(k)
        .select(F.col("id").alias("doc_id"), "n_hits", "score")
    )


def phrase_occurrences(
    docs: DataFrame,
    phrase: list[str],
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Positional-index phrase search: an m-token phrase matches where
    token i sits at position p+i for all i — the positional-postings
    intersection. Each phrase token filters the exploded (id, pos,
    term) postings to ITS positions normalized to the phrase start
    (p - i), and the m lists meet in (m-1) equi-joins on (id, start) —
    each join side is only that token's postings (corpus fraction
    ~1/vocab), never the full positional index.

    Returns (doc_id, n_occ) for documents with >= 1 occurrence.
    """
    if len(phrase) < 2:
        raise ValueError("phrase_occurrences needs >= 2 tokens")
    toks = docs.select(
        F.col(id_col).alias("id"),
        F.posexplode(tokens_col(F.col(text_col))).alias("pos", "term"),
    )
    cur = None
    for i, w in enumerate(phrase):
        part = toks.filter(F.col("term") == w).select(
            "id", (F.col("pos") - F.lit(i)).alias("start")
        )
        cur = part if cur is None else cur.join(part, ["id", "start"])
    return cur.groupBy(F.col("id").alias("doc_id")).agg(
        F.count(F.lit(1)).cast("long").alias("n_occ")
    )


def kwic_snippets(
    docs: DataFrame,
    term: str,
    radius: int = 3,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Keyword-in-context snippet extraction — the serving-side result
    rendering pass: for documents containing ``term``, the tokens
    within ``radius`` positions of its FIRST occurrence, rejoined as
    the display snippet. Pure Column arithmetic (array_position +
    slice), no explode at all: the whole pass is a map over the
    documents, embarrassingly parallel at any scale.

    Returns (doc_id, pos, snippet) with pos the 1-based token position;
    documents without the term are dropped.
    """
    t = tokens_col(F.col(text_col))
    pos = F.array_position(t, term)
    start = F.greatest(F.lit(1), pos - radius)
    length = F.least(pos + radius, F.size(t)) - start + 1
    return (
        docs.select(
            F.col(id_col).alias("doc_id"),
            pos.cast("long").alias("pos"),
            F.array_join(F.slice(t, start, length), " ").alias("snippet"),
        )
        .filter(F.col("pos") > 0)
    )


def proximity_pairs(
    docs: DataFrame,
    term_a: str,
    term_b: str,
    max_gap: int = 4,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Proximity retrieval — the middle ground between bag-of-words AND
    and exact phrase: documents where ``term_a`` and ``term_b`` occur
    within ``max_gap`` token positions (either order). Each term's
    positional postings are a ~1/vocab sliver of the corpus; they meet
    in one per-document join whose fan-out is tf_a * tf_b (bounded by
    per-doc term frequency, never corpus-scale).

    Returns (doc_id, min_gap, n_pairs_within): the closest co-occurrence
    distance and how many position pairs fall inside the window —
    documents failing the window are dropped.
    """
    toks = docs.select(
        F.col(id_col).alias("id"),
        F.posexplode(tokens_col(F.col(text_col))).alias("pos", "term"),
    )
    a = toks.filter(F.col("term") == term_a).select(
        "id", F.col("pos").alias("pa")
    )
    b = toks.filter(F.col("term") == term_b).select(
        "id", F.col("pos").alias("pb")
    )
    gap = F.abs(F.col("pa") - F.col("pb"))
    return (
        a.join(b, "id")
        .select("id", gap.alias("gap"))
        .groupBy(F.col("id").alias("doc_id"))
        .agg(
            F.min("gap").cast("long").alias("min_gap"),
            F.sum((F.col("gap") <= max_gap).cast("int"))
            .cast("long")
            .alias("n_pairs_within"),
        )
        .filter(F.col("min_gap") <= max_gap)
    )
