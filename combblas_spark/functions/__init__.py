from combblas_spark.functions.text import (  # noqa: F401
    token_stats,
    quality_score,
    language_id,
    fingerprint,
    repetition_stats,
    token_entropy,
    corpus_filter,
    mixture_stats,
    unigram_xent,
    zipf_stats,
)
from combblas_spark.functions.dedup import (  # noqa: F401
    exact_dedup,
    shingles,
    minhash_signatures,
    lsh_candidate_pairs,
    jaccard_pairs,
    simhash,
    simhash_near_dups,
    near_dup_clusters,
    source_dup_matrix,
    decontaminate,
    prefix_jaccard_pairs,
    winnow_pairs,
)
from combblas_spark.functions.similarity import (  # noqa: F401
    with_norm,
    cosine_topk,
    lsh_buckets,
    lsh_ann_topk,
)
from combblas_spark.functions.sampling import (  # noqa: F401
    split_by_hash,
    stratified_sample,
    pack_sequences,
)
