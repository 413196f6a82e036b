"""Relational + data-pipeline operators (SURVEY.md §2.4-§2.8, §7 M4).

The public operator surface, one import away — what a user of the
reference switches to: window dedup/top-k, temporal joins, skew tools,
the dedup family, similarity search, text analysis, deterministic
sampling, dup-cluster canonicalization, multimodal plumbing.
"""

from esther_apache_spark_spark.operators.asof import as_of_join
from esther_apache_spark_spark.operators.components import connected_components
from esther_apache_spark_spark.operators.dedup import (
    embedding_cosine_dups,
    exact_dedup,
    exact_dup_groups,
    minhash_lsh_candidates,
    ngram_jaccard_pairs,
    simhash_candidates,
)
from esther_apache_spark_spark.operators.multimodal import (
    extract_features,
    frame_sample_plan,
    resize_plan,
)
from esther_apache_spark_spark.operators.rangejoin import range_join
from esther_apache_spark_spark.operators.sampling import (
    hash_bucket,
    hash_sample,
    stratified_hash_sample,
    train_test_split,
)
from esther_apache_spark_spark.operators.similarity import (
    ann_topk_lsh,
    brute_force_topk,
    brute_force_topk_arrow,
    ivf_topk,
)
from esther_apache_spark_spark.operators.skew import salted_collect_list, salted_join
from esther_apache_spark_spark.operators.textstats import (
    document_stats,
    fingerprint,
    lang_id,
    quality_score,
    rolling_hash,
    token_count,
)
from esther_apache_spark_spark.operators.windows import (
    keep_first,
    top_k,
    top_k_per_group,
)

__all__ = [
    # windows / dedup
    "keep_first",
    "top_k",
    "top_k_per_group",
    "exact_dedup",
    "exact_dup_groups",
    "minhash_lsh_candidates",
    "simhash_candidates",
    "ngram_jaccard_pairs",
    "embedding_cosine_dups",
    "connected_components",
    # joins
    "as_of_join",
    "range_join",
    "salted_join",
    "salted_collect_list",
    # similarity
    "brute_force_topk",
    "brute_force_topk_arrow",
    "ann_topk_lsh",
    "ivf_topk",
    # text
    "document_stats",
    "token_count",
    "quality_score",
    "lang_id",
    "fingerprint",
    "rolling_hash",
    # sampling
    "hash_bucket",
    "hash_sample",
    "train_test_split",
    "stratified_hash_sample",
    # multimodal
    "extract_features",
    "resize_plan",
    "frame_sample_plan",
]
