from acorn_hybrid_vector_search_spark.operators.ann import (
    IVFIndex,
    ivf_build,
    ivf_read,
    ivf_search,
    ivf_search_exact,
    ivf_write,
    refresh_radii,
)
from acorn_hybrid_vector_search_spark.operators.asof import asof_join, asof_join_chunked
from acorn_hybrid_vector_search_spark.operators.decontam import (
    benchmark_ngrams,
    contaminated_ids,
    contamination_stats,
    decontaminate,
)
from acorn_hybrid_vector_search_spark.operators.dedup import (
    collapse_near_dups,
    embedding_near_dups,
    exact_dedup,
    exact_dedup_groups,
    minhash_near_dups,
    near_dup_components,
    ngram_jaccard_pairs,
    simhash_near_dups,
)
from acorn_hybrid_vector_search_spark.operators.histogram import value_histogram
from acorn_hybrid_vector_search_spark.operators.hybrid import (
    acorn_search,
    attribute_partitioned_search,
    attribute_presence_cond,
    materialize_attribute_subset,
    postfilter_search,
    prefilter_search,
)
from acorn_hybrid_vector_search_spark.operators.knn import knn_batch, knn_exact
from acorn_hybrid_vector_search_spark.operators.similarity import (
    lsh_near_dup_pairs,
    with_lsh_bucket,
)

__all__ = [
    "IVFIndex",
    "ivf_build",
    "ivf_read",
    "ivf_search",
    "ivf_search_exact",
    "ivf_write",
    "refresh_radii",
    "asof_join",
    "asof_join_chunked",
    "benchmark_ngrams",
    "contaminated_ids",
    "contamination_stats",
    "decontaminate",
    "collapse_near_dups",
    "embedding_near_dups",
    "exact_dedup",
    "exact_dedup_groups",
    "minhash_near_dups",
    "near_dup_components",
    "ngram_jaccard_pairs",
    "simhash_near_dups",
    "value_histogram",
    "acorn_search",
    "attribute_partitioned_search",
    "attribute_presence_cond",
    "materialize_attribute_subset",
    "postfilter_search",
    "prefilter_search",
    "knn_batch",
    "knn_exact",
    "lsh_near_dup_pairs",
    "with_lsh_bucket",
]
