from azuredatalakeindexer_spark.operators.paths import ListPathsOptions, list_paths
from azuredatalakeindexer_spark.operators.mapper import (
    drop_unmapped,
    events_to_path_rows,
    join_paths_content,
    listing_to_path_rows,
    map_to_data_index,
)
from azuredatalakeindexer_spark.operators.upsert import (
    classify_upserts,
    dedup_last_writer,
    merge_upsert,
    upsert_status_counts,
)
from azuredatalakeindexer_spark.operators.deletes import apply_deletes
from azuredatalakeindexer_spark.operators.batching import oversize_filter, plan_batches
from azuredatalakeindexer_spark.operators.metrics import doc_count, observe_reads, run_metrics
from azuredatalakeindexer_spark.operators.dedup import (
    connected_components,
    dedup_cluster_assignments,
    exact_dedup,
    minhash_lsh_pairs,
    ngram_jaccard_pairs,
    simhash_docs,
    simhash_pairs,
)
from azuredatalakeindexer_spark.operators.search import (
    bm25_topk,
    facet_counts,
    fuzzy_match_terms,
    fuzzy_topk,
    keyword_snippets,
    wildcard_match_terms,
    wildcard_topk,
)
from azuredatalakeindexer_spark.operators.textops import (
    fingerprints,
    language_id,
    quality_score,
    repetition_stats,
    token_stats,
)
from azuredatalakeindexer_spark.operators.decontam import (
    ngram_contamination,
    redact_pii,
)
from azuredatalakeindexer_spark.operators.asof import asof_join
from azuredatalakeindexer_spark.operators.skew import salted_agg, salted_counts
from azuredatalakeindexer_spark.operators.sampling import (
    hash_sample,
    stratified_sample,
    token_budget_pack,
)
from azuredatalakeindexer_spark.operators.multimodal import (
    attach_binary_payload,
    extract_features,
    metadata_only,
)

__all__ = [
    "asof_join",
    "salted_agg",
    "salted_counts",
    "ngram_contamination",
    "redact_pii",
    "hash_sample",
    "stratified_sample",
    "token_budget_pack",
    "connected_components",
    "dedup_cluster_assignments",
    "exact_dedup",
    "minhash_lsh_pairs",
    "ngram_jaccard_pairs",
    "simhash_docs",
    "simhash_pairs",
    "language_id",
    "quality_score",
    "token_stats",
    "fingerprints",
    "repetition_stats",
    "attach_binary_payload",
    "extract_features",
    "metadata_only",
    "ListPathsOptions",
    "list_paths",
    "join_paths_content",
    "map_to_data_index",
    "drop_unmapped",
    "events_to_path_rows",
    "listing_to_path_rows",
    "dedup_last_writer",
    "classify_upserts",
    "merge_upsert",
    "upsert_status_counts",
    "apply_deletes",
    "oversize_filter",
    "plan_batches",
    "doc_count",
    "observe_reads",
    "run_metrics",
    "bm25_topk",
    "fuzzy_match_terms",
    "fuzzy_topk",
    "wildcard_match_terms",
    "wildcard_topk",
    "facet_counts",
    "keyword_snippets",
]
