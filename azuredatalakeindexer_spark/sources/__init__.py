from azuredatalakeindexer_spark.sources.fixtures import (
    WATERMARK,
    build_blob_events,
    build_deleted_paths,
    build_listing,
    build_path_index,
    load_table,
)
from azuredatalakeindexer_spark.sources.bucketed import colocated_join, write_bucketed, write_range_sorted
from azuredatalakeindexer_spark.sources.lake import list_lake_paths, read_json_documents
from azuredatalakeindexer_spark.sources.ddl import create_index_table, index_field_capabilities
from azuredatalakeindexer_spark.sources.synthetic import generate_paths, write_lake
from azuredatalakeindexer_spark.sources.profile_index import (
    build_profile_index,
    facets_from_index,
    near_profile_from_index,
    query_profile_index,
)
from azuredatalakeindexer_spark.sources.staging import (
    ConcurrentMaintenanceError,
    recover_index,
)
from azuredatalakeindexer_spark.sources.text_index import (
    build_text_index,
    fuzzy_from_index,
    highlight_from_index,
    query_fuzzy_index,
    query_near_index,
    query_phrase_index,
    query_wildcard_index,
    wildcard_from_index,
    query_text_index,
    run_stream_text_index,
    suggest_from_index,
)
from azuredatalakeindexer_spark.sources.text_segments import (
    compact_text_index,
    delete_from_text_index_segmented,
    list_segments,
    upsert_text_index_segmented,
)
from azuredatalakeindexer_spark.sources.text_corpus import (
    read_csv_corpus,
    read_jsonl_corpus,
    split_corrupt,
)

__all__ = [
    "colocated_join",
    "write_bucketed",
    "write_range_sorted",
    "create_index_table",
    "index_field_capabilities",
    "generate_paths",
    "write_lake",
    "WATERMARK",
    "load_table",
    "build_path_index",
    "build_listing",
    "build_blob_events",
    "build_deleted_paths",
    "list_lake_paths",
    "read_json_documents",
    "read_jsonl_corpus",
    "read_csv_corpus",
    "split_corrupt",
    "build_text_index",
    "query_text_index",
    "query_phrase_index",
    "fuzzy_from_index",
    "highlight_from_index",
    "query_fuzzy_index",
    "query_near_index",
    "query_wildcard_index",
    "suggest_from_index",
    "wildcard_from_index",
    "recover_index",
    "build_profile_index",
    "near_profile_from_index",
    "query_profile_index",
    "facets_from_index",
    "ConcurrentMaintenanceError",
    "run_stream_text_index",
    "upsert_text_index_segmented",
    "delete_from_text_index_segmented",
    "compact_text_index",
    "list_segments",
]
