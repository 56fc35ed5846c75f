"""The end-to-end document indexer — the reference's main "query"
(``RunDocumentIndexerOnPathsAsync``, reference DataLakeIndexer.cs:20-49,
SURVEY §3.1).

The reference wires three imperative stages with bounded channels (list ∥
read+map ∥ batch+upload, DataLakeIndexer.cs:26-35) and hand-tuned semaphores.
Here the whole pipeline is ONE declarative DataFrame program — Catalyst plans
it, Spark's scheduler replaces the channels/semaphores, and the cluster
replaces the thread pools:

    paths(S2: watermark+partition)                        # pushed-down scan
      ⋈ lake JSON content (S3/S4, J1)                     # broadcast paths
      → map to data-index shape (P1), null-drop (P2)      # narrow, codegen
      → oversize filter (P11) + batch planning (A5)       # window per worker
      → LWW dedup (W1) → classify 201/200 (J3)            # one key shuffle
      → MERGE (S6) + metrics (A1-A3)                      # anti-join + union

Metrics ride on ``observe`` (A2) — counted on the rows that flow, no second
scan.  The reference's ``ProcessedCount = FailedCount`` bug
(DataLakeIndexer.cs:43) is intentionally not reproduced.
"""

from __future__ import annotations

from dataclasses import dataclass

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, Observation, SparkSession

from azuredatalakeindexer_spark.functions.keys import doc_size_bytes
from azuredatalakeindexer_spark.operators.batching import (
    MAX_DOCUMENT_SIZE_BYTES,
    oversize_filter,
)
from azuredatalakeindexer_spark.operators.mapper import (
    drop_unmapped,
    join_paths_content,
    map_to_data_index,
)
from azuredatalakeindexer_spark.operators.paths import ListPathsOptions, list_paths
from azuredatalakeindexer_spark.operators.upsert import (
    classify_upserts,
    dedup_last_writer,
    merge_upsert,
)
from azuredatalakeindexer_spark.schemas import TEST_INDEX_SCHEMA
from azuredatalakeindexer_spark.sources.lake import read_json_documents


@dataclass
class IndexerResult:
    """A3: IndexerRunMetrics (reference Models/IndexerRunMetrics.cs:3-12)."""

    merged: DataFrame
    paths_count: int
    document_read_count: int
    document_read_failed_count: int
    processed_count: int
    created_count: int
    modified_count: int
    failed_too_large_count: int
    #: the cached post-map batch backing ``merged`` — callers unpersist it
    #: once ``merged`` has been materialized
    batch: DataFrame | None = None


def run_document_indexer(
    spark: SparkSession,
    path_index: DataFrame,
    lake_root: str,
    existing_index: DataFrame,
    options: ListPathsOptions,
    max_doc_bytes: int = MAX_DOCUMENT_SIZE_BYTES,
) -> IndexerResult:
    """Run the full §3.1 pipeline over a JSON lake directory."""
    paths = list_paths(path_index, options)
    paths_count = paths.count()
    if paths_count == 0:
        # nothing passed the watermark: no lake read runs, so the observed
        # read metrics would never be filled in — report an empty run
        return IndexerResult(
            merged=existing_index,
            paths_count=0,
            document_read_count=0,
            document_read_failed_count=0,
            processed_count=0,
            created_count=0,
            modified_count=0,
            failed_too_large_count=0,
        )

    docs =read_json_documents(spark, lake_root, TEST_INDEX_SCHEMA)
    # metric names must be unique per session → suffix each run
    import uuid

    obs = Observation(f"read_metrics_{uuid.uuid4().hex}")
    docs = docs.observe(
        obs,
        F.count(F.lit(1)).alias("documentReadCount"),
        F.count_if(F.col("_corrupt_record").isNotNull()).alias("documentReadFailedCount"),
    )

    joined = join_paths_content(paths, docs)
    mapped = map_to_data_index(
        joined,
        etag=F.md5(F.col("path")),
        last_modified=F.col("fileLastModified"),
    )
    # cache the mapped batch: it is small (the rows about to be merged — what
    # a Delta MERGE would stage) while its lineage is the full content scan;
    # without this every downstream action (counts, classify, MERGE write)
    # re-reads and re-parses the lake
    mapped = drop_unmapped(mapped).persist()

    kept, too_large = oversize_filter(
        mapped, doc_size_bytes(*[F.col(c) for c in mapped.columns]), max_doc_bytes
    )
    too_large_count = too_large.count()

    batch = dedup_last_writer(kept, ["pathbase64"], "lastModified")
    classified = classify_upserts(batch, existing_index, key_col="pathbase64")
    counts = classified.groupBy().agg(
        F.count_if(F.col("status") == 201).alias("created"),
        F.count_if(F.col("status") == 200).alias("modified"),
    ).collect()[0]

    merged = merge_upsert(existing_index, classified.drop("status"), key_col="pathbase64")

    read_metrics = obs.get
    return IndexerResult(
        batch=mapped,
        merged=merged,
        paths_count=paths_count,
        document_read_count=read_metrics["documentReadCount"],
        document_read_failed_count=read_metrics["documentReadFailedCount"],
        processed_count=read_metrics["documentReadCount"]
        - read_metrics["documentReadFailedCount"],
        created_count=counts["created"],
        modified_count=counts["modified"],
        failed_too_large_count=too_large_count,
    )
