"""The end-to-end document indexer — the reference's main "query"
(``RunDocumentIndexerOnPathsAsync``, reference DataLakeIndexer.cs:20-49,
SURVEY §3.1).

The reference wires three imperative stages with bounded channels (list ∥
read+map ∥ batch+upload, DataLakeIndexer.cs:26-35) and hand-tuned semaphores.
Here the pipeline is one driver-side path collect feeding ONE declarative
DataFrame program — Catalyst plans it, Spark's scheduler replaces the
channels/semaphores, and the cluster replaces the thread pools:

    paths(S2: watermark+partition) → collect decoded paths  # one small job
    JSON parse of exactly those files (S3/S4)             # O(delta) read
      ⋈ paths (J1)                                        # broadcast paths
      → map to data-index shape (P1), null-drop (P2)      # narrow, codegen
      → oversize filter (P11)                             # observed count
      → LWW dedup (W1) → classify 201/200 (J3)            # one key shuffle
      → created/modified aggregate (A1)                   # the one action
      → MERGE (S6), run by the caller's write             # anti-join + union

The lake is never scanned: like the reference, which downloads only the
paths the path index returned (DataLakeIndexer.cs:55-130), the parse, the
join and the cached batch are all the size of the delta — a rebuild (every
path listed) and a tick take the same path.  Read and oversize metrics ride
on ``observe`` (A2) — counted on the rows that flow, no second scan.  A
listed file that no longer exists is a failed read, not a crash
(DataLakeIndexer.cs:98-103).  The reference's ``ProcessedCount =
FailedCount`` bug (DataLakeIndexer.cs:43) is intentionally not reproduced.
"""

from __future__ import annotations

import uuid
from dataclasses import dataclass

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, Observation, SparkSession

from azuredatalakeindexer_spark.functions.keys import doc_size_bytes, url_decode_path
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
    """Run the full §3.1 pipeline over the listed files of a JSON lake.

    Only the files the path index lists are read, on rebuilds and ticks
    alike.  ``document_read_count`` counts the documents parsed from them
    plus the listed files that no longer exist; those missing files also
    count in ``document_read_failed_count``, next to the malformed
    documents.
    """
    # the O1 key sort is a global exchange nobody reads — unless a limit
    # picks the rows, and then the join below must see the same ones
    paths = list_paths(path_index, options, ordered=options.limit is not None)
    listed = [r[0] for r in paths.select(url_decode_path(F.col("pathUrlEncoded"))).collect()]
    if not listed:
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

    files = sorted(set(listed))
    docs = read_json_documents(spark, lake_root, TEST_INDEX_SCHEMA, files=files)
    # the files the glob matched, as one py4j call (the array's length)
    missing = len(files) - len(docs._jdf.inputFiles())
    # metric names must be unique per session → suffix each run
    run = uuid.uuid4().hex
    read_obs = Observation(f"read_metrics_{run}")
    docs = docs.observe(
        read_obs,
        F.count(F.lit(1)).alias("documentReadCount"),
        F.count_if(F.col("_corrupt_record").isNotNull()).alias("documentReadFailedCount"),
    )

    joined = join_paths_content(paths, docs)
    mapped = map_to_data_index(
        joined,
        etag=F.md5(F.col("path")),
        last_modified=F.col("fileLastModified"),
    )
    # cache the mapped batch: every downstream action (counts, classify,
    # the caller's MERGE write) reuses it instead of re-parsing the files
    mapped = drop_unmapped(mapped).persist()

    size = doc_size_bytes(*[F.col(c) for c in mapped.columns])
    size_obs = Observation(f"size_metrics_{run}")
    sized = mapped.observe(size_obs, F.count_if(size > max_doc_bytes).alias("tooLarge"))
    kept, _ = oversize_filter(sized, size, max_doc_bytes)

    batch = dedup_last_writer(kept, ["pathbase64"], "lastModified")
    classified = classify_upserts(batch, existing_index, key_col="pathbase64")
    # the one action: it fills both observations on the way
    counts = classified.groupBy().agg(
        F.count_if(F.col("status") == 201).alias("created"),
        F.count_if(F.col("status") == 200).alias("modified"),
    ).collect()[0]

    merged = merge_upsert(existing_index, classified.drop("status"), key_col="pathbase64")

    read_metrics = read_obs.get
    return IndexerResult(
        batch=mapped,
        merged=merged,
        paths_count=len(listed),
        document_read_count=read_metrics["documentReadCount"] + missing,
        document_read_failed_count=read_metrics["documentReadFailedCount"] + missing,
        processed_count=read_metrics["documentReadCount"]
        - read_metrics["documentReadFailedCount"],
        created_count=counts["created"],
        modified_count=counts["modified"],
        failed_too_large_count=size_obs.get["tooLarge"],
    )
