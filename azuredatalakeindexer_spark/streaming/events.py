"""Event-driven incremental path-index maintenance (T1-T4, SURVEY §2.9).

Reference flow (DatalakePathIndexerFunc/PathIndexerFunc.cs:18-36): Service
Bus delivers BlobCreated batches (500-2000 msgs, ≤10 s wait — host.json) →
project each to a ``PathIndexModel`` row → ``UpsertPathsAsync``.  At-least-
once delivery is made idempotent by the deterministic key + MergeOrUpload.

Spark shape: ``readStream`` → ``foreachBatch`` (W1 dedup + LWW merge).  The
micro-batch boundary is arbitrary (T3's batching policy becomes the trigger),
so the merge is written to be batch-split-invariant: last-writer-wins compares
``fileLastModified`` with the event sequencer as tie-break, which yields the
same final table no matter how the stream is chopped.  ``availableNow``
replaces the reference's drain-termination (T7).

Production sink would be Delta ``MERGE INTO``; on plain parquet each
micro-batch lands each index as read (with the batch's own schema, so no
inference job) → union → one LWW window → staged write → journaled promote
(``sources/staging.py``): one shuffle and one write per index, and a crash
at any point leaves a table the next drain recovers, on any Hadoop
filesystem.  The first batch into an empty index gets the same window
alone.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType

from azuredatalakeindexer_spark.operators.mapper import events_to_path_rows
from azuredatalakeindexer_spark.operators.upsert import dedup_last_writer
from azuredatalakeindexer_spark.schemas import (
    EVENT_TYPE_BLOB_CREATED,
    EVENT_TYPE_BLOB_DELETED,
)
from azuredatalakeindexer_spark.sources.staging import _merge_flat_table


def stream_events(spark: SparkSession, events_dir: str, schema: StructType, max_files_per_trigger: int | None = None) -> DataFrame:
    """T1/T3: the blob-event micro-batch source.

    ``maxFilesPerTrigger`` is the Spark analog of the Service Bus
    ``maxMessageBatchSize`` (host.json) — it bounds each micro-batch.
    """
    reader = spark.readStream.schema(schema)
    if max_files_per_trigger:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    return reader.parquet(events_dir)


def _merge_batch(spark: SparkSession, rows: DataFrame, target_dir: str) -> None:
    """LWW merge of raw path rows into a parquet table (S6 on files).

    One ``dedup_last_writer`` window over ``existing ∪ rows`` (or over
    ``rows`` alone while the table is empty) keeps, per key, the row with
    the newest (fileLastModified, _seq).  That resolves the batch's own
    duplicate keys and its conflicts with the table in the same shuffle,
    and it is batch-split invariant: merging {e1} then {e2} equals merging
    {e1, e2}.

    The existing table is read with ``rows``' schema and the merged table
    lands through one staged commit rooted at ``target_dir``
    (``sources/staging._merge_flat_table``).
    """
    _merge_flat_table(
        spark,
        target_dir,
        rows,
        lambda both: dedup_last_writer(
            both, ["key"], "fileLastModified", tiebreak_col="_seq"
        ),
    )


def run_event_stream_upsert(
    spark: SparkSession,
    events_dir: str,
    schema: StructType,
    path_index_dir: str,
    deleted_index_dir: str,
    checkpoint_dir: str,
    now: str | None = None,
    max_files_per_trigger: int | None = None,
) -> None:
    """T1+T2: drain the event stream (availableNow) into the path index and
    the deleted-path index (reference PathIndexerFunc.cs:18-74).

    ``now`` pins the F9 ``lastModified`` stamp for deterministic tests (the
    reference stamps ``DateTimeOffset.UtcNow``, PathIndexerFunc.cs:22).

    Each micro-batch rewrites each index through one LWW shuffle; AQE
    coalescing (on in ``session.get_spark``) sizes that shuffle's output
    to the index, so the drain sets no partition count of its own.
    """
    stream = stream_events(spark, events_dir, schema, max_files_per_trigger)
    stamp = F.lit(now).cast("timestamp") if now else F.current_timestamp()

    def handle(batch: DataFrame, _batch_id: int) -> None:
        # no cache: each index's shuffle map stage scans the micro-batch's
        # event files itself, which is cheaper than a job to materialize them
        created = batch.where(F.col("eventType") == EVENT_TYPE_BLOB_CREATED)
        deleted = batch.where(F.col("eventType") == EVENT_TYPE_BLOB_DELETED)
        for df, target in ((created, path_index_dir), (deleted, deleted_index_dir)):
            rows = events_to_path_rows(df, now=stamp, seq_col="event_id")
            _merge_batch(batch.sparkSession, rows, target)

    (
        stream.writeStream.foreachBatch(handle)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
        .awaitTermination()
    )
