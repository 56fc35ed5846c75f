"""Upsert/MERGE sink semantics (S6, J3, A1) and the last-writer-wins dedup
window (W1, SURVEY §2.5).

The reference delegates upsert to Azure Search ``MergeOrUploadDocumentsAsync``
(reference BatchingUploader.cs:34, PathIndexClient.cs:26): per-row status
201=created / 200=modified / ≥400=failed, applied in batch order so the last
action for a key wins.  Spark re-expresses that as:

1. W1 — collapse each micro-batch to one row per key (newest wins) with a
   ``row_number`` window; Azure Search got this for free by applying actions
   in order (PathIndexerFunc.cs:23-35 upserts whole batches).
2. J3 — classify created-vs-modified with an existence join against the
   existing keys (an ``IN`` subquery; no distinct of the existing index).
3. S6 — MERGE = existing rows not overwritten + the deduped batch
   (anti-join + union: shuffle-partitioned by key on both sides, no window
   over the full table).
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, Window


def dedup_last_writer(
    df: DataFrame,
    key_cols: list[str] | None = None,
    order_col: str = "lastModified",
    tiebreak_col: str | None = None,
) -> DataFrame:
    """W1: one row per key, newest ``order_col`` wins; ties broken by
    ``tiebreak_col`` (descending) then arbitrary-but-deterministic.

    At scale this is a single hash-shuffle by key; AQE splits skewed keys.
    """
    keys = key_cols or ["key"]
    order = [F.col(order_col).desc()]
    if tiebreak_col:
        order.append(F.col(tiebreak_col).desc())
    w = Window.partitionBy(*keys).orderBy(*order)
    return (
        df.withColumn("_rn", F.row_number().over(w)).where(F.col("_rn") == 1).drop("_rn")
    )


def classify_upserts(
    batch: DataFrame,
    existing: DataFrame,
    key_col: str = "key",
    broadcast_existing_keys: bool = False,
) -> DataFrame:
    """J3: tag each batch row with its MergeOrUpload outcome.

    ``status`` mirrors the reference's HTTP statuses (BatchingUploader.cs:36-38,
    PathIndexClient.cs:28-33): 201 created (key absent), 200 modified (key
    present).  Failures (≥400) are produced upstream by the oversize filter
    (P11) or read errors; this join only sees uploadable rows.
    """
    keys = existing.select(key_col)
    if broadcast_existing_keys:
        keys = F.broadcast(keys)
    # an IN subquery plans as an existence join: duplicate existing keys
    # cannot fan batch rows out, so the existing keys need no distinct (a
    # shuffle of the whole index)
    present = F.col(key_col).isin(keys)
    return batch.withColumn("status", F.when(present, F.lit(200)).otherwise(F.lit(201)))


def upsert_status_counts(classified: DataFrame) -> DataFrame:
    """A1: created/modified/failed counters summed across batches
    (reference PathIndexClient.cs:28-33, BatchingUploader.cs:13-17, 36-38)."""
    return classified.agg(
        F.count_if(F.col("status") == 201).alias("created"),
        F.count_if(F.col("status") == 200).alias("modified"),
        F.count_if(F.col("status") >= 400).alias("failed"),
    )


def merge_upsert(
    existing: DataFrame,
    batch: DataFrame,
    key_col: str = "key",
    broadcast_batch_keys: bool = True,
) -> DataFrame:
    """S6: MERGE-or-upload — the table state after applying a (deduped) batch.

    ``MERGE INTO existing USING batch ON key WHEN MATCHED THEN UPDATE WHEN NOT
    MATCHED THEN INSERT`` expressed on plain DataFrames as
    ``existing ∖ batch ∪ batch`` (left anti-join + union).

    ``broadcast_batch_keys=True`` is the incremental-indexing default: a
    micro-batch's key set is small, so the anti-join broadcasts it and the
    big ``existing`` table never shuffles.  For rebuild-sized batches
    (reference ``PathIndexClient.cs:98-147`` relists the whole lake — up to
    10⁹ keys) pass ``False``: both sides hash-partition by key into a
    shuffled join, the same plan shape a Delta MERGE performs.
    """
    keys = batch.select(key_col).distinct()
    if broadcast_batch_keys:
        keys = F.broadcast(keys)
    survivors = existing.join(keys, key_col, "left_anti")
    return survivors.unionByName(batch.select(*existing.columns))
