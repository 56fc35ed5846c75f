"""Run metrics (A2, A3, A6) — `observe()`-based counters.

The reference threads seven counters through its pipeline
(``IndexerRunMetrics``: reference Models/IndexerRunMetrics.cs:3-12, assembled
DataLakeIndexer.cs:39-48): paths listed, documents read / read-failed,
uploaded / upload-failed / failed-too-large, created / modified.  Spark's
``df.observe`` collects these as streaming-safe accumulators on the exact
rows that flow — no second scan.

NOTE the reference bug deliberately NOT ported: ``ProcessedCount`` is
assigned from ``FailedCount`` (DataLakeIndexer.cs:43); here processed means
processed.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, Observation

from azuredatalakeindexer_spark.functions.localrel import tiny_df


def observe_reads(df: DataFrame, failed_predicate) -> tuple[DataFrame, Observation]:
    """A2: count mapped vs failed documents on the flowing rows
    (reference DataLakeIndexer.cs:63-64, 95-101)."""
    import uuid

    # metric names must be unique per session
    obs = Observation(f"read_metrics_{uuid.uuid4().hex}")
    out = df.observe(
        obs,
        F.count(F.lit(1)).alias("documentReadCount"),
        F.count_if(failed_predicate).alias("documentReadFailedCount"),
    )
    return out, obs


def run_metrics(
    spark,
    path_count: int,
    read_count: int,
    read_failed: int,
    created: int,
    modified: int,
    failed: int,
    too_large: int,
) -> DataFrame:
    """A3: assemble the IndexerRunMetrics row (Models/IndexerRunMetrics.cs:3-12)."""
    return tiny_df(
        spark,
        [
            (
                path_count,
                read_count,
                read_failed,
                read_count - read_failed,
                created,
                modified,
                failed,
                too_large,
            )
        ],
        "pathsCount long, documentReadCount long, documentReadFailedCount long, "
        "processedCount long, createdCount long, modifiedCount long, "
        "failedCount long, failedTooLargeCount long",
    )


def doc_count(df: DataFrame) -> int:
    """A6/S9: index cardinality (reference Program.cs:81-82)."""
    return df.count()

