"""Streaming corpus curation: incremental exact-dedup state maintenance.

A training-data lake is append-mostly: new documents arrive continuously and
the curation state (which content hashes exist, which doc owns each) must
stay current without re-scanning the corpus.  This is the streaming twin of
``operators/dedup.py::exact_dedup``: ``readStream`` over the document
arrivals → ``foreachBatch`` merge into a (content_hash → min doc_id, count)
state table.

The merge is BATCH-SPLIT INVARIANT by algebra: min(id) is associative/
commutative and counts add, so draining the stream in 1 file per trigger or
all at once converges to byte-identical state — which is exactly what the
correctness oracle checks (the final state must equal the batch
``exact_dedup`` over all documents).  At-least-once redelivery of a whole
file is NOT idempotent for the count column (counts would double); Spark's
file-source checkpoint guarantees exactly-once file processing, which is the
contract this sink assumes (documented limit; a Delta MERGE keyed on
(content_hash, doc_id) would make redelivery safe too).

At 100 TB the state table is one row per distinct content hash; the per-batch
work is one map-side-combined groupBy of the (small) batch plus a merge
against the state partitioned by hash — with the state written bucketed on
``content_hash`` (sources/bucketed.py) the merge join is exchange-free.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType

from azuredatalakeindexer_spark.sources.staging import _merge_flat_table


def _content_hash(text_col: str) -> F.Column:
    """Same normalization + hash as operators/dedup.py::exact_dedup."""
    return F.md5(F.regexp_replace(F.lower(F.col(text_col)), r"\s+", " "))


def _merge_dedup_state(spark: SparkSession, batch_agg: DataFrame, state_dir: str) -> None:
    """Associative merge of per-batch dedup aggregates into the state table
    (landed through a staged commit, ``sources/staging._merge_flat_table``)."""
    _merge_flat_table(
        spark,
        state_dir,
        batch_agg,
        lambda both: both.groupBy("content_hash").agg(
            F.min("doc_id").alias("doc_id"), F.sum("dup_count").alias("dup_count")
        ),
    )


def run_stream_exact_dedup(
    spark: SparkSession,
    docs_dir: str,
    schema: StructType,
    state_dir: str,
    checkpoint_dir: str,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_files_per_trigger: int | None = None,
) -> None:
    """Drain the document arrival stream (availableNow) into the exact-dedup
    state table ``(content_hash, doc_id, dup_count)``."""
    reader = spark.readStream.schema(schema)
    if max_files_per_trigger:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    stream = reader.parquet(docs_dir)

    def handle(batch: DataFrame, _batch_id: int) -> None:
        agg = (
            batch.select(
                F.col(id_col).alias("doc_id"), _content_hash(text_col).alias("content_hash")
            )
            .groupBy("content_hash")
            .agg(F.min("doc_id").alias("doc_id"), F.count(F.lit(1)).alias("dup_count"))
        )
        _merge_dedup_state(batch.sparkSession, agg, state_dir)

    (
        stream.writeStream.foreachBatch(handle)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
        .awaitTermination()
    )


def _doc_bands(
    df: DataFrame,
    text_col: str,
    id_col: str,
    num_hashes: int,
    bands: int,
    shingle: int,
) -> DataFrame:
    """(doc_id, band, bh) via the SAME shingle/minhash/band expressions as
    the batch ``operators/dedup.py::minhash_lsh_pairs`` — streaming and
    batch can never disagree on a bucket."""
    from azuredatalakeindexer_spark.functions.text import (
        band_key,
        gram_hashes,
        minhash_signature,
    )
    from azuredatalakeindexer_spark.operators.dedup import _shingled

    band_size = num_hashes // bands
    sh = _shingled(df, text_col, id_col, shingle)
    hashed = sh.select(F.col(id_col).alias("doc_id"), gram_hashes(F.col("grams")).alias("hs"))
    sig = hashed.select("doc_id", minhash_signature(F.col("hs"), num_hashes).alias("sig"))
    return sig.select(
        "doc_id",
        F.explode(
            F.array(*[
                F.struct(
                    F.lit(b).alias("band"),
                    band_key(F.col("sig"), b, band_size).alias("bh"),
                )
                for b in range(bands)
            ])
        ).alias("bk"),
    ).select("doc_id", "bk.band", "bk.bh")


def _merge_band_state(spark: SparkSession, batch_mins: DataFrame, state_dir: str) -> None:
    """Associative merge of per-batch band-bucket minima into the state
    (landed through a staged commit, ``sources/staging._merge_flat_table``)."""
    _merge_flat_table(
        spark,
        state_dir,
        batch_mins,
        lambda both: both.groupBy("band", "bh").agg(F.min("bmin").alias("bmin")),
    )


def run_stream_minhash_state(
    spark: SparkSession,
    docs_dir: str,
    schema: StructType,
    state_dir: str,
    checkpoint_dir: str,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 8,
    bands: int = 4,
    shingle: int = 3,
    max_files_per_trigger: int | None = None,
) -> None:
    """Streaming NEAR-dup state: maintain the MinHash band-bucket minima
    ``(band, bh, bmin)`` incrementally as documents arrive.

    ``min`` per bucket is associative/commutative, so — like the exact-dedup
    state — ANY micro-batch chopping converges to the same state table: the
    band-bucket minima over the whole corpus.  The near-dup verdict is then
    a pure function of that state (:func:`rep_assignments_from_band_state`),
    which makes the whole pipeline batch-split invariant WITHOUT having to
    replay a greedy order-dependent "first doc wins" rule (greedy diverges
    from batch clustering on chain-shaped graphs; bucket-min stars do not).

    At 100 TB the state is one row per non-empty band bucket (≤ docs ×
    bands, typically far fewer); per-batch work is one map-side-combined
    groupBy of the batch's bands plus a merge partitioned by (band, bh).
    """
    reader = spark.readStream.schema(schema)
    if max_files_per_trigger:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    stream = reader.parquet(docs_dir)

    def handle(batch: DataFrame, _batch_id: int) -> None:
        mins = (
            _doc_bands(batch, text_col, id_col, num_hashes, bands, shingle)
            .groupBy("band", "bh")
            .agg(F.min("doc_id").alias("bmin"))
        )
        _merge_band_state(batch.sparkSession, mins, state_dir)

    (
        stream.writeStream.foreachBatch(handle)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
        .awaitTermination()
    )


def rep_assignments_from_band_state(
    docs: DataFrame,
    band_state: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 8,
    bands: int = 4,
    shingle: int = 3,
) -> DataFrame:
    """Near-dup representative per document, as a VIEW over the band state:
    ``rep_id = min(bucket minimum over the doc's bands)`` — the same
    star-around-the-min-member semantics as the batch bucket guard
    (`_bounded_bucket_pairs`).  ``is_kept = (rep_id == doc_id)``; documents
    with no shingles (empty text) are their own representative.

    One band equi-join against the (small) state and one per-doc min — the
    corpus never self-joins.  Returns ``(doc_id, rep_id, is_kept)``.
    """
    banded = _doc_bands(docs, text_col, id_col, num_hashes, bands, shingle)
    reps = (
        banded.join(band_state, ["band", "bh"])
        .groupBy("doc_id")
        .agg(F.min("bmin").alias("rep_id"))
    )
    return (
        docs.select(F.col(id_col).alias("doc_id"))
        .join(reps, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("rep_id", F.col("doc_id")).alias("rep_id"),
            (F.coalesce("rep_id", F.col("doc_id")) == F.col("doc_id"))
            .cast("int")
            .alias("is_kept"),
        )
    )


def run_stream_curated_dedup(
    spark: SparkSession,
    docs_dir: str,
    schema: StructType,
    state_dir: str,
    checkpoint_dir: str,
    text_col: str = "text",
    id_col: str = "doc_id",
    quality_threshold: float = 0.3,
    lang: str = "en",
    max_files_per_trigger: int | None = None,
) -> None:
    """Streaming twin of the curation funnel's gate + exact-dedup prefix
    (plans/corpus.py::build_training_corpus): as documents arrive, score
    them (language-ID + quality — the SAME column expressions as the batch
    funnel, so streaming and batch can never disagree on a gate decision),
    drop the sub-threshold / wrong-language ones, and merge the survivors
    into the incremental exact-dedup state.

    The state merge stays associative (min id, summed counts), so the drain
    is batch-split invariant and the final state must equal the batch gate
    + ``exact_dedup`` over the whole corpus — which is what the oracle
    checks.  The scoring is a narrow per-batch projection (no shuffle
    added); the only stateful piece remains the hash-keyed state table, so
    at 100 TB this inherits `run_stream_exact_dedup`'s shape: per-batch
    work ∝ batch size, state ∝ distinct surviving content hashes.
    """
    from azuredatalakeindexer_spark.functions.text import tokens
    from azuredatalakeindexer_spark.operators.textops import (
        language_pred,
        language_scores,
        quality_columns,
    )

    reader = spark.readStream.schema(schema)
    if max_files_per_trigger:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    stream = reader.parquet(docs_dir)

    def handle(batch: DataFrame, _batch_id: int) -> None:
        toks = tokens(F.col(text_col))
        qcols = quality_columns(toks)
        scored = batch.select(
            F.col(id_col).alias("doc_id"),
            _content_hash(text_col).alias("content_hash"),
            language_pred(language_scores(toks)).alias("pred_lang"),
            qcols["quality"].alias("quality"),
        )
        eligible = scored.where(
            (F.col("quality") >= quality_threshold) & (F.col("pred_lang") == lang)
        )
        agg = eligible.groupBy("content_hash").agg(
            F.min("doc_id").alias("doc_id"), F.count(F.lit(1)).alias("dup_count")
        )
        _merge_dedup_state(batch.sparkSession, agg, state_dir)

    (
        stream.writeStream.foreachBatch(handle)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
        .awaitTermination()
    )
