"""Profile specifics of the segment engine — the multi-field profile
index (``profile_index.py``, rows keyed by ``(id, field)``) is maintained
and served across segments by the engine in ``text_segments.py``: the
same tier reads, the same doc-level liveness rule (an upsert replaces a
doc's EVERY field), the same staged commit, fold and streaming drain.
What this module adds is only what the profile layout has and the text
layout lacks:

- field stacking — a batch becomes one postings/doclens/docstore row set
  per (doc, field) (``profile_index._stack_fields`` / ``_stack_stored``);
- the per-field ``fieldstats`` counters, advanced EXACTLY by every op
  (per-field n_docs/sum_dl moved by the batch's created/replaced/deleted
  deltas — the same exact-bigint discipline as the text index's running
  stats), so profile scores stay bit-identical to a fresh build of the
  logical corpus at every point;
- the ``docvals`` attribute tier, versioned through the segments and
  folded at compaction like every other tier.

Public ops: `upsert_profile_index_segmented` (one O(batch) segment),
`delete_from_profile_index_segmented` (a tombstone-only segment),
`compact_profile_index` (content-identical to a fresh
``build_profile_index`` of the logical corpus, test-pinned),
`live_profile_slices` (the query-side resolution `query_profile_index` /
`facets_from_index` use while segments are live) and
`run_stream_profile_index`.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

from azuredatalakeindexer_spark.functions.parallel import run_concurrent
from azuredatalakeindexer_spark.sources.profile_index import (
    _dbucket,
    _dedupe_profile_delta,
    _postings_rows,
    _read_meta,
    _stack_fields,
    _stack_stored,
    _write_fieldstats_from,
    build_profile_index,
)
from azuredatalakeindexer_spark.sources.staging import (
    hadoop_path_exists,
    recover_for_maintenance,
)
from azuredatalakeindexer_spark.sources.text_index import _lens_from_postings
from azuredatalakeindexer_spark.sources.text_segments import (
    _delete,
    _drain,
    _fold,
    _known_or,
    _land,
    _live_lens,
    _live_slice,
    _tier,
    list_segments,
)

__all__ = [
    "upsert_profile_index_segmented",
    "delete_from_profile_index_segmented",
    "compact_profile_index",
    "live_profile_slices",
    "run_stream_profile_index",
]


def live_profile_slices(
    spark: SparkSession,
    path: str,
    segs: list[int],
    *,
    id_col: str,
    buckets: list[int],
    all_terms: list[str],
    cond,
    need_attrs,
    fields: list[str],
) -> tuple[DataFrame, DataFrame, DataFrame | None]:
    """Query-side one-pass resolution for the segmented profile index:
    ``(matches, doclens, docvals)`` — each restricted to LIVE candidate
    documents (docs whose WINNING segment carries at least one profile
    term match).  Every slice is bucket/dbucket-pruned and term-pushed
    exactly like the unsegmented reads; liveness is the engine's
    candidate-restricted aggregate (``text_segments._live_slice``).
    Positional indexes keep their pos lists through the resolution, so
    NEAR / positional phrase serve across segments."""
    base_postings = spark.read.parquet(f"{path}/postings")
    mcols = [id_col, "field", "term", "tf"] + (
        ["pos"] if "pos" in base_postings.columns else []
    )
    # ONE doclens relation feeds both the liveness aggregate and the dl
    # lookup
    plens = _tier(spark, path, segs, "doclens", [id_col, "field", "dl"])
    allm, alive = _live_slice(
        spark, path, segs, mcols,
        id_col=id_col, where=F.col("term").isin(all_terms) & cond,
        prune=buckets, base=base_postings, lens=plens,
    )
    alive = alive.localCheckpoint()
    matches = allm.join(alive, [id_col, "seg"]).select(*mcols)
    dls = (
        plens.where(F.col("field").isin(fields))
        .join(alive, [id_col, "seg"])
        .select(id_col, "field", "dl")
    )
    vals = None
    if need_attrs:
        base_vals = spark.read.parquet(f"{path}/docvals")
        vals = (
            _tier(
                spark, path, segs, "docvals", [id_col, *need_attrs],
                base=base_vals, schema=base_vals.schema,
            )
            .join(alive, [id_col, "seg"])
            .select(id_col, *need_attrs)
        )
    return matches, dls, vals


def _read_fieldstats(spark: SparkSession, path: str) -> dict:
    """Per-field (n_docs, sum_dl) counters — an f-row relation, read
    DRIVER-SIDE (``read_meta_parquet``: pyarrow over the Hadoop FS, no
    Spark job; r15 — the write side went driver-side in r14, this is its
    read twin).  Falls back to the ordinary Spark collect on any
    surprise."""
    from azuredatalakeindexer_spark.functions.localrel import read_meta_parquet

    rows = read_meta_parquet(spark, f"{path}/fieldstats")
    if rows is None:
        rows = [
            r.asDict()
            for r in spark.read.parquet(f"{path}/fieldstats").collect()
        ]
    return {r["field"]: (int(r["n_docs"]), int(r["sum_dl"])) for r in rows}


def _fieldstats_writer(spark: SparkSession, path: str, idx_fields):
    """The profile layout's counters: ``deltas[field] = (dn, ds)`` advance
    each indexed field's exact (n_docs, sum_dl); avgdl = sum/n is the
    identical double division ``avg`` performs, so scores replayed from
    these stats stay bit-identical to a rebuild.  Fields with zero live
    docs write NO row (the aggregate version yields none either; readers
    default absent fields to inert (0, 0.0))."""

    def write(deltas: dict, target: str) -> None:
        stats = _read_fieldstats(spark, path)
        for fld in idx_fields:
            n, s = stats.get(fld, (0, 0))
            dn, ds = deltas.get(fld, (0, 0))
            stats[fld] = (n + dn, s + ds)
        from azuredatalakeindexer_spark.functions.localrel import (
            write_meta_parquet,
        )

        # the rows are already driver-resident — write them driver-side
        # (one Hadoop FS call) instead of spending an executor write job
        # on an f-row relation (r14; see write_meta_parquet)
        write_meta_parquet(
            spark,
            [(f, n, s / n, s) for f, (n, s) in sorted(stats.items()) if n > 0],
            "field string, n_docs bigint, avgdl double, sum_dl bigint",
            target,
        )

    return "fieldstats", write


def upsert_profile_index_segmented(
    spark: SparkSession,
    path: str,
    delta: DataFrame,
    *,
    id_col: str = "doc_id",
    _known: "dict | None" = None,
) -> DataFrame:
    """MergeOrUpload into the multi-field index as a NEW SEGMENT —
    O(batch) writes, nothing rewritten.  Returns ``(id_col, status)``
    with 201=created / 200=modified; queries afterwards answer identically
    to a fresh ``build_profile_index`` of the logical corpus (test-pinned).
    One batch-sized alive-lookup (dbucket-pruned doclens slices +
    tombstones) yields statuses AND the exact per-field stats deltas; the
    segment postings/doclens/docvals/docstore and the refreshed
    fieldstats promote under one journal (``text_segments._land``).

    ``_known`` (private contract of ``run_stream_profile_index``, r15 —
    VERDICT r14 next-#1): layout facts the streaming drain already
    established and owns for its duration — ``recovered``, ``meta``
    (the (n_buckets, fields, attrs) triple), ``has_pos``, ``has_store``,
    and the live ``segments`` list the drain advances in-process.
    Non-drain callers leave it None and every probe runs."""
    known = _known or {}
    if not known.get("recovered"):
        recover_for_maintenance(spark, path)
    n_buckets, idx_fields, idx_attrs = _known_or(
        known, "meta", lambda: _read_meta(spark, path)
    )()
    cols = list(dict.fromkeys(list(idx_fields) + list(idx_attrs)))

    # Layer 0 (r14): the batch checkpoint and the layout probes
    # (positional column — positional indexes version their pos lists
    # through the segments too; docstore presence; segment listing) are
    # mutually independent — overlap them.
    deduped, has_pos, has_store, segs = run_concurrent(
        lambda: _dedupe_profile_delta(delta, id_col, cols).localCheckpoint(),
        _known_or(
            known, "has_pos",
            lambda: "pos" in spark.read.parquet(f"{path}/postings").columns,
        ),
        _known_or(
            known, "has_store", lambda: hadoop_path_exists(spark, f"{path}/docstore")
        ),
        _known_or(known, "segments", lambda: list_segments(spark, path)),
    )
    # Layer 1 (r12): the delta postings checkpoint and the batch's
    # id-hash partition list (every batch id keeps a doclens row per
    # field, zero-token docs included, so it equals new_lens's)
    new_postings, dbuckets = run_concurrent(
        lambda: _postings_rows(
            _stack_fields(deduped, idx_fields, id_col),
            id_col, n_buckets, positions=has_pos,
        ).localCheckpoint(),
        lambda: [
            r["b"]
            for r in deduped.select(
                F.pmod(F.hash(F.col(id_col)), F.lit(n_buckets)).alias("b")
            )
            .distinct()
            .collect()
        ],
    )
    pairs = deduped.select(
        F.col(id_col),
        F.explode(F.array(*[F.lit(f) for f in idx_fields])).alias("field"),
    )
    # the new per-field dl DERIVES from the checkpointed postings (dl =
    # sum(tf), so the batch is tokenized once), left-joined to the live
    # predecessors' per-field dl — restricted to the batch's ids and
    # dbuckets before any aggregation — in ONE batch-sized materialization
    old = _live_lens(
        spark, path, segs, id_col, fields=idx_fields,
        ids=F.broadcast(deduped.select(id_col)), dbuckets=dbuckets,
    ).withColumnRenamed("dl", "_old_dl")
    enriched = (
        _lens_from_postings(new_postings, pairs, id_col, n_buckets, per_field=True)
        .join(old, [id_col, "field"], "left")
        .localCheckpoint()
    )
    return _land(
        spark,
        path,
        segs,
        enriched,
        {
            "postings": new_postings,
            "docvals": deduped.select(
                F.col(id_col), *idx_attrs, _dbucket(id_col, n_buckets)
            )
            if idx_attrs
            else None,
            # a docstore-backed (phrase-enabled) index versions its stored
            # field texts through the segments too
            "docstore": _stack_stored(deduped, idx_fields, id_col, n_buckets)
            if has_store
            else None,
        },
        _fieldstats_writer(spark, path, idx_fields),
        id_col=id_col,
        fields=idx_fields,
    )


def delete_from_profile_index_segmented(
    spark: SparkSession,
    path: str,
    doc_ids: DataFrame,
    *,
    id_col: str = "doc_id",
    broadcast_ids: bool = True,
) -> int:
    """Delete as a TOMBSTONE-ONLY segment — O(batch) writes; idempotent
    (absent / already-dead ids write NO segment).  Returns the number of
    live documents removed; fieldstats advanced exactly from the victims'
    own per-field dl.  ``broadcast_ids=False`` makes the victim lookup a
    shuffled semi-join for id sets too large to broadcast."""
    recover_for_maintenance(spark, path)
    n_buckets, idx_fields, _attrs = _read_meta(spark, path)
    return _delete(
        spark,
        path,
        doc_ids,
        _fieldstats_writer(spark, path, idx_fields),
        id_col=id_col,
        fields=idx_fields,
        n_buckets=n_buckets,
        broadcast_ids=broadcast_ids,
    )


def compact_profile_index(
    spark: SparkSession,
    path: str,
    *,
    id_col: str = "doc_id",
) -> int:
    """Fold every segment back into the base multi-field layout
    (``text_segments._fold``): the live postings/doclens/docvals/docstore
    rows of each doc's winning segment become the new base
    (content-identical to a fresh ``build_profile_index`` of the logical
    corpus — test-pinned), fieldstats is refreshed from the resolved
    doclens, ``segments/`` is dropped.  Returns the number of segments
    folded."""
    recover_for_maintenance(spark, path)
    n_buckets, idx_fields, idx_attrs = _read_meta(spark, path)
    segs = list_segments(spark, path)
    if not segs:
        return 0
    return _fold(
        spark,
        path,
        segs,
        {
            "fieldstats": lambda merged, lens, t: _write_fieldstats_from(
                lens, path, target=t
            )
        },
        id_col=id_col,
        n_buckets=n_buckets,
        fields=idx_fields,
        attrs=idx_attrs,
    )


def run_stream_profile_index(
    spark: SparkSession,
    docs_dir: str,
    schema,
    index_dir: str,
    checkpoint_dir: str,
    *,
    field_cols,
    attr_cols=(),
    id_col: str = "doc_id",
    n_buckets: int = 64,
    max_files_per_trigger: int = 1,
    compact_every: int | None = None,
) -> None:
    """Continuously maintain the multi-field profile index from a
    document arrival stream — the reference's watch-lake → upsert-index
    loop (§3.1 + T1) with the PROFILE-serving index in-engine: the first
    micro-batch builds the base layout, every later batch lands as an
    O(batch) LSM segment (`upsert_profile_index_segmented`), and
    ``compact_every=N`` folds segments whenever N have accumulated
    (``text_segments._drain``).  ``availableNow`` drains the backlog and
    terminates (T7).  Doc-level last-writer-wins makes the drain
    batch-split-invariant: 1 or N micro-batches serve bit-identical
    profiles (test-pinned; the oracle is the scan-time profile replay)."""
    _drain(
        spark,
        docs_dir,
        schema,
        index_dir,
        checkpoint_dir,
        # meta is written LAST by the build (build_profile_index)
        marker="meta",
        build=lambda batch: build_profile_index(
            batch,
            index_dir,
            field_cols=field_cols,
            attr_cols=attr_cols,
            id_col=id_col,
            n_buckets=n_buckets,
        ),
        upsert=lambda s, batch, known: upsert_profile_index_segmented(
            s, index_dir, batch, id_col=id_col, _known=known
        ),
        compact=lambda s: compact_profile_index(s, index_dir, id_col=id_col),
        # this drain builds the layout with these exact arguments
        known={
            "meta": (n_buckets, list(field_cols), list(attr_cols)),
            "has_pos": False,
            "has_store": False,
        },
        max_files_per_trigger=max_files_per_trigger,
        compact_every=compact_every,
    )
