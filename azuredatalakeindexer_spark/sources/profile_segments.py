"""Segmented (LSM) maintenance — the one way the multi-field profile
index changes after its build.

The reference's architecture is a continuous watch-lake → upsert-index
loop (`DatalakePathIndexerFunc/PathIndexerFunc.cs:18-36`); rewriting the
postings buckets a batch touches would grow with index size (the crossover
`BENCH_sf10_r07.json` measured for the single-field text index), so the
multi-field index is maintained through the same LSM tier as the text
index (`sources/text_segments.py`):

- `upsert_profile_index_segmented` — the batch lands as an immutable
  O(batch) segment ``segments/seg=K/{postings,doclens,docvals}``;
- `delete_from_profile_index_segmented` — a tombstone-only segment;
- `compact_profile_index` — folds every segment back into the base
  (content-identical to a fresh ``build_profile_index`` of the logical
  corpus, test-pinned);
- query-side liveness is resolved per DOCUMENT (an upsert replaces a
  doc's EVERY field, so the max-segment rule is doc-level): the winning
  doclens segment selects that segment's postings/doclens/docvals rows —
  `query_profile_index` / `facets_from_index` auto-detect segments.

``fieldstats`` stays EXACT through every op (per-field n_docs/sum_dl
advanced by the batch's created/replaced deltas — the same exact-bigint
discipline as the text index's running stats), so profile scores remain
bit-identical to a fresh build of the logical corpus at every point.
Segment directories share the text tier's naming, journaled staging, and
lease discipline (`sources/staging.py`).
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

from azuredatalakeindexer_spark.functions.localrel import tiny_df
from azuredatalakeindexer_spark.sources.staging import hadoop_path_exists
from azuredatalakeindexer_spark.sources.text_segments import (
    BASE_SEG,
    _read_or_empty,
    _seg_dir,
    _seg_union,
    list_segments,
)


def _read_or_empty_like(spark: SparkSession, p: str, like: DataFrame) -> DataFrame:
    """Read a maybe-absent segment relation typed EXACTLY like the base
    relation (attribute columns carry arbitrary user types — a guessed
    string schema would break the union)."""
    if hadoop_path_exists(spark, p):
        return spark.read.parquet(p)
    return spark.createDataFrame([], like.schema)

__all__ = [
    "upsert_profile_index_segmented",
    "delete_from_profile_index_segmented",
    "compact_profile_index",
    "live_profile_slices",
    "live_field_term_slice",
    "run_stream_profile_index",
]


def _all_plens(
    spark: SparkSession,
    path: str,
    segs: list[int],
    id_col: str,
    dbuckets: list[int] | None = None,
) -> DataFrame:
    """Union of every segment's (id, field, dl) doclens rows with segment
    provenance; ``dbuckets`` statically prunes each slice."""
    base = spark.read.parquet(f"{path}/doclens")
    segp = _seg_union(
        spark, path, segs, "doclens",
        f"{id_col} long, field string, dl int, dbucket int",
        prune={"dbucket": dbuckets} if dbuckets is not None else None,
    )
    if dbuckets is not None:
        base = base.where(F.col("dbucket").isin(dbuckets))
        segp = segp.where(F.col("dbucket").isin(dbuckets))
    return (
        base.select(id_col, "field", "dl")
        .withColumn("seg", F.lit(BASE_SEG))
        .unionByName(segp.select(id_col, "field", "dl", "seg"))
    )


def _all_tombs(
    spark: SparkSession, path: str, segs: list[int], id_col: str
) -> DataFrame:
    return _seg_union(spark, path, segs, "tombstones", f"{id_col} long")


def _alive(
    spark: SparkSession,
    path: str,
    segs: list[int],
    id_col: str,
    dbuckets: list[int] | None = None,
    candidates: DataFrame | None = None,
) -> DataFrame:
    """``(id, seg)`` of every LIVE document and its winning segment —
    doc-level max-segment over the (optionally pruned / candidate-
    restricted) doclens slices, beaten by a newer tombstone."""
    dls = _all_plens(spark, path, segs, id_col, dbuckets)
    if candidates is not None:
        dls = dls.join(candidates, id_col, "left_semi")
    latest = dls.groupBy(id_col).agg(F.max("seg").alias("seg"))
    tombs = (
        _all_tombs(spark, path, segs, id_col)
        .groupBy(id_col)
        .agg(F.max("seg").alias("_tseg"))
    )
    return (
        latest.join(tombs, id_col, "left")
        .where(F.col("seg") > F.coalesce(F.col("_tseg"), F.lit(-1)))
        .select(id_col, "seg")
    )


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
    exactly like the unsegmented reads; liveness is one doc-level max
    aggregate over the candidates' doclens rows."""
    base_postings = spark.read.parquet(f"{path}/postings")
    # positional profile indexes (r13) keep their pos lists through the
    # liveness resolution — same contract as the text surface's
    # live_postings — so NEAR / positional phrase serve across segments
    has_pos = "pos" in base_postings.columns
    mcols = [id_col, "field", "term", "tf"] + (["pos"] if has_pos else [])

    def mslice(df: DataFrame) -> DataFrame:
        return (
            df.where(F.col("bucket").isin(buckets))
            .where(F.col("term").isin(all_terms))
            .where(cond)
            .select(*mcols, "seg")
        )

    seg_schema = (
        f"term string, {id_col} long, field string, tf bigint"
        + (", pos array<int>" if has_pos else "")
        + ", bucket bigint"
    )
    allm = (
        mslice(base_postings.withColumn("seg", F.lit(BASE_SEG)))
        .unionByName(
            mslice(
                _seg_union(
                    spark,
                    path,
                    segs,
                    "postings",
                    seg_schema,
                    prune={"bucket": buckets},
                )
            )
        )
        .localCheckpoint()
    )

    cand = allm.select(id_col).distinct()
    # ONE doclens relation feeds both the liveness aggregate and the dl
    # lookup (it used to be assembled twice — half the r10 per-segment
    # read-tax on this path)
    plens = _all_plens(spark, path, segs, id_col)
    latest = (
        plens.join(cand, id_col, "left_semi")
        .groupBy(id_col)
        .agg(F.max("seg").alias("seg"))
    )
    tombs = (
        _all_tombs(spark, path, segs, id_col)
        .groupBy(id_col)
        .agg(F.max("seg").alias("_tseg"))
    )
    alive = (
        latest.join(tombs, id_col, "left")
        .where(F.col("seg") > F.coalesce(F.col("_tseg"), F.lit(-1)))
        .select(id_col, "seg")
        .localCheckpoint()
    )
    matches = allm.join(alive, [id_col, "seg"]).select(*mcols)

    dls = (
        plens.where(F.col("field").isin(fields))
        .join(alive, [id_col, "seg"])
        .select(id_col, "field", "dl")
    )

    vals = None
    if need_attrs:
        base_vals = spark.read.parquet(f"{path}/docvals")
        allv = (
            base_vals.select(id_col, *need_attrs)
            .withColumn("seg", F.lit(BASE_SEG))
            .unionByName(
                _seg_union(spark, path, segs, "docvals", base_vals.schema).select(
                    id_col, *need_attrs, "seg"
                )
            )
        )
        vals = allv.join(alive, [id_col, "seg"]).select(id_col, *need_attrs)
    return matches, dls, vals


def live_field_term_slice(
    spark: SparkSession,
    path: str,
    segs: list[int],
    term_pred,
    *,
    fields: list[str],
    id_col: str = "doc_id",
) -> DataFrame:
    """``(field, term, id_col)`` rows of LIVE postings whose field is in
    ``fields`` and whose term satisfies ``term_pred`` (a ``Column ->
    Column`` factory) — the multi-field twin of
    :func:`text_segments.live_term_slice`, and the segmented-state
    vocabulary slice behind the profile surface's suggester, fuzzy and
    wildcard expansions (r14, VERDICT r13 stretch-#7).

    The field IN-list and the term predicate are applied INSIDE every
    slice scan (base + each segment) so sargable conjuncts (prefix
    ranges, length bands via the column stats of term-sorted files) push
    to the parquet readers; doc-level last-writer-wins liveness then
    resolves only over docs that carry a matching term in a scoped field
    (candidate-sized, not corpus-sized), the same max-segment rule as
    :func:`live_profile_slices`."""
    base_postings = spark.read.parquet(f"{path}/postings")
    has_pos = "pos" in base_postings.columns

    def slice_(df: DataFrame) -> DataFrame:
        return (
            df.where(F.col("field").isin(fields))
            .where(term_pred(F.col("term")))
            .select("field", "term", id_col, "seg")
        )

    seg_schema = (
        f"term string, {id_col} long, field string, tf bigint"
        + (", pos array<int>" if has_pos else "")
        + ", bucket bigint"
    )
    allp = (
        slice_(base_postings.withColumn("seg", F.lit(BASE_SEG)))
        .unionByName(
            slice_(_seg_union(spark, path, segs, "postings", seg_schema))
        )
        .localCheckpoint()
    )
    cand = allp.select(id_col).distinct()
    plens = _all_plens(spark, path, segs, id_col)
    latest = (
        plens.join(cand, id_col, "left_semi")
        .groupBy(id_col)
        .agg(F.max("seg").alias("seg"))
    )
    tombs = (
        _all_tombs(spark, path, segs, id_col)
        .groupBy(id_col)
        .agg(F.max("seg").alias("_tseg"))
    )
    alive = (
        latest.join(tombs, id_col, "left")
        .where(F.col("seg") > F.coalesce(F.col("_tseg"), F.lit(-1)))
        .select(id_col, "seg")
    )
    return allp.join(alive, [id_col, "seg"]).select("field", "term", id_col)


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


def _write_fieldstats_exact(
    spark: SparkSession, stats: dict, target: str
) -> None:
    """(field, n_docs, avgdl, sum_dl) from the exact running counters —
    avgdl = sum/n is the identical double division ``avg`` performs, so
    scores replayed from these stats stay bit-identical to a rebuild.
    Fields with zero live docs write NO row (the aggregate version yields
    none either; readers default absent fields to inert (0, 0.0))."""
    rows = [
        (f, n, s / n, s) for f, (n, s) in sorted(stats.items()) if n > 0
    ]
    from azuredatalakeindexer_spark.functions.localrel import write_meta_parquet

    # the rows are already driver-resident — write them driver-side (one
    # Hadoop FS call) instead of spending an executor write job on an
    # f-row relation (r14; see write_meta_parquet)
    write_meta_parquet(
        spark,
        rows,
        "field string, n_docs bigint, avgdl double, sum_dl bigint",
        target,
    )


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
    tombstones) yields statuses AND the exact per-field stats
    deltas; the segment postings/doclens/docvals and the refreshed
    fieldstats promote under one journal.

    ``_known`` (private contract of ``run_stream_profile_index``, r15 —
    VERDICT r14 next-#1): layout facts the streaming drain already
    established and owns for its duration — ``recovered``, ``meta``
    (the (n_buckets, fields, attrs) triple), ``has_pos``, ``has_store``,
    and the live ``segments`` list the drain advances in-process.
    Non-drain callers leave it None and every probe runs."""
    from azuredatalakeindexer_spark.sources.profile_index import (
        _dbucket,
        _dedupe_profile_delta,
        _postings_rows,
        _read_meta,
        _stack_fields,
    )
    from azuredatalakeindexer_spark.sources.staging import (
        StagedCommit,
        recover_for_maintenance,
    )
    from azuredatalakeindexer_spark.sources.text_index import _lens_from_postings

    known = _known or {}
    if not known.get("recovered"):
        recover_for_maintenance(spark, path)
    n_buckets, idx_fields, idx_attrs = (
        known["meta"] if "meta" in known else _read_meta(spark, path)
    )
    cols = list(dict.fromkeys(list(idx_fields) + list(idx_attrs)))

    from azuredatalakeindexer_spark.functions.parallel import run_concurrent

    # Layer 0 (r14): the batch checkpoint, the positional-column schema
    # probe (parquet footers, driver-side — positional profile indexes
    # version their pos lists through the segments too, r13: the batch's
    # postings regenerate positions, the doc-level max-segment rule
    # serves the live lists)
    # and the segment listing are mutually independent — overlap them.
    # A drain carrying ``_known`` (r15) resolved them once and skips the
    # re-probes.
    deduped, has_pos, segs = run_concurrent(
        lambda: _dedupe_profile_delta(delta, id_col, cols).localCheckpoint(),
        lambda: (
            known["has_pos"]
            if "has_pos" in known
            else "pos" in spark.read.parquet(f"{path}/postings").columns
        ),
        lambda: (
            known["segments"]
            if "segments" in known
            else list_segments(spark, path)
        ),
    )
    new_seg = (segs[-1] if segs else BASE_SEG) + 1

    # stacked is consumed only by new_postings, which is itself
    # checkpointed — re-deriving it from the checkpointed deduped batch
    # inside that job is cheaper than a second batch-sized
    # materialization (r10 fixed-overhead trim); new_lens then derives
    # from the CHECKPOINTED postings (dl = sum(tf)) so the batch is
    # tokenized exactly once
    stacked = _stack_fields(deduped, idx_fields, id_col)
    pairs = deduped.select(
        F.col(id_col),
        F.explode(F.array(*[F.lit(f) for f in idx_fields])).alias("field"),
    )
    # Layer 1 (r12): the delta postings checkpoint and the batch's
    # id-hash partition list.  The
    # dbucket set is computed from the checkpointed batch directly — it
    # equals new_lens's (every batch id keeps a doclens row, zero-token
    # docs included via the pairs left join), without waiting for the
    # postings→lens chain.
    new_postings, dbuckets = run_concurrent(
        lambda: _postings_rows(
            stacked, id_col, n_buckets, positions=has_pos
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
    ids_b = F.broadcast(deduped.select(id_col))

    # Layer 2: the new-lens materialization and the predecessor-lookup →
    # statuses chain are independent given layer 1.
    def _chain_lens():
        return _lens_from_postings(
            new_postings, pairs, id_col, n_buckets, per_field=True
        ).localCheckpoint()

    def _chain_statuses():
        # old per-field dl of the batch's LIVE predecessors — statuses and
        # the exact fieldstats deltas both derive from this one batch-sized
        # frame.  ONE dbucket-pruned doclens scan, restricted to the
        # batch's ids BEFORE any aggregation (the old shape evaluated
        # _all_plens twice — inside _alive and again for the winning-row
        # join — and aggregated every live doc in the pruned dbuckets, not
        # just the batch's predecessors; measured 1.6-2.2 s of the ~6 s
        # micro-batch upsert)
        dls = (
            _all_plens(spark, path, segs, id_col, dbuckets=dbuckets)
            .join(ids_b, id_col, "left_semi")
            .localCheckpoint()
        )
        tmax = (
            _all_tombs(spark, path, segs, id_col)
            .join(ids_b, id_col, "left_semi")
            .groupBy(id_col)
            .agg(F.max("seg").alias("_tseg"))
        )
        win = (
            dls.groupBy(id_col)
            .agg(F.max("seg").alias("_wseg"))
            .join(tmax, id_col, "left")
            .where(F.col("_wseg") > F.coalesce(F.col("_tseg"), F.lit(-1)))
            .select(id_col, "_wseg")
        )
        old = (
            dls.join(F.broadcast(win), id_col)
            .where(F.col("seg") == F.col("_wseg"))
            .select(id_col, "field", F.col("dl").alias("_old_dl"))
        )
        old_ids = old.select(id_col).distinct()
        statuses = deduped.select(id_col).join(
            F.broadcast(old_ids.withColumn("_old", F.lit(1))), id_col, "left"
        ).select(
            id_col,
            F.when(F.col("_old").isNotNull(), F.lit(200))
            .otherwise(F.lit(201))
            .alias("status"),
        ).localCheckpoint()
        return old, statuses

    new_lens, (old, statuses) = run_concurrent(_chain_lens, _chain_statuses)

    commit = StagedCommit(spark, path)
    # a docstore-backed (phrase-enabled) profile index versions its stored
    # field texts through the segments too: the batch's rows land in
    # seg=K/docstore and the max-segment rule serves the live version
    # until compaction folds them into the base
    has_store = (
        known["has_store"]
        if "has_store" in known
        else hadoop_path_exists(spark, f"{path}/docstore")
    )
    # the segment relations are independent checkpointed/batch-sized
    # frames writing to disjoint staged dirs — submit them concurrently so
    # the per-write scheduling + dynamic-partition commit latencies
    # overlap instead of stacking (run_concurrent).  The fieldstats
    # refresh derives from the same checkpointed frames (plus the live
    # 1-row fieldstats read) — independent of the segment writes, so it
    # rides the same submission (r12): its three batch-sized aggregates
    # overlap each other AND the data writes.
    from azuredatalakeindexer_spark.sources.profile_index import _stack_stored

    seg_dir = commit.stage("seg")

    def _w_fieldstats() -> None:
        # exact per-field stats: created docs add a row per field;
        # replaced docs swap their old per-field dl for the new one
        stats = _read_fieldstats(spark, path)
        n_created_rows, adds_rows, subs_rows = run_concurrent(
            lambda: statuses.where(F.col("status") == 201).count(),
            lambda: new_lens.groupBy("field")
            .agg(F.coalesce(F.sum("dl"), F.lit(0)).alias("s"))
            .collect(),
            lambda: old.groupBy("field")
            .agg(F.coalesce(F.sum("_old_dl"), F.lit(0)).alias("s"))
            .collect(),
        )
        n_created = int(n_created_rows)
        adds = {r["field"]: int(r["s"]) for r in adds_rows}
        subs = {r["field"]: int(r["s"]) for r in subs_rows}
        for fld in idx_fields:
            n, s = stats.get(fld, (0, 0))
            stats[fld] = (
                n + n_created,
                s + adds.get(fld, 0) - subs.get(fld, 0),
            )
        _write_fieldstats_exact(spark, stats, commit.stage("fieldstats"))
        commit.swap("fieldstats", "fieldstats")

    run_concurrent(
        lambda: new_postings.repartition("bucket")
        .sortWithinPartitions("term")
        .write.partitionBy("bucket")
        .parquet(f"{seg_dir}/postings"),
        lambda: new_lens.repartition("dbucket")
        .write.partitionBy("dbucket")
        .parquet(f"{seg_dir}/doclens"),
        (
            lambda: deduped.select(
                F.col(id_col), *idx_attrs, _dbucket(id_col, n_buckets)
            )
            .repartition("dbucket")
            .write.partitionBy("dbucket")
            .parquet(f"{seg_dir}/docvals")
        )
        if idx_attrs
        else None,
        (
            lambda: _stack_stored(deduped, idx_fields, id_col, n_buckets)
            .repartition("dbucket")
            .write.partitionBy("dbucket")
            .parquet(f"{seg_dir}/docstore")
        )
        if has_store
        else None,
        _w_fieldstats,
    )
    commit.swap("seg", f"segments/seg={new_seg}")
    commit.promote()
    return statuses


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
    own per-field dl."""
    from azuredatalakeindexer_spark.sources.profile_index import _read_meta
    from azuredatalakeindexer_spark.sources.staging import (
        StagedCommit,
        recover_for_maintenance,
    )

    recover_for_maintenance(spark, path)
    n_buckets, idx_fields, _attrs = _read_meta(spark, path)
    segs = list_segments(spark, path)
    new_seg = (segs[-1] if segs else BASE_SEG) + 1

    ids = doc_ids.select(id_col).distinct().localCheckpoint()
    keys = F.broadcast(ids) if broadcast_ids else ids
    id_dbuckets = [
        r["b"]
        for r in ids.select(
            F.pmod(F.hash(F.col(id_col)), F.lit(n_buckets)).alias("b")
        )
        .distinct()
        .collect()
    ]
    alive = _alive(spark, path, segs, id_col, dbuckets=id_dbuckets)
    victims = (
        _all_plens(spark, path, segs, id_col, dbuckets=id_dbuckets)
        .join(alive.withColumnRenamed("seg", "_wseg"), id_col)
        .where(F.col("seg") == F.col("_wseg"))
        .join(keys, id_col, "left_semi")
        .select(id_col, "field", "dl")
        .localCheckpoint()
    )
    n_removed = victims.select(id_col).distinct().count()
    if n_removed == 0:
        return 0

    commit = StagedCommit(spark, path)

    # tombstone write and fieldstats refresh derive from the same
    # checkpointed victims frame — independent staged writes, submitted
    # concurrently (r12)
    def _w_seg() -> None:
        victims.select(id_col).distinct().write.parquet(
            f"{commit.stage('seg')}/tombstones"
        )
        commit.swap("seg", f"segments/seg={new_seg}")

    def _w_fieldstats() -> None:
        stats = _read_fieldstats(spark, path)
        subs = {
            r["field"]: int(r["s"])
            for r in victims.groupBy("field")
            .agg(F.coalesce(F.sum("dl"), F.lit(0)).alias("s"))
            .collect()
        }
        for fld in idx_fields:
            n, s = stats.get(fld, (0, 0))
            stats[fld] = (n - n_removed, s - subs.get(fld, 0))
        _write_fieldstats_exact(spark, stats, commit.stage("fieldstats"))
        commit.swap("fieldstats", "fieldstats")

    from azuredatalakeindexer_spark.functions.parallel import run_concurrent

    run_concurrent(_w_seg, _w_fieldstats)
    commit.promote()
    return int(n_removed)


def compact_profile_index(
    spark: SparkSession,
    path: str,
    *,
    id_col: str = "doc_id",
) -> int:
    """Fold every segment back into the base multi-field layout: resolve
    live postings/doclens/docvals per doc-level winning segment, rewrite
    the base relations (content-identical to a fresh
    ``build_profile_index`` of the logical corpus — test-pinned), refresh
    fieldstats from the resolved doclens, drop ``segments/``.  Everything
    stages and promotes under one journal.  Returns the number of
    segments folded."""
    from azuredatalakeindexer_spark.sources.profile_index import _read_meta
    from azuredatalakeindexer_spark.sources.staging import (
        StagedCommit,
        recover_for_maintenance,
    )

    recover_for_maintenance(spark, path)
    n_buckets, idx_fields, idx_attrs = _read_meta(spark, path)
    segs = list_segments(spark, path)
    if not segs:
        return 0

    alive = _alive(spark, path, segs, id_col).localCheckpoint()

    base_postings = spark.read.parquet(f"{path}/postings")
    # positional indexes keep their pos lists through the fold (r13)
    has_pos = "pos" in base_postings.columns
    pcols = ["term", id_col, "field", "tf"] + (["pos"] if has_pos else [])
    pschema = (
        f"term string, {id_col} long, field string, tf bigint"
        + (", pos array<int>" if has_pos else "")
        + ", bucket bigint"
    )

    def pslice(df: DataFrame, seg: int) -> DataFrame:
        return df.select(*pcols).withColumn("seg", F.lit(seg))

    pparts = [pslice(base_postings, BASE_SEG)]
    for s in segs:
        pparts.append(
            pslice(
                _read_or_empty(spark, f"{_seg_dir(path, s)}/postings", pschema),
                s,
            )
        )
    allp = pparts[0]
    for p in pparts[1:]:
        allp = allp.unionByName(p)
    from azuredatalakeindexer_spark.functions.text import portable_hash64

    merged = (
        allp.join(alive, [id_col, "seg"])
        .select(*pcols)
        .withColumn(
            "bucket", F.pmod(portable_hash64(F.col("term")), F.lit(n_buckets))
        )
        .localCheckpoint()
    )

    def lslice(df: DataFrame, seg: int) -> DataFrame:
        return df.select(id_col, "field", "dl").withColumn("seg", F.lit(seg))

    lparts = [lslice(spark.read.parquet(f"{path}/doclens"), BASE_SEG)]
    for s in segs:
        lparts.append(
            lslice(
                _read_or_empty(
                    spark,
                    f"{_seg_dir(path, s)}/doclens",
                    f"{id_col} long, field string, dl int, dbucket int",
                ),
                s,
            )
        )
    alll = lparts[0]
    for p in lparts[1:]:
        alll = alll.unionByName(p)
    lens = (
        alll.join(alive, [id_col, "seg"])
        .select(id_col, "field", "dl")
        .withColumn(
            "dbucket", F.pmod(F.hash(F.col(id_col)), F.lit(n_buckets))
        )
        .localCheckpoint()
    )

    from azuredatalakeindexer_spark.functions.parallel import run_concurrent

    commit = StagedCommit(spark, path)
    merged_empty, lens_empty = run_concurrent(
        lambda: merged.isEmpty(), lambda: lens.isEmpty()
    )

    # the five staged tier writes below derive from the checkpointed
    # resolved relations (or their own LWW resolution of disjoint
    # relations) — mutually independent, submitted concurrently (r12,
    # same shape as compact_text_index); per-tier swaps record inside
    # each thunk, promote stays one sequential rename pass
    def _w_postings() -> None:
        if merged_empty:
            merged.select(*pcols, "bucket").write.parquet(
                commit.stage("postings")
            )
        else:
            merged.repartition("bucket").sortWithinPartitions(
                "term"
            ).write.partitionBy("bucket").parquet(commit.stage("postings"))
        commit.swap("postings", "postings")

    def _w_doclens() -> None:
        if lens_empty:
            lens.write.parquet(commit.stage("doclens"))
        else:
            lens.repartition("dbucket").write.partitionBy("dbucket").parquet(
                commit.stage("doclens")
            )
        commit.swap("doclens", "doclens")

    def _w_fieldstats() -> None:
        # fieldstats from the resolved doclens (exact, same avg division);
        # the agg collects f rows which land driver-side (r14; see
        # write_meta_parquet)
        from azuredatalakeindexer_spark.functions.localrel import (
            write_meta_parquet,
        )

        rows = (
            lens.groupBy("field")
            .agg(
                F.count(F.lit(1)).alias("n_docs"),
                F.avg("dl").alias("avgdl"),
                F.coalesce(F.sum("dl"), F.lit(0)).cast("bigint").alias("sum_dl"),
            )
            .collect()
        )
        write_meta_parquet(
            spark,
            [
                (r["field"], r["n_docs"], r["avgdl"], int(r["sum_dl"]))
                for r in sorted(rows, key=lambda r: r["field"])
            ],
            "field string, n_docs bigint, avgdl double, sum_dl bigint",
            commit.stage("fieldstats"),
        )
        commit.swap("fieldstats", "fieldstats")

    def _w_docvals() -> None:
        def vslice(df: DataFrame, seg: int) -> DataFrame:
            return df.select(id_col, *idx_attrs).withColumn("seg", F.lit(seg))

        base_vals = spark.read.parquet(f"{path}/docvals")
        vparts = [vslice(base_vals, BASE_SEG)]
        for s in segs:
            vparts.append(
                vslice(
                    _read_or_empty_like(
                        spark, f"{_seg_dir(path, s)}/docvals", base_vals
                    ),
                    s,
                )
            )
        allv = vparts[0]
        for p in vparts[1:]:
            allv = allv.unionByName(p)
        vals = (
            allv.join(alive, [id_col, "seg"])
            .select(id_col, *idx_attrs)
            .withColumn(
                "dbucket", F.pmod(F.hash(F.col(id_col)), F.lit(n_buckets))
            )
        )
        # docvals rows mirror doclens docs id-for-id, so lens_empty
        # normally decides — but a partially-stored legacy index could
        # break the mirror, and a partitionBy write of a genuinely empty
        # frame leaves an unreadable zero-file partitioned dir (ADVICE
        # r12): guard with the relation's own cheap probe, short-
        # circuited on the common path
        if lens_empty or vals.isEmpty():
            # an emptied corpus drops to the typed 0-row unpartitioned
            # sentinel
            vals.write.parquet(commit.stage("docvals"))
        else:
            vals.repartition("dbucket").write.partitionBy("dbucket").parquet(
                commit.stage("docvals")
            )
        commit.swap("docvals", "docvals")

    def _w_docstore() -> None:
        # docstore-backed index: fold the segments' stored field texts
        # into the base store — the live text of every ALIVE (doc, field)
        # is its max-segment docstore row (deleted docs drop out via the
        # alive join)
        def sslice(df: DataFrame, seg: int) -> DataFrame:
            return df.select(id_col, "field", "text").withColumn(
                "seg", F.lit(seg)
            )

        sparts = [sslice(spark.read.parquet(f"{path}/docstore"), BASE_SEG)]
        for s in segs:
            sparts.append(
                sslice(
                    _read_or_empty(
                        spark,
                        f"{_seg_dir(path, s)}/docstore",
                        f"{id_col} long, field string, text string, dbucket int",
                    ),
                    s,
                )
            )
        alls = sparts[0]
        for p in sparts[1:]:
            alls = alls.unionByName(p)
        live_store = (
            alls.join(alive, [id_col, "seg"])
            .select(id_col, "field", "text")
            .withColumn(
                "dbucket", F.pmod(F.hash(F.col(id_col)), F.lit(n_buckets))
            )
        )
        # same mirror-invariant guard as docvals (ADVICE r12): never
        # partitionBy-write a genuinely empty frame
        if lens_empty or live_store.isEmpty():
            live_store.write.parquet(commit.stage("docstore"))
        else:
            live_store.repartition("dbucket").write.partitionBy(
                "dbucket"
            ).parquet(commit.stage("docstore"))
        commit.swap("docstore", "docstore")

    run_concurrent(
        _w_postings,
        _w_doclens,
        _w_fieldstats,
        _w_docvals if idx_attrs else None,
        _w_docstore if hadoop_path_exists(spark, f"{path}/docstore") else None,
    )
    commit.remove("segments")
    commit.promote()
    return len(segs)


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
    ``compact_every=N`` folds segments whenever N have accumulated.
    ``availableNow`` drains the backlog and terminates (T7).  Doc-level
    last-writer-wins makes the drain batch-split-invariant: 1 or N
    micro-batches serve bit-identical profiles (test-pinned; the oracle
    is the scan-time profile replay)."""
    from azuredatalakeindexer_spark.sources.profile_index import (
        build_profile_index,
    )

    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .parquet(docs_dir)
    )

    # Per-batch fixed work hoisted OUT of the landing (r15, VERDICT r14
    # next-#1): the drain owns the directory for its whole run (single-
    # writer lease; each promote completes in-process before the next
    # batch), so layout facts are resolved once — by the build — and
    # carried across batches instead of re-probed inside every ``handle``.
    # ``known`` stays None for a resumed drain against a pre-existing
    # index (full per-batch probes, exactly the old behavior).
    state: dict = {"built": False, "known": None}

    def handle(batch: DataFrame, _batch_id: int) -> None:
        if not state["built"] and not hadoop_path_exists(
            batch.sparkSession, f"{index_dir}/meta"
        ):
            build_profile_index(
                batch,
                index_dir,
                field_cols=field_cols,
                attr_cols=attr_cols,
                id_col=id_col,
                n_buckets=n_buckets,
            )
            state["built"] = True
            # this drain just built the layout with these exact arguments
            state["known"] = {
                "recovered": True,
                "meta": (n_buckets, list(field_cols), list(attr_cols)),
                "has_pos": False,
                "has_store": False,
                "segments": [],
            }
            return
        state["built"] = True
        known = state["known"]
        upsert_profile_index_segmented(
            batch.sparkSession, index_dir, batch, id_col=id_col, _known=known
        ).count()
        if known is not None:
            segs = known["segments"]
            known["segments"] = segs + [(segs[-1] if segs else BASE_SEG) + 1]
            n_segs = len(known["segments"])
        else:
            n_segs = (
                len(list_segments(batch.sparkSession, index_dir))
                if compact_every
                else 0
            )
        if compact_every and n_segs >= compact_every:
            compact_profile_index(batch.sparkSession, index_dir, id_col=id_col)
            if known is not None:
                known["segments"] = []

    (
        stream.writeStream.foreachBatch(handle)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
        .awaitTermination()
    )
