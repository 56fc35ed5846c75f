"""Segment engine (LSM-style) of the persisted inverted indexes — the one
way both index layouts change after their build: the single-field text
index (``text_index.py``, rows keyed by ``id``) and the multi-field
profile index (``profile_index.py``, rows keyed by ``(id, field)``).
Every tier of either layout is read, resolved, written and folded by the
code in this module; ``profile_segments.py`` keeps only what is truly
profile-specific (field stacking, the per-field ``fieldstats`` counters
and the ``docvals`` tier).

WHY SEGMENTS.  An upsert that rewrote the postings buckets a batch touches
would not be bounded by the batch: a batch's DISTINCT TERMS cover ~every
term bucket of a Zipf-ish corpus (500 docs x ~40 words hit all 64 — or all
4096 — buckets), so "affected buckets" degenerates to the whole index.  A
bucket-rewriting text upsert measured slower than a full rebuild at sf1
(5.41 s vs 3.28 s for a 1% batch, `BENCH_sf1_r07.json`), and no bucket
count fixes that; it is structural to term-partitioned rewrites.  So the
index is maintained the way Lucene/Elasticsearch maintain theirs: an
upsert writes ONLY its batch as a new immutable segment (O(batch) work,
independent of index size), a delete writes tombstones, queries resolve
last-writer-wins across segments, and compaction folds segments back into
the base when their count grows.

Layout (extends the index's base layout, which acts as segment 0):

- ``<path>/segments/seg=K/<tier>`` — the K-th batch's rows of every tier
  the layout has, in the base's own inner layout: ``postings/bucket=*``
  (bucket = portable_hash64(term) % n), ``doclens/dbucket=*``, and when
  the base has them ``docstore/dbucket=*`` and (profile) ``docvals/
  dbucket=*``;
- ``<path>/segments/seg=K/tombstones`` — deleted ids (delete-only segments
  carry ONLY this);
- the running corpus statistics — the text index's 1-row ``stats``
  ``(n_docs, avgdl, sum_dl, n_buckets)``, the profile index's per-field
  ``fieldstats`` — advanced from exact bigint counters (avgdl =
  sum_dl/n_docs, the same long-sum/count division Spark's and DuckDB's
  ``avg`` perform, so BM25 scores stay bit-identical).

LIVENESS (:func:`_live`, the one copy of the rule).  A document's winning
segment is the highest segment holding a doclens row for it; the doc is
alive iff that segment exceeds the doc's highest tombstone segment
(re-adding a deleted doc works because the new doclens row outranks the
old tombstone).  An upsert replaces a doc's EVERY field, so the rule is
doc-level in both layouts.  Resolution is one map-side-combinable
aggregate over the (pruned) doclens slices — no window shuffle — and
every other tier joins the alive set on ``(id, seg)``, so stale rows of
replaced docs drop out without ever being rewritten.

ONE ENGINE.  Tier reads go through :func:`_tier` (the base plus ONE
multi-path :func:`_seg_union` read of every segment); upsert, delete and
compaction commit through :func:`_stage_and_promote`; compaction is
:func:`_fold`; both streaming drains run :func:`_drain`.

SCALE SHAPE.  Upsert/delete cost is O(batch) + a column-pruned,
dbucket-pruned doclens lookup for 200/201 statuses and exact stats deltas
(a bulk purge, ``broadcast_ids=False``, reads every dbucket: its ids
cover them all anyway); nothing existing is rewritten.  Query cost adds
|segments| parquet list operations and the liveness aggregate over
candidate doclens; keep segment count bounded with compaction (amortized
like any LSM).  The trade is the classic one: in-place rewrite = pay at
write time; segments = tiny writes, small bounded read overhead, periodic
compaction.

Reference parity: MergeOrUpload/Delete semantics per the reference's
``AzureSearchIndexer/`` batch actions — 201/200 statuses, idempotent
deletes — realized with the write path production search engines use at
this data volume.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType

from azuredatalakeindexer_spark.functions.localrel import (
    read_meta_parquet,
    tiny_df,
    write_meta_parquet,
)
from azuredatalakeindexer_spark.functions.parallel import run_concurrent
from azuredatalakeindexer_spark.functions.text import portable_hash64, tokens
from azuredatalakeindexer_spark.sources.staging import (
    StagedCommit,
    _hadoop_fs,
    hadoop_path_exists,
    recover_for_maintenance,
)
from azuredatalakeindexer_spark.sources.text_index import (
    _check_n_buckets,
    _dedupe_delta,
    _postings_cols,
    _postings_from,
    _write_stats_from,
    _write_terms_rollup,
)

#: base layout acts as this segment id; real segments start at 1
BASE_SEG = 0

#: the path-partition column of each id- or term-keyed tier
_PART = {
    "postings": "bucket",
    "doclens": "dbucket",
    "docstore": "dbucket",
    "docvals": "dbucket",
}
#: file types of the engine's columns; the id column (any other name) is long
_TYPES = {
    "term": "string",
    "field": "string",
    "tf": "bigint",
    "pos": "array<int>",
    "dl": "int",
    "text": "string",
    "bucket": "int",
    "dbucket": "int",
}


def list_segments(spark: SparkSession, path: str) -> list[int]:
    """Sorted ids of the extra segments under ``<path>/segments`` (the base
    layout is segment 0 and is not listed).  One FS list call."""
    seg_root = f"{path}/segments"
    fs, hroot = _hadoop_fs(spark, seg_root)
    if not fs.exists(hroot):
        return []
    out = []
    for st in fs.listStatus(hroot):
        name = st.getPath().getName()
        if st.isDirectory() and name.startswith("seg="):
            out.append(int(name[4:]))
    return sorted(out)


def _next_seg(segs: list[int]) -> int:
    return (segs[-1] if segs else BASE_SEG) + 1


def _seg_dir(path: str, seg: int) -> str:
    return f"{path}/segments/seg={seg}"


def _seg_union(
    spark: SparkSession,
    path: str,
    segs: list[int],
    rel: str,
    schema,
    prune: dict[str, list] | None = None,
):
    """Every segment's ``rel`` relation in ONE multi-path parquet read,
    with segment provenance recovered from the path (``seg=K`` is already
    a directory component of the layout, so this is a pure read-side
    change — no format migration).  Replaces the one-DataFrame-per-segment
    union loops whose per-segment plan/listing fixed cost was the LSM
    read-tax (r10 verdict wrong-#3: ~0.9 s of per-QUERY overhead per
    segment on the profile surface): with a single relation the slope is
    one driver-side ``listStatus`` per segment plus one scan node, and
    every downstream filter (term pushdown, dbucket) prunes across ALL
    segments in one plan.

    Missing per-segment relations (tombstones of an upsert-only segment,
    docvals/docstore of a delete) are skipped by one driver-side existence
    probe each.  ``schema`` (DDL string or StructType) is the FILE schema
    including partition columns — passed explicitly so no footer
    inference runs; the returned frame adds ``seg int``.

    ``prune`` maps a path-partition column (``bucket``/``dbucket``) to the
    wanted value list; the segment's partition directories are then pruned
    STATICALLY at path-selection time (the driver lists each segment's
    ``col=v`` children once and only the wanted directories enter the
    scan's file index), preserving the "|segments| pruned scans, never
    |segments| full scans" guarantee the unsegmented reads have via
    PartitionFilters.

    Why not one read with real partition discovery: the ``seg=K``
    directory component ABOVE each relation dir makes Spark infer
    conflicting partition roots across the multi-path read
    (CONFLICTING_DIRECTORY_STRUCTURES).  With recursiveFileLookup the
    discovery is off, so the relations' own partition columns (postings
    are written ``partitionBy("bucket")``, doclens/docvals/docstore
    ``partitionBy("dbucket")``) are recovered from the file path exactly
    like ``seg`` — a regexp over the hidden ``_metadata.file_path``
    column, NOT ``input_file_name()``: the latter is classified
    non-deterministic, which blocks every downstream data filter (the
    term IN-list above all) from being pushed through the projection to
    the parquet reader; ``_metadata`` is a real deterministic column, so
    ``PushedFilters`` stay intact."""
    full = spark.createDataFrame([], schema).schema
    part_names = {f.name for f in full.fields if f.name in ("bucket", "dbucket")}
    prune = {k: {str(v) for v in vs} for k, vs in (prune or {}).items()}

    paths = []
    for s in segs:
        p = f"{_seg_dir(path, s)}/{rel}"
        fs, hpath = _hadoop_fs(spark, p)
        if not fs.exists(hpath):
            continue
        pruned_here = False
        for col, wanted in prune.items():
            if col not in part_names:
                continue
            # one listStatus per segment: keep only the wanted col=v dirs
            for st in fs.listStatus(hpath):
                name = st.getPath().getName()
                if (
                    st.isDirectory()
                    and name.startswith(f"{col}=")
                    and name[len(col) + 1 :] in wanted
                ):
                    paths.append(f"{p}/{name}")
            pruned_here = True
            break
        if not pruned_here:
            paths.append(p)
    if not paths:
        empty = spark.createDataFrame([], schema)
        return empty.withColumn("seg", F.lit(None).cast("int"))

    part_fields = [f for f in full.fields if f.name in part_names]
    file_schema = StructType([f for f in full.fields if f.name not in part_names])
    out = (
        spark.read.schema(file_schema)
        .option("recursiveFileLookup", "true")
        .parquet(*paths)
    )
    fpath = F.col("_metadata.file_path")
    for f in part_fields:
        out = out.withColumn(
            f.name,
            F.regexp_extract(fpath, f"/{f.name}=([^/]+)/", 1).cast(f.dataType),
        )
    out = out.withColumn(
        "seg", F.regexp_extract(fpath, "/seg=([0-9]+)/", 1).cast("int")
    )
    return out.select(*[f.name for f in full.fields], "seg")


def _tier(
    spark: SparkSession,
    path: str,
    segs: list[int],
    rel: str,
    cols: list[str],
    *,
    where=None,
    prune: list | None = None,
    base: DataFrame | None = None,
    schema=None,
) -> DataFrame:
    """``(*cols, seg)`` rows of tier ``rel`` across the base (segment 0)
    and every segment — the one read every live resolution and every fold
    starts from.  ``prune`` lists the wanted values of the tier's partition
    column: it statically prunes every segment's directories and filters
    the base on the same column; ``where`` (a Column) is pushed into every
    slice.  ``schema`` defaults to the engine types of ``cols`` (docvals
    passes its base schema: attribute columns carry user types); ``base``
    reuses an already-read base frame."""
    part = _PART[rel]
    if schema is None:
        schema = ", ".join(f"{c} {_TYPES.get(c, 'long')}" for c in [*cols, part])
    if base is None:
        base = spark.read.parquet(f"{path}/{rel}")
    cond = where
    if prune is not None:
        pc = F.col(part).isin(prune)
        cond = pc if where is None else pc & where

    def slice_(df: DataFrame) -> DataFrame:
        return (df if cond is None else df.where(cond)).select(*cols, "seg")

    segp = _seg_union(
        spark, path, segs, rel, schema,
        prune={part: prune} if prune is not None else None,
    )
    return slice_(base.withColumn("seg", F.lit(BASE_SEG))).unionByName(slice_(segp))


def _live(
    spark: SparkSession,
    path: str,
    segs: list[int],
    id_col: str,
    *,
    lens: DataFrame | None = None,
    carry: tuple = (),
    dbuckets: list[int] | None = None,
    candidates: DataFrame | None = None,
) -> DataFrame:
    """``(id_col, *carry, seg)`` of every LIVE document and its winning
    segment — the liveness rule, written once.  One map-side-combinable
    aggregate — deliberately ``max``/``max_by``, not a window, so partial
    aggregation runs before the shuffle.

    ``lens`` supplies the ``(id, ..., seg)`` doclens rows (default: every
    segment's, statically pruned to ``dbuckets`` — correct whenever the
    caller only consumes ids hashing there); ``candidates`` (an id
    relation) restricts them before the aggregate, so resolution is
    candidate-sized; ``carry`` columns ride along as their winning-segment
    value (the text layout's one-row-per-doc ``dl``)."""
    if lens is None:
        lens = _tier(spark, path, segs, "doclens", [id_col, *carry], prune=dbuckets)
    if candidates is not None:
        lens = lens.join(candidates, id_col, "left_semi")
    latest = lens.groupBy(id_col).agg(
        *[F.max_by(c, "seg").alias(c) for c in carry], F.max("seg").alias("seg")
    )
    tombs = (
        _seg_union(spark, path, segs, "tombstones", f"{id_col} long")
        .groupBy(id_col)
        .agg(F.max("seg").alias("_tseg"))
    )
    return (
        latest.join(tombs, id_col, "left")
        .where(F.col("seg") > F.coalesce(F.col("_tseg"), F.lit(-1)))
        .select(id_col, *carry, "seg")
    )


def alive_docs(
    spark: SparkSession,
    path: str,
    segs: list[int],
    id_col: str = "doc_id",
    dbuckets: list[int] | None = None,
) -> DataFrame:
    """``(id_col, dl, seg)`` of every LIVE document of a text-layout index
    (the winning segment's dl rides the liveness aggregate).  ``dbuckets``
    restricts the scan to the given id-hash partitions."""
    return _live(spark, path, segs, id_col, carry=("dl",), dbuckets=dbuckets)


def _live_lens(
    spark: SparkSession,
    path: str,
    segs: list[int],
    id_col: str,
    *,
    fields: list[str] | None,
    ids: DataFrame | None = None,
    dbuckets: list[int] | None = None,
) -> DataFrame:
    """Live doclens rows ``(id[, field], dl)`` — of every live doc, or of
    the ``ids`` relation's only — the alive lookup behind the upserts'
    statuses and stats deltas and the deletes' victims: the winning
    segment's rows joined back on ``(id, seg)``.  ``fields`` names the
    profile layout (one row per (doc, field)); ``dbuckets`` prunes every
    doclens slice to the given id-hash partitions."""
    keys = [id_col] if fields is None else [id_col, "field"]
    lens = _tier(spark, path, segs, "doclens", [*keys, "dl"], prune=dbuckets)
    alive = _live(spark, path, segs, id_col, lens=lens, candidates=ids)
    return lens.join(alive, [id_col, "seg"]).select(*keys, "dl")


def _live_slice(
    spark: SparkSession,
    path: str,
    segs: list[int],
    cols: list[str],
    *,
    id_col: str,
    where,
    prune: list | None = None,
    base: DataFrame | None = None,
    lens: DataFrame | None = None,
    carry: tuple = (),
    materialize: bool = True,
) -> tuple[DataFrame, DataFrame]:
    """Query-side one-pass resolution: ``(rows, alive)`` — the filtered
    postings ``cols`` of base + every segment (checkpointed unless
    ``materialize=False``) and the liveness of ONLY the docs that carry
    such a row.  The naive composition resolves liveness over EVERY
    document; this computes the candidate-id set from the pruned, filtered
    postings union first — at 100 TB that is |docs matching| rows instead
    of |corpus| rows.  Callers join ``rows`` to ``alive`` on ``(id,
    seg)``."""
    rows = _tier(
        spark, path, segs, "postings", cols, where=where, prune=prune, base=base
    )
    if materialize:
        rows = rows.localCheckpoint()
    alive = _live(
        spark, path, segs, id_col,
        lens=lens, carry=carry, candidates=rows.select(id_col).distinct(),
    )
    return rows, alive


def live_postings(
    spark: SparkSession,
    path: str,
    segs: list[int],
    *,
    id_col: str = "doc_id",
    buckets: list[int] | None = None,
    terms: list[str] | None = None,
) -> DataFrame:
    """``(term, id_col, tf[, pos])`` of live postings across base +
    segments, optionally bucket-pruned (static partition filter in EVERY
    segment) and term-filtered.  Stale postings of replaced docs drop out
    via the ``(doc_id, seg)`` equi-join against the live set.
    Positional indexes keep their ``pos`` lists through the resolution."""
    base = spark.read.parquet(f"{path}/postings")
    vcols = _postings_cols(base, id_col)
    allp = _tier(
        spark, path, segs, "postings", vcols, base=base, prune=buckets,
        where=F.col("term").isin(terms) if terms is not None else None,
    )
    alive = _live(spark, path, segs, id_col)
    return allp.join(alive, [id_col, "seg"]).select(*vcols)


def live_query_slice(
    spark: SparkSession,
    path: str,
    segs: list[int],
    *,
    id_col: str = "doc_id",
    buckets: list[int],
    terms: list[str],
    materialize: bool = True,
) -> tuple[DataFrame, DataFrame]:
    """One-pass query-side resolution: ``(postings, doclens)`` restricted to
    the docs that actually carry a query term (:func:`_live_slice`) — one
    liveness aggregate instead of one for postings and one for doclens.

    ``materialize=False`` skips the two localCheckpoints (the candidate
    union and the alive set are then recomputed by each consumer) — used
    by the plan-pruning test to inspect the un-checkpointed scan plans."""
    allp, alive = _live_slice(
        spark, path, segs, ["term", id_col, "tf"],
        id_col=id_col, where=F.col("term").isin(terms), prune=buckets,
        carry=("dl",), materialize=materialize,
    )
    if materialize:
        alive = alive.localCheckpoint()
    postings = allp.join(alive.select(id_col, "seg"), [id_col, "seg"]).select(
        "term", id_col, "tf"
    )
    return postings, alive.select(id_col, "dl")


def live_prefix_slice(
    spark: SparkSession,
    path: str,
    segs: list[int],
    prefix: str,
    *,
    id_col: str = "doc_id",
) -> DataFrame:
    """``(term, id_col)`` pairs of LIVE postings whose term starts with
    ``prefix`` — the segmented-state autocomplete slice.  Postings files
    are term-sorted within their buckets, so the pushed prefix predicate's
    string min/max row-group stats actually prune."""
    return live_term_slice(
        spark,
        path,
        segs,
        lambda term: term.startswith(prefix),
        id_col=id_col,
    )


def live_term_slice(
    spark: SparkSession,
    path: str,
    segs: list[int],
    term_pred,
    *,
    id_col: str = "doc_id",
    fields: list[str] | None = None,
) -> DataFrame:
    """``(term, id_col)`` pairs of LIVE postings whose term satisfies
    ``term_pred`` (a ``Column -> Column`` factory applied to the term
    column) — the segmented-state vocabulary slice behind the prefix
    suggester (:func:`live_prefix_slice`), the fuzzy length-band and the
    wildcard expansions.  On a profile-layout index pass ``fields``: the
    rows are ``(field, term, id_col)`` of those fields only.

    The predicate (and field IN-list) is applied INSIDE every slice scan
    (base + each segment) so sargable conjuncts (prefix ranges, ``length``
    bands via the column stats of term-sorted files) push to the parquet
    readers; the last-writer-wins liveness aggregate then runs only over
    the docs that carry a matching term (candidate-sized, not
    corpus-sized)."""
    cols = ["term", id_col] if fields is None else ["field", "term", id_col]
    where = term_pred(F.col("term"))
    if fields is not None:
        where = F.col("field").isin(fields) & where
    allp, alive = _live_slice(spark, path, segs, cols, id_col=id_col, where=where)
    return allp.join(alive, [id_col, "seg"]).select(*cols)


def live_docstore_slice(
    spark: SparkSession,
    path: str,
    segs: list[int],
    *,
    id_col: str = "doc_id",
    dbs: list[int],
    ids,
    fields: list[str] | None = None,
) -> DataFrame:
    """``(id, text)`` — the LIVE stored text of the given ids across the
    base docstore and every segment's docstore, resolved by the same
    max-segment rule as doclens liveness: a doc upserted in segment K
    carries its current text in seg=K's docstore, shadowing every older
    row.  The caller passes LIVE ids (a query result page or candidate
    set), so tombstones need no separate check — a re-added doc's newest
    docstore row is by construction newer than any pre-tombstone row.

    ``ids`` is the id IN-list pushed into every slice, or an id relation
    (a candidate set) semi-joined before the resolution.  On a
    profile-layout index pass ``fields``: only those stored fields are
    read and the resolution runs per (id, field), returning ``(id, field,
    text)``.  Cost: each slice is statically dbucket-pruned —
    candidate-sized × (1 + number of segments), never corpus-sized."""
    keys = [id_col] if fields is None else [id_col, "field"]
    where = None
    if not isinstance(ids, DataFrame):
        where = F.col(id_col).isin(ids)
    if fields is not None:
        fc = F.col("field").isin(fields)
        where = fc if where is None else where & fc
    rows = _tier(spark, path, segs, "docstore", [*keys, "text"], where=where, prune=dbs)
    if isinstance(ids, DataFrame):
        rows = rows.join(ids, id_col, "left_semi")
    return rows.groupBy(*keys).agg(F.max_by("text", "seg").alias("text"))


def _read_segstats(
    spark: SparkSession, path: str, id_col: str
) -> tuple[int, int, int | None]:
    """(n_docs, sum_dl, n_buckets-pin) — from the stats relation's exact
    bigint columns (every writer maintains them), read DRIVER-SIDE
    (``read_meta_parquet``: the relation is 1 row, no Spark job), falling
    back to a base-doclens aggregate for an index written before
    ``sum_dl`` existed (pin None in that case)."""
    rows = read_meta_parquet(spark, f"{path}/stats")
    if rows is None:  # unreadable fast-path: ordinary Spark read
        stats = spark.read.parquet(f"{path}/stats")
        rows = [stats.first().asDict()] if "sum_dl" in stats.columns else []
    if rows and rows[0].get("sum_dl") is not None:
        r = rows[0]
        pin = int(r["n_buckets"]) if r.get("n_buckets") is not None else None
        return int(r["n_docs"]), int(r["sum_dl"]), pin
    r = (
        spark.read.parquet(f"{path}/doclens")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.coalesce(F.sum("dl"), F.lit(0)).alias("s"),
        )
        .first()
    )
    return int(r["n"]), int(r["s"]), None


def _write_stats(
    spark: SparkSession,
    path: str,
    n_docs: int,
    sum_dl: int,
    n_buckets: int | None,
    target: str | None = None,
) -> None:
    """Advance the 1-row stats relation from the exact bigint running
    values, carrying the ``n_buckets`` layout pin forward.  avgdl =
    sum_dl/n_docs is the same long-sum/count division ``avg(dl)``
    performs, so scores stay bit-identical to a fresh build.  ``target``
    redirects the write into a staged commit."""
    avgdl = (sum_dl / n_docs) if n_docs else None
    # the row is already driver-resident — write it driver-side (one
    # Hadoop FS call) instead of spending an executor write job on a
    # 1-row relation (r14; see write_meta_parquet)
    write_meta_parquet(
        spark,
        [(n_docs, avgdl, sum_dl, n_buckets)],
        "n_docs bigint, avgdl double, sum_dl bigint, n_buckets int",
        target if target is not None else f"{path}/stats",
    )


def _stats_writer(spark: SparkSession, path: str, id_col: str, n_buckets=None):
    """The text layout's counters: ``deltas[None] = (dn, ds)`` advances
    the 1-row stats relation (the pin read back, else ``n_buckets``)."""

    def write(deltas: dict, target: str) -> None:
        n_docs, sum_dl, pin = _read_segstats(spark, path, id_col)
        dn, ds = deltas.get(None, (0, 0))
        _write_stats(
            spark, path, n_docs + dn, sum_dl + ds,
            pin if pin is not None else n_buckets, target=target,
        )

    return "stats", write


def _deltas(frame: DataFrame, fields: list[str] | None, n, s) -> dict:
    """``{field: (n, s)}`` (``{None: (n, s)}`` in the text layout) — the
    counter deltas of one batch-sized frame in ONE aggregate job."""
    by = [] if fields is None else ["field"]
    rows = frame.groupBy(*by).agg(n.alias("n"), s.alias("s")).collect()
    return {
        (r["field"] if by else None): (int(r["n"]), int(r["s"])) for r in rows
    }


def _write_tier(df: DataFrame, target: str, empty: bool = False) -> None:
    """Write one tier relation in its layout: postings bucket-partitioned
    and term-sorted within each bucket (pushed term predicates prune row
    groups), id-keyed tiers dbucket-partitioned, tombstones plain.

    An ``empty`` relation is written as the typed 0-row UNPARTITIONED
    sentinel: a partitioned write of 0 rows leaves a directory with zero
    data files that cannot be re-read (schema inference fails on every
    later query/upsert), while the sentinel reads back with the same
    columns, so later segments layer on it and a later compaction writes
    a partitioned layout again."""
    part = next((c for c in ("bucket", "dbucket") if c in df.columns), None)
    if empty or part is None:
        df.write.parquet(target)
        return
    out = df.repartition(part)
    if part == "bucket":
        out = out.sortWithinPartitions("term")
    out.write.partitionBy(part).parquet(target)


def _stage_and_promote(
    spark: SparkSession,
    path: str,
    tiers: dict,
    rollups: dict,
    *,
    new_seg: int | None = None,
    empty: dict | None = None,
) -> None:
    """The one commit of every maintenance op: stage the ``tiers``
    relations and the ``rollups`` (``{rel: write(target)}``, e.g. the
    stats counters) concurrently — independent batch-sized writes whose
    scheduling and dynamic-partition commit latencies overlap instead of
    stacking — then promote them under one journal (``sources/
    staging.py``): a crash before the journal leaves the old index
    serving bit-identical results, one after it rolls forward.

    With ``new_seg`` every tier lands in one staged segment directory that
    swaps in as ``segments/seg=K`` (no partial segment is ever listed);
    without it (the fold) each tier replaces its base relation, ``empty``
    (``{rel: bool}``) selects the sentinel write, and
    ``segments/`` is removed."""
    commit = StagedCommit(spark, path)
    seg_dir = commit.stage("seg") if new_seg is not None else None
    empty = empty or {}

    def tier(rel: str, df: DataFrame):
        def w() -> None:
            if seg_dir is not None:
                _write_tier(df, f"{seg_dir}/{rel}")
                return
            _write_tier(df, commit.stage(rel), empty.get(rel, False))
            commit.swap(rel, rel)

        return w

    def rollup(rel: str, write):
        def w() -> None:
            write(commit.stage(rel))
            commit.swap(rel, rel)

        return w

    run_concurrent(
        *[tier(r, df) for r, df in tiers.items() if df is not None],
        *[rollup(r, w) for r, w in rollups.items()],
    )
    if seg_dir is not None:
        commit.swap("seg", f"segments/seg={new_seg}")
    else:
        commit.remove("segments")
    commit.promote()


def _known_or(known: dict, key: str, probe):
    """A layout fact the streaming drain carries in ``known``
    (:func:`_drain`), else a fresh probe — as a thunk for run_concurrent."""
    return lambda: known[key] if key in known else probe()


def _land(
    spark: SparkSession,
    path: str,
    segs: list[int],
    enriched: DataFrame,
    tiers: dict,
    stats,
    *,
    id_col: str,
    fields: list[str] | None,
) -> DataFrame:
    """The shared tail of both upserts: from the checkpointed batch-sized
    ``enriched`` frame — the new doclens rows ``(id[, field], dl,
    dbucket)`` left-joined to their live predecessors' ``_old_dl`` — the
    201/200 statuses, the segment's doclens and the exact counter deltas
    (created docs add one, replaced docs swap their dl) all derive with
    no further input scans; the segment and the counters promote under
    one journal.  Every doc has a row per indexed field, so the first
    field's row decides a profile doc's status."""
    keyed = enriched if fields is None else enriched.where(F.col("field") == fields[0])
    statuses = keyed.select(
        id_col,
        F.when(F.col("_old_dl").isNotNull(), F.lit(200))
        .otherwise(F.lit(201))
        .alias("status"),
    )
    rel, write = stats

    def w_stats(target: str) -> None:
        deltas = _deltas(
            enriched,
            fields,
            F.coalesce(F.sum(F.when(F.col("_old_dl").isNull(), 1)), F.lit(0)),
            F.coalesce(F.sum("dl"), F.lit(0))
            - F.coalesce(F.sum("_old_dl"), F.lit(0)),
        )
        write(deltas, target)

    keys = [id_col] if fields is None else [id_col, "field"]
    _stage_and_promote(
        spark,
        path,
        {**tiers, "doclens": enriched.select(*keys, "dl", "dbucket")},
        {rel: w_stats},
        new_seg=_next_seg(segs),
    )
    return statuses


def _delete(
    spark: SparkSession,
    path: str,
    doc_ids: DataFrame,
    stats,
    *,
    id_col: str,
    fields: list[str] | None,
    n_buckets: int | None,
    broadcast_ids: bool,
) -> int:
    """Delete as a tombstone-only segment, both layouts (the caller has
    run crash recovery and read ``n_buckets``): the live victims' doclens
    rows in ONE checkpointed lookup, their count and dl sums in ONE
    aggregate, and — only when a live victim exists — the tombstones and
    the counter refresh promoted together."""
    # docstore-backed indexes need no docstore write here: the tombstone
    # hides the doc from every query, so its stored text is unreachable
    # until compaction physically drops it
    segs = list_segments(spark, path)
    ids = doc_ids.select(id_col).distinct()
    dbuckets = None
    if broadcast_ids:
        # a broadcastable id set is driver-sized: ONE collect pins it (a
        # nondeterministic source is evaluated once) and yields the id-hash
        # partitions the victim lookup is pruned to (pmod == Python's %)
        rows = ids.select(id_col, F.hash(id_col).alias("_h")).collect()
        if not rows:
            return 0
        keys = F.broadcast(tiny_df(spark, [r[:1] for r in rows], ids.schema))
        if n_buckets is not None:
            dbuckets = sorted({r["_h"] % n_buckets for r in rows})
    else:
        # a bulk purge's ids cover every id-hash partition anyway
        keys = ids.localCheckpoint()
    victims = _live_lens(
        spark, path, segs, id_col, fields=fields, ids=keys, dbuckets=dbuckets
    ).localCheckpoint()
    deltas = _deltas(
        victims, fields, F.count(F.lit(1)), F.coalesce(F.sum("dl"), F.lit(0))
    )
    n_removed = max((n for n, _s in deltas.values()), default=0)
    if n_removed == 0:
        return 0
    # tombstone only the ACTUAL victims: absent ids carry no information,
    # and dropping them keeps the tombstone relation to live hits
    tombs = victims.select(id_col)
    rel, write = stats
    _stage_and_promote(
        spark,
        path,
        {"tombstones": tombs if fields is None else tombs.distinct()},
        {rel: lambda t: write({k: (-n, -s) for k, (n, s) in deltas.items()}, t)},
        new_seg=_next_seg(segs),
    )
    return n_removed


def _fold(
    spark: SparkSession,
    path: str,
    segs: list[int],
    rollups: dict,
    *,
    id_col: str,
    n_buckets: int,
    fields: list[str] | None,
    attrs=(),
) -> int:
    """Compaction, both layouts: resolve the alive set once, fold every
    tier's winning rows (``(id, seg)`` join) into a new base, refresh the
    ``rollups`` (``{rel: write(merged, lens, target)}``) and drop
    ``segments/``, all staged and promoted under one journal.  The
    resolved postings and doclens are ``localCheckpoint``-materialized so
    the LSM resolution runs once, not once per staged write; a tier that
    resolves to 0 rows (a fully-tombstoned or all-zero-token corpus)
    stages the typed sentinel (:func:`_write_tier`) — checked for
    postings and doclens apart, since postings can empty while doclens
    keeps rows; the mirror tiers follow doclens.  Returns the number of
    segments folded."""
    keys = [id_col] if fields is None else [id_col, "field"]
    alive = _live(spark, path, segs, id_col).localCheckpoint()
    dbucket = F.pmod(F.hash(F.col(id_col)), F.lit(n_buckets))

    def fold(rel: str, cols: list[str], **kw) -> DataFrame:
        return (
            _tier(spark, path, segs, rel, cols, **kw)
            .join(alive, [id_col, "seg"])
            .select(*cols)
        )

    base_postings = spark.read.parquet(f"{path}/postings")
    # positional indexes keep their pos lists through the fold
    pcols = ["term", *keys, "tf"] + (["pos"] if "pos" in base_postings.columns else [])
    merged = (
        fold("postings", pcols, base=base_postings)
        .withColumn("bucket", F.pmod(portable_hash64(F.col("term")), F.lit(n_buckets)))
        .localCheckpoint()
    )
    lens = (
        fold("doclens", [*keys, "dl"]).withColumn("dbucket", dbucket).localCheckpoint()
    )
    # the docvals/docstore tiers mirror doclens: every op that writes a
    # doc's doclens rows writes its docvals row and its stored text rows
    # in the same segment, so an empty doclens decides for them too
    mirrors = {}
    if attrs:
        base_vals = spark.read.parquet(f"{path}/docvals")
        mirrors["docvals"] = fold(
            "docvals", [id_col, *attrs], base=base_vals, schema=base_vals.schema
        )
    if hadoop_path_exists(spark, f"{path}/docstore"):
        mirrors["docstore"] = fold("docstore", [*keys, "text"])
    mirrors = {r: df.withColumn("dbucket", dbucket) for r, df in mirrors.items()}

    # both resolved relations are checkpointed, so the emptiness probes
    # are first-partition peeks
    merged_empty, lens_empty = run_concurrent(merged.isEmpty, lens.isEmpty)
    _stage_and_promote(
        spark,
        path,
        {"postings": merged, "doclens": lens, **mirrors},
        {rel: (lambda t, w=w: w(merged, lens, t)) for rel, w in rollups.items()},
        empty={
            "postings": merged_empty,
            "doclens": lens_empty,
            **{r: lens_empty for r in mirrors},
        },
    )
    return len(segs)


def upsert_text_index_segmented(
    spark: SparkSession,
    path: str,
    delta: DataFrame,
    *,
    text_col: str = "text",
    id_col: str = "doc_id",
    n_buckets: int = 64,
    _known: "dict | None" = None,
) -> DataFrame:
    """MergeOrUpload as a NEW SEGMENT: O(batch) writes, nothing rewritten.

    ``_known`` (private contract of ``run_stream_text_index``, r15 —
    VERDICT r14 next-#1): layout facts the streaming drain already
    established and owns for its duration — ``recovered``,
    ``n_buckets_ok``, ``has_store``, ``has_pos``, and the live
    ``segments`` list (the drain advances it in-process after every
    landing; compaction resets it).  Skips the per-batch re-probing of
    immutable facts; non-drain callers leave it None and every probe
    runs.

    Returns ``(id_col, status)`` with 201=created / 200=modified; queries
    afterwards answer identically to a fresh ``build_text_index`` of the
    logical corpus (test-pinned).  Work: tokenize the batch, join it
    ONCE against the live-doc set (column-pruned, dbucket-pruned doclens
    slices + tombstones) and materialize that batch-sized frame — statuses,
    the segment doclens, and the exact stats delta all derive from it with
    no further input scans (:func:`_land`) — then write the segment
    postings + doclens and refresh the 1-row stats.  Job count is
    deliberately minimal: at bench scale an upsert is pure scheduling
    overhead, and at 100 TB the data cost is O(batch) either way.
    """
    known = _known or {}
    if not known.get("recovered"):
        recover_for_maintenance(spark, path)

    toks = tokens(F.col(text_col))
    deduped = _dedupe_delta(delta, id_col, text_col)

    def _probe_and_ckpt():
        # a docstore-backed (highlight-enabled) index versions its stored
        # text through the segments too: the batch's texts land in
        # seg=K/docstore and the max-segment rule serves the live version
        # (live_docstore_slice) until compaction folds them into the base.
        # The probe gates whether the deduped rows need their own
        # checkpoint, so probe + checkpoint form one ordered thunk.
        store = _known_or(
            known, "has_store", lambda: hadoop_path_exists(spark, f"{path}/docstore")
        )()
        d = deduped.localCheckpoint() if store else deduped
        b = d.select(
            F.col(id_col),
            toks.alias("_toks"),
            F.pmod(F.hash(F.col(id_col)), F.lit(n_buckets)).alias("dbucket"),
        ).localCheckpoint()
        return store, d, b

    # Layer 0 (r14): the layout probes (stats n_buckets pin, positional-
    # column existence, segment listing) are driver-side reads
    # independent of each other and of the batch-checkpoint chain —
    # overlap them instead of stacking five fixed latencies ahead of the
    # first real job.  A drain carrying ``_known`` (r15) resolved every
    # one of them once before the drain and skips the re-probes outright.
    (has_store, deduped, base), _check, segs, has_pos = run_concurrent(
        _probe_and_ckpt,
        lambda: (
            None
            if known.get("n_buckets_ok")
            else _check_n_buckets(
                spark, path, n_buckets, "upsert_text_index_segmented"
            )
        ),
        _known_or(known, "segments", lambda: list_segments(spark, path)),
        _known_or(
            known, "has_pos",
            lambda: "pos" in spark.read.parquet(f"{path}/postings").columns,
        ),
    )

    # the alive-lookup only needs docs that can collide with the batch:
    # prune every segment's doclens to the batch's id-hash partitions
    dbuckets = [r["dbucket"] for r in base.select("dbucket").distinct().collect()]
    old = _live_lens(
        spark, path, segs, id_col, fields=None, dbuckets=dbuckets
    ).withColumnRenamed("dl", "_old_dl")
    # ONE batch-sized materialization carrying everything downstream needs
    enriched = (
        base.select(id_col, F.size("_toks").alias("dl"), "dbucket")
        .join(old, id_col, "left")
        .localCheckpoint()
    )
    return _land(
        spark,
        path,
        segs,
        enriched,
        {
            # a positional base gets positional segments (pos rides
            # through the LWW resolution and compaction unchanged)
            "postings": _postings_from(base, id_col, n_buckets, positions=has_pos),
            "docstore": deduped.select(
                F.col(id_col),
                F.col(text_col).alias("text"),
                F.pmod(F.hash(F.col(id_col)), F.lit(n_buckets)).alias("dbucket"),
            )
            if has_store
            else None,
        },
        _stats_writer(spark, path, id_col, n_buckets),
        id_col=id_col,
        fields=None,
    )


def delete_from_text_index_segmented(
    spark: SparkSession,
    path: str,
    doc_ids: DataFrame,
    *,
    id_col: str = "doc_id",
    broadcast_ids: bool = True,
) -> int:
    """Delete as a TOMBSTONE-ONLY SEGMENT: O(batch) writes.  Returns the
    number of live documents removed; deleting an absent or already-deleted
    id is a no-op (idempotent on redelivered delete events) and writes NO
    segment when no live victim was found, so redeliveries never grow the
    segment count (query cost stays flat until a real mutation lands).

    ``broadcast_ids=True`` is the incremental default (a micro-batch's id
    set is driver-broadcastable; its ids' hashes prune the victim lookup
    to their doclens dbuckets).  For bulk purges — a 1% batch of a
    10⁹-doc corpus is ~10⁷ ids — pass ``False``: the victim lookup becomes
    a shuffled left-semi join (both sides hash-partition on the id), the
    same fallback ``merge_upsert(broadcast_batch_keys=False)`` provides.
    """
    recover_for_maintenance(spark, path)
    return _delete(
        spark,
        path,
        doc_ids,
        _stats_writer(spark, path, id_col),
        id_col=id_col,
        fields=None,
        n_buckets=_read_segstats(spark, path, id_col)[2],
        broadcast_ids=broadcast_ids,
    )


def compact_text_index(
    spark: SparkSession,
    path: str,
    *,
    id_col: str = "doc_id",
    n_buckets: int = 64,
) -> int:
    """Fold every segment back into the base layout (the LSM compaction,
    :func:`_fold`): afterwards the index is byte-equivalent in CONTENT to
    a fresh ``build_text_index`` of the logical corpus (test-pinned),
    queries take the segment-free fast path again, and the autocomplete
    rollup is exact again (refreshed from the resolved live postings).
    Returns the number of segments folded."""
    recover_for_maintenance(spark, path)
    _check_n_buckets(spark, path, n_buckets, "compact_text_index")
    segs = list_segments(spark, path)
    if not segs:
        return 0
    return _fold(
        spark,
        path,
        segs,
        {
            "stats": lambda merged, lens, t: _write_stats_from(
                spark, path, lens, n_buckets, target=t
            ),
            "terms": lambda merged, lens, t: _write_terms_rollup(
                spark,
                path,
                merged.groupBy("term").agg(F.count(F.lit(1)).alias("df")),
                target=t,
            ),
        },
        id_col=id_col,
        n_buckets=n_buckets,
        fields=None,
    )


def _drain(
    spark: SparkSession,
    docs_dir: str,
    schema,
    index_dir: str,
    checkpoint_dir: str,
    *,
    marker: str,
    build,
    upsert,
    compact,
    known: dict,
    max_files_per_trigger: int,
    compact_every: int | None,
) -> None:
    """The streaming drain of both layouts: the first micro-batch builds
    the index (``build(batch)``; ``<index_dir>/<marker>`` is the layout's
    last-written file, so its existence means a complete base), every
    later batch lands as a segment (``upsert(spark, batch, known)``) and
    ``compact_every=N`` folds segments (``compact(spark)``) whenever N
    have accumulated.  ``availableNow`` drains the backlog and terminates.

    Per-batch fixed work is hoisted OUT of the landing (r15): the drain
    owns the index directory for its whole run (single-writer lease; each
    promote completes in-process before the next batch), so the layout
    facts the build just established — ``known``, plus recovery done and
    the live segment list, which the drain advances itself — are carried
    across batches as the upserts' private ``_known`` instead of
    re-probed.  A RESUMED drain against a pre-existing index carries
    nothing (full per-batch probes); batch-split invariance is untouched
    (the carried facts are exactly what the probes would return)."""
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .parquet(docs_dir)
    )
    state: dict = {"built": False, "known": None}

    def handle(batch: DataFrame, _batch_id: int) -> None:
        s = batch.sparkSession
        # Hadoop FS probe, not os.path — the index may live on abfss/s3/hdfs
        # where a local-path check is always False and every micro-batch
        # would take the build path, keeping only the last batch
        if not state["built"] and not hadoop_path_exists(s, f"{index_dir}/{marker}"):
            build(batch)
            state["built"] = True
            state["known"] = {"recovered": True, "segments": [], **known}
            return
        state["built"] = True
        carried = state["known"]
        upsert(s, batch, carried).count()
        if carried is not None:
            carried["segments"] = carried["segments"] + [_next_seg(carried["segments"])]
            n_segs = len(carried["segments"])
        else:
            n_segs = len(list_segments(s, index_dir)) if compact_every else 0
        if compact_every and n_segs >= compact_every:
            compact(s)
            if carried is not None:
                carried["segments"] = []

    (
        stream.writeStream.foreachBatch(handle)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
        .awaitTermination()
    )
