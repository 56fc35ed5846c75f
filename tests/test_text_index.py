"""Persisted inverted text index: saved-vs-scan BM25 parity, bucket
pruning, and the segmented upsert/delete/stream maintenance lifecycle
against fresh rebuilds."""

from __future__ import annotations

import os

import pyspark.sql.functions as F
import pytest

from azuredatalakeindexer_spark.sources.fixtures import load_table
from tests.conftest import SF_DIR as SF

# Heavyweight lifecycle-integration suite: skipped in the default run to
# keep it short; SPARK_GRAFT_RUN_SLOW=1 runs it.
pytestmark = pytest.mark.slow


def test_text_index_matches_scan_bm25_bit_identical(spark, tmp_path):
    """A saved-inverted-index query must return BIT-identical rows to the
    scan-time bm25_topk — same stats, association order, and rounding."""
    from azuredatalakeindexer_spark.operators.search import bm25_topk
    from azuredatalakeindexer_spark.sources.text_index import (
        build_text_index,
        query_text_index,
    )

    docs = load_table(spark, SF, "documents")
    path = str(tmp_path / "ti")
    build_text_index(docs, path, n_buckets=16)
    saved = query_text_index(spark, path, ["merge", "query", "stream"], k=20, n_buckets=16)
    scan = bm25_topk(docs, ["merge", "query", "stream"], k=20)
    srows = [(r["doc_id"], r["bm25"]) for r in saved.collect()]
    crows = [(r["doc_id"], r["bm25"]) for r in scan.collect()]
    assert srows == crows and len(srows) == 20


def test_text_index_prunes_unqueried_buckets(spark, tmp_path):
    """The query's bucket IN-list must prune postings partitions statically:
    only the query terms' bucket directories contribute input files."""
    import os
    import re

    from azuredatalakeindexer_spark.sources.text_index import (
        _py_bucket,
        build_text_index,
        query_text_index,
    )

    docs = load_table(spark, SF, "documents")
    path = str(tmp_path / "ti")
    build_text_index(docs, path, n_buckets=16)
    n_dirs = len([d for d in os.listdir(f"{path}/postings") if d.startswith("bucket=")])
    assert n_dirs > 2

    out = query_text_index(spark, path, ["merge"], k=5, n_buckets=16)
    want = _py_bucket("merge", 16)
    plan = out._jdf.queryExecution().executedPlan().toString()
    # the bucket IN-list is a STATIC partition filter on the postings scan
    # (inputFiles() reports the pre-pruning index and cannot show this)
    m = re.search(r"PartitionFilters: \[[^]]*bucket#\d+L? (=|IN) \(?([\d, ]+)", plan)
    assert m, plan
    assert str(want) in m.group(2)


def test_upsert_text_index_matches_fresh_rebuild(spark, tmp_path):
    """MergeOrUpload into the inverted index: after inserting new docs and
    replacing existing ones (old terms vanish, stats refresh), queries are
    bit-identical to a fresh build over (base \\ replaced) ∪ delta."""
    from azuredatalakeindexer_spark.sources.text_index import (
        build_text_index,
        query_text_index,
    )
    from azuredatalakeindexer_spark.sources.text_segments import (
        compact_text_index,
        upsert_text_index_segmented,
    )

    docs = load_table(spark, SF, "documents").select("doc_id", "text")
    base = docs.where(F.col("doc_id") >= 10)
    path = str(tmp_path / "ti")
    build_text_index(base, path, n_buckets=16)

    # inserts: docs 0-9 as-is; replacements: docs 10-14 with entirely new
    # text (their old terms must disappear from the postings)
    delta = docs.where(F.col("doc_id") < 10).unionByName(
        docs.where((F.col("doc_id") >= 10) & (F.col("doc_id") < 15)).select(
            "doc_id", F.lit("merge merge stream").alias("text")
        )
    )
    statuses = {r["doc_id"]: r["status"] for r in
                upsert_text_index_segmented(spark, path, delta, n_buckets=16).collect()}
    assert all(statuses[i] == 201 for i in range(10))
    assert all(statuses[i] == 200 for i in range(10, 15))

    upserted = query_text_index(spark, path, ["merge", "query", "stream"], k=20, n_buckets=16)

    merged = base.join(delta.select("doc_id"), "doc_id", "left_anti").unionByName(delta)
    path2 = str(tmp_path / "ti_fresh")
    build_text_index(merged, path2, n_buckets=16)
    fresh = query_text_index(spark, path2, ["merge", "query", "stream"], k=20, n_buckets=16)
    assert [(r["doc_id"], r["bm25"]) for r in upserted.collect()] == [
        (r["doc_id"], r["bm25"]) for r in fresh.collect()
    ]
    # after compaction the replaced docs' stale postings are really gone:
    # doc 10's only surviving terms are the replacement text's
    compact_text_index(spark, path, n_buckets=16)
    left = {r["term"] for r in spark.read.parquet(f"{path}/postings")
            .where(F.col("doc_id") == 10).collect()}
    assert left == {"merge", "stream"}


def test_stream_text_index_is_batch_split_invariant(spark, tmp_path):
    """Draining the document stream in 4 micro-batches must leave the SAME
    index (bit-identical query rows) as the scan-time bm25 over the whole
    corpus — each later micro-batch lands as an LWW segment."""
    import os as _os

    from azuredatalakeindexer_spark.operators.search import bm25_topk
    from azuredatalakeindexer_spark.sources.text_index import (
        query_text_index,
        run_stream_text_index,
    )

    docs = load_table(spark, SF, "documents").select("doc_id", "text")
    docs_dir = str(tmp_path / "docs")
    docs.repartition(4).write.parquet(docs_dir)
    schema = spark.read.parquet(docs_dir).schema

    idx = str(tmp_path / "ti_stream")
    run_stream_text_index(
        spark, docs_dir, schema, idx, str(tmp_path / "ckpt"),
        n_buckets=16, max_files_per_trigger=1,
    )
    streamed = query_text_index(spark, idx, ["merge", "query", "stream"], k=20, n_buckets=16)
    scan = bm25_topk(docs, ["merge", "query", "stream"], k=20)
    assert [(r["doc_id"], r["bm25"]) for r in streamed.collect()] == [
        (r["doc_id"], r["bm25"]) for r in scan.collect()
    ]


def test_delete_from_text_index_matches_fresh_rebuild(spark, tmp_path):
    """Deleting docs leaves an index bit-identical to a fresh build over
    the survivors; absent ids are a no-op (idempotent redelivery)."""
    from azuredatalakeindexer_spark.operators.search import bm25_topk
    from azuredatalakeindexer_spark.sources.text_index import (
        build_text_index,
        query_text_index,
    )
    from azuredatalakeindexer_spark.sources.text_segments import (
        delete_from_text_index_segmented,
    )

    docs = load_table(spark, SF, "documents").select("doc_id", "text")
    path = str(tmp_path / "ti")
    build_text_index(docs, path, n_buckets=16)

    ids = spark.range(0, 10).withColumnRenamed("id", "doc_id")
    assert delete_from_text_index_segmented(spark, path, ids) == 10
    # redelivered delete: nothing left to remove, index unchanged
    assert delete_from_text_index_segmented(spark, path, ids) == 0

    after = query_text_index(spark, path, ["merge", "query", "stream"], k=20, n_buckets=16)
    survivors = docs.where(F.col("doc_id") >= 10)
    scan = bm25_topk(survivors, ["merge", "query", "stream"], k=20)
    assert [(r["doc_id"], r["bm25"]) for r in after.collect()] == [
        (r["doc_id"], r["bm25"]) for r in scan.collect()
    ]


def test_upsert_text_index_clears_emptied_victim_bucket(spark, tmp_path):
    """ADVICE r5 (high): replacing a doc whose old term was the ONLY posting
    in its bucket must hide that posting at once and clear the bucket at
    compaction — otherwise the stale posting persists and the old term
    still matches."""
    from azuredatalakeindexer_spark.sources.text_index import (
        _py_bucket,
        build_text_index,
        query_text_index,
    )
    from azuredatalakeindexer_spark.sources.text_segments import (
        compact_text_index,
        upsert_text_index_segmented,
    )

    old = "zebra"
    new = next(
        w for w in ["apple", "quartz", "violet", "mango"]
        if _py_bucket(w, 16) != _py_bucket(old, 16)
    )
    docs = spark.createDataFrame(
        [(1, old), (2, f"{new} {new}")], f"doc_id long, text string"
    )
    path = str(tmp_path / "ti")
    build_text_index(docs, path, n_buckets=16)
    delta = spark.createDataFrame([(1, new)], "doc_id long, text string")
    upsert_text_index_segmented(spark, path, delta, n_buckets=16)
    # the stale 'zebra' posting no longer matches
    assert query_text_index(spark, path, [old], k=5, n_buckets=16).count() == 0
    assert query_text_index(spark, path, [new], k=5, n_buckets=16).count() == 2
    # compaction clears its bucket on disk
    compact_text_index(spark, path, n_buckets=16)
    assert not os.path.exists(f"{path}/postings/bucket={_py_bucket(old, 16)}")
    assert query_text_index(spark, path, [old], k=5, n_buckets=16).count() == 0
    assert query_text_index(spark, path, [new], k=5, n_buckets=16).count() == 2


def test_delete_all_docs_empties_index_and_counts_zero_token_docs(spark, tmp_path):
    """ADVICE r5 (high+low): deleting every doc must leave NO stale postings
    or doclens after compaction (n_docs=0 stats, queries match nothing),
    and zero-token docs (doclens row, no postings) count toward
    n_removed."""
    from azuredatalakeindexer_spark.sources.text_index import (
        build_text_index,
        query_text_index,
    )
    from azuredatalakeindexer_spark.sources.text_segments import (
        compact_text_index,
        delete_from_text_index_segmented,
        upsert_text_index_segmented,
    )

    docs = spark.createDataFrame(
        [(1, "alpha beta"), (2, "beta gamma"), (3, "")],  # doc 3 has no tokens
        "doc_id long, text string",
    )
    path = str(tmp_path / "ti")
    build_text_index(docs, path, n_buckets=16)
    ids = spark.createDataFrame([(1,), (2,), (3,)], "doc_id long")
    assert delete_from_text_index_segmented(spark, path, ids) == 3
    assert spark.read.parquet(f"{path}/stats").first()["n_docs"] == 0
    assert query_text_index(spark, path, ["beta"], k=5, n_buckets=16).count() == 0
    compact_text_index(spark, path, n_buckets=16)
    st = spark.read.parquet(f"{path}/stats").first()
    assert st["n_docs"] == 0
    assert spark.read.parquet(f"{path}/postings").count() == 0
    assert spark.read.parquet(f"{path}/doclens").count() == 0
    assert query_text_index(spark, path, ["beta"], k=5, n_buckets=16).count() == 0
    # the emptied index accepts a fresh upsert on top of the sentinel, and
    # a later compaction writes a partitioned layout again
    statuses = {r["doc_id"]: r["status"] for r in
                upsert_text_index_segmented(spark, path, docs, n_buckets=16).collect()}
    assert statuses == {1: 201, 2: 201, 3: 201}
    assert query_text_index(spark, path, ["beta"], k=5, n_buckets=16).count() == 2
    compact_text_index(spark, path, n_buckets=16)
    assert spark.read.parquet(f"{path}/doclens").count() == 3
    assert query_text_index(spark, path, ["beta"], k=5, n_buckets=16).count() == 2


def test_delete_partial_keeps_other_buckets_intact(spark, tmp_path):
    """Deleting the sole occupant of one bucket clears ONLY that bucket at
    compaction; other buckets' postings survive untouched."""
    from azuredatalakeindexer_spark.sources.text_index import (
        _py_bucket,
        build_text_index,
        query_text_index,
    )
    from azuredatalakeindexer_spark.sources.text_segments import (
        compact_text_index,
        delete_from_text_index_segmented,
    )

    a = "zebra"
    b = next(
        w for w in ["apple", "quartz", "violet", "mango"]
        if _py_bucket(w, 16) != _py_bucket(a, 16)
    )
    docs = spark.createDataFrame([(1, a), (2, b)], "doc_id long, text string")
    path = str(tmp_path / "ti")
    build_text_index(docs, path, n_buckets=16)
    ids = spark.createDataFrame([(1,)], "doc_id long")
    assert delete_from_text_index_segmented(spark, path, ids) == 1
    assert query_text_index(spark, path, [a], k=5, n_buckets=16).count() == 0
    assert query_text_index(spark, path, [b], k=5, n_buckets=16).count() == 1
    compact_text_index(spark, path, n_buckets=16)
    assert not os.path.exists(f"{path}/postings/bucket={_py_bucket(a, 16)}")
    assert os.path.exists(f"{path}/postings/bucket={_py_bucket(b, 16)}")
    assert query_text_index(spark, path, [a], k=5, n_buckets=16).count() == 0
    assert query_text_index(spark, path, [b], k=5, n_buckets=16).count() == 1


def test_delete_last_token_docs_leaves_readable_postings(spark, tmp_path):
    """ADVICE r6 edge: deleting every token-BEARING doc while zero-token docs
    remain empties all postings buckets without emptying doclens.  At
    compaction the postings layout must drop to the typed 0-row sentinel
    (a partitioned dir with zero data files cannot be re-read), stats keep
    the surviving zero-token docs, and a later upsert + compaction writes
    a clean partitioned layout again."""
    from azuredatalakeindexer_spark.sources.text_index import (
        build_text_index,
        query_text_index,
    )
    from azuredatalakeindexer_spark.sources.text_segments import (
        compact_text_index,
        delete_from_text_index_segmented,
        upsert_text_index_segmented,
    )

    docs = spark.createDataFrame(
        [(1, "alpha beta"), (2, "beta gamma"), (3, ""), (4, "")],
        "doc_id long, text string",
    )
    path = str(tmp_path / "ti")
    build_text_index(docs, path, n_buckets=16)
    ids = spark.createDataFrame([(1,), (2,)], "doc_id long")
    assert delete_from_text_index_segmented(spark, path, ids) == 2
    compact_text_index(spark, path, n_buckets=16)
    # postings fully emptied but still readable; doclens keeps the 2 docs
    assert spark.read.parquet(f"{path}/postings").count() == 0
    assert spark.read.parquet(f"{path}/doclens").count() == 2
    assert spark.read.parquet(f"{path}/stats").first()["n_docs"] == 2
    assert query_text_index(spark, path, ["beta"], k=5, n_buckets=16).count() == 0
    # upsert into the sentinel-postings state: doclens must KEEP the two
    # surviving zero-token docs through the next compaction
    delta = spark.createDataFrame([(5, "delta beta")], "doc_id long, text string")
    st = {r["doc_id"]: r["status"] for r in
          upsert_text_index_segmented(spark, path, delta, n_buckets=16).collect()}
    assert st == {5: 201}
    assert query_text_index(spark, path, ["beta"], k=5, n_buckets=16).count() == 1
    compact_text_index(spark, path, n_buckets=16)
    lens = {r["doc_id"]: r["dl"] for r in
            spark.read.parquet(f"{path}/doclens").collect()}
    assert lens == {3: 0, 4: 0, 5: 2}
    assert spark.read.parquet(f"{path}/stats").first()["n_docs"] == 3
    assert query_text_index(spark, path, ["beta"], k=5, n_buckets=16).count() == 1


def test_text_index_filtered_query_keeps_global_stats(spark, tmp_path):
    """$filter + search semantics: the filter restricts which docs can be
    RETURNED, but BM25 stats stay index-global — so the filtered result
    equals (unfiltered scoring) ∩ (filter set) re-cut to top-k, NOT a
    re-scored sub-corpus; the shuffled-fallback toggle is result-equal;
    filtering through a segmented (LSM) state works unchanged."""
    from azuredatalakeindexer_spark.sources.text_index import (
        build_text_index,
        query_text_index,
    )
    from azuredatalakeindexer_spark.sources.text_segments import (
        upsert_text_index_segmented,
    )

    docs = load_table(spark, SF, "documents").select("doc_id", "text")
    path = str(tmp_path / "ti")
    build_text_index(docs, path, n_buckets=16)
    terms = ["merge", "stream"]
    flt = docs.where(F.col("doc_id") % 3 == 0).select("doc_id")

    unfiltered = query_text_index(spark, path, terms, k=1000, n_buckets=16)
    keep = {r["doc_id"] for r in flt.collect()}
    expected = [
        (r["doc_id"], r["bm25"])
        for r in unfiltered.collect()
        if r["doc_id"] in keep
    ][:20]

    got = [
        (r["doc_id"], r["bm25"])
        for r in query_text_index(
            spark, path, terms, k=20, n_buckets=16, filter_ids=flt
        ).collect()
    ]
    assert got == expected and 0 < len(got) <= 20

    shuffled = [
        (r["doc_id"], r["bm25"])
        for r in query_text_index(
            spark, path, terms, k=20, n_buckets=16,
            filter_ids=flt, broadcast_filter=False,
        ).collect()
    ]
    assert shuffled == got

    # LSM state: upsert a delta as a segment, filter still serves exactly
    delta = spark.createDataFrame(
        [(999_001, "merge stream merge"), (999_002, "stream only")],
        "doc_id long, text string",
    )
    upsert_text_index_segmented(spark, path, delta, n_buckets=16)
    flt2 = flt.unionByName(
        spark.createDataFrame([(999_001,)], "doc_id long")
    )
    seg = {
        r["doc_id"]: r["bm25"]
        for r in query_text_index(
            spark, path, terms, k=1000, n_buckets=16, filter_ids=flt2
        ).collect()
    }
    assert 999_001 in seg and 999_002 not in seg

