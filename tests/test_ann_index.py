"""Persisted IVF index: saved-vs-in-memory parity, partition pruning,
learned-quantizer roundtrip."""

from __future__ import annotations

import os

import pyspark.sql.functions as F
import pytest

from azuredatalakeindexer_spark.operators.similarity import (
    ivf_topk,
    kmeans_centroids,
)
from azuredatalakeindexer_spark.sources.ann_index import (
    build_ivf_index,
    query_ivf_index,
)
from azuredatalakeindexer_spark.sources.fixtures import load_table

# Heavyweight lifecycle-integration suite: skipped in the default run so
# 'pytest tests/ -q' fits the driver's verify budget (VERDICT r14 next-#6);
# SPARK_GRAFT_RUN_SLOW=1 runs it (the repo's end-of-round battery does).
pytestmark = pytest.mark.slow

SF = "/root/testdata/sf0.001"


def _rows(df):
    return sorted(
        (r["query_id"], r["neighbor_id"], r["cosine"], r["rank"])
        for r in df.collect()
    )


def test_saved_index_matches_in_memory_ivf(spark, tmp_path):
    """A saved-index query must return bit-identical rows to ivf_topk on
    the same (seed) quantizer — the parquet roundtrip changes nothing."""
    emb = load_table(spark, SF, "embeddings")
    q = emb.where(F.col("vec_id") < 5)
    path = str(tmp_path / "ivf")
    build_ivf_index(emb, path, n_centroids=16)
    saved = query_ivf_index(spark, path, q, k=5, n_probe=2)
    mem = ivf_topk(emb, q, k=5, n_centroids=16, n_probe=2)
    assert _rows(saved) == _rows(mem)


def test_saved_index_prunes_unprobed_cells(spark, tmp_path):
    """The postings scan must carry the probed cells as a STATIC partition
    filter (a literal `cell = N` / `cell IN (...)` in PartitionFilters —
    pruned by the file index before any row is read; `inputFiles()` can't
    show this, it reports the pre-pruning index)."""
    import re

    emb = load_table(spark, SF, "embeddings")
    path = str(tmp_path / "ivf")
    build_ivf_index(emb, path, n_centroids=16)
    n_cells = len(
        [d for d in os.listdir(f"{path}/postings") if d.startswith("cell=")]
    )
    assert n_cells > 4  # the index is genuinely multi-cell
    q = emb.where(F.col("vec_id") == 3)
    out = query_ivf_index(spark, path, q, k=3, n_probe=1)
    plan = out._jdf.queryExecution().executedPlan().toString()
    # only the postings scan has a non-empty PartitionFilters (the other
    # file scans show "PartitionFilters: []"), so match plan-wide
    assert re.search(r"PartitionFilters: \[[^]]*\(cell#\d+L? (=|IN)", plan), plan


def test_saved_index_with_learned_quantizer(spark, tmp_path):
    """kmeans centroids flow through build/save/query unchanged, and the
    saved query still equals the in-memory path under the same model."""
    emb = load_table(spark, SF, "embeddings").limit(200)
    cents = kmeans_centroids(emb, k=8, iters=2)
    q = emb.where(F.col("vec_id") < 3)
    path = str(tmp_path / "ivf_km")
    build_ivf_index(emb, path, n_centroids=8, centroids=cents)
    saved = query_ivf_index(spark, path, q, k=4, n_probe=2)
    mem = ivf_topk(emb, q, k=4, n_centroids=8, n_probe=2, centroids=cents)
    assert _rows(saved) == _rows(mem)


def test_upsert_index_matches_fresh_rebuild_and_reports_status(spark, tmp_path):
    """MergeOrUpload into the saved index: after upserting (new ids +
    replaced-and-moved ids), queries answer bit-identically to a FRESH
    build over (base \\ replaced) ∪ delta on the SAME centroids, statuses
    are 201 for inserts / 200 for replacements, and untouched cell
    directories are not rewritten."""
    from azuredatalakeindexer_spark.sources.ann_index import upsert_ivf_index

    emb = load_table(spark, SF, "embeddings").select("vec_id", "embedding")
    base = emb.where(F.col("vec_id") >= 10)
    path = str(tmp_path / "ivf")
    build_ivf_index(base, path, n_centroids=16)

    neg = F.transform(F.col("embedding"), lambda x: -x).alias("embedding")
    delta = (
        emb.where(F.col("vec_id") < 10)                                   # inserts
        .unionByName(
            emb.where((F.col("vec_id") >= 10) & (F.col("vec_id") < 15))   # replacements,
            .select(F.col("vec_id"), neg)                                 # vectors negated -> likely cell moves
        )
    )
    statuses = {r["vec_id"]: r["status"] for r in
                upsert_ivf_index(spark, path, delta).collect()}
    assert all(statuses[i] == 201 for i in range(10))
    assert all(statuses[i] == 200 for i in range(10, 15))

    q = emb.where(F.col("vec_id") < 5)
    upserted = query_ivf_index(spark, path, q, k=5, n_probe=2)

    # fresh rebuild over the merged corpus with the SAME quantizer
    cents = spark.read.parquet(f"{path}/centroids")
    merged = (
        base.join(delta.select("vec_id"), "vec_id", "left_anti")
        .unionByName(delta)
    )
    path2 = str(tmp_path / "ivf_fresh")
    build_ivf_index(merged, path2, centroids=cents)
    fresh = query_ivf_index(spark, path2, q, k=5, n_probe=2)
    assert _rows(upserted) == _rows(fresh)


def test_upsert_index_rewrites_only_affected_cells(spark, tmp_path):
    """Dynamic partition overwrite: a cell with no delta member and no
    replaced victim keeps its original parquet files byte-for-byte."""
    import glob

    from azuredatalakeindexer_spark.sources.ann_index import upsert_ivf_index

    emb = load_table(spark, SF, "embeddings").select("vec_id", "embedding")
    base = emb.where(F.col("vec_id") >= 10)
    path = str(tmp_path / "ivf")
    build_ivf_index(base, path, n_centroids=16)
    before = {d: sorted(os.path.basename(f) for f in glob.glob(f"{path}/postings/{d}/*.parquet"))
              for d in os.listdir(f"{path}/postings") if d.startswith("cell=")}

    delta = emb.where(F.col("vec_id") < 3)
    upsert_ivf_index(spark, path, delta)

    after = {d: sorted(os.path.basename(f) for f in glob.glob(f"{path}/postings/{d}/*.parquet"))
             for d in os.listdir(f"{path}/postings") if d.startswith("cell=")}
    touched = {d for d in before if before[d] != after.get(d, [])}
    # the 3 delta vectors land in <= 3 cells; every other cell untouched
    assert 0 < len(touched) <= 3
    assert all(before[d] == after[d] for d in before if d not in touched)


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


def test_upsert_ivf_clears_emptied_victim_cell(spark, tmp_path):
    """ADVICE r5 (high): a victim cell whose rows were ALL replaced ids that
    moved to other cells must be cleared — dynamic overwrite alone would
    leave the stale vectors on disk and queries would return the old
    embedding for a replaced id."""
    from azuredatalakeindexer_spark.sources.ann_index import upsert_ivf_index

    emb = load_table(spark, SF, "embeddings").select("vec_id", "embedding")
    path = str(tmp_path / "ivf")
    build_ivf_index(emb, path, n_centroids=16)
    posts = spark.read.parquet(f"{path}/postings")
    sizes = sorted((r["count"], r["cell"]) for r in posts.groupBy("cell").count().collect())
    assert len(sizes) >= 2
    victim, donor = sizes[0][1], sizes[-1][1]
    victim_ids = posts.where(F.col("cell") == victim).select("vec_id")
    # replace every victim-cell member with a copy of a donor-cell vector:
    # all of them provably move, so the victim cell's survivor set is EMPTY
    donor_vec = posts.where(F.col("cell") == donor).orderBy("vec_id").limit(1).select(
        F.col("embedding").alias("_dv")
    )
    delta = victim_ids.crossJoin(donor_vec).select(
        "vec_id", F.col("_dv").alias("embedding")
    )
    upsert_ivf_index(spark, path, delta)
    after = spark.read.parquet(f"{path}/postings")
    assert after.where(F.col("cell") == victim).count() == 0
    # no stale duplicates anywhere: every id appears exactly once
    assert after.groupBy("vec_id").count().where(F.col("count") > 1).count() == 0


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


def test_delete_from_ivf_index_matches_fresh_rebuild(spark, tmp_path):
    """Deleting vectors leaves an index identical in content to a fresh
    build over the survivors on the SAME frozen centroids; only victim
    cells are rewritten; idempotent; delete-all leaves a readable sentinel
    that a later upsert rebuilds through the static path."""
    from azuredatalakeindexer_spark.sources.ann_index import (
        build_ivf_index,
        delete_from_ivf_index,
        query_ivf_index,
        upsert_ivf_index,
    )
    from azuredatalakeindexer_spark.sources.fixtures import load_table

    emb = load_table(spark, SF, "embeddings").select("vec_id", "embedding")
    path = str(tmp_path / "ivf")
    build_ivf_index(emb, path, n_centroids=8)
    ids = spark.range(5, 15).withColumnRenamed("id", "vec_id")
    untouched_before = {
        f for f in os.listdir(f"{path}/postings") if f.startswith("cell=")
    }
    assert delete_from_ivf_index(spark, path, ids) == 10
    assert delete_from_ivf_index(spark, path, ids) == 0  # idempotent
    survivors = emb.where((F.col("vec_id") < 5) | (F.col("vec_id") >= 15))
    q = emb.where(F.col("vec_id") < 5)
    got = query_ivf_index(spark, path, q, k=5, n_probe=2)
    # fresh build over survivors with the ORIGINAL centroids
    fresh = str(tmp_path / "fresh")
    cents = spark.read.parquet(f"{path}/centroids")
    build_ivf_index(survivors, fresh, centroids=cents)
    exp = query_ivf_index(spark, fresh, q, k=5, n_probe=2)
    assert sorted(map(tuple, got.collect())) == sorted(map(tuple, exp.collect()))
    # deleted ids never appear
    assert got.where(F.col("neighbor_id").between(5, 14)).count() == 0

    # delete everything: layout must stay readable and accept a fresh upsert
    assert delete_from_ivf_index(spark, path, emb.select("vec_id")) > 0
    assert spark.read.parquet(f"{path}/postings").count() == 0
    assert query_ivf_index(spark, path, q, k=5, n_probe=2).count() == 0
    st = {r["status"] for r in upsert_ivf_index(spark, path, emb.limit(20)).collect()}
    assert st == {201}
    assert query_ivf_index(spark, path, q, k=5, n_probe=2).count() > 0


def test_ivf_maintenance_shuffled_fallback(spark, tmp_path):
    """broadcast_ids=False on the IVF upsert/delete: no broadcast hint
    anywhere on the id-lookup path (bulk-purge fallback), results
    unchanged."""
    from unittest.mock import patch

    import pyspark.sql.functions as F

    from azuredatalakeindexer_spark.sources.ann_index import (
        build_ivf_index,
        delete_from_ivf_index,
        query_ivf_index,
        upsert_ivf_index,
    )

    emb = load_table(spark, SF, "embeddings").select("vec_id", "embedding")
    path = str(tmp_path / "ivf")
    build_ivf_index(emb.where(F.col("vec_id") >= 10), path, n_centroids=8)

    calls = []
    orig = F.broadcast

    def spy(df):
        calls.append(df)
        return orig(df)

    delta = emb.where(F.col("vec_id") < 10)
    with patch.object(F, "broadcast", side_effect=spy):
        st = upsert_ivf_index(spark, path, delta, broadcast_ids=False)
        assert {r["status"] for r in st.collect()} == {201}
        assert (
            delete_from_ivf_index(
                spark, path, delta.select("vec_id"), broadcast_ids=False
            )
            == 10
        )
    # assign_cells broadcasts the model-sized centroids (always fine);
    # no BATCH-ID frame may be broadcast on the fallback path
    for df in calls:
        assert "cvec" in df.columns or "cid" in df.columns, df.columns
    q = emb.where(F.col("vec_id") < 3)
    out = query_ivf_index(spark, path, q, k=5, n_probe=2)
    assert out.count() > 0


def test_stream_ann_index_is_batch_split_invariant(spark, tmp_path):
    """Draining the vector stream in 4 micro-batches with a frozen
    (offline-trained) quantizer must leave the SAME index as one build
    over the whole corpus — bit-identical query rows, and every id
    present exactly once (LWW per id, affected-cell rewrites only)."""
    from azuredatalakeindexer_spark.operators.similarity import seed_centroids
    from azuredatalakeindexer_spark.sources.ann_index import (
        query_ivf_index,
        run_stream_ann_index,
    )

    emb = load_table(spark, SF, "embeddings").select("vec_id", "embedding")
    vecs_dir = str(tmp_path / "vecs")
    emb.repartition(4).write.parquet(vecs_dir)
    schema = spark.read.parquet(vecs_dir).schema

    idx = str(tmp_path / "ivf_stream")
    run_stream_ann_index(
        spark, vecs_dir, schema, idx, str(tmp_path / "ckpt"),
        n_centroids=16, max_files_per_trigger=1,
        centroids=seed_centroids(emb, 16),
    )
    built = str(tmp_path / "ivf_built")
    build_ivf_index(emb, built, n_centroids=16)

    q = emb.where(F.col("vec_id") < 5)
    streamed = query_ivf_index(spark, idx, q, k=5, n_probe=2)
    direct = query_ivf_index(spark, built, q, k=5, n_probe=2)
    assert [tuple(r) for r in streamed.collect()] == [
        tuple(r) for r in direct.collect()
    ]
    # the streamed postings hold each id exactly once, in the same cell
    # layout as the one-shot build
    sp = spark.read.parquet(f"{idx}/postings").select("vec_id", "cell")
    bp = spark.read.parquet(f"{built}/postings").select("vec_id", "cell")
    assert sp.groupBy("vec_id").count().where(F.col("count") > 1).count() == 0
    assert sorted(map(tuple, sp.collect())) == sorted(map(tuple, bp.collect()))


def test_pq_index_probe_all_degenerates_to_in_memory(spark, tmp_path):
    """query_pq_index with n_probe >= n_centroids sees every cell, so the
    IVF restriction is vacuous and the saved-layout answer must equal the
    in-memory pq_topk exactly (same codebooks, same shortlist)."""
    from azuredatalakeindexer_spark.operators.similarity import pq_topk
    from azuredatalakeindexer_spark.sources.ann_index import (
        build_pq_index,
        query_pq_index,
    )

    emb = load_table(spark, SF, "embeddings").select("vec_id", "embedding")
    path = str(tmp_path / "pq")
    build_pq_index(emb, path, n_centroids=16, m=4, k_pq=16)
    q = emb.where(F.col("vec_id") < 3)
    saved = [
        tuple(r)
        for r in query_pq_index(
            spark, path, q, k=5, n_probe=16, shortlist=50
        ).collect()
    ]
    mem = [
        tuple(r) for r in pq_topk(emb, q, k=5, m=4, k_pq=16, shortlist=50).collect()
    ]
    assert saved == mem and len(saved) == 15


def test_pq_index_prunes_unprobed_cells_on_both_scans(spark, tmp_path):
    """With n_probe=1 both the CODES scan (ADC) and the POSTINGS scan
    (rescore) must carry the probed cell as a STATIC partition filter —
    the compressed tier and the rescore tier each read only probed
    partitions."""
    import re

    from azuredatalakeindexer_spark.sources.ann_index import (
        build_pq_index,
        query_pq_index,
    )

    emb = load_table(spark, SF, "embeddings").select("vec_id", "embedding")
    path = str(tmp_path / "pq")
    build_pq_index(emb, path, n_centroids=16, m=4, k_pq=16)
    n_cells = len(
        [d for d in os.listdir(f"{path}/codes") if d.startswith("cell=")]
    )
    assert n_cells > 4
    q = emb.where(F.col("vec_id") == 3)
    out = query_pq_index(spark, path, q, k=3, n_probe=1, shortlist=20)
    plan = out._jdf.queryExecution().executedPlan().toString()
    pruned = re.findall(r"PartitionFilters: \[[^]]*\(cell#\d+L? (?:=|IN)", plan)
    assert len(pruned) >= 2, plan  # codes scan AND postings scan


def test_upsert_pq_index_matches_fresh_rebuild_and_keeps_tiers_synced(spark, tmp_path):
    """MergeOrUpload into the IVF-PQ layout: queries after the upsert are
    bit-identical to a FRESH build over (base \\ replaced) ∪ delta on the
    SAME frozen centroids+codebooks, statuses are 201/200, the codes and
    postings tiers hold exactly the same id set, and untouched cells of
    BOTH tiers keep their parquet files byte-for-byte."""
    import glob

    from azuredatalakeindexer_spark.sources.ann_index import (
        build_pq_index,
        query_pq_index,
        upsert_pq_index,
    )

    emb = load_table(spark, SF, "embeddings").select("vec_id", "embedding")
    base = emb.where(F.col("vec_id") >= 10)
    path = str(tmp_path / "pq")
    build_pq_index(base, path, n_centroids=16, m=4, k_pq=16)

    def _files(rel):
        return {
            d: sorted(
                os.path.basename(f) for f in glob.glob(f"{path}/{rel}/{d}/*.parquet")
            )
            for d in os.listdir(f"{path}/{rel}")
            if d.startswith("cell=")
        }

    before = {rel: _files(rel) for rel in ("postings", "codes")}

    neg = F.transform(F.col("embedding"), lambda x: -x).alias("embedding")
    delta = emb.where(F.col("vec_id") < 10).unionByName(
        emb.where((F.col("vec_id") >= 10) & (F.col("vec_id") < 15)).select(
            F.col("vec_id"), neg
        )
    )
    statuses = {
        r["vec_id"]: r["status"]
        for r in upsert_pq_index(spark, path, delta).collect()
    }
    assert all(statuses[i] == 201 for i in range(10))
    assert all(statuses[i] == 200 for i in range(10, 15))

    post_ids = {
        (r["vec_id"], r["cell"])
        for r in spark.read.parquet(f"{path}/postings").select("vec_id", "cell").collect()
    }
    code_ids = {
        (r["vec_id"], r["cell"])
        for r in spark.read.parquet(f"{path}/codes").select("vec_id", "cell").distinct().collect()
    }
    assert post_ids == code_ids

    q = emb.where(F.col("vec_id") < 5)
    upserted = query_pq_index(spark, path, q, k=5, n_probe=2, shortlist=50)

    cents = spark.read.parquet(f"{path}/centroids")
    cb = spark.read.parquet(f"{path}/codebooks")
    merged = base.join(delta.select("vec_id"), "vec_id", "left_anti").unionByName(delta)
    path2 = str(tmp_path / "pq_fresh")
    build_pq_index(merged, path2, m=4, centroids=cents, codebooks=cb)
    fresh = query_pq_index(spark, path2, q, k=5, n_probe=2, shortlist=50)
    assert _rows(upserted) == _rows(fresh) and len(_rows(fresh)) == 25

    after = {rel: _files(rel) for rel in ("postings", "codes")}
    for rel in ("postings", "codes"):
        touched = {
            d for d in before[rel] if before[rel][d] != after[rel].get(d, [])
        }
        untouched = set(before[rel]) - touched
        assert untouched, rel  # some cells were never rewritten
        assert all(before[rel][d] == after[rel][d] for d in untouched)


def test_delete_from_pq_index_matches_fresh_rebuild_and_is_idempotent(spark, tmp_path):
    """Deleting from the IVF-PQ layout removes the victims from BOTH
    tiers; survivors answer bit-identically to a fresh build over them on
    the frozen models; a redelivered delete of the same (now absent) ids
    is a 0-count no-op that writes nothing."""
    from azuredatalakeindexer_spark.sources.ann_index import (
        build_pq_index,
        delete_from_pq_index,
        query_pq_index,
    )

    emb = load_table(spark, SF, "embeddings").select("vec_id", "embedding")
    path = str(tmp_path / "pq")
    build_pq_index(emb, path, n_centroids=16, m=4, k_pq=16)

    doomed = emb.where((F.col("vec_id") >= 5) & (F.col("vec_id") < 15)).select("vec_id")
    assert delete_from_pq_index(spark, path, doomed) == 10
    assert delete_from_pq_index(spark, path, doomed) == 0  # idempotent

    survivors_codes = {
        r["vec_id"]
        for r in spark.read.parquet(f"{path}/codes").select("vec_id").distinct().collect()
    }
    assert not survivors_codes & set(range(5, 15))

    q = emb.where(F.col("vec_id") < 5)
    deleted = query_pq_index(spark, path, q, k=5, n_probe=2, shortlist=50)

    cents = spark.read.parquet(f"{path}/centroids")
    cb = spark.read.parquet(f"{path}/codebooks")
    survivors = emb.where((F.col("vec_id") < 5) | (F.col("vec_id") >= 15))
    path2 = str(tmp_path / "pq_fresh")
    build_pq_index(survivors, path2, m=4, centroids=cents, codebooks=cb)
    fresh = query_pq_index(spark, path2, q, k=5, n_probe=2, shortlist=50)
    assert _rows(deleted) == _rows(fresh) and len(_rows(fresh)) == 25


def test_pq_delete_all_then_upsert_roundtrip(spark, tmp_path):
    """Deleting every vector drops both tiers to readable 0-row
    sentinels; a subsequent upsert routes back through the clean static
    write and the index serves queries again."""
    from azuredatalakeindexer_spark.sources.ann_index import (
        build_pq_index,
        delete_from_pq_index,
        query_pq_index,
        upsert_pq_index,
    )

    emb = load_table(spark, SF, "embeddings").select("vec_id", "embedding")
    small = emb.where(F.col("vec_id") < 20)
    path = str(tmp_path / "pq")
    build_pq_index(small, path, n_centroids=4, m=4, k_pq=8)

    assert delete_from_pq_index(spark, path, small.select("vec_id")) == 20
    assert spark.read.parquet(f"{path}/postings").count() == 0
    assert spark.read.parquet(f"{path}/codes").count() == 0

    statuses = upsert_pq_index(spark, path, small)
    assert statuses.where(F.col("status") == 201).count() == 20
    q = small.where(F.col("vec_id") < 2)
    out = query_pq_index(spark, path, q, k=3, n_probe=4, shortlist=20)
    assert out.count() == 6


def test_pq_maintenance_shuffled_fallback(spark, tmp_path):
    """broadcast_ids=False on the PQ upsert/delete: only model-sized
    frames (centroids/codebooks) are ever broadcast — never a batch-id
    frame — and the maintenance results are unchanged."""
    from unittest.mock import patch

    import pyspark.sql.functions as F

    from azuredatalakeindexer_spark.sources.ann_index import (
        build_pq_index,
        delete_from_pq_index,
        query_pq_index,
        upsert_pq_index,
    )

    emb = load_table(spark, SF, "embeddings").select("vec_id", "embedding")
    path = str(tmp_path / "pq")
    build_pq_index(emb.where(F.col("vec_id") >= 10), path, n_centroids=8, m=4, k_pq=16)

    calls = []
    orig = F.broadcast

    def spy(df):
        calls.append(df)
        return orig(df)

    delta = emb.where(F.col("vec_id") < 10)
    with patch.object(F, "broadcast", side_effect=spy):
        st = upsert_pq_index(spark, path, delta, broadcast_ids=False)
        assert {r["status"] for r in st.collect()} == {201}
        assert (
            delete_from_pq_index(
                spark, path, delta.select("vec_id"), broadcast_ids=False
            )
            == 10
        )
    for df in calls:
        assert "cvec" in df.columns or "cid" in df.columns, df.columns
    q = emb.where(F.col("vec_id") < 3)
    out = query_pq_index(spark, path, q, k=5, n_probe=2, shortlist=20)
    assert out.count() > 0


def test_stream_pq_index_is_batch_split_invariant(spark, tmp_path):
    """Draining the vector stream into the IVF-PQ layout in 4
    micro-batches with frozen offline models must leave the SAME index as
    one build over the whole corpus — bit-identical query rows, and both
    tiers holding each id exactly once in the same cell layout."""
    from azuredatalakeindexer_spark.operators.similarity import (
        seed_centroids,
        seed_pq_codebooks,
    )
    from azuredatalakeindexer_spark.sources.ann_index import (
        build_pq_index,
        query_pq_index,
        run_stream_pq_index,
    )

    emb = load_table(spark, SF, "embeddings").select("vec_id", "embedding")
    vecs_dir = str(tmp_path / "vecs")
    emb.repartition(4).write.parquet(vecs_dir)
    schema = spark.read.parquet(vecs_dir).schema

    idx = str(tmp_path / "pq_stream")
    run_stream_pq_index(
        spark, vecs_dir, schema, idx, str(tmp_path / "ckpt"),
        n_centroids=16, m=4, k_pq=16, max_files_per_trigger=1,
        centroids=seed_centroids(emb, 16),
        codebooks=seed_pq_codebooks(emb, 4, 16),
    )
    built = str(tmp_path / "pq_built")
    build_pq_index(emb, built, n_centroids=16, m=4, k_pq=16)

    q = emb.where(F.col("vec_id") < 5)
    streamed = query_pq_index(spark, idx, q, k=5, n_probe=2, shortlist=50)
    direct = query_pq_index(spark, built, q, k=5, n_probe=2, shortlist=50)
    assert [tuple(r) for r in streamed.collect()] == [
        tuple(r) for r in direct.collect()
    ]
    for rel, key_cols in (("postings", ["vec_id"]), ("codes", ["vec_id", "sub"])):
        s = spark.read.parquet(f"{idx}/{rel}")
        b = spark.read.parquet(f"{built}/{rel}")
        assert (
            s.groupBy(*key_cols).count().where(F.col("count") > 1).count() == 0
        ), rel
        cols = key_cols + ["cell"]
        assert sorted(
            map(tuple, s.select(*cols).collect())
        ) == sorted(map(tuple, b.select(*cols).collect())), rel


def test_id_directory_tracks_postings_and_prunes_victim_lookup(spark, tmp_path):
    """The id→cell directory (SCALE.md's key→cell lookup, now implemented):
    build writes it, every maintenance op advances it under the same
    journal (directory == postings (id, cell) through upsert, delete,
    delete-all sentinel, and the post-sentinel upsert), and the victim
    lookup reads ONLY the delta ids' dbucket partitions — a static
    partition-pruned scan, not a full-index projection."""
    from azuredatalakeindexer_spark.sources.ann_index import (
        _victim_source,
        build_ivf_index,
        delete_from_ivf_index,
        upsert_ivf_index,
    )

    emb = load_table(spark, SF, "embeddings").select("vec_id", "embedding")
    base = emb.where(F.col("vec_id") >= 10)
    path = str(tmp_path / "ivf")
    build_ivf_index(base, path, n_centroids=16, n_dbuckets=16)

    def dir_rows():
        return sorted(
            tuple(r)
            for r in spark.read.parquet(f"{path}/directory")
            .select("vec_id", "cell")
            .collect()
        )

    def post_rows():
        return sorted(
            tuple(r)
            for r in spark.read.parquet(f"{path}/postings")
            .select("vec_id", "cell")
            .collect()
        )

    assert dir_rows() == post_rows()

    # pruned lookup: a 2-id delta touches <= 2 of the 16 dbucket dirs
    dl = emb.where(F.col("vec_id").isin([20, 21]))
    keys, n_db, dbs = _victim_source(spark, path, dl, "vec_id")
    assert n_db == 16 and 1 <= len(dbs) <= 2
    # inputFiles() ignores pruning — assert on the scan's PartitionFilters
    import re

    plan = keys._jdf.queryExecution().executedPlan().toString()
    m = re.search(r"PartitionFilters: \[[^\]]*dbucket[^\]]*(?:IN|=)[^\]]*\]", plan)
    assert m, plan

    neg = F.transform(F.col("embedding"), lambda x: -x).alias("embedding")
    delta = emb.where(F.col("vec_id") < 10).unionByName(
        emb.where((F.col("vec_id") >= 10) & (F.col("vec_id") < 15)).select(
            F.col("vec_id"), neg
        )
    )
    upsert_ivf_index(spark, path, delta)
    assert dir_rows() == post_rows()

    assert delete_from_ivf_index(
        spark, path, emb.where(F.col("vec_id") < 12).select("vec_id")
    ) == 12
    assert dir_rows() == post_rows()

    # delete-all → typed sentinel on the directory too; upsert routes back
    live = spark.read.parquet(f"{path}/postings").select("vec_id")
    delete_from_ivf_index(spark, path, live)
    assert spark.read.parquet(f"{path}/directory").count() == 0
    upsert_ivf_index(spark, path, base.limit(25))
    assert dir_rows() == post_rows() and len(dir_rows()) == 25


def test_maintenance_on_legacy_index_without_directory_falls_back(spark, tmp_path):
    """An index written before the directory existed (or with its
    directory dropped) still upserts/deletes correctly via the
    column-pruned postings projection, and produces the same results."""
    import shutil as _shutil

    from azuredatalakeindexer_spark.sources.ann_index import (
        build_ivf_index,
        delete_from_ivf_index,
        query_ivf_index,
        upsert_ivf_index,
    )

    emb = load_table(spark, SF, "embeddings").select("vec_id", "embedding")
    base = emb.where(F.col("vec_id") >= 10)
    delta = emb.where(F.col("vec_id") < 10)
    q = emb.where(F.col("vec_id") < 5)

    modern = str(tmp_path / "modern")
    legacy = str(tmp_path / "legacy")
    for p in (modern, legacy):
        build_ivf_index(base, p, n_centroids=16)
    _shutil.rmtree(f"{legacy}/directory")
    _shutil.rmtree(f"{legacy}/dirmeta", ignore_errors=True)  # pre-sidecar layout
    os.remove(f"{legacy}/dirmeta.json")

    for p in (modern, legacy):
        st = upsert_ivf_index(spark, p, delta)
        assert st.where(F.col("status") == 201).count() == 10
        assert delete_from_ivf_index(
            spark, p, emb.where(F.col("vec_id") < 3).select("vec_id")
        ) == 3
    a = _rows(query_ivf_index(spark, modern, q, k=5, n_probe=2))
    b = _rows(query_ivf_index(spark, legacy, q, k=5, n_probe=2))
    assert a == b and len(a) == 25


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


def test_vector_upsert_dedupes_batch_duplicates(spark, tmp_path):
    """ADVICE r8: a delta carrying the same vec_id twice must resolve to
    ONE row (deterministic max-by-embedding LWW) in postings, codes, and
    the id→cell directory — never a duplicate neighbor in query results."""
    import pytest
    from azuredatalakeindexer_spark.sources.ann_index import (
        build_pq_index,
        query_pq_index,
        upsert_ivf_index,
        upsert_pq_index,
    )

    emb = load_table(spark, SF, "embeddings").select("vec_id", "embedding")
    base = emb.where(F.col("vec_id") >= 10)
    neg = F.transform(F.col("embedding"), lambda x: -x).alias("embedding")
    dup = emb.where(F.col("vec_id") == 3)
    # two versions of vec_id=3 in ONE batch: raw and negated
    delta = dup.unionByName(dup.select("vec_id", neg)).unionByName(
        emb.where(F.col("vec_id") == 4)
    )

    ivf = str(tmp_path / "ivf")
    build_ivf_index(base, ivf, n_centroids=8)
    statuses = upsert_ivf_index(spark, ivf, delta)
    post = spark.read.parquet(f"{ivf}/postings").where(F.col("vec_id") == 3)
    assert post.count() == 1
    assert statuses.where(F.col("vec_id") == 3).count() == 1
    d = spark.read.parquet(f"{ivf}/directory").where(F.col("vec_id") == 3)
    assert d.count() == 1

    pq = str(tmp_path / "pq")
    build_pq_index(base, pq, n_centroids=8, m=4, k_pq=16)
    upsert_pq_index(spark, pq, delta)
    assert (
        spark.read.parquet(f"{pq}/postings").where(F.col("vec_id") == 3).count()
        == 1
    )
    codes = spark.read.parquet(f"{pq}/codes").where(F.col("vec_id") == 3)
    assert codes.select("sub").distinct().count() == codes.count() == 4
    # and a query never returns the same neighbor twice
    q = emb.where(F.col("vec_id") < 2)
    out = query_pq_index(spark, pq, q, k=10, n_probe=8, shortlist=50)
    pairs = out.select("query_id", "neighbor_id")
    assert pairs.count() == pairs.distinct().count()


def test_query_pq_index_derives_m_from_codebooks(spark, tmp_path):
    """ADVICE r8: m is a property of the persisted codebooks; querying
    with a mismatched caller m must raise, not mis-slice silently."""
    import pytest
    from azuredatalakeindexer_spark.sources.ann_index import (
        build_pq_index,
        query_pq_index,
    )

    emb = load_table(spark, SF, "embeddings").select("vec_id", "embedding")
    q = emb.where(F.col("vec_id") < 2)
    path = str(tmp_path / "pq2")
    build_pq_index(emb, path, n_centroids=4, m=2, k_pq=8)
    # default (None) derives m=2 and works
    assert query_pq_index(spark, path, q, k=3, n_probe=4).count() > 0
    # explicit matching m validates fine
    assert query_pq_index(spark, path, q, k=3, n_probe=4, m=2).count() > 0
    with pytest.raises(ValueError, match="built with m=2"):
        query_pq_index(spark, path, q, k=3, n_probe=4, m=4).count()


def test_filtered_saved_index_queries(spark, tmp_path):
    """Filtered vector query against a SAVED index (r9): allowed ids
    semi-join the candidates and the id→cell directory pre-prunes probed
    cells.  With a frozen quantizer, filtering a full index equals
    querying an index built over only the allowed vectors with the SAME
    centroids — the exactness pin."""
    import re

    from azuredatalakeindexer_spark.operators.similarity import seed_centroids
    from azuredatalakeindexer_spark.sources.ann_index import (
        build_pq_index,
        query_pq_index,
    )

    emb = load_table(spark, SF, "embeddings").select("vec_id", "embedding", "label")
    vecs = emb.select("vec_id", "embedding")
    q = vecs.where(F.col("vec_id") < 5)
    allowed = emb.where(F.col("label") % 2 == 1).select("vec_id")
    cents = seed_centroids(vecs, 16, "embedding", "vec_id", None)

    full = str(tmp_path / "full")
    build_ivf_index(vecs, full, n_centroids=16)
    got = query_ivf_index(spark, full, q, k=5, n_probe=2, filter_ids=allowed)
    rows = got.collect()
    allowed_set = {r["vec_id"] for r in allowed.collect()}
    assert rows and all(r["neighbor_id"] in allowed_set for r in rows)

    sub = str(tmp_path / "sub")
    build_ivf_index(
        vecs.join(allowed, "vec_id", "left_semi"), sub,
        n_centroids=16, centroids=cents,
    )
    want = query_ivf_index(spark, sub, q, k=5, n_probe=2)
    assert _rows(got) == _rows(want)

    # PQ: same equivalence through both tiers (frozen centroids+codebooks)
    from azuredatalakeindexer_spark.operators.similarity import seed_pq_codebooks

    cb = seed_pq_codebooks(vecs, 4, 16, "embedding", "vec_id", codebooks=None)
    fullpq = str(tmp_path / "fpq")
    build_pq_index(vecs, fullpq, n_centroids=16, m=4, k_pq=16)
    gotpq = query_pq_index(
        spark, fullpq, q, k=5, n_probe=2, shortlist=50, filter_ids=allowed
    )
    subpq = str(tmp_path / "spq")
    build_pq_index(
        vecs.join(allowed, "vec_id", "left_semi"), subpq,
        n_centroids=16, m=4, k_pq=16, centroids=cents, codebooks=cb,
    )
    wantpq = query_pq_index(spark, subpq, q, k=5, n_probe=2, shortlist=50)
    assert _rows(gotpq) == _rows(wantpq)
    assert all(r["neighbor_id"] in allowed_set for r in gotpq.collect())

    # directory pre-pruning: a single-id filter cuts the probed cells to
    # (at most) that id's one cell — visible in the scan's PartitionFilters
    one = allowed.limit(1)
    one_id = one.first()["vec_id"]
    one_cell = (
        spark.read.parquet(f"{full}/directory")
        .where(F.col("vec_id") == one_id)
        .first()["cell"]
    )
    out = query_ivf_index(
        spark, full, q, k=5, n_probe=16, filter_ids=one
    )
    plan = out._jdf.queryExecution().executedPlan().toString()
    m = re.search(r"PartitionFilters: \[[^\]]*cell[^\]]*\]", plan)
    assert m, plan
    found = set(int(x) for x in re.findall(r"(\d+)", m.group(0)))
    assert found == {one_cell} or one_cell in found and len(found) <= 2, (
        m.group(0), one_cell,
    )


def test_upsert_with_nondeterministic_delta_leaves_one_posting_per_id(
    spark, tmp_path
):
    """The victim lookup must see the SAME id set the upsert lands: a
    delta whose ids come from a nondeterministic UDF (a fresh unseeded
    draw on every evaluation) is evaluated once, by the checkpoint, and
    every id keeps exactly one posting afterwards.  Collecting the victim
    dbuckets from a second evaluation of the caller's expression misses
    the stale postings of ids that evaluation did not draw."""
    import random

    from azuredatalakeindexer_spark.sources.ann_index import (
        build_pq_index,
        upsert_ivf_index,
        upsert_pq_index,
    )

    emb = load_table(spark, SF, "embeddings").select("vec_id", "embedding")
    base = emb.where(F.col("vec_id") >= 10)
    existing = sorted(r["vec_id"] for r in base.select("vec_id").collect())
    vec = emb.where(F.col("vec_id") == 0).first()["embedding"]
    draw = F.udf(lambda: random.choice(existing), "long").asNondeterministic()
    delta = spark.range(8).select(
        draw().alias("vec_id"),
        F.array(*[F.lit(float(x)) for x in vec])
        .cast(emb.schema["embedding"].dataType)
        .alias("embedding"),
    )

    def dup_ids(p):
        return (
            spark.read.parquet(f"{p}/postings")
            .groupBy("vec_id")
            .count()
            .where(F.col("count") != 1)
            .count()
        )

    ivf = str(tmp_path / "ivf")
    build_ivf_index(base, ivf, n_centroids=16, n_dbuckets=32)
    upsert_ivf_index(spark, ivf, delta)
    assert dup_ids(ivf) == 0

    pq = str(tmp_path / "pq")
    build_pq_index(base, pq, n_centroids=16, m=4, k_pq=16, n_dbuckets=32)
    upsert_pq_index(spark, pq, delta)
    assert dup_ids(pq) == 0
