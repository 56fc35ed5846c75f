"""Segmented (LSM) maintenance for the multi-field profile index
(sources/profile_segments.py): O(batch) segment upserts/tombstones with
doc-level last-writer-wins serving, exact per-field stats, compaction
equivalence — served profiles/facets bit-identical to the scan-time
operators on the logical corpus at every step."""

from __future__ import annotations

import pyspark.sql.functions as F
import pytest

from azuredatalakeindexer_spark.operators.search import (
    facet_counts,
    scoring_profile_topk,
)
from azuredatalakeindexer_spark.sources.fixtures import load_table
from azuredatalakeindexer_spark.sources.profile_index import (
    build_profile_index,
    facets_from_index,
    query_profile_index,
)
from azuredatalakeindexer_spark.sources.profile_segments import (
    compact_profile_index,
    delete_from_profile_index_segmented,
    list_segments,
    upsert_profile_index_segmented,
)

SF = "/root/testdata/sf0.001"
PROFILE = {"text": (["merge", "query", "stream"], 2.0), "source": (["src1"], 1.0)}
BOOST = ("n_chars", 0.5, 200.0, 800.0)


# Heavyweight lifecycle-integration suite: skipped in the default run so
# 'pytest tests/ -q' fits the driver's verify budget (VERDICT r14 next-#6);
# SPARK_GRAFT_RUN_SLOW=1 runs it (the repo's end-of-round battery does).
pytestmark = pytest.mark.slow


def _docs(spark):
    return load_table(spark, SF, "documents").select(
        "doc_id", "text", "source", "n_chars"
    )


def _rows(df):
    return [tuple(r) for r in df.collect()]


def _delta(docs, mod, tag):
    return docs.where(F.col("doc_id") % mod == 0).select(
        "doc_id",
        F.concat(F.lit(f"merge {tag} "), F.col("text")).alias("text"),
        F.lit("src1").alias("source"),
        (F.col("n_chars") + 5).alias("n_chars"),
    )


def _check(spark, path, logical):
    got = _rows(query_profile_index(spark, path, PROFILE, boost=BOOST, k=20))
    want = _rows(scoring_profile_topk(logical, PROFILE, boost=BOOST, k=20))
    assert got == want
    # facets over the match set agree too
    from azuredatalakeindexer_spark.functions.text import tokens as _tok

    hit = F.arrays_overlap(
        _tok(F.col("text")),
        F.array(F.lit("merge"), F.lit("query"), F.lit("stream")),
    ) | F.arrays_overlap(_tok(F.col("source")), F.array(F.lit("src1")))
    assert sorted(
        map(
            tuple,
            facets_from_index(
                spark, path, {"text": PROFILE["text"], "source": (["src1"], 1.0)},
                ["source"],
            ).collect(),
        )
    ) == sorted(
        map(tuple, facet_counts(logical.where(hit), ["source"]).collect())
    )


def test_segmented_profile_lifecycle_matches_scan_time(spark, tmp_path):
    """Three stacked segments (upsert, tombstones, re-upsert) serve the
    profile and facets bit-identically to the scan-time operators on the
    logical corpus; compaction folds them with identical serving and
    content equal to a fresh build; upserts land on the compacted base
    again."""
    docs = _docs(spark)
    path = str(tmp_path / "pidx")
    build_profile_index(
        docs, path, field_cols=["text", "source"], attr_cols=["n_chars", "source"],
        n_buckets=16,
    )

    d1 = _delta(docs, 5, "segone")
    st = {r["doc_id"]: r["status"] for r in
          upsert_profile_index_segmented(spark, path, d1).collect()}
    assert set(st.values()) == {200}
    assert list_segments(spark, path) == [1]
    logical = docs.join(d1.select("doc_id"), "doc_id", "left_anti").unionByName(d1)
    _check(spark, path, logical)

    dead = docs.select("doc_id").where(F.col("doc_id") % 7 == 0)
    n = delete_from_profile_index_segmented(spark, path, dead)
    assert n == logical.join(dead, "doc_id", "left_semi").count()
    # idempotent redelivery writes NO segment
    assert delete_from_profile_index_segmented(spark, path, dead) == 0
    assert list_segments(spark, path) == [1, 2]
    logical = logical.join(dead, "doc_id", "left_anti")
    _check(spark, path, logical)

    # re-upsert some tombstoned docs: revived with 201 (doc-level LWW)
    d2 = _delta(docs, 14, "segtwo")
    st2 = {r["doc_id"]: r["status"] for r in
           upsert_profile_index_segmented(spark, path, d2).collect()}
    assert all(
        v == (201 if k % 7 == 0 else 200) for k, v in st2.items()
    )
    logical = logical.join(d2.select("doc_id"), "doc_id", "left_anti").unionByName(d2)
    _check(spark, path, logical)

    assert compact_profile_index(spark, path) == 3
    assert list_segments(spark, path) == []
    _check(spark, path, logical)
    # compacted content equals a fresh build of the logical corpus
    fresh = str(tmp_path / "fresh")
    build_profile_index(
        logical, fresh, field_cols=["text", "source"],
        attr_cols=["n_chars", "source"], n_buckets=16,
    )

    def _canon(r):
        return tuple(tuple(v) if isinstance(v, list) else v for v in r)

    for rel in ("postings", "doclens", "docvals", "fieldstats"):
        a = {_canon(r) for r in spark.read.parquet(f"{path}/{rel}").collect()}
        b = {_canon(r) for r in spark.read.parquet(f"{fresh}/{rel}").collect()}
        assert a == b, rel

    # and a new segment lands on the compacted base
    st3 = upsert_profile_index_segmented(spark, path, d2).collect()
    assert all(r["status"] == 200 for r in st3)
    assert list_segments(spark, path) == [1]


def test_segmented_profile_fieldstats_stay_exact(spark, tmp_path):
    """Per-field (n_docs, avgdl, sum_dl) must equal a from-scratch
    aggregate of the logical corpus after every segmented op (profile
    scores depend on them being exactly the rebuild values)."""
    from azuredatalakeindexer_spark.functions.text import tokens as _tok

    docs = _docs(spark).limit(60).cache()
    path = str(tmp_path / "pidx")
    build_profile_index(
        docs, path, field_cols=["text", "source"], attr_cols=["n_chars"],
        n_buckets=16,
    )

    def check(logical):
        got = {
            r["field"]: (r["n_docs"], r["avgdl"], r["sum_dl"])
            for r in spark.read.parquet(f"{path}/fieldstats").collect()
        }
        for fld in ("text", "source"):
            exp = (
                logical.select(F.size(_tok(F.col(fld))).alias("dl"))
                .agg(
                    F.count(F.lit(1)).alias("n"),
                    F.avg("dl").alias("a"),
                    F.coalesce(F.sum("dl"), F.lit(0)).alias("s"),
                )
                .first()
            )
            assert got[fld][0] == exp["n"], fld
            assert got[fld][1] == pytest.approx(exp["a"], abs=0), fld
            assert got[fld][2] == exp["s"], fld

    d = _delta(docs, 4, "stats")
    upsert_profile_index_segmented(spark, path, d)
    logical = docs.join(d.select("doc_id"), "doc_id", "left_anti").unionByName(d)
    check(logical)
    dead = logical.select("doc_id").where(F.col("doc_id") % 5 == 2)
    delete_from_profile_index_segmented(spark, path, dead)
    logical = logical.join(dead, "doc_id", "left_anti")
    check(logical)
    compact_profile_index(spark, path)
    check(logical)


def test_stream_profile_index_is_batch_split_invariant(spark, tmp_path):
    """The availableNow drain of a document stream into the profile index
    (first batch builds, later batches = LSM segments, mid-stream
    compaction) serves profiles bit-identically to one full-corpus build
    — doc-level LWW makes the drain batch-split-invariant."""
    import os

    from azuredatalakeindexer_spark.sources.profile_segments import (
        run_stream_profile_index,
    )

    docs = _docs(spark)
    root = str(tmp_path / "stream")
    docs_dir = os.path.join(root, "docs")
    docs.repartition(4).write.parquet(docs_dir)
    schema = spark.read.parquet(docs_dir).schema
    run_stream_profile_index(
        spark,
        docs_dir,
        schema,
        os.path.join(root, "index"),
        os.path.join(root, "ckpt"),
        field_cols=["text", "source"],
        attr_cols=["n_chars", "source"],
        n_buckets=16,
        max_files_per_trigger=1,
        compact_every=3,
    )
    got = _rows(
        query_profile_index(
            spark, os.path.join(root, "index"), PROFILE, boost=BOOST, k=20
        )
    )
    # NOTE: the streamed "logical corpus" is LWW over arrival order, but
    # every doc arrives exactly once here, so it equals the full corpus
    assert got == _rows(scoring_profile_topk(docs, PROFILE, boost=BOOST, k=20))
    one = str(tmp_path / "one")
    build_profile_index(
        docs, one, field_cols=["text", "source"],
        attr_cols=["n_chars", "source"], n_buckets=16,
    )
    assert got == _rows(query_profile_index(spark, one, PROFILE, boost=BOOST, k=20))
