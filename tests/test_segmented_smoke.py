"""Always-on smoke of the one segment engine behind the text and profile
indexes: build on 90% of the corpus, land the rest plus a few replaced
docs as a segmented upsert, tombstone-delete a slice, and check the
served answers against a model of the logical corpus before and after
compaction — in the plain layouts and in the docstore + positional ones
(every tier the engine versions).  A streaming drain of three one-file
micro-batches covers the shared drain body of both layouts."""

from __future__ import annotations

import os

import pyarrow as pa
import pyarrow.parquet as pq
import pyspark.sql.functions as F

from azuredatalakeindexer_spark.operators.search import bm25_topk
from azuredatalakeindexer_spark.sources.fixtures import load_table
from azuredatalakeindexer_spark.sources.profile_index import (
    build_profile_index,
    highlight_profile_from_index,
    near_profile_from_index,
    query_profile_index,
)
from azuredatalakeindexer_spark.sources.profile_segments import (
    compact_profile_index,
    delete_from_profile_index_segmented,
    run_stream_profile_index,
    upsert_profile_index_segmented,
)
from azuredatalakeindexer_spark.sources.text_index import (
    build_text_index,
    highlight_from_index,
    query_phrase_index,
    query_text_index,
    run_stream_text_index,
)
from azuredatalakeindexer_spark.sources.text_segments import (
    compact_text_index,
    delete_from_text_index_segmented,
    list_segments,
    upsert_text_index_segmented,
)
from tests.conftest import SF_DIR

TERMS = ["merge", "query", "stream"]
PROFILE = {"text": (TERMS, 2.0), "source": (["src1"], 1.0)}


def _split(docs, rewrite):
    """(base, delta, dead, logical): base is 90% of the corpus; delta is the
    missing 10% plus three base docs rewritten by ``rewrite``; dead is a
    slice of both; logical is the corpus the index should serve."""
    base = docs.where(F.col("doc_id") % 10 != 0)
    replaced = base.where(F.col("doc_id").isin([1, 2, 3])).select(*rewrite)
    delta = docs.where(F.col("doc_id") % 10 == 0).unionByName(replaced)
    dead = docs.select("doc_id").where(F.col("doc_id") % 7 == 3)
    logical = (
        base.join(delta.select("doc_id"), "doc_id", "left_anti")
        .unionByName(delta)
        .join(dead, "doc_id", "left_anti")
    )
    return base, delta, dead, logical


def _tuples(df):
    return [tuple(r) for r in df.collect()]


def test_text_index_segmented_maintenance_smoke(spark, tmp_path):
    _text_smoke(spark, tmp_path, {})


def test_text_index_segmented_maintenance_smoke_store_pos(spark, tmp_path):
    _text_smoke(spark, tmp_path, {"store_text": True, "positions": True})


def _text_smoke(spark, tmp_path, layout):
    docs = load_table(spark, SF_DIR, "documents").select("doc_id", "text")
    base, delta, dead, logical = _split(
        docs,
        ["doc_id", F.concat(F.lit("merge stream "), F.col("text")).alias("text")],
    )
    path = str(tmp_path / "ti")
    build_text_index(base, path, n_buckets=16, **layout)

    st = {r["doc_id"]: r["status"] for r in
          upsert_text_index_segmented(spark, path, delta, n_buckets=16).collect()}
    assert st == {i: (201 if i % 10 == 0 else 200) for i in st}
    assert {1, 2, 3} <= set(st)
    n_live = logical.count()
    assert delete_from_text_index_segmented(spark, path, dead) == (
        docs.join(dead, "doc_id", "left_semi").count()
    )
    assert list_segments(spark, path) == [1, 2]

    def rows(df):
        return [(r["doc_id"], r["bm25"]) for r in df.collect()]

    def served(p):
        # one docstore-served and one positional answer
        return (
            _tuples(highlight_from_index(spark, p, TERMS, k=10, n_buckets=16)),
            _tuples(query_phrase_index(spark, p, "merge stream", k=10, n_buckets=16)),
        )

    want = rows(bm25_topk(logical, TERMS, k=20))
    assert want
    assert rows(query_text_index(spark, path, TERMS, k=20, n_buckets=16)) == want
    if layout:
        fresh = str(tmp_path / "fresh")
        build_text_index(logical, fresh, n_buckets=16, **layout)
        want_served = served(fresh)
        assert all(want_served)
        assert served(path) == want_served
    assert compact_text_index(spark, path, n_buckets=16) == 2
    assert list_segments(spark, path) == []
    assert rows(query_text_index(spark, path, TERMS, k=20, n_buckets=16)) == want
    assert spark.read.parquet(f"{path}/stats").first()["n_docs"] == n_live
    if layout:
        assert served(path) == want_served


def test_profile_index_segmented_maintenance_smoke(spark, tmp_path):
    _profile_smoke(spark, tmp_path, {})


def test_profile_index_segmented_maintenance_smoke_store_pos(spark, tmp_path):
    _profile_smoke(spark, tmp_path, {"store_fields": True, "positions": True})


def _profile_smoke(spark, tmp_path, layout):
    docs = load_table(spark, SF_DIR, "documents").select(
        "doc_id", "text", "source", "n_chars"
    )
    base, delta, dead, logical = _split(
        docs,
        [
            "doc_id",
            F.concat(F.lit("merge body "), F.col("text")).alias("text"),
            F.lit("src1").alias("source"),
            (F.col("n_chars") + 10).alias("n_chars"),
        ],
    )
    layout = dict(
        field_cols=["text", "source"], attr_cols=["n_chars"], n_buckets=16, **layout
    )
    path = str(tmp_path / "pidx")
    build_profile_index(base, path, **layout)

    st = {r["doc_id"]: r["status"] for r in
          upsert_profile_index_segmented(spark, path, delta).collect()}
    assert st == {i: (201 if i % 10 == 0 else 200) for i in st}
    assert delete_from_profile_index_segmented(spark, path, dead) > 0

    fresh = str(tmp_path / "fresh")
    build_profile_index(logical, fresh, **layout)
    boost = ("n_chars", 0.5, 200.0, 800.0)

    def rows(p):
        out = [_tuples(query_profile_index(spark, p, PROFILE, boost=boost, k=20))]
        if "positions" in layout:
            # one docstore-served and one positional answer
            out.append(_tuples(highlight_profile_from_index(spark, p, PROFILE, k=10)))
            out.append(_tuples(near_profile_from_index(
                spark, p, "merge", "body", {"text": 1.0}, slop=0, k=10
            )))
        return out

    want = rows(fresh)
    assert all(want)
    assert rows(path) == want
    assert compact_profile_index(spark, path) == 2
    assert rows(path) == want


def test_stream_drains_three_micro_batches_through_both_layouts(spark, tmp_path):
    """Three one-file micro-batches with ``compact_every=2``: the first
    builds, the next two land as segments and the second of them triggers
    the fold.  The third file rewrites two docs of the first, so the
    drained index must serve last-writer-wins — the same answers as a
    fresh build of the logical corpus."""
    docs = load_table(spark, SF_DIR, "documents").select(
        "doc_id", "text", "source"
    ).orderBy("doc_id")
    rows = [tuple(r) for r in docs.collect()]
    third = len(rows) // 3
    batches = [rows[:third], rows[third:2 * third], rows[2 * third:]]
    rewritten = [(i, f"merge query {t}", s) for i, t, s in rows[:2]]
    batches[2] = batches[2] + rewritten
    arrow = pa.schema([("doc_id", pa.int64()), ("text", pa.string()), ("source", pa.string())])
    docs_dir = tmp_path / "docs"
    docs_dir.mkdir()
    for n, batch in enumerate(batches):
        f = str(docs_dir / f"part-{n}.parquet")
        pq.write_table(pa.table(list(map(list, zip(*batch))), schema=arrow), f)
        os.utime(f, (1_700_000_000 + n, 1_700_000_000 + n))  # arrival order
    logical = spark.createDataFrame(
        list({i: (i, t, s) for i, t, s in rows + rewritten}.values()),
        "doc_id long, text string, source string",
    )
    schema = spark.read.parquet(str(docs_dir)).schema

    text_idx = str(tmp_path / "text")
    run_stream_text_index(
        spark, str(docs_dir), schema, text_idx, str(tmp_path / "ck_text"),
        n_buckets=16, compact_every=2,
    )
    assert list_segments(spark, text_idx) == []
    assert _tuples(query_text_index(spark, text_idx, TERMS, k=20, n_buckets=16)) == (
        _tuples(bm25_topk(logical, TERMS, k=20))
    )

    prof_idx, fresh = str(tmp_path / "prof"), str(tmp_path / "fresh")
    run_stream_profile_index(
        spark, str(docs_dir), schema, prof_idx, str(tmp_path / "ck_prof"),
        field_cols=["text", "source"], n_buckets=16, compact_every=2,
    )
    build_profile_index(logical, fresh, field_cols=["text", "source"], n_buckets=16)
    want = _tuples(query_profile_index(spark, fresh, PROFILE, k=20))
    assert want
    assert _tuples(query_profile_index(spark, prof_idx, PROFILE, k=20)) == want
