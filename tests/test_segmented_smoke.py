"""Always-on smoke of the one maintenance path of the text and profile
indexes: build on 90% of the corpus, land the rest plus a few replaced
docs as a segmented upsert, tombstone-delete a slice, and check the
served answers against a model of the logical corpus before and after
compaction."""

from __future__ import annotations

import pyspark.sql.functions as F

from azuredatalakeindexer_spark.operators.search import bm25_topk
from azuredatalakeindexer_spark.sources.fixtures import load_table
from azuredatalakeindexer_spark.sources.profile_index import (
    build_profile_index,
    query_profile_index,
)
from azuredatalakeindexer_spark.sources.profile_segments import (
    compact_profile_index,
    delete_from_profile_index_segmented,
    upsert_profile_index_segmented,
)
from azuredatalakeindexer_spark.sources.text_index import (
    build_text_index,
    query_text_index,
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


def test_text_index_segmented_maintenance_smoke(spark, tmp_path):
    docs = load_table(spark, SF_DIR, "documents").select("doc_id", "text")
    base, delta, dead, logical = _split(
        docs,
        ["doc_id", F.concat(F.lit("merge stream "), F.col("text")).alias("text")],
    )
    path = str(tmp_path / "ti")
    build_text_index(base, path, n_buckets=16)

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

    want = rows(bm25_topk(logical, TERMS, k=20))
    assert want
    assert rows(query_text_index(spark, path, TERMS, k=20, n_buckets=16)) == want
    assert compact_text_index(spark, path, n_buckets=16) == 2
    assert list_segments(spark, path) == []
    assert rows(query_text_index(spark, path, TERMS, k=20, n_buckets=16)) == want
    assert spark.read.parquet(f"{path}/stats").first()["n_docs"] == n_live


def test_profile_index_segmented_maintenance_smoke(spark, tmp_path):
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
    layout = dict(field_cols=["text", "source"], attr_cols=["n_chars"], n_buckets=16)
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
        return [tuple(r) for r in
                query_profile_index(spark, p, PROFILE, boost=boost, k=20).collect()]

    want = rows(fresh)
    assert want
    assert rows(path) == want
    assert compact_profile_index(spark, path) == 2
    assert rows(path) == want
