"""Property-based tests (hypothesis) for the engine's algebraic invariants.

Spark jobs are too slow for per-example execution, so each property draws a
batch of examples and runs ONE Spark job over the whole batch.
"""

from __future__ import annotations

import base64

import pyspark.sql.functions as F
from hypothesis import HealthCheck, given, settings, strategies as st

from azuredatalakeindexer_spark.functions.keys import (
    path_key,
    url_decode_path,
    url_encode_path,
)
from azuredatalakeindexer_spark.operators.batching import plan_batches
from azuredatalakeindexer_spark.operators.upsert import dedup_last_writer

LAKE_CHARS = "abcdefghijklmnopqrstuvwxyz0123456789_./-"
lake_path = st.text(alphabet=LAKE_CHARS, min_size=1, max_size=80).filter(
    lambda s: "%" not in s
)


@settings(max_examples=30, deadline=None, suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(st.lists(lake_path, min_size=1, max_size=30, unique=True))
def test_url_roundtrip_and_key_parity(spark, paths):
    """url_decode(url_encode(p)) == p and path_key == C#/stdlib base64, for
    arbitrary lake-charset paths."""
    df = spark.createDataFrame([(p,) for p in paths], "path string")
    out = df.select(
        "path",
        url_decode_path(url_encode_path(F.col("path"))).alias("rt"),
        path_key(F.lit("fs"), url_encode_path(F.col("path"))).alias("key"),
    ).collect()
    for r in out:
        assert r["rt"] == r["path"]
        expected = base64.b64encode(
            ("fs%2f" + r["path"].replace("/", "%2f")).encode()
        ).decode()
        assert r["key"] == expected


@settings(max_examples=10, deadline=None, suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(
    st.lists(st.integers(min_value=1, max_value=5000), min_size=1, max_size=60),
    st.integers(min_value=1, max_value=10),
    st.integers(min_value=1000, max_value=20000),
)
def test_batch_packing_invariants(spark, sizes, max_count, max_bytes):
    """Packing never drops documents, respects the count cap, and assigns
    monotonically non-decreasing batch ids in document order."""
    rows = [(i, s) for i, s in enumerate(sizes)]
    df = spark.createDataFrame(rows, "doc_id long, sz long")
    out = plan_batches(
        df, F.col("sz"), "doc_id", max_batch_bytes=max_bytes, max_batch_count=max_count
    ).collect()
    assert len(out) == len(sizes)          # packing never drops documents
    per_batch: dict[int, int] = {}
    by_doc = sorted(out, key=lambda r: r["doc_id"])
    prev = 0
    for r in by_doc:
        per_batch[r["batch_id"]] = per_batch.get(r["batch_id"], 0) + 1
        assert r["batch_id"] >= prev       # monotone in document order
        prev = r["batch_id"]
    assert by_doc[0]["batch_id"] == 0
    assert all(n <= max_count for n in per_batch.values())


@settings(max_examples=15, deadline=None, suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(
    st.lists(
        st.tuples(
            st.sampled_from(["k1", "k2", "k3"]),
            st.integers(min_value=0, max_value=100),
            st.integers(min_value=0, max_value=10**6),
        ),
        min_size=1,
        max_size=40,
    )
)
def test_lww_dedup_is_split_invariant(spark, rows):
    """Merging a batch all at once == merging any two-way split of it
    (the foreachBatch invariant behind T1/T4)."""
    df = spark.createDataFrame(rows, "key string, ts long, seq long")

    def lww(frame):
        return dedup_last_writer(frame, ["key"], "ts", tiebreak_col="seq")

    whole = {(r["key"], r["ts"], r["seq"]) for r in lww(df).collect()}
    half1 = df.where(F.col("seq") % 2 == 0)
    half2 = df.where(F.col("seq") % 2 == 1)
    merged = lww(
        lww(half1).unionByName(lww(half2))
    )
    split = {(r["key"], r["ts"], r["seq"]) for r in merged.collect()}
    assert whole == split


@settings(max_examples=10, deadline=None, suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(
    st.lists(st.integers(min_value=0, max_value=10**6), min_size=1, max_size=80, unique=True),
    st.floats(min_value=0.05, max_value=0.45),
    st.floats(min_value=0.5, max_value=0.95),
)
def test_hash_sample_is_monotone_in_rate(spark, keys, lo, hi):
    """A lower-rate sample is a SUBSET of a higher-rate sample at the same
    seed (nested held-out splits), and both are pure key functions."""
    from azuredatalakeindexer_spark.operators.sampling import hash_sample

    df = spark.createDataFrame([(k,) for k in keys], "doc_id long")
    small = {r["doc_id"] for r in hash_sample(df, lo, seed=5).collect()}
    big = {r["doc_id"] for r in hash_sample(df, hi, seed=5).collect()}
    assert small <= big


@settings(max_examples=10, deadline=None, suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(
    st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=40), st.integers(min_value=0, max_value=40)
        ),
        min_size=1,
        max_size=60,
    )
)
def test_connected_components_edge_order_invariant(spark, edges):
    """Cluster labels are invariant under edge direction/duplication, and
    every vertex's label is the true min of its component (checked against
    a driver-side union-find)."""
    from azuredatalakeindexer_spark.operators.dedup import connected_components

    edges = [(a, b) for a, b in edges if a != b]
    if not edges:
        return
    df = spark.createDataFrame(edges + [(b, a) for a, b in edges], "id_a long, id_b long")
    got = {r["id"]: r["cluster_id"] for r in connected_components(df).collect()}

    parent: dict[int, int] = {}

    def find(x: int) -> int:
        while parent.setdefault(x, x) != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        parent[find(a)] = find(b)
    comps: dict[int, set[int]] = {}
    for v in parent:
        comps.setdefault(find(v), set()).add(v)
    expected = {v: min(members) for members in comps.values() for v in members}
    assert got == expected


@settings(max_examples=10, deadline=None, suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(
    st.sets(st.integers(min_value=0, max_value=10_000), min_size=1, max_size=60),
    st.integers(min_value=1, max_value=8),
)
def test_shuffle_shards_is_a_permutation_property(spark, ids, n_shards):
    """(shard, pos) is a bijection onto shards × dense ranks for ANY id set
    and shard count — no dropped, duplicated, or gapped positions."""
    from azuredatalakeindexer_spark.operators.sampling import shuffle_shards

    df = spark.createDataFrame([(i,) for i in ids], "doc_id long")
    out = shuffle_shards(df, n_shards=n_shards, seed=1).collect()
    assert len(out) == len(ids)
    assert {r["doc_id"] for r in out} == ids
    by_shard: dict = {}
    for r in out:
        assert 0 <= r["shard"] < n_shards
        by_shard.setdefault(r["shard"], []).append(r["pos"])
    for positions in by_shard.values():
        assert sorted(positions) == list(range(1, len(positions) + 1))


def _bm25_py(docs: dict[int, str], terms: list[str], k1=1.2, b=0.75):
    """Pure-Python BM25 reference (Lucene idf, same formula as bm25_topk)."""
    import math

    toks = {d: [w for w in t.lower().split() if w] for d, t in docs.items()}
    n = len(docs)
    avgdl = sum(len(v) for v in toks.values()) / n if n else 0.0
    if avgdl == 0:
        return {}          # token-free corpus: nothing can score
    out = {}
    for d, words in toks.items():
        s = 0.0
        for t in sorted(set(x.lower() for x in terms)):
            tf = words.count(t)
            df = sum(1 for w in toks.values() if t in w)
            idf = math.log(1.0 + (n - df + 0.5) / (df + 0.5))
            s += idf * tf * (k1 + 1.0) / (tf + k1 * (1.0 - b + b * len(words) / avgdl))
        if round(s, 6) > 0:
            out[d] = round(s, 6)
    return out


word = st.text(alphabet="abcdef", min_size=1, max_size=4)
doc_text = st.lists(word, min_size=0, max_size=12).map(" ".join)


@settings(max_examples=15, deadline=None, suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(
    st.lists(doc_text, min_size=2, max_size=10),
    st.lists(word, min_size=1, max_size=3),
)
def test_bm25_matches_python_reference(spark, texts, terms):
    """bm25_topk over arbitrary corpora/terms equals a pure-Python BM25
    (same Lucene formula), including zero-score exclusion and ranking."""
    from azuredatalakeindexer_spark.operators.search import bm25_topk

    docs = {i: t for i, t in enumerate(texts)}
    df = spark.createDataFrame(list(docs.items()), "doc_id long, text string")
    got = {r["doc_id"]: r["bm25"] for r in bm25_topk(df, terms, k=100).collect()}
    want = _bm25_py(docs, terms)
    assert set(got) == set(want)
    for d in want:
        assert abs(got[d] - want[d]) <= 2e-6, (d, got[d], want[d])
