"""Multi-field persisted index (sources/profile_index.py): index-served
scoring profiles must be bit-identical to the scan-time
operators.search.scoring_profile_topk on the indexed corpus."""

from __future__ import annotations

import pyspark.sql.functions as F
import pytest

from azuredatalakeindexer_spark.operators.search import scoring_profile_topk
from azuredatalakeindexer_spark.sources.fixtures import load_table
from azuredatalakeindexer_spark.sources.profile_index import (
    build_profile_index,
    query_profile_index,
)

SF = "/root/testdata/sf0.001"
PROFILE = {"text": (["merge", "query", "stream"], 2.0), "source": (["src1"], 1.0)}


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


def test_profile_index_matches_scan_time_plain(spark, tmp_path):
    docs = _docs(spark)
    path = str(tmp_path / "pidx")
    build_profile_index(
        docs, path, field_cols=["text", "source"], attr_cols=["n_chars", "source"]
    )
    served = query_profile_index(spark, path, PROFILE, k=20)
    scan = scoring_profile_topk(docs, PROFILE, k=20)
    assert _rows(served) == _rows(scan)


def test_profile_index_matches_scan_time_with_boosts(spark, tmp_path):
    docs = _docs(spark)
    path = str(tmp_path / "pidx")
    build_profile_index(
        docs, path, field_cols=["text", "source"], attr_cols=["n_chars", "source"]
    )
    boost = ("n_chars", 0.5, 200.0, 800.0)
    tag = ("source", ["src1", "src3", "src5"], 0.3)
    served = query_profile_index(spark, path, PROFILE, boost=boost, tag_boost=tag, k=20)
    scan = scoring_profile_topk(docs, PROFILE, boost=boost, tag_boost=tag, k=20)
    assert _rows(served) == _rows(scan)
    # single-field profile against the same index too
    p1 = {"text": (["merge", "stream"], 1.5)}
    assert _rows(
        query_profile_index(spark, path, p1, boost=boost, k=10)
    ) == _rows(scoring_profile_topk(docs, p1, boost=boost, k=10))


def test_profile_index_validates_fields_and_attrs(spark, tmp_path):
    docs = _docs(spark)
    path = str(tmp_path / "pidx")
    build_profile_index(docs, path, field_cols=["text"], attr_cols=["n_chars"])
    with pytest.raises(ValueError, match="not indexed"):
        query_profile_index(spark, path, {"source": (["src1"], 1.0)})
    with pytest.raises(ValueError, match="not persisted"):
        query_profile_index(
            spark,
            path,
            {"text": (["merge"], 1.0)},
            tag_boost=("source", ["src1"], 0.3),
        )


def test_profile_index_prunes_buckets(spark, tmp_path):
    """The postings scan must touch only the query terms' bucket
    directories — static partition pruning, the index's point."""
    docs = _docs(spark)
    path = str(tmp_path / "pidx")
    build_profile_index(docs, path, field_cols=["text", "source"], n_buckets=16)
    out = query_profile_index(spark, path, {"text": (["merge"], 1.0)}, k=5)
    assert out.count() > 0
    from azuredatalakeindexer_spark.sources.text_index import _py_bucket

    # inputFiles() ignores pruning — assert the scan's PartitionFilters
    # pin the single bucket AND the term IN-list is pushed
    import re

    want = _py_bucket("merge", 16)
    plan = out._jdf.queryExecution().executedPlan().toString()
    m = re.search(r"PartitionFilters: \[[^\]]*bucket[^\]]*\]", plan)
    assert m and str(want) in m.group(0), plan
    assert re.search(r"PushedFilters: \[[^\]]*(In|EqualTo)\(term", plan), plan


def test_facets_over_match_set(spark, tmp_path):
    """facets_from_index == scan-time facet_counts restricted to the
    matching documents — the service's facet semantics (facets are
    computed on the filtered match set, never the whole corpus)."""
    from azuredatalakeindexer_spark.operators.search import facet_counts
    from azuredatalakeindexer_spark.functions.text import tokens
    from azuredatalakeindexer_spark.sources.profile_index import (
        facets_from_index,
    )

    docs = load_table(spark, SF, "documents").select(
        "doc_id", "text", "source", "lang", "n_chars"
    )
    path = str(tmp_path / "pidx")
    build_profile_index(
        docs,
        path,
        field_cols=["text", "source"],
        attr_cols=["lang", "source", "n_chars"],
    )
    terms = ["merge", "stream"]
    query = {"text": terms, "source": ["src1"]}
    got = facets_from_index(spark, path, query, ["lang", "source"], top_n=5)

    hit = F.arrays_overlap(
        tokens(F.col("text")), F.array(*[F.lit(t) for t in terms])
    ) | F.arrays_overlap(tokens(F.col("source")), F.array(F.lit("src1")))
    expected = facet_counts(docs.where(hit), ["lang", "source"], top_n=5)
    assert sorted(map(tuple, got.collect())) == sorted(
        map(tuple, expected.collect())
    )
    # the profile (terms, weight) shape is accepted too
    got2 = facets_from_index(
        spark, path, {"text": (terms, 2.0), "source": (["src1"], 1.0)},
        ["lang", "source"], top_n=5,
    )
    assert sorted(map(tuple, got2.collect())) == sorted(
        map(tuple, expected.collect())
    )
    with pytest.raises(ValueError, match="not persisted"):
        facets_from_index(spark, path, query, ["missing_col"])


def test_profile_upsert_matches_fresh_rebuild(spark, tmp_path):
    """After a MergeOrUpload upsert, the served profile must equal a
    fresh build over (base \\ replaced) ∪ delta, before and after
    compaction — and statuses report 201/200 from the doclens side."""
    from azuredatalakeindexer_spark.sources.profile_segments import (
        compact_profile_index,
        upsert_profile_index_segmented,
    )

    docs = _docs(spark)
    path = str(tmp_path / "pidx")
    build_profile_index(
        docs, path, field_cols=["text", "source"], attr_cols=["n_chars", "source"]
    )
    delta = docs.where(F.col("doc_id") % 4 == 0).select(
        "doc_id",
        F.concat(F.lit("merge body rewritten "), F.col("text")).alias("text"),
        F.lit("src1").alias("source"),
        (F.col("n_chars") + 10).alias("n_chars"),
    ).unionByName(
        spark.createDataFrame(
            [(99999, "merge stream fresh doc", "src9", 400)],
            "doc_id long, text string, source string, n_chars long",
        )
    )
    st = {r["doc_id"]: r["status"] for r in
          upsert_profile_index_segmented(spark, path, delta).collect()}
    assert st[99999] == 201
    assert all(v == 200 for k, v in st.items() if k != 99999)

    logical = docs.join(delta.select("doc_id"), "doc_id", "left_anti").unionByName(delta)
    path2 = str(tmp_path / "fresh")
    build_profile_index(
        logical, path2, field_cols=["text", "source"], attr_cols=["n_chars", "source"]
    )
    boost = ("n_chars", 0.5, 200.0, 800.0)
    got = _rows(query_profile_index(spark, path, PROFILE, boost=boost, k=20))
    want = _rows(query_profile_index(spark, path2, PROFILE, boost=boost, k=20))
    assert got == want
    # and equals the scan-time profile on the logical corpus
    assert got == _rows(scoring_profile_topk(logical, PROFILE, boost=boost, k=20))
    assert compact_profile_index(spark, path) == 1
    assert _rows(query_profile_index(spark, path, PROFILE, boost=boost, k=20)) == want


def test_profile_delete_matches_fresh_rebuild(spark, tmp_path):
    from azuredatalakeindexer_spark.sources.profile_index import facets_from_index
    from azuredatalakeindexer_spark.sources.profile_segments import (
        delete_from_profile_index_segmented,
    )

    docs = _docs(spark)
    path = str(tmp_path / "pidx")
    build_profile_index(
        docs, path, field_cols=["text", "source"], attr_cols=["n_chars", "source"]
    )
    dead = docs.select("doc_id").where(F.col("doc_id") % 3 == 0)
    n = delete_from_profile_index_segmented(spark, path, dead)
    assert n == docs.where(F.col("doc_id") % 3 == 0).count()
    # idempotent redelivery
    assert delete_from_profile_index_segmented(spark, path, dead) == 0

    survivors = docs.join(dead, "doc_id", "left_anti")
    got = _rows(query_profile_index(spark, path, PROFILE, k=20))
    assert got == _rows(scoring_profile_topk(survivors, PROFILE, k=20))
    # facets see the survivors' match set only
    from azuredatalakeindexer_spark.operators.search import facet_counts
    from azuredatalakeindexer_spark.functions.text import tokens as _tok

    hit = F.arrays_overlap(
        _tok(F.col("text")), F.array(F.lit("merge"), F.lit("query"), F.lit("stream"))
    )
    assert sorted(
        map(tuple, facets_from_index(spark, path, {"text": PROFILE["text"]},
                                     ["source"]).collect())
    ) == sorted(
        map(tuple, facet_counts(survivors.where(hit), ["source"]).collect())
    )


def test_profile_delete_all_leaves_readable_sentinels(spark, tmp_path):
    from azuredatalakeindexer_spark.sources.profile_segments import (
        compact_profile_index,
        delete_from_profile_index_segmented,
    )

    docs = _docs(spark).limit(10)
    path = str(tmp_path / "pidx")
    build_profile_index(
        docs, path, field_cols=["text"], attr_cols=["n_chars"]
    )
    n = delete_from_profile_index_segmented(spark, path, docs.select("doc_id"))
    assert n == 10
    assert compact_profile_index(spark, path) == 1
    assert spark.read.parquet(f"{path}/doclens").count() == 0
    assert spark.read.parquet(f"{path}/docvals").count() == 0
    assert spark.read.parquet(f"{path}/postings").count() == 0
    assert query_profile_index(
        spark, path, {"text": (["merge"], 1.0)}, k=5
    ).count() == 0


def test_profile_filtered_query_keeps_global_stats(spark, tmp_path):
    """$filter + profile (r10): the filter restricts which docs can be
    RETURNED, but per-field BM25 stats stay index-global — the filtered
    result equals (unfiltered scoring) ∩ (filter set) re-cut to top-k,
    NOT a profile over the filtered sub-corpus.  Holds with LSM segments
    pending and on the shuffled-fallback path; facets narrow the match
    set the same way."""
    from azuredatalakeindexer_spark.operators.search import facet_counts
    from azuredatalakeindexer_spark.sources.profile_index import (
        facets_from_index,
    )
    from azuredatalakeindexer_spark.sources.profile_segments import (
        upsert_profile_index_segmented,
    )

    docs = _docs(spark)
    path = str(tmp_path / "pidx")
    build_profile_index(
        docs, path, field_cols=["text", "source"], attr_cols=["n_chars", "source"],
        n_buckets=16,
    )
    allowed = docs.where(
        (F.col("n_chars") >= 300) & (F.col("n_chars") < 700)
    ).select("doc_id")

    def expected(logical, k=20):
        full = scoring_profile_topk(logical, PROFILE, k=10**6)
        ok = {r["doc_id"] for r in allowed.collect()}
        rows = [tuple(r) for r in full.collect() if r["doc_id"] in ok]
        return rows[:k]

    got = _rows(
        query_profile_index(spark, path, PROFILE, k=20, filter_ids=allowed)
    )
    assert got == expected(docs)
    # NOT a sub-corpus profile (stats would differ)
    sub = _rows(
        scoring_profile_topk(docs.join(allowed, "doc_id", "left_semi"),
                             PROFILE, k=20)
    )
    assert got != sub
    # shuffled fallback is bit-identical
    assert got == _rows(
        query_profile_index(
            spark, path, PROFILE, k=20, filter_ids=allowed,
            broadcast_filter=False,
        )
    )

    # filtered facets = facets over (match ∩ filter)
    from azuredatalakeindexer_spark.functions.text import tokens as _tok

    hit = F.arrays_overlap(
        _tok(F.col("text")),
        F.array(F.lit("merge"), F.lit("query"), F.lit("stream")),
    )
    assert sorted(
        map(
            tuple,
            facets_from_index(
                spark, path, {"text": PROFILE["text"]}, ["source"],
                filter_ids=allowed,
            ).collect(),
        )
    ) == sorted(
        map(
            tuple,
            facet_counts(
                docs.where(hit).join(allowed, "doc_id", "left_semi"),
                ["source"],
            ).collect(),
        )
    )

    # with LSM segments pending, the filter applies to the LIVE corpus
    delta = docs.where(F.col("doc_id") % 5 == 0).select(
        "doc_id",
        F.concat(F.lit("merge filtered seg "), F.col("text")).alias("text"),
        F.lit("src1").alias("source"),
        (F.col("n_chars") + 1).alias("n_chars"),
    )
    upsert_profile_index_segmented(spark, path, delta)
    logical = docs.join(delta.select("doc_id"), "doc_id", "left_anti").unionByName(delta)
    got = _rows(
        query_profile_index(spark, path, PROFILE, k=20, filter_ids=allowed)
    )
    assert got == expected(logical)


def test_profile_synonyms_matches_scan_time_expansion(spark, tmp_path):
    """Synonym expansion composed with the field-weighted profile (r11 —
    VERDICT r10 missing-#1a): the index-served result must be
    bit-identical to the scan-time scoring_profile_topk over the
    per-field expanded profile."""
    from azuredatalakeindexer_spark.operators.search import expand_query_terms
    from azuredatalakeindexer_spark.sources.profile_index import (
        synonyms_profile_from_index,
    )

    docs = _docs(spark)
    path = str(tmp_path / "pidx")
    build_profile_index(
        docs, path, field_cols=["text", "source"], attr_cols=["n_chars", "source"]
    )
    syn = spark.createDataFrame(
        [("merge", "join"), ("query", "scan"), ("unused", "noise")],
        "term string, synonym string",
    )
    profile = {"text": (["merge", "query"], 2.0), "source": (["src1"], 1.0)}
    served = synonyms_profile_from_index(spark, path, profile, syn, k=20)
    expanded = {
        fld: (expand_query_terms(terms, syn), w)
        for fld, (terms, w) in profile.items()
    }
    scan = scoring_profile_topk(docs, expanded, k=20)
    assert _rows(served) == _rows(scan)
    # boosts compose through the expansion unchanged
    boost = ("n_chars", 0.5, 200.0, 800.0)
    assert _rows(
        synonyms_profile_from_index(spark, path, profile, syn, boost=boost, k=10)
    ) == _rows(scoring_profile_topk(docs, expanded, boost=boost, k=10))


def test_profile_simple_query_matches_scan_time_composition(spark, tmp_path):
    """+term / -term composed with the field-weighted profile (r11 —
    VERDICT r10 missing-#1b): positives rank through every weighted
    field with index-global stats; +stream requires the term in at least
    one searched field, -scan excludes docs carrying it in any — the
    served top-k must equal the scan-time profile re-cut to the allowed
    id set."""
    from azuredatalakeindexer_spark.functions.text import tokens
    from azuredatalakeindexer_spark.sources.profile_index import (
        simple_query_profile_from_index,
    )

    docs = _docs(spark)
    path = str(tmp_path / "pidx")
    build_profile_index(
        docs, path, field_cols=["text", "source"], attr_cols=["n_chars", "source"]
    )
    weights = {"text": 2.0, "source": 1.0}
    served = simple_query_profile_from_index(
        spark, path, "merge query +stream -scan", weights, k=20
    )
    # scan-time composition: full profile ranking over the positives,
    # re-cut to docs with 'stream' in either field and without 'scan'
    positives = ["merge", "query", "stream"]
    profile = {f: (positives, w) for f, w in weights.items()}
    n = docs.count()
    full = scoring_profile_topk(docs, profile, k=n)
    tw = tokens(F.col("text"))
    sw = tokens(F.col("source"))
    allowed = docs.where(
        (F.array_contains(tw, "stream") | F.array_contains(sw, "stream"))
        & ~(F.array_contains(tw, "scan") | F.array_contains(sw, "scan"))
    ).select("doc_id")
    scan = (
        full.join(allowed, "doc_id", "left_semi")
        .orderBy(F.col("score").desc(), F.col("doc_id"))
        .limit(20)
    )
    assert _rows(served) == _rows(scan)
    assert len(_rows(served)) > 0


def test_profile_simple_query_exclusion_only_and_phrase_refusal(spark, tmp_path):
    from azuredatalakeindexer_spark.functions.text import tokens
    from azuredatalakeindexer_spark.sources.profile_index import (
        simple_query_profile_from_index,
    )

    docs = _docs(spark)
    path = str(tmp_path / "pidx")
    build_profile_index(
        docs, path, field_cols=["text", "source"], attr_cols=["n_chars"]
    )
    weights = {"text": 1.0}
    served = simple_query_profile_from_index(
        spark, path, "merge -stream", weights, k=15
    )
    profile = {"text": (["merge"], 1.0)}
    full = scoring_profile_topk(docs, profile, k=docs.count())
    tw = tokens(F.col("text"))
    allowed = docs.where(~F.array_contains(tw, "stream")).select("doc_id")
    scan = (
        full.join(allowed, "doc_id", "left_semi")
        .orderBy(F.col("score").desc(), F.col("doc_id"))
        .limit(15)
    )
    assert _rows(served) == _rows(scan)
    with pytest.raises(ValueError, match="docstore"):
        simple_query_profile_from_index(
            spark, path, 'merge "fast scan"', weights, k=5
        )
    with pytest.raises(ValueError, match="positive term"):
        simple_query_profile_from_index(spark, path, "-stream", weights, k=5)


def test_profile_simple_query_on_segmented_index(spark, tmp_path):
    """The composed surface must serve identically through the LSM tier:
    upsert a replacement batch as a segment, then +/- filters must see
    the LIVE versions (a doc whose replacement drops 'stream' must stop
    matching +stream; one that gains 'scan' must become excluded)."""
    from azuredatalakeindexer_spark.functions.text import tokens
    from azuredatalakeindexer_spark.sources.profile_index import (
        simple_query_profile_from_index,
    )
    from azuredatalakeindexer_spark.sources.profile_segments import (
        upsert_profile_index_segmented,
    )

    docs = _docs(spark)
    path = str(tmp_path / "pidx")
    build_profile_index(
        docs, path, field_cols=["text", "source"], attr_cols=["n_chars", "source"]
    )
    delta = docs.where(F.col("doc_id") < 8).select(
        "doc_id",
        F.when(F.col("doc_id") < 4, F.lit("merge merge scan"))
        .otherwise(F.lit("stream stream query"))
        .alias("text"),
        F.lit("src1").alias("source"),
        (F.col("n_chars") + 10).alias("n_chars"),
    )
    upsert_profile_index_segmented(spark, path, delta)
    weights = {"text": 2.0, "source": 1.0}
    served = simple_query_profile_from_index(
        spark, path, "merge query +stream -scan", weights, k=20
    )
    logical = docs.where(F.col("doc_id") >= 8).unionByName(delta)
    positives = ["merge", "query", "stream"]
    profile = {f: (positives, w) for f, w in weights.items()}
    full = scoring_profile_topk(logical, profile, k=logical.count())
    tw = tokens(F.col("text"))
    sw = tokens(F.col("source"))
    allowed = logical.where(
        (F.array_contains(tw, "stream") | F.array_contains(sw, "stream"))
        & ~(F.array_contains(tw, "scan") | F.array_contains(sw, "scan"))
    ).select("doc_id")
    scan = (
        full.join(allowed, "doc_id", "left_semi")
        .orderBy(F.col("score").desc(), F.col("doc_id"))
        .limit(20)
    )
    assert _rows(served) == _rows(scan)


def _phrase_scan_expected(docs, query, weights, k):
    """Scan-time replay of the simple-query dialect incl. phrases over the
    weighted fields — ground truth for the index-served composition."""
    from azuredatalakeindexer_spark.functions.text import tokens
    from azuredatalakeindexer_spark.operators.search import parse_simple_query

    opt, req, exc, rp, xp = parse_simple_query(query)
    positives = sorted(set(opt) | set(req))
    profile = {f: (positives, w) for f, w in weights.items()}
    full = scoring_profile_topk(docs, profile, k=docs.count())
    tw, sw = tokens(F.col("text")), tokens(F.col("source"))
    lt, ls = F.lower(F.col("text")), F.lower(F.col("source"))
    allowed = docs
    for t in req:
        allowed = allowed.where(F.array_contains(tw, t) | F.array_contains(sw, t))
    for t in exc:
        allowed = allowed.where(
            ~(F.array_contains(tw, t) | F.array_contains(sw, t))
        )
    for p in rp:
        allowed = allowed.where((F.instr(lt, p) > 0) | (F.instr(ls, p) > 0))
    for p in xp:
        allowed = allowed.where((F.instr(lt, p) == 0) & (F.instr(ls, p) == 0))
    return (
        full.join(allowed.select("doc_id"), "doc_id", "left_semi")
        .orderBy(F.col("score").desc(), F.col("doc_id"))
        .limit(k)
    )


def test_profile_phrase_through_full_maintenance_lifecycle(spark, tmp_path):
    """Phrase predicates on the profile surface (r12 — VERDICT r11
    missing-#1) through the maintenance lifecycle: served results must
    equal the scan-time replay after build(store_fields=True), an upsert
    (replacements + inserts), a delete, a second upsert (LWW docstore
    resolution across base + pending segments), and must be bit-identical
    before/after compaction folds the segments."""
    from azuredatalakeindexer_spark.sources.profile_index import (
        simple_query_profile_from_index,
    )
    from azuredatalakeindexer_spark.sources.profile_segments import (
        compact_profile_index,
        delete_from_profile_index_segmented,
        upsert_profile_index_segmented,
    )

    docs = _docs(spark)
    path = str(tmp_path / "pidx")
    query = 'merge value +"fast scan" -"merge stream"'
    weights = {"text": 2.0, "source": 1.0}
    a = docs.where(F.col("doc_id") % 2 == 0)
    build_profile_index(
        a,
        path,
        field_cols=["text", "source"],
        attr_cols=["n_chars"],
        store_fields=True,
    )
    served = simple_query_profile_from_index(spark, path, query, weights, k=15)
    assert _rows(served) == _rows(_phrase_scan_expected(a, query, weights, 15))
    assert len(_rows(served)) > 0

    # upsert: replace some docs' text (phrase membership must track the
    # segment's docstore) and insert odd docs
    delta = docs.where(F.col("doc_id") % 4 == 1).unionByName(
        a.where(F.col("doc_id") % 8 == 0).select(
            "doc_id",
            F.concat(F.lit("fast scan rewrite "), F.col("text")).alias("text"),
            F.lit("src1").alias("source"),
            "n_chars",
        )
    )
    upsert_profile_index_segmented(spark, path, delta)
    logical = (
        a.join(delta.select("doc_id"), "doc_id", "left_anti").unionByName(delta)
    )
    served = simple_query_profile_from_index(spark, path, query, weights, k=15)
    assert _rows(served) == _rows(
        _phrase_scan_expected(logical, query, weights, 15)
    )

    # tombstone delete
    dead = logical.where(F.col("doc_id") % 16 == 0).select("doc_id")
    delete_from_profile_index_segmented(spark, path, dead)
    logical = logical.join(dead, "doc_id", "left_anti")
    served = simple_query_profile_from_index(spark, path, query, weights, k=15)
    assert _rows(served) == _rows(
        _phrase_scan_expected(logical, query, weights, 15)
    )

    # second upsert: replacements whose NEW text flips phrase membership
    # both ways, resolved LWW across base + pending segments
    seg = docs.where(F.col("doc_id") % 4 == 3).select(
        "doc_id",
        F.when(F.col("doc_id") % 8 == 3, F.lit("fast scan merge value"))
        .otherwise(F.lit("merge stream value"))
        .alias("text"),
        F.lit("src2").alias("source"),
        "n_chars",
    )
    upsert_profile_index_segmented(spark, path, seg)
    logical = (
        logical.join(seg.select("doc_id"), "doc_id", "left_anti").unionByName(seg)
    )
    served = simple_query_profile_from_index(spark, path, query, weights, k=15)
    pre = _rows(served)
    assert pre == _rows(_phrase_scan_expected(logical, query, weights, 15))

    # compaction folds the docstore: results bit-identical
    assert compact_profile_index(spark, path) == 3
    assert (
        _rows(simple_query_profile_from_index(spark, path, query, weights, k=15))
        == pre
    )


def test_profile_highlight_served_and_segmented(spark, tmp_path):
    """Index-served highlight on the profile surface (r12 stretch-#7):
    the served (id, score, hit_pos, snippet) page must equal the
    scan-time profile ranking joined to keyword-snippet expressions —
    and a segmented index must serve each winner's LIVE (max-segment)
    text, bit-identically after compaction folds it."""
    from azuredatalakeindexer_spark.sources.profile_index import (
        highlight_profile_from_index,
    )
    from azuredatalakeindexer_spark.sources.profile_segments import (
        compact_profile_index,
        upsert_profile_index_segmented,
    )

    docs = _docs(spark)
    path = str(tmp_path / "pidx")
    profile = {"text": (["merge", "query", "stream"], 2.0), "source": (["src1"], 1.0)}

    def expected(corpus, k=20):
        full = scoring_profile_topk(corpus, profile, k=k)
        pos = F.instr(F.lower(F.col("text")), "merge")
        start = F.greatest(F.lit(1), pos - F.lit(20))
        snip = F.substring(F.col("text"), start, F.lit(45))
        return sorted(
            tuple(r)
            for r in full.join(corpus.select("doc_id", "text"), "doc_id")
            .select(
                "doc_id",
                F.col("score"),
                F.when(pos > 0, pos).otherwise(F.lit(0)).alias("hit_pos"),
                F.when(pos > 0, snip).alias("snippet"),
            )
            .collect()
        )

    build_profile_index(
        docs,
        path,
        field_cols=["text", "source"],
        attr_cols=["n_chars"],
        store_fields=True,
    )
    got = sorted(
        tuple(r)
        for r in highlight_profile_from_index(
            spark, path, profile, "merge", k=20, radius=20
        ).collect()
    )
    assert got == expected(docs)
    assert any(r[2] > 0 for r in got)  # at least one real hit highlighted

    # segmented: replacements rewrite winners' texts in a pending segment;
    # the served snippet must come from the LIVE version
    delta = docs.where(F.col("doc_id") % 5 == 0).select(
        "doc_id",
        F.concat(F.lit("merge rewritten body "), F.col("text")).alias("text"),
        F.lit("src1").alias("source"),
        "n_chars",
    )
    upsert_profile_index_segmented(spark, path, delta)
    logical = docs.join(delta.select("doc_id"), "doc_id", "left_anti").unionByName(
        delta.select("doc_id", "text", "source", "n_chars")
    )
    got_seg = sorted(
        tuple(r)
        for r in highlight_profile_from_index(
            spark, path, profile, "merge", k=20, radius=20
        ).collect()
    )
    assert got_seg == expected(logical)
    compact_profile_index(spark, path)
    got_compacted = sorted(
        tuple(r)
        for r in highlight_profile_from_index(
            spark, path, profile, "merge", k=20, radius=20
        ).collect()
    )
    assert got_compacted == got_seg

    # no docstore → loud refusal, same contract as the text surface
    bare = str(tmp_path / "bare")
    build_profile_index(docs, bare, field_cols=["text"], attr_cols=[])
    with pytest.raises(ValueError, match="no docstore"):
        highlight_profile_from_index(spark, bare, {"text": (["merge"], 1.0)}, k=5)


def _docstore_scan_lines(plan: str) -> list[str]:
    # the Location path is truncated in toString() — identify docstore
    # scans by their ReadSchema (the only relation with a text column)
    return [
        ln
        for ln in plan.split("\n")
        if "FileScan" in ln and "text:string" in ln
    ]


def test_profile_phrase_serving_is_candidate_sized(spark, tmp_path):
    """Phrase predicates must never scan the whole docstore (r13 — closes
    the r12 perf `weak`): with positive terms present, the base docstore
    FileScan must carry a dbucket PartitionFilter derived from the
    candidates' id-hash buckets, the LSM segments' docstore files read
    must be exactly those candidates' dbucket directories (segments are
    pruned at path-selection time by the one multi-path segment read), and
    the candidate restriction must appear as a semi-join."""
    import re

    from azuredatalakeindexer_spark.sources.profile_index import (
        simple_query_profile_from_index,
    )
    from azuredatalakeindexer_spark.sources.profile_segments import (
        upsert_profile_index_segmented,
    )

    docs = _docs(spark)
    path = str(tmp_path / "pidx")
    query = 'value +"fast scan" -"merge stream"'
    weights = {"text": 2.0, "source": 1.0}
    build_profile_index(
        docs.where(F.col("doc_id") % 2 == 0),
        path,
        field_cols=["text", "source"],
        attr_cols=["n_chars"],
        n_buckets=16,
        store_fields=True,
    )
    served = simple_query_profile_from_index(spark, path, query, weights, k=10)
    plan = served._jdf.queryExecution().executedPlan().toString()
    scans = _docstore_scan_lines(plan)
    assert scans, plan  # the phrase path must read the docstore
    for ln in scans:
        assert re.search(
            r"PartitionFilters: \[[^\]]*dbucket[^\]]*(?:IN|=)", ln
        ), ln
    assert "LeftSemi" in plan, plan

    # segmented: the base docstore scan keeps its PartitionFilter, and
    # the segment docstore scan reads only the candidates' dbuckets.  Two
    # odd docs carry a phrase no other doc has, so the candidates' dbuckets
    # are a strict subset of the segment's docstore directories and an
    # unpruned segment read is visible in the files the plan scans.
    marked = [1, 3]
    upsert_profile_index_segmented(
        spark,
        path,
        docs.where(F.col("doc_id") % 2 == 1).withColumn(
            "text",
            F.when(
                F.col("doc_id").isin(marked),
                F.concat(F.col("text"), F.lit(" zebra quux")),
            ).otherwise(F.col("text")),
        ),
    )
    served = simple_query_profile_from_index(
        spark, path, 'zebra +"zebra quux"', weights, k=10
    )
    assert sorted(r["doc_id"] for r in served.collect()) == marked
    plan = served._jdf.queryExecution().executedPlan().toString()
    scans = _docstore_scan_lines(plan)
    assert len(scans) >= 2, plan  # base + the segments' one scan
    assert any(
        re.search(r"PartitionFilters: \[[^\]]*dbucket[^\]]*(?:IN|=)", ln)
        for ln in scans
    ), plan
    wanted = {
        r["b"]
        for r in docs.where(F.col("doc_id").isin(marked))
        .select(F.pmod(F.hash("doc_id"), F.lit(16)).alias("b"))
        .collect()
    }
    on_disk = {
        int(d.name.split("=")[1])
        for d in (tmp_path / "pidx" / "segments").glob("seg=*/docstore/dbucket=*")
    }
    assert wanted < on_disk, (wanted, on_disk)
    seg_files = [
        f for f in served.inputFiles() if "/docstore/" in f and "/seg=" in f
    ]
    assert seg_files
    read = set()
    for f in seg_files:
        m = re.search(r"/dbucket=([0-9]+)/", f)
        assert m, f
        read.add(int(m.group(1)))
    assert read == wanted, (read, wanted)


def _near_allowed(docs, t1, t2, slop, fields):
    """Scan-time ordered-NEAR allowed set over the given fields: an
    ordered (p1 < p2 <= p1+slop+1) position pair in >=1 field."""
    cond = None
    for fld in fields:
        pos = (
            f"filter(transform({fld}_toks, (x, i) -> "
            f"CASE WHEN x = '{{t}}' THEN i + 1 END), x -> x IS NOT NULL)"
        )
        here = F.expr(
            f"exists({pos.format(t=t1)}, p1 -> "
            f"exists({pos.format(t=t2)}, p2 -> "
            f"p2 > p1 AND p2 <= p1 + {slop + 1}))"
        )
        cond = here if cond is None else (cond | here)
    return docs.where(cond).select("doc_id")


def test_profile_near_through_maintenance_lifecycle(spark, tmp_path):
    """NEAR composed with the field-weighted profile (r13 — VERDICT r12
    stretch-#8) through the maintenance lifecycle: served results must
    equal the scan-time replay (profile ranking over both terms re-cut to
    the ordered position-pair allowed set) after build(positions=True),
    an upsert (positions regenerated for the batch, preserved for the
    rest), and a delete — ordered and unordered."""
    from azuredatalakeindexer_spark.functions.text import tokens
    from azuredatalakeindexer_spark.sources.profile_index import (
        near_profile_from_index,
    )
    from azuredatalakeindexer_spark.sources.profile_segments import (
        delete_from_profile_index_segmented,
        upsert_profile_index_segmented,
    )

    docs = _docs(spark)
    path = str(tmp_path / "pidx")
    weights = {"text": 2.0, "source": 1.0}
    terms = ["merge", "stream"]

    def expected(logical, k=15):
        toks = logical.select(
            "doc_id",
            tokens(F.col("text")).alias("text_toks"),
            tokens(F.col("source")).alias("source_toks"),
        )
        allowed = _near_allowed(toks, "merge", "stream", 2, ["text", "source"])
        profile = {f: (terms, w) for f, w in weights.items()}
        full = scoring_profile_topk(logical, profile, k=logical.count())
        return (
            full.join(allowed, "doc_id", "left_semi")
            .orderBy(F.col("score").desc(), F.col("doc_id"))
            .limit(k)
        )

    a = docs.where(F.col("doc_id") % 3 != 0)
    build_profile_index(
        a,
        path,
        field_cols=["text", "source"],
        attr_cols=["n_chars"],
        n_buckets=16,
        positions=True,
    )
    served = near_profile_from_index(
        spark, path, "merge", "stream", weights, slop=2, ordered=True, k=15
    )
    assert _rows(served) == _rows(expected(a))
    assert len(_rows(served)) > 0

    upsert_profile_index_segmented(spark, path, docs.where(F.col("doc_id") % 3 == 0))
    served = near_profile_from_index(
        spark, path, "merge", "stream", weights, slop=2, ordered=True, k=15
    )
    assert _rows(served) == _rows(expected(docs))

    delete_from_profile_index_segmented(
        spark, path, docs.where(F.col("doc_id") % 7 == 0).select("doc_id")
    )
    logical = docs.where(F.col("doc_id") % 7 != 0)
    served = near_profile_from_index(
        spark, path, "merge", "stream", weights, slop=2, ordered=True, k=15
    )
    assert _rows(served) == _rows(expected(logical))

    # unordered variant: either-direction pairs widen the allowed set
    served_u = near_profile_from_index(
        spark, path, "stream", "merge", weights, slop=2, ordered=False, k=15
    )
    toks = logical.select(
        "doc_id",
        tokens(F.col("text")).alias("text_toks"),
        tokens(F.col("source")).alias("source_toks"),
    )
    cond = None
    for fld in ["text", "source"]:
        pos = (
            f"filter(transform({fld}_toks, (x, i) -> "
            "CASE WHEN x = '{t}' THEN i + 1 END), x -> x IS NOT NULL)"
        )
        here = F.expr(
            f"exists({pos.format(t='stream')}, p1 -> "
            f"exists({pos.format(t='merge')}, p2 -> "
            "p2 != p1 AND abs(p2 - p1) <= 3))"
        )
        cond = here if cond is None else (cond | here)
    allowed_u = toks.where(cond).select("doc_id")
    profile = {f: (terms, w) for f, w in weights.items()}
    full = scoring_profile_topk(logical, profile, k=logical.count())
    exp_u = (
        full.join(allowed_u, "doc_id", "left_semi")
        .orderBy(F.col("score").desc(), F.col("doc_id"))
        .limit(15)
    )
    assert _rows(served_u) == _rows(exp_u)


def test_profile_near_positions_through_lsm_tier(spark, tmp_path):
    """Positions ride the SEGMENTED (LSM) maintenance path too (r13):
    NEAR and positional-phrase serving must see the live corpus across
    base + pending segments (doc-level LWW over positional rows — a
    replacement's new positions win, a tombstone removes the doc), and
    compaction must fold the live position lists back into the base
    bit-identically.  NEAR still refuses a non-positional index."""
    from azuredatalakeindexer_spark.functions.text import tokens
    from azuredatalakeindexer_spark.sources.profile_index import (
        near_profile_from_index,
        simple_query_profile_from_index,
    )
    from azuredatalakeindexer_spark.sources.profile_segments import (
        compact_profile_index,
        delete_from_profile_index_segmented,
        upsert_profile_index_segmented,
    )

    docs = _docs(spark)
    path = str(tmp_path / "pos")
    weights = {"text": 2.0, "source": 1.0}
    build_profile_index(
        docs.where(F.col("doc_id") % 3 != 0),
        path,
        field_cols=["text", "source"],
        attr_cols=["n_chars"],
        n_buckets=16,
        positions=True,
    )
    # segment 1: insert the remaining third (fresh positional postings)
    upsert_profile_index_segmented(
        spark, path, docs.where(F.col("doc_id") % 3 == 0)
    )
    # segment 2: tombstone-delete some docs
    n = delete_from_profile_index_segmented(
        spark, path, docs.where(F.col("doc_id") % 7 == 0).select("doc_id")
    )
    assert n > 0
    logical = docs.where(F.col("doc_id") % 7 != 0)

    def expected_near(k=15):
        toks = logical.select(
            "doc_id",
            tokens(F.col("text")).alias("text_toks"),
            tokens(F.col("source")).alias("source_toks"),
        )
        allowed = _near_allowed(toks, "merge", "stream", 2, ["text", "source"])
        profile = {f: (["merge", "stream"], w) for f, w in weights.items()}
        full = scoring_profile_topk(logical, profile, k=logical.count())
        return (
            full.join(allowed, "doc_id", "left_semi")
            .orderBy(F.col("score").desc(), F.col("doc_id"))
            .limit(k)
        )

    served = near_profile_from_index(
        spark, path, "merge", "stream", weights, slop=2, ordered=True, k=15
    )
    want = _rows(expected_near())
    assert _rows(served) == want
    assert len(want) > 0

    # positional phrase predicates across the same pending segments
    got_phrase = _rows(
        simple_query_profile_from_index(
            spark,
            path,
            'merge value +"scan stream"',
            weights,
            k=15,
            phrase_mode="positions",
        )
    )

    def adj(w, a, b):
        return F.expr(
            f"exists(filter(transform({w}, (x, i) -> "
            f"CASE WHEN x = '{a}' THEN i + 1 END), x -> x IS NOT NULL), "
            f"p -> coalesce(try_element_at({w}, p + 1) = '{b}', false))"
        )

    toks = logical.select(
        "doc_id",
        tokens(F.col("text")).alias("tw"),
        tokens(F.col("source")).alias("sw"),
    )
    allowed_p = toks.where(
        adj("tw", "scan", "stream") | adj("sw", "scan", "stream")
    ).select("doc_id")
    profile_p = {f: (["merge", "value"], w) for f, w in weights.items()}
    full_p = scoring_profile_topk(logical, profile_p, k=logical.count())
    exp_phrase = _rows(
        full_p.join(allowed_p, "doc_id", "left_semi")
        .orderBy(F.col("score").desc(), F.col("doc_id"))
        .limit(15)
    )
    assert got_phrase == exp_phrase

    # compaction folds the live position lists back into the base
    assert compact_profile_index(spark, path) >= 2
    assert "pos" in spark.read.parquet(f"{path}/postings").columns
    served2 = near_profile_from_index(
        spark, path, "merge", "stream", weights, slop=2, ordered=True, k=15
    )
    assert _rows(served2) == want

    bare = str(tmp_path / "bare")
    build_profile_index(docs, bare, field_cols=["text"], n_buckets=16)
    with pytest.raises(ValueError, match="positions=True"):
        near_profile_from_index(spark, bare, "merge", "stream", {"text": 1.0})


def test_profile_phrase_positions_mode(spark, tmp_path):
    """phrase_mode='positions' (r13 — the r12 weak's '(c)' path): phrase
    predicates served from POSITIONAL postings with Lucene PhraseQuery
    token-adjacency semantics — results must equal the scan-time
    adjacency replay, the plan must never read a docstore, positions
    survive an upsert, and a non-positional index refuses."""
    from azuredatalakeindexer_spark.functions.text import tokens
    from azuredatalakeindexer_spark.sources.profile_index import (
        simple_query_profile_from_index,
    )
    from azuredatalakeindexer_spark.sources.profile_segments import (
        upsert_profile_index_segmented,
    )

    docs = _docs(spark)
    path = str(tmp_path / "pidx")
    weights = {"text": 2.0, "source": 1.0}
    query = 'merge value +"scan stream" -"merge stream"'
    build_profile_index(
        docs.where(F.col("doc_id") % 3 != 0),
        path,
        field_cols=["text", "source"],
        attr_cols=["n_chars"],
        n_buckets=16,
        positions=True,
    )
    upsert_profile_index_segmented(spark, path, docs.where(F.col("doc_id") % 3 == 0))

    served = simple_query_profile_from_index(
        spark, path, query, weights, k=15, phrase_mode="positions"
    )

    def adj(w, a, b):
        # coalesce: element_at past the array end is NULL, and
        # exists(... NULL ...) is NULL, which where() treats as false
        # for the row — OR'd with another field that would wrongly
        # exclude the doc
        return F.expr(
            f"exists(filter(transform({w}, (x, i) -> "
            f"CASE WHEN x = '{a}' THEN i + 1 END), x -> x IS NOT NULL), "
            f"p -> coalesce(try_element_at({w}, p + 1) = '{b}', false))"
        )

    tt = docs.select(
        "doc_id",
        tokens(F.col("text")).alias("tw"),
        tokens(F.col("source")).alias("sw"),
    )
    req = adj("tw", "scan", "stream") | adj("sw", "scan", "stream")
    exc = adj("tw", "merge", "stream") | adj("sw", "merge", "stream")
    allowed = tt.where(req & ~exc).select("doc_id")
    profile = {f: (["merge", "value"], w) for f, w in weights.items()}
    full = scoring_profile_topk(docs, profile, k=docs.count())
    exp = (
        full.join(allowed, "doc_id", "left_semi")
        .orderBy(F.col("score").desc(), F.col("doc_id"))
        .limit(15)
    )
    assert _rows(served) == _rows(exp)
    assert len(_rows(served)) > 0

    # the positions plan never touches a docstore (no text-column scan)
    plan = served._jdf.queryExecution().executedPlan().toString()
    assert not _docstore_scan_lines(plan), plan

    # stored vs positions are DIFFERENT, documented semantics: substring
    # match can cross token boundaries (e.g. "an str" inside "scan
    # stream"), token adjacency cannot
    path2 = str(tmp_path / "pidx2")
    build_profile_index(
        docs,
        path2,
        field_cols=["text", "source"],
        attr_cols=["n_chars"],
        n_buckets=16,
        positions=True,
        store_fields=True,
    )
    sub = simple_query_profile_from_index(
        spark, path2, 'merge +"an str"', weights, k=5, phrase_mode="stored"
    )
    tok = simple_query_profile_from_index(
        spark, path2, 'merge +"an str"', weights, k=5, phrase_mode="positions"
    )
    assert len(_rows(sub)) > 0      # substring hits inside "scan stream"
    assert len(_rows(tok)) == 0     # no token is "an" followed by "str"

    bare = str(tmp_path / "bare")
    build_profile_index(docs, bare, field_cols=["text"], n_buckets=16)
    with pytest.raises(ValueError, match="positions=True"):
        simple_query_profile_from_index(
            spark, bare, 'merge +"scan stream"', {"text": 1.0},
            phrase_mode="positions",
        )
    with pytest.raises(ValueError, match="phrase_mode"):
        simple_query_profile_from_index(
            spark, bare, 'merge +"scan stream"', {"text": 1.0},
            phrase_mode="fuzzy",
        )


# ---------------------------------------------------------------------------
# r14: suggest / fuzzy / wildcard composed with the multi-field surface
# (VERDICT r13 stretch-#7 — the last three text-surface query types).


def _vocab_pairs_scan(docs, fields):
    """Scan-time (field, term, doc_id) distinct pairs — the expectation
    the index-served vocabulary slice must reproduce."""
    parts = [
        docs.select(
            F.lit(f).alias("field"),
            F.explode(
                F.filter(F.split(F.lower(F.col(f)), r"\s+"), lambda x: x != "")
            ).alias("term"),
            F.col("doc_id"),
        )
        for f in fields
    ]
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out.distinct()


def test_profile_suggest_unsegmented_matches_scan(spark, tmp_path):
    from azuredatalakeindexer_spark.sources.profile_index import (
        suggest_profile_from_index,
    )

    docs = _docs(spark)
    path = str(tmp_path / "psg")
    build_profile_index(docs, path, field_cols=["text", "source"], n_buckets=16)
    served = suggest_profile_from_index(spark, path, "st", fields=["text"], k=10)
    expected = (
        _vocab_pairs_scan(docs, ["text"])
        .where(F.col("term").startswith("st"))
        .groupBy("term")
        .agg(F.countDistinct("doc_id").alias("df"))
        .orderBy(F.col("df").desc(), F.col("term"))
        .limit(10)
    )
    assert _rows(served) == _rows(expected)


def test_profile_suggest_segmented_recounts_exactly(spark, tmp_path):
    from azuredatalakeindexer_spark.sources.profile_index import (
        suggest_profile_from_index,
    )
    from azuredatalakeindexer_spark.sources.profile_segments import (
        upsert_profile_index_segmented,
    )

    docs = _docs(spark)
    path = str(tmp_path / "psgseg")
    build_profile_index(
        docs.where(F.col("doc_id") % 3 != 0),
        path,
        field_cols=["text", "source"],
        n_buckets=16,
    )
    upsert_profile_index_segmented(
        spark, path, docs.where(F.col("doc_id") % 3 == 0)
    ).count()
    # replace a slice of the base docs through a second segment so stale
    # base rows exist and LWW must drop them from the df counts
    delta = docs.where(F.col("doc_id") % 5 == 0).select(
        "doc_id",
        F.lit("replaced body").alias("text"),
        F.col("source"),
        F.col("n_chars"),
    )
    upsert_profile_index_segmented(spark, path, delta).count()
    logical = docs.where(F.col("doc_id") % 5 != 0).unionByName(delta)
    served = suggest_profile_from_index(
        spark, path, "s", fields=["text", "source"], k=15
    )
    expected = (
        _vocab_pairs_scan(logical, ["text", "source"])
        .where(F.col("term").startswith("s"))
        .groupBy("term")
        .agg(F.countDistinct("doc_id").alias("df"))
        .orderBy(F.col("df").desc(), F.col("term"))
        .limit(15)
    )
    assert _rows(served) == _rows(expected)


def _expected_expansions(docs, fields, keep_pred, dist_of, max_expansions=50):
    """Per-field expansion lists computed scan-time with the shared
    ordering (dist asc, df desc, term asc)."""
    vocab = (
        _vocab_pairs_scan(docs, fields)
        .groupBy("field", "term")
        .agg(F.countDistinct("doc_id").alias("df"))
        .collect()
    )
    out = {}
    for f in fields:
        cands = [
            (dist_of(r["term"]), -r["df"], r["term"])
            for r in vocab
            if r["field"] == f and keep_pred(r["term"])
        ]
        cands = [c for c in cands if c[0] is not None]
        cands.sort()
        out[f] = sorted({t for _d, _df, t in cands[:max_expansions]})
    return out


def _lev(a: str, b: str) -> int:
    prev = list(range(len(b) + 1))
    for i, ca in enumerate(a, 1):
        cur = [i]
        for j, cb in enumerate(b, 1):
            cur.append(min(prev[j] + 1, cur[j - 1] + 1, prev[j - 1] + (ca != cb)))
        prev = cur
    return prev[-1]


def test_profile_fuzzy_matches_scan_time_expansion(spark, tmp_path):
    from azuredatalakeindexer_spark.sources.profile_index import (
        fuzzy_profile_from_index,
    )

    docs = _docs(spark)
    path = str(tmp_path / "pfz")
    build_profile_index(docs, path, field_cols=["text", "source"], n_buckets=16)
    weights = {"text": 2.0, "source": 1.0}
    served = fuzzy_profile_from_index(
        spark, path, "merge", weights, max_edits=1, prefix_len=1, k=20
    )

    def dist_of(t):
        if not (len("merge") - 1 <= len(t) <= len("merge") + 1):
            return None
        if not t.startswith("m"):
            return None
        d = _lev(t, "merge")
        return d if d <= 1 else None

    exp = _expected_expansions(
        docs, ["text", "source"], lambda t: True, dist_of
    )
    profile = {f: (exp[f], w) for f, w in weights.items() if exp[f]}
    expected = scoring_profile_topk(docs, profile, k=20)
    assert _rows(served) == _rows(expected)


def test_profile_wildcard_matches_scan_time_expansion(spark, tmp_path):
    from azuredatalakeindexer_spark.sources.profile_index import (
        wildcard_profile_from_index,
    )

    docs = _docs(spark)
    path = str(tmp_path / "pwc")
    build_profile_index(docs, path, field_cols=["text", "source"], n_buckets=16)
    weights = {"text": 2.0, "source": 1.0}
    served = wildcard_profile_from_index(spark, path, "s?r*", weights, k=20)
    import fnmatch

    def keep(t):
        return (
            len(t) >= 3
            and t.startswith("s")
            and t[2:3] != ""
            and fnmatch.fnmatchcase(t, "s?r*")
        )

    exp = _expected_expansions(
        docs, ["text", "source"], keep, lambda t: 0
    )
    profile = {f: (exp[f], w) for f, w in weights.items() if exp[f]}
    expected = scoring_profile_topk(docs, profile, k=20)
    assert _rows(served) == _rows(expected)


def test_profile_fuzzy_no_expansion_is_empty(spark, tmp_path):
    from azuredatalakeindexer_spark.sources.profile_index import (
        fuzzy_profile_from_index,
    )

    docs = _docs(spark)
    path = str(tmp_path / "pfz0")
    build_profile_index(docs, path, field_cols=["text"], n_buckets=16)
    out = fuzzy_profile_from_index(
        spark, path, "zzzzzzqqq", {"text": 1.0}, max_edits=1, k=5
    )
    assert out.columns == ["doc_id", "score"]
    assert _rows(out) == []


def test_profile_suggest_pushes_prefix_into_postings_scan(spark, tmp_path):
    from azuredatalakeindexer_spark.sources.profile_index import (
        suggest_profile_from_index,
    )

    docs = _docs(spark)
    path = str(tmp_path / "psgp")
    build_profile_index(docs, path, field_cols=["text", "source"], n_buckets=16)
    plan = (
        suggest_profile_from_index(spark, path, "mer", fields=["text"], k=5)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    # the prefix predicate must reach the postings FileScan, not run
    # post-scan only: vocabulary-slice cost depends on it
    assert "StartsWith(term,mer)" in plan
