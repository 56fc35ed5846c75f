"""Generate PLANS.md: formatted physical plans of the headline queries with
the scale-relevant fragments highlighted (PushedFilters, join strategies,
exchange counts).  Run: python tools/audit_plans.py [sf_dir]"""

from __future__ import annotations

import re
import sys

sys.path.insert(0, "/root/repo")

import __spark_entry__ as entrymod
from azuredatalakeindexer_spark.session import get_spark

AUDIT = [
    ("list_changed_paths", "flagship path query — every predicate pushed to the scan"),
    ("upsert_merge", "MERGE = broadcast anti-join + union, one key partitioning"),
    ("dedup_last_writer", "W1 window after a single hash shuffle by key"),
    ("top_customers", "dim join broadcast, exact decimal revenue, top-k"),
    ("dedup_minhash_lsh", "banded buckets, zero joins, pair explosion in-bucket"),
    ("ngram_jaccard", "inverted-index buckets with df cap, zero joins"),
    ("embedding_topk", "brute-force baseline: corpus never shuffled for scoring"),
    ("ann_lsh_topk", "bucketed ANN: broadcast query buckets, equi-join"),
    ("train_corpus", "curation funnel: one scoring scan, dedup over survivors only"),
    ("hash_sample", "deterministic sample: narrow filter, zero shuffle"),
    ("decontam_report", "benchmark grams broadcast; corpus stream never self-shuffles"),
    ("token_budget_mix", "per-stratum window: one shuffle, O(1) running-sum state"),
    ("asof_last_error", "as-of join: union + carry-forward window, no inequality join"),
    ("salted_counts", "two-phase skew-proof agg: (key,salt) then (key) exchanges"),
    ("stratified_sample", "two-phase per-group top-n: mega-strata stay parallel"),
    ("span_dedup", "chunk-hash window + doc_id reassembly; broadcast-prefilter scale path"),
    ("temperature_mix", "tiny source agg broadcast back; corpus never shuffles"),
    ("shuffle_shards", "one shard-key shuffle; no global sort"),
    ("embedding_quantize", "zero-exchange narrow scan"),
    ("event_quantiles", "exact percentiles: single agg shuffle"),
    ("tfidf_top_terms", "tf-idf: df derived from the tf agg, scalar-N broadcast, AQE term join"),
    ("profile_orders", "one Expand aggregate for all columns — single scan, no Union"),
    ("weighted_sample", "ES weighted draw: two-phase top-k, mega-strata stay parallel"),
    ("value_histogram", "single-row bounds broadcast, one aggregate shuffle"),
    ("approx_event_quantiles", "mergeable GK sketch: map-side partials, one agg shuffle"),
    ("embedding_near_dup", "sign buckets → bounded clique/star pairs → id-join rescore"),
    ("ann_lsh_mt_topk", "multi-table OR-amplified LSH: dedup candidates, broadcast rescore"),
    ("ann_ivf_topk", "IVF default ANN: broadcast centroids, cell equi-join probe"),
    ("fuzzy_decontam", "bipartite train×bench banding: broadcast bench side, exact rescore"),
    ("events_range_join", "binned range join: bin equi-join, no BNLJ/cartesian"),
    ("classifier_scores", "hash-trick classifier: broadcast dim-row model, one doc shuffle"),
    ("ann_index_topk", "saved IVF index: statically partition-pruned cell probe"),
    ("search_phrase", "exact phrase: slice-equality count, pure array expr, 1-row stats broadcast"),
    ("search_near", "ordered proximity: nested HOF pair count, no explode/positional shuffle"),
    ("search_fuzzy", "fuzzy BM25: concrete expansion resolved at plan-build, then the standard 1-row-stats bm25 scan"),
    ("search_wildcard", "wildcard BM25: LIKE-expanded concrete terms, same bm25 scan shape"),
]


def _suggest_df(spark, sf):
    """Steady-state index-served autocomplete: the scan set must be ONLY
    the vocabulary-sized <index>/terms rollup (term-range-partitioned and
    sorted, so the pushed StartsWith prunes files + row groups) — no
    postings, doclens, or corpus files."""
    import tempfile

    from azuredatalakeindexer_spark.sources.fixtures import load_table
    from azuredatalakeindexer_spark.sources.text_index import (
        build_text_index,
        suggest_from_index,
    )

    root = tempfile.mkdtemp(prefix="audit_sugg_")
    docs = load_table(spark, sf, "documents").select("doc_id", "text")
    build_text_index(docs, root, n_buckets=64)
    return suggest_from_index(spark, root, "s", k=10)


def _near_index_df(spark, sf):
    """Index-served NEAR: static bucket PartitionFilters + pushed term IN
    on the positional postings; pair count is a per-doc array aggregate;
    stats/df are 1-row broadcasts; top-k is TakeOrderedAndProject."""
    import tempfile

    from azuredatalakeindexer_spark.sources.fixtures import load_table
    from azuredatalakeindexer_spark.sources.text_index import (
        build_text_index,
        query_near_index,
    )

    root = tempfile.mkdtemp(prefix="audit_near_")
    docs = load_table(spark, sf, "documents").select("doc_id", "text")
    build_text_index(docs, root, n_buckets=64, positions=True)
    return query_near_index(spark, root, "merge", "stream", slop=2, k=20, n_buckets=64)


def _fuzzy_expansion_df(spark, sf):
    """Steady-state fuzzy term enumeration: like the suggester, the scan
    set must be ONLY the vocabulary-sized <index>/terms rollup — the
    length-band + prefix guard and the levenshtein filter are narrow
    projections over it; postings and corpus never appear."""
    import tempfile

    from azuredatalakeindexer_spark.sources.fixtures import load_table
    from azuredatalakeindexer_spark.sources.text_index import (
        build_text_index,
        fuzzy_from_index,
    )

    root = tempfile.mkdtemp(prefix="audit_fuzz_")
    docs = load_table(spark, sf, "documents").select("doc_id", "text")
    build_text_index(docs, root, n_buckets=64)
    return fuzzy_from_index(spark, root, "quary", max_edits=2, prefix_len=1)


def _pq_index_df(spark, sf):
    """IVF-PQ serving: the ADC phase must scan ONLY the probed cells'
    CODES partitions (static PartitionFilters from the literal probe
    IN-list), the per-query LUT and probe maps ride broadcasts, and the
    exact rescore touches only the probed cells' raw postings for the
    shortlist ids."""
    import tempfile

    from azuredatalakeindexer_spark.sources.ann_index import (
        build_pq_index,
        query_pq_index,
    )
    from azuredatalakeindexer_spark.sources.fixtures import load_table

    root = tempfile.mkdtemp(prefix="audit_pq_")
    emb = load_table(spark, sf, "embeddings").select("vec_id", "embedding")
    build_pq_index(emb, root, n_centroids=8, m=4, k_pq=16)
    return query_pq_index(
        spark, root, emb.limit(3), k=5, n_probe=2, shortlist=20, m=4
    )


def _profile_index_df(spark, sf):
    """Multi-field profile serving: postings scan statically pruned to the
    query terms' buckets with the term IN-list pushed; doclens/docvals
    join only the candidate ids; per-field stats ride literals (collected
    f-row relation); top-k is TakeOrderedAndProject."""
    import tempfile

    from azuredatalakeindexer_spark.sources.fixtures import load_table
    from azuredatalakeindexer_spark.sources.profile_index import (
        build_profile_index,
        query_profile_index,
    )

    root = tempfile.mkdtemp(prefix="audit_prof_")
    docs = load_table(spark, sf, "documents").select(
        "doc_id", "text", "source", "n_chars"
    )
    build_profile_index(
        docs, root, field_cols=["text", "source"],
        attr_cols=["n_chars", "source"], n_buckets=64,
    )
    return query_profile_index(
        spark, root,
        {"text": (["merge", "query", "stream"], 2.0), "source": (["src1"], 1.0)},
        boost=("n_chars", 0.5, 200.0, 800.0), k=20,
    )


def _highlight_df(spark, sf):
    """Docstore-served highlight: after the (separately audited) top-k,
    the text fetch must scan ONLY the k ids' docstore dbucket partitions
    with the id IN-list pushed — candidate-sized, never the corpus."""
    import tempfile

    from azuredatalakeindexer_spark.sources.fixtures import load_table
    from azuredatalakeindexer_spark.sources.text_index import (
        build_text_index,
        highlight_from_index,
    )

    root = tempfile.mkdtemp(prefix="audit_hl_")
    docs = load_table(spark, sf, "documents").select("doc_id", "text")
    build_text_index(docs, root, n_buckets=64, store_text=True)
    return highlight_from_index(
        spark, root, ["merge", "query", "stream"], "merge", k=20, n_buckets=64
    )


def _facets_df(spark, sf):
    """Match-set facets: match ids from the bucket-pruned multi-field
    postings, facet values from the persisted docvals — one hash
    aggregate over the facet-value key space; the corpus never appears."""
    import tempfile

    from azuredatalakeindexer_spark.sources.fixtures import load_table
    from azuredatalakeindexer_spark.sources.profile_index import (
        build_profile_index,
        facets_from_index,
    )

    root = tempfile.mkdtemp(prefix="audit_fcts_")
    docs = load_table(spark, sf, "documents").select(
        "doc_id", "text", "source", "lang", "n_chars"
    )
    build_profile_index(
        docs, root, field_cols=["text", "source"],
        attr_cols=["lang", "source", "n_chars"], n_buckets=64,
    )
    return facets_from_index(
        spark, root, {"text": ["merge", "query", "stream"], "source": ["src1"]},
        ["lang", "source"], top_n=5,
    )


def _filtered_ivf_df(spark, sf):
    """Filtered saved-index vector query: the id→cell directory pre-prunes
    the probed cells (PartitionFilters shrink to probes ∩ filter-cells)
    and the allowed-id semi-join rides a broadcast."""
    import tempfile

    import pyspark.sql.functions as F

    from azuredatalakeindexer_spark.sources.ann_index import (
        build_ivf_index,
        query_ivf_index,
    )
    from azuredatalakeindexer_spark.sources.fixtures import load_table

    root = tempfile.mkdtemp(prefix="audit_fivf_")
    emb = load_table(spark, sf, "embeddings")
    build_ivf_index(emb.select("vec_id", "embedding"), root, n_centroids=16)
    allowed = emb.where(F.col("label") % 2 == 1).select("vec_id")
    return query_ivf_index(
        spark, root, emb.where(F.col("vec_id") < 5), k=5, n_probe=2,
        filter_ids=allowed,
    )


def _simple_query_df(spark, sf):
    """Index-served simple-query syntax (r10): positives' BM25 read is
    bucket-pruned; required/excluded terms are candidate-sized joins on
    their own pruned slices; the phrase predicate is an instr over the
    docstore texts joined to the allowed set."""
    import tempfile

    from azuredatalakeindexer_spark.sources.fixtures import load_table
    from azuredatalakeindexer_spark.sources.text_index import (
        build_text_index,
        simple_query_from_index,
    )

    root = tempfile.mkdtemp(prefix="audit_sqs_")
    docs = load_table(spark, sf, "documents").select("doc_id", "text")
    build_text_index(docs, root, n_buckets=64, store_text=True)
    return simple_query_from_index(
        spark, root, 'merge query +stream -"slow scan" "data table"', k=20
    )


def _profile_phrase_df(spark, sf):
    """Profile-surface phrase serving (r13 — the r12 `weak` fix): the
    docstore read must be dbucket-pruned to the positive terms'
    candidate id-hash buckets and semi-joined to the candidate set —
    never a whole-store scan or a doc-count-sized groupBy."""
    import tempfile

    from azuredatalakeindexer_spark.sources.fixtures import load_table
    from azuredatalakeindexer_spark.sources.profile_index import (
        build_profile_index,
        simple_query_profile_from_index,
    )

    root = tempfile.mkdtemp(prefix="audit_pphr_")
    docs = load_table(spark, sf, "documents").select(
        "doc_id", "text", "source", "n_chars"
    )
    build_profile_index(
        docs,
        root,
        field_cols=["text", "source"],
        attr_cols=["n_chars"],
        n_buckets=64,
        store_fields=True,
    )
    return simple_query_profile_from_index(
        spark,
        root,
        'merge value +"scan stream" -"merge stream"',
        {"text": 2.0, "source": 1.0},
        k=20,
    )


#: plan audits that need a persisted index built first (the registered
#: queries() wrappers return a _persisted read whose plan is just the
#: result scan; these audit the SERVING plan itself)
CUSTOM = [
    (
        "text_index_suggest (serving plan)",
        "autocomplete from the persisted terms rollup — scan set is ONLY <index>/terms",
        _suggest_df,
    ),
    (
        "text_index_near_topk (serving plan)",
        "index-served NEAR: bucket-pruned positional postings, 1-row stats broadcasts",
        _near_index_df,
    ),
    (
        "text_index_fuzzy (expansion plan)",
        "fuzzy enumeration from the persisted terms rollup — scan set is ONLY <index>/terms",
        _fuzzy_expansion_df,
    ),
    (
        "ann_pq_index_topk (serving plan)",
        "IVF-PQ serving: statically cell-pruned codes scan for ADC, broadcast LUT, shortlist-only rescore",
        _pq_index_df,
    ),
    (
        "text_index_profile_topk (serving plan)",
        "multi-field profile: bucket-pruned postings + pushed term IN, candidate-only doclens/docvals joins",
        _profile_index_df,
    ),
    (
        "text_index_highlight_topk (fetch plan)",
        "docstore fetch-by-id: k ids' dbucket partitions + pushed id IN — never a corpus scan",
        _highlight_df,
    ),
    (
        "search_with_facets (serving plan)",
        "match-set facets from pruned postings + docvals; one facet-cardinality aggregate",
        _facets_df,
    ),
    (
        "ann_filtered_index_topk (serving plan)",
        "directory pre-pruned probe cells + broadcast allowed-id semi-join",
        _filtered_ivf_df,
    ),
    (
        "text_index_simple_query (serving plan)",
        "index-served simple-query: pruned BM25 read, candidate-sized filter joins, docstore instr for phrases",
        _simple_query_df,
    ),
    (
        "text_index_profile_phrase (serving plan)",
        "candidate-sized phrase pass: dbucket-pruned docstore semi-joined to the positives' candidates, per-phrase semi/anti id sets",
        _profile_phrase_df,
    ),
]


def main() -> None:
    sf = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    spark = get_spark("plan-audit")
    spark.sparkContext.setLogLevel("ERROR")
    qs = entrymod.queries()
    from tools.treehash import plan_source_fingerprint

    out = [
        "# PLANS — physical-plan audit of headline queries",
        "",
        f"Generated by `tools/audit_plans.py` at {sf}. For each query: the",
        "join strategies and exchanges Catalyst chose, then the formatted plan.",
        "",
        # freshness gate (VERDICT r13 next-#3): tests/test_totals.py
        # recomputes this fingerprint — a package/entry commit after the
        # regen fails the suite instead of shipping a stale audit
        f"Source-tree fingerprint: `{plan_source_fingerprint()}`",
        "",
    ]
    audits = [(n, note, lambda s, d, _n=n: qs[_n](s, d)) for n, note in AUDIT]
    audits += [(n, note, fn) for n, note, fn in CUSTOM]
    for name, note, make_df in audits:
        df = make_df(spark, sf)
        qe = df._jdf.queryExecution()
        plan = qe.executedPlan().toString()
        joins = sorted(set(re.findall(
            r"BroadcastHashJoin|SortMergeJoin|ShuffledHashJoin|CartesianProduct|BroadcastNestedLoopJoin",
            plan,
        )))
        exch = len(re.findall(r"Exchange (hash|range)partitioning", plan))
        pushed = re.findall(r"PushedFilters: \[[^\]]{0,120}", plan)
        out.append(f"## {name}")
        out.append("")
        out.append(f"*{note}*")
        out.append("")
        out.append(f"- joins: {joins or 'none'}; shuffles: {exch}")
        if pushed:
            out.append(f"- {pushed[0]}…")
        if "(serving plan)" in name:
            # which index relations does the scan set actually touch?
            rels = sorted(
                {
                    m.group(1)
                    for f in df.inputFiles()
                    for m in [re.search(r"audit_[a-z]+_[^/]+/([a-z]+)", f)]
                    if m
                }
            )
            out.append(f"- scanned index relations: {rels}")
        out.append("")
        out.append("```")
        formatted = qe.explainString(
            spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
        )
        # keep the operator tree, drop the verbose per-node details
        tree = formatted.split("\n\n")[0]
        out.append(tree)
        out.append("```")
        out.append("")
    with open("/root/repo/PLANS.md", "w") as fh:
        fh.write("\n".join(out))
    print("wrote PLANS.md")
    spark.stop()


if __name__ == "__main__":
    main()
