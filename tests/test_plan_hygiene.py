"""Repo-wide plan hygiene: NO query may plan a CartesianProduct, and
BroadcastNestedLoopJoin is allowed only where it is the documented design
(a crossJoin of a single-row statistics frame).

This is the standing guarantee behind SCALE.md: candidate generation and
joins are always equi-keyed at any scale; a regression that sneaks an
all-pairs plan into any of the ~120 registered queries fails here.
"""

from __future__ import annotations

import pytest

import __spark_entry__ as entrymod

#: BroadcastNestedLoopJoin is the *intended* physical strategy here: the
#: broadcast side is a single-row statistics frame, the stream side scans once
BNLJ_ALLOWED = {
    "run_metrics",         # crossJoin of three SINGLE-ROW aggregate frames
    "events_gapfill",      # crossJoin of a SINGLE-ROW bounds frame (grid seed)
    "value_histogram",     # crossJoin of the SINGLE-ROW global-bounds frame
    "tfidf_top_terms",     # crossJoin of the SINGLE-ROW corpus-size N frame
    "temperature_mix",     # crossJoin of the SINGLE-ROW weight-sum frame
    "search_bm25",         # crossJoin of the SINGLE-ROW corpus-stats frame
    "search_fuzzy",        # same bm25 SINGLE-ROW stats frame (expansion is
                           # an equi-shaped vocabulary job at plan-build)
    "search_wildcard",     # same bm25 SINGLE-ROW stats frame + expansion job
    "search_phrase",       # same SINGLE-ROW corpus-stats frame
    "search_near",         # same SINGLE-ROW corpus-stats frame
    "search_near_unordered",  # same SINGLE-ROW corpus-stats frame
    "search_profile",      # same SINGLE-ROW per-field corpus-stats frame
    "search_profile_tags", # same SINGLE-ROW per-field corpus-stats frame
    "search_simple_query", # same bm25 SINGLE-ROW stats frame
    "search_synonyms",     # same bm25 SINGLE-ROW stats frame
    "lm_scores",           # crossJoin of the SINGLE-ROW vocab-size frame
}

#: queries that RUN work at plan-build time (streaming drains, temp lakes) —
#: plan shape is covered by their own tests; skip to keep this test fast
SKIP = {
    "stream_upsert_events",
    "stream_deleted_index",
    "stream_exact_dedup",
    "stream_curated_dedup",
    "stream_text_index",
    "stream_text_index_lsm",
    "text_index_topk",       # builds the temp index at plan-build time
    "text_index_filtered_topk",
    "text_index_upsert_topk",
    "text_index_delete_topk",
    "text_index_lsm_topk",
    "text_index_phrase_topk",
    "text_index_near_topk",      # builds the temp positional index at plan-build time
    "text_index_near_unordered",
    "text_index_suggest",
    "text_index_suggest_maint",
    "text_index_fuzzy",      # builds the temp index at plan-build time
    "text_index_wildcard",   # builds the temp index at plan-build time
    "text_index_fuzzy_lsm",  # builds the temp index at plan-build time
    "bpe_train",          # iterative: runs vocabulary jobs while building
    "bpe_encode",         # collects the learned merges at plan-build time
    "stream_sessionize",
    "stream_windowed_counts",
    "stream_view_click_join",
    "stream_join_left_outer",
    "indexer_run",
    "indexer_run_metrics",
    "partitioned_runs",
    "partitioned_counts",
    "dedup_clusters",      # iterative: runs jobs while building
    "cluster_canonical",   # same iterative connected-components upstream
    "train_corpus",
    "batch_packing_greedy",
    "rebuild_batches",
}


@pytest.mark.parametrize("name", sorted(set(entrymod.queries()) - SKIP))
def test_no_allpairs_plans(spark, name):
    df = entrymod.queries()[name](spark, "/root/testdata/sf0.001")
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan, f"{name} plans a cartesian product"
    if name not in BNLJ_ALLOWED:
        assert "BroadcastNestedLoopJoin" not in plan, (
            f"{name} plans a BroadcastNestedLoopJoin outside the whitelist"
        )


def test_new_sampling_quant_plan_shapes(spark):
    """Scale pins for the sampling operators: sharding shuffles once on the
    shard key (plus at most the fixture-parallelism repartition), and
    temperature_mix joins its broadcast rate table with a BroadcastHashJoin
    — the corpus side never sort-merge-shuffles."""
    sf = "/root/testdata/sf0.001"
    qs = entrymod.queries()

    plan = qs["shuffle_shards"](spark, sf)._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Exchange") <= 2
    assert "hashpartitioning(shard" in plan

    plan = qs["temperature_mix"](spark, sf)._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan
