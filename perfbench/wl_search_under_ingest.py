"""``search_under_ingest``: reads beside writes on one persisted text index
(closed loop, 1 client).

Setup builds the index (``build_text_index``) over a seeded Zipf corpus.
Each round then runs, in order: ``compact_text_index`` if 4 segments are
live, one ``upsert_text_index_segmented`` of ~1% of the docs (⅔ modified,
⅓ new), one ``delete_from_text_index_segmented`` of ~0.2%, and
``QUERIES_PER_ROUND`` top-10 ``query_text_index`` queries of 1-3 terms
alternating head and tail words.  A unit of work is ``ROUNDS_PER_UNIT``
rounds: its queries run against 2 and then 4 live segments.  Before the
set-ups, the round's ops run once on a miniature corpus to warm the JVM.

Checks (outside the timed ops): the upsert's 201/200 statuses and the
delete count equal the model's; one query per round equals
``operators.search.bm25_topk`` over the current logical corpus.
"""

from __future__ import annotations

import os
import shutil

import pyarrow as pa
import pyarrow.parquet as pq

import gen
from run import dir_bytes, median, p90

N_DOCS = 2000
#: queries alternate head and tail words, with 1, 2 | 3, 1 terms
QUERIES_PER_ROUND = 2
#: rounds timed as one unit, so each run has two write samples
ROUNDS_PER_UNIT = 2
COMPACT_AT = 4
SETUPS = 3
TOP_K = 10

CORPUS_ARROW = pa.schema([("doc_id", pa.int64()), ("text", pa.string())])


def _corpus_df(spark, docs: dict, directory: str):
    """Write ``docs`` as parquet (pyarrow) and read it back as a DataFrame."""
    ids = sorted(docs)
    os.makedirs(directory, exist_ok=True)
    pq.write_table(pa.table([ids, [docs[i] for i in ids]], schema=CORPUS_ARROW),
                   os.path.join(directory, "part-0.parquet"))
    return spark.read.parquet(directory)


def run(b) -> None:
    from azuredatalakeindexer_spark.operators.search import bm25_topk
    from azuredatalakeindexer_spark.sources.text_index import build_text_index, query_text_index
    from azuredatalakeindexer_spark.sources.text_segments import (
        compact_text_index,
        delete_from_text_index_segmented,
        upsert_text_index_segmented,
    )

    spark, tr = b.spark, b.tracer

    # warm-up: the round's ops once on a miniature corpus, so the set-ups
    # and the timed rounds run warm
    warm, tracing = b.path("warmup"), tr.enabled
    with tr.off():
        mini = gen.Corpus(b.seed, 200)
        build_text_index(_corpus_df(spark, mini.docs, b.path("warmup-corpus")), warm)
        r = mini.make_round(0, 3)
        upsert_text_index_segmented(spark, warm, spark.createDataFrame(r.upserts, "doc_id long, text string")).collect()
        delete_from_text_index_segmented(spark, warm, spark.createDataFrame([(d,) for d in r.deletes], "doc_id long"))
        # one query of each length: each length is its own plan, and a
        # plan's first run pays for its code generation
        for terms in r.queries:
            query_text_index(spark, warm, terms, k=TOP_K).collect()
        if tracing:
            # compaction feeds only a per-layer metric, so only a traced
            # run pays to warm it
            compact_text_index(spark, warm)

    setups, digests = [], set()
    for k in range(SETUPS):
        with b.measure(with_python=True) as m:
            corpus = gen.Corpus(b.seed, N_DOCS)
            index = b.path(f"index{k}")
            with tr.span("text_index.build_text_index") as s:
                build_text_index(_corpus_df(spark, corpus.docs, b.path(f"corpus{k}")), index)
        setups.append((m, s.get("dur_s", 0.0)))
        digests.add(gen.digest(sorted(corpus.docs.items())))
        if k < SETUPS - 1:
            shutil.rmtree(index)
    b.inputs_reproducible = len(digests) == 1
    corpus_bytes = sum(len(t.encode()) + 8 for t in corpus.docs.values())
    space_amp = dir_bytes(index) / corpus_bytes

    def query(terms):
        return [(row["doc_id"], row["bm25"]) for row in
                query_text_index(spark, index, terms, k=TOP_K).collect()]

    queries, ups, dels, compacts, written = [], [], [], [], 0
    q_noseg, q_seg, q_jobs, live_at_q, up_jobs, up_amp = [], [], [], [], [], []

    def compact(op: int) -> None:
        b.attempted += 1
        with b.measure() as m, tr.span("segments.compact_text_index", op=op):
            compact_text_index(spark, index)
        compacts.append(m)

    live = 0
    for unit in b.units():
        for rnd in range(unit * ROUNDS_PER_UNIT, (unit + 1) * ROUNDS_PER_UNIT):
            if live >= COMPACT_AT:
                compact(rnd)
                live = 0
            r = corpus.make_round(rnd, QUERIES_PER_ROUND)
            delta = spark.createDataFrame(r.upserts, "doc_id long, text string")
            ids = spark.createDataFrame([(d,) for d in r.deletes], "doc_id long")

            b.attempted += 1
            with b.measure() as m, tr.span("segments.upsert_text_index_segmented", op=rnd) as s:
                status = upsert_text_index_segmented(spark, index, delta).collect()
            ups.append(m)
            live += 1
            written += len(r.upserts)
            n_new = len(r.upserts) // 3
            got = sorted((row["doc_id"], row["status"]) for row in status)
            want = sorted((d, 201 if i >= len(r.upserts) - n_new else 200)
                          for i, (d, _) in enumerate(r.upserts))
            if got != want:
                b.mismatch(f"round {rnd} upsert statuses differ from the model")
            if tr.enabled:
                up_jobs.append(s["spark_jobs"])
                seg = sorted(os.listdir(os.path.join(index, "segments")))[-1]
                user_bytes = sum(len(t.encode()) + 8 for _, t in r.upserts)
                up_amp.append(dir_bytes(os.path.join(index, "segments", seg)) / user_bytes)

            b.attempted += 1
            with b.measure() as m, tr.span("segments.delete_from_text_index_segmented", op=rnd):
                removed = delete_from_text_index_segmented(spark, index, ids)
            dels.append(m)
            live += 1
            written += len(r.deletes)
            if removed != len(r.deletes):
                b.mismatch(f"round {rnd} deleted {removed}, want {len(r.deletes)}")

            check_at = gen.rng(b.seed, f"check:{rnd}").randrange(QUERIES_PER_ROUND)
            results = []
            for terms in r.queries:
                b.attempted += 1
                with b.measure() as m, tr.span("text_index.query_text_index", op=rnd) as s:
                    results.append(query(terms))
                queries.append(m)
                if tr.enabled:
                    (q_seg if live else q_noseg).append(m.wall)
                    q_jobs.append(s["spark_jobs"])
                    live_at_q.append(live)
            # checked after the round's queries, so the reference query's work
            # does not run between two timed ones
            terms = r.queries[check_at]
            docs_df = _corpus_df(spark, corpus.docs, b.path(f"check{rnd}"))
            want = [(row["doc_id"], row["bm25"]) for row in bm25_topk(docs_df, terms, k=TOP_K).collect()]
            if results[check_at] != want:
                b.mismatch(f"round {rnd} query {terms} differs from bm25_topk")
            shutil.rmtree(b.path(f"check{rnd}"))
    rounds = rnd + 1
    if tr.enabled and not compacts:
        # the traced run also measures the compaction the next round would
        # open with, and a query on the compacted index
        compact(rounds)
        with b.measure() as m, tr.span("text_index.query_text_index", op=rounds):
            query(r.queries[0])
        q_noseg.append(m.wall)

    write_cpu = sum(m.cpu for m in ups + dels)
    b.e2e.update(
        setup_s=(median(m.cpu for m, _ in setups), len(setups)),
        read_cpu_s_p50=(median(m.cpu for m in queries), len(queries)),
        write_cpu_s_p50=(median(u.cpu + d.cpu for u, d in zip(ups, dels)), len(ups)),
    )
    query_wall = [m.wall for m in queries]
    b.layer.update({
        "docs_per_cpu_s": written / write_cpu,
        "query_s_p50": median(query_wall),
        "query_s_p90": p90(query_wall),
        "setup_wall_s": median(m.wall for m, _ in setups),
    })
    if tr.enabled:
        b.layer.update({
            "text_index.build_s": median(w for _, w in setups),
            "text_index.query_s_noseg": median(q_noseg),
            "text_index.query_s_seg": median(q_seg),
            "text_index.query_spark_jobs": median(q_jobs),
            "text_index.space_amp": space_amp,
            "segments.upsert_s": median(m.wall for m in ups),
            "segments.upsert_spark_jobs": median(up_jobs),
            "segments.delete_s": median(m.wall for m in dels),
            "segments.compact_s": median(m.wall for m in compacts),
            "segments.live_at_query": median(live_at_q),
            "segments.bytes_written_per_user_byte": median(up_amp),
        })
    b.report.append(
        f"search_under_ingest: {N_DOCS} docs, {rounds} timed rounds; wall: query_s_p50 "
        f"{median(query_wall):.4f} p90 {p90(query_wall):.4f} (n={len(queries)}), "
        f"upsert_s_p50 {median(m.wall for m in ups):.4f} (n={len(ups)}), delete_s_p50 "
        f"{median(m.wall for m in dels):.4f} (n={len(dels)}), compact_s_p50 "
        f"{median(m.wall for m in compacts):.4f} (n={len(compacts)})"
    )
    per_round = [queries[i:i + QUERIES_PER_ROUND] for i in range(0, len(queries), QUERIES_PER_ROUND)]
    b.report.append("round CPU s (upsert, delete | queries): " + ", ".join(
        f"({u.cpu:.2f}, {d.cpu:.2f} | {' '.join(f'{q.cpu:.2f}' for q in qs)})"
        for u, d, qs in zip(ups, dels, per_round)))
