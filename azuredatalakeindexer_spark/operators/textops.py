"""Text-analysis operators: language-ID, quality scoring, token counting,
document fingerprinting — the per-document scoring stages of a training-data
pipeline, generalizing the reference's analyzer normalization (F6/F7).

All pure Catalyst column expressions (whole-stage-codegen'd); each operator
has an exact DuckDB oracle.  At scale these are embarrassingly parallel
narrow transformations — zero shuffles.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, Window

from azuredatalakeindexer_spark.operators.util import ensure_parallelism
from azuredatalakeindexer_spark.functions.text import (
    char_fingerprint,
    regex_tokens,
    rolling_fingerprint,
    stopword_hits,
    tokens,
    word_ngrams,
)

#: tiny per-language discriminator lexicons for the n-gram/stopword heuristic.
#: Real deployments plug in fastText-style models via mapInPandas; the
#: heuristic keeps the operator shape (and the oracle) pure-SQL.
LANG_LEXICONS: dict[str, list[str]] = {
    "en": ["the", "a", "fast", "small"],
    "es": ["data", "table", "row"],
    "fr": ["query", "merge", "stream"],
    "de": ["hash", "scan", "window"],
    "zh": ["spark", "vector", "agg"],
}


def language_scores(toks) -> dict[str, "F.Column"]:
    """Per-language lexicon hit counts as column expressions over a token
    array — the building block shared by :func:`language_id` and the
    single-pass training-corpus pipeline (plans/corpus.py)."""
    return {lang: stopword_hits(toks, lex) for lang, lex in LANG_LEXICONS.items()}


def language_pred(hits: dict[str, "F.Column"]) -> "F.Column":
    """Argmax language: first language (in lexicon order) reaching the max
    hit count wins ties — deterministic.  Duplicate subtrees (each hit
    expression appears in the CASE and in ``greatest``) are eliminated by
    codegen subexpression elimination."""
    best = F.greatest(*hits.values())
    pred = None
    # first language reaching the max wins — build the CASE in listed order
    for l in reversed(list(hits)):
        cond = F.when(hits[l] == best, F.lit(l))
        pred = cond.otherwise(pred) if pred is not None else cond
    return pred


def language_id(docs: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Heuristic language ID: argmax of per-language lexicon hit counts,
    first-listed language wins ties (deterministic)."""
    docs = ensure_parallelism(docs)
    out = docs.select(F.col(id_col), tokens(F.col(text_col)).alias("_toks"))
    hits = language_scores(F.col("_toks"))
    return out.select(
        F.col(id_col),
        language_pred(hits).alias("pred_lang"),
        *[hits[l].alias(f"hits_{l}") for l in LANG_LEXICONS],
    )


def quality_columns(toks) -> dict[str, "F.Column"]:
    """Quality feature expressions over a token array — shared by
    :func:`quality_score` and the single-pass training-corpus pipeline
    (plans/corpus.py).  Keys: ``n_tokens``, ``mean_token_len``,
    ``stopword_ratio``, ``quality`` (rounded to 6 places)."""
    n_tok = F.size(toks)
    mean_len = F.when(
        n_tok > 0,
        F.aggregate(toks, F.lit(0).cast("bigint"), lambda a, t: a + F.length(t)) / n_tok,
    ).otherwise(F.lit(0.0))
    sw_ratio = F.when(n_tok > 0, stopword_hits(toks, LANG_LEXICONS["en"]) / n_tok).otherwise(
        F.lit(0.0)
    )
    score = F.round(
        F.lit(0.25) * F.least(n_tok / F.lit(100.0), F.lit(1.0))
        + F.lit(0.25) * F.least(mean_len / F.lit(8.0), F.lit(1.0))
        + F.lit(0.5) * sw_ratio,
        6,
    )
    return {
        "n_tokens": n_tok,
        "mean_token_len": F.round(mean_len, 6),
        "stopword_ratio": F.round(sw_ratio, 6),
        "quality": score,
    }


def quality_score(docs: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Document quality features + a deterministic linear score.

    Features mirror the usual pretraining filters (Gopher/C4 rules):
    token count, mean token length, stopword ratio, non-alnum ratio.
    """
    docs = ensure_parallelism(docs)
    base = docs.select(F.col(id_col), tokens(F.col(text_col)).alias("_toks"))
    cols = quality_columns(F.col("_toks"))
    return base.select(
        F.col(id_col),
        cols["n_tokens"].alias("n_tokens"),
        cols["mean_token_len"].alias("mean_token_len"),
        cols["stopword_ratio"].alias("stopword_ratio"),
        cols["quality"].alias("quality"),
    )


def domain_quality_gate(
    docs: DataFrame,
    keep_frac: float = 0.5,
    text_col: str = "text",
    id_col: str = "doc_id",
    domain_col: str = "source",
    approx: bool = False,
) -> DataFrame:
    """Per-domain quality percentile gate (FineWeb-style curation): keep the
    top ``keep_frac`` of each domain by :func:`quality_columns` score, so a
    low-quality-on-average domain still contributes its best documents
    instead of being wiped out by one global threshold.

    Two physical strategies with the same intent:

    - ``approx=False`` (default, exact, the oracle-replayed semantics):
      rank within domain via ``row_number`` over (quality DESC, id ASC) and
      keep ``rn <= max(1, ceil(keep_frac × n_domain))``.  One shuffle on the
      domain key; the window is a total sort WITHIN each domain, so a
      mega-domain (half the crawl is one registrar) serializes through few
      reducers — correct but skew-exposed at 100 TB.
    - ``approx=True`` (the scale path): per-domain quality threshold from
      ``approx_percentile`` (a tiny grouped agg — map-side combined,
      k-domain rows), broadcast-joined back; keep ``quality >= threshold``.
      No per-domain sort, no skew cliff; boundary ties make the kept count
      approximate (>= the exact count), pinned against the exact gate in
      tests rather than the SQL oracle.

    Returns one row per input document — ``(id_col, domain_col, quality,
    n_domain, kept)`` — so consumers audit the gate before filtering
    ``kept = 1``.
    """
    docs = ensure_parallelism(docs)
    base = docs.select(F.col(id_col), F.col(domain_col), tokens(F.col(text_col)).alias("_toks"))
    cols = quality_columns(F.col("_toks"))
    scored = base.select(F.col(id_col), F.col(domain_col), cols["quality"].alias("quality"))
    wd = Window.partitionBy(domain_col)
    if approx:
        thr = scored.groupBy(domain_col).agg(
            F.percentile_approx("quality", 1.0 - keep_frac).alias("_thr"),
            F.count(F.lit(1)).alias("n_domain"),
        )
        return scored.join(F.broadcast(thr), domain_col).select(
            F.col(id_col),
            F.col(domain_col),
            "quality",
            F.col("n_domain").cast("bigint").alias("n_domain"),
            (F.col("quality") >= F.col("_thr")).cast("int").alias("kept"),
        )
    ranked = scored.select(
        F.col(id_col),
        F.col(domain_col),
        "quality",
        F.count(F.lit(1)).over(wd).alias("n_domain"),
        F.row_number()
        .over(wd.orderBy(F.col("quality").desc(), F.col(id_col).asc()))
        .alias("_rn"),
    )
    n_keep = F.greatest(F.lit(1).cast("bigint"), F.ceil(F.lit(keep_frac) * F.col("n_domain")))
    return ranked.select(
        F.col(id_col),
        F.col(domain_col),
        "quality",
        F.col("n_domain").cast("bigint").alias("n_domain"),
        (F.col("_rn") <= n_keep).cast("int").alias("kept"),
    )


def token_stats(docs: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Token counting: whitespace tokens and BPE-ish regex tokens."""
    docs = ensure_parallelism(docs)
    toks = tokens(F.col(text_col))
    rtoks = regex_tokens(F.col(text_col))
    return docs.select(
        F.col(id_col),
        F.size(toks).alias("ws_tokens"),
        F.size(rtoks).alias("regex_tokens"),
        F.size(F.array_distinct(toks)).alias("distinct_tokens"),
    )


def _max_adjacent_run(sorted_arr) -> "F.Column":
    """Max multiplicity of any element in a SORTED array, via a single
    fold with a (prev, run, best) struct accumulator — O(n) per row after
    the sort, fully narrow (no explode/groupBy shuffle)."""
    init = F.struct(
        F.lit("").alias("prev"), F.lit(0).cast("bigint").alias("run"), F.lit(0).cast("bigint").alias("best")
    )

    def step(acc, x):
        run = F.when(x == acc["prev"], acc["run"] + 1).otherwise(F.lit(1).cast("bigint"))
        return F.struct(
            x.alias("prev"), run.alias("run"), F.greatest(acc["best"], run).alias("best")
        )

    return F.aggregate(sorted_arr, init, step, lambda acc: acc["best"])


def repetition_stats(docs: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Gopher-style within-document repetition signals: the fraction of
    duplicated word 2-/3-grams and the share of the most frequent bigram.

    All narrow column expressions — the per-doc gram histogram never
    exists: duplicated fraction is ``1 - |distinct|/|all|`` and the top
    multiplicity is a fold over the sorted gram array
    (:func:`_max_adjacent_run`), so scale = scan bandwidth, zero shuffles.
    Documents repeating boilerplate score high and get dropped by the
    usual ``dup_2gram_frac > 0.2`` style rules.
    """
    docs = ensure_parallelism(docs)
    toks = tokens(F.col(text_col))
    base = docs.select(
        F.col(id_col),
        word_ngrams(toks, 2).alias("_g2"),
        word_ngrams(toks, 3).alias("_g3"),
    )

    def dup_frac(col: str) -> "F.Column":
        n = F.size(F.col(col))
        return F.round(
            F.when(n > 0, 1 - F.size(F.array_distinct(F.col(col))) / n).otherwise(0.0), 6
        )

    n2 = F.size("_g2")
    top2 = _max_adjacent_run(F.array_sort("_g2"))
    return base.select(
        F.col(id_col),
        n2.cast("bigint").alias("n_bigrams"),
        dup_frac("_g2").alias("dup_2gram_frac"),
        dup_frac("_g3").alias("dup_3gram_frac"),
        F.round(F.when(n2 > 0, top2 / n2).otherwise(0.0), 6).alias("top_bigram_frac"),
    )


def fingerprints(docs: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Document fingerprinting: order-sensitive rolling hash + normalized
    char-prefix md5 (cheap exact-dup key)."""
    docs = ensure_parallelism(docs)
    toks = tokens(F.col(text_col))
    return docs.select(
        F.col(id_col),
        rolling_fingerprint(toks).alias("rolling_fp"),
        char_fingerprint(F.col(text_col)).alias("char_fp"),
    )


def tfidf_top_terms(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 5,
) -> DataFrame:
    """TF-IDF keyword extraction: the top-``k`` highest-scoring terms per
    document, the standard relevance primitive the reference's search index
    delegates to the service's BM25 analyzer (SURVEY §1 — here as an
    explicit, oracle-checkable relation).

    ``tf`` = in-document term count, ``idf = ln((N+1)/(df+1)) + 1``
    (sklearn's smoothed variant: never zero, never divides by zero), score
    ``round(tf·idf, 6)``.  The ROUNDED score is used for both ranking and
    output so the cross-engine ordering is exactly the hashed value; ties
    break on term.

    Plan at scale: one explode + (doc,term) count shuffle; df and N derive
    from that same aggregate (no second corpus scan); the 1-row N relation
    is crossJoin-broadcast; the tf⋈idf equi-join on term is left to AQE
    (vocab may exceed broadcast size at 100 TB); final per-doc window
    shuffles on ``id_col`` only.

    The tf relation feeds BOTH join sides (scores and df), so it is
    materialized once (``localCheckpoint``, lineage truncated) instead of
    re-tokenizing the corpus per branch.  N stays a corpus row count
    (sklearn semantics: zero-token docs count) — a column-less scan, cheap
    next to tokenization.  At 100 TB persist tf to a table / reliable
    checkpoint instead — executor loss forces a localCheckpoint recompute.
    """
    from pyspark.sql import Window

    docs = ensure_parallelism(docs)
    tok = docs.select(F.col(id_col), F.explode(tokens(F.col(text_col))).alias("term"))
    tf = tok.groupBy(id_col, "term").agg(F.count(F.lit(1)).alias("tf")).localCheckpoint()
    n_docs = docs.agg(F.count(F.lit(1)).alias("n_docs"))
    dfreq = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    idf = dfreq.crossJoin(F.broadcast(n_docs)).select(
        "term",
        "df",
        (
            F.log((F.col("n_docs") + 1).cast("double") / (F.col("df") + 1).cast("double"))
            + 1
        ).alias("idf"),
    )
    scored = tf.join(idf, "term").select(
        F.col(id_col),
        "term",
        "tf",
        "df",
        F.round(F.col("tf") * F.col("idf"), 6).alias("tfidf"),
    )
    w = Window.partitionBy(id_col).orderBy(F.desc("tfidf"), F.asc("term"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select(id_col, "term", "tf", "df", "tfidf", F.col("rank").cast("int").alias("rank"))
    )


def chunk_documents(
    docs: DataFrame,
    *,
    text_col: str = "text",
    id_col: str = "doc_id",
    chunk_tokens: int = 64,
    overlap: int = 16,
) -> DataFrame:
    """RAG-ingestion chunking: split each document into overlapping
    ``chunk_tokens``-token windows advancing by ``stride = chunk_tokens -
    overlap`` — the standard retrieval-corpus preparation step upstream of
    an embedding model, mirroring how the reference's indexer prepares
    documents for the search service (§3.1 read→map→upload, here
    read→chunk→embed→index).

    Output ``(id_col, chunk_id, n_chunk_tokens, chunk_text)``; chunk ids
    are 0-based per document; the last window is short rather than padded;
    zero-token documents produce NO chunks BY DESIGN (nothing to embed —
    callers reassembling a corpus must left-join on the doc ids, same
    contract as span_dedup's documented zero-chunk case).

    Scale: pure narrow Catalyst — tokenize once, compute the chunk count
    arithmetically, ``posexplode(sequence(...))``, slice the token array
    per chunk.  No shuffle at all; the expansion factor is
    ~n_tokens/stride rows per doc, each carrying only its own slice.
    """
    if chunk_tokens <= 0 or overlap < 0 or overlap >= chunk_tokens:
        raise ValueError("need chunk_tokens > 0 and 0 <= overlap < chunk_tokens")
    stride = chunk_tokens - overlap
    docs = ensure_parallelism(docs)
    toks = tokens(F.col(text_col))
    base = docs.select(F.col(id_col), toks.alias("_toks"), F.size(toks).alias("_n"))
    n_chunks = (
        F.when(F.col("_n") <= 0, F.lit(0))
        .when(F.col("_n") <= chunk_tokens, F.lit(1))
        .otherwise(
            F.lit(1)
            + F.floor((F.col("_n") - chunk_tokens + stride - 1) / F.lit(stride)).cast("int")
        )
    ).cast("int")
    # guard the zero-chunk case: sequence(0, -1) would DESCEND ([0, -1]),
    # not come back empty
    ids = F.when(
        n_chunks > 0, F.sequence(F.lit(0), n_chunks - 1)
    ).otherwise(F.array().cast("array<int>"))
    exploded = base.select(
        F.col(id_col),
        F.col("_toks"),
        F.explode(ids).alias("chunk_id"),
    )
    piece = F.slice(F.col("_toks"), F.col("chunk_id") * stride + 1, chunk_tokens)
    return exploded.select(
        F.col(id_col),
        F.col("chunk_id"),
        F.size(piece).cast("bigint").alias("n_chunk_tokens"),
        F.array_join(piece, " ").alias("chunk_text"),
    )


def bigram_lm_scores(
    docs: DataFrame,
    *,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """CCNet-style language-model quality scoring: train an add-one-
    smoothed bigram LM on the corpus itself and score every document by
    its average bigram log-probability — low scores flag boilerplate/
    gibberish relative to the corpus distribution (Wenzek et al. 2019
    use a KenLM 5-gram; the bigram form keeps the operator pure-Catalyst
    and the oracle exact).

    ``p(w2|w1) = (c(w1,w2) + 1) / (c(w1·) + V)`` with ``c(w1·)`` the
    count of w1 as a bigram left-hand side and ``V`` the corpus distinct-
    token count.  Output ``(id_col, avg_logprob, n_bigrams)``; documents
    with fewer than two tokens have no bigrams and are excluded BY DESIGN
    (nothing to score — callers left-join on doc ids, the span_dedup /
    chunk_documents contract).

    Cross-engine determinism: per-bigram log-probs are rounded to 6
    decimals and summed as DECIMAL(18,6) — exact, order-free — so the
    per-doc average is hash-stable (the repo's standard float-aggregate
    discipline; a double sum would drift with partition order).

    Scale: one corpus bigram pass feeds BOTH the model counts and the
    scoring relation; the model joins are (w1,w2)/(w1) equi-joins left to
    AQE (a 100 TB vocabulary outgrows any broadcast); V is a 1-row
    crossJoin broadcast.
    """
    toks = tokens(F.col(text_col))
    base = docs.select(F.col(id_col), toks.alias("_toks"))
    n = F.size("_toks")
    pairs = F.arrays_zip(
        F.slice(F.col("_toks"), 1, F.greatest(n - 1, F.lit(0))).alias("w1"),
        F.slice(F.col("_toks"), 2, F.greatest(n - 1, F.lit(0))).alias("w2"),
    )
    bg = base.select(F.col(id_col), F.explode(pairs).alias("p")).select(
        F.col(id_col), F.col("p.w1").alias("w1"), F.col("p.w2").alias("w2")
    ).localCheckpoint()
    c12 = bg.groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("c12"))
    c1 = c12.groupBy("w1").agg(F.sum("c12").alias("c1"))
    vsz = base.select(F.explode("_toks").alias("w")).agg(
        F.countDistinct("w").alias("vsz")
    )
    lp = F.round(
        F.log((F.col("c12") + F.lit(1.0)) / (F.col("c1") + F.col("vsz"))), 6
    ).cast("decimal(18,6)")
    scored = (
        bg.join(c12, ["w1", "w2"]).join(c1, "w1").crossJoin(F.broadcast(vsz))
        .select(F.col(id_col), lp.alias("_lp"))
    )
    return scored.groupBy(id_col).agg(
        F.round(F.sum("_lp").cast("double") / F.count(F.lit(1)), 6).alias("avg_logprob"),
        F.count(F.lit(1)).cast("bigint").alias("n_bigrams"),
    )
