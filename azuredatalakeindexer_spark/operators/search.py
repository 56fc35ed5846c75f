"""Query-side search operators: BM25 ranking, facet counts, and hit
highlighting.

The reference pushes documents INTO Azure AI Search and delegates the query
side — BM25 full-text ranking, facets, highlighting — to the service
(`AzureSearchIndexer/PathIndexClient.cs:49-92` issues `SearchAsync` with
filter/order/facet options; the index DDL marks fields `searchable`/
`facetable`, `SearchIndexerTest/Program.cs:55-66`).  A user
replacing the reference with this engine needs that query surface too, so
these operators re-express it Spark-side over the same relations.

All pure Catalyst expressions with exact DuckDB oracles.  Scale shapes:

- :func:`bm25_topk` — per-document term frequencies come from
  ``size(filter(tokens, ...))`` column expressions (a handful of query
  terms), NOT a corpus-wide token explode: the only wide operation is one
  1-row global aggregate (tree-reduced partial aggs) that is then
  crossJoin-broadcast back; the final top-k is ``orderBy().limit()`` which
  Spark executes as TakeOrderedAndProject (per-partition heaps + driver
  merge of k rows), never a full sort.  At 100 TB: one narrow corpus scan
  + one scalar agg + a k-row result.
- :func:`facet_counts` — one scan, one (field, value) hash aggregate with
  map-side combine; facet-value cardinality bounds the shuffle, and the
  per-field top-n window runs on the tiny post-agg relation.
- :func:`keyword_snippets` — embarrassingly parallel narrow projection.
"""

from __future__ import annotations

from typing import Sequence

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, Window

from azuredatalakeindexer_spark.functions.text import tokens
from azuredatalakeindexer_spark.operators.util import ensure_parallelism


def _term_eq(term: str):
    """Single-arg lambda factory for ``F.filter`` (a 2-arg lambda would
    receive the array index as its second argument)."""
    lit = F.lit(term)
    return lambda x: x == lit


def bm25_topk(
    docs: DataFrame,
    query_terms: Sequence[str],
    *,
    text_col: str = "text",
    id_col: str = "doc_id",
    k1: float = 1.2,
    b: float = 0.75,
    k: int = 20,
    match_filter=None,
) -> DataFrame:
    """Top-``k`` documents by BM25 score for a bag of query terms.

    ``match_filter`` (optional Column over ``docs``'s columns) restricts
    the CANDIDATE set — corpus statistics (N, avgdl, df) stay full-corpus,
    the standard engine semantics where filters narrow results without
    changing idf.  Used by :func:`simple_query_topk` for +required /
    -excluded / phrase predicates.

    Lucene/Azure-Search-style BM25 (the ranking the reference's
    `searchable` fields get from the service):

    - ``idf(t) = ln(1 + (N - df + 0.5) / (df + 0.5))``
    - ``score = Σ_t idf(t) · tf·(k1+1) / (tf + k1·(1 - b + b·dl/avgdl))``

    ``tf`` is the in-document count of term ``t`` under the whitespace
    analyzer (functions.text.tokens — lowercase, F6/F7), ``dl`` the token
    count, ``N``/``avgdl``/``df`` corpus statistics.  The score is rounded
    to 6 decimals BEFORE ranking so the cross-engine order is exactly the
    hashed value; ties break on ``id_col`` asc.  Zero-scoring documents
    (no query term present) are excluded, like a search service would.

    Scale: tf per term is ``size(filter(tokens, t -> t = term))`` — narrow,
    no explode/shuffle; corpus stats are ONE global aggregate broadcast
    back as a 1-row crossJoin; top-k is TakeOrderedAndProject.  df/avgdl
    derive from the same projection that feeds scoring, so the corpus is
    tokenized once per pass (twice total: stats pass + scoring pass — at
    100 TB persist the slim ``(id, dl, tf...)`` projection to skip the
    second tokenization).
    """
    if not query_terms:
        raise ValueError("bm25_topk needs at least one query term")
    terms = sorted({t.lower() for t in query_terms})
    docs = ensure_parallelism(docs)
    toks = tokens(F.col(text_col))
    per = docs.select(
        F.col(id_col),
        F.size(toks).alias("_dl"),
        *(
            [match_filter.alias("_match")] if match_filter is not None else []
        ),
        *[
            F.size(F.filter(toks, _term_eq(t))).alias(f"_tf{i}")
            for i, t in enumerate(terms)
        ],
    )
    stats = per.agg(
        F.count(F.lit(1)).alias("_n"),
        F.avg("_dl").alias("_avgdl"),
        *[
            F.sum((F.col(f"_tf{i}") > 0).cast("long")).alias(f"_df{i}")
            for i in range(len(terms))
        ],
    )
    scored = per.crossJoin(F.broadcast(stats))
    # avgdl = 0 only when the whole corpus is token-free (then every tf is
    # 0 and nothing can score) — guard the norm term so ANSI mode doesn't
    # raise DIVIDE_BY_ZERO on that degenerate corpus; the oracle needs no
    # mirror because DuckDB's 0/0 → nan fails the bm25 > 0 filter the same
    # way (found by the hypothesis property test)
    norm = F.when(
        F.col("_avgdl") > 0, F.lit(b) * F.col("_dl") / F.col("_avgdl")
    ).otherwise(F.lit(0.0))
    score = None
    for i in range(len(terms)):
        tf = F.col(f"_tf{i}").cast("double")
        idf = F.log(
            F.lit(1.0)
            + (F.col("_n") - F.col(f"_df{i}") + F.lit(0.5)) / (F.col(f"_df{i}") + F.lit(0.5))
        )
        contrib = (idf * tf * F.lit(k1 + 1.0)) / (
            tf + F.lit(k1) * (F.lit(1.0 - b) + norm)
        )
        score = contrib if score is None else score + contrib
    if match_filter is not None:
        scored = scored.where(F.col("_match"))
    return (
        scored.select(F.col(id_col), F.round(score, 6).alias("bm25"))
        .where(F.col("bm25") > 0)
        .orderBy(F.col("bm25").desc(), F.col(id_col))
        .limit(k)
    )


def facet_counts(
    df: DataFrame,
    facet_cols: Sequence[str],
    *,
    top_n: int = 5,
) -> DataFrame:
    """Azure-Search-style facet result: the ``top_n`` most frequent values
    per facetable field, with counts (`facetable` capability in the index
    DDL, `SearchIndexerTest/Program.cs:62-63`; served by the service at
    query time, here an explicit relation).

    Output: ``(field, value, n, rank)``; values are stringified (facets
    are rendered labels); nulls are not facet values and are dropped; ties
    break on ``value`` asc.

    Scale: the field/value pairs come from one ``explode(map(...))`` over
    the scan — a narrow per-row expansion by ``len(facet_cols)`` — then a
    single hash aggregate whose key space is the facet-value cardinality
    (small by definition of "facetable"), so map-side combine collapses
    the shuffle; the rank window runs on that tiny aggregate.
    """
    if not facet_cols:
        raise ValueError("facet_counts needs at least one facet column")
    df = ensure_parallelism(df)
    pairs = df.select(
        F.explode(
            F.map_from_arrays(
                F.array(*[F.lit(c) for c in facet_cols]),
                F.array(*[F.col(c).cast("string") for c in facet_cols]),
            )
        ).alias("field", "value")
    )
    counts = (
        pairs.where(F.col("value").isNotNull())
        .groupBy("field", "value")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    w = Window.partitionBy("field").orderBy(F.col("n").desc(), F.col("value"))
    return (
        counts.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= top_n)
        .select("field", "value", "n", "rank")
    )


def facet_ranges(
    df: DataFrame,
    col: str,
    *,
    interval: float | None = None,
    values: Sequence[float] | None = None,
) -> DataFrame:
    """Azure-Search numeric RANGE facets — the service's two numeric
    modes (`facet=field,interval:N` and `facet=field,values:v1|v2|...`),
    complementing :func:`facet_counts`' value facets:

    - ``interval=N``: uniform buckets ``[k·N, (k+1)·N)`` — only buckets
      with members are returned (as the service does);
    - ``values=[v1..vK]``: explicit edges giving ``(-inf, v1), [v1, v2),
      …, [vK, inf)`` — unbounded ends render as NULL ``range_from`` /
      ``range_to`` like the service's open-ended ``from``/``to``.

    Output ``(field, range_from, range_to, n)`` ordered by ``range_from``
    (NULL-from first); nulls are not facet members and are dropped.
    Exactly one of ``interval`` / ``values`` must be given.

    Scale: one narrow projection computes the bucket from the value alone
    (a constant-folded expression — no join, no window over data), then a
    single hash aggregate whose key space is the bucket count; map-side
    combine collapses the shuffle like the value-facet path.
    """
    if (interval is None) == (values is None):
        raise ValueError("facet_ranges needs exactly one of interval/values")
    df = ensure_parallelism(df)
    x = F.col(col).cast("double")
    if interval is not None:
        if interval <= 0:
            raise ValueError("interval must be positive (got %r)" % interval)
        lo = F.floor(x / F.lit(float(interval))) * F.lit(float(interval))
        frm = lo.cast("double")
        to = (lo + F.lit(float(interval))).cast("double")
    else:
        edges = sorted(float(v) for v in values)
        if not edges:
            raise ValueError("values mode needs at least one edge")
        frm = F.lit(None).cast("double")
        to = F.lit(float(edges[0])).cast("double")
        for i, e in enumerate(edges):
            nxt = (
                F.lit(float(edges[i + 1])).cast("double")
                if i + 1 < len(edges)
                else F.lit(None).cast("double")
            )
            frm = F.when(x >= F.lit(e), F.lit(e).cast("double")).otherwise(frm)
            to = F.when(x >= F.lit(e), nxt).otherwise(to)
    return (
        df.where(F.col(col).isNotNull())
        .select(
            F.lit(col).alias("field"),
            frm.alias("range_from"),
            to.alias("range_to"),
        )
        .groupBy("field", "range_from", "range_to")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.col("range_from").asc_nulls_first())
    )


def scoring_profile_topk(
    docs: DataFrame,
    profile: "dict[str, tuple[Sequence[str], float]]",
    *,
    id_col: str = "doc_id",
    k1: float = 1.2,
    b: float = 0.75,
    k: int = 20,
    boost: "tuple[str, float, float, float] | None" = None,
    tag_boost: "tuple[str, Sequence[str], float] | None" = None,
) -> DataFrame:
    """Azure-Search scoring profile: field-weighted multi-field BM25 with
    optional magnitude and tag boost functions.

    ``profile`` maps searchable field → ``(query_terms, weight)``; the
    text score is ``Σ_f weight_f · bm25_f`` with per-field corpus
    statistics (each field has its own dl/avgdl/df — Lucene semantics).
    ``boost = (numeric_col, factor, lo, hi)`` applies the service's
    *magnitude* function: the final score is multiplied by
    ``1 + factor · clamp((col - lo) / (hi - lo), 0, 1)`` (linear
    interpolation inside the range, flat outside).
    ``tag_boost = (col, tags, factor)`` applies the *tag* function in its
    scalar-field membership form: × ``1 + factor`` when the row's ``col``
    value is one of ``tags`` (the service's collection-field variant
    scales with the matched fraction; this engine's fields are scalar).
    Multiple functions compose multiplicatively (the product of their
    multipliers — the service's aggregation modes over boost values are
    not modeled).  Documents with zero text score are excluded (boosts
    never resurrect a non-match).
    Output ``(id_col, score)`` rounded to 6 decimals, top-``k`` with
    id-asc tie-break.

    Scale shape is :func:`bm25_topk`'s, widened by fields: per-field
    tf/dl are narrow ``size(filter(tokens…))`` projections in ONE pass
    over the scan, all corpus statistics (per-field N/avgdl/df) ride a
    single 1-row global aggregate broadcast back, and the top-k is
    TakeOrderedAndProject.  The boost is a pure row-local expression.
    """
    if not profile:
        raise ValueError("scoring_profile_topk needs at least one field")
    fields = [
        (fld, sorted({t.lower() for t in terms}), float(w))
        for fld, (terms, w) in profile.items()
    ]
    if any(not terms for _, terms, _ in fields):
        raise ValueError("every profile field needs at least one query term")
    if boost is not None and boost[3] <= boost[2]:
        raise ValueError("boost range needs hi > lo (got lo=%r, hi=%r)" % (boost[2], boost[3]))
    if tag_boost is not None and not tag_boost[1]:
        raise ValueError("tag_boost needs at least one tag")
    docs = ensure_parallelism(docs)

    per_cols = [F.col(id_col)]
    stat_cols = []
    if boost is not None:
        per_cols.append(F.col(boost[0]))
    if tag_boost is not None and (boost is None or tag_boost[0] != boost[0]):
        per_cols.append(F.col(tag_boost[0]))
    for fi, (fld, terms, _w) in enumerate(fields):
        toks = tokens(F.col(fld))
        per_cols.append(F.size(toks).alias(f"_dl{fi}"))
        stat_cols.append(F.avg(f"_dl{fi}").alias(f"_avgdl{fi}"))
        for ti, t in enumerate(terms):
            per_cols.append(
                F.size(F.filter(toks, _term_eq(t))).alias(f"_tf{fi}_{ti}")
            )
            stat_cols.append(
                F.sum((F.col(f"_tf{fi}_{ti}") > 0).cast("long")).alias(f"_df{fi}_{ti}")
            )
    per = docs.select(*per_cols)
    stats = per.agg(F.count(F.lit(1)).alias("_n"), *stat_cols)
    scored = per.crossJoin(F.broadcast(stats))

    total = None
    for fi, (_fld, terms, w) in enumerate(fields):
        # same degenerate-corpus guard as bm25_topk, per field
        norm = F.when(
            F.col(f"_avgdl{fi}") > 0,
            F.lit(b) * F.col(f"_dl{fi}") / F.col(f"_avgdl{fi}"),
        ).otherwise(F.lit(0.0))
        fscore = None
        for ti in range(len(terms)):
            tf = F.col(f"_tf{fi}_{ti}").cast("double")
            df = F.col(f"_df{fi}_{ti}")
            idf = F.log(
                F.lit(1.0) + (F.col("_n") - df + F.lit(0.5)) / (df + F.lit(0.5))
            )
            contrib = (idf * tf * F.lit(k1 + 1.0)) / (
                tf + F.lit(k1) * (F.lit(1.0 - b) + norm)
            )
            fscore = contrib if fscore is None else fscore + contrib
        weighted = F.lit(w) * fscore
        total = weighted if total is None else total + weighted

    final = total
    if boost is not None:
        bcol, factor, lo, hi = boost
        frac = (F.col(bcol).cast("double") - F.lit(float(lo))) / F.lit(float(hi - lo))
        mult = F.lit(1.0) + F.lit(float(factor)) * F.least(
            F.lit(1.0), F.greatest(F.lit(0.0), frac)
        )
        final = final * mult
    if tag_boost is not None:
        tcol, tags, tfactor = tag_boost
        tmult = F.when(
            F.col(tcol).isin([str(t) for t in tags]),
            F.lit(1.0 + float(tfactor)),
        ).otherwise(F.lit(1.0))
        final = final * tmult
    return (
        scored.where(F.round(total, 6) > 0)
        .select(F.col(id_col), F.round(final, 6).alias("score"))
        .orderBy(F.col("score").desc(), F.col(id_col))
        .limit(k)
    )


def suggest_terms(
    docs: DataFrame,
    prefix: str,
    *,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 10,
) -> DataFrame:
    """Autocomplete suggester: the top-``k`` corpus terms completing
    ``prefix`` (case-insensitive), ranked by document frequency — the
    search service's autocomplete endpoint over `searchable` fields, as a
    relation.  Output ``(term, df)``; ties break term-asc.

    Scale: the token array is prefix-filtered BEFORE exploding
    (``filter(tokens, startswith)``), so the explode emits only matching
    terms — for a selective prefix that is a tiny fraction of the corpus
    token stream; df is one (term, doc) distinct-aggregate whose key space
    is the matching vocabulary; the final top-k is TakeOrderedAndProject.
    """
    if not prefix:
        raise ValueError("suggest_terms needs a non-empty prefix")
    needle = prefix.lower()
    docs = ensure_parallelism(docs)
    toks = tokens(F.col(text_col))
    matches = docs.select(
        F.col(id_col),
        F.explode(F.filter(toks, lambda t: t.startswith(needle))).alias("term"),
    )
    return (
        matches.groupBy("term")
        .agg(F.countDistinct(id_col).alias("df"))
        .orderBy(F.col("df").desc(), F.col("term"))
        .limit(k)
    )


def suggest_two_terms(
    docs: DataFrame,
    prefix: str,
    *,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 10,
) -> DataFrame:
    """Autocomplete in the service's ``twoTerms`` mode: complete
    ``prefix`` to a TWO-term phrase — the matching term plus the term
    that follows it in the document — ranked by the number of documents
    containing that adjacent pair (the same df ranking as
    :func:`suggest_terms`' oneTerm mode).  Output ``(completion, df)``
    with ``completion = "t1 t2"``; ties break completion-asc; a matching
    term that ends its document contributes nothing (no following term).

    Scale: adjacent pairs come from one ``arrays_zip(tokens,
    tokens[2:])`` per row — a narrow row-local expression — filtered to
    the prefix BEFORE exploding, so the explode emits only matching
    bigrams; the df aggregate's key space is the matching bigram
    vocabulary; top-k is TakeOrderedAndProject.
    """
    if not prefix:
        raise ValueError("suggest_two_terms needs a non-empty prefix")
    needle = prefix.lower()
    docs = ensure_parallelism(docs)
    toks = tokens(F.col(text_col))
    pairs = F.arrays_zip(
        F.slice(toks, 1, F.greatest(F.size(toks) - 1, F.lit(0))).alias("t1"),
        F.slice(toks, 2, F.greatest(F.size(toks) - 1, F.lit(0))).alias("t2"),
    )
    matching = F.filter(pairs, lambda p: p["t1"].startswith(needle))
    matches = docs.select(
        F.col(id_col), F.explode(matching).alias("_pair")
    ).select(
        F.col(id_col),
        F.concat_ws(" ", F.col("_pair.t1"), F.col("_pair.t2")).alias("completion"),
    )
    return (
        matches.groupBy("completion")
        .agg(F.countDistinct(id_col).alias("df"))
        .orderBy(F.col("df").desc(), F.col("completion"))
        .limit(k)
    )


def suggest_with_context(
    docs: DataFrame,
    context: str,
    prefix: str,
    *,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 10,
) -> DataFrame:
    """Autocomplete in the service's ``oneTermWithContext`` mode: complete
    ``prefix`` using the PRECEDING query term as context — only terms that
    follow an exact occurrence of ``context`` in a document qualify,
    ranked by the number of documents containing that (context, term)
    adjacency.  Output ``(term, df)``; ties break term-asc.  The context
    term disambiguates ("new y…" completes to "york", not "year", when
    the corpus says so) — that is the mode's entire point.

    Same physical shape as :func:`suggest_two_terms`: one row-local
    ``arrays_zip`` builds adjacent pairs, both the context equality and
    the prefix filter apply BEFORE the explode, and the df aggregate's
    key space is the qualifying vocabulary.
    """
    if not context or not prefix:
        raise ValueError("suggest_with_context needs a context term and a prefix")
    ctx = context.lower()
    needle = prefix.lower()
    docs = ensure_parallelism(docs)
    toks = tokens(F.col(text_col))
    pairs = F.arrays_zip(
        F.slice(toks, 1, F.greatest(F.size(toks) - 1, F.lit(0))).alias("t1"),
        F.slice(toks, 2, F.greatest(F.size(toks) - 1, F.lit(0))).alias("t2"),
    )
    matching = F.filter(
        pairs, lambda p: (p["t1"] == ctx) & p["t2"].startswith(needle)
    )
    matches = docs.select(
        F.col(id_col), F.explode(matching).alias("_pair")
    ).select(F.col(id_col), F.col("_pair.t2").alias("term"))
    return (
        matches.groupBy("term")
        .agg(F.countDistinct(id_col).alias("df"))
        .orderBy(F.col("df").desc(), F.col("term"))
        .limit(k)
    )


def expand_query_terms(terms: Sequence[str], synonyms: DataFrame) -> list[str]:
    """Synonym-map expansion (the service's synonymMaps on searchable
    fields): widen the query's term set with the synonyms of each term.

    ``synonyms`` is a ``(term, synonym)`` relation — model-sized by
    definition (a curated thesaurus), so collecting it to the driver is
    legitimate model traffic.  Expansion is query-side only: documents
    are never rewritten.  Returns the sorted, deduped union of the input
    terms and their mapped synonyms (lowercased) — feed it to
    :func:`bm25_topk` / :func:`scoring_profile_topk`.
    """
    base = {t.lower() for t in terms}
    mapped = {
        r["synonym"].lower()
        for r in synonyms.where(F.lower(F.col("term")).isin(*base)).collect()
        if r["synonym"]
    }
    return sorted(base | mapped)


#: simple-query-syntax token: "quoted phrase" (optionally +/- prefixed) or a
#: bare word with optional +/- prefix
_SQS_TOKEN = r'([+-]?)"([^"]+)"|([+-]?)(\S+)'


def parse_simple_query(query: str):
    """Parse the simple-query syntax into
    ``(optional, required, excluded, req_phrases, exc_phrases)`` —
    driver-side (the query is user input, not data).  Shared by the
    scan-time ``simple_query_topk`` and the index-served
    ``text_index.simple_query_from_index`` so both speak the identical
    dialect."""
    import re as _re

    optional: list[str] = []
    required: list[str] = []
    excluded: list[str] = []
    req_phrases: list[str] = []
    exc_phrases: list[str] = []
    for m in _re.finditer(_SQS_TOKEN, query):
        if m.group(2) is not None:
            (exc_phrases if m.group(1) == "-" else req_phrases).append(
                m.group(2).lower()
            )
        else:
            word = m.group(4).lower()
            sign = m.group(3)
            if sign == "-":
                excluded.append(word)
            elif sign == "+":
                required.append(word)
            else:
                optional.append(word)
    return optional, required, excluded, req_phrases, exc_phrases


def simple_query_topk(
    docs: DataFrame,
    query: str,
    *,
    text_col: str = "text",
    id_col: str = "doc_id",
    k1: float = 1.2,
    b: float = 0.75,
    k: int = 20,
) -> DataFrame:
    """Azure-Search *simple query syntax* over a searchable field:
    ``term`` (optional, scored), ``+term`` (required), ``-term``
    (excluded), ``"a phrase"`` (required substring, case-insensitive;
    ``-"a phrase"`` excludes).

    The query string is parsed driver-side (it is user input, not data);
    matching/exclusion are Catalyst predicates on the scan, and ranking is
    standard BM25 over ALL positive terms (optional + required), so a
    document matching more optional terms scores higher — the service's
    ``any`` semantics with ``+`` escalating to ``all``.  Documents must
    satisfy every required term/phrase, no excluded term/phrase, and score
    > 0 (at least one positive hit).  Corpus statistics stay FULL-corpus
    (filters narrow candidates without changing idf — standard engine
    semantics).  Output ``(id_col, bm25)``.

    Scale: the filter predicates are row-local (``array_contains`` /
    ``instr`` over the same tokenization the scorer uses) and ride the
    same single narrow projection as bm25_topk's tf columns — one scan,
    one 1-row stats broadcast, TakeOrderedAndProject.
    """
    optional, required, excluded, req_phrases, exc_phrases = parse_simple_query(
        query
    )
    positives = sorted(set(optional) | set(required))
    if not positives and not req_phrases:
        raise ValueError("simple query needs at least one positive term or phrase")

    docs = ensure_parallelism(docs)
    toks = tokens(F.col(text_col))
    lowered = F.lower(F.col(text_col))
    cond = F.lit(True)
    for t in sorted(set(required)):
        cond = cond & F.array_contains(toks, t)
    for t in sorted(set(excluded)):
        cond = cond & ~F.array_contains(toks, t)
    for p in req_phrases:
        cond = cond & (F.instr(lowered, p) > 0)
    for p in exc_phrases:
        cond = cond & (F.instr(lowered, p) == 0)

    if not positives:
        # phrase-only query: rank by earliest first phrase hit, id tie-break
        first = F.instr(lowered, req_phrases[0])
        return (
            docs.where(cond)
            .select(F.col(id_col), first.cast("double").alias("bm25"))
            .orderBy(F.col("bm25"), F.col(id_col))
            .limit(k)
        )
    return bm25_topk(
        docs,
        positives,
        text_col=text_col,
        id_col=id_col,
        k1=k1,
        b=b,
        k=k,
        match_filter=cond,
    )


def keyword_snippets(
    docs: DataFrame,
    term: str,
    *,
    text_col: str = "text",
    id_col: str = "doc_id",
    radius: int = 20,
) -> DataFrame:
    """Hit highlighting: for documents containing ``term``
    (case-insensitive), the 1-based position of the first hit and a
    ``radius``-char context snippet around it — the search-service
    highlight feature as a relation.

    Output ``(id_col, hit_pos, snippet)``.  Scale: a narrow projection +
    filter, embarrassingly parallel, pushdown-friendly.
    """
    if not term:
        raise ValueError("keyword_snippets needs a non-empty term")
    needle = term.lower()
    docs = ensure_parallelism(docs)
    pos = F.instr(F.lower(F.col(text_col)), needle)
    start = F.greatest(F.lit(1), pos - F.lit(radius))
    snippet = F.substring(F.col(text_col), start, F.lit(2 * radius + len(needle)))
    return docs.where(pos > 0).select(
        F.col(id_col), pos.alias("hit_pos"), snippet.alias("snippet")
    )


def phrase_topk(
    docs: DataFrame,
    phrase: Sequence[str] | str,
    *,
    text_col: str = "text",
    id_col: str = "doc_id",
    k1: float = 1.2,
    b: float = 0.75,
    k: int = 20,
) -> DataFrame:
    """Top-``k`` documents for an EXACT TOKEN-ADJACENCY phrase, ranked by
    BM25 with the whole phrase as one virtual term.

    `simple_query_topk`'s ``"a phrase"`` handles phrases as required
    SUBSTRING predicates (filter-only, service-style).  This operator is
    the positional-search counterpart a Lucene ``PhraseQuery`` provides:
    ``tf`` is the number of occurrences of the exact token sequence
    (``slice(toks, p, m) == phrase`` counted over all start positions —
    adjacency under the same whitespace analyzer as every other scorer),
    ``df`` the number of docs with at least one occurrence, and the score
    the standard BM25 saturation formula, rounded to 6 decimals before
    ranking with id-asc tie-breaks (cross-engine stable).

    Scale shape: the occurrence count is a pure Catalyst array expression
    — ``size(filter(sequence(1, n-m+1), p -> slice(..) == ..))`` — no
    explode, no positional-postings shuffle; corpus stats are the same
    1-row broadcast as :func:`bm25_topk`.  The ``n >= m`` guard matters:
    ``sequence(1, 0)`` DESCENDS in Spark, so short docs must short-circuit
    to tf=0 instead of generating [1, 0].

    Output ``(id_col, phrase_tf bigint, bm25)``.
    """
    terms = phrase.split() if isinstance(phrase, str) else list(phrase)
    terms = [t.lower() for t in terms]
    if not terms:
        raise ValueError("phrase_topk needs a non-empty phrase")
    m = len(terms)
    docs = ensure_parallelism(docs)
    toks = tokens(F.col(text_col))
    phrase_arr = F.array(*[F.lit(t) for t in terms])
    n = F.size(toks)
    tf_expr = F.when(
        n >= m,
        F.size(
            F.filter(
                F.sequence(F.lit(1), n - m + 1),
                lambda p: F.slice(toks, p, m) == phrase_arr,
            )
        ),
    ).otherwise(F.lit(0))
    per = docs.select(
        F.col(id_col),
        n.alias("_dl"),
        tf_expr.cast("bigint").alias("phrase_tf"),
    )
    stats = per.agg(
        F.count(F.lit(1)).alias("_n"),
        F.avg("_dl").alias("_avgdl"),
        F.sum((F.col("phrase_tf") > 0).cast("long")).alias("_df"),
    )
    scored = per.crossJoin(F.broadcast(stats))
    norm = F.when(
        F.col("_avgdl") > 0, F.lit(b) * F.col("_dl") / F.col("_avgdl")
    ).otherwise(F.lit(0.0))
    tf = F.col("phrase_tf").cast("double")
    idf = F.log(
        F.lit(1.0)
        + (F.col("_n") - F.col("_df") + F.lit(0.5)) / (F.col("_df") + F.lit(0.5))
    )
    score = (idf * tf * F.lit(k1 + 1.0)) / (
        tf + F.lit(k1) * (F.lit(1.0 - b) + norm)
    )
    return (
        scored.select(F.col(id_col), "phrase_tf", F.round(score, 6).alias("bm25"))
        .where(F.col("bm25") > 0)
        .orderBy(F.col("bm25").desc(), F.col(id_col))
        .limit(k)
    )


def near_topk(
    docs: DataFrame,
    term1: str,
    term2: str,
    *,
    slop: int = 2,
    ordered: bool = True,
    text_col: str = "text",
    id_col: str = "doc_id",
    k1: float = 1.2,
    b: float = 0.75,
    k: int = 20,
) -> DataFrame:
    """Proximity search (Lucene sloppy ``PhraseQuery`` / NEAR): rank
    documents where ``term1`` and ``term2`` co-occur within at most
    ``slop`` intervening tokens.  ``ordered=True`` (default) requires
    ``term2`` AFTER ``term1`` — ``near_tf`` counts ordered position pairs
    ``(p1, p2)`` with ``p1 < p2 <= p1 + slop + 1`` (``slop=0``
    degenerates to the 2-term exact phrase); ``ordered=False`` counts
    co-occurrence in EITHER direction (``0 < |p1 - p2| <= slop + 1`` —
    Lucene's unordered SpanNearQuery).  Ranking is the same
    BM25-with-virtual-term treatment as :func:`phrase_topk`.

    Scale shape: per-term position lists come from ONE indexed
    ``transform`` + ``filter`` over the token array, and the pair count is
    a nested higher-order aggregate over the two (short) position lists —
    all Catalyst array expressions on a single narrow projection; corpus
    stats are the usual 1-row broadcast.  No explode, no positional
    postings, no shuffle beyond the final top-k.
    """
    t1, t2 = term1.lower(), term2.lower()
    docs = ensure_parallelism(docs)
    toks = tokens(F.col(text_col))

    def positions(term: str):
        # 1-based positions of `term` in the token array
        idx = F.transform(toks, lambda x, i: F.when(x == term, i + 1))
        return F.filter(idx, lambda p: p.isNotNull())

    p1s, p2s = positions(t1), positions(t2)
    if ordered:
        pair_count = F.aggregate(
            p1s,
            F.lit(0).cast("bigint"),
            lambda acc, p1: acc
            + F.size(F.filter(p2s, lambda p2: (p2 > p1) & (p2 <= p1 + slop + 1))),
        )
    else:
        pair_count = F.aggregate(
            p1s,
            F.lit(0).cast("bigint"),
            lambda acc, p1: acc
            + F.size(
                F.filter(
                    p2s,
                    lambda p2: (p2 != p1)
                    & (F.abs(p2 - p1) <= slop + 1),
                )
            ),
        )
    per = docs.select(
        F.col(id_col),
        F.size(toks).alias("_dl"),
        pair_count.alias("near_tf"),
    )
    stats = per.agg(
        F.count(F.lit(1)).alias("_n"),
        F.avg("_dl").alias("_avgdl"),
        F.sum((F.col("near_tf") > 0).cast("long")).alias("_df"),
    )
    scored = per.crossJoin(F.broadcast(stats))
    norm = F.when(
        F.col("_avgdl") > 0, F.lit(b) * F.col("_dl") / F.col("_avgdl")
    ).otherwise(F.lit(0.0))
    tf = F.col("near_tf").cast("double")
    idf = F.log(
        F.lit(1.0)
        + (F.col("_n") - F.col("_df") + F.lit(0.5)) / (F.col("_df") + F.lit(0.5))
    )
    score = (idf * tf * F.lit(k1 + 1.0)) / (
        tf + F.lit(k1) * (F.lit(1.0 - b) + norm)
    )
    return (
        scored.select(F.col(id_col), "near_tf", F.round(score, 6).alias("bm25"))
        .where(F.col("bm25") > 0)
        .orderBy(F.col("bm25").desc(), F.col(id_col))
        .limit(k)
    )


def corpus_vocabulary(
    docs: DataFrame, *, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """The corpus's ``(term, df)`` vocabulary relation under the standard
    analyzer (functions.text.tokens) — df is the document frequency.

    Scale: one corpus tokenization, one vocabulary-keyed aggregate with
    map-side combine (the per-partition distinct term set is vocabulary-
    bounded, so the shuffle carries ~|vocab| rows per partition, not the
    token stream).  This is the same relation the persisted text index
    materializes as ``<index>/terms`` — use that rollup instead when an
    index exists (sources.text_index.fuzzy_from_index).
    """
    docs = ensure_parallelism(docs)
    return (
        docs.select(
            F.col(id_col), F.explode(tokens(F.col(text_col))).alias("term")
        )
        .groupBy("term")
        .agg(F.countDistinct(id_col).alias("df"))
    )


def fuzzy_candidates(
    vocab: DataFrame,
    query_terms: Sequence[str],
    *,
    max_edits: int = 2,
    prefix_len: int = 1,
) -> DataFrame:
    """Per-query-term fuzzy neighborhoods over a ``(term, df)`` vocabulary:
    rows ``(qi, term, df, dist)`` where ``dist = levenshtein(term,
    query_terms[qi]) <= max_edits`` and the first ``prefix_len`` characters
    match exactly (Lucene ``FuzzyQuery``'s prefixLength — the standard lever
    that keeps the candidate set a vocabulary *slice*).

    The O(|t|·|q|) levenshtein only runs on terms that survive the cheap
    length-band + prefix guard (``| |t| - |q| | <= max_edits`` is a
    necessary condition for edit distance).  The per-term work is a narrow
    projection over the vocabulary relation — corpus size never appears.
    """
    qts = [t.lower() for t in query_terms]
    if not qts:
        raise ValueError("fuzzy_candidates needs at least one query term")
    if max_edits < 0:
        raise ValueError("max_edits must be >= 0")
    tlen = F.length(F.col("term"))
    branches = []
    for i, q in enumerate(qts):
        cond = (tlen >= len(q) - max_edits) & (tlen <= len(q) + max_edits)
        if prefix_len > 0:
            cond = cond & F.col("term").startswith(q[:prefix_len])
        branches.append(
            F.struct(
                F.lit(i).alias("qi"),
                F.when(
                    cond, F.levenshtein(F.col("term"), F.lit(q)).cast("long")
                ).alias("dist"),
            )
        )
    return (
        vocab.select(
            "term", "df", F.explode(F.array(*branches)).alias("_m")
        )
        .where(F.col("_m.dist") <= max_edits)
        .select(F.col("_m.qi").alias("qi"), "term", "df", F.col("_m.dist").alias("dist"))
    )


def fuzzy_match_terms(
    docs: DataFrame,
    term: str,
    *,
    max_edits: int = 2,
    prefix_len: int = 1,
    k: int = 50,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Fuzzy term matching (Azure Search's ``term~`` / Lucene FuzzyQuery
    enumeration, re-expressed as a relation): the corpus vocabulary terms
    within ``max_edits`` Levenshtein edits of ``term``, closest first
    (``dist`` asc, then ``df`` desc, then term asc).  Output
    ``(term, df, dist)`` — also the spell-correction primitive ("did you
    mean"): row 1 is the suggested correction.

    The reference's search service resolves fuzzy queries index-side
    (`AzureSearchIndexer/PathIndexClient.cs:49-92` delegates query parsing
    to the service, whose full-Lucene mode enables ``~``); this is the
    scan-time equivalent — :func:`sources.text_index.fuzzy_from_index`
    serves the same relation from the persisted ``(term, df)`` rollup.
    """
    cands = fuzzy_candidates(
        corpus_vocabulary(docs, text_col=text_col, id_col=id_col),
        [term],
        max_edits=max_edits,
        prefix_len=prefix_len,
    )
    return (
        cands.select("term", "df", "dist")
        .orderBy("dist", F.col("df").desc(), "term")
        .limit(k)
    )


def rank_fuzzy_expansions(cands: DataFrame, max_expansions: int) -> list[str]:
    """Shared expansion-selection step for scan-time and index-served fuzzy
    search: per query term keep the ``max_expansions`` closest candidates
    (dist asc, df desc, term asc — Lucene caps FuzzyQuery rewrites the same
    way, default 50), then return the deduped sorted union.

    The collect is model traffic: at most ``max_expansions × |query
    terms|`` rows (the same legitimacy argument as
    :func:`expand_query_terms`'s synonym collect) — Lucene's fuzzy rewrite
    is likewise a planner-side term enumeration.
    """
    w = Window.partitionBy("qi").orderBy("dist", F.col("df").desc(), "term")
    top = (
        cands.withColumn("_rn", F.row_number().over(w))
        .where(F.col("_rn") <= max_expansions)
        .select("term")
        .distinct()
        .collect()
    )
    return sorted(r["term"] for r in top)


def fuzzy_expand_terms(
    docs: DataFrame,
    query_terms: Sequence[str],
    *,
    max_edits: int = 2,
    prefix_len: int = 1,
    max_expansions: int = 50,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> list[str]:
    """Expand a fuzzy query's terms to the concrete vocabulary terms they
    match (sorted, deduped) — the rewrite phase of Lucene's FuzzyQuery.
    Feed the result to :func:`bm25_topk` (which :func:`fuzzy_topk` does).
    """
    return rank_fuzzy_expansions(
        fuzzy_candidates(
            corpus_vocabulary(docs, text_col=text_col, id_col=id_col),
            query_terms,
            max_edits=max_edits,
            prefix_len=prefix_len,
        ),
        max_expansions,
    )


def fuzzy_topk(
    docs: DataFrame,
    query_terms: Sequence[str],
    *,
    max_edits: int = 2,
    prefix_len: int = 1,
    max_expansions: int = 50,
    text_col: str = "text",
    id_col: str = "doc_id",
    k1: float = 1.2,
    b: float = 0.75,
    k: int = 20,
) -> DataFrame:
    """Fuzzy full-text search: BM25 top-``k`` where each query term matches
    any vocabulary term within ``max_edits`` edits (shared ``prefix_len``
    prefix).  Exactly Lucene's two-phase execution: (1) enumerate concrete
    expansion terms from the vocabulary (:func:`fuzzy_expand_terms` — one
    vocabulary-sized job), (2) score the expanded term set with the
    unchanged :func:`bm25_topk` machinery (idf per expanded term, unweighted
    union — the distance-boost variant Lucene's legacy scoring used is
    deliberately omitted; documented engine semantics, like the service's
    BM25-without-proximity default).  Misspelled queries therefore still
    rank: ``["quary", "stroam"]`` scores like ``["query", "stream"]``.

    Scale: phase 1 is vocabulary-bounded (see :func:`fuzzy_candidates`);
    phase 2 is the proven one-scan BM25 shape.  With a persisted index use
    :func:`sources.text_index.query_fuzzy_index`, which serves phase 1 from
    the ``(term, df)`` rollup and phase 2 from bucket-pruned postings.
    """
    expanded = fuzzy_expand_terms(
        docs,
        query_terms,
        max_edits=max_edits,
        prefix_len=prefix_len,
        max_expansions=max_expansions,
        text_col=text_col,
        id_col=id_col,
    )
    if not expanded:
        return docs.select(F.col(id_col)).limit(0).withColumn(
            "bm25", F.lit(0.0)
        )
    return bm25_topk(
        docs,
        expanded,
        text_col=text_col,
        id_col=id_col,
        k1=k1,
        b=b,
        k=k,
    )


def wildcard_like(pattern: str) -> str:
    """Translate a Lucene wildcard pattern (``*`` = any run, ``?`` = one
    char) to a SQL LIKE pattern, escaping LIKE's own metacharacters in the
    literal parts (the same discipline as the path prefix predicate's
    escaping, operators/paths.py P8)."""
    out = []
    for ch in pattern.lower():
        if ch == "*":
            out.append("%")
        elif ch == "?":
            out.append("_")
        elif ch in ("%", "_", "\\"):
            out.append("\\" + ch)
        else:
            out.append(ch)
    return "".join(out)


def wildcard_candidates(
    vocab: DataFrame, patterns: Sequence[str]
) -> DataFrame:
    """Per-pattern wildcard matches over a ``(term, df)`` vocabulary:
    rows ``(qi, term, df, dist)`` (dist is a constant 0 — wildcard matching
    has no edit-distance notion; the column exists so the expansion ranking
    is shared with :func:`fuzzy_candidates` → df desc, term asc).

    A pattern with a literal prefix (``str*``) plans as a pushable
    ``StartsWith`` over the vocabulary relation — against the persisted
    term-sorted ``terms`` rollup that prunes files/row groups, the
    Lucene-style constraint that leading wildcards are the expensive case.
    """
    pats = [p.lower() for p in patterns]
    if not pats:
        raise ValueError("wildcard_candidates needs at least one pattern")
    branches = [
        F.struct(
            F.lit(i).alias("qi"),
            F.when(F.col("term").like(wildcard_like(p)), F.lit(0).cast("long")).alias(
                "dist"
            ),
        )
        for i, p in enumerate(pats)
    ]
    return (
        vocab.select("term", "df", F.explode(F.array(*branches)).alias("_m"))
        .where(F.col("_m.dist").isNotNull())
        .select(
            F.col("_m.qi").alias("qi"), "term", "df", F.col("_m.dist").alias("dist")
        )
    )


def wildcard_match_terms(
    docs: DataFrame,
    pattern: str,
    *,
    k: int = 50,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Wildcard term enumeration (Azure Search simple-syntax ``*`` suffix /
    full-Lucene WildcardQuery): corpus vocabulary terms matching
    ``pattern``, ranked df desc then term asc.  Output ``(term, df)``."""
    cands = wildcard_candidates(
        corpus_vocabulary(docs, text_col=text_col, id_col=id_col), [pattern]
    )
    return (
        cands.select("term", "df")
        .orderBy(F.col("df").desc(), "term")
        .limit(k)
    )


def wildcard_topk(
    docs: DataFrame,
    patterns: Sequence[str],
    *,
    max_expansions: int = 50,
    text_col: str = "text",
    id_col: str = "doc_id",
    k1: float = 1.2,
    b: float = 0.75,
    k: int = 20,
) -> DataFrame:
    """Wildcard full-text search: expand each pattern to its concrete
    vocabulary matches (df desc, capped ``max_expansions`` — Lucene's
    scoring-boolean rewrite cap), then score the expanded set with the
    unchanged :func:`bm25_topk`.  Same two-phase shape as
    :func:`fuzzy_topk`; with a persisted index use
    :func:`sources.text_index.query_wildcard_index`."""
    expanded = rank_fuzzy_expansions(
        wildcard_candidates(
            corpus_vocabulary(docs, text_col=text_col, id_col=id_col), patterns
        ),
        max_expansions,
    )
    if not expanded:
        return docs.select(F.col(id_col)).limit(0).withColumn(
            "bm25", F.lit(0.0)
        )
    return bm25_topk(
        docs, expanded, text_col=text_col, id_col=id_col, k1=k1, b=b, k=k
    )
