"""Deduplication operators for the training-data pipeline.

Beyond the reference's per-key last-writer-wins dedup (W1,
operators/upsert.py), a 100 TB document corpus needs *content* dedup.  Every
operator here is banded/bucketed: candidate generation is always an equi-join
on a derived bucket key — never an all-pairs ``crossJoin`` — so the shuffle
is proportional to (docs × bands), not docs².

Hashing uses :func:`azuredatalakeindexer_spark.functions.text.portable_hash64`
(md5-derived) so the DuckDB correctness oracle replays the exact pipeline in
SQL.  Pure Catalyst expressions throughout; no Python UDFs.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, Window

from azuredatalakeindexer_spark.operators.util import ensure_parallelism
from azuredatalakeindexer_spark.functions.text import (
    band_key,
    gram_hashes,
    minhash_signature,
    portable_hash64,
    tokens,
    word_ngrams,
)


def exact_dedup(docs: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Exact dedup: hash-groupBy on normalized content, smallest id survives.

    One shuffle on the 128-bit content hash; map-side partial aggregation
    keeps the shuffle at one row per distinct hash per partition.
    """
    norm = F.md5(F.regexp_replace(F.lower(F.col(text_col)), r"\s+", " "))
    docs = ensure_parallelism(docs)
    return (
        docs.select(F.col(id_col), norm.alias("content_hash"))
        .groupBy("content_hash")
        .agg(F.min(id_col).alias(id_col), F.count(F.lit(1)).alias("dup_count"))
    )


def _shingled(docs: DataFrame, text_col: str, id_col: str, shingle: int) -> DataFrame:
    docs = ensure_parallelism(docs)
    toks = tokens(F.col(text_col))
    return docs.select(
        F.col(id_col), F.array_distinct(word_ngrams(toks, shingle)).alias("grams")
    ).where(F.size("grams") > 0)


def _bucket_pairs(buckets: DataFrame, xs_col: str = "xs"):
    """All ordered pairs (a < b by the struct's first field) within each
    bucket's collected member array.

    Pair generation INSIDE the grouped bucket (collect_list → nested
    transform → explode) instead of a bucket self-join: the expensive
    upstream (tokenize/shingle/hash) is computed ONCE instead of once per
    join side, and no join appears in the plan at all.  Memory per bucket is
    O(bucket size) — callers bound bucket sizes (doc-frequency caps, band
    hashes) before grouping.
    """
    pairs = F.filter(
        F.flatten(
            F.transform(
                F.col(xs_col),
                lambda a: F.transform(F.col(xs_col), lambda b: F.struct(a.alias("a"), b.alias("b"))),
            )
        ),
        lambda p: p["a"] < p["b"],
    )
    return buckets.select(F.explode(pairs).alias("p"))


def _bounded_bucket_pairs(
    members: DataFrame,
    bucket_cols: list[str],
    member_col: str,
    max_clique: int = 64,
) -> DataFrame:
    """Bucket-local pairs with a hard memory bound per bucket.

    Buckets of ≤ ``max_clique`` members emit the full clique via
    :func:`_bucket_pairs` (collect_list is therefore bounded at
    ``max_clique`` elements — the only place a bucket is ever materialized
    in a row).  Oversized buckets — boilerplate-identical documents — emit a
    linear *star* around the smallest member instead: each member pairs with
    the bucket minimum, computed with plain window functions, so no task
    ever holds the bucket in memory and output stays O(bucket size) instead
    of O(bucket size²).  A star loses intra-bucket transitive pairs, but an
    oversized LSH bucket means its members are near-identical: under the
    connected-components clustering any consumer applies next, the star
    yields the same clusters as the clique.

    ``member_col`` must be orderable with a unique-per-bucket leading id
    (plain id column, or a struct whose first field is the id) so the star
    representative is deterministic.  Returns columns ``a``, ``b`` with
    ``a < b``.
    """
    w = Window.partitionBy(*bucket_cols)
    # the clique and star branches below are separate subplans of a union —
    # Spark would recompute the expensive upstream (tokenize/hash/band) once
    # per branch.  Materialize the sized membership once (localCheckpoint:
    # executor memory+disk, lineage truncated; one row per bucket member).
    # At 100 TB persist to a table / reliable checkpoint instead — an
    # executor loss forces a full localCheckpoint recompute.
    sized = (
        members.withColumn("_bsz", F.count(F.lit(1)).over(w))
        .withColumn("_rep", F.min(member_col).over(w))
        .localCheckpoint()
    )
    small = (
        sized.where((F.col("_bsz") > 1) & (F.col("_bsz") <= max_clique))
        .groupBy(*bucket_cols)
        .agg(F.collect_list(member_col).alias("xs"))
    )
    clique = _bucket_pairs(small).select(F.col("p.a").alias("a"), F.col("p.b").alias("b"))
    star = sized.where(
        (F.col("_bsz") > max_clique) & (F.col(member_col) != F.col("_rep"))
    ).select(F.col("_rep").alias("a"), F.col(member_col).alias("b"))
    return clique.unionByName(star)


def minhash_lsh_pairs(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 8,
    bands: int = 4,
    shingle: int = 3,
    max_bucket_size: int = 64,
) -> DataFrame:
    """MinHash + LSH near-duplicate candidate pairs.

    shingle → minhash signature → band → bucket equi-join (the classic
    banding scheme, MMDS ch.3): docs agreeing on any band of the signature
    become a candidate pair.  The join key is ``(band_id, band_hash)`` — a
    plain hash-shuffle equi-join.  Hot buckets (boilerplate shingles) are
    AQE-skew-split; the band hash is 128-bit so false fusion is negligible.
    Buckets above ``max_bucket_size`` members emit a linear star instead of
    the O(m²) clique (see :func:`_bounded_bucket_pairs`) — the mega-bucket
    guard for boilerplate-heavy corpora.

    Returns distinct ``(id_a, id_b)`` with ``id_a < id_b``.
    """
    band_size = num_hashes // bands
    sh = _shingled(docs, text_col, id_col, shingle)
    # base hashes in their OWN projection: one md5 per gram, reused by all
    # num_hashes affine re-hashes (CollapseProject keeps the expensive
    # md5-array from being duplicated into each signature slot)
    hashed = sh.select(F.col(id_col), gram_hashes(F.col("grams")).alias("hs"))
    sig = hashed.select(F.col(id_col), minhash_signature(F.col("hs"), num_hashes).alias("sig"))
    banded = sig.select(
        F.col(id_col),
        F.explode(
            F.array(*[
                F.struct(F.lit(b).alias("band"), band_key(F.col("sig"), b, band_size).alias("bh"))
                for b in range(bands)
            ])
        ).alias("bk"),
    ).select(id_col, "bk.band", "bk.bh")
    return (
        _bounded_bucket_pairs(banded, ["band", "bh"], id_col, max_bucket_size)
        .select(F.col("a").alias("id_a"), F.col("b").alias("id_b"))
        .distinct()
    )


def ngram_jaccard_pairs(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    shingle: int = 3,
    threshold: float = 0.5,
    max_doc_freq: int = 50,
) -> DataFrame:
    """Exact n-gram Jaccard similarity over bucket-generated candidates.

    Candidates come from sharing at least one *rare* shingle (document
    frequency ≤ ``max_doc_freq``): common boilerplate shingles are dropped
    before the self-join, which caps the per-key fan-out — the standard
    "stop-shingle" guard that keeps the join linear-ish at corpus scale.
    The rare-shingle index generates CANDIDATES only; surviving pairs then
    recompute the intersection exactly over ALL grams (``array_intersect``
    on the two shingle sets), so the reported score is the true
    ``|A∩B| / (|A| + |B| - |A∩B|)`` — counting only rare shared shingles
    would systematically underestimate pairs that also share common ones.

    The candidate filter is still one-sided: a pair whose every shared
    shingle is common (df > ``max_doc_freq``) is never generated — the
    standard, documented trade of the stop-shingle scheme (such pairs are
    boilerplate-overlap, not content-overlap).

    The shingle relation feeds candidate generation AND two rescoring
    joins, so it is materialized once (``localCheckpoint``: executor
    memory+disk, lineage truncated) instead of tokenizing the corpus three
    times — 5× faster at sf0.1.  On a multi-executor cluster an executor
    loss forces a full recompute of a localCheckpoint; for a 100 TB corpus
    persist the shingle relation to a table (or ``checkpoint()`` on a
    reliable store) between the two phases instead.

    Candidates are pruned by the exact size-ratio bound before any array
    is shuffled: ``J(A,B) = |A∩B|/|A∪B| ≤ min(|A|,|B|)/max(|A|,|B|)``, so a
    pair whose gram-count ratio is below ``threshold`` can never reach it.

    Returns ``(id_a, id_b, jaccard)`` for pairs ≥ threshold.
    """
    sh = _shingled(docs, text_col, id_col, shingle).localCheckpoint()
    # The candidate pass only needs gram IDENTITY (df count + bucket
    # membership) — never gram content — so shuffle an 8-byte xxhash64 of
    # each shingle instead of its text (r15, SCALE.md / guide §2.3
    # "shuffle keys and metadata instead of payloads"): this is the
    # engine's widest per-row shuffle (one row per (doc, gram) — the
    # whole token stream).  A 64-bit collision merging two distinct
    # shingles' buckets is the only behavior delta; a spurious merged
    # candidate is killed by the EXACT rescore below, and a df inflated
    # past max_doc_freq needs colliding grams inside one rare bucket —
    # ~2^-64 per gram pair, astronomically below the fixture scales the
    # oracle replays (verified hash-identical at sf0.001/0.01/0.1).
    exploded = sh.select(
        F.struct(F.col(id_col).alias("id"), F.size("grams").alias("n")).alias("doc"),
        F.explode("grams").alias("gram"),
    ).select("doc", F.xxhash64("gram").alias("gram"))
    # the doc-frequency cap is applied BEFORE any array is built: a window
    # count sizes each gram bucket (no arrays, spillable sort state), the
    # filter drops singleton and boilerplate grams, and only then does
    # collect_list materialize a bucket — so no task ever holds a
    # mega-bucket (df = 10^8 boilerplate shingle) in memory.  The window
    # and the groupBy share the gram partitioning, so Catalyst plans ONE
    # exchange for both.
    wg = Window.partitionBy("gram")
    buckets = (
        exploded.withColumn("_df", F.count(F.lit(1)).over(wg))
        .where((F.col("_df") > 1) & (F.col("_df") <= max_doc_freq))
        .groupBy("gram")
        .agg(F.collect_list("doc").alias("xs"))
    )
    cand = (
        _bucket_pairs(buckets)
        .where(
            F.least("p.a.n", "p.b.n")
            >= F.lit(threshold) * F.greatest("p.a.n", "p.b.n")
        )
        .select(F.col("p.a.id").alias("id_a"), F.col("p.b.id").alias("id_b"))
        .distinct()
    )
    # exact rescoring: two hash-joins back to the materialized (id, grams)
    # relation — bounded by candidate count, and the gram arrays never
    # shuffle more than once per side
    ga = sh.select(F.col(id_col).alias("id_a"), F.col("grams").alias("_ga"))
    gb = sh.select(F.col(id_col).alias("id_b"), F.col("grams").alias("_gb"))
    return (
        cand.join(ga, "id_a")
        .join(gb, "id_b")
        .withColumn("_inter", F.size(F.array_intersect("_ga", "_gb")))
        .withColumn(
            "jaccard",
            F.round(
                F.col("_inter")
                / (F.size("_ga") + F.size("_gb") - F.col("_inter")),
                6,
            ),
        )
        .where(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )


def simhash_docs(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    bits: int = 32,
) -> DataFrame:
    """Per-document SimHash (Charikar 2002): sign of the per-bit vote sum over
    token hashes.

    Implemented as explode → groupBy(doc) with ``bits`` conditional sums —
    one shuffle, map-side combined, no UDFs.  Returns ``(id, simhash)``.
    """
    tok = ensure_parallelism(docs).select(F.col(id_col), F.explode(tokens(F.col(text_col))).alias("tok"))
    hashed = tok.select(F.col(id_col), portable_hash64(F.col("tok"), seed=99).alias("h"))
    votes = [
        F.sum(
            F.when(F.shiftright(F.col("h"), b).bitwiseAND(F.lit(1)) == 1, 1).otherwise(-1)
        ).alias(f"v{b}")
        for b in range(bits)
    ]
    agg = hashed.groupBy(id_col).agg(*votes)
    sim = None
    for b in range(bits):
        bit = F.when(F.col(f"v{b}") > 0, F.lit(2 ** b).cast("bigint")).otherwise(F.lit(0).cast("bigint"))
        sim = bit if sim is None else sim + bit
    return agg.select(F.col(id_col), sim.alias("simhash"))


def simhash_pairs(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    bits: int = 32,
    max_hamming: int = 3,
    chunks: int = 4,
    max_bucket_size: int = 64,
) -> DataFrame:
    """SimHash near-dup pairs within a Hamming radius.

    Pigeonhole banding: with the fingerprint split into ``chunks`` equal bit
    blocks, any pair within ``max_hamming < chunks`` differing bits agrees on
    at least one block — so candidates come from an equi-join on
    ``(block_id, block_value)``, then the exact Hamming distance
    (``bit_count(a XOR b)``) filters.  Buckets above ``max_bucket_size``
    emit a star around the min-id member instead of the O(m²) clique
    (:func:`_bounded_bucket_pairs`); a star pair outside the Hamming radius
    is still dropped by the exact filter.  Returns ``(id_a, id_b, hamming)``.
    """
    assert max_hamming < chunks, "pigeonhole guarantee needs max_hamming < chunks"
    chunk_bits = bits // chunks
    sh = simhash_docs(docs, text_col, id_col, bits)
    blocks = sh.select(
        F.struct(F.col(id_col).alias("id"), F.col("simhash").alias("sh")).alias("doc"),
        F.explode(
            F.array(*[
                F.struct(
                    F.lit(c).alias("block"),
                    F.shiftright(F.col("simhash"), c * chunk_bits)
                    .bitwiseAND(F.lit((1 << chunk_bits) - 1))
                    .alias("bv"),
                )
                for c in range(chunks)
            ])
        ).alias("blk"),
    ).select("doc", "blk.block", "blk.bv")
    return (
        _bounded_bucket_pairs(blocks, ["block", "bv"], "doc", max_bucket_size)
        .select(
            F.col("a.id").alias("id_a"),
            F.col("b.id").alias("id_b"),
            F.col("a.sh").alias("sh_a"),
            F.col("b.sh").alias("sh_b"),
        )
        .distinct()
        .withColumn("hamming", F.bit_count(F.col("sh_a").bitwiseXOR(F.col("sh_b"))))
        .where(F.col("hamming") <= max_hamming)
        .select("id_a", "id_b", "hamming")
    )


def connected_components(
    pairs: DataFrame,
    src: str = "id_a",
    dst: str = "id_b",
    max_iter: int = 20,
) -> DataFrame:
    """Connected components over a near-dup pair graph: ``(id, cluster_id)``
    with ``cluster_id = min(id)`` of the component.

    This is the step that turns pairwise near-dup evidence into the keep/drop
    decision of a training-data pipeline: one canonical document (the
    min-id member) survives per component.

    Hash-to-min label propagation: every vertex starts labeled with itself;
    each round every vertex takes the min label over itself and its
    neighbors (one equi-join + one map-side-combined groupBy per round —
    never an all-pairs product), until a round changes nothing.  Rounds
    needed = graph diameter; LSH near-dup graphs are unions of bucket
    cliques/stars, so diameter is small (single digits) regardless of corpus
    size.  Labels are ``localCheckpoint``-ed each round to truncate the
    growing lineage; the only driver-side value is the per-round label sum
    (one decimal — convergence test, see below).  At 100 TB swap the
    localCheckpoint for a reliable ``checkpoint()``/table write between
    rounds.

    The pair input is typically :func:`minhash_lsh_pairs`,
    :func:`simhash_pairs` or :func:`ngram_jaccard_pairs` output; isolated
    vertices (docs in no pair) are not represented — callers union them
    back as their own singleton cluster if needed.
    """
    # materialize the (usually expensive) pair pipeline ONCE before the
    # symmetric-closure union — the two union branches would otherwise each
    # recompute the full upstream (LSH banding, bucket explosion, ...)
    directed = pairs.select(F.col(src).alias("s"), F.col(dst).alias("d")).localCheckpoint()
    edges = (
        directed.unionByName(directed.select(F.col("d").alias("s"), F.col("s").alias("d")))
        .distinct()
        .localCheckpoint()
    )
    labels = (
        edges.select(F.col("s").alias("id"))
        .distinct()
        .select("id", F.col("id").alias("cluster_id"))
        .localCheckpoint()
    )
    # labels only ever decrease (min over self+neighbors), so the label SUM
    # strictly decreases iff any vertex changed — a map-side-combined agg per
    # round instead of an O(V) join-and-compare.  decimal(38,0) keeps the sum
    # exact for 64-bit ids at any vertex count.
    label_sum = lambda df: df.agg(  # noqa: E731
        F.sum(F.col("cluster_id").cast("decimal(38,0)")).alias("s")
    ).collect()[0]["s"]
    prev_sum = label_sum(labels)
    for _ in range(max_iter):
        neighbor = edges.join(labels, edges["d"] == labels["id"]).select(
            F.col("s").alias("id"), F.col("cluster_id")
        )
        new_labels = (
            labels.unionByName(neighbor)
            .groupBy("id")
            .agg(F.min("cluster_id").alias("cluster_id"))
            .localCheckpoint()
        )
        new_sum = label_sum(new_labels)
        labels = new_labels
        if new_sum == prev_sum:
            break
        prev_sum = new_sum
    return labels


def dedup_cluster_assignments(
    docs: DataFrame,
    pairs: DataFrame,
    id_col: str = "doc_id",
) -> DataFrame:
    """Cluster assignment for every document: ``(doc_id, cluster_id,
    is_canonical)``.

    Documents in no near-dup pair are their own singleton cluster; the
    canonical (kept) document of each cluster is its min id.  The join back
    to ``docs`` is a left join on the id — one shuffle, and the component
    labels relation is tiny relative to the corpus (only docs that appear
    in some pair).
    """
    labels = connected_components(pairs)
    return (
        docs.select(F.col(id_col))
        .join(labels.withColumnRenamed("id", id_col), id_col, "left")
        .select(
            F.col(id_col),
            F.coalesce("cluster_id", F.col(id_col)).alias("cluster_id"),
            (F.coalesce("cluster_id", F.col(id_col)) == F.col(id_col))
            .cast("int")
            .alias("is_canonical"),
        )
    )


def span_dedup(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    span_words: int = 10,
    broadcast_repeats: bool = False,
) -> DataFrame:
    """Span-level exact dedup (the C4/RefinedWeb line-dedup technique at
    word-chunk granularity): split each document into consecutive
    ``span_words``-word chunks, drop every chunk whose exact content already
    appeared earlier in the corpus — first occurrence by ``(doc_id, pos)``
    survives — and reassemble each document's surviving text.

    Unlike whole-document dedup this removes boilerplate *inside* otherwise
    distinct documents (headers, licence blocks, navigation).  Scale shape:
    one shuffle on the chunk hash (the window), one on ``doc_id`` for both
    reassembly and totals (same partitioning, one exchange reused), no
    joins against the corpus body.

    ``broadcast_repeats=True`` is the 100 TB path: a hash-only aggregate
    finds the spans that occur more than once, that (small) hash set is
    broadcast back, and ONLY repeated spans enter the first-occurrence
    window — singleton spans, the vast majority of a real corpus, never
    leave their input partition and their text never rides a shuffle.  The
    default windows everything (fewer jobs; right when duplication is
    heavy, as in this fixture).  Results are identical either way.

    Returns ``(id_col, n_chunks, n_kept, cleaned)``: one row for EVERY input
    document — docs whose every chunk was dropped keep ``n_kept = 0`` and
    empty ``cleaned``, and docs with no chunks at all (empty/whitespace-only
    text) appear with ``n_chunks = 0`` rather than vanishing, so a pipeline
    reassembling the corpus from this output never loses a document (ADVICE
    r4).
    """
    docs = ensure_parallelism(docs)
    toks = docs.select(F.col(id_col), tokens(F.col(text_col)).alias("_t"))
    n_chunks = F.ceil(F.size("_t") / span_words).cast("int")
    # _t is a bound column attribute, so lambda references are cheap reads
    # (the word_ngrams lambda-CSE trap applies to inline expressions only)
    chunk_list = F.when(
        n_chunks > 0,
        F.transform(
            F.sequence(F.lit(0), n_chunks - 1),
            lambda i: F.array_join(F.slice("_t", i * span_words + 1, span_words), " "),
        ),
    ).otherwise(F.array().cast("array<string>"))
    chunks = toks.select(
        id_col, F.posexplode(chunk_list).alias("pos", "chunk")
    ).localCheckpoint()
    # feeds the window AND the totals (and, under broadcast_repeats, two
    # more joins); tokenize once.  Blocks are released by the ContextCleaner
    # once the returned frame is GC'd — same lifecycle as the other
    # localCheckpoint relations (ngram_jaccard, _bounded_bucket_pairs)
    w = Window.partitionBy("_h").orderBy(F.col(id_col).asc(), F.col("pos").asc())
    hashed = chunks.withColumn("_h", F.md5("chunk"))
    if broadcast_repeats:
        # hash-only shuffle to find repeated spans; chunk TEXT stays put
        repeats = (
            hashed.groupBy("_h")
            .agg(F.count(F.lit(1)).alias("_c"))
            .where(F.col("_c") > 1)
            .select("_h")
        )
        repeated = hashed.join(F.broadcast(repeats), "_h", "left_semi")
        singles = hashed.join(F.broadcast(repeats), "_h", "left_anti")
        survivors = singles.unionByName(
            repeated.withColumn("_rn", F.row_number().over(w))
            .where(F.col("_rn") == 1)
            .drop("_rn")
        ).select(id_col, "pos", "chunk")
    else:
        # Narrow first-occurrence pass (r15, SCALE.md "drop the text until
        # the survivors join back" / guide §2.3, §8): the window only
        # needs (hash, id, pos) to DECIDE — shuffling chunk TEXT through
        # the hash exchange and then again through the doc reassembly
        # moved every corpus byte twice.  Shuffle the 3-column key
        # relation on the hash and re-attach the winners' text from the
        # checkpointed chunk relation with a left-semi join on (id, pos) —
        # a hash lookup per chunk, not a scan of the doc's surviving-
        # position list.  The survivor set is identical (same window,
        # same (id, pos) ordering, positions are unique per doc).
        winners = (
            chunks.select(id_col, "pos", F.md5("chunk").alias("_h"))
            .withColumn("_rn", F.row_number().over(w))
            .where(F.col("_rn") == 1)
            .select(id_col, "pos")
        )
        survivors = chunks.join(winners, [id_col, "pos"], "left_semi").select(
            id_col, "pos", "chunk"
        )
    kept = (
        survivors.groupBy(id_col)
        .agg(
            F.count(F.lit(1)).alias("n_kept"),
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("pos", "chunk"))),
                    lambda s: s["chunk"],
                ),
                " ",
            ).alias("cleaned"),
        )
    )
    # anchor totals on the full doc-id relation (an id-only pruned scan) so
    # zero-chunk documents survive with n_chunks = 0
    totals = (
        docs.select(F.col(id_col))
        .join(
            chunks.groupBy(id_col).agg(F.count(F.lit(1)).alias("n_chunks")),
            id_col,
            "left",
        )
        .select(
            F.col(id_col),
            F.coalesce("n_chunks", F.lit(0)).cast("bigint").alias("n_chunks"),
        )
    )
    return totals.join(kept, id_col, "left").select(
        id_col,
        "n_chunks",
        F.coalesce("n_kept", F.lit(0)).cast("bigint").alias("n_kept"),
        F.coalesce("cleaned", F.lit("")).alias("cleaned"),
    )


def cluster_canonical(
    scored: DataFrame,
    cluster_col: str = "cluster_id",
    id_col: str = "doc_id",
    quality_col: str = "quality",
) -> DataFrame:
    """Canonical-document selection per near-dup cluster: keep the highest-
    quality member (id as the deterministic tie-break) instead of the
    min-id default of :func:`dedup_cluster_assignments` — the curation
    pipeline's actual keep/drop rule between clustering and corpus
    assembly.

    One shuffle on ``cluster_col``; the size window and the rank window
    share the partitioning, so Catalyst plans a single exchange.  Adds
    ``n_members`` so downstream mix accounting knows how much duplication
    each survivor represents.
    """
    wc = Window.partitionBy(cluster_col)
    w = Window.partitionBy(cluster_col).orderBy(
        F.col(quality_col).desc(), F.col(id_col).asc()
    )
    return (
        scored.withColumn("n_members", F.count(F.lit(1)).over(wc).cast("bigint"))
        .withColumn("_rn", F.row_number().over(w))
        .where(F.col("_rn") == 1)
        .drop("_rn")
    )

