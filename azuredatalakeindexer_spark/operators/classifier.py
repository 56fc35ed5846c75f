"""Hash-trick linear quality classifier — fasttext-shaped, Catalyst-native.

Corpus curation pipelines score every document with a cheap linear model
(quality classifier, domain classifier, educational-value scorer) and
filter/sample on the score.  At 100 TB the model must come to the data:
here the model IS a tiny ``(bucket, weight)`` relation — features are
hashed bag-of-words buckets (the hashing trick; Weinberger et al. 2009),
so scoring is

    tokens → bucket = portable_hash64(token) % dim
           → broadcast-join the weight table
           → one groupBy(doc) sum

ONE shuffle of token-count rows hash-partitioned by doc id, a broadcast
of ``dim`` weights, zero Python.  Training (batch gradient descent) keeps
the same shape per iteration: score, per-doc error, one groupBy(bucket)
gradient — the ``dim``-row model round-trips the driver each iteration,
which is legitimate model traffic, NOT data movement.

The reference has no classifier; this extends its filter family (SURVEY
§2.2) to the score-and-filter stage every LLM data pipeline needs.  The
driver query scores with DETERMINISTIC reference weights (integer
arithmetic both engines replay exactly); trained weights are pinned by
pytest on a planted two-class corpus.
"""

from __future__ import annotations

import math

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

from azuredatalakeindexer_spark.functions.localrel import tiny_df
from azuredatalakeindexer_spark.functions.text import portable_hash64, tokens

#: default hashed-feature dimensionality.  Fixture-scale; size it like any
#: hashing-trick model at corpus scale (2^18–2^20) — collisions degrade
#: accuracy smoothly, never correctness or the plan.
HASH_DIM = 4096
#: reference-weight modulus (prime) and Knuth multiplicative constant for
#: the deterministic pseudo-weights: w_int(b) = ((b+1)*MULT) % MOD - HALF,
#: a centered integer in [-HALF, HALF] — pure int64 arithmetic, so Spark
#: and DuckDB agree bit-for-bit with no float-summation-order concerns.
WEIGHT_MOD = 1_000_003
WEIGHT_MULT = 2_654_435_761
WEIGHT_HALF = (WEIGHT_MOD - 1) // 2
#: sigmoid steepness for the normalized margin (z ∈ [-SCALE, SCALE])
SCALE = 8.0


def bucket_of(token: F.Column) -> F.Column:
    """Feature bucket of a token: portable 60-bit hash mod HASH_DIM-param
    is applied by callers; this is just the hash (kept separate so dim is
    an explicit argument everywhere)."""
    return portable_hash64(token)


def hashed_features(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    dim: int = HASH_DIM,
) -> DataFrame:
    """``(id, bucket, tf, n_tokens)`` hashed bag-of-words rows.

    One explode + one groupBy(id, bucket) with map-side partial
    aggregation; ``n_tokens`` rides along via a window-free second
    grouping on id under the same hash partitioning.
    """
    tok = docs.select(
        F.col(id_col), F.explode(tokens(F.col(text_col))).alias("tok")
    )
    b = tok.select(
        F.col(id_col), F.pmod(bucket_of(F.col("tok")), F.lit(dim)).alias("bucket")
    )
    tf = b.groupBy(id_col, "bucket").agg(F.count(F.lit(1)).alias("tf"))
    n = tf.groupBy(id_col).agg(F.sum("tf").alias("n_tokens"))
    return tf.join(n, id_col)


def reference_weights(spark: SparkSession, dim: int = HASH_DIM) -> DataFrame:
    """Deterministic centered-integer weights — the cross-engine-exact
    stand-in for a trained model in the correctness gate."""
    return spark.range(dim).select(
        F.col("id").alias("bucket"),
        (
            (F.col("id") + 1) * F.lit(WEIGHT_MULT) % F.lit(WEIGHT_MOD)
            - F.lit(WEIGHT_HALF)
        ).alias("w_int"),
    )


def score_documents(
    docs: DataFrame,
    weights: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    dim: int = HASH_DIM,
) -> DataFrame:
    """Linear score per document with integer weights ``(bucket, w_int)``.

    Output: ``(id, n_tokens, margin_int, score)`` where ``margin_int =
    Σ w_int(bucket(token))`` over token INSTANCES (exact int64 — immune
    to float summation order, so the oracle matches bit-for-bit) and
    ``score = sigmoid(SCALE · margin_int / (n_tokens · WEIGHT_HALF))``
    rounded to 6 places.  Tokenless documents score sigmoid(0) = 0.5.

    Plan: explode → broadcast hash join (dim-row weight table) → ONE
    shuffle (groupBy id) → left join back to docs on the same id key.
    """
    tok = docs.select(
        F.col(id_col), F.explode(tokens(F.col(text_col))).alias("tok")
    )
    b = tok.select(
        F.col(id_col), F.pmod(bucket_of(F.col("tok")), F.lit(dim)).alias("bucket")
    )
    m = (
        b.join(F.broadcast(weights), "bucket")
        .groupBy(id_col)
        .agg(
            F.sum("w_int").alias("margin_int"),
            F.count(F.lit(1)).alias("n_tokens"),
        )
    )
    z = (
        F.lit(SCALE)
        * F.col("margin_int")
        / (F.col("n_tokens") * F.lit(float(WEIGHT_HALF)))
    )
    scored = m.select(
        F.col(id_col),
        "n_tokens",
        "margin_int",
        F.round(F.lit(1.0) / (F.lit(1.0) + F.exp(-z)), 6).alias("score"),
    )
    return (
        docs.select(id_col)
        .join(scored, id_col, "left")
        .select(
            F.col(id_col),
            F.coalesce("n_tokens", F.lit(0)).alias("n_tokens"),
            F.coalesce("margin_int", F.lit(0)).alias("margin_int"),
            F.coalesce("score", F.lit(0.5)).alias("score"),
        )
    )


def train_classifier(
    docs: DataFrame,
    labels: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    label_col: str = "y",
    dim: int = HASH_DIM,
    iters: int = 15,
    lr: float = 2.0,
) -> tuple[DataFrame, float]:
    """Logistic regression by batch gradient descent over hashed features.

    ``labels``: ``(id, y ∈ {0,1})``.  Features are tf/n_tokens (length-
    normalized).  Each iteration: broadcast the dim-row weight table,
    score every doc (one shuffle), compute per-doc error, aggregate the
    per-bucket gradient (one shuffle), and round-trip the ``dim``-row
    model through the driver — model traffic, like kmeans.  Returns
    ``(weights(bucket, w), bias)``.

    The feature relation is computed ONCE and localCheckpoint-ed (at real
    scale persist it to a table) — iterations never re-tokenize.
    """
    spark = docs.sparkSession
    feats = (
        hashed_features(docs, text_col, id_col, dim)
        .join(labels.select(F.col(id_col), F.col(label_col).alias("_y")), id_col)
        .select(
            id_col,
            "bucket",
            (F.col("tf") / F.col("n_tokens")).alias("x"),
            "_y",
        )
        .localCheckpoint()
    )
    n_docs = feats.select(id_col).distinct().count()
    w: dict[int, float] = {}
    bias = 0.0
    for _ in range(iters):
        if w:
            wdf = tiny_df(
                spark, [(b, v) for b, v in w.items()], "bucket long, w double"
            )
            joined = feats.join(F.broadcast(wdf), "bucket", "left").withColumn(
                "w", F.coalesce("w", F.lit(0.0))
            )
        else:
            joined = feats.withColumn("w", F.lit(0.0))
        err = (
            joined.groupBy(id_col)
            .agg(
                F.first("_y").alias("_y"),
                F.sum(F.col("x") * F.col("w")).alias("z"),
            )
            .select(
                id_col,
                (
                    F.col("_y")
                    - F.lit(1.0) / (F.lit(1.0) + F.exp(-(F.col("z") + F.lit(bias))))
                ).alias("e"),
            )
        )
        grad_rows = (
            feats.join(err, id_col)
            .groupBy("bucket")
            .agg(F.sum(F.col("x") * F.col("e")).alias("g"))
            .collect()
        )
        mean_err = err.agg(F.avg("e")).first()[0] or 0.0
        bias += lr * mean_err
        for r in grad_rows:
            w[r["bucket"]] = w.get(r["bucket"], 0.0) + lr * r["g"] / max(n_docs, 1)
    wdf = tiny_df(
        spark, [(b, v) for b, v in w.items()] or [(0, 0.0)], "bucket long, w double"
    )
    return wdf, bias


def score_with_trained(
    docs: DataFrame,
    weights: DataFrame,
    bias: float,
    text_col: str = "text",
    id_col: str = "doc_id",
    dim: int = HASH_DIM,
) -> DataFrame:
    """Float-weight scoring path for trained models: length-normalized
    features, same broadcast-join + one-shuffle plan as score_documents."""
    feats = hashed_features(docs, text_col, id_col, dim).select(
        id_col, "bucket", (F.col("tf") / F.col("n_tokens")).alias("x")
    )
    m = (
        feats.join(F.broadcast(weights), "bucket", "left")
        .withColumn("w", F.coalesce("w", F.lit(0.0)))
        .groupBy(id_col)
        .agg(F.sum(F.col("x") * F.col("w")).alias("z"))
        .select(
            F.col(id_col),
            (
                F.lit(1.0)
                / (F.lit(1.0) + F.exp(-(F.col("z") + F.lit(bias))))
            ).alias("score"),
        )
    )
    return docs.select(id_col).join(m, id_col, "left").fillna(
        {"score": 1.0 / (1.0 + math.exp(-bias))}
    )
