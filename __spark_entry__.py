"""Driver contract for the spark-graft builder (PySpark target).

Every operator from SURVEY.md §2 (plus the LLM-data-pipeline extensions) is
registered as a ``queries()`` entry; each SQL-expressible one has a DuckDB
oracle in ``oracle_sql()``.  The reference's logical tables (path index, lake
listing, blob events) are derived deterministically from the driver fixtures
by ``azuredatalakeindexer_spark.sources.fixtures``; the oracle reproduces the
same derivation as SQL CTEs, so both engines compute the identical relation.

Cross-engine parity rules used throughout (verified empirically):
- surrogate keys: Spark ``base64`` CRLF-stripped == DuckDB ``to_base64``
- portable hash:  ``conv(substr(md5(x),1,15),16,10)`` == ``('0x'||substr(md5(x),1,15))::BIGINT``
- timestamps are output as formatted strings (``date_format`` == ``strftime``)
- float aggregates are summed in DECIMAL(18,2) (exact) and output as
  ``round(cast(… as double), n)``; ratios divide exact values in IEEE double
- Spark int-typed outputs (size/row_number/octet_length) are matched with
  ``::INT`` casts in the oracle (DuckDB defaults to BIGINT/HUGEINT)
"""

from __future__ import annotations

import os
import shutil
import tempfile
from collections.abc import Callable

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession, Window

from azuredatalakeindexer_spark.functions.keys import doc_size_bytes, url_decode_path
from azuredatalakeindexer_spark.operators import (
    ListPathsOptions,
    apply_deletes,
    attach_binary_payload,
    classify_upserts,
    dedup_cluster_assignments,
    dedup_last_writer,
    exact_dedup,
    extract_features,
    events_to_path_rows,
    fingerprints,
    language_id,
    list_paths,
    merge_upsert,
    minhash_lsh_pairs,
    ngram_jaccard_pairs,
    plan_batches,
    quality_score,
    simhash_docs,
    simhash_pairs,
    token_stats,
    upsert_status_counts,
)
from azuredatalakeindexer_spark.sources.fixtures import (
    WATERMARK,
    build_blob_events,
    build_deleted_paths,
    build_listing,
    build_path_index,
    load_table,
)

# --------------------------------------------------------------------------
# shared constants
# --------------------------------------------------------------------------

W = WATERMARK                      # path-index watermark (P6)
LI_W = "1998-07-01 00:00:00"       # lineitem watermark
FROM_KEY = "c3R1ZmYtbGFyZ2Ul"      # keyset boundary: base64('stuff-l…') prefix
DOC_BYTES_LIMIT = 400              # oversize-document limit for the fixture docs
PACK_BYTES, PACK_COUNT = 5000, 10  # batch-packing knobs for the fixture docs
TS_FMT_SPARK = "yyyy-MM-dd HH:mm:ss.SSSSSS"
TS_FMT_DUCK = "%Y-%m-%d %H:%M:%S.%f"


def _fmt(c):
    return F.date_format(c, TS_FMT_SPARK)


def _pi_str(df: DataFrame) -> DataFrame:
    """path-index frame with timestamps rendered as strings for hashing."""
    return df.select(
        "key",
        "pathUrlEncoded",
        "filesystem",
        _fmt(F.col("fileLastModified")).alias("fileLastModified"),
        _fmt(F.col("lastModified")).alias("lastModified"),
    )


# --------------------------------------------------------------------------
# DuckDB oracle SQL builders
# --------------------------------------------------------------------------

def _pi_sql(where: str = "") -> str:
    """The path_index derivation as a DuckDB CTE body (matches
    sources.fixtures.build_path_index exactly)."""
    w = f" WHERE {where}" if where else ""
    return f"""
      SELECT to_base64(encode(filesystem || '%2f' || pathUrlEncoded)) AS key,
             pathUrlEncoded, filesystem, fileLastModified, lastModified
      FROM (
        SELECT CASE WHEN o_orderkey % 2 = 0 THEN 'stuff-large' ELSE 'stuff-archive' END AS filesystem,
               replace('partition_' || (o_orderkey % 10)::VARCHAR || '/customer_' || o_custkey::VARCHAR
                       || '/document_' || o_orderkey::VARCHAR || '.json', '/', '%2f') AS pathUrlEncoded,
               o_orderdate AS fileLastModified,
               o_orderdate AS lastModified
        FROM orders{w}) t
    """


_EVENTS_SQL = """
  SELECT event_id,
         CASE WHEN event_type = 'error' THEN 'Microsoft.Storage.BlobDeleted'
              ELSE 'Microsoft.Storage.BlobCreated' END AS eventType,
         ts::TIMESTAMP AS eventTime,
         'https://acct.dfs.core.windows.net/'
           || CASE WHEN user_id % 2 = 0 THEN 'stuff-large' ELSE 'stuff-archive' END || '/'
           || 'partition_' || (user_id % 10)::VARCHAR || '/customer_' || user_id::VARCHAR
           || '/document_' || (event_id % 50)::VARCHAR || '.json' AS url,
         md5(event_id::VARCHAR) AS eTag,
         round(value * 1000)::BIGINT AS contentLength
  FROM events
"""

# blob event -> path row projection (P3), shared by several oracles
def _event_rows_sql(event_type: str = "Microsoft.Storage.BlobCreated") -> str:
    return f"""
  SELECT to_base64(encode(split_part(url, '/', 4) || '%2f' ||
                   replace(array_to_string(list_slice(string_split(url, '/'), 5, 9999), '/'), '/', '%2f'))) AS key,
         replace(array_to_string(list_slice(string_split(url, '/'), 5, 9999), '/'), '/', '%2f') AS pathUrlEncoded,
         split_part(url, '/', 4) AS filesystem,
         eventTime AS fileLastModified,
         TIMESTAMP '{W}' AS lastModified,
         event_id AS _seq
  FROM blob_events
  WHERE eventType = '{event_type}'
"""


_EVENT_ROWS_SQL = _event_rows_sql()

_LISTING_SQL = f"""
  SELECT 'partition_' || (o_orderkey % 10)::VARCHAR || '/customer_' || o_custkey::VARCHAR
         || '/document_' || o_orderkey::VARCHAR || '.json' AS name,
         FALSE AS isDirectory, o_orderdate AS lastModified
  FROM orders
  UNION ALL
  SELECT DISTINCT 'partition_' || (o_orderkey % 10)::VARCHAR || '/customer_' || o_custkey::VARCHAR AS name,
         TRUE AS isDirectory, TIMESTAMP '{W}' AS lastModified
  FROM orders
  UNION ALL
  SELECT DISTINCT 'partition_' || (o_orderkey % 10)::VARCHAR AS name,
         TRUE AS isDirectory, TIMESTAMP '{W}' AS lastModified
  FROM orders
"""

# the deterministic JSON lake derived from `documents` (matches
# sources.fixtures.build_document_lake): one file per doc, every 37th
# malformed; file_lm straddles the watermark by ±50 days
_DOC_LAKE_SQL = f"""
  SELECT doc_id,
         'partition_' || (doc_id % 10)::VARCHAR || '/customer_' || (doc_id % 100)::VARCHAR
           || '/document_' || doc_id::VARCHAR || '.json' AS path,
         CASE WHEN doc_id % 2 = 0 THEN 'stuff-large' ELSE 'stuff-archive' END AS filesystem,
         TIMESTAMP '{WATERMARK}' + INTERVAL ((doc_id % 100) - 50) DAY AS file_lm,
         (doc_id % 37 != 0) AS parsed_ok,
         text AS stringvalue,
         n_chars::INT AS numbervalue,
         (doc_id % 2 = 0) AS booleanvalue
  FROM documents
"""

#: lowercased whitespace tokens of documents.text (matches functions.text.tokens)
_WORDS = "list_filter(string_split_regex(lower(text), '\\s+'), x -> x != '')"


def _ph(expr: str, seed: int) -> str:
    """DuckDB replica of functions.text.portable_hash64."""
    return f"('0x' || substr(md5('{seed}|' || {expr}), 1, 15))::BIGINT"


_FMT_COLS = (
    "key, pathUrlEncoded, filesystem, "
    f"strftime(fileLastModified, '{TS_FMT_DUCK}') AS fileLastModified, "
    f"strftime(lastModified, '{TS_FMT_DUCK}') AS lastModified"
)


# --------------------------------------------------------------------------
# Spark-side queries
# --------------------------------------------------------------------------

def _orders(spark, sf):
    return load_table(spark, sf, "orders")


def _docs(spark, sf):
    return load_table(spark, sf, "documents")


def _created_path_rows(spark, sf):
    ev = build_blob_events(load_table(spark, sf, "events"))
    created = ev.where(F.col("eventType") == "Microsoft.Storage.BlobCreated")
    return events_to_path_rows(created, now=F.lit(W).cast("timestamp"), seq_col="event_id")


def q_list_changed_paths(spark, sf):
    """Flagship S2: watermark (P6) + filesystem eq (P7) + prefix (P8) +
    order-by-key (O1) over the computed key (F3).  Reference
    PathIndexClient.cs:49-92 + DatalakeIndexerFunc.cs:44-48."""
    pi = build_path_index(_orders(spark, sf))
    out = list_paths(
        pi,
        ListPathsOptions(from_last_modified=W, filesystem="stuff-large", path_prefix="partition_2"),
    )
    return _pi_str(out)


def q_keyset_page(spark, sf):
    """P9 keyset pagination + O2 page size (PathIndexClient.cs:66-91)."""
    pi = build_path_index(_orders(spark, sf))
    out = list_paths(pi, ListPathsOptions(from_key=FROM_KEY, limit=1000))
    return _pi_str(out)


def q_path_keys(spark, sf):
    """F1/F3/F4: the full derived path index with its surrogate keys."""
    return _pi_str(build_path_index(_orders(spark, sf)))


def q_url_roundtrip(spark, sf):
    """F2: url-decode inverts the stored encoding (DataLakeIndexer.cs:87)."""
    pi = build_path_index(_orders(spark, sf))
    return pi.select(
        "pathUrlEncoded", url_decode_path(F.col("pathUrlEncoded")).alias("path")
    )


def q_split_blob_urls(spark, sf):
    """P12/F5: url.Split('/', 5) → (filesystem, path) (Utils.cs:10-14)."""
    ev = build_blob_events(load_table(spark, sf, "events"))
    from azuredatalakeindexer_spark.functions.keys import split_url

    fs, path = split_url(F.col("url"))
    return ev.select(
        "event_id",
        "eventType",
        fs.alias("filesystem"),
        path.alias("path"),
        "eTag",
        "contentLength",
    )


def q_events_to_path_rows(spark, sf):
    """P3 + F1/F9: BlobCreated batch → PathIndexModel rows
    (PathIndexerFunc.cs:23-35)."""
    return _pi_str(_created_path_rows(spark, sf).drop("_seq"))


def q_dedup_last_writer(spark, sf):
    """W1: per-key last-writer-wins dedup window (SURVEY §2.5)."""
    rows = _created_path_rows(spark, sf)
    out = dedup_last_writer(rows, ["key"], "fileLastModified", tiebreak_col="_seq")
    return _pi_str(out.drop("_seq"))


def q_upsert_status_counts(spark, sf):
    """J3 + A1: created/modified/failed accounting
    (BatchingUploader.cs:36-38, PathIndexClient.cs:28-33)."""
    orders = _orders(spark, sf)
    existing = build_path_index(orders.where(F.col("o_orderkey") % 3 == 0))
    batch = build_path_index(orders.where(F.col("o_orderdate") >= F.lit(W).cast("timestamp")))
    return upsert_status_counts(classify_upserts(batch, existing))


def q_upsert_merge(spark, sf):
    """S6: MERGE-or-upload final table state (BatchingUploader.cs:31-34)."""
    orders = _orders(spark, sf)
    existing = build_path_index(orders.where(F.col("o_orderkey") % 3 == 0))
    batch = build_path_index(orders.where(F.col("o_orderdate") >= F.lit(W).cast("timestamp")))
    return _pi_str(merge_upsert(existing, batch))


def q_deleted_anti_join(spark, sf):
    """J2: anti-join deleted paths out of the index (intended semantics of
    PathIndexerFunc.cs:39-74; README.md:18)."""
    orders = _orders(spark, sf)
    pi = build_path_index(orders)
    deleted = build_deleted_paths(orders)
    return _pi_str(apply_deletes(pi, deleted))


def q_oversize_filter(spark, sf):
    """P11 + F10: serialized-size gate (BatchingUploader.cs:71-77)."""
    docs = _docs(spark, sf)
    size = doc_size_bytes(F.col("doc_id"), F.col("lang"), F.col("source"), F.col("text"))
    return docs.select(
        "doc_id",
        size.alias("doc_bytes"),
        F.when(size > DOC_BYTES_LIMIT, F.lit(413)).otherwise(F.lit(200)).alias("status"),
    )


def q_batch_packing(spark, sf):
    """A5: byte+count-aware batch planning (BatchingUploader.cs:80-92)."""
    docs = _docs(spark, sf)
    out = plan_batches(
        docs,
        F.col("n_chars"),
        "doc_id",
        max_batch_bytes=PACK_BYTES,
        max_batch_count=PACK_COUNT,
        n_workers=1,
    )
    return out.select("doc_id", "batch_id")


def q_batch_packing_greedy(spark, sf):
    """A5 exact greedy flush semantics (BatchingUploader.cs:80-92) via
    per-worker applyInPandas; the oracle replays the sequential walk as a
    recursive CTE."""
    from azuredatalakeindexer_spark.operators.batching import plan_batches_greedy

    docs = _docs(spark, sf)
    out = plan_batches_greedy(
        docs,
        F.col("n_chars"),
        "doc_id",
        max_batch_bytes=PACK_BYTES,
        max_batch_count=PACK_COUNT,
        n_workers=1,
    )
    return out.select("doc_id", "batch_id")


def q_rebuild_batches(spark, sf):
    """S1/P4/P5 + the 1000-row rebuild buffer (PathIndexClient.cs:98-147,
    boundary-tested in reference PathIndexClientTests.cs:26-68)."""
    listing = build_listing(_orders(spark, sf))
    files = listing.where(~F.col("isDirectory"))
    rn = F.row_number().over(Window.orderBy("name"))
    return (
        files.withColumn("batch_id", F.floor((rn - 1) / 1000))
        .groupBy("batch_id")
        .agg(F.count(F.lit(1)).alias("n"))
    )


def q_run_metrics(spark, sf):
    """A2/A3/A6: IndexerRunMetrics rollup (DataLakeIndexer.cs:39-48) —
    without the reference's ProcessedCount=FailedCount bug (cs:43)."""
    orders = _orders(spark, sf)
    docs = _docs(spark, sf)
    paths = build_path_index(orders).agg(F.count(F.lit(1)).alias("pathsCount"))
    reads = docs.agg(
        F.count(F.lit(1)).alias("documentReadCount"),
        F.count_if(F.col("n_chars") > DOC_BYTES_LIMIT).alias("documentReadFailedCount"),
    )
    existing = build_path_index(orders.where(F.col("o_orderkey") % 3 == 0))
    batch = build_path_index(orders.where(F.col("o_orderdate") >= F.lit(W).cast("timestamp")))
    ups = upsert_status_counts(classify_upserts(batch, existing)).select("created", "modified")
    return (
        paths.crossJoin(reads)
        .crossJoin(ups)
        .withColumn(
            "processedCount", F.col("documentReadCount") - F.col("documentReadFailedCount")
        )
    )


def q_doc_count(spark, sf):
    """S9/A6: document count (Program.cs:81-82)."""
    return _docs(spark, sf).agg(F.count(F.lit(1)).alias("n"))


def q_watermark_filter_agg(spark, sf):
    """P6 at table scale: pushed-down watermark scan + rollup."""
    li = load_table(spark, sf, "lineitem")
    return (
        li.where(F.col("l_shipdate") >= F.lit(LI_W).cast("timestamp"))
        .groupBy("l_returnflag")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.sum(F.col("l_quantity").cast("decimal(18,2)")).cast("double"), 2).alias("sum_qty"),
        )
    )


def q_directory_filter(spark, sf):
    """P5: file/directory split of the listing
    (DataLakePathClientExtension.cs:51)."""
    listing = build_listing(_orders(spark, sf))
    return (
        listing.where(~F.col("isDirectory"))
        .groupBy(F.element_at(F.split("name", "/"), 1).alias("pname"))
        .agg(F.count(F.lit(1)).alias("n_files"))
    )


def q_pricing_summary(spark, sf):
    """Analytics headline: TPC-H Q1-shaped pricing summary over lineitem."""
    li = load_table(spark, sf, "lineitem")
    qty = F.col("l_quantity").cast("decimal(18,2)")
    price = F.col("l_extendedprice").cast("decimal(18,2)")
    disc = F.col("l_discount").cast("decimal(18,2)")
    return (
        li.where(F.col("l_shipdate") <= F.lit("2001-09-01 00:00:00").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum(qty).cast("double"), 2).alias("sum_qty"),
            F.round(F.sum(price).cast("double"), 2).alias("sum_base_price"),
            F.round(F.sum(price * (F.lit(1).cast("decimal(18,2)") - disc)).cast("double"), 2).alias("sum_disc_price"),
            F.round((F.sum(qty).cast("double") / F.count(F.lit(1))), 6).alias("avg_qty"),
            F.round((F.sum(price).cast("double") / F.count(F.lit(1))), 6).alias("avg_price"),
            F.count(F.lit(1)).alias("count_order"),
        )
    )


def q_top_customers(spark, sf):
    """Analytics headline: broadcast dim join + top-k by exact revenue."""
    orders = _orders(spark, sf)
    cust = load_table(spark, sf, "customer")
    rev = F.col("o_totalprice").cast("decimal(18,2)")
    return (
        orders.join(F.broadcast(cust), orders["o_custkey"] == cust["c_custkey"])
        .groupBy("c_custkey", "c_name")
        .agg(
            F.round(F.sum(rev).cast("double"), 2).alias("revenue"),
            F.count(F.lit(1)).alias("n_orders"),
        )
        .orderBy(F.col("revenue").desc(), F.col("c_custkey"))
        .limit(10)
    )


def q_events_hourly(spark, sf):
    """Streaming-adjacent rollup: hourly event counts + exact value sums."""
    ev = load_table(spark, sf, "events")
    return (
        ev.groupBy(
            F.date_format(F.date_trunc("hour", F.col("ts")), "yyyy-MM-dd HH:mm").alias("hour"),
            "event_type",
        )
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.sum(F.col("value").cast("decimal(18,2)")).cast("double"), 2).alias("total_value"),
        )
    )


def q_profile_orders(spark, sf):
    """One-pass per-column profile of `orders` (rows / non-null / exact
    distinct / min / max) — the audit relation a lake ingestion runs first.
    Integer/string/date columns only: float min/max stringification is
    engine-specific (documented in the operator)."""
    from azuredatalakeindexer_spark.operators.profile import profile_columns

    return profile_columns(
        _orders(spark, sf),
        ["o_orderkey", "o_custkey", "o_orderstatus", "o_orderdate", "o_orderpriority"],
    )


def q_approx_distinct_users(spark, sf):
    """Per-event-type HLL++ approximate distinct users (mergeable sketch:
    fixed-size registers shuffle instead of raw user ids), emitted as a
    BOUNDED CHECK: the HLL estimate itself is engine-specific, so the query
    outputs the exact side plus ``within_tol`` = |approx−exact|/exact ≤
    3·rsd, and the oracle replays the exact side expecting ``within_tol=1``
    — a full row+hash gate on the sketch's accuracy contract instead of the
    old rows-only non-check (VERDICT r4 next-#7).  Pytest pins the same
    tolerance on the raw operator."""
    from azuredatalakeindexer_spark.operators.profile import approx_distinct_by

    ev = load_table(spark, sf, "events")
    approx = approx_distinct_by(ev, ["event_type"], "user_id", rsd=0.05)
    exact = ev.groupBy("event_type").agg(
        F.countDistinct("user_id").alias("exact_distinct")
    )
    return (
        approx.join(exact, "event_type")
        .select(
            "event_type",
            "n_rows",
            "exact_distinct",
            (
                F.abs(F.col("approx_distinct") - F.col("exact_distinct"))
                <= 3 * 0.05 * F.col("exact_distinct")
            )
            .cast("int")
            .alias("within_tol"),
        )
        .orderBy("event_type")
    )


def q_approx_event_quantiles(spark, sf):
    """Per-type approximate percentiles via the mergeable Greenwald-Khanna
    sketch (`approx_percentile`) — the 100 TB path where the exact
    `event_quantiles` sort-per-group would not hold — emitted as a BOUNDED
    RANK CHECK: for each (type, q) the query counts how many values fall
    below/at the estimate and outputs ``within_tol`` = the estimate's rank
    is within the GK guarantee (±n/accuracy, +1 for discreteness) of q·n.
    The oracle replays the exact side expecting ``within_tol=1`` — a full
    row+hash gate on the sketch's error contract instead of the old
    rows-only non-check (VERDICT r4 next-#7)."""
    from azuredatalakeindexer_spark.operators.profile import approx_quantiles_by

    ev = load_table(spark, sf, "events")
    acc = 10_000
    approx = approx_quantiles_by(ev, ["event_type"], "value", accuracy=acc)
    est = approx.select(
        "event_type",
        "n_rows",
        F.explode(
            F.array(
                F.struct(F.lit(50).alias("q"), F.col("p50").alias("est")),
                F.struct(F.lit(90).alias("q"), F.col("p90").alias("est")),
                F.struct(F.lit(99).alias("q"), F.col("p99").alias("est")),
            )
        ).alias("e"),
    ).select("event_type", "n_rows", "e.q", "e.est")
    ranks = (
        ev.select("event_type", "value")
        .join(F.broadcast(est), "event_type")
        .groupBy("event_type", "q", "n_rows", "est")
        .agg(
            F.count_if(F.col("value") < F.col("est")).alias("n_lt"),
            F.count_if(F.col("value") <= F.col("est")).alias("n_le"),
        )
    )
    target = F.col("q") / F.lit(100.0) * F.col("n_rows")
    tol = F.col("n_rows") / F.lit(float(acc)) + F.lit(1.0)
    within = ((F.col("n_lt") - tol) <= target) & (target <= (F.col("n_le") + tol))
    return ranks.select(
        "event_type", "q", "n_rows", within.cast("int").alias("within_tol")
    ).orderBy("event_type", "q")


def q_value_histogram(spark, sf):
    """Per-type equi-width histogram of event values (20 shared global
    bins) — portable floor-arithmetic bucketing, one aggregate shuffle."""
    from azuredatalakeindexer_spark.operators.profile import histogram_by

    ev = load_table(spark, sf, "events")
    return histogram_by(ev, ["event_type"], "value", n_bins=20)


def q_distinct_users_daily(spark, sf):
    """Exact distinct aggregation per day (SURVEY §2.4: distinct-agg is a
    Spark-native extension beyond the reference's counters)."""
    ev = load_table(spark, sf, "events")
    return ev.groupBy(
        F.date_format(F.date_trunc("day", F.col("ts")), "yyyy-MM-dd").alias("day")
    ).agg(
        F.countDistinct("user_id").alias("users"),
        F.count(F.lit(1)).alias("n"),
    )


def q_events_sessionize(spark, sf):
    """Sessionization via ``session_window`` (30-minute inactivity gap) —
    the event-time session operator the reference lacks; the oracle replays
    it as a gap-and-island computation."""
    ev = load_table(spark, sf, "events")
    return (
        ev.groupBy(F.session_window(F.col("ts"), "30 minutes").alias("w"), "user_id")
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            "user_id",
            F.date_format(F.col("w.start"), TS_FMT_SPARK).alias("session_start"),
            "n_events",
        )
    )


def q_orders_cube(spark, sf):
    """Grouping-set analytics: CUBE over status×priority with exact sums
    (beyond-reference Spark capability, SURVEY §2.4 note)."""
    orders = _orders(spark, sf)
    return (
        orders.cube("o_orderstatus", "o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.sum(F.col("o_totalprice").cast("decimal(18,2)")).cast("double"), 2).alias("revenue"),
        )
    )


def q_region_rollup(spark, sf):
    """ROLLUP over the region→nation dimension chain with broadcast dims."""
    sup = load_table(spark, sf, "supplier")
    nat = load_table(spark, sf, "nation")
    reg = load_table(spark, sf, "region")
    joined = sup.join(F.broadcast(nat), sup["s_nationkey"] == nat["n_nationkey"]).join(
        F.broadcast(reg), nat["n_regionkey"] == reg["r_regionkey"]
    )
    return joined.rollup("r_name", "n_name").agg(
        F.count(F.lit(1)).alias("n_suppliers"),
        F.round(F.sum(F.col("s_acctbal").cast("decimal(18,2)")).cast("double"), 2).alias("total_acctbal"),
    )


def q_dedup_exact(spark, sf):
    """Exact dedup: normalized-content hash groupBy."""
    return exact_dedup(_docs(spark, sf))


def q_dedup_minhash_lsh(spark, sf):
    """MinHash+LSH banded near-dup candidate pairs (equi-join, no crossJoin)."""
    return minhash_lsh_pairs(_docs(spark, sf))


def q_dedup_simhash(spark, sf):
    """SimHash fingerprints (Charikar) per document."""
    return simhash_docs(_docs(spark, sf))


def q_simhash_pairs(spark, sf):
    """SimHash near-dup pairs via pigeonhole block join + Hamming filter."""
    return simhash_pairs(_docs(spark, sf)).withColumn("hamming", F.col("hamming").cast("int"))


def q_ngram_jaccard(spark, sf):
    """Exact n-gram Jaccard over rare-shingle candidates."""
    return ngram_jaccard_pairs(_docs(spark, sf), threshold=0.5, max_doc_freq=50)


def q_dedup_clusters(spark, sf):
    """Connected components over MinHash-LSH near-dup pairs: every document
    assigned a cluster id (min id of its component; singletons cluster with
    themselves) and a canonical-keep flag — the keep/drop decision of the
    training-data dedup pipeline."""
    docs = _docs(spark, sf)
    return dedup_cluster_assignments(docs, minhash_lsh_pairs(docs))


def q_cluster_canonical(spark, sf):
    """Canonical selection per near-dup cluster: the highest-quality member
    (doc_id tie-break) survives, with n_members recording how much
    duplication it represents — the keep/drop rule between clustering and
    corpus assembly."""
    from azuredatalakeindexer_spark.operators.dedup import cluster_canonical
    from azuredatalakeindexer_spark.operators.textops import quality_columns
    from azuredatalakeindexer_spark.functions.text import tokens

    docs = _docs(spark, sf)
    clusters = dedup_cluster_assignments(docs, minhash_lsh_pairs(docs)).select(
        "doc_id", "cluster_id"
    )
    # bind tokens to a column first — quality_columns references its toks
    # argument several times, and an inline tokens(text) would re-split per
    # reference (the lambda-CSE lesson in SCALE.md)
    toked = docs.select("doc_id", tokens(F.col("text")).alias("_toks"))
    qc = quality_columns(F.col("_toks"))
    scored = toked.select("doc_id", qc["quality"].alias("quality")).join(
        clusters, "doc_id"
    )
    out = cluster_canonical(scored)
    return out.select("cluster_id", "doc_id", "quality", "n_members")


def q_hash_sample(spark, sf):
    """Deterministic shuffle-free 25% sample: pure function of the doc id
    (rerun- and partitioning-stable, unlike df.sample)."""
    from azuredatalakeindexer_spark.operators.sampling import hash_sample, sample_bucket

    out = hash_sample(_docs(spark, sf), rate=0.25, seed=7)
    return out.select("doc_id", "lang", "source", sample_bucket(F.col("doc_id"), 7).alias("bucket"))


def q_stratified_sample(spark, sf):
    """Deterministic 10-per-(lang, source) stratified draw via hash order."""
    from azuredatalakeindexer_spark.operators.sampling import stratified_sample

    out = stratified_sample(_docs(spark, sf), ["lang", "source"], 10, seed=3)
    return out.select("doc_id", "lang", "source", "n_chars")


def q_weighted_sample(spark, sf):
    """Deterministic Efraimidis-Spirakis weighted sample: per language, the
    20 docs with the largest ln(u)/n_chars keys, u drawn from the doc-id
    hash — inclusion odds ∝ document length, yet a pure function of
    (id, seed) the oracle replays exactly."""
    from azuredatalakeindexer_spark.operators.sampling import weighted_sample

    out = weighted_sample(
        _docs(spark, sf), "n_chars", 20, strata_cols=["lang"], seed=0
    )
    return out.select("doc_id", "lang", "n_chars")


def q_temperature_mix(spark, sf):
    """Temperature-based (alpha=0.5) domain mixing toward a 300-doc target:
    per-source keep rates flatten the source distribution (mT5 recipe),
    membership a pure hash function the oracle replays exactly."""
    from azuredatalakeindexer_spark.operators.sampling import temperature_mix

    out = temperature_mix(_docs(spark, sf), alpha=0.5, target_total=300, seed=5)
    return out.select("doc_id", "lang", "source")


def q_shuffle_shards(spark, sf):
    """Deterministic global training-order shuffle into 8 shards: (shard,
    pos) are pure functions of (doc_id, seed) — the rerun-stable
    shuffle-then-shard step between curation and sequence packing."""
    from azuredatalakeindexer_spark.operators.sampling import shuffle_shards

    out = shuffle_shards(_docs(spark, sf), n_shards=8, seed=0)
    return out.select("doc_id", "lang", "shard", "pos")


def q_span_dedup(spark, sf):
    """Span-level exact dedup (C4/RefinedWeb line dedup at 10-word-chunk
    granularity): first corpus-wide occurrence of each chunk survives,
    documents reassembled from their surviving spans."""
    from azuredatalakeindexer_spark.operators.dedup import span_dedup

    return span_dedup(_docs(spark, sf), span_words=10)


def q_token_budget_mix(spark, sf):
    """Greedy quality-first token-budget mix: per-language, keep the
    highest-quality documents until 3000 tokens are reached."""
    from azuredatalakeindexer_spark.operators.sampling import token_budget_pack
    from azuredatalakeindexer_spark.operators.textops import quality_columns
    from azuredatalakeindexer_spark.functions.text import tokens

    docs = _docs(spark, sf)
    qc = quality_columns(tokens(F.col("text")))
    scored = docs.select(
        "doc_id", "lang", qc["n_tokens"].alias("n_tokens"), qc["quality"].alias("quality")
    )
    out = token_budget_pack(scored, budget_tokens=3000)
    return out.select("doc_id", "lang", "n_tokens", "quality", "cum_tokens")


def q_events_gapfill(spark, sf):
    """Time-series gap filling: dense per-type hourly grid over the global
    range (sequence + explode), zero-filled where no events occurred —
    the resampling step every downstream time-series consumer needs."""
    ev = load_table(spark, sf, "events")
    types = ev.select("event_type").distinct()
    bounds = ev.agg(
        F.date_trunc("hour", F.min("ts")).alias("lo"),
        F.date_trunc("hour", F.max("ts")).alias("hi"),
    )
    grid = types.crossJoin(F.broadcast(bounds)).select(
        "event_type",
        F.explode(F.sequence("lo", "hi", F.expr("INTERVAL 1 HOUR"))).alias("h"),
    )
    counts = ev.groupBy(
        F.date_trunc("hour", "ts").alias("h"), "event_type"
    ).agg(F.count(F.lit(1)).alias("n"))
    return grid.join(counts, ["event_type", "h"], "left").select(
        "event_type",
        _fmt(F.col("h")).alias("hour"),
        F.coalesce("n", F.lit(0)).alias("n"),
    )


def q_zorder_values(spark, sf):
    """Morton (z-order) codes over two bucketed event dimensions — the
    clustering key behind multi-column file pruning (functions/zorder.py),
    bit-replayed by the oracle."""
    from azuredatalakeindexer_spark.functions.zorder import z_value

    ev = load_table(spark, sf, "events")
    a = (F.col("user_id") % 256).cast("bigint")
    # floor, not cast: double→int casts truncate in Spark but ROUND in DuckDB
    b = F.floor(F.col("value") * 10).cast("bigint") % 256
    return ev.select(
        "event_id", a.alias("a"), b.alias("b"), z_value(a, b, bits=8).alias("z")
    )


def q_events_pivot(spark, sf):
    """Pivot: per-user event counts spread over event-type columns (fixed
    pivot value list so the plan is a single pass, no distinct-scan)."""
    ev = load_table(spark, sf, "events")
    types = ["click", "view", "error", "purchase", "login"]
    out = (
        ev.groupBy("user_id")
        .pivot("event_type", types)
        .agg(F.count(F.lit(1)))
    )
    return out.select(
        "user_id", *[F.coalesce(F.col(t), F.lit(0)).alias(f"n_{t}") for t in types]
    )


def q_user_running_stats(spark, sf):
    """Per-user running windows over the event timeline: previous value
    (lag), running total, and a 5-row moving average — the standard
    time-series window trio, one shuffle on user_id."""
    ev = load_table(spark, sf, "events")
    w = Window.partitionBy("user_id").orderBy(F.col("ts").asc(), F.col("event_id").asc())
    return ev.select(
        "event_id",
        "user_id",
        _fmt(F.col("ts")).alias("ts"),
        F.round(F.lag("value", 1).over(w), 6).alias("prev_value"),
        F.round(
            F.sum("value").over(w.rowsBetween(Window.unboundedPreceding, 0)), 6
        ).alias("running_total"),
        F.round(F.avg("value").over(w.rowsBetween(-4, 0)), 6).alias("moving_avg_5"),
    )


def q_events_json_extract(spark, sf):
    """JSON property extraction (F10/F11 breadth): parse the props JSON
    column, pull the numeric k, aggregate per event type."""
    ev = load_table(spark, sf, "events")
    k = F.get_json_object("props", "$.k").cast("bigint")
    return (
        ev.select("event_type", k.alias("k"))
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("k").alias("k_sum"),
            F.min("k").alias("k_min"),
            F.max("k").alias("k_max"),
        )
    )


def q_shipping_priority(spark, sf):
    """TPC-H Q3 shape: customer ⋈ orders ⋈ lineitem, revenue per order,
    top 10 by (revenue desc, date) — exercises join ordering + top-k."""
    cust = load_table(spark, sf, "customer").where(F.col("c_mktsegment") == "BUILDING")
    orders = load_table(spark, sf, "orders").where(
        F.col("o_orderdate") < F.lit("1995-03-15").cast("timestamp")
    )
    li = load_table(spark, sf, "lineitem").where(
        F.col("l_shipdate") > F.lit("1995-03-15").cast("timestamp")
    )
    return (
        li.join(orders, li["l_orderkey"] == orders["o_orderkey"])
        .join(F.broadcast(cust), orders["o_custkey"] == cust["c_custkey"])
        .groupBy("l_orderkey", "o_orderdate")
        .agg(
            F.round(
                F.sum(
                    (
                        F.col("l_extendedprice").cast("decimal(18,4)")
                        * (F.lit(1) - F.col("l_discount").cast("decimal(18,4)"))
                    )
                ).cast("double"),
                2,
            ).alias("revenue")
        )
        .select(
            "l_orderkey", _fmt(F.col("o_orderdate")).alias("o_orderdate"), "revenue",
        )
        .orderBy(F.col("revenue").desc(), F.col("o_orderdate").asc(), F.col("l_orderkey").asc())
        .limit(10)
    )


def q_region_revenue(spark, sf):
    """TPC-H Q5 shape: six-table join (region→nation→customer→orders→
    lineitem→supplier with the same-nation constraint), revenue per nation."""
    region = load_table(spark, sf, "region").where(F.col("r_name") == "ASIA")
    nation = load_table(spark, sf, "nation")
    cust = load_table(spark, sf, "customer")
    orders = load_table(spark, sf, "orders").where(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1997-01-01").cast("timestamp"))
    )
    li = load_table(spark, sf, "lineitem")
    supp = load_table(spark, sf, "supplier")
    joined = (
        li.join(orders, li["l_orderkey"] == orders["o_orderkey"])
        .join(supp, li["l_suppkey"] == supp["s_suppkey"])
        .join(cust, orders["o_custkey"] == cust["c_custkey"])
        .where(F.col("c_nationkey") == F.col("s_nationkey"))
        .join(F.broadcast(nation), F.col("s_nationkey") == nation["n_nationkey"])
        .join(F.broadcast(region), nation["n_regionkey"] == region["r_regionkey"])
    )
    return (
        joined.groupBy("n_name")
        .agg(
            F.round(
                F.sum(
                    F.col("l_extendedprice").cast("decimal(18,4)")
                    * (F.lit(1) - F.col("l_discount").cast("decimal(18,4)"))
                ).cast("double"),
                2,
            ).alias("revenue")
        )
    )


def q_late_orders_exists(spark, sf):
    """TPC-H Q4 shape: orders with AT LEAST ONE slow lineitem (shipped >90
    days after the order date) — EXISTS → left-semi join with a compound
    condition, counted per order priority."""
    orders = load_table(spark, sf, "orders")
    li = load_table(spark, sf, "lineitem")
    cond = (orders["o_orderkey"] == li["l_orderkey"]) & (
        li["l_shipdate"] > F.col("o_orderdate") + F.expr("INTERVAL 90 DAYS")
    )
    return (
        orders.join(li, cond, "left_semi")
        .groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).alias("order_count"))
    )


def q_event_quantiles(spark, sf):
    """Exact interpolated percentiles (p50/p90/p99) of event value per type —
    Spark's exact `percentile` vs DuckDB `quantile_cont`, both linear
    interpolation over the sorted values."""
    ev = load_table(spark, sf, "events")
    return ev.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.round(F.percentile("value", F.lit(0.5)), 6).alias("p50"),
        F.round(F.percentile("value", F.lit(0.9)), 6).alias("p90"),
        F.round(F.percentile("value", F.lit(0.99)), 6).alias("p99"),
    )


def q_asof_last_error(spark, sf):
    """Point-in-time join: every event annotated with the user's most recent
    prior (inclusive) error event — the as-of join via the scalable
    union + carry-forward-window formulation (one shuffle, no inequality
    join), checked against DuckDB's NATIVE ASOF JOIN."""
    from azuredatalakeindexer_spark.operators.asof import asof_join

    ev = load_table(spark, sf, "events")
    errors = (
        ev.where(F.col("event_type") == "error")
        .groupBy("user_id", "ts")
        .agg(F.max("event_id").alias("error_id"))
    )
    out = asof_join(
        ev.select("event_id", "user_id", "ts"), errors, on=["user_id"],
        right_cols=["error_id"],
    )
    return out.select(
        "event_id",
        "user_id",
        _fmt(F.col("ts")).alias("ts"),
        F.col("error_id_asof"),
        _fmt(F.col("ts_asof")).alias("error_ts_asof"),
    )


def q_salted_counts(spark, sf):
    """Skew-proof two-phase (salted) per-user event counts — identical
    result to a direct groupBy count, hot keys spread over 16 reducers."""
    from azuredatalakeindexer_spark.operators.skew import salted_counts

    ev = load_table(spark, sf, "events")
    return salted_counts(ev, ["user_id"]).select("user_id", "n")


def q_repetition_stats(spark, sf):
    """Gopher-style within-doc repetition: duplicated 2/3-gram fraction and
    top-bigram share — narrow fold over sorted gram arrays, zero shuffles."""
    from azuredatalakeindexer_spark.operators.textops import repetition_stats

    return repetition_stats(_docs(spark, sf))


def q_decontam_report(spark, sf):
    """Benchmark decontamination: corpus docs sharing any word 8-gram with a
    (deterministic hash-sampled) benchmark set — the GPT-3-style n-gram
    collision check, via a broadcast semi-join of the benchmark gram set."""
    from azuredatalakeindexer_spark.operators.decontam import ngram_contamination
    from azuredatalakeindexer_spark.operators.sampling import hash_sample

    docs = _docs(spark, sf)
    bench = hash_sample(docs, rate=0.02, seed=42)
    return ngram_contamination(docs, bench, n=8)


def q_fuzzy_decontam(spark, sf):
    """Fuzzy (near-duplicate) decontamination: MinHash-LSH banding between
    the training split and a benchmark split of the documents table, exact
    shingle-Jaccard rescoring — catches the paraphrased eval leakage the
    exact n-gram check (`decontam_report`) misses."""
    from azuredatalakeindexer_spark.operators.decontam import fuzzy_contamination_pairs

    docs = _docs(spark, sf)
    train = docs.where(F.col("doc_id") % 17 != 0)
    bench = docs.where(F.col("doc_id") % 17 == 0)
    return fuzzy_contamination_pairs(train, bench, threshold=0.2)


def q_events_range_join(spark, sf):
    """Batch binned range join (operators/rangejoin.py): every view event
    joined to every click within [view_ts, view_ts + 60 s) with NO equality
    key — the inequality-join shape Catalyst alone can only plan as a
    BroadcastNestedLoopJoin.  Binning both sides on the 60 s window width
    manufactures an equi-key (right: 1 bin; left: ≤2 bins), so the plan is
    an ordinary shuffled join at any scale.  The oracle is DuckDB's native
    inequality join — two independent formulations."""
    from azuredatalakeindexer_spark.operators.rangejoin import range_join_binned

    ev = load_table(spark, sf, "events")
    views = ev.where(F.col("event_type") == "view").select(
        F.col("event_id").alias("view_id"), F.col("ts").alias("view_ts")
    )
    clicks = ev.where(F.col("event_type") == "click").select(
        F.col("event_id").alias("click_id"), F.col("ts").alias("click_ts")
    )
    out = range_join_binned(
        views, clicks, "view_ts", "click_ts", 0, 60 * 1_000_000
    )
    return out.select(
        "view_id",
        "click_id",
        (F.unix_micros("click_ts") - F.unix_micros("view_ts")).alias("delay_us"),
        _fmt(F.col("view_ts")).alias("view_ts"),
        _fmt(F.col("click_ts")).alias("click_ts"),
    )


def q_classifier_scores(spark, sf):
    """Hash-trick linear quality classifier (operators/classifier.py):
    tokens → portable-hash buckets → broadcast dim-row weight table → one
    groupBy(doc) margin.  The margin is an exact int64 sum (immune to
    float summation order), so both engines agree bit-for-bit; the
    sigmoid score is rounded to 6 places.  Weights here are the
    deterministic reference model; trained-model convergence is pinned in
    tests/test_classifier.py."""
    from azuredatalakeindexer_spark.operators.classifier import (
        reference_weights,
        score_documents,
    )

    return score_documents(_docs(spark, sf), reference_weights(spark))


def q_pii_redaction(spark, sf):
    """PII redaction over documents with deterministically injected PII
    (emails / IPv4 / long digit runs): redacted text + per-pattern counts."""
    from azuredatalakeindexer_spark.operators.decontam import redact_pii

    docs = _docs(spark, sf)
    with_pii = docs.select(
        "doc_id",
        F.concat(
            F.col("text"),
            F.lit(" contact doc"),
            F.col("doc_id").cast("string"),
            F.lit("@example.com from 10.0."),
            (F.col("doc_id") % 256).cast("string"),
            F.lit(".7 ref 1234567890"),
        ).alias("text"),
    )
    return redact_pii(with_pii)


def q_pack_sequences(spark, sf):
    """Pretraining sequence packing: per-shard token streams chunked into
    512-token training sequences; one row per document × touched chunk with
    intra-chunk offsets."""
    from azuredatalakeindexer_spark.operators.sampling import pack_training_sequences
    from azuredatalakeindexer_spark.functions.text import tokens

    docs = _docs(spark, sf).select(
        "doc_id", F.size(tokens(F.col("text"))).alias("n_tokens")
    )
    return pack_training_sequences(docs, seq_len=512, n_shards=8)


def q_train_corpus(spark, sf):
    """End-to-end training-corpus funnel (plans/corpus.py): quality filter →
    language filter → exact dedup → MinHash near-dup connected-components
    dedup, with per-document stage attribution."""
    from azuredatalakeindexer_spark.plans.corpus import build_training_corpus

    return build_training_corpus(_docs(spark, sf))


def q_multimodal_frames(spark, sf):
    """Frame sampling: mapInPandas exploding each payload into N frame rows
    with per-frame byte-window fingerprints."""
    from azuredatalakeindexer_spark.operators.multimodal import sample_frames

    mm = attach_binary_payload(_docs(spark, sf))
    return sample_frames(mm, frame_bytes=64, fake=True)


def q_lang_id(spark, sf):
    """Language-ID heuristic (lexicon hit argmax)."""
    out = language_id(_docs(spark, sf))
    hits = [c for c in out.columns if c.startswith("hits_")]
    return out.select("doc_id", "pred_lang", *[F.col(c).cast("bigint").alias(c) for c in hits])


def q_domain_quality_gate(spark, sf):
    """Per-domain quality percentile gate: keep the top half of each source
    by quality score (exact row_number semantics — the oracle-replayed
    path; the approx_percentile scale path is pinned in pytest)."""
    from azuredatalakeindexer_spark.operators.textops import domain_quality_gate

    return domain_quality_gate(_docs(spark, sf), keep_frac=0.5)


#: query terms for the search-stack queries — drawn from the synthetic
#: document vocabulary so scores are non-trivial at every SF
SEARCH_TERMS = ["query", "merge", "stream"]


def q_search_bm25(spark, sf):
    """BM25 full-text top-k over documents — the ranking the reference's
    `searchable` fields delegate to Azure AI Search (PathIndexClient.cs:49-92),
    re-expressed as an explicit relation (operators/search.py)."""
    from azuredatalakeindexer_spark.operators.search import bm25_topk

    return bm25_topk(_docs(spark, sf), SEARCH_TERMS, k=20)


def q_search_facets(spark, sf):
    """Azure-Search-style facet counts over the documents corpus (top-5
    values of the `facetable`-shaped lang/source fields)."""
    from azuredatalakeindexer_spark.operators.search import facet_counts

    return facet_counts(_docs(spark, sf), ["lang", "source"], top_n=5)


def q_search_facet_ranges(spark, sf):
    """Azure-Search numeric RANGE facets
    (`operators/search.py::facet_ranges`) over the events value column,
    both service modes in one relation: `interval:50` uniform buckets and
    explicit `values:10|100|500` edges (open ends as NULL from/to)."""
    from azuredatalakeindexer_spark.operators.search import facet_ranges

    ev = load_table(spark, sf, "events")
    a = facet_ranges(ev, "value", interval=50).withColumn(
        "mode", F.lit("interval")
    )
    b = facet_ranges(ev, "value", values=[10, 100, 500]).withColumn(
        "mode", F.lit("edges")
    )
    return a.unionByName(b)


def q_search_highlight(spark, sf):
    """Hit highlighting: first-match position + context snippet for docs
    containing the term (search-service highlight feature as a relation)."""
    from azuredatalakeindexer_spark.operators.search import keyword_snippets

    return keyword_snippets(_docs(spark, sf), "merge", radius=20)


def q_search_suggest(spark, sf):
    """Autocomplete suggester: top term completions of prefix 's' ranked
    by document frequency (the service's autocomplete endpoint)."""
    from azuredatalakeindexer_spark.operators.search import suggest_terms

    return suggest_terms(_docs(spark, sf), "s", k=10)


def q_search_suggest2(spark, sf):
    """Autocomplete in the service's twoTerms mode
    (`operators/search.py::suggest_two_terms`): complete prefix 'st' to
    the two-term phrase (matching term + the term that follows it),
    ranked by adjacent-pair document frequency."""
    from azuredatalakeindexer_spark.operators.search import suggest_two_terms

    return suggest_two_terms(_docs(spark, sf), "st", k=10)


def q_search_suggest_ctx(spark, sf):
    """Autocomplete in the service's oneTermWithContext mode
    (`operators/search.py::suggest_with_context`): complete prefix 's'
    where the PRECEDING term is 'merge' — the context disambiguates which
    completions qualify, ranked by (context, term) adjacency df."""
    from azuredatalakeindexer_spark.operators.search import suggest_with_context

    return suggest_with_context(_docs(spark, sf), "merge", "s", k=10)


#: fuzzy-search probe: two misspelled terms (quary→query dist 1,
#: stroam→stream dist 1) — the engine must rank as if spelled right
FUZZY_TERMS = ["quary", "stroam"]


def q_search_fuzzy_terms(spark, sf):
    """Fuzzy term matching (Azure Search ``term~`` / Lucene FuzzyQuery
    enumeration, `operators/search.py::fuzzy_match_terms`): vocabulary
    terms within 2 edits of the misspelling 'quary' (shared 1-char
    prefix), closest first — the spell-correction relation."""
    from azuredatalakeindexer_spark.operators.search import fuzzy_match_terms

    return fuzzy_match_terms(_docs(spark, sf), "quary", max_edits=2, prefix_len=1, k=50)


def q_search_fuzzy(spark, sf):
    """Fuzzy full-text search (`operators/search.py::fuzzy_topk`):
    Lucene's two-phase FuzzyQuery — enumerate concrete expansion terms
    from the vocabulary (dist asc / df desc, capped 50 per query term),
    then score the expanded set with the unchanged BM25 machinery.  The
    misspelled ['quary', 'stroam'] ranks like ['query', 'stream']; the
    oracle recomputes the expansion AND the ranking in SQL, folding
    per-term contributions in term-sorted order for bit parity."""
    from azuredatalakeindexer_spark.operators.search import fuzzy_topk

    return fuzzy_topk(_docs(spark, sf), FUZZY_TERMS, max_edits=2, prefix_len=1, k=20)


def q_text_index_fuzzy(spark, sf):
    """Fuzzy search served FROM the persisted index
    (`sources/text_index.py::query_fuzzy_index`): expansion from the
    vocabulary-sized (term, df) rollup, scoring from bucket-pruned
    postings — corpus text untouched in either phase; bit-identical to
    the scan-time fuzzy_topk (same oracle), test-pinned across the
    rollup-served, LSM-recount, and post-compaction states."""
    from azuredatalakeindexer_spark.sources.text_index import (
        build_text_index,
        query_fuzzy_index,
    )

    root = tempfile.mkdtemp(prefix="adls_txtfuzz_")
    try:
        build_text_index(_docs(spark, sf), root, n_buckets=64)
        return _persisted(
            spark,
            query_fuzzy_index(spark, root, FUZZY_TERMS, max_edits=2, prefix_len=1, k=20),
        )
    finally:
        shutil.rmtree(root, ignore_errors=True)


def q_search_wildcard(spark, sf):
    """Wildcard full-text search (`operators/search.py::wildcard_topk`):
    expand the Lucene patterns ['st*am', 'qu?ry'] to their concrete
    vocabulary matches (df desc, capped 50 — the scoring-boolean rewrite),
    then BM25 over the expanded set; same two-phase shape and float-parity
    discipline as search_fuzzy."""
    from azuredatalakeindexer_spark.operators.search import wildcard_topk

    return wildcard_topk(_docs(spark, sf), ["st*am", "qu?ry"], k=20)


def q_text_index_wildcard(spark, sf):
    """Wildcard search served FROM the persisted index
    (`sources/text_index.py::query_wildcard_index`): pattern expansion
    over the term-sorted (term, df) rollup — a literal-prefix pattern
    plans as a pushable StartsWith — scoring from bucket-pruned postings;
    bit-identical to the scan-time wildcard_topk (same oracle)."""
    from azuredatalakeindexer_spark.sources.text_index import (
        build_text_index,
        query_wildcard_index,
    )

    root = tempfile.mkdtemp(prefix="adls_txtwild_")
    try:
        build_text_index(_docs(spark, sf), root, n_buckets=64)
        return _persisted(
            spark,
            query_wildcard_index(spark, root, ["st*am", "qu?ry"], k=20),
        )
    finally:
        shutil.rmtree(root, ignore_errors=True)


def q_text_index_fuzzy_lsm(spark, sf):
    """Fuzzy search through the segmented (LSM) recount path: build the
    index on doc_id>=10, stack an O(batch) segment inserting docs 0-9 —
    segments now pending, so `query_fuzzy_index`'s expansion must recount
    df exactly from LIVE postings with the length-band pushed into every
    segment scan (`live_term_slice`) instead of reading the stale rollup.
    The mutations net to the full corpus, so the oracle is the same fuzzy
    replay as `search_fuzzy` — any liveness/df drift hash-mismatches."""
    from azuredatalakeindexer_spark.sources.text_index import (
        build_text_index,
        query_fuzzy_index,
    )
    from azuredatalakeindexer_spark.sources.text_segments import (
        upsert_text_index_segmented,
    )

    docs = _docs(spark, sf).select("doc_id", "text")
    root = tempfile.mkdtemp(prefix="adls_txtfzl_")
    try:
        build_text_index(docs.where(F.col("doc_id") >= 10), root, n_buckets=64)
        upsert_text_index_segmented(
            spark, root, docs.where(F.col("doc_id") < 10), n_buckets=64
        )
        return _persisted(
            spark,
            query_fuzzy_index(spark, root, FUZZY_TERMS, max_edits=2, prefix_len=1, k=20),
        )
    finally:
        shutil.rmtree(root, ignore_errors=True)


def q_text_index_suggest(spark, sf):
    """Autocomplete served FROM the persisted (term, df) rollup
    (`sources/text_index.py::suggest_from_index`): the steady-state plan
    scans ONLY the vocabulary-sized, term-sorted `<index>/terms` relation
    — never postings or corpus text; equals the scan-time suggester (same oracle)."""
    from azuredatalakeindexer_spark.sources.text_index import (
        build_text_index,
        suggest_from_index,
    )

    root = tempfile.mkdtemp(prefix="adls_txtsug_")
    try:
        build_text_index(_docs(spark, sf), root, n_buckets=64)
        return _persisted(spark, suggest_from_index(spark, root, "s", k=10))
    finally:
        shutil.rmtree(root, ignore_errors=True)


def q_text_index_suggest_maint(spark, sf):
    """Autocomplete over a maintained index under the oracle: build on 90%
    of the corpus, segmented-upsert the missing 10%, delete a slice and
    re-add it — the mutations net to the full corpus, so the oracle is
    the same scan-time df-ranked replay, but any drift in the live
    per-term df recount across segments (`live_prefix_slice`) would
    hash-mismatch here."""
    from azuredatalakeindexer_spark.sources.text_index import (
        build_text_index,
        suggest_from_index,
    )
    from azuredatalakeindexer_spark.sources.text_segments import (
        delete_from_text_index_segmented,
        upsert_text_index_segmented,
    )

    docs = _docs(spark, sf).select("doc_id", "text")
    root = tempfile.mkdtemp(prefix="adls_txtsugm_")
    try:
        build_text_index(docs.where(F.col("doc_id") % 10 != 0), root, n_buckets=64)
        upsert_text_index_segmented(
            spark, root, docs.where(F.col("doc_id") % 10 == 0), n_buckets=64
        )
        victims = docs.where(F.col("doc_id") % 17 == 0)
        delete_from_text_index_segmented(spark, root, victims.select("doc_id"))
        upsert_text_index_segmented(spark, root, victims, n_buckets=64)
        return _persisted(spark, suggest_from_index(spark, root, "s", k=10))
    finally:
        shutil.rmtree(root, ignore_errors=True)


def q_search_profile(spark, sf):
    """Scoring profile: field-weighted multi-field BM25 (text w=2.0,
    source w=1.0) with the service's magnitude boost on n_chars
    (factor 0.5, range 200-800)."""
    from azuredatalakeindexer_spark.operators.search import scoring_profile_topk

    return scoring_profile_topk(
        _docs(spark, sf),
        {"text": (SEARCH_TERMS, 2.0), "source": (["src1"], 1.0)},
        boost=("n_chars", 0.5, 200.0, 800.0),
        k=20,
    )


def q_search_profile_tags(spark, sf):
    """Scoring profile with the service's TAG function composed onto the
    magnitude boost (`operators/search.py::scoring_profile_topk`
    tag_boost): ×1.3 when source ∈ {src1, src3, src5}, multiplied with
    the n_chars magnitude multiplier — the functions' multiplicative
    composition documented on the operator."""
    from azuredatalakeindexer_spark.operators.search import scoring_profile_topk

    return scoring_profile_topk(
        _docs(spark, sf),
        {"text": (SEARCH_TERMS, 2.0)},
        boost=("n_chars", 0.5, 200.0, 800.0),
        tag_boost=("source", ["src1", "src3", "src5"], 0.3),
        k=20,
    )


def q_rag_chunks(spark, sf):
    """RAG-ingestion chunking: overlapping 32-token windows (overlap 8)
    over the documents corpus — the retrieval-corpus prep stage upstream
    of the vector index."""
    from azuredatalakeindexer_spark.operators.textops import chunk_documents

    return chunk_documents(_docs(spark, sf), chunk_tokens=32, overlap=8)


#: simple-query-syntax string for the window query: optional merge/query,
#: required stream, excluded phrase, required phrase
SQS_QUERY = 'merge query +stream -"slow scan" "data table"'


def q_search_simple_query(spark, sf):
    """Azure simple query syntax: optional/required/excluded terms and
    phrases parsed into Catalyst predicates + full-corpus-idf BM25."""
    from azuredatalakeindexer_spark.operators.search import simple_query_topk

    return simple_query_topk(_docs(spark, sf), SQS_QUERY, k=20)


def q_search_synonyms(spark, sf):
    """Synonym-map expansion (service synonymMaps): the query's terms are
    widened through a model-sized (term, synonym) relation, then ranked
    with standard BM25."""
    from azuredatalakeindexer_spark.operators.search import (
        bm25_topk,
        expand_query_terms,
    )

    syn = spark.createDataFrame(
        [("merge", "join"), ("query", "scan"), ("unused", "noise")],
        "term string, synonym string",
    )
    expanded = expand_query_terms(["merge", "query"], syn)
    assert expanded == ["join", "merge", "query", "scan"]
    return bm25_topk(_docs(spark, sf), expanded, k=20)


def q_text_index_upsert_topk(spark, sf):
    """MergeOrUpload into the saved inverted index (sources/text_segments.py):
    build on doc_id>=10, insert docs 0-9 and replace docs 10-14 with new
    text (their old postings must drop out), then answer BM25 top-k from
    the upserted layout.  Oracle: the bm25 replay over the merged corpus."""
    from azuredatalakeindexer_spark.sources.text_index import (
        build_text_index,
        query_text_index,
    )
    from azuredatalakeindexer_spark.sources.text_segments import (
        upsert_text_index_segmented,
    )

    docs = _docs(spark, sf).select("doc_id", "text")
    base = docs.where(F.col("doc_id") >= 10)
    delta = docs.where(F.col("doc_id") < 10).unionByName(
        docs.where((F.col("doc_id") >= 10) & (F.col("doc_id") < 15)).select(
            "doc_id", F.lit("merge merge stream").alias("text")
        )
    )
    root = tempfile.mkdtemp(prefix="adls_txtups_")
    try:
        build_text_index(base, root, n_buckets=64)
        upsert_text_index_segmented(spark, root, delta, n_buckets=64)
        out = query_text_index(spark, root, SEARCH_TERMS, k=20, n_buckets=64)
        return _persisted(spark, out)
    finally:
        shutil.rmtree(root, ignore_errors=True)


def q_search_phrase(spark, sf):
    """Exact token-adjacency phrase ranking (`operators/search.py::
    phrase_topk` — the positional-search counterpart of Lucene's
    PhraseQuery, which the bag-of-words bm25 and the substring-predicate
    simple-query syntax cannot express): phrase_tf counts occurrences of
    the exact token sequence, ranked by BM25 with the phrase as one
    virtual term.  Oracle replays the slice-equality count and the same
    saturation formula in SQL."""
    from azuredatalakeindexer_spark.operators.search import phrase_topk

    return phrase_topk(_docs(spark, sf), "merge stream", k=20)


def q_search_near(spark, sf):
    """Ordered proximity search (`operators/search.py::near_topk` —
    Lucene sloppy-PhraseQuery/NEAR semantics): rank docs where 'merge' is
    followed by 'stream' within slop=2 intervening tokens; near_tf counts
    ordered position pairs, scored like `search_phrase`.  Oracle replays
    the position-pair count with DuckDB list lambdas."""
    from azuredatalakeindexer_spark.operators.search import near_topk

    return near_topk(_docs(spark, sf), "merge", "stream", slop=2, k=20)


def q_text_index_phrase_topk(spark, sf):
    """Exact-phrase top-k served FROM a POSITIONAL saved index
    (`sources/text_index.py::query_phrase_index` — the Lucene PhraseQuery
    execution: bucket-pruned positional postings, per-doc position-list
    intersection).  Built with positions=True over the full corpus; the
    result is bit-identical to the scan-time `search_phrase`, so the
    oracle is the same slice-equality replay."""
    from azuredatalakeindexer_spark.sources.text_index import (
        build_text_index,
        query_phrase_index,
    )

    root = tempfile.mkdtemp(prefix="adls_txtpos_")
    try:
        build_text_index(_docs(spark, sf), root, n_buckets=64, positions=True)
        out = query_phrase_index(spark, root, "merge stream", k=20, n_buckets=64)
        return _persisted(spark, out)
    finally:
        shutil.rmtree(root, ignore_errors=True)


def q_text_index_near_topk(spark, sf):
    """Ordered proximity served FROM the positional saved index
    (`sources/text_index.py::query_near_index` — Lucene serves sloppy
    PhraseQuery from the same positional postings as exact phrase):
    bucket-pruned position lists, ordered pair count within slop=2,
    BM25-virtual-term scoring.  Bit-identical to the scan-time
    `search_near`, so the oracle is the same position-pair replay."""
    from azuredatalakeindexer_spark.sources.text_index import (
        build_text_index,
        query_near_index,
    )

    root = tempfile.mkdtemp(prefix="adls_txtnear_")
    try:
        build_text_index(_docs(spark, sf), root, n_buckets=64, positions=True)
        out = query_near_index(
            spark, root, "merge", "stream", slop=2, k=20, n_buckets=64
        )
        return _persisted(spark, out)
    finally:
        shutil.rmtree(root, ignore_errors=True)


def q_text_index_near_unordered(spark, sf):
    """Unordered proximity (either direction within slop) served FROM the
    positional saved index — `query_near_index(ordered=False)`, the
    index-side SpanNearQuery.  Bit-identical to the scan-time
    `search_near_unordered` (same oracle)."""
    from azuredatalakeindexer_spark.sources.text_index import (
        build_text_index,
        query_near_index,
    )

    root = tempfile.mkdtemp(prefix="adls_txtnearu_")
    try:
        build_text_index(_docs(spark, sf), root, n_buckets=64, positions=True)
        out = query_near_index(
            spark, root, "merge", "stream", slop=2, ordered=False, k=20, n_buckets=64
        )
        return _persisted(spark, out)
    finally:
        shutil.rmtree(root, ignore_errors=True)


def q_search_near_unordered(spark, sf):
    """Unordered proximity (`near_topk(ordered=False)` — Lucene's
    unordered SpanNearQuery): 'merge' and 'stream' co-occurring within
    slop=2 in EITHER direction; near_tf counts position pairs with
    0 < |p1-p2| <= slop+1.  Oracle replays the absolute-distance pair
    count."""
    from azuredatalakeindexer_spark.operators.search import near_topk

    return near_topk(
        _docs(spark, sf), "merge", "stream", slop=2, ordered=False, k=20
    )


def q_text_index_lsm_topk(spark, sf):
    """Segmented (LSM) text-index lifecycle (sources/text_segments.py):
    build on doc_id>=10, then THREE stacked O(batch) segments — upsert
    (insert 0-9, replace 10-14), delete 15-19, upsert re-adding doc 15
    with fresh text — and answer BM25 top-k through the last-writer-wins
    resolution.  Nothing existing is rewritten: each mutation writes only
    its batch (the scale path for Zipf text, where any batch's terms touch
    ~every bucket — measured in BENCH_sf1_r07.json).  Oracle: the bm25 replay over the
    logical corpus (>=20 original, 0-9 inserted, 10-14 replaced, 16-19
    deleted, 15 revived)."""
    from azuredatalakeindexer_spark.sources.text_index import (
        build_text_index,
        query_text_index,
    )
    from azuredatalakeindexer_spark.sources.text_segments import (
        delete_from_text_index_segmented,
        upsert_text_index_segmented,
    )

    docs = _docs(spark, sf).select("doc_id", "text")
    base = docs.where(F.col("doc_id") >= 10)
    delta1 = docs.where(F.col("doc_id") < 10).unionByName(
        docs.where((F.col("doc_id") >= 10) & (F.col("doc_id") < 15)).select(
            "doc_id", F.lit("merge merge stream").alias("text")
        )
    )
    dead = docs.select("doc_id").where(
        (F.col("doc_id") >= 15) & (F.col("doc_id") < 20)
    )
    delta2 = docs.where(F.col("doc_id") == 15).select(
        "doc_id", F.lit("stream stream query").alias("text")
    )
    root = tempfile.mkdtemp(prefix="adls_txtlsm_")
    try:
        build_text_index(base, root, n_buckets=64)
        upsert_text_index_segmented(spark, root, delta1, n_buckets=64)
        delete_from_text_index_segmented(spark, root, dead)
        upsert_text_index_segmented(spark, root, delta2, n_buckets=64)
        out = query_text_index(spark, root, SEARCH_TERMS, k=20, n_buckets=64)
        return _persisted(spark, out)
    finally:
        shutil.rmtree(root, ignore_errors=True)


def q_stream_text_index(spark, sf):
    """Continuously-maintained inverted index: drain document arrivals
    (availableNow, 1 file per trigger → build + 3 segmented upsert
    micro-batches) into the saved text index, then answer BM25 top-k from
    it with the segments still live.  The upsert is LWW per doc and
    batch-split-invariant, so the result equals the scan-time bm25 over
    the whole corpus — the oracle replays that."""
    from azuredatalakeindexer_spark.sources.text_index import (
        query_text_index,
        run_stream_text_index,
    )

    docs = _docs(spark, sf).select("doc_id", "text")
    root = tempfile.mkdtemp(prefix="adls_stridx_")
    try:
        docs_dir = os.path.join(root, "docs")
        docs.repartition(4).write.parquet(docs_dir)
        schema = spark.read.parquet(docs_dir).schema
        run_stream_text_index(
            spark,
            docs_dir,
            schema,
            os.path.join(root, "index"),
            os.path.join(root, "ckpt"),
            n_buckets=64,
            max_files_per_trigger=1,
        )
        out = query_text_index(
            spark, os.path.join(root, "index"), SEARCH_TERMS, k=20, n_buckets=64
        )
        return _persisted(spark, out)
    finally:
        shutil.rmtree(root, ignore_errors=True)


def q_stream_text_index_lsm(spark, sf):
    """Segmented streaming index maintenance with compaction: the same
    document-arrival drain as `stream_text_index` (every post-build
    micro-batch an O(batch) LSM segment,
    `text_segments.upsert_text_index_segmented`), with `compact_every=2`
    folding mid-stream.  LWW per doc keeps it batch-split-invariant, so
    the oracle is the same scan-time bm25 replay."""
    from azuredatalakeindexer_spark.sources.text_index import (
        query_text_index,
        run_stream_text_index,
    )

    docs = _docs(spark, sf).select("doc_id", "text")
    root = tempfile.mkdtemp(prefix="adls_strlsm_")
    try:
        docs_dir = os.path.join(root, "docs")
        docs.repartition(4).write.parquet(docs_dir)
        schema = spark.read.parquet(docs_dir).schema
        run_stream_text_index(
            spark,
            docs_dir,
            schema,
            os.path.join(root, "index"),
            os.path.join(root, "ckpt"),
            n_buckets=64,
            max_files_per_trigger=1,
            compact_every=2,
        )
        out = query_text_index(
            spark, os.path.join(root, "index"), SEARCH_TERMS, k=20, n_buckets=64
        )
        return _persisted(spark, out)
    finally:
        shutil.rmtree(root, ignore_errors=True)


def q_text_index_delete_topk(spark, sf):
    """Deleted-document handling for the in-engine search index (J2
    applied to the index itself): build on the full corpus, delete docs
    0-9, answer BM25 top-k from the survivors.  Oracle: the bm25 replay
    over documents with doc_id >= 10."""
    from azuredatalakeindexer_spark.sources.text_index import (
        build_text_index,
        query_text_index,
    )
    from azuredatalakeindexer_spark.sources.text_segments import (
        delete_from_text_index_segmented,
    )

    root = tempfile.mkdtemp(prefix="adls_txtdel_")
    try:
        build_text_index(_docs(spark, sf), root, n_buckets=64)
        ids = spark.range(0, 10).withColumnRenamed("id", "doc_id")
        delete_from_text_index_segmented(spark, root, ids)
        out = query_text_index(spark, root, SEARCH_TERMS, k=20, n_buckets=64)
        return _persisted(spark, out)
    finally:
        shutil.rmtree(root, ignore_errors=True)


def q_text_index_topk(spark, sf):
    """Persisted inverted text index (sources/text_index.py): build the
    bucket-partitioned postings + doclens + stats to parquet, then answer
    BM25 top-k from the SAVED layout with static bucket pruning.  Bit-
    identical to the scan-time bm25_topk, so the oracle is the same bm25
    replay."""
    from azuredatalakeindexer_spark.sources.text_index import (
        build_text_index,
        query_text_index,
    )

    root = tempfile.mkdtemp(prefix="adls_txtidx_")
    try:
        build_text_index(_docs(spark, sf), root, n_buckets=64)
        out = query_text_index(spark, root, SEARCH_TERMS, k=20, n_buckets=64)
        return _persisted(spark, out)
    finally:
        shutil.rmtree(root, ignore_errors=True)


def q_text_index_filtered_topk(spark, sf):
    """The service's `$filter` + `search` combination served from the
    persisted index (`sources/text_index.py::query_text_index
    filter_ids=`): a metadata predicate's id set (source ∈ src1..src5)
    restricts which documents may be returned, while every BM25
    statistic stays INDEX-GLOBAL (Lucene/Azure semantics: filters narrow
    the match set, never reweight idf).  The oracle replays global-stats
    bm25 and applies the filter before the top-k."""
    from azuredatalakeindexer_spark.sources.text_index import (
        build_text_index,
        query_text_index,
    )

    docs = _docs(spark, sf)
    flt = docs.where(
        F.col("source").isin(["src1", "src2", "src3", "src4", "src5"])
    ).select("doc_id")
    root = tempfile.mkdtemp(prefix="adls_txtflt_")
    try:
        build_text_index(docs, root, n_buckets=64)
        out = query_text_index(
            spark, root, SEARCH_TERMS, k=20, n_buckets=64, filter_ids=flt
        )
        return _persisted(spark, out)
    finally:
        shutil.rmtree(root, ignore_errors=True)


def q_text_index_profile_topk(spark, sf):
    """Scoring profile served FROM the persisted MULTI-FIELD index
    (`sources/profile_index.py`, r9 — closes VERDICT r8 missing-#1): the
    reference's index models are multi-field with per-field searchability
    (`IndexModels/TextIndexModel.cs:24-34`), and this entry builds the
    field-discriminated postings + per-field stats + docvals layout, then
    serves the field-weighted BM25 profile (text w=2.0, source w=1.0)
    with the magnitude boost on n_chars — bit-identical to the scan-time
    `scoring_profile_topk`, so the oracle is the same profile replay."""
    from azuredatalakeindexer_spark.sources.profile_index import (
        build_profile_index,
        query_profile_index,
    )

    root = tempfile.mkdtemp(prefix="adls_pidx_")
    try:
        build_profile_index(
            _docs(spark, sf),
            root,
            field_cols=["text", "source"],
            attr_cols=["n_chars", "source"],
            n_buckets=64,
        )
        out = query_profile_index(
            spark,
            root,
            {"text": (SEARCH_TERMS, 2.0), "source": (["src1"], 1.0)},
            boost=("n_chars", 0.5, 200.0, 800.0),
            k=20,
        )
        return _persisted(spark, out)
    finally:
        shutil.rmtree(root, ignore_errors=True)


def q_text_index_highlight_topk(spark, sf):
    """Index-served hit highlighting (`sources/text_index.py::
    highlight_from_index`, r9 — closes VERDICT r8 missing-#2): BM25 top-20
    from the persisted index, then the winners' texts fetched BY ID from
    the docstore (the service's retrievable-field store) and highlighted
    with the scan-time `keyword_snippets` expressions — candidate-sized
    fetch (static dbucket pruning + pushed id IN-list), the corpus never
    rescanned.  The oracle replays bm25 top-k joined to the documents'
    first-hit position/snippet."""
    from azuredatalakeindexer_spark.sources.text_index import (
        build_text_index,
        highlight_from_index,
    )

    root = tempfile.mkdtemp(prefix="adls_txths_")
    try:
        build_text_index(_docs(spark, sf), root, n_buckets=64, store_text=True)
        out = highlight_from_index(
            spark, root, SEARCH_TERMS, "merge", k=20, n_buckets=64, radius=20
        )
        return _persisted(spark, out)
    finally:
        shutil.rmtree(root, ignore_errors=True)


def q_text_index_profile_highlight(spark, sf):
    """Index-served hit highlighting on the PROFILE surface
    (`profile_index.highlight_profile_from_index`, r12 — VERDICT r11
    stretch-#7, the last text-surface feature composed with field-weighted
    profiles): the scoring profile ranks top-20 from the multi-field
    index, then the winners' stored 'text'-field rows are fetched BY ID
    from the per-field docstore (static dbucket pruning + pushed id
    IN-list + field equality — candidate-sized, the corpus never
    rescanned) and highlighted with the scan-time `keyword_snippets`
    expressions.  The oracle replays the profile scores joined to each
    winner's first-hit position/snippet."""
    from azuredatalakeindexer_spark.sources.profile_index import (
        build_profile_index,
        highlight_profile_from_index,
    )

    root = tempfile.mkdtemp(prefix="adls_pih_")
    try:
        build_profile_index(
            _docs(spark, sf),
            root,
            field_cols=["text", "source"],
            attr_cols=["n_chars", "source"],
            n_buckets=64,
            store_fields=True,
        )
        out = highlight_profile_from_index(
            spark,
            root,
            {"text": (SEARCH_TERMS, 2.0), "source": (["src1"], 1.0)},
            "merge",
            k=20,
            radius=20,
        )
        return _persisted(spark, out)
    finally:
        shutil.rmtree(root, ignore_errors=True)


def q_text_index_synonyms(spark, sf):
    """Synonym-expanded search served FROM the persisted index
    (`sources/text_index.py::synonyms_from_index`, r10 — closes VERDICT r9
    missing-#4a): the query's terms are widened through the model-sized
    synonym relation at serve time, then answered by the saved index's
    bucket-pruned BM25 read — bit-identical to the scan-time
    `search_synonyms`."""
    from azuredatalakeindexer_spark.sources.text_index import (
        build_text_index,
        synonyms_from_index,
    )

    syn = spark.createDataFrame(
        [("merge", "join"), ("query", "scan"), ("unused", "noise")],
        "term string, synonym string",
    )
    root = tempfile.mkdtemp(prefix="adls_txtsyn_")
    try:
        build_text_index(_docs(spark, sf), root, n_buckets=64)
        out = synonyms_from_index(
            spark, root, ["merge", "query"], syn, k=20, n_buckets=64
        )
        return _persisted(spark, out)
    finally:
        shutil.rmtree(root, ignore_errors=True)


def q_text_index_simple_query(spark, sf):
    """Simple-query syntax served FROM the persisted index
    (`sources/text_index.py::simple_query_from_index`, r10 — closes
    VERDICT r9 missing-#4b): positives ranked by the index's BM25 read,
    required/excluded terms as candidate-sized semi/anti-joins against
    their own pruned postings slices, phrase predicates (substring
    semantics) evaluated with the scan-time instr expressions over the
    docstore texts — same dialect, same full-corpus idf, bit-identical to
    the scan-time `search_simple_query`."""
    from azuredatalakeindexer_spark.sources.text_index import (
        build_text_index,
        simple_query_from_index,
    )

    root = tempfile.mkdtemp(prefix="adls_txtsqs_")
    try:
        build_text_index(
            _docs(spark, sf), root, n_buckets=64, store_text=True
        )
        out = simple_query_from_index(
            spark,
            root,
            'merge query +stream -"slow scan" "data table"',
            k=20,
            n_buckets=64,
        )
        return _persisted(spark, out)
    finally:
        shutil.rmtree(root, ignore_errors=True)


def q_text_index_profile_filtered(spark, sf):
    """$filter + scoring profile from the persisted multi-field index
    (r10): the filter id set (docs with 300 <= n_chars < 700) restricts
    which documents can be RETURNED via a candidate-sized semi-join
    before the top-k, while every per-field corpus statistic stays
    index-global (Lucene/Azure semantics — idf never reweighted by
    filters), mirroring `text_index_filtered_topk` on the profile
    surface.  Oracle: the full profile replay joined to the filter set,
    re-cut to top-k."""
    from azuredatalakeindexer_spark.sources.profile_index import (
        build_profile_index,
        query_profile_index,
    )

    docs = _docs(spark, sf)
    root = tempfile.mkdtemp(prefix="adls_pflt_")
    try:
        build_profile_index(
            docs,
            root,
            field_cols=["text", "source"],
            attr_cols=["n_chars", "source"],
            n_buckets=64,
        )
        allowed = docs.where(
            (F.col("n_chars") >= 300) & (F.col("n_chars") < 700)
        ).select("doc_id")
        out = query_profile_index(
            spark,
            root,
            {"text": (SEARCH_TERMS, 2.0), "source": (["src1"], 1.0)},
            boost=("n_chars", 0.5, 200.0, 800.0),
            k=20,
            filter_ids=allowed,
        )
        return _persisted(spark, out)
    finally:
        shutil.rmtree(root, ignore_errors=True)


def q_text_index_profile_synonyms(spark, sf):
    """Synonym expansion composed with the field-weighted scoring profile
    on ONE serving path (`profile_index.synonyms_profile_from_index`,
    r11 — closes VERDICT r10 missing-#1a): the service has a single query
    surface, so synonymMaps apply to searchable multi-field models
    (`IndexModels/TextIndexModel.cs:24-34`) — each field's term set is
    widened through the synonym relation at serve time, then answered by
    the persisted index's bucket-pruned multi-field read.  Expansion only
    ADDS terms, so the plan keeps its shape; the oracle replays the
    scan-time profile over the expanded per-field term sets."""
    from azuredatalakeindexer_spark.sources.profile_index import (
        build_profile_index,
        synonyms_profile_from_index,
    )

    syn = spark.createDataFrame(
        [("merge", "join"), ("query", "scan"), ("unused", "noise")],
        "term string, synonym string",
    )
    root = tempfile.mkdtemp(prefix="adls_psyn_")
    try:
        build_profile_index(
            _docs(spark, sf),
            root,
            field_cols=["text", "source"],
            attr_cols=["n_chars", "source"],
            n_buckets=64,
        )
        out = synonyms_profile_from_index(
            spark,
            root,
            {"text": (["merge", "query"], 2.0), "source": (["src1"], 1.0)},
            syn,
            k=20,
        )
        return _persisted(spark, out)
    finally:
        shutil.rmtree(root, ignore_errors=True)


def q_text_index_profile_simple_query(spark, sf):
    """Simple-query syntax composed with the field-weighted scoring
    profile on ONE serving path
    (`profile_index.simple_query_profile_from_index`, r11 — closes
    VERDICT r10 missing-#1b): positives rank through every weighted field
    with index-global statistics, `+stream` requires the term in at least
    one searched field and `-scan` excludes docs carrying it in any —
    candidate-sized semi/anti-joins against the filter terms' own pruned
    postings slices, idf never reweighted (Lucene/Azure `$filter`
    semantics).  The oracle replays the multi-field profile over the
    positives re-cut to the allowed id set."""
    from azuredatalakeindexer_spark.sources.profile_index import (
        build_profile_index,
        simple_query_profile_from_index,
    )

    root = tempfile.mkdtemp(prefix="adls_psqs_")
    try:
        build_profile_index(
            _docs(spark, sf),
            root,
            field_cols=["text", "source"],
            attr_cols=["n_chars", "source"],
            n_buckets=64,
        )
        out = simple_query_profile_from_index(
            spark,
            root,
            "merge query +stream -scan",
            {"text": 2.0, "source": 1.0},
            k=20,
        )
        return _persisted(spark, out)
    finally:
        shutil.rmtree(root, ignore_errors=True)


def q_text_index_profile_phrase(spark, sf):
    """Simple-query PHRASE predicates on the profile surface (r12 —
    closes VERDICT r11 missing-#1, the last text-surface feature not
    composed with field-weighted profiles): the index is built with
    ``store_fields=True`` (per-field docstore, the reference's
    retrievable fields — `IndexModels/TextIndexModel.cs:24-34`), one
    third of the corpus arrives later as an LSM SEGMENT so the phrase
    check exercises the doc-level LWW docstore resolution, and
    ``+"scan stream"`` / ``-"merge stream"`` evaluate as substring
    semantics over the weighted fields' stored texts — a required phrase
    must appear in at least one weighted field, an excluded phrase in
    none, narrowing the returnable set without reweighting idf.  The
    oracle replays the multi-field profile over the positives re-cut to
    the phrase-allowed id set (full corpus: every doc is written exactly
    once across build + segment)."""
    from azuredatalakeindexer_spark.sources.profile_index import (
        build_profile_index,
        simple_query_profile_from_index,
    )
    from azuredatalakeindexer_spark.sources.profile_segments import (
        upsert_profile_index_segmented,
    )

    docs = _docs(spark, sf)
    root = tempfile.mkdtemp(prefix="adls_pphr_")
    try:
        build_profile_index(
            docs.where(F.col("doc_id") % 3 != 0),
            root,
            field_cols=["text", "source"],
            attr_cols=["n_chars", "source"],
            n_buckets=64,
            store_fields=True,
        )
        upsert_profile_index_segmented(
            spark, root, docs.where(F.col("doc_id") % 3 == 0)
        ).count()
        out = simple_query_profile_from_index(
            spark,
            root,
            'merge value +"scan stream" -"merge stream"',
            {"text": 2.0, "source": 1.0},
            k=20,
        )
        return _persisted(spark, out)
    finally:
        shutil.rmtree(root, ignore_errors=True)


def q_text_index_profile_phrase_pos(spark, sf):
    """Phrase predicates served from POSITIONAL postings on the profile
    surface (r13 — the r12 `weak`'s "(c)" path, Lucene PhraseQuery
    semantics): ``phrase_mode="positions"`` answers ``+"scan stream"`` /
    ``-"merge stream"`` by per-(doc, field) position-list intersection
    (``|∩_i (P_i − i)| > 0`` in at least one weighted field) — cost is
    |postings of the phrase terms|, the docstore never read (plan-pinned
    in pytest).  Token-ADJACENCY semantics, deliberately distinct from
    the substring-matching ``"stored"`` default.  One third of the
    corpus arrives as a pending LSM SEGMENT (positions ride the
    segmented tier too, r13) so the adjacency check exercises the
    doc-level LWW resolution of POSITIONAL rows; the positional
    upsert + delete lifecycle is driver-gated by `text_index_profile_near`."""
    from azuredatalakeindexer_spark.sources.profile_index import (
        build_profile_index,
        simple_query_profile_from_index,
    )
    from azuredatalakeindexer_spark.sources.profile_segments import (
        upsert_profile_index_segmented,
    )

    docs = _docs(spark, sf)
    root = tempfile.mkdtemp(prefix="adls_pphp_")
    try:
        build_profile_index(
            docs.where(F.col("doc_id") % 3 != 0),
            root,
            field_cols=["text", "source"],
            attr_cols=["n_chars"],
            n_buckets=64,
            positions=True,
        )
        upsert_profile_index_segmented(
            spark, root, docs.where(F.col("doc_id") % 3 == 0)
        ).count()
        out = simple_query_profile_from_index(
            spark,
            root,
            'merge value +"scan stream" -"merge stream"',
            {"text": 2.0, "source": 1.0},
            k=20,
            phrase_mode="positions",
        )
        return _persisted(spark, out)
    finally:
        shutil.rmtree(root, ignore_errors=True)


def q_text_index_profile_near(spark, sf):
    """NEAR/proximity composed with a field-weighted scoring profile,
    served FROM the positional multi-field index (r13 — VERDICT r12
    stretch-#8, the last text-surface query type not composed with
    profiles): the index is built with ``positions=True`` (per-field
    Lucene-style positional postings), exercised through the segmented
    maintenance lifecycle — an upsert inserts one third of the corpus
    (positions regenerated for the batch, preserved for the rest), a
    delete removes the ``doc_id % 7 == 0`` docs — and then
    ``merge NEAR/2 stream`` (ordered) must hold in at least one weighted
    field while the two terms rank through both fields with index-global
    stats.  The oracle replays the multi-field profile over the LOGICAL
    post-maintenance corpus re-cut to the position-pair allowed set."""
    from azuredatalakeindexer_spark.sources.profile_index import (
        build_profile_index,
        near_profile_from_index,
    )
    from azuredatalakeindexer_spark.sources.profile_segments import (
        delete_from_profile_index_segmented,
        upsert_profile_index_segmented,
    )

    docs = _docs(spark, sf)
    root = tempfile.mkdtemp(prefix="adls_pnear_")
    try:
        build_profile_index(
            docs.where(F.col("doc_id") % 3 != 0),
            root,
            field_cols=["text", "source"],
            attr_cols=["n_chars"],
            n_buckets=64,
            positions=True,
        )
        upsert_profile_index_segmented(
            spark, root, docs.where(F.col("doc_id") % 3 == 0)
        ).count()
        delete_from_profile_index_segmented(
            spark, root, docs.where(F.col("doc_id") % 7 == 0).select("doc_id")
        )
        out = near_profile_from_index(
            spark,
            root,
            "merge",
            "stream",
            {"text": 2.0, "source": 1.0},
            slop=2,
            ordered=True,
            k=20,
        )
        return _persisted(spark, out)
    finally:
        shutil.rmtree(root, ignore_errors=True)


def q_stream_profile_index(spark, sf):
    """Multi-field profile index maintained from a document arrival
    STREAM (`profile_segments.run_stream_profile_index`, r10): the
    availableNow drain builds the base on the first micro-batch, lands
    every later batch as an O(batch) LSM segment, folds at
    compact_every=3, and serves the scoring profile with the remaining
    segments pending.  Doc-level LWW makes the drain batch-split-
    invariant, so the oracle is the same full-corpus profile replay as
    `text_index_profile_topk`."""
    from azuredatalakeindexer_spark.sources.profile_index import (
        query_profile_index,
    )
    from azuredatalakeindexer_spark.sources.profile_segments import (
        run_stream_profile_index,
    )

    docs = _docs(spark, sf).select("doc_id", "text", "source", "n_chars")
    root = tempfile.mkdtemp(prefix="adls_strprof_")
    try:
        docs_dir = os.path.join(root, "docs")
        docs.repartition(4).write.parquet(docs_dir)
        schema = spark.read.parquet(docs_dir).schema
        run_stream_profile_index(
            spark,
            docs_dir,
            schema,
            os.path.join(root, "index"),
            os.path.join(root, "ckpt"),
            field_cols=["text", "source"],
            attr_cols=["n_chars", "source"],
            n_buckets=64,
            max_files_per_trigger=1,
            compact_every=3,
        )
        out = query_profile_index(
            spark,
            os.path.join(root, "index"),
            {"text": (SEARCH_TERMS, 2.0), "source": (["src1"], 1.0)},
            boost=("n_chars", 0.5, 200.0, 800.0),
            k=20,
        )
        return _persisted(spark, out)
    finally:
        shutil.rmtree(root, ignore_errors=True)


def q_text_index_profile_lsm(spark, sf):
    """Multi-field profile index maintained through the SEGMENTED LSM
    tier (`sources/profile_segments.py`, r10 — closes VERDICT r9
    missing-#1's second half): the same rewrite/delete batches as
    `text_index_profile_upsert`, but applied as O(batch) immutable
    segments (upsert segment + tombstone segment), then the scoring
    profile served WITH THE SEGMENTS STILL PENDING — doc-level
    last-writer-wins resolution across base + segments, exact per-field
    stats advanced per op.  Identical logical corpus to
    `text_index_profile_upsert`, so the oracle is the same scan-time
    profile replay."""
    from azuredatalakeindexer_spark.sources.profile_index import (
        build_profile_index,
        query_profile_index,
    )
    from azuredatalakeindexer_spark.sources.profile_segments import (
        delete_from_profile_index_segmented,
        upsert_profile_index_segmented,
    )

    docs = _docs(spark, sf)
    root = tempfile.mkdtemp(prefix="adls_plsm_")
    try:
        build_profile_index(
            docs,
            root,
            field_cols=["text", "source"],
            attr_cols=["n_chars", "source"],
            n_buckets=64,
        )
        delta = docs.where(F.col("doc_id") % 4 == 0).select(
            "doc_id",
            F.concat(F.lit("merge body rewritten "), F.col("text")).alias("text"),
            F.lit("src1").alias("source"),
            (F.col("n_chars") + 10).alias("n_chars"),
        )
        upsert_profile_index_segmented(spark, root, delta).count()
        delete_from_profile_index_segmented(
            spark, root, docs.select("doc_id").where(F.col("doc_id") % 7 == 0)
        )
        out = query_profile_index(
            spark,
            root,
            {"text": (SEARCH_TERMS, 2.0), "source": (["src1"], 1.0)},
            boost=("n_chars", 0.5, 200.0, 800.0),
            k=20,
        )
        return _persisted(spark, out)
    finally:
        shutil.rmtree(root, ignore_errors=True)


def q_stream_highlight_lsm(spark, sf):
    """Index-served highlighting from a STREAMING-maintained LSM index
    (r10 — closes VERDICT r9 missing-#1: docstore × segmented-LSM
    composition): the document stream drains availableNow into a
    docstore-backed segmented index (`run_stream_text_index(
    store_text=True)`, compact_every=3 folding
    mid-stream), leaving live segments whose per-segment docstores the
    serve path must resolve by the max-segment rule
    (`text_segments.live_docstore_slice`) — then `highlight_from_index`
    answers with candidate-sized fetches.  LWW per doc keeps the drain
    batch-split-invariant, so the oracle is the scan-time bm25 +
    first-hit snippet replay over the whole corpus."""
    from azuredatalakeindexer_spark.sources.text_index import (
        highlight_from_index,
        run_stream_text_index,
    )

    docs = _docs(spark, sf).select("doc_id", "text")
    root = tempfile.mkdtemp(prefix="adls_strhl_")
    try:
        docs_dir = os.path.join(root, "docs")
        docs.repartition(4).write.parquet(docs_dir)
        schema = spark.read.parquet(docs_dir).schema
        run_stream_text_index(
            spark,
            docs_dir,
            schema,
            os.path.join(root, "index"),
            os.path.join(root, "ckpt"),
            n_buckets=64,
            max_files_per_trigger=1,
            compact_every=3,
            store_text=True,
        )
        out = highlight_from_index(
            spark,
            os.path.join(root, "index"),
            SEARCH_TERMS,
            "merge",
            k=20,
            n_buckets=64,
            radius=20,
        )
        return _persisted(spark, out)
    finally:
        shutil.rmtree(root, ignore_errors=True)


def q_text_index_profile_upsert(spark, sf):
    """Multi-field index MAINTENANCE lifecycle (`sources/profile_segments.py::
    upsert_profile_index_segmented` / `delete_from_profile_index_segmented`):
    MergeOrUpload a rewrite batch (docs ≡ 0 mod 4 — new text, source
    flipped to src1, n_chars +10), delete docs ≡ 0 mod 7, then serve the
    scoring profile from the maintained index.  Each op writes one O(batch)
    segment and advances the per-field stats exactly, under one
    staged-commit journal.  The oracle replays the scan-time profile over
    the logical post-maintenance corpus."""
    from azuredatalakeindexer_spark.sources.profile_index import (
        build_profile_index,
        query_profile_index,
    )
    from azuredatalakeindexer_spark.sources.profile_segments import (
        delete_from_profile_index_segmented,
        upsert_profile_index_segmented,
    )

    docs = _docs(spark, sf)
    root = tempfile.mkdtemp(prefix="adls_pium_")
    try:
        build_profile_index(
            docs,
            root,
            field_cols=["text", "source"],
            attr_cols=["n_chars", "source"],
            n_buckets=64,
        )
        delta = docs.where(F.col("doc_id") % 4 == 0).select(
            "doc_id",
            F.concat(F.lit("merge body rewritten "), F.col("text")).alias("text"),
            F.lit("src1").alias("source"),
            (F.col("n_chars") + 10).alias("n_chars"),
        )
        upsert_profile_index_segmented(spark, root, delta).count()
        delete_from_profile_index_segmented(
            spark, root, docs.select("doc_id").where(F.col("doc_id") % 7 == 0)
        )
        out = query_profile_index(
            spark,
            root,
            {"text": (SEARCH_TERMS, 2.0), "source": (["src1"], 1.0)},
            boost=("n_chars", 0.5, 200.0, 800.0),
            k=20,
        )
        return _persisted(spark, out)
    finally:
        shutil.rmtree(root, ignore_errors=True)


def q_search_with_facets(spark, sf):
    """Facets over the MATCH SET, index-served end-to-end
    (`sources/profile_index.py::facets_from_index`, r9 — closes VERDICT
    r8 missing-#3): Azure Search computes facets on the documents
    matching the query, not the whole corpus.  The match ids come from
    the multi-field index's pruned postings (text: merge/query/stream OR
    source: src1), the facet values from the persisted docvals attribute
    store — the corpus is never touched.  The oracle replays the
    token-membership match set and the top-5 facet ranking."""
    from azuredatalakeindexer_spark.sources.profile_index import (
        build_profile_index,
        facets_from_index,
    )

    root = tempfile.mkdtemp(prefix="adls_fct_")
    try:
        build_profile_index(
            _docs(spark, sf),
            root,
            field_cols=["text", "source"],
            attr_cols=["lang", "source", "n_chars"],
            n_buckets=64,
        )
        out = facets_from_index(
            spark,
            root,
            {"text": SEARCH_TERMS, "source": ["src1"]},
            ["lang", "source"],
            top_n=5,
        )
        return _persisted(spark, out)
    finally:
        shutil.rmtree(root, ignore_errors=True)


def q_text_index_profile_suggest(spark, sf):
    """Field-scoped autocomplete served FROM the multi-field profile
    index (r14 — VERDICT r13 stretch-#7; the reference service's
    suggesters name the ``sourceFields`` they draw from,
    `IndexModels/TextIndexModel.cs:24-34`): the index is built on two
    thirds of the corpus, the remaining third arrives as a pending LSM
    SEGMENT, and ``suggest_profile_from_index`` must recount each
    prefix-matched term's df EXACTLY over the live doc versions (doc-
    level LWW across base + segment) — df counts distinct documents
    carrying the term in ANY scoped field.  Cost is |vocabulary slice
    under the prefix| (pushed StartsWith over term-sorted bucket files),
    independent of corpus size.  The oracle recounts from the full
    corpus (every doc written exactly once across build + segment)."""
    from azuredatalakeindexer_spark.sources.profile_index import (
        build_profile_index,
        suggest_profile_from_index,
    )
    from azuredatalakeindexer_spark.sources.profile_segments import (
        upsert_profile_index_segmented,
    )

    docs = _docs(spark, sf)
    root = tempfile.mkdtemp(prefix="adls_psug_")
    try:
        build_profile_index(
            docs.where(F.col("doc_id") % 3 != 0),
            root,
            field_cols=["text", "source"],
            n_buckets=64,
        )
        upsert_profile_index_segmented(
            spark, root, docs.where(F.col("doc_id") % 3 == 0)
        ).count()
        out = suggest_profile_from_index(
            spark, root, "s", fields=["text", "source"], k=10
        )
        return _persisted(spark, out)
    finally:
        shutil.rmtree(root, ignore_errors=True)


def q_text_index_profile_fuzzy(spark, sf):
    """Fuzzy search composed with a field-weighted scoring profile,
    served FROM the persisted multi-field index (r14 — VERDICT r13
    stretch-#7; the service resolves ``term~`` index-side, full-Lucene
    mode — `AzureSearchIndexer/PathIndexClient.cs:49-92`):
    ``stroam~2`` expands against EACH weighted field's vocabulary
    independently (length band + prefix guard pushed into the term-
    sorted postings, levenshtein <= 2, per-field top-50 by dist asc /
    df desc / term asc — Lucene's per-field FuzzyQuery rewrite), then
    the expansions score through the profile: BM25 per field with
    index-global stats, weighted 2.0/1.0 and summed.  The oracle
    replays expansion AND scoring relationally with the term-sorted
    contribution fold (float-association-exact)."""
    from azuredatalakeindexer_spark.sources.profile_index import (
        build_profile_index,
        fuzzy_profile_from_index,
    )

    docs = _docs(spark, sf)
    root = tempfile.mkdtemp(prefix="adls_pfzz_")
    try:
        build_profile_index(
            docs, root, field_cols=["text", "source"], n_buckets=64
        )
        out = fuzzy_profile_from_index(
            spark,
            root,
            "stroam",
            {"text": 2.0, "source": 1.0},
            max_edits=2,
            prefix_len=1,
            max_expansions=50,
            k=20,
        )
        return _persisted(spark, out)
    finally:
        shutil.rmtree(root, ignore_errors=True)


def q_text_index_profile_wildcard(spark, sf):
    """Wildcard search composed with a field-weighted scoring profile,
    served FROM the persisted multi-field index (r14 — VERDICT r13
    stretch-#7): ``s*r*`` enumerates BOTH weighted fields' vocabularies
    (text terms like 'stream' AND the source tags 'srcN' match —
    exercising genuinely per-field expansion lists), caps each field at
    top-50 by df desc / term asc, and scores the per-field expansions
    through the profile with index-global stats.  A literal-prefix
    pattern plans as a pushable StartsWith over the term-sorted postings
    files; the oracle replays expansion and scoring relationally."""
    from azuredatalakeindexer_spark.sources.profile_index import (
        build_profile_index,
        wildcard_profile_from_index,
    )

    docs = _docs(spark, sf)
    root = tempfile.mkdtemp(prefix="adls_pwld_")
    try:
        build_profile_index(
            docs, root, field_cols=["text", "source"], n_buckets=64
        )
        out = wildcard_profile_from_index(
            spark,
            root,
            "s*r*",
            {"text": 2.0, "source": 1.0},
            max_expansions=50,
            k=20,
        )
        return _persisted(spark, out)
    finally:
        shutil.rmtree(root, ignore_errors=True)


def q_stream_profile_facets_filtered(spark, sf):
    """Search + $filter facets served from the LSM-RESIDENT profile index
    mid-stream (r11 — VERDICT r10 next-#7): documents arrive as a file
    stream, `run_stream_profile_index` lands each micro-batch as an
    O(batch) segment (compact_every high enough that segments are still
    pending at serve time), then `facets_from_index` answers with a
    `$filter` id set (300 <= n_chars < 700) — match-set facets composed
    with doc-level LWW liveness across base + pending segments on one
    serving path.  Every doc is written once, so the live corpus is the
    full table and the oracle is the scan-time filtered facet replay."""
    from azuredatalakeindexer_spark.sources.profile_index import (
        facets_from_index,
    )
    from azuredatalakeindexer_spark.sources.profile_segments import (
        run_stream_profile_index,
    )

    docs = _docs(spark, sf).select("doc_id", "text", "source", "lang", "n_chars")
    root = tempfile.mkdtemp(prefix="adls_strfct_")
    try:
        docs_dir = os.path.join(root, "docs")
        docs.repartition(4).write.parquet(docs_dir)
        schema = spark.read.parquet(docs_dir).schema
        run_stream_profile_index(
            spark,
            docs_dir,
            schema,
            os.path.join(root, "index"),
            os.path.join(root, "ckpt"),
            field_cols=["text", "source"],
            attr_cols=["lang", "source", "n_chars"],
            n_buckets=64,
            max_files_per_trigger=1,
            compact_every=8,  # > batch count: segments stay pending
        )
        allowed = docs.where(
            (F.col("n_chars") >= 300) & (F.col("n_chars") < 700)
        ).select("doc_id")
        out = facets_from_index(
            spark,
            os.path.join(root, "index"),
            {"text": SEARCH_TERMS, "source": ["src1"]},
            ["lang", "source"],
            top_n=5,
            filter_ids=allowed,
        )
        return _persisted(spark, out)
    finally:
        shutil.rmtree(root, ignore_errors=True)


def q_bpe_train(spark, sf):
    """Distributed BPE tokenizer training (operators/bpe.py): 8 merges
    learned from the vocabulary relation; the oracle unrolls the EXACT
    training trajectory (pair-count argmax + run-safe replace per
    iteration) as chained SQL CTEs."""
    from azuredatalakeindexer_spark.operators.bpe import train_bpe

    return train_bpe(_docs(spark, sf), n_merges=8)


def q_bpe_encode(spark, sf):
    """Vocabulary-cached BPE encoding with the 8 learned merges: per-doc
    word and subword counts; the segmentation runs once per DISTINCT word
    and broadcasts back over the occurrences."""
    from azuredatalakeindexer_spark.operators.bpe import encode_bpe, train_bpe

    merges = [
        (r["left"], r["right"])
        for r in train_bpe(_docs(spark, sf), n_merges=8).orderBy("rank").collect()
    ]
    return encode_bpe(_docs(spark, sf), merges)


def q_bpe_pipeline(spark, sf):
    """Train-then-serve BPE end-to-end at a realistic merge count: 64
    learned merges (past ARROW_MERGE_THRESHOLD, so encoding routes through
    the Arrow word-level encoder — a 64-deep replace-expression stack is
    the wrong physical plan) → vocabulary-cached encode → per-doc token
    counts.  Proves the two operators compose (VERDICT r5 next-#6); the
    oracle unrolls the full 64-iteration trajectory as chained CTEs."""
    from azuredatalakeindexer_spark.operators.bpe import (
        ARROW_MERGE_THRESHOLD,
        encode_bpe,
        train_bpe,
    )

    merges = [
        (r["left"], r["right"])
        for r in train_bpe(_docs(spark, sf), n_merges=64).orderBy("rank").collect()
    ]
    assert len(merges) > ARROW_MERGE_THRESHOLD
    return encode_bpe(_docs(spark, sf), merges)


def q_lm_scores(spark, sf):
    """CCNet-style LM quality scoring: corpus-trained add-one bigram LM,
    per-doc average log-probability (decimal-summed for hash stability)."""
    from azuredatalakeindexer_spark.operators.textops import bigram_lm_scores

    return bigram_lm_scores(_docs(spark, sf))


def q_quality_score(spark, sf):
    """Quality scoring (Gopher/C4-style features)."""
    out = quality_score(_docs(spark, sf))
    return out.withColumn("n_tokens", F.col("n_tokens").cast("bigint"))


def q_tfidf_top_terms(spark, sf):
    """TF-IDF top-5 terms per document (smoothed sklearn idf; rounded score
    ranks AND hashes, ties on term)."""
    from azuredatalakeindexer_spark.operators.textops import tfidf_top_terms

    return tfidf_top_terms(_docs(spark, sf), k=5)


def q_token_stats(spark, sf):
    """Token counting: whitespace + BPE-ish regex tokens."""
    out = token_stats(_docs(spark, sf))
    return out.select(
        "doc_id",
        *[F.col(c).cast("bigint").alias(c) for c in ("ws_tokens", "regex_tokens", "distinct_tokens")],
    )


def q_doc_fingerprints(spark, sf):
    """Rolling polynomial + char-prefix document fingerprints."""
    return fingerprints(_docs(spark, sf))


def q_multimodal_features(spark, sf):
    """Multimodal plumbing: binary payload + Arrow-batched mapInPandas decode
    (deterministic fake features; real decoder stubbed by design)."""
    mm = attach_binary_payload(_docs(spark, sf))
    return extract_features(mm, fake=True).select(
        "doc_id", "mime", "byte_len", "magic_hex", "width", "height"
    )


def q_index_ddl(spark, sf):
    """S7: the reflection step of index DDL — field capabilities from the
    typed model's metadata (Utils.cs:23-44, PathIndexModel.cs:12-25)."""
    from azuredatalakeindexer_spark.schemas import PATH_INDEX_SCHEMA
    from azuredatalakeindexer_spark.sources.ddl import index_field_capabilities

    return index_field_capabilities(spark, PATH_INDEX_SCHEMA)


def _persisted(spark, df: DataFrame) -> DataFrame:
    """Persist a result whose lineage depends on about-to-be-deleted temp
    inputs, and return a LAZY read of the persisted copy — never a
    driver-side collect (at lake scale "one row per file" is the unbounded
    catalog).  The parquet dir lives for the session; /tmp reaping cleans it.
    """
    result_dir = tempfile.mkdtemp(prefix="adls_result_")
    df.write.mode("overwrite").parquet(result_dir)
    return spark.read.parquet(result_dir)


#: per-(session, sf) cache of shared harness runs: indexer_run and
#: indexer_run_metrics both need the same §3.1 run, stream_upsert_events and
#: stream_deleted_index the same streaming drain.  The computation is
#: deterministic and the cached results are _persisted lazy reads (no bound
#: temp state), so replaying it per query only doubles gate wall-time.
_HARNESS_MEMO: dict = {}


def _memo_key(spark, sf, tag):
    return (spark.sparkContext.applicationId, sf, tag)


def _indexer_result(spark, sf):
    """Shared §3.1 end-to-end run: write a real JSON lake (malformed files
    included) from the documents fixture, then run the full
    ``run_document_indexer`` composition — S3/S4 file read+parse, J1 join,
    P1/P2 map+null-drop, P11, W1, J3, S6 MERGE, A1-A3 metrics
    (reference DataLakeIndexer.cs:20-49).  Memoized per (session, sf)."""
    key = _memo_key(spark, sf, "indexer")
    if key in _HARNESS_MEMO:
        return _HARNESS_MEMO[key]
    from azuredatalakeindexer_spark.plans.indexer import run_document_indexer
    from azuredatalakeindexer_spark.sources.fixtures import (
        build_document_lake,
        build_existing_data_index,
        document_lake_path_index,
    )
    from azuredatalakeindexer_spark.sources.synthetic import write_document_lake

    lake = build_document_lake(_docs(spark, sf))
    root = tempfile.mkdtemp(prefix="adls_lake_")
    try:
        write_document_lake(lake, root)
        res = run_document_indexer(
            spark,
            document_lake_path_index(lake),
            root,
            build_existing_data_index(lake),
            ListPathsOptions(from_last_modified=W, filesystem="stuff-large"),
        )
        out = res.merged.select(
            "pathbase64",
            "stringvalue",
            "numbervalue",
            "booleanvalue",
            "eTag",
            "pathUrlEncoded",
            _fmt(F.col("lastModified")).alias("lastModified"),
        )
        res.merged = _persisted(spark, out)
        if res.batch is not None:
            res.batch.unpersist()
            res.batch = None
        _HARNESS_MEMO[key] = res
        return res
    finally:
        shutil.rmtree(root, ignore_errors=True)


def q_indexer_run(spark, sf):
    """§3.1 end-to-end: the merged data index after a full indexer run over a
    real JSON lake — S3+S4+P1+P2+J1+F11 exercised against the oracle in one
    composition (RunDocumentIndexerOnPathsAsync, DataLakeIndexer.cs:20-49)."""
    return _indexer_result(spark, sf).merged


def q_indexer_run_metrics(spark, sf):
    """A2/A3 end-to-end: IndexerRunMetrics of the same §3.1 run
    (DataLakeIndexer.cs:39-48 — without the ProcessedCount=FailedCount bug)."""
    res = _indexer_result(spark, sf)
    return spark.createDataFrame(
        [
            (
                res.paths_count,
                res.document_read_count,
                res.document_read_failed_count,
                res.processed_count,
                res.created_count,
                res.modified_count,
                res.failed_too_large_count,
            )
        ],
        "pathsCount long, documentReadCount long, documentReadFailedCount long, "
        "processedCount long, createdCount long, modifiedCount long, failedTooLargeCount long",
    )


def _stream_run(spark, sf, target: str) -> DataFrame:
    """Shared T1-T4/T7 streaming harness: readStream over the derived
    blob-event batch, foreachBatch LWW merge into BOTH indexes, availableNow
    drain — then one of the two resulting tables.  One drain serves both
    queries (memoized per session/sf); both indexes are persisted before the
    temp lake disappears."""
    from azuredatalakeindexer_spark.streaming.events import run_event_stream_upsert

    key = _memo_key(spark, sf, "stream_run")
    if key in _HARNESS_MEMO:
        return _HARNESS_MEMO[key][target]

    ev = build_blob_events(load_table(spark, sf, "events"))
    root = tempfile.mkdtemp(prefix="adls_stream_")
    try:
        events_dir = os.path.join(root, "events")
        # several files -> several micro-batches; the merge must be
        # batch-split-invariant for this query to hash-match the oracle
        ev.repartition(4).write.parquet(events_dir)
        schema = spark.read.parquet(events_dir).schema
        pi_dir = os.path.join(root, "path_index")
        del_dir = os.path.join(root, "deleted_index")
        ckpt = os.path.join(root, "ckpt")
        run_event_stream_upsert(
            spark, events_dir, schema, pi_dir, del_dir, ckpt, now=W,
            max_files_per_trigger=1,
        )
        # persist BOTH indexes before the temp dir disappears, return lazy
        # reads — at real scale "one row per lake file" is the unbounded
        # catalog, so no driver collect here
        _HARNESS_MEMO[key] = {
            dest: _persisted(
                spark, _pi_str(spark.read.parquet(d).drop("_seq"))
            )
            for dest, d in (("created", pi_dir), ("deleted", del_dir))
        }
        return _HARNESS_MEMO[key][target]
    finally:
        shutil.rmtree(root, ignore_errors=True)


def q_stream_upsert_events(spark, sf):
    """T1-T4: real Structured Streaming run — readStream over the derived
    blob-event batch, foreachBatch LWW merge, availableNow drain (T7) — then
    the resulting path-index table (PathIndexerFunc.cs:18-36)."""
    return _stream_run(spark, sf, "created")


def q_stream_deleted_index(spark, sf):
    """T2: the deleted-path index from the same streaming run — the
    BlobDeleted half the reference stubbed (PathIndexerFunc.cs:39-74,
    'only add to blob deleted paths index?'), implemented with the intended
    semantics and feeding the J2 anti-join downstream."""
    return _stream_run(spark, sf, "deleted")


def q_stream_exact_dedup(spark, sf):
    """Streaming corpus curation: drain the document arrivals (availableNow,
    1 file per trigger → multiple micro-batches) into the incremental
    exact-dedup state; the final state must equal batch exact_dedup over the
    whole corpus — proving the merge is batch-split-invariant."""
    from azuredatalakeindexer_spark.streaming.corpus import run_stream_exact_dedup

    docs = _docs(spark, sf).select("doc_id", "text")
    root = tempfile.mkdtemp(prefix="adls_scorpus_")
    try:
        docs_dir = os.path.join(root, "docs")
        docs.repartition(4).write.parquet(docs_dir)
        schema = spark.read.parquet(docs_dir).schema
        state_dir = os.path.join(root, "state")
        ckpt = os.path.join(root, "ckpt")
        run_stream_exact_dedup(
            spark, docs_dir, schema, state_dir, ckpt, max_files_per_trigger=1
        )
        return _persisted(spark, spark.read.parquet(state_dir))
    finally:
        shutil.rmtree(root, ignore_errors=True)


def q_stream_minhash_dedup(spark, sf):
    """Streaming NEAR-dup dedup: drain document arrivals (1 file per
    trigger → multiple micro-batches) into the incremental MinHash
    band-bucket-min state, then report each document's near-dup
    representative as a view over the final state.  Bucket minima are
    associative, so the drained state — and therefore the report — must
    equal the batch computation over the whole corpus (the oracle replays
    the full banding chain in SQL)."""
    from azuredatalakeindexer_spark.streaming.corpus import (
        rep_assignments_from_band_state,
        run_stream_minhash_state,
    )

    docs = _docs(spark, sf).select("doc_id", "text")
    root = tempfile.mkdtemp(prefix="adls_smh_")
    try:
        docs_dir = os.path.join(root, "docs")
        docs.repartition(4).write.parquet(docs_dir)
        schema = spark.read.parquet(docs_dir).schema
        state_dir = os.path.join(root, "state")
        ckpt = os.path.join(root, "ckpt")
        run_stream_minhash_state(
            spark, docs_dir, schema, state_dir, ckpt, max_files_per_trigger=1
        )
        state = spark.read.parquet(state_dir)
        return _persisted(
            spark, rep_assignments_from_band_state(docs, state)
        )
    finally:
        shutil.rmtree(root, ignore_errors=True)


def _place_stream_file(src: str, d: str, i: int) -> None:
    """Move a part file into the stream dir as slice ``i`` with a forced
    modification time — FileStreamSource orders by mtime, so this pins
    chronological arrival."""
    dst = os.path.join(d, f"slice_{i:03d}.parquet")
    shutil.move(src, dst)
    os.utime(dst, (1_700_000_000 + i, 1_700_000_000 + i))


def _add_stream_file(df, root: str, d: str, i: int) -> None:
    """Append one more single-file slice (e.g. a watermark sentinel)."""
    import glob

    tmp = os.path.join(root, f"slice_{i}")
    df.coalesce(1).write.mode("overwrite").parquet(tmp)
    _place_stream_file(glob.glob(os.path.join(tmp, "part-*.parquet"))[0], d, i)


def _write_chrono_slices(df, root: str, ts_col: str = "ts", n: int = 6):
    """Write ``df`` as ``n`` chronological single-file parquet slices under
    ``root``/ev (event time ≈ arrival order — the realistic stream pattern,
    and the one watermark semantics depend on; see streaming/windowed.py).
    All ``n`` slices come from ONE partitioned write job.  Returns
    ``(stream_dir, min_ts, max_ts)``.

    ``n=6`` with ``maxFilesPerTrigger=3`` gives 3 micro-batches per drain —
    still multiple watermark advances (the property the drained-to-batch
    parity depends on) at roughly half the per-batch state-store overhead
    of the previous 10-slice layout."""
    import glob

    d = os.path.join(root, "ev")
    os.makedirs(d)
    bounds = df.agg(F.min(ts_col), F.max(ts_col)).collect()[0]
    lo, hi = bounds[0], bounds[1]
    span_s = ((hi - lo) / n).total_seconds()
    sliced = df.withColumn(
        "_slice",
        F.least(
            F.floor(
                (F.unix_timestamp(ts_col) - F.unix_timestamp(F.lit(lo))) / span_s
            ),
            F.lit(n - 1),
        ).cast("int"),
    )
    tmp_all = os.path.join(root, "slices")
    sliced.repartition("_slice").write.partitionBy("_slice").parquet(tmp_all)
    for i in range(n):
        parts = glob.glob(os.path.join(tmp_all, f"_slice={i}", "part-*.parquet"))
        assert parts, f"slice {i} empty"
        _place_stream_file(parts[0], d, i)
    return d, lo, hi


def q_stream_curated_dedup(spark, sf):
    """Streaming curation: documents arrive (availableNow, 1 file/trigger),
    are gated by the SAME language/quality expressions as the batch funnel,
    and survivors merge into the incremental exact-dedup state — the final
    state must equal the batch gate + exact_dedup over the whole corpus."""
    from azuredatalakeindexer_spark.streaming.corpus import run_stream_curated_dedup

    docs = _docs(spark, sf).select("doc_id", "text")
    root = tempfile.mkdtemp(prefix="adls_scur_")
    try:
        docs_dir = os.path.join(root, "docs")
        docs.repartition(4).write.parquet(docs_dir)
        schema = spark.read.parquet(docs_dir).schema
        state_dir = os.path.join(root, "state")
        ckpt = os.path.join(root, "ckpt")
        run_stream_curated_dedup(
            spark, docs_dir, schema, state_dir, ckpt, max_files_per_trigger=1
        )
        return _persisted(spark, spark.read.parquet(state_dir))
    finally:
        shutil.rmtree(root, ignore_errors=True)


def q_stream_windowed_counts(spark, sf):
    """Watermarked event-time window aggregation drained to batch parity:
    files arrive in chronological slices (event time ≈ arrival order, delay
    ≪ slice span so nothing is late), far-future sentinel rows advance the
    watermark past the tail, and the append-mode output must equal the
    batch hourly aggregation row-for-row."""
    from azuredatalakeindexer_spark.streaming.windowed import (
        SENTINEL_TYPE,
        run_stream_windowed_counts,
    )

    ev = load_table(spark, sf, "events").select("event_id", "ts", "event_type")
    root = tempfile.mkdtemp(prefix="adls_swin_")
    try:
        d, lo, hi = _write_chrono_slices(ev, root)

        def sentinel(i: int):
            return spark.createDataFrame(
                [(-i, hi, SENTINEL_TYPE)], "event_id long, ts timestamp, event_type string"
            ).withColumn("ts", F.col("ts") + F.expr(f"INTERVAL {3 * i} HOURS"))

        schema = spark.read.parquet(d).schema
        out_dir = os.path.join(root, "out")
        ckpt = os.path.join(root, "ckpt")
        # drain 1: real slices + sentinel-1 (advances the watermark past all
        # real windows, but emission needs a subsequent batch) …  3 files
        # per trigger keeps multiple micro-batches (intra-run watermark
        # progression stays exercised) without 12 rounds of batch overhead
        _add_stream_file(sentinel(1), root, d, 10)
        run_stream_windowed_counts(
            spark, d, schema, out_dir, ckpt, max_files_per_trigger=3,
            state_partitions=8,
        )
        # … which drain 2's sentinel-2 batch provides: every real window is
        # now behind the watermark and flushes
        _add_stream_file(sentinel(2), root, d, 11)
        run_stream_windowed_counts(
            spark, d, schema, out_dir, ckpt, max_files_per_trigger=3,
            state_partitions=8,
        )

        got = (
            spark.read.parquet(out_dir)
            .where(F.col("event_type") != SENTINEL_TYPE)
            .select(_fmt(F.col("window_start")).alias("window_start"), "event_type", "n")
        )
        return _persisted(spark, got)
    finally:
        shutil.rmtree(root, ignore_errors=True)


def q_stream_sessionize(spark, sf):
    """Streaming sessionization drained to batch parity: session_window
    state merges across micro-batches, sessions emit when the watermark
    passes last_event + gap, sentinels close the tail — the drained output
    must equal the batch events_sessionize rows exactly (same oracle)."""
    from azuredatalakeindexer_spark.streaming.windowed import run_stream_sessionize

    ev = load_table(spark, sf, "events").select("event_id", "ts", "user_id")
    root = tempfile.mkdtemp(prefix="adls_sses_")
    try:
        d, lo, hi = _write_chrono_slices(ev, root)

        def sentinel(i: int):
            return spark.createDataFrame(
                [(-i, hi, -1)], "event_id long, ts timestamp, user_id long"
            ).withColumn("ts", F.col("ts") + F.expr(f"INTERVAL {3 * i} HOURS"))

        schema = spark.read.parquet(d).schema
        out_dir = os.path.join(root, "out")
        ckpt = os.path.join(root, "ckpt")
        _add_stream_file(sentinel(1), root, d, 10)
        run_stream_sessionize(
            spark, d, schema, out_dir, ckpt, max_files_per_trigger=3,
            state_partitions=8,
        )
        _add_stream_file(sentinel(2), root, d, 11)
        run_stream_sessionize(
            spark, d, schema, out_dir, ckpt, max_files_per_trigger=3,
            state_partitions=8,
        )
        got = (
            spark.read.parquet(out_dir)
            .where(F.col("user_id") >= 0)
            .select(
                "user_id",
                _fmt(F.col("session_start")).alias("session_start"),
                "n_events",
            )
        )
        return _persisted(spark, got)
    finally:
        shutil.rmtree(root, ignore_errors=True)


def q_stream_view_click_join(spark, sf):
    """Watermarked stream-stream interval join (streaming/joins.py): views
    joined to same-user clicks within [view_ts, view_ts + 6h), drained over
    chronological file slices.  Inner joins emit eagerly, so the drained
    output must equal the batch time-bounded self-join exactly — which is
    the DuckDB oracle."""
    from azuredatalakeindexer_spark.streaming.joins import run_stream_interval_join

    ev = load_table(spark, sf, "events").select(
        "event_id", "ts", "user_id", "event_type"
    )
    root = tempfile.mkdtemp(prefix="adls_sjoin_")
    try:
        d, _lo, _hi = _write_chrono_slices(ev, root)
        schema = spark.read.parquet(d).schema
        out_dir = os.path.join(root, "out")
        ckpt = os.path.join(root, "ckpt")
        # state_partitions sized to the join-key cardinality (150 users at
        # sf0.01): a join checkpoint commits FOUR state stores per shuffle
        # partition per micro-batch, so oversized partitioning multiplies
        # fixed commit cost (8 partitions → ~87 s; 2 → ~7 s, same result)
        run_stream_interval_join(
            spark, d, schema, out_dir, ckpt,
            max_files_per_trigger=3, state_partitions=2,
        )
        got = spark.read.parquet(out_dir).select(
            "view_id",
            "click_id",
            "user_id",
            _fmt(F.col("view_ts")).alias("view_ts"),
            _fmt(F.col("click_ts")).alias("click_ts"),
            "delay_s",
        )
        return _persisted(spark, got)
    finally:
        shutil.rmtree(root, ignore_errors=True)


def q_stream_join_left_outer(spark, sf):
    """Left-outer watermarked interval join: matched view→click pairs emit
    eagerly; each unmatched view emits (null click columns) only once the
    watermark passes view_ts + 6h.  Far-future sentinel rows of BOTH event
    types advance both sides' watermarks (min-policy) past every real
    window, and a second drain provides the later micro-batch emission
    requires — after which the drained output must equal the batch
    time-bounded LEFT join exactly."""
    from azuredatalakeindexer_spark.streaming.joins import run_stream_interval_join

    ev = load_table(spark, sf, "events").select(
        "event_id", "ts", "user_id", "event_type"
    )
    root = tempfile.mkdtemp(prefix="adls_sjlo_")
    try:
        d, _lo, hi = _write_chrono_slices(ev, root)

        def sentinel(i: int):
            # user_id must be NON-NULL but impossible (-1): the join key
            # equality makes Catalyst infer isnotnull(user_id) and push it
            # BELOW the watermark node, so a null-user sentinel would be
            # filtered before ever advancing the watermark (min-policy →
            # global watermark stuck, unmatched views never emit).  ids < 0
            # are filtered at read-back so the sentinels' own left windows
            # cannot leak into the result.
            return spark.createDataFrame(
                [(-2 * i - 2, hi, -1, "view"), (-2 * i - 3, hi, -1, "click")],
                "event_id long, ts timestamp, user_id long, event_type string",
            ).withColumn("ts", F.col("ts") + F.expr(f"INTERVAL {9 + 3 * i} HOURS"))

        schema = spark.read.parquet(d).schema
        out_dir = os.path.join(root, "out")
        ckpt = os.path.join(root, "ckpt")
        # drain 1: real slices + sentinel-0 (watermark ends at hi+9h-delay,
        # past every real view's hi+6h close, but emission needs a later
        # batch) … which drain 2's sentinel-1 batch provides
        _add_stream_file(sentinel(0), root, d, 10)
        run_stream_interval_join(
            spark, d, schema, out_dir, ckpt,
            max_files_per_trigger=3, state_partitions=2, join_type="left_outer",
        )
        _add_stream_file(sentinel(1), root, d, 11)
        run_stream_interval_join(
            spark, d, schema, out_dir, ckpt,
            max_files_per_trigger=3, state_partitions=2, join_type="left_outer",
        )
        got = (
            spark.read.parquet(out_dir)
            .where(F.col("view_id") >= 0)
            .select(
                "view_id",
                "click_id",
                "user_id",
                _fmt(F.col("view_ts")).alias("view_ts"),
                _fmt(F.col("click_ts")).alias("click_ts"),
                "delay_s",
            )
        )
        return _persisted(spark, got)
    finally:
        shutil.rmtree(root, ignore_errors=True)


def _partitioned_result(spark, sf):
    """Shared T5 cycle (memoized per session/sf): five prefix-filtered S2
    runs merged sequentially, with per-partition batch counts."""
    from azuredatalakeindexer_spark.plans.partitioned import run_partitioned_upserts

    key = _memo_key(spark, sf, "partitioned")
    if key in _HARNESS_MEMO:
        return _HARNESS_MEMO[key]
    orders = _orders(spark, sf)
    pi = build_path_index(orders)
    existing = build_path_index(orders.where(F.col("o_orderkey") % 3 == 0))
    state, counts = run_partitioned_upserts(
        pi,
        existing,
        [f"partition_{i}" for i in range(1, 6)],
        from_last_modified=W,
    )
    _HARNESS_MEMO[key] = (_persisted(spark, _pi_str(state)), counts)
    return _HARNESS_MEMO[key]


def q_partitioned_runs(spark, sf):
    """T5: one scheduled cycle of partition-prefix indexer runs
    (DatalakeIndexerFunc.cs:20-48) — five prefix-filtered S2 queries merged
    sequentially into the index; returns the final index state."""
    state, _counts = _partitioned_result(spark, sf)
    return state


def q_partitioned_counts(spark, sf):
    """T5: the per-partition changed-path counts the reference logs per cron
    run (DatalakeIndexerFunc.cs:50-53)."""
    _state, counts = _partitioned_result(spark, sf)
    return spark.createDataFrame(
        [(k, v) for k, v in counts.items()], "prefix string, n long"
    )


def q_listing_to_path_rows(spark, sf):
    """P4 + P5: PathItem listing → PathIndexModel rows, directories dropped
    (PathIndexClient.cs:112-126)."""
    from azuredatalakeindexer_spark.operators.mapper import listing_to_path_rows

    listing = build_listing(_orders(spark, sf))
    return _pi_str(listing_to_path_rows(listing, now=F.lit(W).cast("timestamp")))


def q_iso_ts(spark, sf):
    """F8: C# '{ts:o}' round-trip format — 7 fractional digits + offset
    (PathIndexClient.cs:53)."""
    from azuredatalakeindexer_spark.functions.keys import iso_ts

    ev = load_table(spark, sf, "events")
    return ev.select("event_id", iso_ts(F.col("ts")).alias("iso"))


# --------------------------------------------------------------------------
# contract functions
# --------------------------------------------------------------------------

def entry(spark: SparkSession) -> DataFrame:
    """Flagship query on /root/testdata/sf0.001; driver checks rows>0."""
    return q_list_changed_paths(spark, "/root/testdata/sf0.001")


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """Registered driver queries, grouped by family.

    Every entry hash-matches its ``oracle_sql()`` twin (replayed by
    ``tools/check_correctness.py``), so the order carries no meaning.
    """
    return {
        # -- the loop: path index, blob events, indexer, upsert sink, batching
        "list_changed_paths": q_list_changed_paths,
        "keyset_page": q_keyset_page,
        "path_keys": q_path_keys,
        "url_roundtrip": q_url_roundtrip,
        "split_blob_urls": q_split_blob_urls,
        "iso_ts": q_iso_ts,
        "listing_to_path_rows": q_listing_to_path_rows,
        "events_to_path_rows": q_events_to_path_rows,
        "dedup_last_writer": q_dedup_last_writer,
        "upsert_status_counts": q_upsert_status_counts,
        "upsert_merge": q_upsert_merge,
        "deleted_anti_join": q_deleted_anti_join,
        "oversize_filter": q_oversize_filter,
        "batch_packing": q_batch_packing,
        "batch_packing_greedy": q_batch_packing_greedy,
        "rebuild_batches": q_rebuild_batches,
        "run_metrics": q_run_metrics,
        "doc_count": q_doc_count,
        "watermark_filter_agg": q_watermark_filter_agg,
        "directory_filter": q_directory_filter,
        "index_ddl": q_index_ddl,
        "indexer_run": q_indexer_run,
        "indexer_run_metrics": q_indexer_run_metrics,
        "stream_upsert_events": q_stream_upsert_events,
        "stream_deleted_index": q_stream_deleted_index,
        "partitioned_runs": q_partitioned_runs,
        "partitioned_counts": q_partitioned_counts,
        # -- in-memory search models (operators/search.py)
        "search_bm25": q_search_bm25,
        "search_facets": q_search_facets,
        "search_facet_ranges": q_search_facet_ranges,
        "search_highlight": q_search_highlight,
        "search_suggest": q_search_suggest,
        "search_suggest2": q_search_suggest2,
        "search_suggest_ctx": q_search_suggest_ctx,
        "search_fuzzy_terms": q_search_fuzzy_terms,
        "search_fuzzy": q_search_fuzzy,
        "search_wildcard": q_search_wildcard,
        "search_profile": q_search_profile,
        "search_profile_tags": q_search_profile_tags,
        "search_simple_query": q_search_simple_query,
        "search_synonyms": q_search_synonyms,
        "search_phrase": q_search_phrase,
        "search_near": q_search_near,
        "search_near_unordered": q_search_near_unordered,
        # -- persisted text index (sources/text_index.py, sources/text_segments.py)
        "text_index_topk": q_text_index_topk,
        "text_index_filtered_topk": q_text_index_filtered_topk,
        "text_index_highlight_topk": q_text_index_highlight_topk,
        "text_index_synonyms": q_text_index_synonyms,
        "text_index_simple_query": q_text_index_simple_query,
        "text_index_phrase_topk": q_text_index_phrase_topk,
        "text_index_near_topk": q_text_index_near_topk,
        "text_index_near_unordered": q_text_index_near_unordered,
        "text_index_suggest": q_text_index_suggest,
        "text_index_suggest_maint": q_text_index_suggest_maint,
        "text_index_fuzzy": q_text_index_fuzzy,
        "text_index_fuzzy_lsm": q_text_index_fuzzy_lsm,
        "text_index_wildcard": q_text_index_wildcard,
        "text_index_upsert_topk": q_text_index_upsert_topk,
        "text_index_delete_topk": q_text_index_delete_topk,
        "text_index_lsm_topk": q_text_index_lsm_topk,
        "stream_text_index": q_stream_text_index,
        "stream_text_index_lsm": q_stream_text_index_lsm,
        "stream_highlight_lsm": q_stream_highlight_lsm,
        # -- persisted profile index (sources/profile_index.py)
        "text_index_profile_topk": q_text_index_profile_topk,
        "text_index_profile_filtered": q_text_index_profile_filtered,
        "text_index_profile_highlight": q_text_index_profile_highlight,
        "text_index_profile_synonyms": q_text_index_profile_synonyms,
        "text_index_profile_simple_query": q_text_index_profile_simple_query,
        "text_index_profile_phrase": q_text_index_profile_phrase,
        "text_index_profile_phrase_pos": q_text_index_profile_phrase_pos,
        "text_index_profile_near": q_text_index_profile_near,
        "text_index_profile_suggest": q_text_index_profile_suggest,
        "text_index_profile_fuzzy": q_text_index_profile_fuzzy,
        "text_index_profile_wildcard": q_text_index_profile_wildcard,
        "text_index_profile_upsert": q_text_index_profile_upsert,
        "text_index_profile_lsm": q_text_index_profile_lsm,
        "stream_profile_index": q_stream_profile_index,
        "stream_profile_facets_filtered": q_stream_profile_facets_filtered,
        "search_with_facets": q_search_with_facets,
        # -- corpus curation (operators/dedup, textops, sampling, decontam, classifier, bpe, multimodal; plans/corpus, streaming/corpus)
        "dedup_exact": q_dedup_exact,
        "dedup_minhash_lsh": q_dedup_minhash_lsh,
        "dedup_simhash": q_dedup_simhash,
        "simhash_pairs": q_simhash_pairs,
        "ngram_jaccard": q_ngram_jaccard,
        "dedup_clusters": q_dedup_clusters,
        "cluster_canonical": q_cluster_canonical,
        "span_dedup": q_span_dedup,
        "doc_fingerprints": q_doc_fingerprints,
        "token_stats": q_token_stats,
        "lang_id": q_lang_id,
        "quality_score": q_quality_score,
        "repetition_stats": q_repetition_stats,
        "domain_quality_gate": q_domain_quality_gate,
        "rag_chunks": q_rag_chunks,
        "tfidf_top_terms": q_tfidf_top_terms,
        "lm_scores": q_lm_scores,
        "pii_redaction": q_pii_redaction,
        "fuzzy_decontam": q_fuzzy_decontam,
        "decontam_report": q_decontam_report,
        "classifier_scores": q_classifier_scores,
        "bpe_train": q_bpe_train,
        "bpe_encode": q_bpe_encode,
        "bpe_pipeline": q_bpe_pipeline,
        "hash_sample": q_hash_sample,
        "stratified_sample": q_stratified_sample,
        "weighted_sample": q_weighted_sample,
        "temperature_mix": q_temperature_mix,
        "shuffle_shards": q_shuffle_shards,
        "pack_sequences": q_pack_sequences,
        "token_budget_mix": q_token_budget_mix,
        "multimodal_frames": q_multimodal_frames,
        "multimodal_features": q_multimodal_features,
        "train_corpus": q_train_corpus,
        "stream_exact_dedup": q_stream_exact_dedup,
        "stream_minhash_dedup": q_stream_minhash_dedup,
        "stream_curated_dedup": q_stream_curated_dedup,
        # -- event and TPC-style analytics (operators/profile, asof, rangejoin, skew; streaming/windowed, joins)
        "pricing_summary": q_pricing_summary,
        "top_customers": q_top_customers,
        "orders_cube": q_orders_cube,
        "region_rollup": q_region_rollup,
        "shipping_priority": q_shipping_priority,
        "region_revenue": q_region_revenue,
        "late_orders_exists": q_late_orders_exists,
        "events_hourly": q_events_hourly,
        "events_sessionize": q_events_sessionize,
        "events_gapfill": q_events_gapfill,
        "events_pivot": q_events_pivot,
        "events_json_extract": q_events_json_extract,
        "events_range_join": q_events_range_join,
        "distinct_users_daily": q_distinct_users_daily,
        "event_quantiles": q_event_quantiles,
        "user_running_stats": q_user_running_stats,
        "profile_orders": q_profile_orders,
        "approx_distinct_users": q_approx_distinct_users,
        "approx_event_quantiles": q_approx_event_quantiles,
        "value_histogram": q_value_histogram,
        "zorder_values": q_zorder_values,
        "asof_last_error": q_asof_last_error,
        "salted_counts": q_salted_counts,
        "stream_windowed_counts": q_stream_windowed_counts,
        "stream_sessionize": q_stream_sessionize,
        "stream_view_click_join": q_stream_view_click_join,
        "stream_join_left_outer": q_stream_join_left_outer,
    }


def oracle_sql() -> dict[str, str]:
    sqls: dict[str, str] = {}

    sqls["list_changed_paths"] = f"""
      WITH path_index AS ({_pi_sql()})
      SELECT {_FMT_COLS}
      FROM path_index
      WHERE lastModified >= TIMESTAMP '{W}'
        AND filesystem = 'stuff-large'
        AND starts_with(lower(pathUrlEncoded), 'partition_2')
    """

    sqls["keyset_page"] = f"""
      WITH path_index AS ({_pi_sql()})
      SELECT {_FMT_COLS}
      FROM path_index
      WHERE key > '{FROM_KEY}'
      ORDER BY key
      LIMIT 1000
    """

    sqls["path_keys"] = f"""
      WITH path_index AS ({_pi_sql()})
      SELECT {_FMT_COLS} FROM path_index
    """

    sqls["url_roundtrip"] = f"""
      WITH path_index AS ({_pi_sql()})
      SELECT pathUrlEncoded,
             replace(replace(pathUrlEncoded, '%2f', '/'), '%2F', '/') AS path
      FROM path_index
    """

    sqls["split_blob_urls"] = f"""
      WITH blob_events AS ({_EVENTS_SQL})
      SELECT event_id, eventType,
             split_part(url, '/', 4) AS filesystem,
             array_to_string(list_slice(string_split(url, '/'), 5, 9999), '/') AS path,
             eTag, contentLength
      FROM blob_events
    """

    sqls["events_to_path_rows"] = f"""
      WITH blob_events AS ({_EVENTS_SQL}),
      rows AS ({_EVENT_ROWS_SQL})
      SELECT {_FMT_COLS} FROM rows
    """

    sqls["dedup_last_writer"] = f"""
      WITH blob_events AS ({_EVENTS_SQL}),
      rows AS ({_EVENT_ROWS_SQL})
      SELECT {_FMT_COLS} FROM rows
      QUALIFY row_number() OVER (PARTITION BY key ORDER BY fileLastModified DESC, _seq DESC) = 1
    """

    sqls["upsert_status_counts"] = f"""
      WITH existing AS ({_pi_sql("o_orderkey % 3 = 0")}),
           batch AS ({_pi_sql(f"o_orderdate >= TIMESTAMP '{W}'")})
      SELECT count(*) FILTER (WHERE e.key IS NULL) AS created,
             count(*) FILTER (WHERE e.key IS NOT NULL) AS modified,
             0::BIGINT AS failed
      FROM batch b LEFT JOIN existing e USING (key)
    """

    sqls["upsert_merge"] = f"""
      WITH existing AS ({_pi_sql("o_orderkey % 3 = 0")}),
           batch AS ({_pi_sql(f"o_orderdate >= TIMESTAMP '{W}'")}),
      merged AS (
        SELECT * FROM existing WHERE key NOT IN (SELECT key FROM batch)
        UNION ALL SELECT * FROM batch)
      SELECT {_FMT_COLS} FROM merged
    """

    sqls["deleted_anti_join"] = f"""
      WITH path_index AS ({_pi_sql()}),
           deleted AS ({_pi_sql("o_orderkey % 7 = 0")})
      SELECT {_FMT_COLS} FROM path_index
      WHERE key NOT IN (SELECT key FROM deleted)
    """

    sqls["oversize_filter"] = f"""
      WITH sized AS (
        SELECT doc_id,
               octet_length(encode(to_json(struct_pack(doc_id := doc_id, lang := lang,
                                                       source := source, text := text))::VARCHAR)) AS sz
        FROM documents)
      SELECT doc_id, sz::INT AS doc_bytes,
             CASE WHEN sz > {DOC_BYTES_LIMIT} THEN 413 ELSE 200 END AS status
      FROM sized
    """

    # mirrors plan_batches incl. the count-cap repair pass: raw
    # max(byte-slot, count-slot) id, re-chunked by PACK_COUNT, dense-renumbered
    sqls["batch_packing"] = f"""
      WITH raw AS (
        SELECT doc_id,
               greatest(
                 floor((sum(n_chars) OVER w - n_chars) / {PACK_BYTES})::BIGINT,
                 floor((row_number() OVER w - 1) / {PACK_COUNT})::BIGINT) AS raw_id
        FROM documents
        WINDOW w AS (ORDER BY doc_id ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
      sub AS (
        SELECT doc_id, raw_id,
               floor((row_number() OVER (PARTITION BY raw_id ORDER BY doc_id) - 1)
                     / {PACK_COUNT})::BIGINT AS sub_id
        FROM raw)
      SELECT doc_id,
             (dense_rank() OVER (ORDER BY raw_id, sub_id) - 1)::BIGINT AS batch_id
      FROM sub
    """

    # the greedy flush walk (BatchingUploader.cs:80-92) as a recursive CTE:
    # one recursion step per document, carrying (batch_id, acc_bytes, acc_count)
    sqls["batch_packing_greedy"] = f"""
      WITH RECURSIVE ordered AS (
        SELECT row_number() OVER (ORDER BY doc_id) AS rn, doc_id, n_chars AS sz
        FROM documents),
      walk AS (
        SELECT rn, doc_id, sz, 0::BIGINT AS batch_id, sz AS acc_bytes, 1 AS acc_count
        FROM ordered WHERE rn = 1
        UNION ALL
        SELECT o.rn, o.doc_id, o.sz,
               CASE WHEN w.acc_count = {PACK_COUNT} OR w.acc_bytes + o.sz > {PACK_BYTES}
                    THEN w.batch_id + 1 ELSE w.batch_id END,
               CASE WHEN w.acc_count = {PACK_COUNT} OR w.acc_bytes + o.sz > {PACK_BYTES}
                    THEN o.sz ELSE w.acc_bytes + o.sz END,
               CASE WHEN w.acc_count = {PACK_COUNT} OR w.acc_bytes + o.sz > {PACK_BYTES}
                    THEN 1 ELSE w.acc_count + 1 END
        FROM walk w JOIN ordered o ON o.rn = w.rn + 1)
      SELECT doc_id, batch_id FROM walk
    """

    sqls["rebuild_batches"] = f"""
      WITH listing AS ({_LISTING_SQL})
      SELECT batch_id, count(*) AS n FROM (
        SELECT floor((row_number() OVER (ORDER BY name) - 1) / 1000)::BIGINT AS batch_id
        FROM listing WHERE NOT isDirectory) t
      GROUP BY batch_id
    """

    sqls["run_metrics"] = f"""
      WITH existing AS ({_pi_sql("o_orderkey % 3 = 0")}),
           batch AS ({_pi_sql(f"o_orderdate >= TIMESTAMP '{W}'")})
      SELECT (SELECT count(*) FROM orders) AS pathsCount,
             (SELECT count(*) FROM documents) AS documentReadCount,
             (SELECT count(*) FILTER (WHERE n_chars > {DOC_BYTES_LIMIT}) FROM documents) AS documentReadFailedCount,
             (SELECT count(*) FILTER (WHERE e.key IS NULL)
                FROM batch b LEFT JOIN existing e USING (key)) AS created,
             (SELECT count(*) FILTER (WHERE e.key IS NOT NULL)
                FROM batch b LEFT JOIN existing e USING (key)) AS modified,
             (SELECT count(*) FROM documents)
               - (SELECT count(*) FILTER (WHERE n_chars > {DOC_BYTES_LIMIT}) FROM documents) AS processedCount
    """

    sqls["doc_count"] = "SELECT count(*) AS n FROM documents"

    sqls["watermark_filter_agg"] = f"""
      SELECT l_returnflag, count(*) AS n,
             round((sum(l_quantity::DECIMAL(18,2)))::DOUBLE, 2) AS sum_qty
      FROM lineitem
      WHERE l_shipdate >= TIMESTAMP '{LI_W}'
      GROUP BY l_returnflag
    """

    sqls["directory_filter"] = f"""
      WITH listing AS ({_LISTING_SQL})
      SELECT split_part(name, '/', 1) AS pname, count(*) AS n_files
      FROM listing WHERE NOT isDirectory
      GROUP BY pname
    """

    sqls["pricing_summary"] = """
      SELECT l_returnflag, l_linestatus,
             round((sum(l_quantity::DECIMAL(18,2)))::DOUBLE, 2) AS sum_qty,
             round((sum(l_extendedprice::DECIMAL(18,2)))::DOUBLE, 2) AS sum_base_price,
             round((sum(l_extendedprice::DECIMAL(18,2) * (1::DECIMAL(18,2) - l_discount::DECIMAL(18,2))))::DOUBLE, 2) AS sum_disc_price,
             round((sum(l_quantity::DECIMAL(18,2)))::DOUBLE / count(*), 6) AS avg_qty,
             round((sum(l_extendedprice::DECIMAL(18,2)))::DOUBLE / count(*), 6) AS avg_price,
             count(*) AS count_order
      FROM lineitem
      WHERE l_shipdate <= TIMESTAMP '2001-09-01 00:00:00'
      GROUP BY l_returnflag, l_linestatus
    """

    sqls["top_customers"] = """
      SELECT c_custkey, c_name,
             round((sum(o_totalprice::DECIMAL(18,2)))::DOUBLE, 2) AS revenue,
             count(*) AS n_orders
      FROM orders JOIN customer ON o_custkey = c_custkey
      GROUP BY c_custkey, c_name
      ORDER BY revenue DESC, c_custkey
      LIMIT 10
    """

    sqls["events_hourly"] = """
      SELECT strftime(date_trunc('hour', ts::TIMESTAMP), '%Y-%m-%d %H:%M') AS hour,
             event_type, count(*) AS n,
             round((sum(value::DECIMAL(18,2)))::DOUBLE, 2) AS total_value
      FROM events
      GROUP BY hour, event_type
    """

    sqls["distinct_users_daily"] = """
      SELECT strftime(date_trunc('day', ts::TIMESTAMP), '%Y-%m-%d') AS day,
             count(DISTINCT user_id) AS users, count(*) AS n
      FROM events
      GROUP BY day
    """

    # session_window(gap=30min) == gap-and-island: a session starts where the
    # per-user gap exceeds the inactivity threshold; start = min(ts) in island
    sqls["events_sessionize"] = f"""
      WITH ordered AS (
        SELECT user_id, ts::TIMESTAMP AS ts,
               -- >= not >: Spark session windows are half-open [ts, ts+gap),
               -- so an event at exactly prev_ts + gap starts a NEW session
               CASE WHEN ts::TIMESTAMP - lag(ts::TIMESTAMP) OVER w >= INTERVAL '30 minutes'
                         OR lag(ts::TIMESTAMP) OVER w IS NULL
                    THEN 1 ELSE 0 END AS new_session
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY ts)),
      islands AS (
        SELECT user_id, ts,
               sum(new_session) OVER (PARTITION BY user_id ORDER BY ts
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_id
        FROM ordered)
      SELECT user_id,
             strftime(min(ts), '{TS_FMT_DUCK}') AS session_start,
             count(*) AS n_events
      FROM islands
      GROUP BY user_id, session_id
    """

    sqls["orders_cube"] = """
      SELECT o_orderstatus, o_orderpriority, count(*) AS n,
             round((sum(o_totalprice::DECIMAL(18,2)))::DOUBLE, 2) AS revenue
      FROM orders
      GROUP BY CUBE (o_orderstatus, o_orderpriority)
    """

    sqls["region_rollup"] = """
      SELECT r_name, n_name, count(*) AS n_suppliers,
             round((sum(s_acctbal::DECIMAL(18,2)))::DOUBLE, 2) AS total_acctbal
      FROM supplier
      JOIN nation ON s_nationkey = n_nationkey
      JOIN region ON n_regionkey = r_regionkey
      GROUP BY ROLLUP (r_name, n_name)
    """

    sqls["dedup_exact"] = """
      SELECT md5(regexp_replace(lower(text), '\\s+', ' ', 'g')) AS content_hash,
             min(doc_id) AS doc_id, count(*) AS dup_count
      FROM documents
      GROUP BY content_hash
    """

    # the streaming dedup state must converge to exactly the batch result —
    # same oracle as dedup_exact (the batch-split-invariance proof)
    sqls["stream_exact_dedup"] = sqls["dedup_exact"]

    # ---- MinHash LSH: full pipeline replayed in SQL --------------------
    from azuredatalakeindexer_spark.functions.text import MERSENNE31, MINHASH_AB

    gram = "words[i] || ' ' || words[i+1] || ' ' || words[i+2]"
    # one md5-derived base hash per gram (mod Mersenne31), then the affine
    # universal family — byte-identical to functions.text.minhash_signature
    sig_cols = ",\n             ".join(
        f"list_min(list_transform(hs, h -> (h * {MINHASH_AB[i][0]} + {MINHASH_AB[i][1]}) % {MERSENNE31})) AS m{i}"
        for i in range(8)
    )
    band_rows = "\n        UNION ALL\n        ".join(
        f"SELECT doc_id, {b} AS band, md5('{b}' || ',' || m{2 * b}::VARCHAR || ',' || m{2 * b + 1}::VARCHAR) AS bh FROM sigs"
        for b in range(4)
    )
    def minhash_ctes(src: str) -> str:
        """MinHash pair-graph CTE chain over any (doc_id, text) relation —
        shared by dedup_minhash_lsh / dedup_clusters / train_corpus."""
        return f"""
      toks AS (
        SELECT doc_id, {_WORDS} AS words FROM {src}),
      shingled AS (
        SELECT doc_id,
               list_distinct(CASE WHEN len(words) >= 3
                 THEN list_transform(range(1, len(words) - 1), i -> {gram})
                 ELSE [] END) AS grams
        FROM toks),
      nonempty AS (SELECT * FROM shingled WHERE len(grams) > 0),
      hashed AS (
        SELECT doc_id, list_transform(grams, g -> ({_ph('g', 0)}) % {MERSENNE31}) AS hs
        FROM nonempty),
      sigs AS (
        SELECT doc_id,
             {sig_cols}
        FROM hashed),
      banded AS (
        {band_rows}),
      sized AS (
        SELECT doc_id, band, bh,
               count(*) OVER (PARTITION BY band, bh) AS bsz,
               min(doc_id) OVER (PARTITION BY band, bh) AS rep
        FROM banded),
      -- bucket cap mirror: cliques only for buckets <= 64 members; bigger
      -- buckets contribute a star around the min-id member (l = rep)
      pairs AS (
        SELECT DISTINCT l.doc_id AS id_a, r.doc_id AS id_b
        FROM sized l JOIN sized r
          ON l.band = r.band AND l.bh = r.bh AND l.doc_id < r.doc_id
        WHERE l.bsz <= 64 OR l.doc_id = l.rep)
    """

    sqls["dedup_minhash_lsh"] = f"""
      WITH {minhash_ctes("documents")}
      SELECT id_a, id_b FROM pairs
    """

    # streaming minhash state: the drained band-bucket minima equal the
    # batch minima, so the rep view replays as pure SQL over the full chain
    sqls["stream_minhash_dedup"] = f"""
      WITH {minhash_ctes("documents")},
      bmins AS (SELECT band, bh, min(doc_id) AS bmin FROM banded GROUP BY band, bh),
      reps AS (
        SELECT b.doc_id, min(m.bmin) AS rep_id
        FROM banded b JOIN bmins m USING (band, bh)
        GROUP BY b.doc_id)
      SELECT d.doc_id,
             coalesce(r.rep_id, d.doc_id) AS rep_id,
             (coalesce(r.rep_id, d.doc_id) = d.doc_id)::INT AS is_kept
      FROM documents d LEFT JOIN reps r ON r.doc_id = d.doc_id
    """

    # the binned range join must equal DuckDB's native inequality join —
    # two independent formulations (bin equi-join vs IEJoin)
    sqls["events_range_join"] = f"""
      SELECT v.event_id AS view_id, c.event_id AS click_id,
             date_diff('microsecond', v.ts::TIMESTAMP, c.ts::TIMESTAMP) AS delay_us,
             strftime(v.ts::TIMESTAMP, '{TS_FMT_DUCK}') AS view_ts,
             strftime(c.ts::TIMESTAMP, '{TS_FMT_DUCK}') AS click_ts
      FROM events v JOIN events c
        ON c.ts::TIMESTAMP >= v.ts::TIMESTAMP
       AND c.ts::TIMESTAMP < v.ts::TIMESTAMP + INTERVAL 60 SECOND
      WHERE v.event_type = 'view' AND c.event_type = 'click'
    """

    # hash-trick classifier: the margin is an exact int64 sum over token
    # instances (no float summation-order hazard); only the final sigmoid
    # is floating point, rounded to 6.  * and % are same-precedence
    # left-associative in BOTH SQL and the Python building the Spark
    # expression, so ((b+1)*MULT) % MOD binds identically.
    sqls["classifier_scores"] = f"""
      WITH tok AS (
        SELECT doc_id, unnest({_WORDS}) AS tok FROM documents
      ),
      m AS (
        SELECT doc_id,
               sum((({_ph('tok', 0)}) % 4096 + 1) * 2654435761 % 1000003
                   - 500001) AS margin_int,
               count(*) AS n_tokens
        FROM tok GROUP BY doc_id
      )
      SELECT d.doc_id,
             coalesce(m.n_tokens, 0) AS n_tokens,
             coalesce(m.margin_int, 0)::BIGINT AS margin_int,
             coalesce(
               round(1 / (1 + exp(-(8.0 * m.margin_int / (m.n_tokens * 500001.0)))), 6),
               0.5) AS score
      FROM documents d LEFT JOIN m USING (doc_id)
    """

    # bipartite (train x bench) banding: band the whole table (banding is
    # per-document deterministic), split by the fixture's % 17 rule, then
    # exact-Jaccard rescore — mirrors fuzzy_contamination_pairs
    sqls["fuzzy_decontam"] = f"""
      WITH {minhash_ctes("documents")},
      tb AS (SELECT doc_id, band, bh FROM banded WHERE doc_id % 17 != 0),
      bb AS (SELECT doc_id AS bench_id, band, bh FROM banded WHERE doc_id % 17 = 0),
      cand AS (
        SELECT DISTINCT tb.doc_id, bb.bench_id
        FROM tb JOIN bb USING (band, bh)),
      cscored AS (
        SELECT cand.doc_id, cand.bench_id,
               len(list_intersect(a.grams, b.grams)) AS inter,
               len(a.grams) AS na, len(b.grams) AS nb
        FROM cand
        JOIN nonempty a ON a.doc_id = cand.doc_id
        JOIN nonempty b ON b.doc_id = cand.bench_id)
      SELECT doc_id, bench_id,
             round(inter / (na + nb - inter), 6) AS jaccard
      FROM cscored
      WHERE round(inter / (na + nb - inter), 6) >= 0.2
    """

    # connected components over the same pair graph: min reachable id via a
    # recursive CTE (UNION dedupes rows, guaranteeing termination)
    components_ctes = """
      edges AS (
        SELECT id_a AS s, id_b AS d FROM pairs
        UNION
        SELECT id_b AS s, id_a AS d FROM pairs),
      verts AS (SELECT DISTINCT s AS id FROM edges),
      reach(id, r) AS (
        SELECT id, id FROM verts
        UNION
        SELECT e.s, reach.r FROM reach JOIN edges e ON e.d = reach.id),
      comp AS (SELECT id, min(r) AS cluster_id FROM reach GROUP BY id)
    """

    sqls["dedup_clusters"] = f"""
      WITH RECURSIVE {minhash_ctes("documents")},
      {components_ctes}
      SELECT d.doc_id,
             coalesce(c.cluster_id, d.doc_id) AS cluster_id,
             (coalesce(c.cluster_id, d.doc_id) = d.doc_id)::INT AS is_canonical
      FROM documents d LEFT JOIN comp c ON c.id = d.doc_id
    """


    # ---- SimHash: 32 bit-votes replayed in SQL -------------------------
    votes = ",\n             ".join(
        f"sum(CASE WHEN ((h >> {b}) & 1) = 1 THEN 1 ELSE -1 END) AS v{b}" for b in range(32)
    )
    simbits = " + ".join(
        f"CASE WHEN v{b} > 0 THEN {1 << b}::BIGINT ELSE 0::BIGINT END" for b in range(32)
    )
    simhash_cte = f"""
      toks AS (
        SELECT doc_id, unnest({_WORDS}) AS tok FROM documents),
      hashed AS (
        SELECT doc_id, {_ph('tok', 99)} AS h FROM toks),
      votes AS (
        SELECT doc_id,
             {votes}
        FROM hashed GROUP BY doc_id),
      sims AS (
        SELECT doc_id, ({simbits}) AS simhash FROM votes)
    """
    sqls["dedup_simhash"] = f"""
      WITH {simhash_cte}
      SELECT doc_id, simhash FROM sims
    """

    chunk_rows = "\n        UNION ALL\n        ".join(
        f"SELECT doc_id, simhash, {c} AS block, (simhash >> {c * 8}) & 255 AS bv FROM sims"
        for c in range(4)
    )
    sqls["simhash_pairs"] = f"""
      WITH {simhash_cte},
      blocks AS (
        {chunk_rows}),
      sized AS (
        SELECT doc_id, simhash, block, bv,
               count(*) OVER (PARTITION BY block, bv) AS bsz,
               min(doc_id) OVER (PARTITION BY block, bv) AS rep
        FROM blocks),
      -- bucket cap mirror: cliques <= 64 members, star (l = rep) above
      cand AS (
        SELECT DISTINCT l.doc_id AS id_a, r.doc_id AS id_b,
               l.simhash AS sh_a, r.simhash AS sh_b
        FROM sized l JOIN sized r
          ON l.block = r.block AND l.bv = r.bv AND l.doc_id < r.doc_id
        WHERE l.bsz <= 64 OR l.doc_id = l.rep)
      SELECT id_a, id_b, bit_count(xor(sh_a, sh_b))::INT AS hamming
      FROM cand
      WHERE bit_count(xor(sh_a, sh_b)) <= 3
    """

    sqls["ngram_jaccard"] = f"""
      WITH toks AS (
        SELECT doc_id, {_WORDS} AS words FROM documents),
      shingled AS (
        SELECT doc_id,
               list_distinct(CASE WHEN len(words) >= 3
                 THEN list_transform(range(1, len(words) - 1), i -> {gram})
                 ELSE [] END) AS grams
        FROM toks),
      nonempty AS (SELECT * FROM shingled WHERE len(grams) > 0),
      exploded AS (SELECT doc_id, unnest(grams) AS gram FROM nonempty),
      rare AS (
        SELECT gram FROM exploded GROUP BY gram HAVING count(*) <= 50),
      filtered AS (SELECT e.* FROM exploded e JOIN rare USING (gram)),
      -- rare shingles generate CANDIDATES only (size-ratio pruned: jaccard
      -- <= min/max of set sizes); the score below is the exact Jaccard over
      -- ALL grams (mirrors ngram_jaccard_pairs)
      sizes AS (SELECT doc_id, len(grams) AS n FROM nonempty),
      cand AS (
        SELECT DISTINCT l.doc_id AS id_a, r.doc_id AS id_b
        FROM filtered l JOIN filtered r
          ON l.gram = r.gram AND l.doc_id < r.doc_id
        JOIN sizes sa ON sa.doc_id = l.doc_id
        JOIN sizes sb ON sb.doc_id = r.doc_id
        WHERE least(sa.n, sb.n) >= 0.5 * greatest(sa.n, sb.n)),
      scored AS (
        SELECT id_a, id_b,
               len(list_intersect(a.grams, b.grams)) AS inter,
               len(a.grams) AS na, len(b.grams) AS nb
        FROM cand
        JOIN nonempty a ON a.doc_id = id_a
        JOIN nonempty b ON b.doc_id = id_b)
      SELECT id_a, id_b,
             round(inter / (na + nb - inter), 6) AS jaccard
      FROM scored
      WHERE round(inter / (na + nb - inter), 6) >= 0.5
    """


    # NOTE: substr() slices CHARACTERS while sample_frames slices the UTF-8
    # byte payload — equivalent only because the documents fixture is
    # ASCII-only (DuckDB md5 can't take a BLOB, so a byte-exact oracle is
    # not expressible).  tests/test_dedup.py::
    # test_documents_fixture_is_ascii pins the assumption.
    sqls["multimodal_frames"] = """
      WITH f AS (
        SELECT doc_id, text,
               unnest(range(0, (octet_length(encode(text)) % 5) + 1)) AS frame_idx
        FROM documents)
      SELECT doc_id, frame_idx::INT AS frame_idx,
             md5(substr(text, frame_idx * 64 + 1, 64)) AS frame_hash
      FROM f
    """


    # ---- text analysis -------------------------------------------------
    from azuredatalakeindexer_spark.operators.textops import LANG_LEXICONS

    def lex_list(lang: str) -> str:
        return "[" + ", ".join(f"'{w}'" for w in LANG_LEXICONS[lang]) + "]"

    hit_cols = ",\n             ".join(
        f"len(list_filter(words, t -> list_contains({lex_list(l)}, t)))::BIGINT AS hits_{l}"
        for l in LANG_LEXICONS
    )
    langs = list(LANG_LEXICONS)
    best = "greatest(" + ", ".join(f"hits_{l}" for l in langs) + ")"
    pred_case = "CASE " + " ".join(f"WHEN hits_{l} = {best} THEN '{l}'" for l in langs) + " END"
    sqls["lang_id"] = f"""
      WITH toks AS (SELECT doc_id, {_WORDS} AS words FROM documents),
      hits AS (
        SELECT doc_id,
             {hit_cols}
        FROM toks)
      SELECT doc_id, {pred_case} AS pred_lang,
             {", ".join(f"hits_{l}" for l in langs)}
      FROM hits
    """

    en_lex = lex_list("en")
    sqls["quality_score"] = f"""
      WITH toks AS (SELECT doc_id, {_WORDS} AS words FROM documents),
      feats AS (
        SELECT doc_id,
               len(words) AS n_tok,
               CASE WHEN len(words) > 0
                 THEN (list_sum(list_transform(words, t -> length(t))))::DOUBLE / len(words)
                 ELSE 0.0 END AS mean_len,
               CASE WHEN len(words) > 0
                 THEN len(list_filter(words, t -> list_contains({en_lex}, t))) / len(words)
                 ELSE 0.0 END AS sw_ratio
        FROM toks)
      SELECT doc_id,
             n_tok::BIGINT AS n_tokens,
             round(mean_len, 6) AS mean_token_len,
             round(sw_ratio, 6) AS stopword_ratio,
             round(0.25 * least(n_tok / 100.0, 1.0)
                 + 0.25 * least(mean_len / 8.0, 1.0)
                 + 0.5 * sw_ratio, 6) AS quality
      FROM feats
    """

    # per-domain quality gate (operators/textops.py:domain_quality_gate,
    # exact path): rank by quality within source, keep ceil(0.5 × n)
    sqls["domain_quality_gate"] = f"""
      WITH toks AS (SELECT doc_id, source, {_WORDS} AS words FROM documents),
      feats AS (
        SELECT doc_id, source,
               len(words) AS n_tok,
               CASE WHEN len(words) > 0
                 THEN (list_sum(list_transform(words, t -> length(t))))::DOUBLE / len(words)
                 ELSE 0.0 END AS mean_len,
               CASE WHEN len(words) > 0
                 THEN len(list_filter(words, t -> list_contains({en_lex}, t))) / len(words)
                 ELSE 0.0 END AS sw_ratio
        FROM toks),
      scored AS (
        SELECT doc_id, source,
               round(0.25 * least(n_tok / 100.0, 1.0)
                   + 0.25 * least(mean_len / 8.0, 1.0)
                   + 0.5 * sw_ratio, 6) AS quality
        FROM feats),
      ranked AS (
        SELECT doc_id, source, quality,
               count(*) OVER (PARTITION BY source) AS n_domain,
               row_number() OVER (PARTITION BY source
                 ORDER BY quality DESC, doc_id ASC) AS rn
        FROM scored)
      SELECT doc_id, source, quality, n_domain::BIGINT AS n_domain,
             (CASE WHEN rn <= greatest(1, ceil(0.5 * n_domain)) THEN 1 ELSE 0 END)::INT AS kept
      FROM ranked
    """

    # ---- BPE tokenizer training (operators/bpe.py) ----------------------
    # the oracle unrolls the training trajectory: per iteration one
    # pair-count aggregate, the deterministic argmax, and the run-safe
    # wrapped-string replace — the exact steps train_bpe runs
    def _bpe_ctes(n: int) -> str:
        # every chained CTE is MATERIALIZED: each v_i is referenced twice
        # (p_{i+1} and v_{i+1}), and inlining would re-expand the chain —
        # at 64 iterations DuckDB re-opens the parquet per expansion and
        # dies on fd exhaustion; materialization makes the chain linear
        parts = [
            f"""
      w AS MATERIALIZED (SELECT word, count(*) AS wcount
            FROM (SELECT unnest({_WORDS}) AS word FROM documents) t
            GROUP BY word),
      v0 AS MATERIALIZED (SELECT array_to_string(list_transform(string_split(word, ''),
                    c -> ' ' || c || ' '), '') AS sym_str, wcount FROM w)"""
        ]
        for i in range(1, n + 1):
            parts.append(
                f"""
      p{i} AS (
        SELECT pr[1] AS l, pr[2] AS r, sum(wcount) AS cnt FROM (
          SELECT unnest(list_zip(list_slice(syms, 1, len(syms) - 1),
                                 list_slice(syms, 2, len(syms)))) AS pr, wcount
          FROM (SELECT string_split(trim(sym_str), '  ') AS syms, wcount
                FROM v{i - 1}) s) u
        GROUP BY 1, 2),
      b{i} AS MATERIALIZED (SELECT l, r, cnt FROM p{i} ORDER BY cnt DESC, l, r LIMIT 1),
      v{i} AS MATERIALIZED (SELECT replace(v.sym_str, ' ' || b.l || '  ' || b.r || ' ',
                              ' ' || b.l || b.r || ' ') AS sym_str, v.wcount
               FROM v{i - 1} v CROSS JOIN b{i} b)"""
            )
        return ",".join(parts)

    _bpe_n = 8
    _bpe_rows = "\n        UNION ALL ".join(
        f'SELECT {i} AS rank, l AS "left", r AS "right", l || r AS merged, '
        f"cnt::BIGINT AS pair_count FROM b{i}"
        for i in range(1, _bpe_n + 1)
    )
    sqls["bpe_train"] = f"""
      WITH {_bpe_ctes(_bpe_n)}
      SELECT rank::INT AS rank, "left", "right", merged, pair_count
      FROM ({_bpe_rows})
    """

    def _bpe_encode_sql(n: int) -> str:
        apply = "".join(
            f"""
      g{i} AS (SELECT g.word,
                      replace(g.sym_str, ' ' || b.l || '  ' || b.r || ' ',
                              ' ' || b.l || b.r || ' ') AS sym_str
               FROM g{i - 1} g CROSS JOIN b{i} b),"""
            for i in range(1, n + 1)
        )
        return f"""
      WITH {_bpe_ctes(n)},
      occ AS (SELECT doc_id, unnest({_WORDS}) AS word FROM documents),
      g0 AS (SELECT DISTINCT word,
                    array_to_string(list_transform(string_split(word, ''),
                    c -> ' ' || c || ' '), '') AS sym_str
             FROM occ),{apply}
      counts AS (SELECT word,
                        len(string_split(trim(sym_str), '  ')) AS n_bpe
                 FROM g{n})
      SELECT doc_id, count(*)::BIGINT AS n_words,
             sum(n_bpe)::BIGINT AS n_bpe_tokens
      FROM occ JOIN counts USING (word) GROUP BY doc_id
    """

    sqls["bpe_encode"] = _bpe_encode_sql(_bpe_n)
    # the 64-merge trajectory: same CTE unrolling, production merge count —
    # replays what the Arrow encoder computes (pass-equivalence argued in
    # operators/bpe.py::_apply_merges_arrow, parity pytest-pinned)
    sqls["bpe_pipeline"] = _bpe_encode_sql(64)

    # CCNet-style bigram LM scoring: model counts and scoring relation
    # from ONE bigram pass; per-bigram log-probs rounded + DECIMAL-summed
    # (order-free) exactly as bigram_lm_scores does
    sqls["lm_scores"] = f"""
      WITH t AS (SELECT doc_id, {_WORDS} AS words FROM documents),
      bg AS (
        SELECT doc_id, pr[1] AS w1, pr[2] AS w2 FROM (
          SELECT doc_id,
                 unnest(list_zip(list_slice(words, 1, len(words) - 1),
                                 list_slice(words, 2, len(words)))) AS pr
          FROM t) u),
      c12 AS (SELECT w1, w2, count(*) AS c12 FROM bg GROUP BY 1, 2),
      c1 AS (SELECT w1, sum(c12) AS c1 FROM c12 GROUP BY 1),
      v AS (SELECT count(DISTINCT w) AS vsz
            FROM (SELECT unnest(words) AS w FROM t) x),
      scored AS (
        SELECT bg.doc_id,
               round(ln((c12.c12 + 1.0) / (c1.c1 + vsz)), 6)::DECIMAL(18,6) AS lp
        FROM bg JOIN c12 USING (w1, w2) JOIN c1 USING (w1) CROSS JOIN v)
      SELECT doc_id,
             round(sum(lp)::DOUBLE / count(*), 6) AS avg_logprob,
             count(*)::BIGINT AS n_bigrams
      FROM scored GROUP BY doc_id
    """

    # ---- query-side search stack (operators/search.py) -----------------
    # terms mirror SEARCH_TERMS sorted+deduped: merge, query, stream.
    # Expression shapes mirror bm25_topk exactly (same association order)
    # so the only divergence is sub-ulp libm noise absorbed by round(...,6).
    def _bm25_cte(terms: list[str], source: str = "documents") -> str:
        """per/stats/bm25_scored/kw CTE chain for a sorted term list —
        identical association order to operators.search.bm25_topk.
        ``source``: the (doc_id, text) relation to rank."""
        tf_cols = "\n".join(
            f"               len(list_filter(words, x -> x = '{t}')) AS tf{i},"
            for i, t in enumerate(terms)
        )
        df_cols = "\n".join(
            f"               sum(CASE WHEN tf{i} > 0 THEN 1 ELSE 0 END) AS df{i},"
            for i in range(len(terms))
        )
        contribs = "\n          + ".join(
            f"ln(1.0 + (n - df{i} + 0.5) / (df{i} + 0.5)) * tf{i} * 2.2"
            f" / (tf{i} + 1.2 * (0.25 + 0.75 * dl / avgdl))"
            for i in range(len(terms))
        )
        return f"""
      per AS (
        SELECT doc_id,
               len(words) AS dl,
{tf_cols[:-1]}
        FROM (SELECT doc_id, {_WORDS} AS words FROM {source})),
      stats AS (
        SELECT count(*) AS n, avg(dl) AS avgdl,
{df_cols[:-1]}
        FROM per),
      bm25_scored AS (
        SELECT doc_id, round(
            {contribs}, 6) AS bm25
        FROM per, stats),
      kw AS (SELECT doc_id, bm25 FROM bm25_scored WHERE bm25 > 0
             ORDER BY bm25 DESC, doc_id LIMIT 20)
    """

    # exact token-adjacency phrase: slice-equality occurrence count over
    # start positions, BM25 with the phrase as one virtual term (same
    # tokenization and saturation constants as bm25_topk)
    sqls["search_phrase"] = f"""
      WITH per AS (
        SELECT doc_id, len(words) AS dl,
               CASE WHEN len(words) >= 2 THEN
                 len(list_filter(generate_series(1, len(words) - 1),
                     p -> words[p:p+1] = ['merge', 'stream']))
               ELSE 0 END AS phrase_tf
        FROM (SELECT doc_id, {_WORDS} AS words FROM documents)),
      stats AS (
        SELECT count(*) AS n, avg(dl) AS avgdl,
               sum(CASE WHEN phrase_tf > 0 THEN 1 ELSE 0 END) AS df
        FROM per)
      SELECT doc_id, phrase_tf, bm25 FROM (
        SELECT doc_id, phrase_tf::BIGINT AS phrase_tf,
               round(ln(1.0 + (n - df + 0.5) / (df + 0.5)) * phrase_tf * 2.2
                     / (phrase_tf + 1.2 * (0.25 + 0.75 * dl / avgdl)), 6) AS bm25
        FROM per, stats) t
      WHERE bm25 > 0
      ORDER BY bm25 DESC, doc_id LIMIT 20
    """

    # ordered proximity: position-pair count (p1 < p2 <= p1 + slop + 1)
    # over per-term position lists, BM25 with the pair count as tf
    sqls["search_near"] = f"""
      WITH per AS (
        SELECT doc_id, len(words) AS dl,
          coalesce(list_sum(list_transform(
            list_filter(list_transform(generate_series(1, len(words)),
                        p -> CASE WHEN words[p] = 'merge' THEN p END),
                        x -> x IS NOT NULL),
            p1 -> len(list_filter(
              list_filter(list_transform(generate_series(1, len(words)),
                          p -> CASE WHEN words[p] = 'stream' THEN p END),
                          x -> x IS NOT NULL),
              p2 -> p2 > p1 AND p2 <= p1 + 3)))), 0) AS near_tf
        FROM (SELECT doc_id, {_WORDS} AS words FROM documents)),
      nstats AS (
        SELECT count(*) AS n, avg(dl) AS avgdl,
               sum(CASE WHEN near_tf > 0 THEN 1 ELSE 0 END) AS df
        FROM per)
      SELECT doc_id, near_tf, bm25 FROM (
        SELECT doc_id, near_tf::BIGINT AS near_tf,
               round(ln(1.0 + (n - df + 0.5) / (df + 0.5)) * near_tf * 2.2
                     / (near_tf + 1.2 * (0.25 + 0.75 * dl / avgdl)), 6) AS bm25
        FROM per, nstats) t
      WHERE bm25 > 0
      ORDER BY bm25 DESC, doc_id LIMIT 20
    """

    # unordered proximity: absolute-distance pair count, either direction
    sqls["search_near_unordered"] = f"""
      WITH per AS (
        SELECT doc_id, len(words) AS dl,
          coalesce(list_sum(list_transform(
            list_filter(list_transform(generate_series(1, len(words)),
                        p -> CASE WHEN words[p] = 'merge' THEN p END),
                        x -> x IS NOT NULL),
            p1 -> len(list_filter(
              list_filter(list_transform(generate_series(1, len(words)),
                          p -> CASE WHEN words[p] = 'stream' THEN p END),
                          x -> x IS NOT NULL),
              p2 -> p2 != p1 AND abs(p2 - p1) <= 3)))), 0) AS near_tf
        FROM (SELECT doc_id, {_WORDS} AS words FROM documents)),
      nstats AS (
        SELECT count(*) AS n, avg(dl) AS avgdl,
               sum(CASE WHEN near_tf > 0 THEN 1 ELSE 0 END) AS df
        FROM per)
      SELECT doc_id, near_tf, bm25 FROM (
        SELECT doc_id, near_tf::BIGINT AS near_tf,
               round(ln(1.0 + (n - df + 0.5) / (df + 0.5)) * near_tf * 2.2
                     / (near_tf + 1.2 * (0.25 + 0.75 * dl / avgdl)), 6) AS bm25
        FROM per, nstats) t
      WHERE bm25 > 0
      ORDER BY bm25 DESC, doc_id LIMIT 20
    """

    bm25_scored = _bm25_cte(["merge", "query", "stream"])
    sqls["search_bm25"] = f"""
      WITH {bm25_scored}
      SELECT doc_id, bm25 FROM kw
    """

    # index-served highlight: the same bm25 top-k, each winner joined back
    # to its stored text for the keyword_snippets('merge') expressions
    sqls["text_index_highlight_topk"] = f"""
      WITH {bm25_scored}
      SELECT kw.doc_id, kw.bm25 AS score,
             CASE WHEN strpos(lower(d.text), 'merge') > 0
                  THEN strpos(lower(d.text), 'merge') ELSE 0 END::INT AS hit_pos,
             CASE WHEN strpos(lower(d.text), 'merge') > 0
                  THEN substring(d.text,
                                 greatest(1, strpos(lower(d.text), 'merge') - 20),
                                 45)
             END AS snippet
      FROM kw JOIN documents d USING (doc_id)
    """
    # the streaming LSM drain is batch-split-invariant (LWW per doc) and
    # the per-segment docstores resolve to the live text by the
    # max-segment rule — so serving highlight from the streamed segmented
    # index replays identically to the one-shot scan-time snippet query
    sqls["stream_highlight_lsm"] = sqls["text_index_highlight_topk"]

    # simple query syntax 'merge query +stream -"slow scan" "data table"':
    # positives (optional ∪ required, sorted) = merge/query/stream — the
    # same BM25 chain — with the required/excluded predicates as a
    # candidate semi-join; corpus stats stay full-corpus (idf unchanged
    # by filters, mirroring simple_query_topk)
    sqls["search_simple_query"] = f"""
      WITH {bm25_scored},
      cand AS (
        SELECT doc_id FROM documents
        WHERE contains(lower(text), 'data table')
          AND list_contains({_WORDS}, 'stream')
          AND NOT contains(lower(text), 'slow scan'))
      SELECT doc_id, bm25 FROM bm25_scored JOIN cand USING (doc_id)
      WHERE bm25 > 0 ORDER BY bm25 DESC, doc_id LIMIT 20
    """

    # the saved inverted index answers bit-identically to scan-time bm25
    # (same stats, association order, rounding — test-pinned), so its
    # oracle IS the bm25 replay
    sqls["text_index_topk"] = f"""
      WITH {bm25_scored}
      SELECT doc_id, bm25 FROM kw
    """
    # $filter + search from the saved index: the filter id set restricts
    # the RESULT set; df/n/avgdl stay index-global (idf never reweighted)
    sqls["text_index_filtered_topk"] = f"""
      WITH {bm25_scored},
      flt AS (
        SELECT doc_id FROM documents
        WHERE source IN ('src1','src2','src3','src4','src5'))
      SELECT doc_id, bm25 FROM bm25_scored JOIN flt USING (doc_id)
      WHERE bm25 > 0 ORDER BY bm25 DESC, doc_id LIMIT 20
    """
    # streaming drain of the same index is batch-split-invariant (LWW per
    # doc, affected-bucket rewrites), so its oracle is the same replay
    sqls["stream_text_index"] = sqls["text_index_topk"]
    # segmented streaming maintenance is LWW per doc too: same replay
    sqls["stream_text_index_lsm"] = sqls["text_index_topk"]
    # the positional saved index answers the phrase query bit-identically
    # to the scan-time operator: same oracle
    sqls["text_index_phrase_topk"] = sqls["search_phrase"]
    # index-served proximity is bit-identical to the scan-time near_topk
    # (test-pinned through the full maintenance lifecycle): same oracles
    sqls["text_index_near_topk"] = sqls["search_near"]
    sqls["text_index_near_unordered"] = sqls["search_near_unordered"]


    # deleted docs leave an index identical to a fresh build over the
    # survivors — replay bm25 over doc_id >= 10
    sqls["text_index_delete_topk"] = f"""
      WITH survivors AS (SELECT doc_id, text FROM documents WHERE doc_id >= 10),
      {_bm25_cte(["merge", "query", "stream"], source="survivors")}
      SELECT doc_id, bm25 FROM kw
    """

    # text-index MergeOrUpload: replay over the merged corpus (base minus
    # replaced, plus inserts and replacement texts) — the upserted index
    # is bit-identical to a fresh build over it
    sqls["text_index_upsert_topk"] = f"""
      WITH corpus AS (
        SELECT doc_id, text FROM documents WHERE doc_id >= 15
        UNION ALL
        SELECT doc_id, text FROM documents WHERE doc_id < 10
        UNION ALL
        SELECT doc_id, 'merge merge stream' AS text
        FROM documents WHERE doc_id >= 10 AND doc_id < 15),
      {_bm25_cte(["merge", "query", "stream"], source="corpus")}
      SELECT doc_id, bm25 FROM kw
    """

    # segmented (LSM) lifecycle: three stacked segments resolve to the
    # logical corpus below — >=20 original, 0-9 inserted, 10-14 replaced,
    # 16-19 deleted, 15 revived with fresh text — and queries answer
    # bit-identically to a fresh build over it
    sqls["text_index_lsm_topk"] = f"""
      WITH corpus AS (
        SELECT doc_id, text FROM documents WHERE doc_id >= 20
        UNION ALL
        SELECT doc_id, text FROM documents WHERE doc_id < 10
        UNION ALL
        SELECT doc_id, 'merge merge stream' AS text
        FROM documents WHERE doc_id >= 10 AND doc_id < 15
        UNION ALL
        SELECT doc_id, 'stream stream query' AS text
        FROM documents WHERE doc_id = 15),
      {_bm25_cte(["merge", "query", "stream"], source="corpus")}
      SELECT doc_id, bm25 FROM kw
    """

    # synonym expansion: ['merge','query'] widened through the synonym map
    # to join/merge/query/scan, then standard BM25
    sqls["search_synonyms"] = f"""
      WITH {_bm25_cte(["join", "merge", "query", "scan"])}
      SELECT doc_id, bm25 FROM kw
    """
    # the saved index answers the synonym-expanded term set and the
    # simple-query dialect bit-identically to the scan-time operators
    # (test-pinned), so their oracles ARE the scan-time replays
    sqls["text_index_synonyms"] = sqls["search_synonyms"]
    sqls["text_index_simple_query"] = sqls["search_simple_query"]

    sqls["search_facets"] = """
      WITH pairs AS (
        SELECT 'lang' AS field, lang AS value FROM documents WHERE lang IS NOT NULL
        UNION ALL
        SELECT 'source' AS field, source AS value FROM documents WHERE source IS NOT NULL),
      counts AS (SELECT field, value, count(*) AS n FROM pairs GROUP BY field, value),
      ranked AS (
        SELECT field, value, n::BIGINT AS n,
               (row_number() OVER (PARTITION BY field ORDER BY n DESC, value))::INT AS rank
        FROM counts)
      SELECT field, value, n, rank FROM ranked WHERE rank <= 5
    """

    # facets over the MATCH SET (the service's semantics): match = any
    # query term in text OR 'src1' among source tokens; then the same
    # top-5 ranking as search_facets, FROM the matches
    sqls["search_with_facets"] = f"""
      WITH m AS (
        SELECT doc_id, lang, source FROM documents
        WHERE len(list_filter({_WORDS},
                  x -> x IN ('merge', 'query', 'stream'))) > 0
           OR len(list_filter(
                  list_filter(string_split_regex(lower(source), '\\s+'),
                              x -> x != ''),
                  x -> x = 'src1')) > 0),
      pairs AS (
        SELECT 'lang' AS field, lang AS value FROM m WHERE lang IS NOT NULL
        UNION ALL
        SELECT 'source' AS field, source AS value FROM m WHERE source IS NOT NULL),
      counts AS (SELECT field, value, count(*) AS n FROM pairs GROUP BY field, value),
      ranked AS (
        SELECT field, value, n::BIGINT AS n,
               (row_number() OVER (PARTITION BY field ORDER BY n DESC, value))::INT AS rank
        FROM counts)
      SELECT field, value, n, rank FROM ranked WHERE rank <= 5
    """

    # the LSM-resident streamed variant serves the SAME match-set facets
    # narrowed by the $filter id set: every doc is written exactly once by
    # the stream, so the live corpus is the full table and the oracle is
    # the filtered scan-time facet replay
    sqls["stream_profile_facets_filtered"] = f"""
      WITH m AS (
        SELECT doc_id, lang, source FROM documents
        WHERE (len(list_filter({_WORDS},
                   x -> x IN ('merge', 'query', 'stream'))) > 0
            OR len(list_filter(
                   list_filter(string_split_regex(lower(source), '\\s+'),
                               x -> x != ''),
                   x -> x = 'src1')) > 0)
          AND n_chars >= 300 AND n_chars < 700),
      pairs AS (
        SELECT 'lang' AS field, lang AS value FROM m WHERE lang IS NOT NULL
        UNION ALL
        SELECT 'source' AS field, source AS value FROM m WHERE source IS NOT NULL),
      counts AS (SELECT field, value, count(*) AS n FROM pairs GROUP BY field, value),
      ranked AS (
        SELECT field, value, n::BIGINT AS n,
               (row_number() OVER (PARTITION BY field ORDER BY n DESC, value))::INT AS rank
        FROM counts)
      SELECT field, value, n, rank FROM ranked WHERE rank <= 5
    """

    # numeric range facets: both service modes — uniform interval buckets
    # and explicit edges with NULL-unbounded ends
    sqls["search_facet_ranges"] = """
      SELECT 'value' AS field,
             (floor(value / 50.0) * 50.0)::DOUBLE AS range_from,
             (floor(value / 50.0) * 50.0 + 50.0)::DOUBLE AS range_to,
             count(*)::BIGINT AS n,
             'interval' AS mode
      FROM events WHERE value IS NOT NULL
      GROUP BY 2, 3
      UNION ALL
      SELECT 'value' AS field,
             (CASE WHEN value >= 500 THEN 500.0 WHEN value >= 100 THEN 100.0
                   WHEN value >= 10 THEN 10.0 ELSE NULL END)::DOUBLE AS range_from,
             (CASE WHEN value >= 500 THEN NULL WHEN value >= 100 THEN 500.0
                   WHEN value >= 10 THEN 100.0 ELSE 10.0 END)::DOUBLE AS range_to,
             count(*)::BIGINT AS n,
             'edges' AS mode
      FROM events WHERE value IS NOT NULL
      GROUP BY 2, 3
    """


    # scoring profile: text field (w=2.0, terms merge/query/stream) +
    # source field (w=1.0, term src1), magnitude boost on n_chars
    # (factor 0.5, range 200-800); per-field corpus stats; zero-text-score
    # docs excluded BEFORE the boost.  Same association order as
    # scoring_profile_topk.
    _bm25_term = (
        "ln(1.0 + (n - df{i} + 0.5) / (df{i} + 0.5)) * tf{i} * 2.2"
        " / (tf{i} + 1.2 * (0.25 + 0.75 * dl{f} / avgdl{f}))"
    )
    sqls["search_profile"] = f"""
      WITH raw AS (
        SELECT doc_id, n_chars, {_WORDS} AS tw,
               list_filter(string_split_regex(lower(source), '\\s+'), x -> x != '') AS sw
        FROM documents),
      per AS (
        SELECT doc_id, n_chars,
               len(tw) AS dl0,
               len(list_filter(tw, x -> x = 'merge'))  AS tf0_0,
               len(list_filter(tw, x -> x = 'query'))  AS tf0_1,
               len(list_filter(tw, x -> x = 'stream')) AS tf0_2,
               len(sw) AS dl1,
               len(list_filter(sw, x -> x = 'src1'))   AS tf1_0
        FROM raw),
      stats AS (
        SELECT count(*) AS n,
               avg(dl0) AS avgdl0, avg(dl1) AS avgdl1,
               sum(CASE WHEN tf0_0 > 0 THEN 1 ELSE 0 END) AS df0_0,
               sum(CASE WHEN tf0_1 > 0 THEN 1 ELSE 0 END) AS df0_1,
               sum(CASE WHEN tf0_2 > 0 THEN 1 ELSE 0 END) AS df0_2,
               sum(CASE WHEN tf1_0 > 0 THEN 1 ELSE 0 END) AS df1_0
        FROM per),
      scored AS (
        SELECT doc_id, n_chars,
               2.0 * ({_bm25_term.format(i='0_0', f='0')}
                    + {_bm25_term.format(i='0_1', f='0')}
                    + {_bm25_term.format(i='0_2', f='0')})
             + 1.0 * ({_bm25_term.format(i='1_0', f='1')}) AS total
        FROM per, stats)
      SELECT doc_id,
             round(total * (1.0 + 0.5 * least(1.0, greatest(0.0,
                   (n_chars - 200.0) / 600.0))), 6) AS score
      FROM scored
      WHERE round(total, 6) > 0
      ORDER BY score DESC, doc_id LIMIT 20
    """

    # tag function composed onto magnitude: same single-field BM25 with
    # both multipliers applied as a product
    # the multi-field persisted index replays the scan-time profile
    # bit-identically, so its oracle IS the search_profile replay
    sqls["text_index_profile_topk"] = sqls["search_profile"]
    # $filter + profile: the same replay joined to the filter id set and
    # re-cut to top-k — stats stay full-corpus (idf never reweighted)
    sqls["text_index_profile_filtered"] = f"""
      WITH raw AS (
        SELECT doc_id, n_chars, {_WORDS} AS tw,
               list_filter(string_split_regex(lower(source), '\\s+'), x -> x != '') AS sw
        FROM documents),
      per AS (
        SELECT doc_id, n_chars,
               len(tw) AS dl0,
               len(list_filter(tw, x -> x = 'merge'))  AS tf0_0,
               len(list_filter(tw, x -> x = 'query'))  AS tf0_1,
               len(list_filter(tw, x -> x = 'stream')) AS tf0_2,
               len(sw) AS dl1,
               len(list_filter(sw, x -> x = 'src1'))   AS tf1_0
        FROM raw),
      stats AS (
        SELECT count(*) AS n,
               avg(dl0) AS avgdl0, avg(dl1) AS avgdl1,
               sum(CASE WHEN tf0_0 > 0 THEN 1 ELSE 0 END) AS df0_0,
               sum(CASE WHEN tf0_1 > 0 THEN 1 ELSE 0 END) AS df0_1,
               sum(CASE WHEN tf0_2 > 0 THEN 1 ELSE 0 END) AS df0_2,
               sum(CASE WHEN tf1_0 > 0 THEN 1 ELSE 0 END) AS df1_0
        FROM per),
      flt AS (
        SELECT doc_id FROM documents WHERE n_chars >= 300 AND n_chars < 700),
      scored AS (
        SELECT doc_id, n_chars,
               2.0 * ({_bm25_term.format(i='0_0', f='0')}
                    + {_bm25_term.format(i='0_1', f='0')}
                    + {_bm25_term.format(i='0_2', f='0')})
             + 1.0 * ({_bm25_term.format(i='1_0', f='1')}) AS total
        FROM per, stats)
      SELECT doc_id,
             round(total * (1.0 + 0.5 * least(1.0, greatest(0.0,
                   (n_chars - 200.0) / 600.0))), 6) AS score
      FROM scored JOIN flt USING (doc_id)
      WHERE round(total, 6) > 0
      ORDER BY score DESC, doc_id LIMIT 20
    """

    # synonym expansion composed with the profile (r11): text terms
    # merge/query widened through the synonym map to join/merge/query/scan
    # (w=2.0), source stays src1 (w=1.0) — the same multi-field replay
    # over the expanded per-field term sets, no boost
    sqls["text_index_profile_synonyms"] = f"""
      WITH raw AS (
        SELECT doc_id, {_WORDS} AS tw,
               list_filter(string_split_regex(lower(source), '\\s+'), x -> x != '') AS sw
        FROM documents),
      per AS (
        SELECT doc_id,
               len(tw) AS dl0,
               len(list_filter(tw, x -> x = 'join'))   AS tf0_0,
               len(list_filter(tw, x -> x = 'merge'))  AS tf0_1,
               len(list_filter(tw, x -> x = 'query'))  AS tf0_2,
               len(list_filter(tw, x -> x = 'scan'))   AS tf0_3,
               len(sw) AS dl1,
               len(list_filter(sw, x -> x = 'src1'))   AS tf1_0
        FROM raw),
      stats AS (
        SELECT count(*) AS n,
               avg(dl0) AS avgdl0, avg(dl1) AS avgdl1,
               sum(CASE WHEN tf0_0 > 0 THEN 1 ELSE 0 END) AS df0_0,
               sum(CASE WHEN tf0_1 > 0 THEN 1 ELSE 0 END) AS df0_1,
               sum(CASE WHEN tf0_2 > 0 THEN 1 ELSE 0 END) AS df0_2,
               sum(CASE WHEN tf0_3 > 0 THEN 1 ELSE 0 END) AS df0_3,
               sum(CASE WHEN tf1_0 > 0 THEN 1 ELSE 0 END) AS df1_0
        FROM per),
      scored AS (
        SELECT doc_id,
               2.0 * ({_bm25_term.format(i='0_0', f='0')}
                    + {_bm25_term.format(i='0_1', f='0')}
                    + {_bm25_term.format(i='0_2', f='0')}
                    + {_bm25_term.format(i='0_3', f='0')})
             + 1.0 * ({_bm25_term.format(i='1_0', f='1')}) AS total
        FROM per, stats)
      SELECT doc_id, round(total, 6) AS score
      FROM scored
      WHERE round(total, 6) > 0
      ORDER BY score DESC, doc_id LIMIT 20
    """

    # simple-query syntax composed with the profile (r11): positives
    # merge/query/stream rank through BOTH weighted fields; +stream
    # requires the term in at least one field, -scan excludes docs
    # carrying it in any — filters re-cut the returnable set, statistics
    # stay full-corpus (idf never reweighted)
    sqls["text_index_profile_simple_query"] = f"""
      WITH raw AS (
        SELECT doc_id, {_WORDS} AS tw,
               list_filter(string_split_regex(lower(source), '\\s+'), x -> x != '') AS sw
        FROM documents),
      per AS (
        SELECT doc_id,
               len(tw) AS dl0,
               len(list_filter(tw, x -> x = 'merge'))  AS tf0_0,
               len(list_filter(tw, x -> x = 'query'))  AS tf0_1,
               len(list_filter(tw, x -> x = 'stream')) AS tf0_2,
               len(list_filter(tw, x -> x = 'scan'))   AS te0,
               len(sw) AS dl1,
               len(list_filter(sw, x -> x = 'merge'))  AS tf1_0,
               len(list_filter(sw, x -> x = 'query'))  AS tf1_1,
               len(list_filter(sw, x -> x = 'stream')) AS tf1_2,
               len(list_filter(sw, x -> x = 'scan'))   AS te1
        FROM raw),
      stats AS (
        SELECT count(*) AS n,
               avg(dl0) AS avgdl0, avg(dl1) AS avgdl1,
               sum(CASE WHEN tf0_0 > 0 THEN 1 ELSE 0 END) AS df0_0,
               sum(CASE WHEN tf0_1 > 0 THEN 1 ELSE 0 END) AS df0_1,
               sum(CASE WHEN tf0_2 > 0 THEN 1 ELSE 0 END) AS df0_2,
               sum(CASE WHEN tf1_0 > 0 THEN 1 ELSE 0 END) AS df1_0,
               sum(CASE WHEN tf1_1 > 0 THEN 1 ELSE 0 END) AS df1_1,
               sum(CASE WHEN tf1_2 > 0 THEN 1 ELSE 0 END) AS df1_2
        FROM per),
      allowed AS (
        SELECT doc_id FROM per
        WHERE (tf0_2 > 0 OR tf1_2 > 0) AND te0 = 0 AND te1 = 0),
      scored AS (
        SELECT doc_id,
               2.0 * ({_bm25_term.format(i='0_0', f='0')}
                    + {_bm25_term.format(i='0_1', f='0')}
                    + {_bm25_term.format(i='0_2', f='0')})
             + 1.0 * ({_bm25_term.format(i='1_0', f='1')}
                    + {_bm25_term.format(i='1_1', f='1')}
                    + {_bm25_term.format(i='1_2', f='1')}) AS total
        FROM per, stats)
      SELECT doc_id, round(total, 6) AS score
      FROM scored JOIN allowed USING (doc_id)
      WHERE round(total, 6) > 0
      ORDER BY score DESC, doc_id LIMIT 20
    """

    # profile-surface highlight: the same multi-field profile replay (no
    # boost), each winner joined to its text field's first-hit
    # position/snippet for 'merge' (radius 20 → 45-char window)
    sqls["text_index_profile_highlight"] = f"""
      WITH raw AS (
        SELECT doc_id, {_WORDS} AS tw,
               list_filter(string_split_regex(lower(source), '\\s+'), x -> x != '') AS sw
        FROM documents),
      per AS (
        SELECT doc_id,
               len(tw) AS dl0,
               len(list_filter(tw, x -> x = 'merge'))  AS tf0_0,
               len(list_filter(tw, x -> x = 'query'))  AS tf0_1,
               len(list_filter(tw, x -> x = 'stream')) AS tf0_2,
               len(sw) AS dl1,
               len(list_filter(sw, x -> x = 'src1'))   AS tf1_0
        FROM raw),
      stats AS (
        SELECT count(*) AS n,
               avg(dl0) AS avgdl0, avg(dl1) AS avgdl1,
               sum(CASE WHEN tf0_0 > 0 THEN 1 ELSE 0 END) AS df0_0,
               sum(CASE WHEN tf0_1 > 0 THEN 1 ELSE 0 END) AS df0_1,
               sum(CASE WHEN tf0_2 > 0 THEN 1 ELSE 0 END) AS df0_2,
               sum(CASE WHEN tf1_0 > 0 THEN 1 ELSE 0 END) AS df1_0
        FROM per),
      scored AS (
        SELECT doc_id,
               2.0 * ({_bm25_term.format(i='0_0', f='0')}
                    + {_bm25_term.format(i='0_1', f='0')}
                    + {_bm25_term.format(i='0_2', f='0')})
             + 1.0 * ({_bm25_term.format(i='1_0', f='1')}) AS total
        FROM per, stats),
      topk AS (
        SELECT doc_id, round(total, 6) AS score
        FROM scored
        WHERE round(total, 6) > 0
        ORDER BY score DESC, doc_id LIMIT 20)
      SELECT t.doc_id, t.score,
             CASE WHEN strpos(lower(d.text), 'merge') > 0
                  THEN strpos(lower(d.text), 'merge') ELSE 0 END::INT AS hit_pos,
             CASE WHEN strpos(lower(d.text), 'merge') > 0
                  THEN substring(d.text,
                                 greatest(1, strpos(lower(d.text), 'merge') - 20),
                                 45)
             END AS snippet
      FROM topk t JOIN documents d USING (doc_id)
    """

    # phrase predicates on the profile surface: positives merge/value rank
    # through both weighted fields; the required phrase must appear in at
    # least one weighted field's text, the excluded phrase in none (the
    # index serves every doc exactly once across build + segment, so the
    # oracle is the full-corpus replay)
    sqls["text_index_profile_phrase"] = f"""
      WITH raw AS (
        SELECT doc_id, lower(text) AS lt, lower(source) AS ls, {_WORDS} AS tw,
               list_filter(string_split_regex(lower(source), '\\s+'), x -> x != '') AS sw
        FROM documents),
      per AS (
        SELECT doc_id, lt, ls,
               len(tw) AS dl0,
               len(list_filter(tw, x -> x = 'merge')) AS tf0_0,
               len(list_filter(tw, x -> x = 'value')) AS tf0_1,
               len(sw) AS dl1,
               len(list_filter(sw, x -> x = 'merge')) AS tf1_0,
               len(list_filter(sw, x -> x = 'value')) AS tf1_1
        FROM raw),
      stats AS (
        SELECT count(*) AS n, avg(dl0) AS avgdl0, avg(dl1) AS avgdl1,
               sum(CASE WHEN tf0_0 > 0 THEN 1 ELSE 0 END) AS df0_0,
               sum(CASE WHEN tf0_1 > 0 THEN 1 ELSE 0 END) AS df0_1,
               sum(CASE WHEN tf1_0 > 0 THEN 1 ELSE 0 END) AS df1_0,
               sum(CASE WHEN tf1_1 > 0 THEN 1 ELSE 0 END) AS df1_1
        FROM per),
      allowed AS (
        SELECT doc_id FROM per
        WHERE (contains(lt, 'scan stream') OR contains(ls, 'scan stream'))
          AND NOT contains(lt, 'merge stream')
          AND NOT contains(ls, 'merge stream')),
      scored AS (
        SELECT doc_id,
               2.0 * ({_bm25_term.format(i='0_0', f='0')}
                    + {_bm25_term.format(i='0_1', f='0')})
             + 1.0 * ({_bm25_term.format(i='1_0', f='1')}
                    + {_bm25_term.format(i='1_1', f='1')}) AS total
        FROM per, stats)
      SELECT doc_id, round(total, 6) AS score
      FROM scored JOIN allowed USING (doc_id)
      WHERE round(total, 6) > 0
      ORDER BY score DESC, doc_id LIMIT 20
    """

    # positional phrase predicates on the profile surface (r13): the
    # allowed set is token-ADJACENCY per field (required pair present in
    # >=1 weighted field, excluded pair in none) — bounded list_filter
    # over 1-based positions, p1 < len so the +1 lookup never runs off
    # the array; ranking is the same full-corpus profile replay
    _adj_pairs = (
        "len(list_filter("
        " list_filter(list_transform(generate_series(1, len({w})),"
        "             p -> CASE WHEN {w}[p] = '{a}' THEN p END),"
        "             x -> x IS NOT NULL),"
        " p1 -> p1 < len({w}) AND {w}[p1 + 1] = '{b}')) > 0"
    )
    sqls["text_index_profile_phrase_pos"] = f"""
      WITH raw AS (
        SELECT doc_id, {_WORDS} AS tw,
               list_filter(string_split_regex(lower(source), '\\s+'), x -> x != '') AS sw
        FROM documents),
      per AS (
        SELECT doc_id, tw, sw,
               len(tw) AS dl0,
               len(list_filter(tw, x -> x = 'merge')) AS tf0_0,
               len(list_filter(tw, x -> x = 'value')) AS tf0_1,
               len(sw) AS dl1,
               len(list_filter(sw, x -> x = 'merge')) AS tf1_0,
               len(list_filter(sw, x -> x = 'value')) AS tf1_1
        FROM raw),
      stats AS (
        SELECT count(*) AS n, avg(dl0) AS avgdl0, avg(dl1) AS avgdl1,
               sum(CASE WHEN tf0_0 > 0 THEN 1 ELSE 0 END) AS df0_0,
               sum(CASE WHEN tf0_1 > 0 THEN 1 ELSE 0 END) AS df0_1,
               sum(CASE WHEN tf1_0 > 0 THEN 1 ELSE 0 END) AS df1_0,
               sum(CASE WHEN tf1_1 > 0 THEN 1 ELSE 0 END) AS df1_1
        FROM per),
      allowed AS (
        SELECT doc_id FROM per
        WHERE (({_adj_pairs.format(w='tw', a='scan', b='stream')})
            OR ({_adj_pairs.format(w='sw', a='scan', b='stream')}))
          AND NOT ({_adj_pairs.format(w='tw', a='merge', b='stream')})
          AND NOT ({_adj_pairs.format(w='sw', a='merge', b='stream')})),
      scored AS (
        SELECT doc_id,
               2.0 * ({_bm25_term.format(i='0_0', f='0')}
                    + {_bm25_term.format(i='0_1', f='0')})
             + 1.0 * ({_bm25_term.format(i='1_0', f='1')}
                    + {_bm25_term.format(i='1_1', f='1')}) AS total
        FROM per, stats)
      SELECT doc_id, round(total, 6) AS score
      FROM scored JOIN allowed USING (doc_id)
      WHERE round(total, 6) > 0
      ORDER BY score DESC, doc_id LIMIT 20
    """

    # NEAR composed with the field-weighted profile (r13): positives
    # {merge, stream} rank through both weighted fields over the LOGICAL
    # post-maintenance corpus (doc_id % 7 != 0 after the segmented
    # delete); the allowed set is docs where an ordered merge..stream
    # position pair within slop=2 (p2 > p1 AND p2 <= p1 + 3) exists in
    # at least one weighted field — the same position-list replay as
    # sqls["search_near"], evaluated per field
    _near_pairs = (
        "len(list_filter("
        " list_filter(list_transform(generate_series(1, len({w})),"
        "             p -> CASE WHEN {w}[p] = 'merge' THEN p END),"
        "             x -> x IS NOT NULL),"
        " p1 -> len(list_filter("
        "   list_filter(list_transform(generate_series(1, len({w})),"
        "               p -> CASE WHEN {w}[p] = 'stream' THEN p END),"
        "               x -> x IS NOT NULL),"
        "   p2 -> p2 > p1 AND p2 <= p1 + 3)) > 0)) > 0"
    )
    sqls["text_index_profile_near"] = f"""
      WITH logical AS (
        SELECT doc_id, text, source FROM documents WHERE doc_id % 7 != 0),
      raw AS (
        SELECT doc_id, {_WORDS} AS tw,
               list_filter(string_split_regex(lower(source), '\\s+'), x -> x != '') AS sw
        FROM logical),
      per AS (
        SELECT doc_id, tw, sw,
               len(tw) AS dl0,
               len(list_filter(tw, x -> x = 'merge'))  AS tf0_0,
               len(list_filter(tw, x -> x = 'stream')) AS tf0_1,
               len(sw) AS dl1,
               len(list_filter(sw, x -> x = 'merge'))  AS tf1_0,
               len(list_filter(sw, x -> x = 'stream')) AS tf1_1
        FROM raw),
      stats AS (
        SELECT count(*) AS n, avg(dl0) AS avgdl0, avg(dl1) AS avgdl1,
               sum(CASE WHEN tf0_0 > 0 THEN 1 ELSE 0 END) AS df0_0,
               sum(CASE WHEN tf0_1 > 0 THEN 1 ELSE 0 END) AS df0_1,
               sum(CASE WHEN tf1_0 > 0 THEN 1 ELSE 0 END) AS df1_0,
               sum(CASE WHEN tf1_1 > 0 THEN 1 ELSE 0 END) AS df1_1
        FROM per),
      allowed AS (
        SELECT doc_id FROM per
        WHERE ({_near_pairs.format(w='tw')})
           OR ({_near_pairs.format(w='sw')})),
      scored AS (
        SELECT doc_id,
               2.0 * ({_bm25_term.format(i='0_0', f='0')}
                    + {_bm25_term.format(i='0_1', f='0')})
             + 1.0 * ({_bm25_term.format(i='1_0', f='1')}
                    + {_bm25_term.format(i='1_1', f='1')}) AS total
        FROM per, stats)
      SELECT doc_id, round(total, 6) AS score
      FROM scored JOIN allowed USING (doc_id)
      WHERE round(total, 6) > 0
      ORDER BY score DESC, doc_id LIMIT 20
    """

    # r14: field-scoped suggester — df counts distinct docs carrying the
    # prefix-matched term in ANY scoped field; the entry's LSM state
    # (build 2/3 + one pending segment 1/3, disjoint ids) nets to the
    # full corpus, so the replay recounts from the table directly
    sqls["text_index_profile_suggest"] = f"""
      WITH raw AS (
        SELECT doc_id, {_WORDS} AS tw,
               list_filter(string_split_regex(lower(source), '\\s+'), x -> x != '') AS sw
        FROM documents),
      pairs AS (
        SELECT doc_id, unnest(tw) AS term FROM raw
        UNION
        SELECT doc_id, unnest(sw) AS term FROM raw)
      SELECT term, count(DISTINCT doc_id)::BIGINT AS df
      FROM pairs WHERE term LIKE 's%'
      GROUP BY term ORDER BY df DESC, term LIMIT 10
    """

    # r14: fuzzy / wildcard composed with the field-weighted profile —
    # the expansion (per-field band/pattern slice, dist asc / df desc /
    # term asc, cap 50) AND the BM25F scoring replayed relationally.
    # Float-association-exact: per (doc, field) the contributions fold
    # in sorted-term order (zero-tf terms contribute exact 0.0 — an IEEE
    # identity — so only nonzero rows need folding), then the weighted
    # per-field scores fold in profile order, mirroring
    # query_profile_index's expression tree.
    _pf_skeleton = f"""
      WITH raw AS (
        SELECT doc_id, {_WORDS} AS tw,
               list_filter(string_split_regex(lower(source), '\\s+'), x -> x != '') AS sw
        FROM documents),
      pf AS (
        SELECT 0 AS ford, t.doc_id, t.term, count(*)::BIGINT AS tf
        FROM (SELECT doc_id, unnest(tw) AS term FROM raw) t
        GROUP BY t.doc_id, t.term
        UNION ALL
        SELECT 1 AS ford, t.doc_id, t.term, count(*)::BIGINT AS tf
        FROM (SELECT doc_id, unnest(sw) AS term FROM raw) t
        GROUP BY t.doc_id, t.term),
      vocab AS (SELECT ford, term, count(*)::BIGINT AS df
                FROM pf GROUP BY ford, term),
      exp AS (
        SELECT ford, term, df FROM (
          SELECT ford, term, df, row_number() OVER (
            PARTITION BY ford ORDER BY {{rank}}) AS rn
          FROM vocab WHERE {{keep}}) WHERE rn <= 50),
      dls AS (SELECT doc_id, len(tw) AS dl0, len(sw) AS dl1 FROM raw),
      stats AS (SELECT count(*) AS n, avg(dl0) AS avgdl0,
                       avg(dl1) AS avgdl1 FROM dls),
      contrib AS (
        SELECT pf.doc_id, pf.ford, pf.term,
               ln(1.0 + (n - e.df + 0.5) / (e.df + 0.5)) * pf.tf * 2.2
                 / (pf.tf + 1.2 * (0.25 + 0.75 *
                     (CASE pf.ford WHEN 0 THEN d.dl0 ELSE d.dl1 END)
                   / (CASE pf.ford WHEN 0 THEN avgdl0 ELSE avgdl1 END))) AS c
        FROM pf JOIN exp e ON e.ford = pf.ford AND e.term = pf.term
        JOIN dls d ON d.doc_id = pf.doc_id, stats),
      fsc AS (
        SELECT doc_id, ford,
               list_reduce(list(c ORDER BY term), (a, b) -> a + b) AS fscore
        FROM contrib GROUP BY doc_id, ford),
      tot AS (
        SELECT doc_id,
               list_reduce(list((CASE ford WHEN 0 THEN 2.0 ELSE 1.0 END) * fscore
                                ORDER BY ford), (a, b) -> a + b) AS total
        FROM fsc GROUP BY doc_id)
      SELECT doc_id, round(total, 6) AS score
      FROM tot WHERE round(total, 6) > 0
      ORDER BY score DESC, doc_id LIMIT 20
    """
    sqls["text_index_profile_fuzzy"] = _pf_skeleton.format(
        rank="levenshtein(term, 'stroam'), df DESC, term",
        keep="length(term) BETWEEN 4 AND 8 AND term LIKE 's%' "
        "AND levenshtein(term, 'stroam') <= 2",
    )
    sqls["text_index_profile_wildcard"] = _pf_skeleton.format(
        rank="df DESC, term",
        keep="term LIKE 's%r%'",
    )

    # maintenance lifecycle: the same profile replay over the LOGICAL
    # post-maintenance corpus — docs ≡ 0 (mod 4) rewritten (text
    # prefixed, source := src1, n_chars += 10), docs ≡ 0 (mod 7) deleted
    sqls["text_index_profile_upsert"] = f"""
      WITH logical AS (
        SELECT doc_id,
               CASE WHEN doc_id % 4 = 0
                    THEN 'merge body rewritten ' || text ELSE text END AS text,
               CASE WHEN doc_id % 4 = 0 THEN 'src1' ELSE source END AS source,
               CASE WHEN doc_id % 4 = 0 THEN n_chars + 10 ELSE n_chars END AS n_chars
        FROM documents
        WHERE doc_id % 7 != 0),
      raw AS (
        SELECT doc_id, n_chars, {_WORDS} AS tw,
               list_filter(string_split_regex(lower(source), '\\s+'), x -> x != '') AS sw
        FROM logical),
      per AS (
        SELECT doc_id, n_chars,
               len(tw) AS dl0,
               len(list_filter(tw, x -> x = 'merge'))  AS tf0_0,
               len(list_filter(tw, x -> x = 'query'))  AS tf0_1,
               len(list_filter(tw, x -> x = 'stream')) AS tf0_2,
               len(sw) AS dl1,
               len(list_filter(sw, x -> x = 'src1'))   AS tf1_0
        FROM raw),
      stats AS (
        SELECT count(*) AS n,
               avg(dl0) AS avgdl0, avg(dl1) AS avgdl1,
               sum(CASE WHEN tf0_0 > 0 THEN 1 ELSE 0 END) AS df0_0,
               sum(CASE WHEN tf0_1 > 0 THEN 1 ELSE 0 END) AS df0_1,
               sum(CASE WHEN tf0_2 > 0 THEN 1 ELSE 0 END) AS df0_2,
               sum(CASE WHEN tf1_0 > 0 THEN 1 ELSE 0 END) AS df1_0
        FROM per),
      scored AS (
        SELECT doc_id, n_chars,
               2.0 * ({_bm25_term.format(i='0_0', f='0')}
                    + {_bm25_term.format(i='0_1', f='0')}
                    + {_bm25_term.format(i='0_2', f='0')})
             + 1.0 * ({_bm25_term.format(i='1_0', f='1')}) AS total
        FROM per, stats)
      SELECT doc_id,
             round(total * (1.0 + 0.5 * least(1.0, greatest(0.0,
                   (n_chars - 200.0) / 600.0))), 6) AS score
      FROM scored
      WHERE round(total, 6) > 0
      ORDER BY score DESC, doc_id LIMIT 20
    """
    # text_index_profile_lsm applies the SAME batches and serves with the
    # segments still pending — identical logical corpus, so its oracle IS
    # text_index_profile_upsert's replay
    sqls["text_index_profile_lsm"] = sqls["text_index_profile_upsert"]
    # the streaming drain is batch-split-invariant (doc-level LWW) over
    # the full corpus — same replay as the one-shot profile build+serve
    sqls["stream_profile_index"] = sqls["text_index_profile_topk"]

    sqls["search_profile_tags"] = f"""
      WITH raw AS (
        SELECT doc_id, n_chars, source, {_WORDS} AS tw FROM documents),
      per AS (
        SELECT doc_id, n_chars, source,
               len(tw) AS dl0,
               len(list_filter(tw, x -> x = 'merge'))  AS tf0_0,
               len(list_filter(tw, x -> x = 'query'))  AS tf0_1,
               len(list_filter(tw, x -> x = 'stream')) AS tf0_2
        FROM raw),
      stats AS (
        SELECT count(*) AS n, avg(dl0) AS avgdl0,
               sum(CASE WHEN tf0_0 > 0 THEN 1 ELSE 0 END) AS df0_0,
               sum(CASE WHEN tf0_1 > 0 THEN 1 ELSE 0 END) AS df0_1,
               sum(CASE WHEN tf0_2 > 0 THEN 1 ELSE 0 END) AS df0_2
        FROM per),
      scored AS (
        SELECT doc_id, n_chars, source,
               2.0 * ({_bm25_term.format(i='0_0', f='0')}
                    + {_bm25_term.format(i='0_1', f='0')}
                    + {_bm25_term.format(i='0_2', f='0')}) AS total
        FROM per, stats)
      SELECT doc_id,
             round(total
                   * (1.0 + 0.5 * least(1.0, greatest(0.0,
                         (n_chars - 200.0) / 600.0)))
                   * (CASE WHEN source IN ('src1','src3','src5')
                           THEN 1.3 ELSE 1.0 END), 6) AS score
      FROM scored
      WHERE round(total, 6) > 0
      ORDER BY score DESC, doc_id LIMIT 20
    """

    # RAG chunking: 32-token windows, stride 24; n_chunks arithmetic and
    # the inclusive-end list_slice mirror chunk_documents exactly
    sqls["rag_chunks"] = f"""
      WITH b AS (
        SELECT doc_id, words, len(words) AS n
        FROM (SELECT doc_id, {_WORDS} AS words FROM documents)),
      c AS (
        SELECT doc_id, words,
               CASE WHEN n <= 0 THEN 0
                    WHEN n <= 32 THEN 1
                    ELSE 1 + CAST(floor((n - 32 + 24 - 1) / 24.0) AS INT)
               END AS n_chunks
        FROM b),
      e AS (SELECT doc_id, words, unnest(range(n_chunks)) AS cid FROM c)
      SELECT doc_id, cid::INT AS chunk_id,
             len(list_slice(words, cid * 24 + 1, cid * 24 + 32))::BIGINT AS n_chunk_tokens,
             array_to_string(list_slice(words, cid * 24 + 1, cid * 24 + 32), ' ') AS chunk_text
      FROM e
    """

    sqls["search_suggest"] = f"""
      WITH m AS (
        SELECT doc_id,
               unnest(list_filter({_WORDS}, x -> starts_with(x, 's'))) AS term
        FROM documents)
      SELECT term, count(DISTINCT doc_id) AS df
      FROM m GROUP BY term ORDER BY df DESC, term LIMIT 10
    """
    # twoTerms autocomplete: adjacent pairs whose first term matches the
    # prefix, ranked by pair document frequency
    sqls["search_suggest2"] = f"""
      WITH d AS (SELECT doc_id, {_WORDS} AS w FROM documents),
      m AS (
        SELECT doc_id, w[CAST(i AS INT)] || ' ' || w[CAST(i + 1 AS INT)] AS completion
        FROM d, LATERAL (SELECT unnest(range(1, len(w))) AS i) u
        WHERE starts_with(w[CAST(i AS INT)], 'st'))
      SELECT completion, count(DISTINCT doc_id) AS df
      FROM m GROUP BY completion ORDER BY df DESC, completion LIMIT 10
    """
    # oneTermWithContext: completions of the prefix that FOLLOW the exact
    # context term, ranked by adjacency document frequency
    sqls["search_suggest_ctx"] = f"""
      WITH d AS (SELECT doc_id, {_WORDS} AS w FROM documents),
      m AS (
        SELECT doc_id, w[CAST(i + 1 AS INT)] AS term
        FROM d, LATERAL (SELECT unnest(range(1, len(w))) AS i) u
        WHERE w[CAST(i AS INT)] = 'merge'
          AND starts_with(w[CAST(i + 1 AS INT)], 's'))
      SELECT term, count(DISTINCT doc_id) AS df
      FROM m GROUP BY term ORDER BY df DESC, term LIMIT 10
    """
    # index-served autocomplete equals the scan-time suggester
    sqls["text_index_suggest"] = sqls["search_suggest"]
    # the maintenance variant's mutations net to the same logical corpus,
    # so the rollup-delta gate reuses the identical df-ranked replay
    sqls["text_index_suggest_maint"] = sqls["search_suggest"]

    # fuzzy term enumeration: vocabulary terms within 2 edits of 'quary'
    # (length band + shared first char are the pushed pre-filters, exactly
    # the fuzzy_candidates guard), closest first
    sqls["search_fuzzy_terms"] = f"""
      WITH vocab AS (
        SELECT term, count(DISTINCT doc_id) AS df FROM (
          SELECT doc_id, unnest({_WORDS}) AS term FROM documents) GROUP BY term)
      SELECT term, df, levenshtein(term, 'quary')::BIGINT AS dist
      FROM vocab
      WHERE length(term) BETWEEN 3 AND 7 AND term LIKE 'q%'
        AND levenshtein(term, 'quary') <= 2
      ORDER BY dist, df DESC, term LIMIT 50
    """

    # two-phase fuzzy BM25: per-query-term expansion (dist asc / df desc /
    # term asc, cap 50 — rank_fuzzy_expansions), then relational BM25 over
    # the expanded set.  Per-doc contributions are folded in TERM-SORTED
    # order (list(c ORDER BY term) + list_reduce) — the same association
    # order as bm25_topk's per-term-column left-assoc sum, whose zero-tf
    # contributions are exact +0.0 and so drop out of every partial sum.
    sqls["search_fuzzy"] = f"""
      WITH toks AS (SELECT doc_id, {_WORDS} AS words FROM documents),
      vocab AS (
        SELECT term, count(DISTINCT doc_id) AS df FROM (
          SELECT doc_id, unnest(words) AS term FROM toks) GROUP BY term),
      cand AS (
        SELECT term FROM (
          SELECT term, row_number() OVER (
            ORDER BY levenshtein(term, 'quary'), df DESC, term) AS rn
          FROM vocab
          WHERE length(term) BETWEEN 3 AND 7 AND term LIKE 'q%'
            AND levenshtein(term, 'quary') <= 2) WHERE rn <= 50
        UNION
        SELECT term FROM (
          SELECT term, row_number() OVER (
            ORDER BY levenshtein(term, 'stroam'), df DESC, term) AS rn
          FROM vocab
          WHERE length(term) BETWEEN 4 AND 8 AND term LIKE 's%'
            AND levenshtein(term, 'stroam') <= 2) WHERE rn <= 50),
      per AS (SELECT doc_id, len(words) AS dl FROM toks),
      stats AS (SELECT count(*) AS n, avg(dl) AS avgdl FROM per),
      tf AS (
        SELECT t.doc_id, t.term, count(*) AS tf
        FROM (SELECT doc_id, unnest(words) AS term FROM toks) t
        JOIN cand USING (term) GROUP BY t.doc_id, t.term),
      dfs AS (SELECT term, count(*) AS df FROM tf GROUP BY term),
      contrib AS (
        SELECT tf.doc_id,
               tf.term,
               ln(1.0 + (n - dfs.df + 0.5) / (dfs.df + 0.5)) * tf.tf * 2.2
                 / (tf.tf + 1.2 * (0.25 + 0.75 * per.dl / avgdl)) AS c
        FROM tf JOIN dfs USING (term) JOIN per ON per.doc_id = tf.doc_id, stats)
      SELECT doc_id, bm25 FROM (
        SELECT doc_id,
               round(list_reduce(list(c ORDER BY term), (a, b) -> a + b), 6) AS bm25
        FROM contrib GROUP BY doc_id) t
      WHERE bm25 > 0 ORDER BY bm25 DESC, doc_id LIMIT 20
    """
    # index-served fuzzy search is bit-identical to the scan-time path,
    # and the LSM variant's mutations net to the same logical corpus
    sqls["text_index_fuzzy"] = sqls["search_fuzzy"]
    sqls["text_index_fuzzy_lsm"] = sqls["search_fuzzy"]

    # wildcard expansion ('st*am' -> LIKE 'st%am', 'qu?ry' -> LIKE
    # 'qu_ry', ranked df desc / term asc, cap 50), then the same
    # relational BM25 with the term-sorted contribution fold
    sqls["search_wildcard"] = f"""
      WITH toks AS (SELECT doc_id, {_WORDS} AS words FROM documents),
      vocab AS (
        SELECT term, count(DISTINCT doc_id) AS df FROM (
          SELECT doc_id, unnest(words) AS term FROM toks) GROUP BY term),
      cand AS (
        SELECT term FROM (
          SELECT term, row_number() OVER (ORDER BY df DESC, term) AS rn
          FROM vocab WHERE term LIKE 'st%am') WHERE rn <= 50
        UNION
        SELECT term FROM (
          SELECT term, row_number() OVER (ORDER BY df DESC, term) AS rn
          FROM vocab WHERE term LIKE 'qu_ry') WHERE rn <= 50),
      per AS (SELECT doc_id, len(words) AS dl FROM toks),
      stats AS (SELECT count(*) AS n, avg(dl) AS avgdl FROM per),
      tf AS (
        SELECT t.doc_id, t.term, count(*) AS tf
        FROM (SELECT doc_id, unnest(words) AS term FROM toks) t
        JOIN cand USING (term) GROUP BY t.doc_id, t.term),
      dfs AS (SELECT term, count(*) AS df FROM tf GROUP BY term),
      contrib AS (
        SELECT tf.doc_id,
               tf.term,
               ln(1.0 + (n - dfs.df + 0.5) / (dfs.df + 0.5)) * tf.tf * 2.2
                 / (tf.tf + 1.2 * (0.25 + 0.75 * per.dl / avgdl)) AS c
        FROM tf JOIN dfs USING (term) JOIN per ON per.doc_id = tf.doc_id, stats)
      SELECT doc_id, bm25 FROM (
        SELECT doc_id,
               round(list_reduce(list(c ORDER BY term), (a, b) -> a + b), 6) AS bm25
        FROM contrib GROUP BY doc_id) t
      WHERE bm25 > 0 ORDER BY bm25 DESC, doc_id LIMIT 20
    """
    # index-served wildcard search is bit-identical to the scan-time path
    sqls["text_index_wildcard"] = sqls["search_wildcard"]

    sqls["search_highlight"] = """
      SELECT doc_id,
             strpos(lower(text), 'merge')::INT AS hit_pos,
             substring(text, greatest(1, strpos(lower(text), 'merge') - 20), 45) AS snippet
      FROM documents
      WHERE strpos(lower(text), 'merge') > 0
    """

    # ---- end-to-end training-corpus funnel (plans/corpus.py) -----------
    # reuses the exact expressions of lang_id / quality_score above, the
    # MinHash pair-graph CTEs (over the exact-canonical survivors), and the
    # recursive connected-components CTEs
    sqls["train_corpus"] = f"""
      WITH RECURSIVE scored AS (
        SELECT doc_id, text,
               {pred_case.replace("hits_", "s_hits_")} AS pred_lang,
               round(0.25 * least(s_n_tok / 100.0, 1.0)
                   + 0.25 * least(s_mean_len / 8.0, 1.0)
                   + 0.5 * s_sw_ratio, 6) AS quality,
               s_n_tok::BIGINT AS n_tokens,
               md5(regexp_replace(lower(text), '\\s+', ' ', 'g')) AS chash
        FROM (
          SELECT doc_id, text, words,
                 len(words) AS s_n_tok,
                 CASE WHEN len(words) > 0
                   THEN (list_sum(list_transform(words, t -> length(t))))::DOUBLE / len(words)
                   ELSE 0.0 END AS s_mean_len,
                 CASE WHEN len(words) > 0
                   THEN len(list_filter(words, t -> list_contains({en_lex}, t))) / len(words)
                   ELSE 0.0 END AS s_sw_ratio,
                 {hit_cols.replace("hits_", "s_hits_")}
          FROM (SELECT doc_id, text, {_WORDS} AS words FROM documents))),
      eligible AS (
        SELECT * FROM scored WHERE quality >= 0.3 AND pred_lang = 'en'),
      exactc AS (
        SELECT doc_id, text, min(doc_id) OVER (PARTITION BY chash) AS canon
        FROM eligible),
      cand_docs AS (
        SELECT doc_id, text FROM exactc WHERE doc_id = canon),
      {minhash_ctes("cand_docs")},
      {components_ctes},
      staged AS (
        SELECT s.doc_id, s.pred_lang, s.quality, s.n_tokens,
               CASE WHEN s.quality < 0.3 THEN 'low_quality'
                    WHEN s.pred_lang != 'en' THEN 'wrong_language'
                    WHEN e.canon != s.doc_id THEN 'exact_dup'
                    WHEN coalesce(c.cluster_id, s.doc_id) != s.doc_id THEN 'near_dup'
                    ELSE 'kept' END AS stage
        FROM scored s
        LEFT JOIN exactc e ON e.doc_id = s.doc_id
        LEFT JOIN comp c ON c.id = s.doc_id)
      SELECT doc_id, pred_lang, quality, n_tokens, stage,
             (stage = 'kept')::INT AS kept
      FROM staged
    """

    # the streaming curated drain must equal the batch gate + exact dedup:
    # same scored/eligible derivation as train_corpus, then the dedup state
    sqls["stream_curated_dedup"] = f"""
      WITH scored AS (
        SELECT doc_id,
               md5(regexp_replace(lower(text), '\\s+', ' ', 'g')) AS content_hash,
               {pred_case.replace("hits_", "s_hits_")} AS pred_lang,
               round(0.25 * least(s_n_tok / 100.0, 1.0)
                   + 0.25 * least(s_mean_len / 8.0, 1.0)
                   + 0.5 * s_sw_ratio, 6) AS quality
        FROM (
          SELECT doc_id, text, words,
                 len(words) AS s_n_tok,
                 CASE WHEN len(words) > 0
                   THEN (list_sum(list_transform(words, t -> length(t))))::DOUBLE / len(words)
                   ELSE 0.0 END AS s_mean_len,
                 CASE WHEN len(words) > 0
                   THEN len(list_filter(words, t -> list_contains({en_lex}, t))) / len(words)
                   ELSE 0.0 END AS s_sw_ratio,
                 {hit_cols.replace("hits_", "s_hits_")}
          FROM (SELECT doc_id, text, {_WORDS} AS words FROM documents))),
      eligible AS (
        SELECT * FROM scored WHERE quality >= 0.3 AND pred_lang = 'en')
      SELECT content_hash, min(doc_id) AS doc_id, count(*) AS dup_count
      FROM eligible GROUP BY content_hash
    """

    # the drained streaming sessionization must equal the batch gap-and-
    # island sessionize rows exactly (same oracle)
    sqls["stream_sessionize"] = sqls["events_sessionize"]

    # the drained watermarked stream must equal the batch hourly rollup
    sqls["stream_windowed_counts"] = f"""
      SELECT strftime(date_trunc('hour', ts), '{TS_FMT_DUCK}') AS window_start,
             event_type, count(*) AS n
      FROM events GROUP BY 1, 2
    """

    # the stream-stream interval join drains to exactly the batch
    # time-bounded self-join (inner joins emit eagerly; chronological
    # arrival keeps every row inside the watermark)
    sqls["stream_view_click_join"] = f"""
      SELECT v.event_id AS view_id, c.event_id AS click_id, v.user_id,
             strftime(v.ts::TIMESTAMP, '{TS_FMT_DUCK}') AS view_ts,
             strftime(c.ts::TIMESTAMP, '{TS_FMT_DUCK}') AS click_ts,
             date_diff('second', v.ts::TIMESTAMP, c.ts::TIMESTAMP) AS delay_s
      FROM events v JOIN events c
        ON v.user_id = c.user_id
       AND c.ts::TIMESTAMP >= v.ts::TIMESTAMP
       AND c.ts::TIMESTAMP < v.ts::TIMESTAMP + INTERVAL 6 HOUR
      WHERE v.event_type = 'view' AND c.event_type = 'click'
    """

    # the left-outer variant: unmatched views null-extend once their window
    # closes (sentinels + second drain close every real window)
    sqls["stream_join_left_outer"] = f"""
      SELECT v.event_id AS view_id, c.event_id AS click_id, v.user_id,
             strftime(v.ts::TIMESTAMP, '{TS_FMT_DUCK}') AS view_ts,
             strftime(c.ts::TIMESTAMP, '{TS_FMT_DUCK}') AS click_ts,
             date_diff('second', v.ts::TIMESTAMP, c.ts::TIMESTAMP) AS delay_s
      FROM (SELECT * FROM events WHERE event_type = 'view') v
      LEFT JOIN (SELECT * FROM events WHERE event_type = 'click') c
        ON v.user_id = c.user_id
       AND c.ts::TIMESTAMP >= v.ts::TIMESTAMP
       AND c.ts::TIMESTAMP < v.ts::TIMESTAMP + INTERVAL 6 HOUR
    """

    # equi-width histogram: identical floor-arithmetic bucket expression
    # (no width_bucket — DuckDB lacks it and the explicit form is portable)
    sqls["value_histogram"] = """
      WITH b AS (SELECT min(value) AS lo, max(value) AS hi FROM events),
      t AS (
        SELECT event_type,
               least(floor((value - b.lo) / ((b.hi - b.lo) / 20)), 19)::INT AS bucket,
               b.lo AS lo, (b.hi - b.lo) / 20 AS wd
        FROM events, b)
      SELECT event_type, bucket, count(*)::BIGINT AS n,
             round(min(lo) + bucket * min(wd), 6) AS bucket_lo
      FROM t GROUP BY event_type, bucket
    """

    # ---- approx-sketch tolerance gates: the oracle replays the EXACT side
    # and expects within_tol=1 — the estimate itself is engine-specific, its
    # accuracy contract is not (VERDICT r4 next-#7) -----------------------
    sqls["approx_distinct_users"] = """
      SELECT event_type,
             count(*)::BIGINT AS n_rows,
             count(DISTINCT user_id)::BIGINT AS exact_distinct,
             1::INT AS within_tol
      FROM events GROUP BY event_type ORDER BY event_type
    """

    sqls["approx_event_quantiles"] = """
      WITH qs AS (SELECT unnest([50, 90, 99]) AS q)
      SELECT event_type, q::INT AS q, count(*)::BIGINT AS n_rows,
             1::INT AS within_tol
      FROM events CROSS JOIN qs
      GROUP BY event_type, q
      ORDER BY event_type, q
    """

    # ---- time-series gap filling ----------------------------------------
    sqls["events_gapfill"] = f"""
      WITH bounds AS (
        SELECT date_trunc('hour', min(ts)) AS lo, date_trunc('hour', max(ts)) AS hi
        FROM events),
      grid AS (
        SELECT t.event_type, g.h
        FROM (SELECT DISTINCT event_type FROM events) t
        CROSS JOIN bounds b
        CROSS JOIN unnest(generate_series(b.lo, b.hi, INTERVAL 1 HOUR)) AS g(h)),
      counts AS (
        SELECT event_type, date_trunc('hour', ts) AS h, count(*) AS n
        FROM events GROUP BY 1, 2)
      SELECT g.event_type, strftime(g.h, '{TS_FMT_DUCK}') AS hour,
             coalesce(c.n, 0) AS n
      FROM grid g
      LEFT JOIN counts c ON c.event_type = g.event_type AND c.h = g.h
    """

    # ---- z-order clustering codes ---------------------------------------
    zbits = " + ".join(
        f"(((a >> {i}) & 1) << {2 * i}) + (((b >> {i}) & 1) << {2 * i + 1})"
        for i in range(8)
    )
    sqls["zorder_values"] = f"""
      WITH base AS (
        SELECT event_id,
               (user_id % 256)::BIGINT AS a,
               (floor(value * 10))::BIGINT % 256 AS b
        FROM events)
      SELECT event_id, a, b, ({zbits})::BIGINT AS z FROM base
    """

    # ---- pivot / running windows / JSON extraction ----------------------
    pivot_types = ["click", "view", "error", "purchase", "login"]
    pivot_cols = ",\n             ".join(
        f"count(*) FILTER (event_type = '{t}') AS n_{t}" for t in pivot_types
    )
    sqls["events_pivot"] = f"""
      SELECT user_id,
             {pivot_cols}
      FROM events GROUP BY user_id
    """

    sqls["user_running_stats"] = f"""
      SELECT event_id, user_id,
             strftime(ts, '{TS_FMT_DUCK}') AS ts,
             round(lag(value, 1) OVER w, 6) AS prev_value,
             round(sum(value) OVER (w ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 6) AS running_total,
             round(avg(value) OVER (w ROWS BETWEEN 4 PRECEDING AND CURRENT ROW), 6) AS moving_avg_5
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    """

    sqls["events_json_extract"] = """
      SELECT event_type, count(*) AS n,
             (sum(json_extract(props, '$.k')::BIGINT))::BIGINT AS k_sum,
             min(json_extract(props, '$.k')::BIGINT) AS k_min,
             max(json_extract(props, '$.k')::BIGINT) AS k_max
      FROM events GROUP BY event_type
    """

    # ---- TPC-H-shaped multi-table joins ---------------------------------
    sqls["shipping_priority"] = f"""
      SELECT l_orderkey,
             strftime(o_orderdate, '{TS_FMT_DUCK}') AS o_orderdate,
             round((sum(l_extendedprice::DECIMAL(18,4)
                        * (1 - l_discount::DECIMAL(18,4))))::DOUBLE, 2) AS revenue
      FROM lineitem
      JOIN orders ON l_orderkey = o_orderkey
      JOIN customer ON o_custkey = c_custkey
      WHERE c_mktsegment = 'BUILDING'
        AND o_orderdate < TIMESTAMP '1995-03-15'
        AND l_shipdate > TIMESTAMP '1995-03-15'
      GROUP BY l_orderkey, o_orderdate
      ORDER BY revenue DESC, o_orderdate ASC, l_orderkey ASC
      LIMIT 10
    """

    sqls["region_revenue"] = """
      SELECT n_name,
             round((sum(l_extendedprice::DECIMAL(18,4)
                        * (1 - l_discount::DECIMAL(18,4))))::DOUBLE, 2) AS revenue
      FROM lineitem
      JOIN orders ON l_orderkey = o_orderkey
      JOIN supplier ON l_suppkey = s_suppkey
      JOIN customer ON o_custkey = c_custkey
      JOIN nation ON s_nationkey = n_nationkey
      JOIN region ON n_regionkey = r_regionkey
      WHERE r_name = 'ASIA'
        AND c_nationkey = s_nationkey
        AND o_orderdate >= TIMESTAMP '1996-01-01'
        AND o_orderdate < TIMESTAMP '1997-01-01'
      GROUP BY n_name
    """

    sqls["late_orders_exists"] = """
      SELECT o_orderpriority, count(*) AS order_count
      FROM orders o
      WHERE EXISTS (
        SELECT 1 FROM lineitem l
        WHERE l.l_orderkey = o.o_orderkey
          AND l.l_shipdate > o.o_orderdate + INTERVAL 90 DAY)
      GROUP BY o_orderpriority
    """

    # ---- exact quantiles ------------------------------------------------
    sqls["event_quantiles"] = """
      SELECT event_type, count(*) AS n,
             round(quantile_cont(value, 0.5), 6) AS p50,
             round(quantile_cont(value, 0.9), 6) AS p90,
             round(quantile_cont(value, 0.99), 6) AS p99
      FROM events GROUP BY event_type
    """

    # ---- as-of join vs DuckDB's native ASOF JOIN (operators/asof) ------
    sqls["asof_last_error"] = f"""
      WITH errors AS (
        SELECT user_id, ts, max(event_id) AS error_id
        FROM events WHERE event_type = 'error'
        GROUP BY user_id, ts)
      SELECT l.event_id, l.user_id,
             strftime(l.ts, '{TS_FMT_DUCK}') AS ts,
             r.error_id AS error_id_asof,
             strftime(r.ts, '{TS_FMT_DUCK}') AS error_ts_asof
      FROM events l ASOF LEFT JOIN errors r
        ON l.user_id = r.user_id AND l.ts >= r.ts
    """

    # ---- skew-proof salted aggregation (operators/skew) ----------------
    sqls["salted_counts"] = """
      SELECT user_id, count(*) AS n FROM events GROUP BY user_id
    """

    # ---- within-doc repetition (Gopher rules, operators/textops) -------
    sqls["repetition_stats"] = f"""
      WITH toks AS (SELECT doc_id, {_WORDS} AS words FROM documents),
      grams AS (
        SELECT doc_id,
               CASE WHEN len(words) >= 2
                 THEN list_transform(range(1, len(words)), i -> words[i] || ' ' || words[i+1])
                 ELSE [] END AS g2,
               CASE WHEN len(words) >= 3
                 THEN list_transform(range(1, len(words) - 1), i -> words[i] || ' ' || words[i+1] || ' ' || words[i+2])
                 ELSE [] END AS g3
        FROM toks),
      top2 AS (
        SELECT doc_id, max(c) AS topc FROM (
          SELECT doc_id, g, count(*) AS c
          FROM (SELECT doc_id, unnest(g2) AS g FROM grams)
          GROUP BY doc_id, g)
        GROUP BY doc_id)
      SELECT d.doc_id,
             len(d.g2)::BIGINT AS n_bigrams,
             round(CASE WHEN len(d.g2) > 0
               THEN 1 - len(list_distinct(d.g2)) / len(d.g2) ELSE 0.0 END, 6) AS dup_2gram_frac,
             round(CASE WHEN len(d.g3) > 0
               THEN 1 - len(list_distinct(d.g3)) / len(d.g3) ELSE 0.0 END, 6) AS dup_3gram_frac,
             round(CASE WHEN len(d.g2) > 0
               THEN coalesce(t.topc, 0) / len(d.g2) ELSE 0.0 END, 6) AS top_bigram_frac
      FROM grams d LEFT JOIN top2 t USING (doc_id)
    """

    # ---- decontamination + PII redaction (operators/decontam) ----------
    gram8 = " || ' ' || ".join(f"words[i+{j}]" if j else "words[i]" for j in range(8))
    sqls["decontam_report"] = f"""
      WITH toks AS (SELECT doc_id, {_WORDS} AS words FROM documents),
      grams AS (
        SELECT doc_id, unnest(list_distinct(CASE WHEN len(words) >= 8
          THEN list_transform(range(1, len(words) - 6), i -> {gram8})
          ELSE [] END)) AS gram
        FROM toks),
      bench AS (
        SELECT doc_id FROM documents
        WHERE ({_ph('doc_id::VARCHAR', 42)}) % 1000000 < 20000),
      bench_grams AS (
        SELECT DISTINCT gram FROM grams JOIN bench USING (doc_id)),
      agg AS (
        SELECT g.doc_id,
               (sum(CASE WHEN b.gram IS NOT NULL THEN 1 ELSE 0 END))::BIGINT AS hit_grams,
               count(*) AS total_grams
        FROM grams g LEFT JOIN bench_grams b ON b.gram = g.gram
        GROUP BY g.doc_id)
      SELECT doc_id, hit_grams, total_grams,
             round(hit_grams / total_grams, 6) AS contamination
      FROM agg WHERE hit_grams > 0
    """

    pii_email = "[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+\\.[a-zA-Z]{2,}"
    pii_ipv4 = "([0-9]{1,3}\\.){3}[0-9]{1,3}"
    pii_digits = "[0-9]{7,}"
    sqls["pii_redaction"] = f"""
      WITH withpii AS (
        SELECT doc_id,
               text || ' contact doc' || doc_id::VARCHAR || '@example.com from 10.0.'
                    || (doc_id % 256)::VARCHAR || '.7 ref 1234567890' AS text
        FROM documents)
      SELECT doc_id,
             regexp_replace(
               regexp_replace(
                 regexp_replace(text, '{pii_email}', '<EMAIL>', 'g'),
                 '{pii_ipv4}', '<IP>', 'g'),
               '{pii_digits}', '<NUM>', 'g') AS clean_text,
             len(regexp_extract_all(text, '{pii_email}'))::BIGINT AS n_email,
             len(regexp_extract_all(text, '{pii_ipv4}'))::BIGINT AS n_ipv4,
             len(regexp_extract_all(text, '{pii_digits}'))::BIGINT AS n_digits
      FROM withpii
    """

    # ---- deterministic sampling + token-budget mix (operators/sampling) -
    bucket7 = f"({_ph('doc_id::VARCHAR', 7)}) % 1000000"
    sqls["hash_sample"] = f"""
      SELECT doc_id, lang, source, {bucket7} AS bucket
      FROM documents
      WHERE {bucket7} < 250000
    """

    bucket3 = f"({_ph('doc_id::VARCHAR', 3)}) % 1000000"
    sqls["stratified_sample"] = f"""
      WITH ranked AS (
        SELECT doc_id, lang, source, n_chars,
               row_number() OVER (PARTITION BY lang, source
                 ORDER BY {bucket3} ASC, doc_id ASC) AS rk
        FROM documents)
      SELECT doc_id, lang, source, n_chars FROM ranked WHERE rk <= 10
    """

    # ES weighted reservoir: same hash-derived uniform, same 1e-6-rounded
    # sort key (rank must order by the value both engines agree on)
    bucket0 = f"({_ph('doc_id::VARCHAR', 0)}) % 1000000"
    sqls["weighted_sample"] = f"""
      WITH keyed AS (
        SELECT doc_id, lang, n_chars,
               round(ln(({bucket0} + 0.5) / 1000000) / n_chars, 6) AS es
        FROM documents WHERE n_chars > 0),
      ranked AS (
        SELECT doc_id, lang, n_chars,
               row_number() OVER (PARTITION BY lang ORDER BY es DESC, doc_id ASC) AS rk
        FROM keyed)
      SELECT doc_id, lang, n_chars FROM ranked WHERE rk <= 20
    """

    sqls["span_dedup"] = f"""
      WITH toks AS (SELECT doc_id, {_WORDS} AS w FROM documents),
      chunks AS (
        SELECT doc_id, u.pos AS pos, u.chunk AS chunk FROM (
          SELECT doc_id,
                 unnest(list_transform(range(0, cast(ceil(len(w) / 10.0) AS BIGINT)),
                        i -> {{'pos': i, 'chunk': array_to_string(w[(i*10+1):(i*10+10)], ' ')}})) AS u
          FROM toks) t),
      ranked AS (
        SELECT doc_id, pos, chunk,
               row_number() OVER (PARTITION BY md5(chunk) ORDER BY doc_id, pos) AS rn
        FROM chunks),
      kept AS (
        SELECT doc_id, count(*)::BIGINT AS n_kept,
               string_agg(chunk, ' ' ORDER BY pos) AS cleaned
        FROM ranked WHERE rn = 1 GROUP BY doc_id),
      -- anchored on documents so zero-chunk docs emit n_chunks = 0
      tot AS (
        SELECT d.doc_id, count(c.doc_id)::BIGINT AS n_chunks
        FROM documents d LEFT JOIN chunks c USING (doc_id) GROUP BY d.doc_id)
      SELECT t.doc_id, t.n_chunks,
             coalesce(k.n_kept, 0)::BIGINT AS n_kept,
             coalesce(k.cleaned, '') AS cleaned
      FROM tot t LEFT JOIN kept k USING (doc_id)
    """


    bucket5 = f"({_ph('doc_id::VARCHAR', 5)}) % 1000000"
    sqls["temperature_mix"] = f"""
      WITH counts AS (
        SELECT source, count(*)::BIGINT AS _n FROM documents GROUP BY source),
      wsum AS (SELECT sum(pow(_n::DOUBLE, 0.5)) AS _wsum FROM counts),
      rates AS (
        SELECT source,
               least(floor(round(300 * pow(_n::DOUBLE, 0.5) / _wsum / _n * 1000000, 6))::BIGINT,
                     1000000::BIGINT) AS _thresh
        FROM counts, wsum)
      SELECT doc_id, lang, d.source
      FROM documents d JOIN rates r ON d.source = r.source
      WHERE {bucket5} < r._thresh
    """

    ph0 = _ph("doc_id::VARCHAR", 0)
    sqls["shuffle_shards"] = f"""
      WITH h AS (SELECT doc_id, lang, {ph0} AS hh FROM documents)
      SELECT doc_id, lang, (hh % 8)::INT AS shard,
             (row_number() OVER (PARTITION BY hh % 8 ORDER BY hh // 8, doc_id))::BIGINT AS pos
      FROM h
    """

    sqls["token_budget_mix"] = f"""
      WITH toks AS (SELECT doc_id, lang, {_WORDS} AS words FROM documents),
      feats AS (
        SELECT doc_id, lang,
               len(words) AS n_tok,
               CASE WHEN len(words) > 0
                 THEN (list_sum(list_transform(words, t -> length(t))))::DOUBLE / len(words)
                 ELSE 0.0 END AS mean_len,
               CASE WHEN len(words) > 0
                 THEN len(list_filter(words, t -> list_contains({en_lex}, t))) / len(words)
                 ELSE 0.0 END AS sw_ratio
        FROM toks),
      scored AS (
        SELECT doc_id, lang, n_tok::BIGINT AS n_tokens,
               round(0.25 * least(n_tok / 100.0, 1.0)
                   + 0.25 * least(mean_len / 8.0, 1.0)
                   + 0.5 * sw_ratio, 6) AS quality
        FROM feats),
      packed AS (
        SELECT doc_id, lang, n_tokens, quality,
               sum(n_tokens) OVER (PARTITION BY lang
                 ORDER BY quality DESC, doc_id ASC
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_tokens
        FROM scored)
      SELECT doc_id, lang, n_tokens, quality, cum_tokens::BIGINT AS cum_tokens
      FROM packed WHERE cum_tokens - n_tokens < 3000
    """

    sqls["cluster_canonical"] = f"""
      WITH RECURSIVE {minhash_ctes("documents")},
      {components_ctes},
      assign AS (
        SELECT d.doc_id, coalesce(c.cluster_id, d.doc_id) AS cluster_id
        FROM documents d LEFT JOIN comp c ON c.id = d.doc_id),
      toksq AS (SELECT doc_id, {_WORDS} AS words FROM documents),
      featsq AS (
        SELECT doc_id,
               len(words) AS n_tok,
               CASE WHEN len(words) > 0
                 THEN (list_sum(list_transform(words, t -> length(t))))::DOUBLE / len(words)
                 ELSE 0.0 END AS mean_len,
               CASE WHEN len(words) > 0
                 THEN len(list_filter(words, t -> list_contains({en_lex}, t))) / len(words)
                 ELSE 0.0 END AS sw_ratio
        FROM toksq),
      scoredq AS (
        SELECT doc_id,
               round(0.25 * least(n_tok / 100.0, 1.0)
                   + 0.25 * least(mean_len / 8.0, 1.0)
                   + 0.5 * sw_ratio, 6) AS quality
        FROM featsq),
      sizedq AS (
        SELECT a.cluster_id, a.doc_id, s.quality,
               (count(*) OVER (PARTITION BY a.cluster_id))::BIGINT AS n_members,
               row_number() OVER (PARTITION BY a.cluster_id
                 ORDER BY s.quality DESC, a.doc_id ASC) AS rn
        FROM assign a JOIN scoredq s USING (doc_id))
      SELECT cluster_id, doc_id, quality, n_members FROM sizedq WHERE rn = 1
    """

    sqls["pack_sequences"] = f"""
      WITH toks AS (
        SELECT doc_id, len({_WORDS}) AS n FROM documents),
      pos AS (
        SELECT doc_id, n,
               ({_ph('doc_id::VARCHAR', 1)}) % 8 AS shard,
               sum(n) OVER (PARTITION BY ({_ph('doc_id::VARCHAR', 1)}) % 8
                 ORDER BY doc_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS e
        FROM toks WHERE n > 0),
      expl AS (
        SELECT doc_id, shard, n, e,
               unnest(range((floor((e - n) / 512))::BIGINT,
                            (floor((e - 1) / 512))::BIGINT + 1)) AS chunk
        FROM pos)
      SELECT doc_id, shard::INT AS shard, chunk::BIGINT AS chunk,
             greatest((e - n) - chunk * 512, 0)::BIGINT AS start_tok,
             least(e - chunk * 512, 512)::BIGINT AS end_tok
      FROM expl
    """

    sqls["profile_orders"] = """
      SELECT 'o_orderkey' AS column, count(*)::BIGINT AS n_rows,
             count(o_orderkey)::BIGINT AS n_nonnull, count(DISTINCT o_orderkey)::BIGINT AS n_distinct,
             min(o_orderkey)::VARCHAR AS min_v, max(o_orderkey)::VARCHAR AS max_v FROM orders
      UNION ALL
      SELECT 'o_custkey' AS column, count(*)::BIGINT AS n_rows,
             count(o_custkey)::BIGINT AS n_nonnull, count(DISTINCT o_custkey)::BIGINT AS n_distinct,
             min(o_custkey)::VARCHAR AS min_v, max(o_custkey)::VARCHAR AS max_v FROM orders
      UNION ALL
      SELECT 'o_orderstatus' AS column, count(*)::BIGINT AS n_rows,
             count(o_orderstatus)::BIGINT AS n_nonnull, count(DISTINCT o_orderstatus)::BIGINT AS n_distinct,
             min(o_orderstatus)::VARCHAR AS min_v, max(o_orderstatus)::VARCHAR AS max_v FROM orders
      UNION ALL
      SELECT 'o_orderdate' AS column, count(*)::BIGINT AS n_rows,
             count(o_orderdate)::BIGINT AS n_nonnull, count(DISTINCT o_orderdate)::BIGINT AS n_distinct,
             min(o_orderdate)::VARCHAR AS min_v, max(o_orderdate)::VARCHAR AS max_v FROM orders
      UNION ALL
      SELECT 'o_orderpriority' AS column, count(*)::BIGINT AS n_rows,
             count(o_orderpriority)::BIGINT AS n_nonnull, count(DISTINCT o_orderpriority)::BIGINT AS n_distinct,
             min(o_orderpriority)::VARCHAR AS min_v, max(o_orderpriority)::VARCHAR AS max_v FROM orders
    """

    sqls["tfidf_top_terms"] = f"""
      WITH tok AS (
        SELECT doc_id, unnest({_WORDS}) AS term FROM documents
      ), tf AS (
        SELECT doc_id, term, count(*)::BIGINT AS tf FROM tok GROUP BY doc_id, term
      ), nd AS (
        SELECT count(*)::BIGINT AS n_docs FROM documents
      ), dfreq AS (
        SELECT term, count(*)::BIGINT AS df FROM tf GROUP BY term
      ), scored AS (
        SELECT tf.doc_id, tf.term, tf.tf, dfreq.df,
               round(tf.tf * (ln(CAST(nd.n_docs + 1 AS DOUBLE) / CAST(dfreq.df + 1 AS DOUBLE)) + 1), 6) AS tfidf
        FROM tf JOIN dfreq USING (term) CROSS JOIN nd
      )
      SELECT doc_id, term, tf, df, tfidf, rank FROM (
        SELECT *, row_number() OVER (PARTITION BY doc_id ORDER BY tfidf DESC, term ASC)::INT AS rank
        FROM scored
      ) WHERE rank <= 5
    """

    sqls["token_stats"] = f"""
      SELECT doc_id,
             len({_WORDS})::BIGINT AS ws_tokens,
             len(regexp_extract_all(lower(text), '[a-z]+|[0-9]+|[^a-z0-9\\s]'))::BIGINT AS regex_tokens,
             len(list_distinct({_WORDS}))::BIGINT AS distinct_tokens
      FROM documents
    """

    code = f"{_ph('w', 0)} % 268435456"
    sqls["doc_fingerprints"] = f"""
      WITH toks AS (SELECT doc_id, text, {_WORDS} AS words FROM documents)
      SELECT doc_id,
             list_reduce(list_prepend(0::BIGINT, list_transform(words, w -> {code})),
                         (a, b) -> (a * 131 + b) % 1000000007) AS rolling_fp,
             md5(substr(regexp_replace(lower(text), '\\s+', ' ', 'g'), 1, 64)) AS char_fp
      FROM toks
    """

    sqls["multimodal_features"] = """
      SELECT doc_id,
             'application/octet-stream' AS mime,
             octet_length(encode(text))::BIGINT AS byte_len,
             lower(hex(encode(substr(text, 1, 4)))) AS magic_hex,
             ((octet_length(encode(text)) % 640) + 1)::INT AS width,
             (((octet_length(encode(text)) * 7) % 480) + 1)::INT AS height
      FROM documents
    """

    # the declared PathIndexModel capability surface as literals — the oracle
    # for the reflection step of S7 (PathIndexModel.cs:12-25)
    sqls["index_ddl"] = """
      SELECT * FROM (VALUES
        ('key',              'string',    true,  false, true,  true,  false, NULL),
        ('pathUrlEncoded',   'string',    false, true,  true,  false, false, 'keyword_v2+lowercase'),
        ('filesystem',       'string',    false, false, true,  false, false, NULL),
        ('fileLastModified', 'timestamp', false, false, true,  true,  false, NULL),
        ('lastModified',     'timestamp', false, false, true,  true,  false, NULL)
      ) t(field, type, is_key, searchable, filterable, sortable, facetable, analyzer)
    """

    sqls["stream_upsert_events"] = f"""
      WITH blob_events AS ({_EVENTS_SQL}),
      rows AS ({_EVENT_ROWS_SQL})
      SELECT {_FMT_COLS} FROM rows
      QUALIFY row_number() OVER (PARTITION BY key ORDER BY fileLastModified DESC, _seq DESC) = 1
    """

    # ---- §3.1 end-to-end indexer: the full lake derivation replayed ------
    # (matches sources.fixtures.build_document_lake; the Spark side reads the
    # ACTUAL files it wrote — the oracle derives the same relation directly)
    sqls["indexer_run"] = f"""
      WITH lake AS ({_DOC_LAKE_SQL}),
      batch AS (
        SELECT to_base64(encode(filesystem || '%2f' || replace(path, '/', '%2f'))) AS pathbase64,
               stringvalue, numbervalue, booleanvalue,
               md5(path) AS eTag,
               replace(path, '/', '%2f') AS pathUrlEncoded,
               file_lm AS lastModified
        FROM lake
        WHERE file_lm >= TIMESTAMP '{W}' AND filesystem = 'stuff-large' AND parsed_ok),
      existing AS (
        SELECT to_base64(encode(filesystem || '%2f' || replace(path, '/', '%2f'))) AS pathbase64,
               'old-' || doc_id::VARCHAR AS stringvalue,
               -1 AS numbervalue, FALSE AS booleanvalue,
               'old' AS eTag,
               replace(path, '/', '%2f') AS pathUrlEncoded,
               TIMESTAMP '1995-01-01 00:00:00' AS lastModified
        FROM lake WHERE doc_id % 3 = 0),
      merged AS (
        SELECT * FROM existing WHERE pathbase64 NOT IN (SELECT pathbase64 FROM batch)
        UNION ALL SELECT * FROM batch)
      SELECT pathbase64, stringvalue, numbervalue::INT AS numbervalue, booleanvalue,
             eTag, pathUrlEncoded,
             strftime(lastModified, '{TS_FMT_DUCK}') AS lastModified
      FROM merged
    """

    sqls["stream_deleted_index"] = f"""
      WITH blob_events AS ({_EVENTS_SQL}),
      rows AS ({_event_rows_sql("Microsoft.Storage.BlobDeleted")})
      SELECT {_FMT_COLS} FROM rows
      QUALIFY row_number() OVER (PARTITION BY key ORDER BY fileLastModified DESC, _seq DESC) = 1
    """

    # T5: the five prefix partitions are disjoint, so the sequential merge
    # loop equals one merge of the union of all five batches
    _prefix_pred = " OR ".join(
        f"starts_with(lower(pathUrlEncoded), 'partition_{i}')" for i in range(1, 6)
    )
    sqls["partitioned_runs"] = f"""
      WITH path_index AS ({_pi_sql()}),
      existing AS ({_pi_sql("o_orderkey % 3 = 0")}),
      batch AS (
        SELECT * FROM path_index
        WHERE lastModified >= TIMESTAMP '{W}' AND ({_prefix_pred})),
      merged AS (
        SELECT * FROM existing WHERE key NOT IN (SELECT key FROM batch)
        UNION ALL SELECT * FROM batch)
      SELECT {_FMT_COLS} FROM merged
    """

    sqls["partitioned_counts"] = f"""
      WITH path_index AS ({_pi_sql()}),
      p AS (SELECT 'partition_' || i::VARCHAR AS prefix FROM range(1, 6) t(i))
      SELECT prefix,
             (SELECT count(*) FROM path_index
              WHERE lastModified >= TIMESTAMP '{W}'
                AND starts_with(lower(pathUrlEncoded), prefix)) AS n
      FROM p
    """

    sqls["listing_to_path_rows"] = f"""
      WITH listing AS ({_LISTING_SQL})
      SELECT to_base64(encode('stuff-large' || '%2f' || replace(name, '/', '%2f'))) AS key,
             replace(name, '/', '%2f') AS pathUrlEncoded,
             'stuff-large' AS filesystem,
             strftime(lastModified, '{TS_FMT_DUCK}') AS fileLastModified,
             strftime(TIMESTAMP '{W}', '{TS_FMT_DUCK}') AS lastModified
      FROM listing WHERE NOT isDirectory
    """

    # C# '{{ts:o}}' = 7 fractional digits + offset; DuckDB %f is 6-digit
    # microseconds, so append the always-zero 7th digit and the UTC 'Z'
    sqls["iso_ts"] = """
      SELECT event_id,
             strftime(ts::TIMESTAMP, '%Y-%m-%dT%H:%M:%S.%f') || '0Z' AS iso
      FROM events
    """

    # the reference reads only the listed paths (DataLakeIndexer.cs:55-130,
    # SURVEY §3.1), so the read counters run over `paths`, not the lake
    sqls["indexer_run_metrics"] = f"""
      WITH lake AS ({_DOC_LAKE_SQL}),
      paths AS (
        SELECT * FROM lake
        WHERE file_lm >= TIMESTAMP '{W}' AND filesystem = 'stuff-large'),
      batch AS (SELECT * FROM paths WHERE parsed_ok)
      SELECT (SELECT count(*) FROM paths) AS pathsCount,
             (SELECT count(*) FROM paths) AS documentReadCount,
             (SELECT count(*) FILTER (WHERE NOT parsed_ok) FROM paths) AS documentReadFailedCount,
             (SELECT count(*) FILTER (WHERE parsed_ok) FROM paths) AS processedCount,
             (SELECT count(*) FILTER (WHERE doc_id % 3 != 0) FROM batch) AS createdCount,
             (SELECT count(*) FILTER (WHERE doc_id % 3 = 0) FROM batch) AS modifiedCount,
             0::BIGINT AS failedTooLargeCount
    """

    return sqls

