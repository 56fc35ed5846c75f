"""Adapters from the driver's TPC-H-ish fixture tables onto the reference's
logical tables (SURVEY §1, FIXTURES.md §5).

The reference's tables (path index, lake listing, blob events, deleted paths)
don't exist as parquet fixtures, so they are DERIVED deterministically from
``orders`` / ``events`` with pure column expressions.  Every derivation here
has a matching DuckDB CTE in ``__spark_entry__.oracle_sql`` — keep the two in
sync (tools/check_correctness.py replays every query against DuckDB).

Path shapes mirror the reference's synthetic corpus generator
(``partition_{i}/customer_{j}/document_{k}.json``, reference
SearchIndexerTest/DataLakeWriter.cs:13-21); filesystems mirror the two
containers used by the console harness (reference SearchIndexerTest/
Program.cs and foo.bicep storage layout).
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

from azuredatalakeindexer_spark.functions.keys import (
    path_interpolate,
    path_key,
    url_encode_path,
)

#: incremental watermark literal used by the deterministic test queries —
#: mid-range of the orders.o_orderdate span (1995-01-01 .. 2001-08-01) so the
#: P6 predicate selects a strict subset (FIXTURES.md §1).
WATERMARK = "1998-07-01 00:00:00"

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Read one driver fixture table (TESTDATA.md).

    The fixtures store timezone-naive timestamps, which different generator
    versions have written as TIMESTAMP(NANOS) (read as int64 under
    ``spark.sql.legacy.parquet.nanosAsLong``) or TIMESTAMP(MICROS) with
    ``isAdjustedToUTC=false`` (read as TIMESTAMP_NTZ).  Both are normalized
    here to the session-default TIMESTAMP (LTZ): streaming watermarks reject
    NTZ event-time columns, and under the UTC session timezone the LTZ values
    render identically to the naive fixtures (and to DuckDB's
    ``ts::TIMESTAMP`` oracle reads).

    SIDE EFFECT: sets ``spark.sql.legacy.parquet.nanosAsLong`` and pins
    ``spark.sql.session.timeZone=UTC`` on the session (required for every
    later fixture-derived comparison, so it is asserted on each load rather
    than scoped).  Fixture schemas are flat; a nested timestamp field would
    need a recursive walk, which :func:`_assert_flat` guards instead.
    """
    # tolerate sessions built without the factory (e.g. the driver's):
    # nanos-typed parquet needs the legacy read path, and the normalizations
    # below produce LTZ timestamps whose rendering must be UTC to agree with
    # the timezone-naive fixtures (and the oracle)
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    df = spark.read.parquet(f"{sf_dir}/{name}.parquet")
    _assert_flat(name, df)
    for fname, ftype in df.dtypes:
        if ftype == "bigint" and _NANOS_TS.get((name, fname)):
            # a nanos-typed parquet timestamp surfaced as int64 under
            # nanosAsLong.  Integer DIV, not `/`: double division of ~1.7e18
            # ns loses the last microsecond (53-bit mantissa), diverging
            # from DuckDB's ts::TIMESTAMP
            df = df.withColumn(fname, F.timestamp_micros(F.expr(f"{fname} DIV 1000")))
        elif ftype == "timestamp_ntz":
            df = df.withColumn(fname, F.col(fname).cast("timestamp"))
        elif ftype == "bigint" and fname in _TS_NAMES:
            raise ValueError(
                f"fixture {name}.{fname} is bigint but looks like a timestamp "
                "column with no registered conversion — identify how the "
                "generator encoded it FIRST (epoch nanos? micros? days, as a "
                "date column like o_orderdate would be?) and extend _NANOS_TS "
                "only if it is genuinely nanos; other encodings need their "
                "own branch, not the ns→µs division"
            )
    return df


#: known nanos-written timestamp columns per fixture table (generator-version
#: dependent); any OTHER bigint column with a timestamp-like name fails fast
#: in load_table instead of silently loading as int64
_NANOS_TS = {("events", "ts"): True}

#: column names that denote event time in the fixtures
_TS_NAMES = {"ts", "lastModified", "fileLastModified", "o_orderdate", "l_shipdate"}


def _assert_flat(name: str, df: DataFrame) -> None:
    """Fixture schemas are flat (TESTDATA.md); the NTZ/nanos normalization
    above inspects only top-level dtypes, so fail loudly if that assumption
    ever breaks rather than passing a nested NTZ through unconverted."""
    for f in df.schema.fields:
        if f.dataType.typeName() in ("struct", "array", "map"):
            # numeric vectors (embeddings.embedding) are the one sanctioned
            # nested shape — no timestamp can hide inside them
            if f.dataType.typeName() == "array" and f.dataType.elementType.typeName() in (
                "float",
                "double",
            ):
                continue
            raise ValueError(
                f"fixture {name}.{f.name} is nested ({f.dataType.simpleString()}); "
                "extend load_table's timestamp normalization recursively before using it"
            )


def build_path_index(orders: DataFrame) -> DataFrame:
    """Derive the path-index table (PathIndexModel, reference
    PathIndexModel.cs:9-26) from ``orders``.

    One lake file per order; ``lastModified`` (the incremental watermark
    column, PathIndexModel.cs:24-25) is the order date so watermark filters
    select deterministic slices of the lake.
    """
    # NB: no ensure_parallelism here — the key derivation is ~µs/row, and a
    # repartition shuffle costs more than single-split evaluation (measured)
    path = path_interpolate(
        F.col("o_orderkey") % 10, F.col("o_custkey"), F.col("o_orderkey")
    )
    fs = F.when(F.col("o_orderkey") % 2 == 0, F.lit("stuff-large")).otherwise(
        F.lit("stuff-archive")
    )
    enc = url_encode_path(path)
    return orders.select(
        path_key(fs, enc).alias("key"),
        enc.alias("pathUrlEncoded"),
        fs.alias("filesystem"),
        F.col("o_orderdate").alias("fileLastModified"),
        F.col("o_orderdate").alias("lastModified"),
    )


def build_listing(orders: DataFrame) -> DataFrame:
    """Derive a recursive lake listing (PathItem rows: name, isDirectory,
    lastModified — reference DataLakePathClientExtension.cs:47-58) from
    ``orders``: every file plus its two ancestor directories."""
    file_name = path_interpolate(
        F.col("o_orderkey") % 10, F.col("o_custkey"), F.col("o_orderkey")
    )
    files = orders.select(
        file_name.alias("name"),
        F.lit(False).alias("isDirectory"),
        F.col("o_orderdate").alias("lastModified"),
    )
    customer_dirs = (
        orders.select(
            F.format_string(
                "partition_%s/customer_%s",
                (F.col("o_orderkey") % 10).cast("string"),
                F.col("o_custkey").cast("string"),
            ).alias("name")
        )
        .distinct()
        .select("name", F.lit(True).alias("isDirectory"), F.lit(WATERMARK).cast("timestamp").alias("lastModified"))
    )
    partition_dirs = (
        orders.select(
            F.format_string(
                "partition_%s", (F.col("o_orderkey") % 10).cast("string")
            ).alias("name")
        )
        .distinct()
        .select("name", F.lit(True).alias("isDirectory"), F.lit(WATERMARK).cast("timestamp").alias("lastModified"))
    )
    return files.unionByName(customer_dirs).unionByName(partition_dirs)


def build_blob_events(events: DataFrame) -> DataFrame:
    """Derive a blob-event batch (BlobEvent, reference BlobEventModel.cs:5-102)
    from ``events``.

    ``document_{event_id % 50}`` deliberately collides paths so one batch
    carries multiple events per blob — exercising the last-writer-wins dedup
    window (SURVEY §2.5) exactly like Service Bus redelivery does for the
    reference (PathIndexerFunc.cs:23-35).  ``error`` events become
    BlobDeleted; everything else BlobCreated (foo.bicep:184-206 wires the two
    event types to two queues).
    """
    fs = F.when(F.col("user_id") % 2 == 0, F.lit("stuff-large")).otherwise(
        F.lit("stuff-archive")
    )
    path = path_interpolate(
        F.col("user_id") % 10, F.col("user_id"), F.col("event_id") % 50
    )
    url = F.concat_ws(
        "/", F.lit("https:"), F.lit(""), F.lit("acct.dfs.core.windows.net"), fs, path
    )
    return events.select(
        F.col("event_id"),
        F.when(F.col("event_type") == "error", F.lit("Microsoft.Storage.BlobDeleted"))
        .otherwise(F.lit("Microsoft.Storage.BlobCreated"))
        .alias("eventType"),
        F.col("ts").alias("eventTime"),
        url.alias("url"),
        F.md5(F.col("event_id").cast("string")).alias("eTag"),
        # round before the int cast: double*1000 can land at 9639.9999…,
        # and cast() truncation would then diverge between engines
        F.round(F.col("value") * 1000, 0).cast("bigint").alias("contentLength"),
    )


def build_document_lake(docs: DataFrame) -> DataFrame:
    """Derive the deterministic JSON lake from ``documents``: one file per
    doc, with every 37th payload malformed to exercise S4's per-row fault
    isolation (reference IndexMapper.cs:15-28 maps a parse miss to null).

    Returns ``(doc_id, path, filesystem, file_lm, parsed_ok, payload,
    stringvalue, numbervalue, booleanvalue)``; ``payload`` is the exact file
    body :func:`azuredatalakeindexer_spark.sources.synthetic.write_document_lake`
    writes.  ``file_lm`` straddles :data:`WATERMARK` (±50 days by
    ``doc_id % 100``) so P6 selects a strict subset.
    """
    path = path_interpolate(
        F.col("doc_id") % 10, F.col("doc_id") % 100, F.col("doc_id")
    )
    fs = F.when(F.col("doc_id") % 2 == 0, F.lit("stuff-large")).otherwise(
        F.lit("stuff-archive")
    )
    file_lm = F.lit(WATERMARK).cast("timestamp") + F.expr(
        "make_interval(0, 0, 0, cast(doc_id % 100 as int) - 50, 0, 0, 0)"
    )
    stringvalue = F.col("text")
    numbervalue = F.col("n_chars").cast("int")
    booleanvalue = F.col("doc_id") % 2 == 0
    good = F.to_json(
        F.struct(
            stringvalue.alias("stringvalue"),
            numbervalue.alias("numbervalue"),
            booleanvalue.alias("booleanvalue"),
        )
    )
    parsed_ok = F.col("doc_id") % 37 != 0
    return docs.select(
        "doc_id",
        path.alias("path"),
        fs.alias("filesystem"),
        file_lm.alias("file_lm"),
        parsed_ok.alias("parsed_ok"),
        F.when(parsed_ok, good).otherwise(F.lit('{"stringvalue": "truncated')).alias("payload"),
        stringvalue.alias("stringvalue"),
        numbervalue.alias("numbervalue"),
        booleanvalue.alias("booleanvalue"),
    )


def document_lake_path_index(lake: DataFrame) -> DataFrame:
    """Path-index rows (PathIndexModel) for a :func:`build_document_lake`
    frame — the catalog the §3.1 indexer queries before reading files."""
    enc = url_encode_path(F.col("path"))
    return lake.select(
        path_key(F.col("filesystem"), enc).alias("key"),
        enc.alias("pathUrlEncoded"),
        F.col("filesystem"),
        F.col("file_lm").alias("fileLastModified"),
        F.col("file_lm").alias("lastModified"),
    )


def build_existing_data_index(lake: DataFrame) -> DataFrame:
    """A pre-existing data index (SomeOtherIndexModel shape) covering every
    3rd document with stale values — so the indexer's MERGE both updates
    (J3: 200) and inserts (201)."""
    enc = url_encode_path(F.col("path"))
    return lake.where(F.col("doc_id") % 3 == 0).select(
        path_key(F.col("filesystem"), enc).alias("pathbase64"),
        F.concat(F.lit("old-"), F.col("doc_id").cast("string")).alias("stringvalue"),
        F.lit(-1).cast("int").alias("numbervalue"),
        F.lit(False).alias("booleanvalue"),
        F.lit("old").alias("eTag"),
        enc.alias("pathUrlEncoded"),
        F.lit("1995-01-01 00:00:00").cast("timestamp").alias("lastModified"),
    )


def build_deleted_paths(orders: DataFrame) -> DataFrame:
    """Derive the deleted-paths index (reference Program.cs:65, intended
    anti-join semantics per SURVEY §2.3 J2): every 7th order's file."""
    return build_path_index(orders.where(F.col("o_orderkey") % 7 == 0))
