"""tiny_df (functions/localrel.py) — the one-partition Arrow-batch route
for driver-sized metadata relations — and the `_seg_union` pruning edges.

Why these exist: a python-list ``createDataFrame`` + ``coalesce(1).write``
pays one Python-worker handshake per default-parallelism slice (~6 s for a
ONE-ROW frame at local[32] — measured, the bulk of the r10 build-cost
regression).  tiny_df must therefore be a DROP-IN: same rows, same schema,
same null semantics, one partition.
"""

from __future__ import annotations

import pyspark.sql.functions as F

from azuredatalakeindexer_spark.functions.localrel import tiny_df


def test_tiny_df_matches_classic_createdataframe(spark):
    schema = "n_docs bigint, avgdl double, sum_dl bigint, n_buckets int"
    rows = [(2, 1.5, 3, 64), (0, None, 0, 64)]
    a = tiny_df(spark, rows, schema)
    b = spark.createDataFrame(rows, schema)
    assert a.schema == b.schema
    assert sorted(map(tuple, a.collect())) == sorted(map(tuple, b.collect()))
    # the perf property: Arrow slices, never a defaultParallelism
    # python-list parallelize (32 slices at local[32] — the ~6 s/write tax)
    assert a.rdd.getNumPartitions() <= len(rows)
    assert tiny_df(spark, rows[:1], schema).rdd.getNumPartitions() == 1


def test_tiny_df_accepts_dict_rows_and_arrays(spark):
    out = tiny_df(
        spark,
        [{"cid": 0, "cvec": [1.0, 2.0]}, {"cid": 1, "cvec": None}],
        "cid int, cvec array<double>",
    )
    got = {r["cid"]: r["cvec"] for r in out.collect()}
    assert got == {0: [1.0, 2.0], 1: None}
    assert out.schema.simpleString() == "struct<cid:int,cvec:array<double>>"


def test_tiny_df_empty_rows(spark):
    out = tiny_df(spark, [], "a int, b string")
    assert out.count() == 0
    assert out.schema.simpleString() == "struct<a:int,b:string>"


def test_tiny_df_survives_roundtrip_write(spark, tmp_path):
    p = str(tmp_path / "meta")
    tiny_df(spark, [(64, "x", None)], "n int, s string, t string").write.parquet(p)
    row = spark.read.parquet(p).first()
    assert (row["n"], row["s"], row["t"]) == (64, "x", None)


def test_read_meta_parquet_roundtrip(spark, tmp_path):
    """read_meta_parquet (r15) must be a DROP-IN for
    ``spark.read.parquet(...).collect()`` on driver-sized relations: same
    rows for a write_meta_parquet dir AND an executor-written dir, and
    None (caller falls back to Spark) on anything it cannot serve."""
    from azuredatalakeindexer_spark.functions.localrel import (
        read_meta_parquet,
        write_meta_parquet,
    )

    p = str(tmp_path / "stats")
    write_meta_parquet(
        spark,
        [(200, 4.0, 800, 64)],
        "n_docs bigint, avgdl double, sum_dl bigint, n_buckets int",
        p,
    )
    assert read_meta_parquet(spark, p) == [
        {"n_docs": 200, "avgdl": 4.0, "sum_dl": 800, "n_buckets": 64}
    ]
    # executor-written (committer part files + _SUCCESS), incl. nulls
    q = str(tmp_path / "spark_written")
    spark.createDataFrame(
        [(1, None), (2, "x")], "k int, s string"
    ).coalesce(1).write.parquet(q)
    got = sorted(read_meta_parquet(spark, q), key=lambda r: r["k"])
    assert got == [{"k": 1, "s": None}, {"k": 2, "s": "x"}]
    # missing path -> None (fallback contract)
    assert read_meta_parquet(spark, str(tmp_path / "nope")) is None
    # partitioned layout -> None (not a meta relation)
    r = str(tmp_path / "parted")
    spark.range(4).withColumn("b", F.col("id") % 2).write.partitionBy(
        "b"
    ).parquet(r)
    assert read_meta_parquet(spark, r) is None


def test_read_meta_parquet_logs_a_decode_failure_before_falling_back(spark, tmp_path, caplog):
    """A file that is not parquet is a decode failure: the fast path
    returns None (the caller reads through Spark) and logs the exception
    class at debug level instead of swallowing it silently."""
    import logging

    from azuredatalakeindexer_spark.functions.localrel import read_meta_parquet

    bad = tmp_path / "garbled"
    bad.mkdir()
    (bad / "part-00000.parquet").write_bytes(b"not parquet at all")
    with caplog.at_level(logging.DEBUG, logger="azuredatalakeindexer_spark.functions.localrel"):
        assert read_meta_parquet(spark, str(bad)) is None
    [rec] = [r for r in caplog.records if "read_meta_parquet" in r.getMessage()]
    assert rec.levelno == logging.DEBUG
    assert "ArrowInvalid" in rec.getMessage()


def test_check_n_buckets_uses_driver_side_read(spark, tmp_path):
    """the stats n_buckets guard must not spend a Spark job (r15): pin
    behavior on a real stats relation — match passes, mismatch raises,
    pre-pin layouts (no n_buckets column) are accepted."""
    from azuredatalakeindexer_spark.functions.localrel import write_meta_parquet
    from azuredatalakeindexer_spark.sources.text_index import _check_n_buckets

    import pytest as _pytest

    p = str(tmp_path / "idx")
    write_meta_parquet(
        spark,
        [(10, 2.0, 20, 8)],
        "n_docs bigint, avgdl double, sum_dl bigint, n_buckets int",
        f"{p}/stats",
    )
    _check_n_buckets(spark, p, 8, "t")  # match: no raise
    with _pytest.raises(ValueError, match="n_buckets=8"):
        _check_n_buckets(spark, p, 16, "t")
    legacy = str(tmp_path / "legacy")
    write_meta_parquet(
        spark, [(10, 2.0)], "n_docs bigint, avgdl double", f"{legacy}/stats"
    )
    _check_n_buckets(spark, legacy, 999, "t")  # pre-pin: accepted


def test_seg_union_prune_edges(spark, tmp_path):
    """prune on a column that is NOT in the schema falls back to a full
    read; prune values matching no partition dir yield an empty frame with
    the right columns; missing relations are skipped silently."""
    from azuredatalakeindexer_spark.sources.text_segments import _seg_union

    root = str(tmp_path / "ti")
    df = spark.range(10).select(
        F.col("id").alias("doc_id"),
        (F.col("id") % 4).cast("int").alias("dbucket"),
        F.lit(1).alias("dl"),
    )
    df.write.partitionBy("dbucket").parquet(f"{root}/segments/seg=1/doclens")
    schema = "doc_id long, dl int, dbucket int"

    full = _seg_union(spark, root, [1], "doclens", schema)
    assert full.count() == 10
    assert set(r["seg"] for r in full.select("seg").distinct().collect()) == {1}

    pruned = _seg_union(
        spark, root, [1], "doclens", schema, prune={"dbucket": [2]}
    )
    rows = pruned.collect()
    assert {r["dbucket"] for r in rows} == {2}
    # only the wanted partition dir enters the file index
    assert all("/dbucket=2/" in f for f in pruned.inputFiles())

    none = _seg_union(
        spark, root, [1], "doclens", schema, prune={"dbucket": [99]}
    )
    assert none.count() == 0
    assert set(none.columns) == {"doc_id", "dl", "dbucket", "seg"}

    # prune key absent from the schema: ignored, full read
    ignored = _seg_union(
        spark, root, [1], "doclens", schema, prune={"bucket": [0]}
    )
    assert ignored.count() == 10

    # segment without the relation: skipped
    skipped = _seg_union(spark, root, [1, 7], "doclens", schema)
    assert skipped.count() == 10
