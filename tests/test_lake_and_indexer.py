"""End-to-end: a real JSON lake directory → listing (S1), content read (S3),
schema-on-read parse with fault isolation (S4), the J1 join, the mapper
(P1/P2), and the full §3.1 indexer plan with metrics (A1-A3)."""

from __future__ import annotations

import json
import os

import pyspark.sql.functions as F
import pytest

from azuredatalakeindexer_spark.operators.paths import ListPathsOptions
from azuredatalakeindexer_spark.plans.indexer import run_document_indexer
from azuredatalakeindexer_spark.schemas import TEST_INDEX_SCHEMA
from azuredatalakeindexer_spark.sources.lake import (
    list_lake_paths,
    read_json_documents,
)


def _write_lake(root) -> str:
    """A small synthetic lake mirroring DataLakeWriter.cs:13-27: JSON docs at
    partition_{i}/customer_{j}/document_{k}.json plus one malformed file."""
    n = 0
    for p in range(2):
        for c in range(3):
            for d in range(4):
                f = root / f"partition_{p}" / f"customer_{c}"
                f.mkdir(parents=True, exist_ok=True)
                payload = {"stringvalue": f"doc {p}-{c}-{d}", "numbervalue": n, "booleanvalue": n % 2 == 0}
                (f / f"document_{d}.json").write_text(json.dumps(payload))
                n += 1
    (root / "partition_0" / "broken.json").write_text("{not valid json")
    return str(root)


@pytest.fixture(scope="module")
def lake(tmp_path_factory):
    return _write_lake(tmp_path_factory.mktemp("lake"))


def _path_index(spark, lake):
    """The path index a full listing of ``lake`` gives (P4/P5)."""
    from azuredatalakeindexer_spark.operators.mapper import listing_to_path_rows

    paths = list_lake_paths(spark, lake, glob="*.json")
    return listing_to_path_rows(
        paths.select(
            F.col("path").alias("name"),
            F.col("isDirectory"),
            F.col("fileLastModified").alias("lastModified"),
        ),
        now=F.lit("2024-06-01").cast("timestamp"),
    )


_EMPTY_INDEX = "pathbase64 string, stringvalue string, numbervalue int, booleanvalue boolean, eTag string, pathUrlEncoded string, lastModified timestamp"


def test_list_lake_paths(spark, lake):
    paths = list_lake_paths(spark, lake, glob="*.json")
    rows = paths.collect()
    assert len(rows) == 25  # 24 docs + 1 broken
    sample = {r["path"] for r in rows}
    assert "partition_0/customer_0/document_0.json" in sample
    enc = {r["pathUrlEncoded"] for r in rows}
    assert "partition_0%2fcustomer_0%2fdocument_0.json" in enc


def test_read_json_documents_fault_isolation(spark, lake):
    docs = read_json_documents(spark, lake, TEST_INDEX_SCHEMA)
    # NB: Spark refuses scans whose only referenced column (after pruning) is
    # the corrupt-record column, so collect the full rows and split in Python
    rows = docs.select("path", "stringvalue", "_corrupt_record").collect()
    ok = [r for r in rows if r["_corrupt_record"] is None]
    bad = [r for r in rows if r["_corrupt_record"] is not None]
    assert len(ok) == 24
    assert len(bad) == 1  # per-row isolation, run does not abort (A2)
    assert bad[0]["path"] == "partition_0/broken.json"


def test_metadata_listing_does_not_read_content(spark, lake):
    paths = list_lake_paths(spark, lake)
    plan = paths._jdf.queryExecution().executedPlan().toString()
    assert "content" not in plan.lower().split("readschema")[-1][:200]


def _assert_full_run(spark, lake):
    path_index = _path_index(spark, lake)
    existing = spark.createDataFrame([], _EMPTY_INDEX)
    res = run_document_indexer(
        spark,
        path_index,
        lake,
        existing,
        ListPathsOptions(),
    )
    assert res.paths_count == 25
    assert res.document_read_count == 25
    assert res.document_read_failed_count == 1
    assert res.processed_count == 24
    assert res.created_count == 24  # empty existing index → all created
    assert res.modified_count == 0
    assert res.failed_too_large_count == 0
    assert res.merged.count() == 24
    # re-run against the merged state → everything is a modify now
    res2 = run_document_indexer(
        spark, path_index, lake, res.merged, ListPathsOptions()
    )
    assert res2.created_count == 0
    assert res2.modified_count == 24


def test_full_indexer_run(spark, lake):
    _assert_full_run(spark, lake)


def test_full_indexer_run_under_a_root_with_regex_characters(spark, tmp_path_factory):
    """The lake root is stripped from file paths as a literal string: a
    root holding ``+``, ``(``, ``[`` or ``$`` still yields relative paths,
    so the J1 join matches and the counts equal the plain root's."""
    root = _write_lake(tmp_path_factory.mktemp("lake+(x)[y]$_"))
    assert "partition_0/broken.json" in {r["path"] for r in list_lake_paths(spark, root).collect()}
    assert "partition_0/broken.json" in {
        r["path"] for r in read_json_documents(spark, root, TEST_INDEX_SCHEMA).select("path").collect()
    }
    _assert_full_run(spark, root)


def test_indexer_reads_only_the_listed_files(spark, lake, monkeypatch):
    """O(delta): with 2 of the lake's 25 files past the watermark, the
    JSON scan reads exactly those 2 files, not the lake."""
    from urllib.parse import unquote, urlparse

    import azuredatalakeindexer_spark.plans.indexer as indexer

    delta = ["partition_0/customer_1/document_2.json", "partition_1/customer_2/document_0.json"]
    fresh = F.col("pathUrlEncoded").isin([p.replace("/", "%2f") for p in delta])
    path_index = _path_index(spark, lake).withColumn(
        "lastModified",
        F.when(fresh, F.lit("2024-07-01").cast("timestamp")).otherwise(F.col("lastModified")),
    )
    scans = []

    def spy(*args, **kwargs):
        scans.append(read_json_documents(*args, **kwargs))
        return scans[-1]

    monkeypatch.setattr(indexer, "read_json_documents", spy)
    res = run_document_indexer(
        spark, path_index, lake, spark.createDataFrame([], _EMPTY_INDEX),
        ListPathsOptions(from_last_modified="2024-06-15"),
    )
    assert (res.paths_count, res.document_read_count, res.created_count) == (2, 2, 2)
    assert res.document_read_failed_count == 0
    [scan] = scans
    read = sorted(unquote(urlparse(f).path)[len(lake) + 1:] for f in scan.inputFiles())
    assert read == sorted(delta)


def test_listed_file_that_no_longer_exists_is_a_failed_read(spark, tmp_path):
    """A path the path index lists but the lake no longer holds counts as
    a failed read (reference DataLakeIndexer.cs:98-103) and the run goes
    on; when no listed file exists the run still completes."""
    import shutil

    root = tmp_path / "lake"
    names = [f"partition_0/customer_0/document_{d}.json" for d in range(3)]
    for d, name in enumerate(names):
        (root / name).parent.mkdir(parents=True, exist_ok=True)
        payload = {"stringvalue": name, "numbervalue": d, "booleanvalue": True}
        (root / name).write_text(json.dumps(payload))
    path_index = _path_index(spark, str(root)).localCheckpoint()
    (root / names[1]).unlink()

    res = run_document_indexer(
        spark, path_index, str(root), spark.createDataFrame([], _EMPTY_INDEX), ListPathsOptions()
    )
    assert res.paths_count == 3
    assert res.document_read_count == 3
    assert res.document_read_failed_count == 1
    assert res.processed_count == 2
    assert (res.created_count, res.modified_count) == (2, 0)
    indexed = {r["pathUrlEncoded"] for r in res.merged.collect()}
    assert indexed == {names[0].replace("/", "%2f"), names[2].replace("/", "%2f")}

    shutil.rmtree(root / "partition_0")
    res = run_document_indexer(
        spark, path_index, str(root), spark.createDataFrame([], _EMPTY_INDEX), ListPathsOptions()
    )
    assert (res.paths_count, res.document_read_count, res.document_read_failed_count) == (3, 3, 3)
    assert (res.processed_count, res.created_count, res.merged.count()) == (0, 0, 0)


def test_indexer_run_with_empty_delta_reports_zero_counts(spark, lake):
    """A tick where no path passes the watermark reads nothing and leaves
    the data index as it was."""
    path_index = _path_index(spark, lake)
    existing = spark.createDataFrame(
        [("cGF0aA==", "kept", 1, True, "e", "path", None)], _EMPTY_INDEX
    )
    res = run_document_indexer(
        spark,
        path_index,
        lake,
        existing,
        ListPathsOptions(from_last_modified="2999-01-01"),
    )
    assert res.paths_count == 0
    assert res.document_read_count == 0
    assert res.document_read_failed_count == 0
    assert res.processed_count == 0
    assert res.created_count == 0
    assert res.modified_count == 0
    assert res.failed_too_large_count == 0
    assert [r["stringvalue"] for r in res.merged.collect()] == ["kept"]


def test_event_drain_then_index_three_ticks(spark, tmp_path):
    """The paper's loop, three ticks: blob events drain into the path
    index (``run_event_stream_upsert``), then the indexer reads what
    changed since the tick's watermark into the data index.  Tick 1 lands
    every file; tick 2 rewrites one path, which indexes as 1 modified and
    0 created; tick 3 drains nothing new and is an empty tick.  Deletions
    are not covered: they do not reach the data index yet."""
    _three_ticks(spark, tmp_path, uri=False)


def test_event_drain_then_index_three_ticks_file_uri(spark, tmp_path):
    """The same three ticks with every directory (lake, events, both path
    indexes, checkpoint, data index) passed as a ``file://`` URI, the way
    a Hadoop filesystem such as ADLS is addressed."""
    _three_ticks(spark, tmp_path, uri=True)


def _three_ticks(spark, tmp_path, uri: bool) -> None:
    from datetime import datetime, timedelta, timezone

    import pyarrow as pa
    import pyarrow.parquet as pq

    from azuredatalakeindexer_spark.streaming.events import run_event_stream_upsert

    def loc(name: str) -> str:
        return f"file://{tmp_path / name}" if uri else str(tmp_path / name)

    lake = tmp_path / "lake"
    events = tmp_path / "events"
    events.mkdir()
    pi_dir, del_dir, ckpt = (loc(n) for n in ("paths", "deleted", "ckpt"))
    t0 = datetime(2024, 6, 1, tzinfo=timezone.utc)
    event_schema = "event_id long, eventType string, eventTime timestamp, url string"
    arrow = pa.schema([
        ("event_id", pa.int64()), ("eventType", pa.string()),
        ("eventTime", pa.timestamp("us", tz="UTC")), ("url", pa.string()),
    ])
    names = [f"partition_0/customer_{c}/document_{d}.json" for c in range(2) for d in range(3)]
    next_id = iter(range(1000))

    def write(tick: int, paths: list[str]) -> None:
        rows = []
        for p in paths:
            f = lake / p
            f.parent.mkdir(parents=True, exist_ok=True)
            payload = {"stringvalue": f"{p} v{tick}", "numbervalue": tick, "booleanvalue": True}
            f.write_text(json.dumps(payload))
            rows.append((next(next_id), "Microsoft.Storage.BlobCreated",
                         t0 + timedelta(minutes=tick), f"https://acct.dfs.core.windows.net/stuff-large/{p}"))
        pq.write_table(pa.table(list(map(list, zip(*rows))), schema=arrow),
                       str(events / f"ev-{tick}.parquet"))

    index = spark.createDataFrame([], _EMPTY_INDEX)

    def tick(t: int):
        nonlocal index
        now = t0 + timedelta(hours=t)
        run_event_stream_upsert(
            spark, loc("events"), spark.createDataFrame([], event_schema).schema,
            pi_dir, del_dir, ckpt, now=now.isoformat(),
        )
        res = run_document_indexer(
            spark, spark.read.parquet(pi_dir), loc("lake"), index,
            ListPathsOptions(from_last_modified=now.isoformat()),
        )
        res.merged.write.parquet(loc(f"data_t{t}"))
        if res.batch is not None:
            res.batch.unpersist()
        index = spark.read.parquet(loc(f"data_t{t}"))
        return res

    write(1, names)
    r1 = tick(1)
    assert (r1.paths_count, r1.created_count, r1.modified_count) == (6, 6, 0)

    write(2, names[:1])
    r2 = tick(2)
    assert (r2.paths_count, r2.created_count, r2.modified_count) == (1, 0, 1)
    values = {r["stringvalue"] for r in index.collect()}
    assert f"{names[0]} v2" in values and f"{names[0]} v1" not in values
    assert index.count() == 6

    r3 = tick(3)
    assert (r3.paths_count, r3.created_count, r3.modified_count) == (0, 0, 0)
    assert index.count() == 6


def test_drain_lands_lww_tables_in_one_shuffle_per_index(spark, tmp_path):
    """Two micro-batches of created and deleted events, each holding
    duplicate keys, drain first into empty indexes and then into the
    tables the first drain wrote.  After each drain both indexes equal the
    last-writer-wins model (newest ``eventTime``, ties to the higher event
    id), and the second drain costs one shuffle and one write per index:
    at most 4 Spark jobs."""
    from datetime import datetime, timedelta, timezone

    import pyarrow as pa
    import pyarrow.parquet as pq

    from azuredatalakeindexer_spark.streaming.events import run_event_stream_upsert

    created, deleted = "Microsoft.Storage.BlobCreated", "Microsoft.Storage.BlobDeleted"
    t0 = datetime(2024, 6, 1, tzinfo=timezone.utc)
    url = "https://acct.dfs.core.windows.net/stuff-large/partition_0/doc_{}.json"
    # (event id, type, minutes after t0, doc).  Batch 1: doc 1 repeats with
    # an older eventTime, doc 2 with the same eventTime and a higher id, and
    # doc 5 is deleted twice.  Batch 2 rewrites doc 1, sends doc 2 a late
    # (older) arrival, ties doc 3 with a higher id, adds doc 4 and deletes
    # doc 5 again and doc 6 once.
    batches = [
        [(10, created, 5, 1), (11, created, 3, 1), (12, created, 4, 2),
         (13, created, 4, 2), (14, created, 2, 3), (15, deleted, 6, 5),
         (16, deleted, 7, 5), (9, created, 1, 3)],
        [(20, created, 9, 1), (21, created, 1, 2), (22, created, 2, 3),
         (23, created, 8, 4), (24, deleted, 6, 5), (25, deleted, 8, 6)],
    ]
    arrow = pa.schema([
        ("event_id", pa.int64()), ("eventType", pa.string()),
        ("eventTime", pa.timestamp("us", tz="UTC")), ("url", pa.string()),
    ])
    events = tmp_path / "events"
    events.mkdir()
    pi_dir, del_dir, ckpt = (str(tmp_path / n) for n in ("paths", "deleted", "ckpt"))
    schema = spark.createDataFrame(
        [], "event_id long, eventType string, eventTime timestamp, url string"
    ).schema
    epoch0 = int(t0.timestamp())

    def model(n: int, kind: str) -> set[tuple[int, int]]:
        best: dict[int, tuple[int, int]] = {}
        for e, k, m, d in (ev for b in batches[:n] for ev in b):
            if k == kind:
                best[d] = max(best.get(d, (m, e)), (m, e))
        return {(e, epoch0 + 60 * m) for m, e in best.values()}

    def table(d: str) -> set[tuple[int, int]]:
        rows = spark.read.parquet(d).select(
            "key", "_seq", F.col("fileLastModified").cast("long").alias("t")
        ).collect()
        assert len({r["key"] for r in rows}) == len(rows)
        return {(r["_seq"], r["t"]) for r in rows}

    def drain(i: int) -> int:
        rows = [(e, k, t0 + timedelta(minutes=m), url.format(d)) for e, k, m, d in batches[i]]
        pq.write_table(pa.table(list(map(list, zip(*rows))), schema=arrow),
                       str(events / f"ev-{i}.parquet"))
        dag = spark.sparkContext._jsc.sc().dagScheduler()
        job0 = int(dag.nextJobId())
        run_event_stream_upsert(spark, str(events), schema, pi_dir, del_dir, ckpt,
                                now=t0.isoformat())
        return int(dag.nextJobId()) - job0

    for n in (1, 2):
        jobs = drain(n - 1)
        assert table(pi_dir) == model(n, created)
        assert table(del_dir) == model(n, deleted)
    assert jobs <= 4


@pytest.mark.parametrize("crash", ["before_promote", "mid_promote"])
def test_drain_crash_then_next_drain_gives_lww_table(spark, tmp_path, monkeypatch, crash):
    """A drain that dies inside its path-index commit — before the promote,
    or after the journal with only some swaps done — leaves a table the
    next drain recovers: it drops or rolls forward the staged commit,
    replays the uncommitted micro-batch, and lands the last-writer-wins
    table over every event (newest ``eventTime``, ties to the higher
    event id)."""
    from datetime import datetime, timedelta, timezone
    from unittest.mock import patch

    import pyarrow as pa
    import pyarrow.parquet as pq

    import azuredatalakeindexer_spark.sources.staging as staging
    from azuredatalakeindexer_spark.streaming.events import run_event_stream_upsert

    # the crashed drain's staging is this process's own: let the next
    # drain take it over at once instead of waiting out the lease
    monkeypatch.setattr(staging, "LEASE_TTL_SEC", 0.0)
    t0 = datetime(2024, 6, 1, tzinfo=timezone.utc)
    url = "https://acct.dfs.core.windows.net/stuff-large/partition_0/doc_{}.json"
    # (event id, minutes after t0, doc): doc 1 is rewritten, doc 2 gets an
    # older late arrival, doc 3 a same-time redelivery with a higher id
    ticks = [
        [(0, 0, 0), (1, 0, 1), (2, 5, 2), (3, 1, 3)],
        [(4, 9, 1), (5, 2, 2), (6, 1, 3), (7, 3, 4)],
    ]
    arrow = pa.schema([
        ("event_id", pa.int64()), ("eventType", pa.string()),
        ("eventTime", pa.timestamp("us", tz="UTC")), ("url", pa.string()),
    ])
    events = tmp_path / "events"
    events.mkdir()
    pi_dir, del_dir, ckpt = (str(tmp_path / n) for n in ("paths", "deleted", "ckpt"))
    schema = spark.createDataFrame(
        [], "event_id long, eventType string, eventTime timestamp, url string"
    ).schema

    def land(i: int) -> None:
        rows = [(e, "Microsoft.Storage.BlobCreated", t0 + timedelta(minutes=m), url.format(d))
                for e, m, d in ticks[i]]
        pq.write_table(pa.table(list(map(list, zip(*rows))), schema=arrow),
                       str(events / f"ev-{i}.parquet"))

    def drain() -> None:
        run_event_stream_upsert(spark, str(events), schema, pi_dir, del_dir, ckpt,
                                now=t0.isoformat())

    def winners(n_ticks: int) -> set[int]:
        best: dict[int, tuple[int, int]] = {}
        for e, m, d in (ev for t in ticks[:n_ticks] for ev in t):
            best[d] = max(best.get(d, (m, e)), (m, e))
        return {e for _, e in best.values()}

    def table_seqs() -> list[int]:
        return sorted(r["_seq"] for r in spark.read.parquet(pi_dir).collect())

    land(0)
    drain()
    assert table_seqs() == sorted(winners(1))

    def partial_exec(spk, root, stage_dir, plan):
        staging._apply_swaps(spk, root, stage_dir, plan["swaps"][: max(1, len(plan["swaps"]) // 2)])
        raise RuntimeError("simulated crash mid-promotion")

    land(1)
    if crash == "before_promote":
        injected = patch.object(staging.StagedCommit, "promote",
                                side_effect=RuntimeError("simulated crash before promote"))
    else:
        injected = patch.object(staging, "_execute_plan", side_effect=partial_exec)
    with injected, pytest.raises(Exception, match="simulated crash"):
        drain()
    if crash == "before_promote":
        assert table_seqs() == sorted(winners(1))  # the old table still serves
    drain()
    assert table_seqs() == sorted(winners(2))
    assert not [n for n in os.listdir(pi_dir) if n.startswith(staging.STAGING_PREFIX)]
