"""``index_cycle``: blob events keep the path index current and the scheduled
document indexer follows it (closed loop, 1 scheduler).

Setup writes a seeded JSON lake (``partition_{p}/customer_{c}/document_{d}.json``,
1 payload in 37 malformed) and its path index, and builds the data index
with one full ``run_document_indexer`` pass.  Each tick:

1. the generator (untimed) rewrites or adds about 1% of the lake under the
   tick's prefix and lands one parquet file of the blob events those writes
   raise (with same-path collisions, redelivered duplicates and deletes);
2. ``run_event_stream_upsert`` drains the events into the path index and
   the deleted-path index, stamping ``lastModified`` with the tick's time;
3. ``run_document_indexer`` lists the prefix's paths changed since that
   prefix's previous tick, reads and maps the lake, and classifies the
   batch; ``merged`` is written as the next tick's data index.

Prefixes rotate ``partition_0`` … ``partition_4``, like the reference's
per-partition crons.  Every tick has a non-empty delta: a tick with nothing
to index makes ``run_document_indexer`` raise (see ``METRICS.md``).

Checks: each tick's paths/created/modified counts equal the generator's
model; at the end the data index equals the model's latest good payload
per path, and the path index and deleted-path index equal a Python
last-writer-wins replay of every event on ``(fileLastModified, event_id)``.
"""

from __future__ import annotations

import os
import shutil
from datetime import timezone

import pyarrow as pa
import pyarrow.parquet as pq

import gen
from run import dir_bytes, median

#: lake size; ~1% of it changes per tick
N_FILES = 1000
#: ticks of the miniature warm-up lake
WARMUP_TICKS = 1
#: setups per run; ``setup_s`` is their median
SETUPS = 3

UTC = pa.timestamp("us", tz="UTC")
PATH_INDEX_ARROW = pa.schema([
    ("key", pa.string()), ("pathUrlEncoded", pa.string()), ("filesystem", pa.string()),
    ("fileLastModified", UTC), ("lastModified", UTC), ("_seq", pa.int64()),
])
EVENT_ARROW = pa.schema([
    ("event_id", pa.int64()), ("eventType", pa.string()), ("eventTime", UTC), ("url", pa.string()),
])


def _write_files(root: str, files) -> None:
    for f in files:
        full = os.path.join(root, f.path)
        os.makedirs(os.path.dirname(full), exist_ok=True)
        with open(full, "w") as fh:
            fh.write(f.payload)


def _model_row(f: gen.LakeFile) -> tuple:
    return (*f.values, gen.ts(f.file_lm))


def _lww(rows) -> dict:
    """key -> (fileLastModified, seq) of the last writer."""
    best: dict = {}
    for key, flm, seq in rows:
        if key not in best or (flm, seq) > best[key]:
            best[key] = (flm, seq)
    return best


def _read_index(directory: str) -> dict:
    if not os.path.isdir(directory):
        return {}
    t = pq.read_table(directory, columns=["key", "fileLastModified", "_seq"]).to_pydict()
    return {k: (f.replace(tzinfo=timezone.utc), s)
            for k, f, s in zip(t["key"], t["fileLastModified"], t["_seq"])}


class Cycle:
    """One lake, its indexes, and the model the outputs are checked against."""

    def __init__(self, b, k, n_files: int = N_FILES):
        from pyspark.sql.types import StructType

        from azuredatalakeindexer_spark.operators.paths import ListPathsOptions
        from azuredatalakeindexer_spark.plans.indexer import run_document_indexer
        from azuredatalakeindexer_spark.schemas import DATA_INDEX_SCHEMA

        self.root = b.path(f"lake{k}")
        self.pi_dir = b.path(f"pathindex{k}")
        self.del_dir = b.path(f"deleted{k}")
        self.events_dir = b.path(f"events{k}")
        self.ckpt = b.path(f"checkpoint{k}")
        self.lake = gen.build_lake(b.seed, n_files)
        self.digest = gen.digest((f.path, f.payload, f.file_lm) for f in self.lake.files.values())
        _write_files(self.root, self.lake.files.values())
        os.makedirs(self.events_dir)
        os.makedirs(self.pi_dir)
        paths = sorted(self.lake.files)
        lms = [gen.ts(self.lake.files[p].file_lm) for p in paths]
        # the seeded path index: _seq -1 is older than every event
        keys = [gen.path_key(gen.FILESYSTEM, p) for p in paths]
        pq.write_table(
            pa.table([keys, [gen.url_encode(p) for p in paths],
                      [gen.FILESYSTEM] * len(paths), lms, lms, [-1] * len(paths)],
                     schema=PATH_INDEX_ARROW),
            os.path.join(self.pi_dir, "part-0.parquet"),
        )
        #: (key, fileLastModified, seq) of the seeded rows, for the LWW replay
        self.seeded = [(k, lm, -1) for k, lm in zip(keys, lms)]
        self.events: list[tuple] = []
        # expected data index: key -> (stringvalue, numbervalue, booleanvalue, lastModified)
        self.model = {
            gen.path_key(gen.FILESYSTEM, f.path): _model_row(f)
            for f in self.lake.files.values() if f.values is not None
        }
        self.watermark = {f"partition_{p}/": 0.0 for p in range(gen.N_PARTITIONS)}
        self.data_base = b.path(f"data{k}")
        self.data_dir = self.data_base + "_init"
        empty = b.spark.createDataFrame([], StructType(DATA_INDEX_SCHEMA.fields))
        res = run_document_indexer(
            b.spark, b.spark.read.parquet(self.pi_dir), self.root, empty,
            ListPathsOptions(filesystem=gen.FILESYSTEM),
        )
        res.merged.write.parquet(self.data_dir)
        res.batch.unpersist(blocking=True)
        self.build_counts = (res.paths_count, res.created_count)

    def dirs(self):
        return (self.root, self.pi_dir, self.del_dir, self.events_dir, self.ckpt, self.data_dir)


def _expected_counts(c: Cycle, tick: gen.Tick) -> tuple[int, int, int]:
    good = [f for f in tick.changes.values() if f.values is not None]
    created = sum(gen.path_key(gen.FILESYSTEM, f.path) not in c.model for f in good)
    return len(tick.changes), created, len(good) - created


def _replay_layers(b, c: Cycle, opts, samples: dict, op: int) -> None:
    """Traced run only: re-run the indexer's steps one at a time over
    checkpointed inputs, forcing each with a ``noop`` write, so each layer
    gets its own time."""
    import pyspark.sql.functions as F

    from azuredatalakeindexer_spark.functions.keys import doc_size_bytes
    from azuredatalakeindexer_spark.operators.batching import MAX_DOCUMENT_SIZE_BYTES, oversize_filter
    from azuredatalakeindexer_spark.operators.mapper import drop_unmapped, join_paths_content, map_to_data_index
    from azuredatalakeindexer_spark.operators.paths import list_paths
    from azuredatalakeindexer_spark.operators.upsert import classify_upserts, dedup_last_writer, merge_upsert
    from azuredatalakeindexer_spark.schemas import TEST_INDEX_SCHEMA
    from azuredatalakeindexer_spark.sources.lake import read_json_documents

    spark, tr = b.spark, b.tracer

    def step(name: str, df):
        with tr.span(name, op=op) as s:
            df.write.format("noop").mode("overwrite").save()
        samples.setdefault(name, []).append(s["dur_s"])
        return df.localCheckpoint()

    existing = spark.read.parquet(c.data_dir)
    paths = step("paths.list_s", list_paths(spark.read.parquet(c.pi_dir), opts))
    docs = step("lake.read_s", read_json_documents(spark, c.root, TEST_INDEX_SCHEMA))
    mapped = step("mapper.join_map_s", drop_unmapped(map_to_data_index(
        join_paths_content(paths, docs), etag=F.md5(F.col("path")),
        last_modified=F.col("fileLastModified"))))
    kept, _ = oversize_filter(
        mapped, doc_size_bytes(*[F.col(x) for x in mapped.columns]), MAX_DOCUMENT_SIZE_BYTES)
    kept = step("batching.oversize_s", kept)
    batch = step("upsert.dedup_s", dedup_last_writer(kept, ["pathbase64"], "lastModified"))
    classified = step("upsert.classify_s", classify_upserts(batch, existing, key_col="pathbase64"))
    step("upsert.merge_s", merge_upsert(existing, classified.drop("status"), key_col="pathbase64"))


def _n_commits(checkpoint: str) -> int:
    d = os.path.join(checkpoint, "commits")
    return sum(not n.startswith(".") for n in os.listdir(d)) if os.path.isdir(d) else 0


def _tick(b, c: Cycle, t: int, timed: bool, counts: dict, layers: dict):
    """Tick ``t``: generate, then drain + index + write.  Returns the wall
    and CPU samples of the three timed calls, or None when a call
    raised."""
    from py4j.protocol import Py4JJavaError
    from pyspark.sql.types import LongType, StringType, StructField, StructType, TimestampType

    from azuredatalakeindexer_spark.operators.paths import ListPathsOptions
    from azuredatalakeindexer_spark.plans.indexer import run_document_indexer
    from azuredatalakeindexer_spark.streaming.events import run_event_stream_upsert

    spark, tr = b.spark, b.tracer
    event_schema = StructType([
        StructField("event_id", LongType()), StructField("eventType", StringType()),
        StructField("eventTime", TimestampType()), StructField("url", StringType()),
    ])
    # -- generator step (untimed): rewrite ~1% of the lake under the prefix
    # and land the blob events those writes raise
    tick = gen.make_tick(c.lake, t)
    _write_files(c.root, tick.changes.values())
    c.lake.files.update(tick.changes)
    rows = gen.tick_events(c.lake, tick)
    c.events.extend(rows)
    tmp = os.path.join(c.events_dir, f".ev-{t:06d}.tmp")
    pq.write_table(pa.table(list(map(list, zip(*rows))), schema=EVENT_ARROW), tmp)
    event_bytes = os.path.getsize(tmp)
    os.replace(tmp, os.path.join(c.events_dir, f"ev-{t:06d}.parquet"))
    expect = _expected_counts(c, tick)
    opts = ListPathsOptions(
        from_last_modified=gen.ts(c.watermark[tick.prefix]),
        filesystem=gen.FILESYSTEM,
        # the path index stores URL-encoded paths, so the prefix is encoded too
        path_prefix=gen.url_encode(tick.prefix),
    )
    next_dir = f"{c.data_base}_t{t}"
    commits0 = _n_commits(c.ckpt)
    b.attempted += timed
    try:
        with b.measure() as m_ev, tr.span("events.run_event_stream_upsert", op=t) as s_ev:
            run_event_stream_upsert(spark, c.events_dir, event_schema, c.pi_dir, c.del_dir,
                                    c.ckpt, now=gen.ts(tick.at - 1.0).isoformat())
        with b.measure() as m_idx, tr.span("indexer.run_document_indexer", op=t) as s_idx:
            res = run_document_indexer(
                spark, spark.read.parquet(c.pi_dir), c.root, spark.read.parquet(c.data_dir), opts,
            )
        with b.measure() as m_wr, tr.span("data_index.write", op=t) as s_wr:
            res.merged.write.parquet(next_dir)
            res.batch.unpersist(blocking=True)
    except Py4JJavaError as e:
        if timed:
            b.fail(f"tick {t}: {str(e).splitlines()[0][:120]}")
        return None
    got = (res.paths_count, res.created_count, res.modified_count)
    if got != expect:
        b.mismatch(f"tick {t} counts {got} != {expect}")
    for f in tick.changes.values():
        if f.values is not None:
            c.model[gen.path_key(gen.FILESYSTEM, f.path)] = _model_row(f)
    if tr.enabled and timed:
        for name, v in (
            ("paths.changed", res.paths_count),
            ("upsert.created", res.created_count),
            ("upsert.modified", res.modified_count),
            ("lake.docs_parsed", res.document_read_count),
            ("lake.useful_read_ratio", res.paths_count / res.document_read_count),
            ("batching.too_large", res.failed_too_large_count),
            ("indexer.spark_jobs", s_idx["spark_jobs"] + s_wr["spark_jobs"]),
            ("indexer.spark_tasks", s_idx["spark_tasks"] + s_wr["spark_tasks"]),
            ("data_index.write_s", m_wr.wall),
            ("data_index.bytes", dir_bytes(next_dir)),
            ("events.drain_s", m_ev.wall),
            ("events.microbatches_per_drain", _n_commits(c.ckpt) - commits0),
            ("events.spark_jobs_per_drain", s_ev["spark_jobs"]),
            ("events.write_amplification",
             (dir_bytes(c.pi_dir) + dir_bytes(c.del_dir)) / event_bytes),
        ):
            counts.setdefault(name, []).append(v)
        _replay_layers(b, c, opts, layers, t)
    shutil.rmtree(c.data_dir)
    c.data_dir = next_dir
    c.watermark[tick.prefix] = tick.at
    return m_ev, m_idx, m_wr, res.created_count + res.modified_count


def run(b) -> None:
    tr = b.tracer
    # warm-up: the whole cycle once on a miniature lake, so the set-ups and
    # the timed ticks run warm
    with tr.off():
        mini = Cycle(b, "warmup", n_files=100)
        for t in range(WARMUP_TICKS):
            _tick(b, mini, t, False, {}, {})
    for d in mini.dirs():
        shutil.rmtree(d, ignore_errors=True)

    # -- setup: SETUPS fresh lakes from the same seed; the last one is used
    setups, digests = [], set()
    for k in range(SETUPS):
        with b.measure(with_python=True) as m, tr.span("setup"):
            c = Cycle(b, k)
        setups.append(m)
        digests.add(c.digest)
        if c.build_counts != (len(c.lake.files), len(c.model)):
            b.mismatch(f"initial build counts {c.build_counts}")
        if k < SETUPS - 1:
            for d in c.dirs():
                shutil.rmtree(d, ignore_errors=True)
    b.inputs_reproducible = len(digests) == 1

    # a unit of work is one rotation of the per-prefix crons, so every run
    # times whole rotations: on this lake one rotation fills a run
    ticks, docs, counts, layers = [], 0, {}, {}
    for rotation in b.units():
        for t in range(rotation * gen.N_PARTITIONS, (rotation + 1) * gen.N_PARTITIONS):
            out = _tick(b, c, t, True, counts, layers)
            if out is not None:
                ticks.append(out[:3])
                docs += out[3]

    _final_checks(b, c)
    n = len(ticks)
    tick_cpu = sum(e.cpu + i.cpu + w.cpu for e, i, w in ticks)
    tick_wall = [e.wall + i.wall + w.wall for e, i, w in ticks]
    b.e2e.update(
        setup_s=(median(m.cpu for m in setups), len(setups)),
        read_cpu_s_p50=(median(i.cpu for _, i, _ in ticks), n),
        write_cpu_s_p50=(median(e.cpu + w.cpu for e, _, w in ticks), n),
    )
    b.layer.update({name: median(xs) for name, xs in {**counts, **layers}.items()})
    b.layer.update(cycle_s_p50=median(tick_wall), setup_wall_s=median(m.wall for m in setups),
                   docs_per_cpu_s=docs / tick_cpu if tick_cpu else 0.0)
    b.report.append(
        f"index_cycle: lake {N_FILES} files, {t + 1} timed ticks ({n} ok); wall: "
        f"cycle_s_p50 {median(tick_wall):.4f} s (n={n}), cycle_docs_per_s "
        f"{docs / sum(tick_wall):.2f} (n={n})"
    )
    b.report.append("tick CPU s (drain, indexer, write): " + ", ".join(
        f"({e.cpu:.2f}, {i.cpu:.2f}, {w.cpu:.2f})" for e, i, w in ticks))


def _final_checks(b, c: Cycle) -> None:
    """The data index equals the model; the path and deleted-path indexes
    equal a last-writer-wins replay of the seeded rows and every event."""
    table = pq.read_table(c.data_dir).to_pylist()
    got = {r["pathbase64"]: (r["stringvalue"], r["numbervalue"], r["booleanvalue"],
                             r["lastModified"].replace(tzinfo=timezone.utc))
           for r in table}
    if len(table) != len(got) or got != c.model:
        bad = sum(got.get(k) != v for k, v in c.model.items()) + len(set(got) - set(c.model))
        b.mismatch(f"final data index differs from the model on {bad} paths")

    def replay(kind):
        for eid, typ, when, url in c.events:
            if typ == kind:
                yield gen.path_key(gen.FILESYSTEM, url.split("/", 4)[4]), when, eid

    if _read_index(c.pi_dir) != _lww(c.seeded + list(replay(gen.EVENT_CREATED))):
        b.mismatch("final path index differs from the LWW replay")
    if _read_index(c.del_dir) != _lww(replay(gen.EVENT_DELETED)):
        b.mismatch("final deleted-path index differs from the LWW replay")
