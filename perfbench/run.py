"""Repository benchmark: one seeded workload per run.

    python3 perfbench/run.py --workload index_cycle --seed 1 --seconds 16 --trace 0

Run from the repository root.  The workloads (see ``perfbench/METRICS.md``):

- ``index_cycle``          blob events drained into the path index, then
                           scheduled document-indexer ticks over a JSON lake;
- ``search_under_ingest``  text-index queries beside segmented upserts/deletes.

With ``--trace 0`` the run reports the end-to-end metrics; with
``--trace 1`` it records a span around every library call, writes them to
``.perfbench-out/trace-<workload>-<seed>.json`` and reports the per-layer
metrics.  Every op's output is checked against a Python model of the
generated inputs; a mismatch or an error counts the op as failed.  The
last line of standard output is one JSON object
``{"correct", "attempted", "failed", "metrics"}``.

All scratch data lives under ``.perfbench-work/`` in the current
directory and is deleted before the run exits.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time
import uuid
from contextlib import contextmanager
from dataclasses import dataclass

from spans import Tracer

ROOT = os.getcwd()


def load_spec() -> dict:
    """Workload names and metric names and units, from ``BENCHMARK.json``.
    End-to-end times are CPU seconds (see ``Bench.jvm_cpu_s``); wall-clock
    figures are per-layer metrics.  A per-layer metric of a layer the
    workload does not use reports 0."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def median(xs) -> float:
    xs = list(xs)
    return statistics.median(xs) if xs else 0.0


def p90(xs) -> float:
    """Nearest-rank 90th percentile."""
    xs = sorted(xs)
    if not xs:
        return 0.0
    return xs[min(len(xs) - 1, max(0, -(-9 * len(xs) // 10) - 1))]


def dir_bytes(path: str) -> int:
    total = 0
    for d, _, files in os.walk(path):
        total += sum(os.path.getsize(os.path.join(d, f)) for f in files)
    return total


class Bench:
    """What a workload gets: the session, its scratch directory, the
    tracer, the run length, and the counters it fills in."""

    def __init__(self, spark, work: str, seed: int, seconds: float, tracer):
        self.spark = spark
        self.jvm_pid = spark.sparkContext._gateway.proc.pid
        self.work = work
        self.seed = seed
        self.seconds = seconds
        self.tracer = tracer
        self.attempted = 0
        self.failed = 0
        self.mismatches = 0
        #: why ops failed (the first few, for the report)
        self.failures: list[str] = []
        #: inputs generated twice from the seed came out identical
        self.inputs_reproducible = True
        self.e2e: dict[str, tuple[float, int]] = {}
        self.layer: dict[str, float] = {}
        self.report: list[str] = []

    def fail(self, what: str) -> None:
        """An op raised: it counts as failed."""
        self.failed += 1
        self.note(what)

    def mismatch(self, what: str) -> None:
        """An op's output disagrees with the model: failed, and the run is
        not correct."""
        self.mismatches += 1
        self.fail("output check: " + what)

    def note(self, what: str) -> None:
        if len(self.failures) < 10:
            self.failures.append(what)

    def path(self, *parts: str) -> str:
        return os.path.join(self.work, *parts)

    def jvm_cpu_s(self) -> float:
        """CPU seconds the driver JVM has used (utime + stime), leaving out
        its JIT compiler threads.  In local mode every executor thread lives
        in this process, so this is all of Spark's work; unlike wall time it
        does not grow when the host takes the CPU away (steal), and without
        the compiler threads it does not depend on how far the JIT has got.
        The process total still counts threads that have exited (a finished
        streaming query's, an idle executor thread's), which a sum over the
        live threads would drop; compiler threads never exit (see
        ``_start_spark``)."""
        with open(f"/proc/{self.jvm_pid}/stat") as f:
            ticks = _utime_stime(f.read())
        task_dir = f"/proc/{self.jvm_pid}/task"
        for tid in os.listdir(task_dir):
            try:
                with open(f"{task_dir}/{tid}/stat") as f:
                    stat = f.read()
            except FileNotFoundError:
                continue  # the thread ended while we listed
            if "CompilerThre" in stat[stat.index("(") + 1:stat.rindex(")")]:
                ticks -= _utime_stime(stat)
        return ticks / CLK_TCK

    def cpu_s(self, with_python: bool) -> float:
        cpu = self.jvm_cpu_s()
        if with_python:
            t = os.times()
            cpu += t.user + t.system
        return cpu

    def units(self):
        """Yield 0, 1, 2, ... for the workload's units of work (a rotation
        of ticks, a pair of rounds).  The first always runs; a later one
        starts only if it would end within ``seconds`` of the first's
        start, judged by the longest unit so far.  So a run measures about
        ``seconds``; a workload whose unit takes most of ``seconds`` does
        the same ops in every run, whatever the host's speed."""
        start, longest, i = time.perf_counter(), 0.0, 0
        while i == 0 or time.perf_counter() - start + longest <= self.seconds:
            t0 = time.perf_counter()
            yield i
            longest = max(longest, time.perf_counter() - t0)
            i += 1

    @contextmanager
    def measure(self, with_python: bool = False):
        """Wall seconds and CPU seconds of the enclosed block: the JVM's,
        plus this process's when ``with_python`` (set-up generates inputs
        in Python)."""
        m = Sample()
        w0, c0 = time.perf_counter(), self.cpu_s(with_python)
        try:
            yield m
        finally:
            m.wall = time.perf_counter() - w0
            m.cpu = self.cpu_s(with_python) - c0


@dataclass
class Sample:
    wall: float = 0.0
    cpu: float = 0.0


CLK_TCK = os.sysconf("SC_CLK_TCK")


def _utime_stime(stat: str) -> int:
    """utime + stime, in clock ticks, from a /proc stat line."""
    fields = stat.rsplit(")", 1)[1].split()
    return int(fields[11]) + int(fields[12])


def driver_peak_rss_mb(pid: int) -> float:
    """Peak resident set of the driver JVM (VmHWM), from /proc."""
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError("VmHWM missing from /proc status")


def _driver_mem() -> str:
    """A quarter of physical RAM, capped at 4 GiB: below the machine's RAM
    whatever it is (``session.get_spark`` defaults to 16g)."""
    with open("/proc/meminfo") as f:
        kb = next(int(l.split()[1]) for l in f if l.startswith("MemTotal:"))
    return f"{max(1024, min(4096, kb // 1024 // 4))}m"


def _start_spark(work: str):
    local = os.path.join(work, "spark-local")
    os.makedirs(local)
    os.environ["SPARK_GRAFT_CPUS"] = str(os.cpu_count() or 4)
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = _driver_mem()
    os.environ["SPARK_LOCAL_DIRS"] = local
    os.environ["TMPDIR"] = local
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        "--conf spark.ui.enabled=false --conf spark.ui.showConsoleProgress=false "
        # a fixed set of JIT compiler threads, so none exits and takes its
        # CPU time into the process total (see Bench.jvm_cpu_s)
        f"--driver-java-options '-Djava.io.tmpdir={local} -XX:-UseDynamicNumberOfCompilerThreads' "
        "pyspark-shell"
    )
    from azuredatalakeindexer_spark.session import get_spark

    spark = get_spark("perfbench")
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def _stop_spark(spark) -> None:
    """Stop the session and wait for the driver JVM process to exit."""
    gateway = spark.sparkContext._gateway
    proc = gateway.proc
    spark.stop()
    gateway.shutdown()
    proc.stdin.close()
    proc.wait(timeout=60)


def main(argv=None) -> int:
    spec = load_spec()
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=[w["name"] for w in spec["workloads"]])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not os.path.isdir(os.path.join(ROOT, "azuredatalakeindexer_spark")):
        print("perfbench: run from the repository root (azuredatalakeindexer_spark/ not found)",
              file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)

    work = os.path.join(ROOT, ".perfbench-work", uuid.uuid4().hex)
    os.makedirs(work)
    spark = None
    try:
        spark = _start_spark(work)
        bench = Bench(spark, work, args.seed, args.seconds, Tracer(spark.sparkContext, bool(args.trace)))
        module = __import__(f"wl_{args.workload}")
        module.run(bench)
        bench.layer["driver_peak_rss_mb"] = driver_peak_rss_mb(bench.jvm_pid)
        if args.trace:
            out = os.path.join(ROOT, ".perfbench-out")
            os.makedirs(out, exist_ok=True)
            bench.tracer.write(os.path.join(out, f"trace-{args.workload}-{args.seed}.json"))
            ops = max(1, bench.attempted)
            bench.layer["failed_frac"] = bench.failed / ops
            bench.layer["trace.overhead_s"] = bench.tracer.overhead_s / ops
    finally:
        if spark is not None:
            _stop_spark(spark)
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))
        except OSError:
            pass  # another run's scratch directory is still there

    for line in bench.report:
        print(line)
    print(f"failed {bench.failed}/{bench.attempted} ops", *bench.failures, sep="\n  ")
    print(f"inputs reproducible from seed: {bench.inputs_reproducible}")
    units = {m["name"]: m["unit"] for m in spec["per_layer" if args.trace else "end_to_end"]}
    if args.trace:
        metrics = {k: {"value": float(bench.layer.get(k, 0.0)), "unit": u} for k, u in units.items()}
    else:
        missing = [k for k in units if k not in bench.e2e]
        if missing:
            raise RuntimeError(f"workload reported no {missing}")
        metrics = {k: {"value": float(bench.e2e[k][0]), "unit": u} for k, u in units.items()}
        for k, u in units.items():
            print(f"{k} = {bench.e2e[k][0]:.6g} {u} (n={bench.e2e[k][1]})")
    result = {
        "correct": bench.inputs_reproducible and bench.mismatches == 0,
        "attempted": bench.attempted,
        "failed": bench.failed,
        "metrics": metrics,
    }
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
