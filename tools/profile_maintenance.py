"""Attribute the per-batch fixed overhead of the index maintenance ops.

Lease writes, recover probes and atomic journal writes are each
metadata-class alone, but together they can double a small batch's
maintenance cost.  This tool times one build→upsert→query lifecycle at the
given SF dir and attributes wall time to the instrumented components
(monkeypatched timers + Spark job counts per phase), so a regression can
be pinned to a component instead of guessed at.

Usage:  python tools/profile_maintenance.py [sf_dir] [text|profile]
"""

from __future__ import annotations

import os
import shutil
import sys
import tempfile
import time
from collections import defaultdict

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

import pyspark.sql.functions as F  # noqa: E402
from pyspark.sql import DataFrame  # noqa: E402

TIMES: dict[str, list[float]] = defaultdict(list)
JOBS: dict[str, int] = defaultdict(int)


def _timed(label, fn):
    def wrapper(*a, **kw):
        t0 = time.time()
        try:
            return fn(*a, **kw)
        finally:
            TIMES[label].append(time.time() - t0)

    return wrapper


def _patch_all():
    from azuredatalakeindexer_spark.sources import staging

    staging.recover_staged = _timed("recover_staged", staging.recover_staged)
    staging._write_file_atomic = _timed(
        "write_file_atomic(lease+journal)", staging._write_file_atomic
    )
    staging.StagedCommit.promote = _timed(
        "StagedCommit.promote", staging.StagedCommit.promote
    )
    # Spark 4: instances are pyspark.sql.classic.dataframe.DataFrame, which
    # OVERRIDES the pyspark.sql.DataFrame base methods — patch the classic
    # class or the timers never fire
    try:
        from pyspark.sql.classic.dataframe import DataFrame as CDF
    except Exception:
        CDF = DataFrame
    CDF.localCheckpoint = _timed("DataFrame.localCheckpoint", CDF.localCheckpoint)
    CDF.collect = _timed("DataFrame.collect", CDF.collect)
    CDF.count = _timed("DataFrame.count", CDF.count)
    CDF.first = _timed("DataFrame.first", CDF.first)
    from pyspark.sql.readwriter import DataFrameWriter

    DataFrameWriter.parquet = _timed(
        "DataFrameWriter.parquet", DataFrameWriter.parquet
    )


def _job_count(sc) -> int:
    t = sc.statusTracker()
    ids = t.getJobIdsForGroup(None) or []
    return max(ids) + 1 if ids else 0


def _phase(sc, label, fn):
    j0 = _job_count(sc)
    t0 = time.time()
    out = fn()
    TIMES[f"PHASE {label}"].append(time.time() - t0)
    JOBS[f"PHASE {label}"] = _job_count(sc) - j0
    return out


def main() -> None:
    sf = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"
    which = sys.argv[2] if len(sys.argv) > 2 else "text"
    _patch_all()

    from azuredatalakeindexer_spark.session import get_spark

    spark = get_spark("profile_maintenance")
    spark.sparkContext.setLogLevel("ERROR")
    sc = spark.sparkContext

    if which == "text":
        from azuredatalakeindexer_spark.sources.text_index import (
            build_text_index,
            query_text_index,
        )
        from azuredatalakeindexer_spark.sources.text_segments import (
            upsert_text_index_segmented,
        )

        docs = spark.read.parquet(f"{sf}/documents.parquet").select(
            "doc_id", "text"
        )
        base = docs.where(F.col("doc_id") % 100 != 0)
        delta = docs.where(F.col("doc_id") % 100 == 0).select(
            "doc_id", F.concat(F.lit("merge body "), F.col("text")).alias("text")
        )
        root = tempfile.mkdtemp(prefix="prof_txt_")
        try:
            _phase(sc, "build", lambda: build_text_index(base, root))
            _phase(
                sc,
                "upsert",
                lambda: upsert_text_index_segmented(spark, root, delta).count(),
            )
            _phase(
                sc,
                "query",
                lambda: query_text_index(
                    spark, root, ["merge", "query", "stream"], k=20
                ).count(),
            )
        finally:
            shutil.rmtree(root, ignore_errors=True)
    elif which == "profile":
        from azuredatalakeindexer_spark.sources.profile_index import (
            build_profile_index,
            query_profile_index,
        )
        from azuredatalakeindexer_spark.sources.profile_segments import (
            delete_from_profile_index_segmented,
            upsert_profile_index_segmented,
        )

        docs = spark.read.parquet(f"{sf}/documents.parquet").select(
            "doc_id", "text", "source", "n_chars"
        )
        base = docs.where(F.col("doc_id") % 100 != 0)
        delta = docs.where(F.col("doc_id") % 100 == 0).select(
            "doc_id",
            F.concat(F.lit("merge body "), F.col("text")).alias("text"),
            "source",
            "n_chars",
        )
        prof = {"text": (["merge", "query", "stream"], 2.0), "source": (["src1"], 1.0)}
        root = tempfile.mkdtemp(prefix="prof_pfl_")
        try:
            _phase(
                sc,
                "build",
                lambda: build_profile_index(
                    base,
                    root,
                    field_cols=["text", "source"],
                    attr_cols=["n_chars", "source"],
                    n_buckets=64,
                ),
            )
            _phase(
                sc,
                "upsert",
                lambda: upsert_profile_index_segmented(spark, root, delta).count(),
            )
            _phase(
                sc,
                "delete",
                lambda: delete_from_profile_index_segmented(
                    spark, root, delta.select("doc_id").limit(50)
                ),
            )
            _phase(
                sc,
                "query",
                lambda: query_profile_index(spark, root, prof, k=20).count(),
            )
        finally:
            shutil.rmtree(root, ignore_errors=True)
    else:
        raise SystemExit(f"unknown target {which!r}")

    print(f"\n=== {which} maintenance profile ({sf}) ===")
    for label in sorted(TIMES, key=lambda k: -sum(TIMES[k])):
        ts = TIMES[label]
        jobs = f"  jobs={JOBS[label]}" if label in JOBS else ""
        print(
            f"{sum(ts):8.2f}s  n={len(ts):3d}  max={max(ts):6.2f}s  {label}{jobs}"
        )
    spark.stop()


if __name__ == "__main__":
    main()
