"""Local replica of the driver's t2 correctness gate.

Runs every ``queries()`` entry on Spark and its ``oracle_sql()`` twin on
DuckDB over the same sf directory, then compares row count, column names, and
an order-insensitive multiset of normalized values.  Usage:

    python tools/check_correctness.py [sf_dir] [query ...]
    python tools/check_correctness.py [sf_dir] --window    # first 50 only
    python tools/check_correctness.py [sf_dir] --vanilla   # default-conf session

``--window`` replays exactly the driver's 50-entry cap (round-4 solo run:
50/50 green in ~67s at sf0.01).
"""

from __future__ import annotations

import math
import os
import sys
import time
import traceback

import duckdb

# check the checkout this script lives in, wherever it is run from
sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import __spark_entry__ as entrymod
from azuredatalakeindexer_spark.sources.fixtures import TABLES
from azuredatalakeindexer_spark.session import get_spark


def norm(v):
    if v is None:
        return "NULL"
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        return repr(v)
    if isinstance(v, bool):
        return str(v)
    return str(v)


def main() -> int:
    args = [a for a in sys.argv[1:] if a not in ("--vanilla", "--window")]
    vanilla = "--vanilla" in sys.argv[1:]
    window = "--window" in sys.argv[1:]  # first 50 only — the driver's cap
    sf = args[0] if args else "/root/testdata/sf0.001"
    only = set(args[1:])
    if vanilla:
        # emulate the driver's session: default confs, no factory tuning
        from pyspark.sql import SparkSession

        spark = (
            SparkSession.builder.master("local[8]")
            .appName("vanilla-check")
            .config("spark.ui.enabled", "false")
            .getOrCreate()
        )
    else:
        spark = get_spark("correctness-check")
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf}/{t}.parquet')"
        )

    qs = entrymod.queries()
    if window and not only:
        # --window emulates the driver's 50-entry cap; explicit query names
        # override it (slicing first would silently skip a requested tail
        # query and exit green)
        qs = dict(list(qs.items())[:50])
    oracles = entrymod.oracle_sql()
    failures = 0
    for name, fn in qs.items():
        if only and name not in only:
            continue
        t0 = time.time()
        try:
            sdf = fn(spark, sf)
            scols = sorted(sdf.columns)
            srows = sorted(
                tuple(norm(r[c]) for c in scols) for r in sdf.collect()
            )
        except Exception:
            print(f"FAIL {name}: spark error")
            traceback.print_exc()
            failures += 1
            continue
        if name not in oracles:
            print(f"okND {name}: rows={len(srows)} (no oracle — rows-only) [{time.time()-t0:.1f}s]")
            continue
        try:
            rel = con.sql(oracles[name])
            # HUGEINT/DECIMAL normalize differently through the driver's
            # dataframe fetch than Spark's bigint/double — flag them here
            # (tests/test_oracle_types.py pins the same invariant).
            for c, ty in zip(rel.columns, rel.types):
                ts = str(ty)
                if ts in ("HUGEINT", "UHUGEINT") or ts.startswith("DECIMAL"):
                    print(f"WARN {name}: oracle column {c} has driver-unstable type {ts}")
            cur = con.execute(oracles[name])
            ocols_raw = [d[0] for d in cur.description]
            orows_raw = cur.fetchall()
        except Exception as e:
            print(f"FAIL {name}: duckdb error: {e}")
            failures += 1
            continue
        ocols = sorted(ocols_raw)
        idx = [ocols_raw.index(c) for c in ocols]
        orows = sorted(tuple(norm(r[i]) for i in idx) for r in orows_raw)
        if [c.lower() for c in scols] != [c.lower() for c in ocols]:
            print(f"FAIL {name}: columns spark={scols} duck={ocols}")
            failures += 1
            continue
        if len(srows) != len(orows):
            print(f"FAIL {name}: rowcount spark={len(srows)} duck={len(orows)}")
            print("  spark sample:", srows[:2])
            print("  duck  sample:", orows[:2])
            failures += 1
            continue
        if srows != orows:
            diffs = [
                (s, o) for s, o in zip(srows, orows) if s != o
            ]
            print(f"FAIL {name}: {len(diffs)} differing rows of {len(srows)}")
            for s, o in diffs[:3]:
                print("  spark:", s)
                print("  duck :", o)
            failures += 1
            continue
        print(f"ok   {name}: rows={len(srows)} hash-match [{time.time()-t0:.1f}s]")
    spark.stop()
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main())
