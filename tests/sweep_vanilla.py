"""Strict oracle sweep on a VANILLA SparkSession — the closest local
replica of the driver's gate: no engine confs, executor PYTHONPATH set
explicitly (the driver imports ``__spark_entry__`` from the repo root),
ORACLE_SF-pinned entries compared at the gate's sf0.01 scale.

Run: python tests/sweep_vanilla.py [sf_dir [NAME...]]
Without names it compares every oracle-backed entry; with names, only
those (a name without an oracle fails).  Not collected by pytest (no
test_ prefix).
"""

from __future__ import annotations

import os
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from pyspark.sql import SparkSession  # noqa: E402

import __spark_entry__ as entry  # noqa: E402
from arcane_stream_microsoft_synapse_link_spark.plans import ORACLE_SF  # noqa: E402
from tests.oracle_harness import compare  # noqa: E402


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"

    spark = (
        SparkSession.builder.master("local[8]")
        .config("spark.sql.shuffle.partitions", "8")
        .config("spark.executorEnv.PYTHONPATH", REPO)
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")

    queries = entry.queries()
    oracle = entry.oracle_sql()
    fails = []
    for name in sys.argv[2:] or [n for n in queries if n in oracle]:
        t0 = time.time()
        try:
            ok, msg = compare(
                spark, ORACLE_SF.get(name, sf_dir), queries[name], oracle[name], strict=True
            )
        except Exception as e:  # noqa: BLE001
            ok, msg = False, f"EXC {type(e).__name__}: {e}"
        dt = time.time() - t0
        print(f"{'PASS' if ok else 'FAIL'} {name} {dt:.2f}s {'' if ok else msg[:300]}", flush=True)
        if not ok:
            fails.append(name)
    print(f"SUMMARY: {len(fails)} failures: {fails}", flush=True)
    return 1 if fails else 0


if __name__ == "__main__":
    raise SystemExit(main())
