"""One profiler for the declared query surface.

For each named ``plans.QUERIES`` entry: one warm-up run at sf0.001, then
``--runs`` timed runs at ``--sf`` — the same full ``collect()`` that
``bench.py`` times — each split into build (constructing the DataFrame)
and execute (``collect``), with the hypervisor steal it suffered and the
Spark jobs, stages, tasks and task-seconds of its job group
(``job_span``).  Prints one JSON line per entry: the median wall clock,
every run's wall clock and steal, and the median run's build/execute
split and job-group figures.  ``--explain`` prints the entry's
``explain("formatted")`` at the target scale before the timed runs.

Core scaling (c8 against c32) is two invocations under
``SPARK_GRAFT_CPUS``; the report records the core count it ran on.

Run: python -m arcane_stream_microsoft_synapse_link_spark.profile NAME... [--runs N] [--sf DIR] [--explain]
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time
from dataclasses import asdict

from pyspark.sql import SparkSession

from .catalog import DEFAULT_SF_DIR
from .jobspan import gc_hint, job_span, release_cached_blocks, steal_seconds
from .plans import QUERIES
from .session import default_parallelism, get_spark

# the smoke scale, beside the default data dir
WARM_DIR = os.path.join(os.path.dirname(DEFAULT_SF_DIR), "sf0.001")


def _timed_run(spark, fn, sf_dir: str) -> dict:
    s0, t0 = steal_seconds(), time.perf_counter()
    df = fn(spark, sf_dir)
    t1 = time.perf_counter()
    df.collect()
    t2 = time.perf_counter()
    return {"wall_s": t2 - t0, "build_s": t1 - t0, "steal_s": steal_seconds() - s0}


def profile(spark, name: str, sf_dir: str, runs: int, explain: bool = False) -> dict:
    """One entry's report (see the module docstring)."""
    fn = QUERIES[name]
    fn(spark, WARM_DIR).collect()  # codegen and Python-worker warm-up
    release_cached_blocks(spark)
    if explain:
        fn(spark, sf_dir).explain("formatted")
    gc_hint(spark)
    records = []
    for _ in range(runs):
        rec, span = job_span(spark, lambda: _timed_run(spark, fn, sf_dir))
        records.append({**rec, **asdict(span)})
        release_cached_blocks(spark)
    med = sorted(records, key=lambda r: r["wall_s"])[len(records) // 2]
    wall, build = round(med["wall_s"], 4), round(med["build_s"], 4)
    return {
        "entry": name,
        "sf_dir": sf_dir,
        "cpus": default_parallelism(),
        "median_s": wall,
        "runs_s": [round(r["wall_s"], 4) for r in records],
        "steal_s": [round(r["steal_s"], 1) for r in records],
        "build_s": build,
        "execute_s": round(wall - build, 4),
        **{k: med[k] for k in ("jobs", "stages", "tasks", "task_s")},
    }


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(
        prog="python -m arcane_stream_microsoft_synapse_link_spark.profile",
        description="Profile declared query entries: median wall clock with per-run "
        "steal, build/execute split, and jobs, stages, tasks and task-seconds.",
    )
    ap.add_argument("names", nargs="+", metavar="NAME", help="plans.QUERIES entry")
    ap.add_argument("--runs", type=int, default=3, help="timed runs per entry (default 3)")
    ap.add_argument("--sf", default=DEFAULT_SF_DIR, help="data dir of the timed runs")
    ap.add_argument("--explain", action="store_true", help='print explain("formatted") first')
    args = ap.parse_args(argv)
    if args.runs < 1:
        ap.error("--runs must be at least 1")
    unknown = [n for n in args.names if n not in QUERIES]
    if unknown:
        print(f"unknown entries: {unknown}", file=sys.stderr)
        return 2
    spark = SparkSession.getActiveSession() or get_spark("profile")
    for name in args.names:
        print(json.dumps(profile(spark, name, args.sf, args.runs, args.explain)), flush=True)
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
