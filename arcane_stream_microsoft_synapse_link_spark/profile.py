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
import uuid
from dataclasses import asdict, dataclass

from pyspark.sql import SparkSession

from .catalog import DEFAULT_SF_DIR
from .plans import QUERIES
from .session import default_parallelism, get_spark

# the smoke scale, beside the default data dir
WARM_DIR = os.path.join(os.path.dirname(DEFAULT_SF_DIR), "sf0.001")
# the local properties ``setJobGroup`` sets, restored when a span ends
_GROUP_PROPS = ("spark.jobGroup.id", "spark.job.description", "spark.job.interruptOnCancel")


def release_cached_blocks(spark) -> None:
    """Unpersist every cached/checkpointed RDD left behind by a query.

    localCheckpoint() pins blocks until the JVM garbage-collects the RDD;
    across an 86-query run those blocks accumulate and squeeze execution
    memory for the tail queries (observed as multi-x slowdowns on late
    queries with untouched code)."""
    try:
        for rdd in spark.sparkContext._jsc.getPersistentRDDs().values():
            rdd.unpersist(False)
    except Exception:
        pass


def steal_seconds() -> float:
    """Cumulative hypervisor steal time of this VM in CPU-seconds
    (/proc/stat col 8, jiffies/100): the sandbox shares a host, and
    steal spikes are the measured root cause of the multi-entity bench
    variance (r13 diagnosis, commit ad3eb61) — an attempt
    that lost 170 CPU-s to the neighbor measures the neighbor.  Returns
    0.0 where /proc/stat is unavailable (the estimator then degrades to
    plain median-of-3)."""
    try:
        with open("/proc/stat") as fh:
            return int(fh.readline().split()[8]) / 100.0
    except (OSError, ValueError, IndexError):
        return 0.0


def gc_hint(spark) -> None:
    """Nudge the driver JVM to GC so ContextCleaner actually runs.

    Spark frees shuffle files and broadcast blocks only when the driver
    garbage-collects the weakly-referenced RDD/broadcast handles — and a
    128 GiB heap under a ~360-execution bench run may never GC on its own.
    Measured without this: entries in the run's back half inflate 3-10×
    (ops_cube_agg 2.1→19.1 s, q14 0.6→10.4 s) and the closing CDC scenario
    drops from ~19k to ~8k rows/s, all with untouched code — accumulated
    shuffle/broadcast state, not the plans. The production analog: a
    resident multi-query service should leave periodic GC (or
    ContextCleaner's periodicGC.interval, default 30 min) tuned well below
    the rate queries retire shuffle state."""
    try:
        spark.sparkContext._jvm.System.gc()
    except Exception:
        pass


@dataclass(frozen=True)
class JobSpan:
    jobs: int  # Spark jobs started
    stages: int  # stages that ran (skipped stages excluded)
    tasks: int  # completed tasks of those stages
    task_s: float  # their summed executor run time, seconds


def job_span(spark, fn):
    """``(fn(), JobSpan)``: ``fn`` runs inside a fresh job group and the
    span counts that group's jobs from the status store.  The caller's
    job group, if any, is restored afterwards."""
    sc = spark.sparkContext
    group = f"span-{uuid.uuid4().hex}"
    prior = [sc.getLocalProperty(k) for k in _GROUP_PROPS]
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        for k, v in zip(_GROUP_PROPS, prior):
            sc.setLocalProperty(k, v)
    # the status store is fed by the asynchronous listener bus
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    tracker, store = sc.statusTracker(), sc._jsc.sc().statusStore()
    jobs = tracker.getJobIdsForGroup(group)
    stage_ids = {s for j in jobs if (info := tracker.getJobInfo(j)) for s in info.stageIds}
    ran = [d for d in map(store.lastStageAttempt, stage_ids) if d.numCompleteTasks() > 0]
    return out, JobSpan(
        jobs=len(jobs),
        stages=len(ran),
        tasks=sum(d.numCompleteTasks() for d in ran),
        task_s=round(sum(d.executorRunTime() for d in ran) / 1e3, 3),
    )


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
