"""Measurement helpers that need no query surface: the Spark jobs,
stages, tasks and task-seconds of one call (``job_span``), the host's
cumulative CPU steal, and the cached-block and GC hygiene a long
measurement run does between entries.  Imports nothing from ``plans``, so
a CDC-only process (the tests, a tick probe) can use it without loading
the declared query surface.
"""

from __future__ import annotations

import uuid
from dataclasses import dataclass

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
    (/proc/stat col 8, jiffies/100): on a shared host, steal spikes
    are the measured root cause of the multi-entity bench
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
