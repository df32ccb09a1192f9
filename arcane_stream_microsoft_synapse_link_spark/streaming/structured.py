"""Structured Streaming CDC runner: synapse_link source → foreachBatch merge.

The fully idiomatic Spark rewrite of the reference's streaming graph
(SURVEY.md §3.1): ``readStream.format("synapse_link")`` replaces the ZIO
poll loop, ``foreachBatch`` replaces StagingProcessor→MergeBatchProcessor,
the checkpoint replaces the watermark store (B11 — the folder-name offset
is committed by Spark after each successful micro-batch), and
``Trigger.ProcessingTime(changeCaptureInterval)`` / ``availableNow``
replace change-capture vs batch-backfill scheduling
(crd-microsoft-synapse-link-beta.yaml execution backends).

The source supplies offsets only (the folder names of each micro-batch);
``foreachBatch`` hands them to ``StreamRunner.merge_folders`` — the step
the driver-side loop (runner.py, the survey's M3 fallback) runs every
tick — so both drivers read CSV through the one JVM reader and merge
through the same chain.

The streaming intake gates (``run_*_stream``) all run through one
combinator, ``_run_gate``, and its replay contract is theirs: a gate's
step sees each micro-batch with a ``_GateBatch`` handle onto the gate's
stores (``work_dir/<store>/``).

- ``g.write(store, df)`` lands the batch's rows in
  ``<store>/batch_id=N/`` with ``mode("overwrite")`` (``write_batch``), so
  Spark's foreachBatch replay of an uncommitted batch REPLACES the crashed
  attempt's partial output instead of appending next to it — the
  effectively-exactly-once discipline the reference enforces with
  stage→merge→watermark ordering (StreamRunner.scala:198-233) and the CDC
  core with idempotent MERGE + commit-then-watermark, in the idiom of an
  append-only parquet layout.  Each write is followed by the test-only
  crash point ``fault_hook("after_<store>", batch_id)``.
- ``g.prior(store)`` is ``read_batches(..., before=batch_id)``: only
  COMPLETE (``_SUCCESS``) batch partitions strictly older than the
  replaying batch are visible, so a crashed attempt's partial index/corpus
  rows can never match against their own replay.
- With ``compact_every=N`` the combinator compacts every store after each
  N-th batch, keeping the two newest batches (the replay window)
  un-compacted.
"""

from __future__ import annotations

import operator
import os
import shutil
import time
from collections.abc import Callable
from dataclasses import dataclass
from functools import reduce
from pathlib import Path

from pyspark.sql import DataFrame, SparkSession

from ..sources.stream import register
from ..sources.synapse import _SCHEME_RE
from ..streaming.runner import StreamRunner, StreamSpec

# Test-only fault injection point: called as fault_hook(stage, batch_id)
# after each per-batch write (stage ``after_<store>``) so the
# kill-between-appends replay tests can crash the query at the exact
# window the batch-keyed layout protects.
FaultHook = Callable[[str, int], None]


def batch_dir(root: str, batch_id: int) -> str:
    return os.path.join(root, f"batch_id={batch_id}")


def write_batch(
    df: DataFrame, root: str, batch_id: int, partition_by: tuple[str, ...] = ()
) -> None:
    """Idempotent per-micro-batch parquet write: the batch's rows land in
    ``root/batch_id=N/`` with ``mode("overwrite")`` — a foreachBatch replay
    (same batch_id, same source rows by the WAL contract) overwrites the
    crashed attempt instead of double-appending.  ``_SUCCESS`` in the batch
    directory marks it complete; partial crashed writes lack it and are
    invisible to ``read_batches``."""
    w = df.write.mode("overwrite")
    if partition_by:
        w = w.partitionBy(*partition_by)
    w.parquet(batch_dir(root, batch_id))


_COMPACT_MANIFEST = "_compacted.json"
_COMPACT_LOCK = "_compact.lock"
_COMPACT_LOCK_TTL_S = 3600.0  # a crashed compactor's lock is stolen after this


def _read_manifest(root: str) -> dict:
    import json

    p = os.path.join(root, _COMPACT_MANIFEST)
    if not os.path.exists(p):
        return {"segments": []}
    with open(p) as f:
        return json.load(f)


def read_batches(
    spark: SparkSession, root: str, before: int | None = None
) -> DataFrame | None:
    """Read the COMPLETE (``_SUCCESS``-marked) batch partitions of a
    ``write_batch`` layout, optionally only those with ``batch_id <
    before`` (inside ``step`` pass the current batch_id so a replay never
    sees its own crashed attempt's partial rows).  Returns ``None`` when
    no complete batch exists yet — the first-batch signal.

    Compaction-aware: batch dirs covered by a ``_compacted.json``
    manifest segment (``compact_batches``) are skipped and the segment
    read instead.  A segment is indivisible, so ``before`` must be
    strictly greater than every covered id — ``compact_batches``'s
    ``keep_last`` floor guarantees that for the gates' replay window; a
    violation raises rather than silently over-reading."""
    if not os.path.isdir(root):
        return None
    manifest = _read_manifest(root)
    covered: set[int] = set()
    seg_paths: list[str] = []
    for seg in manifest["segments"]:
        if before is not None and seg["max_covered"] >= before:
            raise ValueError(
                f"read_batches(before={before}): segment {seg['dir']} covers "
                f"batch {seg['max_covered']} — compaction crossed the replay "
                "window (compact with a larger keep_last)"
            )
        covered.update(seg["covered"])
        seg_paths.append(os.path.join(root, seg["dir"]))
    paths = []
    for name in sorted(os.listdir(root)):
        if not name.startswith("batch_id="):
            continue
        b = int(name.split("=", 1)[1])
        if b in covered:
            continue  # superseded by a segment; dir may await cleanup
        if (before is None or b < before) and os.path.exists(
            os.path.join(root, name, "_SUCCESS")
        ):
            paths.append(os.path.join(root, name))
    parts = []
    if paths:
        # basePath keeps the batch_id partition column inference rooted
        parts.append(
            spark.read.option("basePath", root).parquet(*paths).drop("batch_id")
        )
    if seg_paths:
        # segments are plain leaf dirs — read WITHOUT basePath so no
        # partition column is inferred from the segment=lo-hi path
        parts.append(spark.read.parquet(*seg_paths))
    if not parts:
        return None
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


def compact_batches(
    spark: SparkSession, root: str, keep_last: int = 2, target_partitions: int = 1
) -> int:
    """Small-files maintenance for the gates' batch-dir state stores —
    the C1 OPTIMIZE story extended to streaming state: a long-lived
    intake gate accumulates one ``batch_id=N`` directory per micro-batch
    (at a 10 s cadence that is ~8.6k directories/day of tiny files, the
    classic small-files killer at 100 TB); this coalesces every retired
    batch (and any prior segment) into ONE ``segment=lo-hi`` parquet
    directory.

    Crash-safe without a transaction log, in the engine's established
    discipline: (1) the merged segment is written with its own
    ``_SUCCESS``; (2) the manifest (``_compacted.json``) is swapped
    atomically (tmp + ``os.replace``) — the single commit point; (3)
    covered batch dirs and superseded segments are NOT deleted in this
    cycle: they are recorded in the manifest's ``pending_delete`` list
    and physically removed by the NEXT compaction run (grace-period
    deletion).  A concurrent in-flight micro-batch — or a cadence job
    compacting while the stream serves — may have listed the retired
    dirs from the PREVIOUS manifest before the swap; deferring the
    rmtree one full compaction cycle means every such reader finishes
    its scan against files that still exist, while readers that pick up
    the new manifest skip the covered dirs anyway (``read_batches``
    filters them).  A crash before (2) leaves an orphan segment dir that
    readers ignore (the manifest is the source of truth) and the next
    compaction queues for deletion; a crash before the manifest rewrite
    of a later cycle just leaves the pending list for the cycle after.

    ``keep_last`` newest batches stay un-compacted so a foreachBatch
    replay of the latest (possibly uncommitted) micro-batch never
    collides with a segment (``read_batches`` enforces this with a hard
    error rather than over-reading); ``keep_last >= 1`` is enforced HERE
    (not in callers) because ``keep_last=0`` could fold the newest,
    still-uncommitted batch into a segment and permanently wedge the
    stream's restart replay.  Returns the number of batch dirs retired
    (0 = nothing to do)."""
    if keep_last < 1:
        raise ValueError(
            f"compact_batches(keep_last={keep_last}): keep_last must be >= 1 — "
            "compacting the newest batch can cover an uncommitted micro-batch "
            "and wedge the stream's restart replay"
        )
    if not os.path.isdir(root):
        return 0
    # single-compactor lock: a cadence job and a gate's in-step
    # compact_every would otherwise race on the manifest (last-write-wins)
    # and on the physical deletes.  O_CREAT|O_EXCL is the atomic
    # take-it-or-leave-it; a loser skips the cycle (compaction is cadence
    # work — the next tick retries).  A crash while holding the lock is
    # healed by the TTL: a lock older than lock_ttl_s is stolen.
    lock_path = os.path.join(root, _COMPACT_LOCK)
    try:
        lock_fd = os.open(lock_path, os.O_CREAT | os.O_EXCL | os.O_WRONLY)
    except FileExistsError:
        try:
            stale = (time.time() - os.path.getmtime(lock_path)) > _COMPACT_LOCK_TTL_S
        except OSError:
            stale = False
        if not stale:
            return 0
        # Atomic steal: unlink+recreate is NOT atomic — two compactors that
        # both observe a stale lock can interleave so B's unlink removes A's
        # freshly created lock and both proceed (the double-run the lock
        # exists to prevent).  os.rename of the stale lock to a unique name
        # is the arbiter: exactly one renamer succeeds (rename is atomic and
        # the source vanishes), the loser's rename raises and it skips the
        # cycle.  A third arrival between the winner's rename and re-create
        # can take the fresh O_EXCL slot — then the winner's open fails and
        # it yields: still at most one compactor.
        import uuid

        steal_path = f"{lock_path}.steal.{os.getpid()}.{uuid.uuid4().hex}"
        try:
            os.rename(lock_path, steal_path)
        except OSError:
            return 0
        try:
            os.unlink(steal_path)
        except OSError:
            pass
        try:
            lock_fd = os.open(lock_path, os.O_CREAT | os.O_EXCL | os.O_WRONLY)
        except OSError:
            return 0
    try:
        os.write(lock_fd, str(os.getpid()).encode())
    finally:
        os.close(lock_fd)
    try:
        return _compact_batches_locked(spark, root, keep_last, target_partitions)
    finally:
        try:
            os.unlink(lock_path)
        except OSError:
            pass


def _compact_batches_locked(
    spark: SparkSession, root: str, keep_last: int, target_partitions: int
) -> int:
    import json

    manifest = _read_manifest(root)
    old_segments = manifest["segments"]
    # grace-period cleanup: dirs retired by the PREVIOUS compaction cycle
    # have now survived one full cycle — no reader planned before that
    # cycle's manifest swap can still be scanning them; delete for real.
    # Defense in depth on top of the lock: never delete a name the LIVE
    # manifest still references (a pre-lock compactor could have folded a
    # pending segment back in), silently dropping it from the queue.
    live_refs = {s["dir"] for s in old_segments}
    expired = [n for n in manifest.get("pending_delete", []) if n not in live_refs]
    for name in expired:
        shutil.rmtree(os.path.join(root, name), ignore_errors=True)
    # orphan-segment sweep: a crash between segment write and manifest
    # swap leaves a segment dir no manifest references — unreachable by
    # readers (the manifest is the source of truth), so queue it for
    # grace-period deletion alongside this cycle's retirees.
    referenced = {s["dir"] for s in old_segments}
    orphan_segments = [
        name
        for name in os.listdir(root)
        if name.startswith("segment=")
        and name not in referenced
        and name not in expired
    ]
    covered: set[int] = set()
    for seg in old_segments:
        covered.update(seg["covered"])
    complete = []
    for name in sorted(os.listdir(root)):
        if not name.startswith("batch_id="):
            continue
        b = int(name.split("=", 1)[1])
        if b not in covered and os.path.exists(os.path.join(root, name, "_SUCCESS")):
            complete.append((b, os.path.join(root, name)))
    complete.sort()
    retire = complete[: max(0, len(complete) - keep_last)]

    def _swap_manifest(m: dict) -> None:
        tmp = os.path.join(root, _COMPACT_MANIFEST + "._tmp")
        with open(tmp, "w") as f:
            json.dump(m, f)
        os.replace(tmp, os.path.join(root, _COMPACT_MANIFEST))

    if not retire:
        # nothing to compact, but persist the grace-period bookkeeping:
        # expired dirs are gone (drop them from pending) and fresh
        # orphans enter the queue for the next cycle.
        if expired or orphan_segments:
            _swap_manifest(
                {"segments": old_segments, "pending_delete": sorted(orphan_segments)}
            )
        return 0
    ids = sorted(covered | {b for b, _ in retire})
    lo, hi = ids[0], ids[-1]
    seg_dir = f"segment={lo}-{hi}"
    df = (
        spark.read.option("basePath", root)
        .parquet(*[p for _, p in retire])
        .drop("batch_id")
    )
    if old_segments:
        df = df.unionByName(
            spark.read.parquet(*[os.path.join(root, s["dir"]) for s in old_segments])
        )
    df.coalesce(target_partitions).write.mode("overwrite").parquet(
        os.path.join(root, seg_dir)
    )
    # everything superseded by the new segment waits one grace cycle:
    # retired batch dirs, superseded segments, stale covered dirs from a
    # pre-upgrade crash, and unreferenced orphan segments.
    pending = {os.path.basename(p) for _, p in retire}
    pending.update(s["dir"] for s in old_segments if s["dir"] != seg_dir)
    pending.update(o for o in orphan_segments if o != seg_dir)
    covered_all = set(ids)
    for name in os.listdir(root):
        if name.startswith("batch_id=") and int(name.split("=", 1)[1]) in covered_all:
            pending.add(name)
    _swap_manifest(
        {
            "segments": [{"dir": seg_dir, "covered": ids, "max_covered": hi}],
            "pending_delete": sorted(pending),
        }
    )
    return len(retire)


def read_stream(spark: SparkSession, spec: StreamSpec) -> DataFrame:
    """The spec's ``synapse_link`` stream: one ``_batch_folder`` row per
    admitted batch folder.

    Volume-scaled admission: ``max_folders_per_tick`` maps onto
    ``maxFoldersPerTrigger`` (the same coarse B6/B18 cap the batch runner
    enforces per tick) so the batch and structured paths shape intake
    identically.

    The source lists its offsets in Spark's Python planner worker, which
    has no SparkSession for the Hadoop FileSystem a scheme'd root
    (``file://``, ``abfss://``, ``s3://``) needs, so such a root is
    refused here on the driver rather than failing in that worker."""
    if _SCHEME_RE.match(spec.source_root):
        raise ValueError(
            f"read_stream cannot list source root {spec.source_root!r}: the "
            "synapse_link stream source reads local paths only; run a "
            "scheme'd root with StreamRunner.run or run_once"
        )
    register(spark)
    reader = (
        spark.readStream.format("synapse_link")
        .option("path", spec.source_root)
        .option("entity", spec.entity_name)
    )
    if spec.max_folders_per_tick:
        reader = reader.option("maxFoldersPerTrigger", spec.max_folders_per_tick)
    return reader.load()


def run_structured(
    spark: SparkSession,
    spec: StreamSpec,
    checkpoint_dir: str,
    available_now: bool = True,
):
    """Run the CDC stream; returns the StreamingQuery.

    ``available_now=True`` drains everything pending then stops (the test /
    cron-batch mode); ``False`` runs continuously at the change-capture
    interval. Each micro-batch collects its folder names and runs the
    batch runner's read-and-merge step on them (``merge_folders``: the
    prepare→dedup→version-guarded-merge chain, a snapshot commit, then the
    sink-side watermark) — merge idempotency makes replay of an
    uncommitted batch a no-op (exactly-once, SURVEY.md §7 item 4).
    """
    runner = StreamRunner(spark, spec)

    def merge_batch(batch_df: DataFrame, batch_id: int) -> None:
        names = sorted(r[0] for r in batch_df.collect())
        if names:
            runner.merge_folders([runner.source.folder(n) for n in names])

    writer = read_stream(spark, spec).writeStream.foreachBatch(merge_batch).option(
        "checkpointLocation", checkpoint_dir
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    else:
        writer = writer.trigger(processingTime=f"{int(spec.change_capture_interval_s)} seconds")
    if not spec.metrics_path:
        return writer.start()
    from .observability import jsonl_progress_listener

    listener = jsonl_progress_listener(spec.metrics_path, spark.streams)
    spark.streams.addListener(listener)
    try:
        query = writer.start()
    except BaseException:
        spark.streams.removeListener(listener)
        raise
    listener.bind(query)
    return query


def windowed_event_counts(
    df: DataFrame,
    ts_col: str = "ts",
    window: str = "1 hour",
    delay: str = "30 minutes",
) -> DataFrame:
    """Event-time tumbling-window counts with a late-data watermark
    (SURVEY.md §2.E extension surface — the reference has no windowed
    aggregation; Spark provides it natively).

    On a streaming DataFrame the watermark bounds state (windows older
    than max_event_time - delay are finalized and evicted) and drops rows
    arriving later than the delay; on a batch DataFrame ``withWatermark``
    is a no-op and this is exactly q26's tumbling aggregation — the
    parity test exploits that equivalence.
    """
    from pyspark.sql import functions as F

    return (
        df.withWatermark(ts_col, delay)
        .groupBy(F.window(ts_col, window))
        .agg(F.count("*").alias("cnt"))
        .select(F.col("window.start").alias("ws"), "cnt")
    )


@dataclass(frozen=True)
class _GateBatch:
    """One micro-batch as a gate step sees it: replay-safe reads and
    writes of the gate's stores (``work_dir/<store>``), keyed by
    ``batch_id`` (the replay contract in the module docstring)."""

    spark: SparkSession
    work_dir: str
    batch_id: int
    fault_hook: FaultHook | None

    def prior(self, store: str) -> DataFrame | None:
        """The store's complete batches older than this one; ``None``
        before the first."""
        return read_batches(
            self.spark, os.path.join(self.work_dir, store), before=self.batch_id
        )

    def write(
        self, store: str, df: DataFrame, partition_by: tuple[str, ...] = ()
    ) -> None:
        write_batch(df, os.path.join(self.work_dir, store), self.batch_id, partition_by)
        self.fault(f"after_{store}")

    def fault(self, stage: str) -> None:
        if self.fault_hook:
            self.fault_hook(stage, self.batch_id)


def _run_gate(
    spark: SparkSession,
    source: DataFrame,
    work_dir: str,
    checkpoint_dir: str,
    step: Callable[[DataFrame, _GateBatch], None],
    fault_hook: FaultHook | None = None,
    compact_every: int | None = None,
):
    """Start an ``availableNow`` foreachBatch query that hands every
    micro-batch to ``step`` with a ``_GateBatch`` handle, then, after every
    ``compact_every``-th batch, compacts the gate's stores.  ``keep_last=2``
    keeps this batch and its predecessor un-compacted, so a replay of
    either never collides with a segment; compaction itself is
    replay-idempotent (manifest commit point).  Returns the started
    StreamingQuery."""

    def run(batch_df: DataFrame, batch_id: int) -> None:
        step(batch_df, _GateBatch(spark, work_dir, batch_id, fault_hook))
        if compact_every and (batch_id + 1) % compact_every == 0:
            compact_gate_state(spark, work_dir, keep_last=2)

    return (
        source.writeStream.foreachBatch(run)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )


def run_dedup_stream(
    spark: SparkSession,
    source: DataFrame,
    work_dir: str,
    checkpoint_dir: str,
    threshold: float = 0.7,
    text_col: str = "text",
    id_col: str = "doc_id",
    fault_hook: FaultHook | None = None,
    compact_every: int | None = None,
):
    """Streaming corpus curation: near-dup-filter every micro-batch of
    documents against the ACCUMULATED band index before admission — the
    streaming twin of ``functions.dedup.incremental_near_duplicates``.

    Per micro-batch (foreachBatch):

    1. sign the batch and probe the stored ``(band, bh, idx_id)`` index
       (only the batch is signed — the accumulated corpus is never
       re-signed, so per-batch cost is O(batch), the property that makes
       continuous intake dedup viable at a growing 100 TB corpus);
    2. exact-Jaccard-verify candidates and record hits (``hits/``);
    3. append survivors to ``corpus/`` and their band rows to
       ``band_index/`` (bucket the index table by ``(band, bh)`` in a
       production layout so step 1's probe prunes partitions).

    Returns the started StreamingQuery."""
    from pyspark.sql import functions as F

    from ..functions.dedup import incremental_near_duplicates, minhash_band_index

    def step(batch_df: DataFrame, g: _GateBatch) -> None:
        batch_df = batch_df.select(id_col, text_col).localCheckpoint()
        index = g.prior("band_index")
        if index is not None:
            hits = incremental_near_duplicates(
                batch_df, index, g.prior("corpus"), threshold, text_col, id_col
            ).localCheckpoint()
            g.write("hits", hits)
            dup_ids = hits.select(F.col("id_a").alias(id_col)).distinct()
            kept = batch_df.join(dup_ids, id_col, "left_anti").localCheckpoint()
        else:
            kept = batch_df
        g.write("corpus", kept)
        g.write("band_index", minhash_band_index(kept, text_col, id_col))

    return _run_gate(spark, source, work_dir, checkpoint_dir, step, fault_hook, compact_every)


def run_url_dedup_stream(
    spark: SparkSession,
    source: DataFrame,
    work_dir: str,
    checkpoint_dir: str,
    url_col: str = "url",
    id_col: str = "doc_id",
    text_col: str = "text",
    fault_hook: FaultHook | None = None,
    compact_every: int | None = None,
):
    """Streaming URL-level intake dedup — the crawl pipeline's stage-zero
    gate (RefinedWeb dedups on the canonical URL before reading any
    body): canonicalize each arriving document's URL
    (``functions.web.canonicalize_url``, one codegen'd projection), keep
    the best copy per canonical URL WITHIN the batch (longest text, ties
    to smallest id — the ``url_dedup`` arg-max), and reject anything
    whose canonical URL the gate has already admitted (cross-batch
    keep-FIRST, the refetch/mirror case).

    The accumulated state is canonical-URL-only — bytes per admitted
    page, not the page — so the per-batch cost is one projection, one
    batch-sized agg, and one key join against the index (bucket
    ``url_index`` by the canonical key's hash in a production layout so
    the probe prunes).  Rejections land in ``hits/`` with the stage that
    caught them (``batch`` vs ``index``).  Returns the started
    StreamingQuery."""
    from pyspark.sql import functions as F

    from ..functions.web import canonicalize_url

    def step(batch_df: DataFrame, g: _GateBatch) -> None:
        batch_df = batch_df.withColumn(
            "canon_url", canonicalize_url(F.col(url_col))
        ).localCheckpoint()
        row = F.struct(*[F.col(c) for c in batch_df.columns])
        best = (
            batch_df.groupBy("canon_url")
            .agg(
                F.max(
                    F.struct(
                        F.length(text_col).alias("len"),
                        (-F.col(id_col)).alias("neg"),
                        row.alias("r"),
                    )
                ).alias("b")
            )
            .select("b.r.*")
        )
        rejected_batch = (
            batch_df.join(best.select(id_col), id_col, "left_anti")
            .select("canon_url", id_col)
            .withColumn("reason", F.lit("batch"))
        )
        index = g.prior("url_index")
        if index is None:
            index = spark.createDataFrame([], "canon_url string")
        known = index.select("canon_url").distinct()
        kept = best.join(known, "canon_url", "left_anti").localCheckpoint()
        hits = rejected_batch.unionByName(
            best.join(known, "canon_url", "left_semi")
            .select("canon_url", id_col)
            .withColumn("reason", F.lit("index"))
        )
        g.write("hits", hits)
        g.write("corpus", kept)
        g.write("url_index", kept.select("canon_url"))

    return _run_gate(spark, source, work_dir, checkpoint_dir, step, fault_hook, compact_every)


def compact_gate_state(
    spark: SparkSession, work_dir: str, keep_last: int = 2
) -> dict[str, int]:
    """Maintenance-cadence sweep over every batch-dir store under a
    gate's ``work_dir`` (corpus / band_index / span_index / hits / clean
    / codes — any immediate subdirectory containing ``batch_id=``
    partitions): runs ``compact_batches`` on each, the gates' analog of
    the CDC table's ``_maintenance`` OPTIMIZE pass.  Run it between
    stream restarts or from a cadence job — ``keep_last`` keeps the
    replay window un-compacted either way.  Returns
    ``{store: dirs_retired}`` for observability."""
    out: dict[str, int] = {}
    if not os.path.isdir(work_dir):
        return out
    for name in sorted(os.listdir(work_dir)):
        store = os.path.join(work_dir, name)
        if not os.path.isdir(store):
            continue
        if any(c.startswith("batch_id=") for c in os.listdir(store)) or os.path.exists(
            os.path.join(store, _COMPACT_MANIFEST)
        ):
            out[name] = compact_batches(spark, store, keep_last=keep_last)
    return out


def _hash_index_step(
    index_store: str,
    clean: Callable[[DataFrame, DataFrame | None], DataFrame],
    hashes: Callable[[DataFrame], DataFrame],
    text_col: str,
    id_col: str,
) -> Callable[[DataFrame, _GateBatch], None]:
    """Step of the hash-index cleaning gates (span and exact-substring
    dedup): ``clean(batch, known)`` cuts every hash already in
    ``index_store`` from the batch, the cleaned documents (original +
    cleaned text, removal counts) go to ``corpus/``, then the batch's
    not-yet-known distinct hashes (``hashes(batch)``, column ``h``) go to
    ``index_store``.  Only the batch is hashed — the admitted corpus never
    is, so per-batch cost is O(batch)."""

    def step(batch_df: DataFrame, g: _GateBatch) -> None:
        batch_df = batch_df.select(id_col, text_col).localCheckpoint()
        known = g.prior(index_store)
        cleaned = clean(batch_df, known).localCheckpoint()
        g.write(
            "corpus",
            batch_df.withColumnsRenamed({id_col: "doc_id"}).join(cleaned, "doc_id"),
        )
        fresh = hashes(batch_df).select("h").distinct()
        if known is not None:
            fresh = fresh.join(known.select("h").distinct(), "h", "left_anti")
        g.write(index_store, fresh)

    return step


def run_span_dedup_stream(
    spark: SparkSession,
    source: DataFrame,
    work_dir: str,
    checkpoint_dir: str,
    sentence_words: int = 8,
    span_sents: int = 3,
    text_col: str = "text",
    id_col: str = "doc_id",
    fault_hook: FaultHook | None = None,
    compact_every: int | None = None,
):
    """Streaming C4 duplicate-span removal: every micro-batch is cleaned
    against the ACCUMULATED span-hash index before admission — the
    intake twin of ``functions.dedup.span_dedup`` (the batch entry
    ops_span_dedup), completing the streaming-gate family's coverage of
    the dedup operators (exact/near-dup → ``run_dedup_stream``,
    n-gram contamination → ``run_decontaminate_stream``, sub-document
    spans → here).

    Spans already in ``span_index/`` are removed from EVERY batch
    occurrence (their keeper copy was admitted by an earlier batch);
    fresh spans get the within-batch global-keep-first rule.  The index
    carries 32-byte md5 strings, never text — at 100 TB it stays a
    fraction of corpus size and the probe join is AQE-broadcast while it
    fits.  Hashes are taken from the ORIGINAL batch text (C4 semantics:
    spans created by stitching sentences around a removal are not
    re-checked)."""
    from ..functions.dedup import span_dedup, span_hashes

    step = _hash_index_step(
        "span_index",
        lambda b, known: span_dedup(b, known, sentence_words, span_sents, text_col, id_col),
        lambda b: span_hashes(b, sentence_words, span_sents, text_col, id_col),
        text_col,
        id_col,
    )
    return _run_gate(spark, source, work_dir, checkpoint_dir, step, fault_hook, compact_every)


def run_exact_substring_stream(
    spark: SparkSession,
    source: DataFrame,
    work_dir: str,
    checkpoint_dir: str,
    min_len: int = 20,
    text_col: str = "text",
    id_col: str = "doc_id",
    fault_hook: FaultHook | None = None,
    compact_every: int | None = None,
):
    """Streaming ExactSubstr removal: every micro-batch's verbatim
    duplicated runs of >= ``min_len`` tokens are cut against the
    ACCUMULATED gram-hash index before admission — the intake twin of
    ``functions.dedup.exact_substring_dedup`` (the batch entry
    ops_exact_substring_dedup), extending the gate family from
    fixed-granularity spans (run_span_dedup_stream) to the exact
    token-range form.

    Grams already in ``gram_index/`` are removed from EVERY batch
    occurrence (their keeper run was admitted earlier); fresh grams get
    the within-batch global-keep-first rule.  The index is hash-only — at
    100 TB one 32-byte hash per admitted token position, partition-pruned
    by the gate's compaction cadence like the other stores.  Hashes are
    taken from the ORIGINAL batch text (ExactSubstr semantics: runs
    created by stitching tokens around a removal are not re-checked)."""
    from ..functions.dedup import exact_substring_dedup, exact_substring_grams

    step = _hash_index_step(
        "gram_index",
        lambda b, known: exact_substring_dedup(b, known, min_len, text_col, id_col),
        lambda b: exact_substring_grams(b, min_len, text_col, id_col),
        text_col,
        id_col,
    )
    return _run_gate(spark, source, work_dir, checkpoint_dir, step, fault_hook, compact_every)


def _publish_once(path: str, build: Callable[[str], None]) -> None:
    """Materialize ``path`` once, atomically: ``build(tmp)`` fills a fresh
    sibling directory, which replaces ``path`` only when it holds
    ``_SUCCESS``.  A crash mid-build leaves no ``_SUCCESS`` at ``path``,
    so the next call rebuilds — a partial build is never accepted (it
    would silently under-filter every later batch)."""
    if os.path.exists(os.path.join(path, "_SUCCESS")):
        return
    tmp_dir = path + "._tmp"
    shutil.rmtree(tmp_dir, ignore_errors=True)
    build(tmp_dir)
    if not os.path.exists(os.path.join(tmp_dir, "_SUCCESS")):
        raise RuntimeError(f"{tmp_dir}: build finished without _SUCCESS")
    shutil.rmtree(path, ignore_errors=True)
    os.replace(tmp_dir, path)


def run_decontaminate_stream(
    spark: SparkSession,
    source: DataFrame,
    benchmark: DataFrame,
    work_dir: str,
    checkpoint_dir: str,
    n: int = 8,
    text_col: str = "text",
    id_col: str = "doc_id",
    fault_hook: FaultHook | None = None,
    use_bloom: bool = False,
):
    """Streaming decontamination: filter every micro-batch of incoming
    documents against a STATIC benchmark n-gram set before admission —
    the streaming twin of ``functions.dedup.decontaminate`` and the
    intake-side complement of ``run_dedup_stream`` (whose index grows;
    this one's reference set is fixed, so state never accumulates).

    The benchmark grams are computed ONCE, materialized to
    ``bench_grams/`` and re-read per batch (a foreachBatch closure
    holding a broadcast variable would leak it for the stream's
    lifetime; re-reading parquet lets each batch's broadcast be GC'd).
    Per micro-batch: gram-explode the batch, left-semi against the gram
    set (broadcast — an eval suite is tiny next to the intake), write
    contaminated ids to ``hits/`` and survivors to ``clean/``.  Per-batch
    cost is O(batch) with zero cross-batch state.

    ``use_bloom=True`` swaps the exact gram set for the fixed-size Bloom
    path (``functions.dedup.bloom_gram_filter`` / ``bloom_probe_stats``):
    the persisted state becomes one 128 KiB bitmap regardless of
    benchmark size, and the per-batch check an Arrow bit test instead of
    a gram join — for eval suites too large to broadcast exactly.  Same
    _SUCCESS build discipline; flags are a deterministic superset of the
    exact path's (one-sided Bloom FPs).
    """
    from pyspark.sql import functions as F

    from ..functions.dedup import bloom_gram_filter, bloom_probe_stats, words
    from ..functions.text import word_ngram_strings

    grams_dir = os.path.join(work_dir, "bench_grams")
    bloom_dir = os.path.join(work_dir, "bench_bloom")

    def exploded(d: DataFrame) -> DataFrame:
        return d.select(F.col(id_col), words(F.col(text_col)).alias("_w")).select(
            F.col(id_col), F.explode(word_ngram_strings(F.col("_w"), n)).alias("gram")
        )

    def build_bloom(tmp_dir: str) -> None:
        os.makedirs(tmp_dir)
        Path(tmp_dir, "bitmap.bin").write_bytes(bloom_gram_filter(benchmark, text_col, n))
        Path(tmp_dir, "_SUCCESS").touch()

    def build_grams(tmp_dir: str) -> None:
        exploded(benchmark).select("gram").distinct().write.mode("overwrite").parquet(tmp_dir)

    if use_bloom:
        _publish_once(bloom_dir, build_bloom)
    else:
        _publish_once(grams_dir, build_grams)

    def step(batch_df: DataFrame, g: _GateBatch) -> None:
        batch_df = batch_df.select(id_col, text_col).localCheckpoint()
        if use_bloom:
            with open(os.path.join(bloom_dir, "bitmap.bin"), "rb") as fh:
                bmp = fh.read()
            hit_ids = (
                bloom_probe_stats(batch_df, bmp, text_col, id_col, n)
                .where(F.col("contaminated") == 1)
                .select(id_col)
                .localCheckpoint()
            )
        else:
            bench = F.broadcast(spark.read.parquet(grams_dir))
            hit_ids = (
                exploded(batch_df)
                .join(bench, "gram", "left_semi")
                .select(id_col)
                .distinct()
                .localCheckpoint()
            )
        g.write("hits", hit_ids)
        g.write("clean", batch_df.join(hit_ids, id_col, "left_anti"))

    return _run_gate(spark, source, work_dir, checkpoint_dir, step, fault_hook)


def run_media_dedup_stream(
    spark: SparkSession,
    source: DataFrame,
    work_dir: str,
    checkpoint_dir: str,
    max_hamming: int = 6,
    id_col: str = "media_id",
    fault_hook: FaultHook | None = None,
    compact_every: int | None = None,
):
    """Streaming MULTIMODAL dedup: perceptual-dHash-filter every
    micro-batch of raw images against the ACCUMULATED hash index before
    admission — the media twin of ``run_dedup_stream`` (text) built from
    the r6 pieces: ``functions.multimodal.perceptual_hashes`` for the
    64-bit signatures, the SimHash-style 8-bit banding for index probes.

    Per micro-batch (foreachBatch):

    1. hash ONLY the batch's rows (Arrow mapInPandas — the accumulated
       corpus is never re-decoded or re-hashed, so per-batch cost is
       O(batch)): images get dHash, audio gets the energy-contour
       fingerprint; the two families live in ONE index separated by a
       ``kind`` column so an image can never match an audio clip;
    2. probe the stored ``(kind, band, chunk, idx_id, idx_phash)`` index
       with the batch's bands, verify exact Hamming ≤ ``max_hamming`` on
       the candidates, record hits (``hits/``: id_a = new, id_b =
       matched);
    3. append surviving media rows to ``corpus/`` (rows with no
       perceptual hash — video here — are admitted untouched) and the
       survivors' band rows to ``phash_index/`` (bucket by
       ``(kind, band, chunk)`` in a production layout so probes prune).

    The index probe catches cross-batch duplicates (within-batch dups of
    a single micro-batch are the batch job ``image_near_duplicates``'s
    job).  Returns the started StreamingQuery."""
    from pyspark.sql import functions as F

    from ..functions.multimodal import audio_fingerprints, perceptual_hashes

    band_bits, nbands = 8, 8
    mask = (1 << band_bits) - 1

    def bands(h: DataFrame, id_alias: str, hash_alias: str) -> DataFrame:
        return h.select(
            F.col(id_col).alias(id_alias),
            "kind",
            F.col("phash").alias(hash_alias),
            F.explode(
                F.array(
                    *[
                        F.struct(
                            F.lit(b).alias("band"),
                            F.shiftright(F.col("phash"), b * band_bits)
                            .bitwiseAND(F.lit(mask))
                            .alias("chunk"),
                        )
                        for b in range(nbands)
                    ]
                )
            ).alias("bb"),
        ).select(id_alias, "kind", hash_alias, "bb.band", "bb.chunk")

    def step(batch_df: DataFrame, g: _GateBatch) -> None:
        batch_df = batch_df.localCheckpoint()
        img_h = perceptual_hashes(batch_df, id_col).select(
            id_col, F.lit("img").alias("kind"), F.col("dhash").alias("phash")
        )
        aud_h = audio_fingerprints(batch_df, id_col=id_col).select(
            id_col, F.lit("aud").alias("kind"), F.col("ahash64").alias("phash")
        )
        h = img_h.unionByName(aud_h).localCheckpoint()
        idx = g.prior("phash_index")
        if idx is not None:
            hits = (
                bands(h, "id_a", "phash_a")
                .join(idx, ["kind", "band", "chunk"])
                .where(F.col("id_a") != F.col("idx_id"))
                .select(
                    "id_a",
                    F.col("idx_id").alias("id_b"),
                    F.bit_count(
                        F.col("phash_a").bitwiseXOR(F.col("idx_phash"))
                    ).alias("hamming"),
                )
                .where(F.col("hamming") <= max_hamming)
                .distinct()
                .localCheckpoint()
            )
            g.write("hits", hits)
            dup_ids = hits.select(F.col("id_a").alias(id_col)).distinct()
            kept = batch_df.join(dup_ids, id_col, "left_anti").localCheckpoint()
            kept_h = h.join(dup_ids, id_col, "left_anti")
        else:
            kept, kept_h = batch_df, h
        g.write("corpus", kept)
        g.write("phash_index", bands(kept_h, "idx_id", "idx_phash"))

    return _run_gate(spark, source, work_dir, checkpoint_dir, step, fault_hook, compact_every)


def run_ann_index_stream(
    spark: SparkSession,
    source: DataFrame,
    index_dir: str,
    checkpoint_dir: str,
    n_centroids: int = 16,
    m: int = 8,
    codes: int = 64,
    seed: int = 42,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    fault_hook: FaultHook | None = None,
):
    """Streaming ANN index maintenance: fold every micro-batch of new
    embeddings into the PERSISTED IVF-PQ index — the streaming form of
    ``similarity.ivfpq_fold_in`` and the serving-side complement of the
    dedup intake streams.

    Per micro-batch (foreachBatch):

    - first batch ever: train the model on it (``ivfpq_build``) and
      persist centroids + codebooks (``ivfpq_save(include_codes=False)``,
      ``params.json`` promoted atomically LAST — its presence is the
      model-exists marker, so a crash mid-save retrains on replay);
    - every later batch: load the FROZEN model (centroids/codebooks only
      — the historical codes stay on disk untouched), assign +
      residual-encode ONLY the batch, and write its code rows into
      ``codes/batch_id=N/centroid_id=.../``.  Per-batch cost is O(batch);
      queries keep serving from the same directory via ``ivfpq_load`` +
      ``ivfpq_probe`` between appends (the ``centroid_id`` filter still
      prunes at the nested partition level).

    Model staleness is the standard production trade: centroids trained
    on crawl 1 quantize later crawls slightly worse until an offline
    retrain cadence job rebuilds the index — the FAISS deployment shape.
    Returns the started StreamingQuery.
    """
    from ..functions.similarity import (
        _pq_encode,
        ivf_assign,
        ivfpq_build,
        ivfpq_load,
        ivfpq_save,
    )

    def step(batch_df: DataFrame, g: _GateBatch) -> None:
        if batch_df.isEmpty():
            return
        batch_df = batch_df.select(id_col, vec_col).localCheckpoint()
        trained = os.path.exists(os.path.join(index_dir, "params.json"))
        if trained:
            idx = ivfpq_load(spark, index_dir)
            assigned = ivf_assign(batch_df, idx.cents_df, id_col, vec_col)
            batch_codes = _pq_encode(assigned, idx.cent, idx.cb, id_col, vec_col)
        else:
            idx = ivfpq_build(
                batch_df, n_centroids=n_centroids, m=m, codes=codes, seed=seed,
                id_col=id_col, vec_col=vec_col,
            )
            batch_codes = idx.codes
        g.write("codes", batch_codes, partition_by=("centroid_id",))
        if not trained:
            ivfpq_save(idx, index_dir, include_codes=False)

    return _run_gate(spark, source, index_dir, checkpoint_dir, step, fault_hook)


# ---------------------------------------------------------------------------
# streaming curation gate: versioned model store + refresh
# ---------------------------------------------------------------------------


def _model_root(work_dir: str) -> str:
    return os.path.join(work_dir, "curation_model")


def _current_version(work_dir: str) -> str | None:
    cur = os.path.join(_model_root(work_dir), "CURRENT")
    if not os.path.exists(cur):
        return None
    with open(cur) as f:
        return f.read().strip()


def curation_model_dir(work_dir: str, version: str | None = None) -> str:
    """Directory of a curation-model version (default: the CURRENT one)."""
    version = version or _current_version(work_dir)
    if version is None:
        raise FileNotFoundError(f"no curation model trained under {work_dir}")
    return os.path.join(_model_root(work_dir), version)


def _train_curation_version(
    spark: SparkSession,
    work_dir: str,
    reference: DataFrame,
    target,
    text_col: str,
    id_col: str,
    dsir_variant: str,
    langid_label: str | None = None,
) -> str:
    """Train both curation models (DSIR λ table + IRLS quality classifier)
    from ``reference`` into the NEXT version directory and atomically
    promote it: the version dir is fully written (λ parquet with
    ``_SUCCESS``, then ``beta.json``) before the single-file ``CURRENT``
    pointer swings to it (tmp + ``os.replace``) — readers resolve
    ``CURRENT`` once per batch, so every batch scores with one CONSISTENT
    (λ, β) pair and an in-flight batch is unaffected by a concurrent
    refresh.  With ``langid_label`` (a label column on ``reference``) the
    version also carries the hashed-ngram NB language-ID model
    (functions/langid.py) — integer count tables, so the persisted model
    is byte-stable across restarts.  Returns the new version name."""
    import json

    from ..functions.classifier import irls_train, text_feature_frame
    from ..functions.curation import dsir_lambda_table, hashed_lambda_table
    from ..functions.langid import langid_doc_counts, langid_train

    root = _model_root(work_dir)
    os.makedirs(root, exist_ok=True)
    existing = [
        int(n[1:]) for n in os.listdir(root)
        if n.startswith("v") and n[1:].isdigit()
    ]
    version = f"v{(max(existing) + 1 if existing else 1):06d}"
    vdir = os.path.join(root, version)
    tmp_dir = vdir + "._tmp"
    shutil.rmtree(tmp_dir, ignore_errors=True)
    os.makedirs(tmp_dir)
    lam_fn = hashed_lambda_table if dsir_variant == "hashed" else dsir_lambda_table
    lam_fn(reference, target, text_col, id_col).write.mode("overwrite").parquet(
        os.path.join(tmp_dir, "lam")
    )
    feat = text_feature_frame(
        reference, text_col, id_col, keep=(target.cast("int").alias("label"),)
    )
    beta = irls_train(feat)
    with open(os.path.join(tmp_dir, "beta.json"), "w") as f:
        json.dump(beta, f)
    if langid_label is not None:
        langid_train(reference, text_col, langid_label).write.mode(
            "overwrite"
        ).parquet(os.path.join(tmp_dir, "langid_model"))
        langid_doc_counts(reference, langid_label).write.mode("overwrite").parquet(
            os.path.join(tmp_dir, "langid_counts")
        )
    os.replace(tmp_dir, vdir)
    cur_tmp = os.path.join(root, "CURRENT._tmp")
    with open(cur_tmp, "w") as f:
        f.write(version)
    os.replace(cur_tmp, os.path.join(root, "CURRENT"))
    return version


def curation_model_refresh(
    spark: SparkSession,
    work_dir: str,
    reference: DataFrame,
    target,
    text_col: str = "text",
    id_col: str = "doc_id",
    dsir_variant: str = "vocab",
    langid_label: str | None = None,
) -> str:
    """Retrain the streaming curation gate's models on a NEW reference
    corpus and atomically swap them in — the per-crawl retrain cadence a
    production intake runs offline.  Batches in flight keep the version
    they resolved at batch start; every batch that STARTS after the swap
    scores with the new model; a restart keeps the new model (``CURRENT``
    survives on disk).  Returns the new version name."""
    return _train_curation_version(
        spark, work_dir, reference, target, text_col, id_col, dsir_variant,
        langid_label,
    )


def run_curation_stream(
    spark: SparkSession,
    source: DataFrame,
    reference: DataFrame,
    target,
    work_dir: str,
    checkpoint_dir: str,
    min_score_ppm: int = 450000,
    min_dsir_ppm: int = 0,
    text_col: str = "text",
    id_col: str = "doc_id",
    dsir_variant: str = "vocab",
    fault_hook: FaultHook | None = None,
    langid_label: str | None = None,
    langid_accept: tuple[str, ...] = ("en",),
    langid_min_margin_ppm: int = 0,
    gopher: bool = False,
):
    """Streaming curation gate: score every micro-batch of incoming
    documents with BOTH trained curation models — the IRLS quality
    classifier (functions/classifier.py) and the DSIR importance λ table
    (functions/curation.py) — and route to ``accept/`` or ``reject/``
    with the scores attached.  The intake-side twin of
    ``ops_quality_classifier`` + ``ops_importance_weights``.

    Models live in a VERSIONED store (``curation_model/v000001/...`` + a
    ``CURRENT`` pointer file): the first run trains v000001 from the
    static ``reference`` corpus (``target`` is the seed-domain boolean
    Column over its rows); every batch resolves ``CURRENT`` once and
    scores with that version's consistent (λ, β) pair — O(batch) work,
    zero cross-batch state growth, restarts reuse the persisted model
    byte-for-byte.  ``curation_model_refresh`` retrains on a new
    reference and atomically swings ``CURRENT``; batches that start after
    the swap score with the new version (model-refresh e2e in
    tests/test_streaming.py).

    A doc is accepted when ``score_ppm ≥ min_score_ppm`` AND
    ``dsir_ppm ≥ min_dsir_ppm``; both scores are written either way, so
    downstream can re-threshold rejected docs without re-scoring.

    ``dsir_variant``: ``"vocab"`` persists the learned-bigram λ table;
    ``"hashed"`` persists the fixed 1024-bucket λ (the published DSIR
    form) — the natural choice for unbounded streams, since every future
    bigram already has a bucket and a λ, while an out-of-vocab bigram
    under ``"vocab"`` simply contributes 0.

    ``langid_label`` arms the language gate as the FIRST stage (the
    CCNet/C4/RefinedWeb/FineWeb ordering): the version dir additionally
    carries the hashed-ngram NB model (functions/langid.py) trained on
    ``reference``'s label column, every batch is scored in one Arrow
    sweep against the version's (bounded, integer) model, and a doc is
    accepted only when its prediction is in ``langid_accept`` with a
    log-odds margin ≥ ``langid_min_margin_ppm``.  Scored rows then carry
    ``lang_pred``/``margin_ppm`` plus ``first_reject`` ('langid' /
    'quality' / NULL) — the per-row attribution ops_curation_funnel_langid
    aggregates, so the intake funnel can be read straight off the gate's
    own output.

    ``gopher=True`` arms the published Gopher/MassiveText rule set
    (functions/text.py:gopher_rules) as the stage between langid and the
    trained scorers — exactly the published ordering (cheap stateless
    heuristics before model scoring): rejected rows carry
    ``first_reject='gopher'`` and their ``n_rules_failed``; the stage is
    a pure projection, so it adds no state and no shuffle to the
    gate."""
    import json

    from pyspark.sql import functions as F

    from ..functions.classifier import classifier_scores, text_feature_frame
    from ..functions.curation import dsir_score, hashed_dsir_score
    from ..functions.langid import collect_model, langid_predict
    from ..functions.text import gopher_rules

    if _current_version(work_dir) is None:
        _train_curation_version(
            spark, work_dir, reference, target, text_col, id_col, dsir_variant,
            langid_label,
        )

    def step(batch_df: DataFrame, g: _GateBatch) -> None:
        batch_df = batch_df.select(id_col, text_col).localCheckpoint()
        # resolve CURRENT once per batch: one consistent (λ, β) pair even
        # if a refresh lands mid-batch
        vdir = curation_model_dir(work_dir)
        lam = spark.read.parquet(os.path.join(vdir, "lam"))
        with open(os.path.join(vdir, "beta.json")) as f:
            beta = json.load(f)
        feat = text_feature_frame(batch_df, text_col, id_col)
        quality = classifier_scores(feat, beta, id_col=id_col)
        dsir_fn = hashed_dsir_score if dsir_variant == "hashed" else dsir_score
        dsir = dsir_fn(batch_df, lam, text_col, id_col)
        scored = batch_df.join(quality, id_col).join(
            dsir.select(id_col, "dsir_ppm"), id_col
        )
        # (name, passes) in gate order: langid, gopher, quality, dsir
        stages = [
            ("quality", F.col("score_ppm") >= min_score_ppm),
            ("dsir", F.col("dsir_ppm") >= min_dsir_ppm),
        ]
        if gopher:
            scored = scored.join(
                gopher_rules(batch_df, text_col, id_col).select(
                    id_col, "n_rules_failed"
                ),
                id_col,
            )
            stages.insert(0, ("gopher", F.col("n_rules_failed") == 0))
        if langid_label is not None and os.path.isdir(
            os.path.join(vdir, "langid_model")
        ):
            labels, logp, logprior = collect_model(
                spark.read.parquet(os.path.join(vdir, "langid_model")),
                spark.read.parquet(os.path.join(vdir, "langid_counts")),
            )
            preds = langid_predict(
                batch_df, labels, logp, logprior, text_col, id_col
            )
            scored = scored.join(preds, id_col)
            lang_ok = F.col("lang_pred").isin(list(langid_accept)) & (
                F.col("margin_ppm") >= langid_min_margin_ppm
            )
            stages.insert(0, ("langid", lang_ok))
        if len(stages) > 2:
            # langid or gopher armed: name the first stage a row failed
            # (NULL when it passed them all)
            scored = scored.withColumn(
                "first_reject",
                F.coalesce(*[F.when(~passes, F.lit(name)) for name, passes in stages]),
            )
        scored = scored.localCheckpoint()
        ok = reduce(operator.and_, [passes for _, passes in stages])
        g.write("accept", scored.where(ok))
        g.write("reject", scored.where(~ok))

    return _run_gate(spark, source, work_dir, checkpoint_dir, step, fault_hook)


def run_cc_stream(
    spark: SparkSession,
    source: DataFrame,
    work_dir: str,
    checkpoint_dir: str,
    src_col: str = "src",
    dst_col: str = "dst",
    fault_hook: FaultHook | None = None,
):
    """Streaming connected-components maintenance: each micro-batch of
    edges folds into a PERSISTED (node, component) labeling via
    ``functions.graph.cc_fold_in`` — the link graph a crawl accumulates
    is kept component-resolved as it streams in, without ever re-reading
    old edges (per batch: one label-table join to relabel the batch's
    endpoints, one batch-sized super-graph resolution, one label commit).

    Exactly-once EFFECT without a batch ledger: fold-in is idempotent —
    re-folding an already-applied batch relabels its endpoints to labels
    that are already merged, the super-graph has no ``la != lb`` edge
    left, and the commit rewrites an identical labeling — so a crash
    between the fold and the checkpoint advancing simply replays into a
    no-op.  Labels live in a ``VersionedTable`` (atomic pointer commits;
    a crash mid-write never corrupts the readable version).

    100-TB shape: the label table is node-sized and the per-batch work
    is batch-sized; the corpus and the historical edge stream never
    participate.  Returns the started StreamingQuery."""
    from pyspark.sql import functions as F

    from ..functions.graph import cc_fold_in
    from ..tables import VersionedTable

    labels_tbl = VersionedTable(os.path.join(work_dir, "cc_labels"))

    def step(batch_df: DataFrame, g: _GateBatch) -> None:
        edges = (
            batch_df.select(
                F.col(src_col).cast("bigint").alias("src"),
                F.col(dst_col).cast("bigint").alias("dst"),
            )
            .where(F.col("src") != F.col("dst"))
            .localCheckpoint()
        )
        if edges.isEmpty():
            return
        if labels_tbl.current_version() > 0:
            labels = labels_tbl.read(spark)
        else:
            labels = spark.createDataFrame([], "node bigint, component bigint")
        # the raw edge stream also lands in a replay-idempotent batch store
        # so rank maintenance (pagerank_refresh) can recompute over the
        # accumulated graph on its own cadence
        g.write("edges", edges)
        folded = cc_fold_in(labels, edges).localCheckpoint()
        g.fault("before_commit")
        labels_tbl.commit(folded)

    return _run_gate(spark, source, work_dir, checkpoint_dir, step, fault_hook)


def pagerank_refresh(
    spark: SparkSession, work_dir: str, iterations: int = 5
) -> int | None:
    """Maintenance-cadence PageRank over the edge stream a
    :func:`run_cc_stream` gate has accumulated — the crawl-frontier
    prioritization step (rank hosts/pages before deciding what to fetch
    or sample next), run on its own schedule like the other maintenance
    ops (`curation_model_refresh`, gate-state compaction).

    Reads the accumulated ``edges/`` batch store, computes the exact-ppm
    integer PageRank (`functions.graph.pagerank_ppm` — the declared
    oracle-backed recurrence) over every endpoint, and commits
    ``(node, rank_ppm)`` into ``work_dir/pagerank`` (a `VersionedTable`:
    readers always see a complete ranking; a crashed refresh leaves the
    previous version readable).  Returns the committed version, or None
    when no edges have arrived yet.  Unlike the per-batch label fold-in,
    rank is a GLOBAL fixpoint — an edge anywhere can shift every rank —
    so recompute-on-cadence is the honest form; the per-round cost is
    the documented one-join-one-agg over the edge table.

    SIMPLE-graph semantics, by design: the edge store is ``distinct``-ed
    before ranking, so a (src, dst) pair observed in several batches (a
    re-crawl re-reporting the same link) — or twice within one page —
    counts ONCE in out-degree and contribution weight.  This is the
    published host-rank convention (Common Crawl's host-level
    PageRank/harmonic ranks are computed on the distinct host→host
    graph).  Replay safety does NOT depend on this distinct —
    ``write_batch`` overwrites per batch_id — so a rank-weighted
    multigraph variant would drop the ``distinct()`` and feed
    per-(src,dst) counts as edge weights; it is not the declared form."""
    from pyspark.sql import functions as F

    from ..functions.graph import pagerank_ppm
    from ..tables import VersionedTable

    edges = read_batches(spark, os.path.join(work_dir, "edges"))
    if edges is None:
        return None
    edges = edges.select("src", "dst").distinct()
    nodes = (
        edges.select(F.col("src").alias("node"))
        .unionAll(edges.select(F.col("dst").alias("node")))
        .distinct()
    )
    ranks = pagerank_ppm(nodes, edges, iterations=iterations)
    return VersionedTable(os.path.join(work_dir, "pagerank")).commit(ranks)
