"""Stream runner: backfill + change-capture micro-batch loop.

The Spark rewrite of the reference's ZIO pipeline (SURVEY.md §3.1-3.2):

    poll changelog (A1) → pending folders (A2/B5) → read+type CSV (A3)
    → normalize (B2) → field selection (B1) → merge key (B4)
    → CDC merge: dedup latest (B8) + version guard (B9) in one window,
      schema evolution (B10)
    → commit snapshot → watermark (B11) → maintenance cadence (C1-C4)

Each batch folder is processed atomically: the snapshot commit lands
before the watermark advances, and the merge is idempotent (dedup makes
re-merge a no-op), so a crash between commit and watermark replays one
folder harmlessly — the exactly-once contract of the reference
(stage→merge→watermark order, StreamRunner.scala:198-233).

Backfill (B13-B17): full-history replay from ``backfill_start`` with
``Overwrite`` (CREATE OR REPLACE analog) or ``Merge`` finalization
(docs/backfill.md:27-47).
"""

from __future__ import annotations

import os
import time
from collections import deque
from dataclasses import dataclass, field

from pyspark.sql import Column, DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from ..exprmemo import schema_memo
from ..operators.dedup import latest_by_version
from ..operators.merge import cdc_merge
from ..operators.retry import RetryPolicy, with_retry
from ..operators.transforms import (
    ESSENTIAL_FIELDS,
    normalize_column_names,
    select_fields,
    with_merge_key,
)
from ..sources.synapse import BatchFolder, SynapseLinkSource
from ..tables import VersionedTable, type_changes
from .observability import MetricsRecorder


@dataclass
class StreamSpec:
    """Job config — mirrors the reference CRD's meaningful knobs
    (crd-microsoft-synapse.yaml; stream-context-serialized-example.json)."""

    entity_name: str
    source_root: str
    target_root: str
    key_column: str = "Id"
    version_column: str = "versionnumber"
    is_delete_column: str = "IsDelete"
    field_selection_mode: str = "all"  # all | include | exclude
    fields: tuple[str, ...] = ()
    # fieldSelectionRule.essentialFields override (empty → CRD defaults:
    # id, versionnumber, isdelete, arcane_merge_key)
    essential_fields: tuple[str, ...] = ()
    change_capture_interval_s: float = 300.0
    backfill_start: str | None = None
    backfill_behavior: str = "Overwrite"  # Overwrite | Merge
    optimize_batch_threshold: int = 60  # maintenance cadence (C1-C3)
    optimize_file_size_mb: int = 100  # C1 fileSizeThreshold (CRD default 100MB)
    analyze_batch_threshold: int = 180  # stats cadence (C4)
    analyze_included_columns: tuple[str, ...] = ()  # C4 includedColumns (empty → all)
    snapshots_to_keep: int = 4
    bucket_count: int = 0  # >0 → bucket target snapshots by merge key
    bucket_key: str = "arcane_merge_key"  # partitionExpressions bucket(col, N)
    # A9 partitionExpressions time/identity transforms, e.g. month(order_date)
    # — layout-only (reader scan pruning); merge pruning stays bucket-based
    # because only key-derived partitions are safe to prune a MERGE by
    target_partition_transforms: tuple[tuple[str, str], ...] = ()
    max_folders_per_tick: int = 0  # coarse admission cap (folders per tick)
    # B6 grouping (docs/crd.md:35-43): rows are emitted in groups of at most
    # rowsPerGroup; a partial group goes out when the grouping interval
    # elapses — here: per-commit row cap + backlog drain cadence
    rows_per_group: int = 0
    grouping_interval_s: float = 0.0
    # B18 static shaper (crd-microsoft-synapse.yaml:320-360): token bucket
    # "N per T second" + burst; groups are admitted at the advised rate
    advised_rate: str | None = None
    advised_burst: int = 0  # bucket capacity; <=0 → one second's worth
    # B19 memory-bound shaper (crd-microsoft-synapse.yaml:361-393):
    # shaper_impl "static" uses advised_rate; "memory_bound" prices each
    # group's memory cost against free memory through a sigmoid
    shaper_impl: str = "static"  # static | memory_bound
    chunk_cost_scale: float = 4.0
    chunk_cost_max: float = 0.5
    table_row_count_weight: float = 0.0
    table_size_weight: float = 1.0
    table_size_scale_factor: float = 0.5
    fallback_string_size: int = 64  # fallbackStringTypeSizeEstimate
    object_size: int = 256  # objectTypeSizeEstimate
    estimated_row_bytes: int = 0  # >0 overrides the schema-based estimate
    # A1 poll jitter (changeCaptureJitterVariance/Seed): each sleep is
    # interval × (1 ± U[0,variance)) — thundering-herd avoidance when many
    # entity streams poll the same storage account
    change_capture_jitter_variance: float = 0.0
    change_capture_jitter_seed: int | None = None
    retry: RetryPolicy = field(default_factory=RetryPolicy)  # B9 queryRetry*
    metrics_path: str | None = None  # observability: per-batch JSONL
    # DeclaredMetrics/DataDog.UdsPublisher analog: "udp:host:port" or
    # "uds:/path.sock" — per-batch StatsD datagrams (rows-in, rows-merged,
    # batch-duration)
    statsd_address: str | None = None
    metric_tags: tuple[tuple[str, str], ...] = ()  # observability.metricTags
    # A9 targetTableProperties: in-file sort order + parquet bloom filters
    target_sorted_by: tuple[str, ...] = ()
    target_bloom_filter_columns: tuple[str, ...] = ()
    # staging.table.isUnifiedSchema: true → disable B10 schema migration;
    # stage/target column-set mismatch becomes an error instead of auto-ADD
    is_unified_schema: bool = False
    # A6 staging.table.maxRowsPerFile: cap rows per written data file
    max_rows_per_file: int = 0
    # A5 storageConnection (crd-microsoft-synapse.yaml:499-539): endpoint +
    # shared-key/default auth + retry/page-size knobs.  For an s3://
    # source_root this builds a boto3-backed metadata IO
    # (sources/objectstore.py); for abfss:// roots the same block maps to
    # fs.azure.* conf via azure_hadoop_conf and this field stays None.
    storage_connection: dict | None = None


# folder names a runner remembers: a stream runs for months, so its
# memory holds counters and this many most recent names, not a history
FOLDER_TAIL = 256


@dataclass
class RunnerStats:
    batches_merged: int = 0
    folders_consumed: int = 0
    folders_seen: deque[str] = field(default_factory=lambda: deque(maxlen=FOLDER_TAIL))

    def consumed(self, folders: list[BatchFolder]) -> None:
        self.folders_consumed += len(folders)
        self.folders_seen.extend(f.name for f in folders)


@schema_memo
def _has_merge_key() -> Column:
    return F.col("arcane_merge_key").isNotNull()


@schema_memo
def _pin_metrics(bucketed: bool) -> tuple[Column, ...]:
    """What the tick's pin observes (per batch folder on the grouped
    tick): the staged rows as read and, on a bucketed table, the set of
    buckets they touch (at most ``bucket_count`` values)."""
    rows = F.count(F.lit(1)).alias("rows")
    return (rows, F.collect_set("__bucket").alias("buckets")) if bucketed else (rows,)


class StreamRunner:
    def __init__(self, spark: SparkSession, spec: StreamSpec):
        # maintenance runs every N merged batches: N <= 0 would divide by
        # zero after the first tick's commit and watermark
        for name in ("optimize_batch_threshold", "analyze_batch_threshold"):
            if getattr(spec, name) <= 0:
                raise ValueError(f"StreamSpec.{name} must be > 0, got {getattr(spec, name)!r}")
        self.spark = spark
        self.spec = spec
        source_io = None
        if spec.storage_connection is not None:
            from ..sources.azureblob import (
                AzureBlobStoreIO,
                azure_blob_connection,
                is_azure_path,
            )
            from ..sources.objectstore import S3StoreIO, is_s3_path, s3_connection

            if is_s3_path(spec.source_root):
                source_io = S3StoreIO(**s3_connection(spec.storage_connection))
            elif is_azure_path(spec.source_root):
                source_io = AzureBlobStoreIO(
                    **azure_blob_connection(
                        spec.storage_connection, source_root=spec.source_root
                    )
                )
        self.source = SynapseLinkSource(spec.source_root, spec.entity_name, io=source_io)
        self.table = VersionedTable(
            spec.target_root,
            bucket_count=spec.bucket_count,
            bucket_key=spec.bucket_key,
            sorted_by=spec.target_sorted_by,
            bloom_filter_columns=spec.target_bloom_filter_columns,
            partition_transforms=spec.target_partition_transforms,
            max_rows_per_file=spec.max_rows_per_file,
        )
        self.stats = RunnerStats()
        self.metrics = MetricsRecorder(
            spec.metrics_path,
            tags={"entity": spec.entity_name, **dict(spec.metric_tags)},
            statsd_address=spec.statsd_address,
        )
        if spec.shaper_impl == "memory_bound":
            from .throughput import MemoryBoundShaper

            self.shaper: TokenBucket | MemoryBoundShaper | None = MemoryBoundShaper(
                row_bytes=spec.estimated_row_bytes or (spec.fallback_string_size * 8),
                chunk_cost_scale=spec.chunk_cost_scale,
                chunk_cost_max=spec.chunk_cost_max,
                row_count_weight=spec.table_row_count_weight,
                size_weight=spec.table_size_weight,
                table_size_scale_factor=spec.table_size_scale_factor,
            )
        elif spec.advised_rate:
            from .throughput import TokenBucket, parse_advised_rate

            rate = parse_advised_rate(spec.advised_rate)
            self.shaper = TokenBucket(
                rate, capacity=float(spec.advised_burst) if spec.advised_burst > 0 else rate
            )
        else:
            self.shaper = None
        # B22 graceful-stop flag: set by SIGTERM (run() installs the handler)
        # or request_stop(); checked between merge groups so the in-flight
        # group finishes, its watermark commits, and the loop exits cleanly
        self._stop = False
        self._deferred = False  # True when shaping deferred part of a backlog

    def request_stop(self) -> None:
        self._stop = True

    # ---- suspend / reload lifecycle (reference arcane/state annotation,
    # docs/crd.md:9-14: suspended pauses capture without exit;
    # reload-requested triggers an in-place re-backfill) -------------------
    STATE_RUNNING = "running"
    STATE_SUSPENDED = "suspended"
    STATE_RELOAD = "reload-requested"

    def _state_path(self) -> str:
        return os.path.join(self.table.root, "_meta", "arcane_state")

    def desired_state(self) -> str:
        """Read the stream's desired state from the control file. Absent or
        unreadable → running (the reference treats a missing annotation the
        same way)."""
        try:
            with open(self._state_path()) as fh:
                return fh.read().strip() or self.STATE_RUNNING
        except OSError:
            return self.STATE_RUNNING

    def set_state(self, state: str) -> None:
        if state not in (self.STATE_RUNNING, self.STATE_SUSPENDED, self.STATE_RELOAD):
            raise ValueError(f"unknown stream state {state!r}")
        os.makedirs(os.path.dirname(self._state_path()), exist_ok=True)
        self.table._write_atomic(self._state_path(), state)

    def request_suspend(self) -> None:
        self.set_state(self.STATE_SUSPENDED)

    def request_resume(self) -> None:
        self.set_state(self.STATE_RUNNING)

    def request_reload(self) -> None:
        self.set_state(self.STATE_RELOAD)

    def toggle_suspend(self) -> None:
        """SIGUSR1 handler body: flip suspended ⇄ running."""
        if self.desired_state() == self.STATE_SUSPENDED:
            self.request_resume()
        else:
            self.request_suspend()

    # ---- shared transform chain (B2→B1→B4) -------------------------------
    def _prepare(self, df: DataFrame) -> DataFrame:
        df = select_fields(
            normalize_column_names(df),
            self.spec.field_selection_mode,
            self.spec.fields,
            essential=self.spec.essential_fields or ESSENTIAL_FIELDS,
        )
        df = with_merge_key(df, self.spec.key_column)
        # rows without a merge key cannot participate in MERGE; dropping
        # them keeps null-key garbage out of the dedup window
        return df.where(_has_merge_key())

    def _target(self) -> DataFrame | None:
        return self.table.read(self.spark) if self.table.exists() else None

    def _drop_deletes(self, df: DataFrame) -> DataFrame:
        """Filter delete rows before an Overwrite finalize; entities
        without an IsDelete column (cdc_merge also guards for its
        absence) pass through unchanged."""
        if self.spec.is_delete_column not in df.columns:
            return df
        return df.where(~F.coalesce(F.col(self.spec.is_delete_column), F.lit(False)))

    def _stage(self, df: DataFrame, tag_folder: bool = False) -> DataFrame:
        """The change rows as the merge takes them: prepared (B2→B1→B4),
        with their ``__bucket`` on a bucketed table and, with
        ``tag_folder``, their batch folder as ``__folder``: the path
        component above the entity directory, which spooled ``localize``
        paths keep."""
        staged = self._prepare(df)
        if tag_folder:
            staged = staged.withColumn(
                "__folder", F.element_at(F.split(F.input_file_name(), "/"), -3)
            )
        if self.table.bucket_count:
            staged = staged.withColumn("__bucket", self.table.bucket_expr())
        return staged

    def _merge_folder_batch(
        self,
        df: DataFrame,
        up_to_folder: str,
        seen: tuple[int, list[int]] | None = None,
    ) -> None:
        """Merge one change range and commit, then advance the watermark to
        ``up_to_folder``.  ``df`` is the raw read, staged and pinned inside
        the retried unit; with ``seen`` = (rows, touched buckets) it is
        already staged and pinned (a group of the grouped tick) and merges
        as it is."""
        from ..session import release_checkpoint

        t0 = time.time()
        metrics_on = bool(self.spec.metrics_path or self.spec.statsd_address)
        bucketed = bool(self.table.bucket_count)
        pinned: list[DataFrame] = []
        counted = [seen] if seen else []
        observed: list[Observation] = []

        def merge_and_commit() -> None:
            # the retried unit is parse+merge+commit — safe to replay because
            # the version-guarded merge is idempotent (re-merge is a no-op)
            if not counted:
                # the change folder is parsed once per tick, in this pin's
                # own job, which also observes the rows read and the
                # buckets they touch; the merge reads the pin
                pin_observed = Observation()
                staged = self._stage(df).observe(pin_observed, *_pin_metrics(bucketed))
                pinned.append(staged.localCheckpoint())
                got = pin_observed.get
                counted.append((got["rows"], got.get("buckets", [])))
            staged = pinned[0] if pinned else df
            # metrics ride on the commit's own plan; an Observation fills
            # once, so each attempt gets a fresh one
            observed[:] = [Observation()] if metrics_on else []
            target = self._target()
            touched = None  # None: rewrite the whole table
            # a column type change rewrites every bucket: hard-linked ones
            # would keep the old type
            if bucketed and target is not None and not type_changes(target.schema, staged.schema):
                # incremental path: merge into ONLY the buckets the batch
                # touches (partition-pruned target read); untouched buckets
                # are hard-linked forward by commit — at 100 TB the merge
                # cost follows the change set, not the table
                touched = sorted(counted[0][1])
                target = target.where(F.col("__bucket").isin(touched))
            merged = cdc_merge(
                target,
                staged,
                version_col=self.spec.version_column,
                is_delete_col=self.spec.is_delete_column,
                allow_schema_evolution=not self.spec.is_unified_schema,
                observation=observed[0] if observed else None,
                bucket=self.table.bucket_expr() if bucketed else None,
            )
            if touched is None:
                self.table.commit(merged)
            else:
                self.table.commit(merged, touched_buckets=touched)

        try:
            with_retry(merge_and_commit, self.spec.retry)
            self.table.set_watermark(up_to_folder)  # commit THEN watermark
            self.stats.batches_merged += 1
            if metrics_on:
                effect = observed[0].get
                self.metrics.record(
                    up_to_folder,
                    counted[0][0],
                    time.time() - t0,
                    inserts=effect["inserts"],
                    updates=effect["updates"],
                    deletes=effect["deletes"],
                    noops=effect["noops"],
                )
        finally:
            for pin in pinned:
                release_checkpoint(pin)
        self._maintenance()

    # ---- backfill (B13-B17) ------------------------------------------------
    def backfill(self) -> int:
        """Full-history replay; returns rows in the finalized target."""
        head = self.source.changelog_head()
        folders = self.source.list_folders(after=self.spec.backfill_start, up_to=head)
        if not folders:
            return 0
        df = self.source.read_folders(self.spark, folders)
        if df is None:
            return 0
        self._finalize(latest_by_version(self._prepare(df), version_col=self.spec.version_column))
        self.table.set_watermark(folders[-1].name)
        return self.table.read(self.spark).count()

    def _finalize(self, staged: DataFrame) -> None:
        """Commit a deduplicated backfill, retried as a backfill: Overwrite
        drops deletes and replaces the snapshot atomically (B15); Merge
        folds it into the live target without destroying it (B16)."""

        def finalize() -> None:
            if self.spec.backfill_behavior == "Overwrite":
                self.table.commit(self._drop_deletes(staged))
            else:
                self.table.commit(
                    cdc_merge(
                        self._target(),
                        staged,
                        version_col=self.spec.version_column,
                        is_delete_col=self.spec.is_delete_column,
                        allow_schema_evolution=not self.spec.is_unified_schema,
                        bucket=self.table.bucket_expr() if self.table.bucket_count else None,
                    )
                )

        with_retry(finalize, self.spec.retry, is_backfill=True)

    # ---- sharded resumable backfill (B14 + B17) -----------------------------
    def backfill_sharded(self, backfill_id: str, num_shards: int = 4) -> int:
        """Backfill split into folder shards, each staged independently and
        recorded in a per-backfill state file — a killed backfill resumes
        from the last completed shard instead of restarting (the reference's
        SynapseShardFactory + DefaultBackfillStateManager,
        main.scala:14-18,91-97; backfill id = STREAMCONTEXT__BACKFILL_ID).
        Staging dirs are uniquely named per backfill id / shard (A7, the
        reference's DefaultNameGenerator ``<prefix>_<GUID>`` staging names,
        docs/crd.md:99-104 — here the id itself is the unique suffix).

        The folder set is pinned at first run (recorded in the state file)
        so resume works on the same snapshot even if new folders land
        mid-backfill; they are picked up by the next change-capture tick.
        """
        import json
        import shutil

        state_path = os.path.join(self.table.root, "_meta", f"backfill_{backfill_id}.json")
        staging_root = os.path.join(self.table.root, "_backfill", backfill_id)

        if os.path.exists(state_path):
            with open(state_path) as fh:
                state = json.load(fh)
        else:
            head = self.source.changelog_head()
            folders = self.source.list_folders(after=self.spec.backfill_start, up_to=head)
            if not folders:
                return 0
            state = {
                "head": head,
                "folders": [f.name for f in folders],
                "num_shards": num_shards,
                "done": [],
            }
            self.table._write_atomic(state_path, json.dumps(state))

        by_name = {f.name: f for f in self.source.list_folders(up_to=state["head"])}
        names = state["folders"]
        n = state["num_shards"]
        shards = [names[i::n] for i in range(n)]

        for i, shard_names in enumerate(shards):
            if i in state["done"] or not shard_names:
                continue
            shard_folders = [by_name[x] for x in shard_names if x in by_name]
            df = self.source.read_folders(self.spark, shard_folders)
            if df is not None:
                staged = latest_by_version(self._prepare(df), version_col=self.spec.version_column)
                staged.write.mode("overwrite").parquet(os.path.join(staging_root, f"shard_{i}"))
            state["done"].append(i)
            self.table._write_atomic(state_path, json.dumps(state))  # resume point

        shard_dirs = [
            os.path.join(staging_root, d)
            for d in sorted(os.listdir(staging_root))
        ] if os.path.isdir(staging_root) else []
        if shard_dirs:
            dfs = [self.spark.read.parquet(d) for d in shard_dirs]
            union = dfs[0]
            for d in dfs[1:]:
                union = union.unionByName(d, allowMissingColumns=True)
            # cross-shard dedup (same key may appear in several folders)
            self._finalize(latest_by_version(union, version_col=self.spec.version_column))
        self.table.set_watermark(state["head"])
        # dispose (B12): drop staging + state after successful finalize
        shutil.rmtree(staging_root, ignore_errors=True)
        os.unlink(state_path)
        return self.table.read(self.spark).count() if self.table.exists() else 0

    # ---- change capture (A1→B11 loop) ---------------------------------------
    def run_once(self) -> int:
        """One poll tick: merge the whole pending folder range as ONE
        deduplicated group, then advance the watermark to the frontier.

        Grouping the range (rather than folder-at-a-time) mirrors the
        reference's observable semantics: a delete and a later stale
        re-upload of the same key inside one capture window must still net
        to a delete (StreamRunner.scala:206-233 — dedup across the group
        picks the delete row via its higher sysrowversion). Per-folder
        schemas survive because runs of same-schema folders are read
        separately and unioned by name (watch-list item 3).  With
        ``rows_per_group`` or a shaper set the same one read is cut into
        admission groups (``_run_once_grouped``).  Returns folders
        consumed."""
        state = self.desired_state()
        if state == self.STATE_SUSPENDED:
            return 0  # paused: no scan, no merge, watermark untouched
        if state == self.STATE_RELOAD:
            # reload-requested: in-place re-backfill from the configured
            # start, then resume normal capture (docs/crd.md:12-14)
            self.backfill()
            self.set_state(self.STATE_RUNNING)
            return 0
        pending = self.source.pending(self.table.watermark())
        if self.spec.max_folders_per_tick > 0:
            # coarse admission: cap folders per tick
            pending = pending[: self.spec.max_folders_per_tick]
        if not pending:
            return 0

        if self.spec.rows_per_group > 0 or self.shaper is not None:
            return self._run_once_grouped(pending)

        self._deferred = False
        self.merge_folders(pending)
        self.stats.consumed(pending)
        return len(pending)

    def merge_folders(self, folders: list[BatchFolder]) -> None:
        """Read a folder range and merge it as ONE deduplicated group, then
        advance the watermark to its last folder; a range holding no data
        for this entity only advances the watermark.  The read-and-merge
        step of the ungrouped ``run_once`` tick and of each
        ``run_structured`` micro-batch."""
        df = self.source.read_folders(self.spark, folders)
        if df is not None:
            self._merge_folder_batch(df, folders[-1].name)
        else:
            self.table.set_watermark(folders[-1].name)

    def _run_once_grouped(self, pending: list[BatchFolder]) -> int:
        """Row-granular admission (B6 + B18) over ONE read of the pending
        range.  The range is staged with each row's batch folder and pinned
        once; one job over the pin returns every folder's keyed rows and
        touched buckets.  Folders are chunked into ≤ rowsPerGroup groups
        and each group is admitted through the shaper, then merged from the
        pin and watermarked on its own (the same exactly-once unit as the
        plain path: the version-guarded merge keeps cross-group delete/
        stale-re-upload hazards out exactly as the reference's chunked
        emission does).  A group without rows only advances the watermark.
        Unadmitted folders stay pending for the next tick, and a stop
        request (B22) yields after the in-flight group."""
        from ..session import release_checkpoint
        from .throughput import chunk_by_rows

        bucketed = bool(self.table.bucket_count)
        df = self.source.read_folders(self.spark, pending)
        pinned: list[DataFrame] = []

        def pin_and_count() -> dict[str, tuple[int, list[int]]]:
            # a lazy pin: the count job's map stage parses the range and
            # fills the pin, so the tick's parse costs no job of its own
            for pin in pinned:
                release_checkpoint(pin)
            pinned[:] = [self._stage(df, tag_folder=True).localCheckpoint(eager=False)]
            stats = pinned[0].groupBy("__folder").agg(*_pin_metrics(bucketed)).collect()
            return {r["__folder"]: (r["rows"], r["buckets"] if bucketed else []) for r in stats}

        consumed = 0
        try:
            by_folder = with_retry(pin_and_count, self.spec.retry) if df is not None else {}
            # a row whose path does not name a pending folder would be in no group
            stray = set(by_folder) - {f.name for f in pending}
            if stray:
                raise RuntimeError(f"change rows outside the pending folders: {sorted(stray)}")
            rows = [by_folder.get(f.name, (0, []))[0] for f in pending]
            for grp in chunk_by_rows(pending, rows, self.spec.rows_per_group):
                names = [f.name for f in grp if f.name in by_folder]
                n = sum(by_folder[x][0] for x in names)
                if self.shaper is not None and not self.shaper.take_up_to_capacity(n):
                    break  # over the advised rate — defer the rest of the backlog
                if n:
                    group = pinned[0].where(F.col("__folder").isin(names)).drop("__folder")
                    touched = sorted({b for x in names for b in by_folder[x][1]})
                    self._merge_folder_batch(group, grp[-1].name, seen=(n, touched))
                else:
                    self.table.set_watermark(grp[-1].name)
                self.stats.consumed(grp)
                consumed += len(grp)
                if self._stop:  # B22: finish the in-flight group, then yield
                    break
        finally:
            for pin in pinned:
                release_checkpoint(pin)
        self._deferred = consumed < len(pending)
        return consumed

    # ---- dispose (B12): startup sweep of abandoned staging ------------------
    def sweep_staging(self, keep_backfill_id: str | None = None) -> list[str]:
        """Remove leftover backfill staging dirs + state files, except the
        one named by ``keep_backfill_id`` (an in-progress resumable
        backfill). The reference drops leftover staging tables matching the
        prefix on startup (docs/crd.md:101-104); called from the CLI before
        a run and safe to call any time — finalized backfills already
        removed their staging."""
        import shutil

        removed = []
        staging_root = os.path.join(self.table.root, "_backfill")
        meta = os.path.join(self.table.root, "_meta")
        if os.path.isdir(staging_root):
            for bf_id in os.listdir(staging_root):
                if bf_id == keep_backfill_id:
                    continue
                shutil.rmtree(os.path.join(staging_root, bf_id), ignore_errors=True)
                state = os.path.join(meta, f"backfill_{bf_id}.json")
                if os.path.exists(state):
                    os.unlink(state)
                removed.append(bf_id)
        return removed

    def next_interval(self, rng=None) -> float:
        """Poll sleep with jitter (A1): interval × (1 ± U[0, variance))."""
        v = self.spec.change_capture_jitter_variance
        base = self.spec.change_capture_interval_s
        if v <= 0:
            return base
        rng = rng if rng is not None else self._jitter_rng()
        return base * (1.0 + rng.uniform(-v, v))

    def _jitter_rng(self):
        import random

        if not hasattr(self, "_rng"):
            self._rng = random.Random(self.spec.change_capture_jitter_seed)
        return self._rng

    def run(
        self,
        max_ticks: int | None = None,
        poll_interval_s: float | None = None,
        install_signal_handlers: bool = True,
    ) -> None:
        """Continuous change capture (trigger analog, 2.E). ``max_ticks``
        bounds the loop for tests — the TimeLimitLifetimeService analog.

        B22 graceful lifetime (reference PosixStreamLifetimeService,
        main.scala:82): SIGTERM/SIGINT set the stop flag; the in-flight
        group finishes its merge, the watermark commits, and the loop
        returns normally (exit 0 at the CLI). Handlers only install from
        the main thread — a MultiEntityRunner worker thread skips them."""
        import signal
        import threading

        restore: list[tuple[int, object]] = []
        if install_signal_handlers and threading.current_thread() is threading.main_thread():
            for sig in (signal.SIGTERM, signal.SIGINT):
                restore.append((sig, signal.getsignal(sig)))
                signal.signal(sig, lambda *_: self.request_stop())
            # SIGUSR1 = suspend/resume toggle (the arcane/state: suspended
            # annotation analog — pause capture without exiting)
            restore.append((signal.SIGUSR1, signal.getsignal(signal.SIGUSR1)))
            signal.signal(signal.SIGUSR1, lambda *_: self.toggle_suspend())
        try:
            ticks = 0
            while (max_ticks is None or ticks < max_ticks) and not self._stop:
                self.run_once()
                ticks += 1
                if self._stop or (max_ticks is not None and ticks >= max_ticks):
                    break
                if poll_interval_s is not None:
                    interval = poll_interval_s
                elif getattr(self, "_deferred", False) and self.spec.grouping_interval_s > 0:
                    # backlog deferred by shaping: drain at the grouping
                    # cadence instead of the full capture interval (B6)
                    interval = self.spec.grouping_interval_s
                else:
                    interval = self.next_interval()
                # sleep in small slices so a signal interrupts promptly
                deadline = time.monotonic() + interval
                while not self._stop and time.monotonic() < deadline:
                    time.sleep(min(0.2, max(0.0, deadline - time.monotonic())))
        finally:
            for sig, old in restore:
                signal.signal(sig, old)

    # ---- maintenance (C1-C4 cadence) ----------------------------------------
    def _maintenance(self) -> None:
        if self.stats.batches_merged % self.spec.optimize_batch_threshold == 0:
            self.table.optimize(self.spark, self.spec.optimize_file_size_mb)  # C1
            self.table.expire_snapshots(keep_last=self.spec.snapshots_to_keep)
        if self.stats.batches_merged % self.spec.analyze_batch_threshold == 0:
            self.table.analyze(
                self.spark, columns=list(self.spec.analyze_included_columns) or None
            )


class MultiEntityError(RuntimeError):
    """One or more entities failed inside a MultiEntityRunner pass.

    Carries the complete picture instead of the first exception:
    ``results`` — the healthy entities' outcomes (their work is already
    committed; losing these would misreport successful merges as failed)
    — and ``failures`` — per-target exceptions for the entities that
    threw.  The orchestration layer alerts on ``failures`` and leaves the
    healthy streams alone."""

    def __init__(self, results: dict[str, int], failures: dict[str, Exception]):
        self.results = results
        self.failures = failures
        summary = "; ".join(
            f"{name}: {type(exc).__name__}: {exc}" for name, exc in failures.items()
        )
        super().__init__(
            f"{len(failures)}/{len(results) + len(failures)} entities failed "
            f"({summary})"
        )


class MultiEntityRunner:
    """Run many entity streams in ONE Spark application.

    The reference deploys one process per entity (one MicrosoftSynapseStream
    CR → one k8s Job, docs/crd.md:5-14); consolidation is a Spark-first
    improvement: a single driver submits each entity's backfill/merge as a
    concurrent job (thread-per-entity — Spark's scheduler interleaves job
    stages across the shared executors; enable FAIR scheduling to stop one
    entity's big backfill from starving the rest). Entities stay fully
    isolated: separate sources, targets, watermarks, and retry policies.
    """

    def __init__(self, spark: SparkSession, specs: list[StreamSpec], max_workers: int = 8):
        # two streams may ingest the same entity (e.g. different storage
        # accounts); what must never alias is the TARGET table
        targets = [s.target_root for s in specs]
        if len(set(targets)) != len(targets):
            raise ValueError(f"duplicate target tables: {targets}")
        self.runners = {s.target_root: StreamRunner(spark, s) for s in specs}
        self.max_workers = max_workers

    def _parallel(self, fn) -> dict[str, int]:
        """Run ``fn`` per entity concurrently with FAILURE ISOLATION: every
        entity's future is awaited (one entity throwing mid-merge never
        cancels or blocks the others — their merges commit and their
        watermarks advance), then a single ``MultiEntityError`` is raised
        carrying the healthy results AND the per-entity failures.  The
        failed entity's commit-then-watermark ordering (B11) means its
        watermark did not move, so the next tick simply retries it — the
        consolidated-runner analog of one k8s Job crash-looping while the
        other seven keep streaming."""
        from concurrent.futures import ThreadPoolExecutor

        with ThreadPoolExecutor(max_workers=min(self.max_workers, len(self.runners))) as ex:
            futs = {name: ex.submit(fn, r) for name, r in self.runners.items()}
            results: dict[str, int] = {}
            failures: dict[str, Exception] = {}
            for name, f in futs.items():
                try:
                    results[name] = f.result()
                except Exception as exc:  # noqa: BLE001 — isolate per entity
                    failures[name] = exc
        if failures:
            raise MultiEntityError(results, failures)
        return results

    def backfill_all(self) -> dict[str, int]:
        """Concurrent full-history replay per entity; rows per target."""
        return self._parallel(lambda r: r.backfill())

    # ---- per-entity suspend / reload (B23 at consolidation scale) --------
    # The reference's arcane/state annotation is per-CR (docs/crd.md:9-14);
    # in the consolidated runner each entity's control file lives under its
    # OWN target root, so suspending/reloading one stream never touches the
    # other N-1 — these helpers just route to the right runner.
    def _runner(self, target_root: str) -> StreamRunner:
        try:
            return self.runners[target_root]
        except KeyError:
            raise KeyError(
                f"no entity stream targets {target_root!r}; "
                f"known targets: {sorted(self.runners)}"
            ) from None

    def suspend_entity(self, target_root: str) -> None:
        self._runner(target_root).request_suspend()

    def resume_entity(self, target_root: str) -> None:
        self._runner(target_root).request_resume()

    def reload_entity(self, target_root: str) -> None:
        self._runner(target_root).request_reload()

    def states(self) -> dict[str, str]:
        """Desired state per target — the consolidated status view."""
        return {name: r.desired_state() for name, r in self.runners.items()}

    def run_once_all(self) -> dict[str, int]:
        """One change-capture tick per entity; folders merged per entity."""
        return self._parallel(lambda r: r.run_once())

    def maintain_all(self, file_size_mb: int | None = None) -> dict[str, dict]:
        """One consolidated maintenance pass (C1-C4) across every entity:
        compaction toward the file-size threshold, snapshot expiration,
        and per-column ANALYZE, run concurrently over the shared executors
        — the SHARED cadence a consolidated N-entity deployment runs in
        place of the reference's one-cron-per-process model (docs/crd.md).
        Per-entity thresholds still apply inside the regular tick path
        (StreamRunner._maintenance); this entry point forces a full pass,
        e.g. from a nightly scheduler.  Returns per-target ANALYZE stats."""

        def fn(r: StreamRunner) -> dict:
            r.table.optimize(r.spark, file_size_mb or r.spec.optimize_file_size_mb)
            r.table.expire_snapshots(keep_last=r.spec.snapshots_to_keep)
            return r.table.analyze(
                r.spark, columns=list(r.spec.analyze_included_columns) or None
            )

        return self._parallel(fn)
