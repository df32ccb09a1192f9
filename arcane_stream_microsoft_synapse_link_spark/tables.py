"""Versioned parquet table with atomic pointer commits — the engine's sink.

The reference lands data in Iceberg and mutates it via Trino ``MERGE``
(README.md:7-8). Without a lakehouse runtime in this container, the engine
implements the same transactional contract on plain parquet:

    <root>/
      _meta/LATEST              # text: committed version number (atomic swap)
      _meta/watermark           # text: last merged batch folder (operator B11)
      v0000001/*.parquet        # immutable snapshot per commit
      v0000001/_manifest.json   # format name + version + the snapshot's schema

A commit writes a brand-new snapshot directory and its manifest, then
atomically replaces the pointer file (POSIX rename). Readers resolve the
pointer once and only ever see complete snapshots — the same reader
isolation Iceberg gives via its metadata pointer. Old snapshots remain for
time travel until ``expire_snapshots`` (maintenance operator C2/C3)
removes them.

The manifest is ``_``-prefixed, so Spark's file listing and the
:meth:`VersionedTable.changes` inode walk skip it. Readers scan with its
schema instead of merging parquet footers, which would cost a Spark job
per read; hard-linked buckets written on an older column set read the
missing columns as null. A snapshot without a manifest (written before
manifests existed) is read with ``mergeSchema``; a manifest of another
format or a newer format version is refused with
:class:`SnapshotFormatError`.

On a production cluster this module is swapped for Iceberg/Delta
(``MERGE INTO`` with the same clauses, ``lakehouse.py``); every caller
goes through this narrow interface so the swap is local. A CDC tick is
copy-on-write, as Iceberg's ``copy-on-write MERGE`` is per touched file:
``operators/merge.py`` reads the target once, unions it with the change
batch and keeps the newest row per key in one window behind one shuffle,
and ``commit`` writes the result. With merge-key bucketing (reference
partition spec ``bucket(arcane_merge_key, N)``, docs/crd.md:211)
snapshots are partitioned on a key bucket: the tick reads only the
buckets its batch touches, the shuffle clusters by bucket so each of
them is written by one task as one file, and ``commit`` hard-links the
untouched bucket directories forward.
"""

from __future__ import annotations

import contextlib
import json
import os
import shutil
from typing import NamedTuple

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructField, StructType

from .exprmemo import schema_memo

SNAPSHOT_FORMAT = "arcane-versioned-table"
SNAPSHOT_FORMAT_VERSION = 1
MANIFEST = "_manifest.json"


class CommitConflictError(RuntimeError):
    """Another writer claimed the next snapshot version (optimistic
    concurrency, Iceberg-style): re-read the table and retry the commit."""


class SnapshotFormatError(RuntimeError):
    """A snapshot's manifest names a format (or format version) this code
    cannot read."""


class VersionedTable:
    """The engine's target sink (A8): the long-lived table CDC merges land
    in. The reference writes its target through Trino MERGE into Iceberg
    (README.md:8, main.scala:26,111 JdbcMergeServiceClient); here Spark
    itself executes the merge and commits an atomic snapshot version —
    swap this class for Delta/Iceberg in a lakehouse deployment."""

    def __init__(
        self,
        root: str,
        bucket_count: int = 0,
        bucket_key: str = "arcane_merge_key",
        sorted_by: tuple[str, ...] = (),
        bloom_filter_columns: tuple[str, ...] = (),
        partition_transforms: tuple[tuple[str, str], ...] = (),
        max_rows_per_file: int = 0,
    ):
        self.root = root
        self.bucket_count = bucket_count
        self.bucket_key = bucket_key
        # A9 targetTableProperties analogs: in-file sort order (scan
        # locality + parquet min/max zone pruning on the sort keys) and
        # parquet bloom filters (point-lookup pruning on the merge key)
        self.sorted_by = tuple(sorted_by)
        self.bloom_filter_columns = tuple(bloom_filter_columns)
        # A9 partitionExpressions time/identity transforms ((kind, col)):
        # extra partition directory levels under the bucket level — readers
        # filtering on the transform column prune whole directories. Layout
        # only: merges never prune by them (an update's OLD version can sit
        # in a different time partition than its new row — only key-derived
        # bucket partitions are merge-prune-safe).
        self.partition_transforms = tuple(partition_transforms)
        # A6 staging.table.maxRowsPerFile (crd-microsoft-synapse.yaml:72-75):
        # cap rows per written file; tasks roll to a new file at the cap
        # (Spark's maxRecordsPerFile), the reference's parallel-file analog
        self.max_rows_per_file = int(max_rows_per_file)
        self._meta = os.path.join(root, "_meta")

    # ---- metadata -------------------------------------------------------
    def _pointer_path(self) -> str:
        return os.path.join(self._meta, "LATEST")

    def current_version(self) -> int:
        try:
            with open(self._pointer_path()) as fh:
                return int(fh.read().strip())
        except FileNotFoundError:
            return 0

    def exists(self) -> bool:
        return self.current_version() > 0

    def _snapshot_dir(self, version: int) -> str:
        return os.path.join(self.root, f"v{version:07d}")

    def _write_atomic(self, path: str, content: str) -> None:
        os.makedirs(self._meta, exist_ok=True)
        tmp = path + ".tmp"
        with open(tmp, "w") as fh:
            fh.write(content)
        os.replace(tmp, path)  # atomic on POSIX — the commit point

    # ---- watermark (operator B11) ---------------------------------------
    def watermark(self) -> str | None:
        try:
            with open(os.path.join(self._meta, "watermark")) as fh:
                return fh.read().strip() or None
        except FileNotFoundError:
            return None

    def set_watermark(self, value: str) -> None:
        self._write_atomic(os.path.join(self._meta, "watermark"), value)

    # ---- IO ---------------------------------------------------------------
    def read(self, spark: SparkSession, version: int | None = None) -> DataFrame:
        """Read the latest snapshot, or time-travel to an earlier one
        (Iceberg ``VERSION AS OF`` / Delta ``versionAsOf`` analog —
        snapshots are immutable until ``expire_snapshots`` reclaims them).
        """
        head = self.current_version()
        v = head if version is None else version
        if v == 0:
            raise FileNotFoundError(f"table {self.root} has no committed snapshot")
        # the pointer advance is the commit point — a snapshot directory may
        # exist for an in-flight (or crashed) writer's version; never serve it
        if version is not None and (v > head or not os.path.isdir(self._snapshot_dir(v))):
            raise FileNotFoundError(
                f"table {self.root} has no committed snapshot v{v} (expired, in-flight, "
                f"or never committed; available: {self.snapshots()})"
            )
        df = self._scan(spark, v, [self._snapshot_dir(v)])
        # __p_* transform columns are derived layout, recomputed per commit
        return df.drop(*[c for c in df.columns if c.startswith("__p_")])

    def _manifest_path(self, version: int) -> str:
        return os.path.join(self._snapshot_dir(version), MANIFEST)

    def _manifest_schema(self, version: int) -> StructType | None:
        """The schema recorded in snapshot ``version``'s manifest (data
        columns, then the ``__bucket``/``__p_*`` layout columns), or None
        for a snapshot written before manifests existed."""
        path = self._manifest_path(version)
        try:
            with open(path) as fh:
                manifest = json.load(fh)
        except FileNotFoundError:
            return None
        fmt, ver = manifest.get("format"), manifest.get("format_version")
        if fmt != SNAPSHOT_FORMAT or ver != SNAPSHOT_FORMAT_VERSION:
            raise SnapshotFormatError(
                f"snapshot v{version} of {self.root} has format {fmt!r} version "
                f"{ver!r} ({path}); this code reads {SNAPSHOT_FORMAT!r} version "
                f"{SNAPSHOT_FORMAT_VERSION}"
            )
        return StructType.fromJson(manifest["schema"])

    def _scan(self, spark: SparkSession, version: int, paths: list[str]) -> DataFrame:
        """Read ``paths`` of snapshot ``version`` with its manifest schema.
        Snapshots without a manifest fall back to ``mergeSchema``:
        incremental commits may leave older (hard-linked) bucket files on
        the pre-evolution schema, and the union schema is the table schema
        (missing columns read null)."""
        schema = self._manifest_schema(version)
        if schema is None:
            return spark.read.option("mergeSchema", "true").parquet(*paths)
        return spark.read.schema(schema).parquet(*paths)

    def snapshots(self) -> list[int]:
        """Versions currently readable: committed (at or below the pointer
        — directories above it belong to in-flight or crashed writers) and
        not yet expired."""
        try:
            entries = os.listdir(self.root)
        except FileNotFoundError:
            return []
        head = self.current_version()
        return sorted(
            int(e[1:])
            for e in entries
            if e.startswith("v")
            and e[1:].isdigit()
            and int(e[1:]) <= head
            and os.path.isdir(os.path.join(self.root, e))
        )

    def changes(
        self,
        spark: SparkSession,
        from_version: int,
        to_version: int | None = None,
        key_col: str | None = None,
        version_col: str | None = None,
    ) -> DataFrame:
        """Row-level diff between two committed snapshots — the engine's
        Change Data Feed (Delta ``table_changes`` / Iceberg incremental
        read analog).

        Returns one row per changed key with ``_change_type`` in
        ``insert`` / ``update`` / ``delete`` plus ``_from_version`` /
        ``_to_version``; insert/update rows carry the NEW column values,
        delete rows the OLD ones.  Assumes the MERGE-target invariant
        (one row per key per snapshot — what ``cdc_merge`` maintains).
        ``version_col`` (e.g. ``versionnumber``) makes update detection a
        cheap integer compare; without it rows are compared by xxhash64
        over the common columns.

        Scale shape: Delta materializes its CDF at WRITE time; a
        snapshot-store diff instead costs one key-join of two versions —
        but commits hard-link untouched bucket directories, so the diff
        first walks both snapshots' file inodes (pure driver metadata, no
        data I/O) and PRUNES every bucket whose file set is inode-identical:
        only buckets a MERGE actually rewrote are read and joined, which
        is proportional to the change volume, not the table size — the
        same economy Iceberg gets from manifest diffing.  A key's bucket
        is a pure function of the key, so a changed key is always inside
        a rewritten (non-linked) bucket.  Flat (unbucketed) tables fall
        back to the full-table join.  Both sides read with their snapshot
        manifest's schema (no footer-merge job), and rows are classified
        on per-side presence flags, so a reader that only counts
        ``_change_type`` scans just the key and version columns.  The
        projections, classifier and row select are built once per schema
        pair (:func:`_change_feed_columns`); a read builds only its scans
        and the two version literals.
        """
        key_col = key_col or self.bucket_key
        head = self.current_version()
        to_v = head if to_version is None else to_version
        if from_version >= to_v:
            raise ValueError(f"from_version {from_version} must be < to_version {to_v}")

        def inodes(d: str) -> dict[str, int]:
            out = {}
            for r, _, files in os.walk(d):
                for f in files:
                    if f.startswith(("_", ".")):  # _SUCCESS/markers — not data
                        continue
                    p = os.path.join(r, f)
                    out[os.path.relpath(p, d)] = os.stat(p).st_ino
            return out

        oi = inodes(self._snapshot_dir(from_version))
        ni = inodes(self._snapshot_dir(to_v))
        changed = {rel for rel in set(oi) | set(ni) if oi.get(rel) != ni.get(rel)}
        tops = {rel.split(os.sep, 1)[0] if os.sep in rel else "" for rel in changed}

        def side(version: int, names: dict[str, int]) -> DataFrame | None:
            base = self._snapshot_dir(version)
            if "" in tops or not tops:
                dirs = [base] if names else []
            else:
                dirs = [
                    os.path.join(base, t)
                    for t in sorted(tops)
                    if any(rel.startswith(t + os.sep) for rel in names)
                ]
            return self._scan(spark, version, dirs) if dirs else None

        old_df, new_df = side(from_version, oi), side(to_v, ni)
        meta = [F.lit(from_version).alias("_from_version"), F.lit(to_v).alias("_to_version")]
        if new_df is None and old_df is None:
            empty = self.read(spark, to_v).limit(0)
            empty = empty.drop(*[c for c in empty.columns if c == "__bucket"])
            return empty.select(F.lit("insert").alias("_change_type"), *meta, "*")

        base_old = old_df if old_df is not None else new_df.limit(0)
        base_new = new_df if new_df is not None else old_df.limit(0)
        c = _change_feed_columns(key_col, version_col, base_old.schema, base_new.schema)
        j = base_old.select(*c.old).join(base_new.select(*c.new), "_k", "full_outer")
        return (
            j.withColumn("_change_type", c.classify)
            .filter(c.changed)
            .select(c.change_type, *meta, *c.values)
        )

    def bucket_expr(self) -> Column:
        """Deterministic merge-key bucket (bucket(arcane_merge_key, N)),
        memoized per (key, N) like the ``changes()`` columns."""
        return _bucket_expr(self.bucket_key, self.bucket_count)

    def commit(
        self,
        df: DataFrame,
        touched_buckets: list[int] | None = None,
        sort_override: tuple[str, ...] | None = None,
    ) -> int:
        """Write a new immutable snapshot and atomically advance the pointer.

        ``sort_override``: replace the table's configured ``sorted_by``
        in-partition sort for THIS commit only (used by
        :meth:`optimize_zorder`, whose clustering the default re-sort
        would silently undo).  Override columns prefixed ``__`` are
        treated as layout-only auxiliaries: they order the rows, then
        are dropped before the write.

        ``touched_buckets`` (bucketed tables only): incremental commit — the
        DataFrame holds only the touched buckets' rows; untouched bucket
        directories are HARD-LINKED from the previous snapshot instead of
        rewritten (Iceberg's manifest-reuse analog: commit cost scales with
        the change set, not the table). Snapshots stay independent for
        expiry — links share inodes, removal of one snapshot never corrupts
        another.

        Optimistic concurrency (Iceberg-style): the writer claims the next
        version via exclusive file create BEFORE the expensive snapshot
        write; a second writer racing on the same base version gets
        :class:`CommitConflictError` immediately and must re-read + retry.
        Claims left by crashed writers expire after ``claim_ttl_s``.

        An incremental commit cannot change a column's type: the linked
        buckets keep the old physical type, and no schema reads both. It
        raises ``ValueError`` before anything is written; commit the whole
        table (``touched_buckets=None``) instead."""
        new_v = self.current_version() + 1
        bucketed = self.bucket_count and self.bucket_key in df.columns
        linking = bool(bucketed and touched_buckets is not None and new_v > 1)
        prev_schema = self._schema_of(df.sparkSession, new_v - 1) if linking else None
        widened = type_changes(prev_schema, df.schema) if linking else []
        if widened:
            raise ValueError(
                f"incremental commit to {self.root} changes column types "
                f"({', '.join(widened)}); untouched buckets would keep the old "
                "type — commit the whole table (touched_buckets=None)"
            )
        claim = self._claim_version(new_v)
        out = self._snapshot_dir(new_v)
        try:
            if bucketed and "__bucket" not in df.columns:
                df = df.withColumn("__bucket", self.bucket_expr())
            # time/identity transform partition levels (bucket stays outermost so
            # incremental commits keep hard-linking whole untouched bucket dirs)
            tnames: list[str] = []
            for kind, col in self.partition_transforms:
                if col in df.columns:
                    name = f"__p_{kind}_{col}"
                    df = df.withColumn(name, self._transform_expr(kind, col))
                    tnames.append(name)
            part_cols = (["__bucket"] if bucketed else []) + tnames

            if sort_override is not None:
                sort_cols = [c for c in sort_override if c in df.columns]
            else:
                sort_cols = [c for c in self.sorted_by if c in df.columns]
            if sort_cols:
                df = df.sortWithinPartitions(*part_cols, *sort_cols)
                aux = [c for c in sort_cols if c.startswith("__")]
                if aux:
                    df = df.drop(*aux)  # projection only — row order is kept
            w = df.write.mode("overwrite")
            if self.max_rows_per_file > 0:
                w = w.option("maxRecordsPerFile", str(self.max_rows_per_file))
            for c in self.bloom_filter_columns:
                if c in df.columns:
                    w = w.option(f"parquet.bloom.filter.enabled#{c}", "true")
            if part_cols:
                w = w.partitionBy(*part_cols)
            w.parquet(out)

            if linking:
                prev = self._snapshot_dir(new_v - 1)
                keep = {f"__bucket={int(b)}" for b in touched_buckets}
                for name in os.listdir(prev):
                    if name.startswith("__bucket=") and name not in keep:
                        self._link_dir(os.path.join(prev, name), os.path.join(out, name))
            self._write_manifest(new_v, df.schema, part_cols, prev_schema)
            self._write_atomic(self._pointer_path(), str(new_v))
        except BaseException:
            # a failed write must not hold the version: drop this writer's
            # partial snapshot and claim so the retry (or the next writer)
            # can take v<new_v> at once instead of after claim_ttl_s
            shutil.rmtree(out, ignore_errors=True)
            with contextlib.suppress(FileNotFoundError):
                os.unlink(claim)
            raise
        return new_v

    def _schema_of(self, spark: SparkSession, version: int) -> StructType:
        """Snapshot ``version``'s schema: its manifest's, or for a snapshot
        without one the ``mergeSchema`` read's (one footer-merge job)."""
        schema = self._manifest_schema(version)
        if schema is None:
            schema = self._scan(spark, version, [self._snapshot_dir(version)]).schema
        return schema

    def _write_manifest(
        self,
        version: int,
        written: StructType,
        part_cols: list[str],
        linked: StructType | None,
    ) -> None:
        """Record the schema a reader of snapshot ``version`` sees: the
        written data columns, then any column only the hard-linked buckets
        (schema ``linked``) still carry, then the partition columns."""
        data = [f for f in written.fields if f.name not in part_cols]
        if linked is not None:
            have = {f.name for f in written.fields}
            data += [
                f
                for f in linked.fields
                if f.name not in have
                and f.name != "__bucket"
                and not f.name.startswith("__p_")
            ]
        fields = data + [written[c] for c in part_cols]
        schema = StructType([StructField(f.name, f.dataType, True) for f in fields])
        manifest = {
            "format": SNAPSHOT_FORMAT,
            "format_version": SNAPSHOT_FORMAT_VERSION,
            "schema": schema.jsonValue(),
        }
        # the staging file is "_"-prefixed too: hidden from Spark's listing
        self._write_atomic(self._manifest_path(version), json.dumps(manifest))

    claim_ttl_s: float = 3600.0

    def _claim_version(self, version: int) -> str:
        """Claim ``version`` by exclusive create; returns the claim path."""
        claims = os.path.join(self._meta, "claims")
        os.makedirs(claims, exist_ok=True)
        path = os.path.join(claims, str(version))
        try:
            fd = os.open(path, os.O_CREAT | os.O_EXCL | os.O_WRONLY)
        except FileExistsError:
            import time as _time
            import uuid as _uuid

            try:
                expired = _time.time() - os.path.getmtime(path) > self.claim_ttl_s
            except OSError:
                expired = False  # claim vanished under us: someone else won
            if expired:
                # crashed writer: take over. Two takeover racers both call
                # os.replace — the loser's source is gone (FileNotFoundError);
                # unique .stale names keep the winners' evidence separate.
                # Either way, retry the O_EXCL create, which serializes the
                # racers (loser gets CommitConflictError on the next pass).
                try:
                    os.replace(path, f"{path}.stale.{_uuid.uuid4().hex[:8]}")
                except OSError:
                    pass
                return self._claim_version(version)
            raise CommitConflictError(
                f"snapshot v{version} of {self.root} already claimed by a "
                "concurrent writer; re-read the table and retry"
            ) from None
        os.write(fd, f"{os.getpid()}".encode())
        os.close(fd)
        return path

    @staticmethod
    def _transform_expr(kind: str, col: str):
        fmt = {"year": "yyyy", "month": "yyyy-MM", "day": "yyyy-MM-dd", "hour": "yyyy-MM-dd-HH"}
        if kind in fmt:
            return F.date_format(F.col(col), fmt[kind])
        if kind == "identity":
            return F.col(col).cast("string")
        raise ValueError(f"unknown partition transform: {kind}")

    @classmethod
    def _link_dir(cls, src: str, dst: str) -> None:
        """Recursive hard-link mirror (transform levels nest under buckets)."""
        os.makedirs(dst, exist_ok=True)
        for f in os.listdir(src):
            s, d = os.path.join(src, f), os.path.join(dst, f)
            if os.path.isdir(s):
                cls._link_dir(s, d)
            elif os.path.isfile(s) and not os.path.exists(d):
                try:
                    os.link(s, d)
                except OSError:
                    shutil.copy2(s, d)

    # ---- maintenance: ANALYZE (operator C4 analog) -----------------------
    def analyze(self, spark: SparkSession, columns: list[str] | None = None) -> dict:
        """Recompute column statistics for the current snapshot and persist
        them to ``_meta/stats.json`` (the reference emits ``ANALYZE`` to
        Trino every analyze batchThreshold; on a lakehouse runtime this is
        ``ANALYZE TABLE ... COMPUTE STATISTICS FOR COLUMNS``). One
        distributed pass: count/min/max/null-count per column + HLL distinct
        for join-planning selectivity."""
        df = self.read(spark)
        cols = columns or [f.name for f in df.schema.fields if not f.name.startswith("__")]
        aggs = [F.count(F.lit(1)).alias("__rows")]
        for c in cols:
            aggs.append(F.sum(F.col(c).isNull().cast("long")).alias(f"{c}::nulls"))
            aggs.append(F.approx_count_distinct(c).alias(f"{c}::ndv"))
            aggs.append(F.min(c).cast("string").alias(f"{c}::min"))
            aggs.append(F.max(c).cast("string").alias(f"{c}::max"))
        row = df.agg(*aggs).first().asDict()
        stats = {"rows": row["__rows"], "columns": {}}
        for c in cols:
            stats["columns"][c] = {
                "nulls": row[f"{c}::nulls"],
                "ndv": row[f"{c}::ndv"],
                "min": row[f"{c}::min"],
                "max": row[f"{c}::max"],
            }
        self._write_atomic(os.path.join(self._meta, "stats.json"), json.dumps(stats))
        return stats

    def stats(self) -> dict | None:
        try:
            with open(os.path.join(self._meta, "stats.json")) as fh:
                return json.loads(fh.read())
        except FileNotFoundError:
            return None

    # ---- maintenance: OPTIMIZE (operator C1 analog) ----------------------
    def optimize(
        self, spark: SparkSession, file_size_threshold_mb: int = 100
    ) -> int | None:
        """Compact the current snapshot if its data files average below the
        threshold (reference ``targetOptimizeSettings.fileSizeThreshold``,
        default 100MB): rewrite as a new snapshot with files sized toward
        the threshold. Returns the new version, or None when no compaction
        was needed. Incremental bucketed commits leave per-bucket task
        files; periodic compaction folds them toward the target size.

        Layout-preserving: if the table has a persisted z-order layout
        (:meth:`optimize_zorder` records its columns in
        ``_meta/layout.json``, the Iceberg ``WRITE ORDERED BY`` analog),
        compaction re-sorts the rewritten files along the same z-key via
        ``sort_override`` — otherwise the default ``sorted_by`` re-sort
        would silently undo the clustering a prior z-rewrite produced
        (the exact bug class r11 fixed inside ``optimize_zorder``
        itself)."""
        v = self.current_version()
        if v == 0:
            return None
        snap = self._snapshot_dir(v)
        sizes = [
            os.path.getsize(os.path.join(dp, f))
            for dp, _, fs in os.walk(snap)
            for f in fs
            if f.endswith(".parquet")
        ]
        if not sizes:
            return None
        threshold = file_size_threshold_mb * 1024 * 1024
        n_files = max(1, -(-sum(sizes) // threshold))  # ceil toward target size
        # healthy already: big-enough files, or as few files as the data
        # can occupy at the target size
        if sum(sizes) / len(sizes) >= threshold or len(sizes) <= n_files:
            return None
        df = self.read(spark)
        zcols = [c for c in self.zorder_layout() if c in df.columns]
        if zcols:
            df = df.withColumn("__z", zorder_key(df, zcols))
        if self.bucket_count and "__bucket" in df.columns:
            # keep bucket dirs; coalesce within buckets via one task each
            compacted = df.repartition("__bucket")
        elif zcols:
            # range-shuffle on the z-key so file boundaries keep tight
            # z-bounding-boxes, mirroring optimize_zorder's own shape
            compacted = df.repartitionByRange(n_files, "__z")
        else:
            compacted = df.repartition(n_files)
        return self.commit(
            compacted, sort_override=("__z",) if zcols else None
        )

    def zorder_layout(self) -> list[str]:
        """Columns of the table's persisted z-order layout (set by
        :meth:`optimize_zorder`, consumed by :meth:`optimize`), or []
        when the table has never been z-clustered."""
        try:
            with open(os.path.join(self._meta, "layout.json")) as fh:
                return list(json.loads(fh.read()).get("zorder", []))
        except FileNotFoundError:
            return []

    def optimize_zorder(
        self, spark: SparkSession, columns: list[str], n_files: int = 16
    ) -> int:
        """C1 extension — multi-dimensional clustering rewrite (Iceberg's
        ``rewrite_data_files`` with ``sort_order => zorder(...)``; Delta
        ``OPTIMIZE ... ZORDER BY``): re-lay the current snapshot along a
        Morton curve over ``columns`` so every data file covers a small
        bounding box in ALL of them at once, and min/max footer stats
        prune scans filtered on ANY of the columns — the maintenance pass
        that makes multi-predicate point/range lookups cheap on a 100-TB
        table without duplicating it per sort key.

        Plan shape: one bounded min/max agg (2k scalars to the driver),
        one codegen'd bit-interleave projection (:func:`zorder_key`), one
        RANGE shuffle on the z-key (``repartitionByRange`` samples — no
        global sort materializes) with an in-partition sort.  On bucketed
        tables the bucket stays the outermost layout (incremental commits
        keep hard-linking untouched buckets) and the z-sort applies
        within each bucket.  Returns the new committed version.

        The chosen columns persist as the table's layout
        (``_meta/layout.json``, Iceberg's ``WRITE ORDERED BY`` table
        property analog) so later :meth:`optimize` compactions re-apply
        the same z-sort instead of reverting to ``sorted_by``."""
        df = self.read(spark)
        self._write_atomic(
            os.path.join(self._meta, "layout.json"),
            json.dumps({"zorder": list(columns)}),
        )
        z = zorder_key(df, columns)
        clustered = df.withColumn("__z", z)
        if self.bucket_count and self.bucket_key in df.columns:
            clustered = clustered.withColumn("__bucket", self.bucket_expr()).repartition(
                "__bucket"
            )
        else:
            clustered = clustered.repartitionByRange(n_files, "__z")
        # sort_override: the z-sort happens INSIDE commit, replacing the
        # table's configured sorted_by for this commit only — otherwise
        # commit's default re-sort would silently undo the clustering
        # this rewrite exists to produce (__z is dropped before write).
        return self.commit(clustered, sort_override=("__z",))

    # ---- maintenance (operators C2-C3 analog) ----------------------------
    def remove_orphans(self, older_than_s: float = 3600.0) -> list[str]:
        """C3: delete files no live snapshot references (reference
        ``targetOrphanFilesExpirationSettings`` → Iceberg
        ``remove_orphan_files``, crd-microsoft-synapse.yaml:241-254).
        Distinct from :meth:`expire_snapshots` (C2), which retires whole
        committed snapshots; this reclaims debris that was never committed:

          * snapshot directories ABOVE the pointer (crashed writers that
            claimed a version, wrote data, and died before the pointer swap),
          * Spark's ``_temporary`` job-attempt dirs inside any snapshot
            (task retries that never committed their files),
          * ``.tmp`` pointer staging files and ``.stale.*`` claim evidence.

        Only items older than ``older_than_s`` go (an in-flight writer's
        fresh work is not an orphan). Returns removed paths."""
        import time as _time

        removed: list[str] = []
        now = _time.time()

        def _old(p: str) -> bool:
            try:
                return now - os.path.getmtime(p) > older_than_s
            except OSError:
                return False

        def _zap(p: str) -> None:
            if os.path.isdir(p):
                shutil.rmtree(p, ignore_errors=True)
            else:
                try:
                    os.remove(p)
                except OSError:
                    return
            removed.append(p)

        if not os.path.isdir(self.root):
            return removed
        head = self.current_version()
        for name in os.listdir(self.root):
            p = os.path.join(self.root, name)
            if name.startswith("v") and name[1:].isdigit() and os.path.isdir(p):
                if int(name[1:]) > head and _old(p):
                    _zap(p)  # claimed + written, never committed
                else:
                    tmp = os.path.join(p, "_temporary")
                    if os.path.isdir(tmp) and _old(tmp):
                        _zap(tmp)
        claims = os.path.join(self._meta, "claims")
        if os.path.isdir(claims):
            for name in os.listdir(claims):
                if ".stale." in name and _old(os.path.join(claims, name)):
                    _zap(os.path.join(claims, name))
        if os.path.isdir(self._meta):
            for name in os.listdir(self._meta):
                if name.endswith(".tmp") and _old(os.path.join(self._meta, name)):
                    _zap(os.path.join(self._meta, name))
        return removed

    def expire_snapshots(self, keep_last: int = 2) -> list[int]:
        """Drop committed snapshot dirs older than the last ``keep_last``
        (C2). Never-committed debris is :meth:`remove_orphans`' job (C3)."""
        current = self.current_version()
        removed = []
        if not os.path.isdir(self.root):
            return removed
        for name in os.listdir(self.root):
            if name.startswith("v") and name[1:].isdigit():
                v = int(name[1:])
                if v <= current - keep_last:
                    shutil.rmtree(os.path.join(self.root, name), ignore_errors=True)
                    removed.append(v)
        return sorted(removed)


@schema_memo
def _bucket_expr(key: str, count: int) -> Column:
    return F.pmod(F.xxhash64(key), F.lit(count)).cast("int")


def _is_layout(name: str) -> bool:
    """``__bucket`` / ``__p_*``: derived layout, not table columns."""
    return name == "__bucket" or name.startswith("__p_")


class _ChangeFeedColumns(NamedTuple):
    old: tuple[Column, ...]  # each side's flat projection
    new: tuple[Column, ...]
    classify: Column  # insert / delete / update / null (unchanged)
    change_type: Column
    changed: Column
    values: tuple[Column, ...]  # the output row after the meta columns


@schema_memo
def _change_feed_columns(
    key_col: str, version_col: str | None, old: StructType, new: StructType
) -> _ChangeFeedColumns:
    """The Columns of a ``changes()`` read over snapshots with schemas
    ``old`` and ``new``.  Memoized per schema pair (keyed, bounded,
    pickled empty — see ``exprmemo``), so a reader polling a table whose
    schema holds still builds them once."""
    old_names = [f.name for f in old.fields if not _is_layout(f.name)]
    new_names = [f.name for f in new.fields if not _is_layout(f.name)]
    # update detection over the columns BOTH snapshots share (a column
    # added by schema migration reads null on hard-linked old files and
    # must not flag every row as updated)
    common = sorted(set(old_names) & set(new_names))
    # emitted rows carry the UNION schema in one canonical order (new
    # side's order first) with typed nulls for a side's missing columns
    # — snapshots across a schema migration coalesce cleanly
    union_cols = new_names + [c for c in old_names if c not in new_names]
    dtypes = {f.name: f.dataType for f in old.fields}
    dtypes.update({f.name: f.dataType for f in new.fields})
    fp = F.col(version_col) if version_col else F.xxhash64(*[F.col(c) for c in common])

    def prep(names: list[str], side: str) -> tuple[Column, ...]:
        # flat columns plus a presence flag per side (``_o``/``_n``):
        # the full outer join leaves the flag null on the side a key is
        # missing from, so classification never touches the row values
        # and a reader of ``_change_type`` alone scans only the key and
        # fingerprint columns
        vals = [
            (F.col(c) if c in names else F.lit(None).cast(dtypes[c])).alias(f"_{side}{i}")
            for i, c in enumerate(union_cols)
        ]
        return (
            F.col(key_col).alias("_k"),
            fp.alias(f"_{side}fp"),
            F.lit(True).alias(f"_{side}"),
            *vals,
        )

    classify = (
        F.when(F.col("_o").isNull(), F.lit("insert"))
        .when(F.col("_n").isNull(), F.lit("delete"))
        .when(F.col("_ofp") != F.col("_nfp"), F.lit("update"))
    )
    change_type = F.col("_change_type")
    # insert/update rows carry the new side's values, deletes the old
    values = tuple(
        F.when(F.col("_n"), F.col(f"_n{i}")).otherwise(F.col(f"_o{i}")).alias(c)
        for i, c in enumerate(union_cols)
    )
    return _ChangeFeedColumns(
        prep(old_names, "o"), prep(new_names, "n"), classify, change_type,
        change_type.isNotNull(), values,
    )


def type_changes(old: StructType, new: StructType) -> list[str]:
    """``"name: old -> new"`` for each column of ``new`` that ``old`` holds
    with another type (a CDM widening such as bigint -> string).  Types
    compare by ``simpleString``: the nested nullability a parquet read
    relaxes is not a type change."""
    before = {f.name: f.dataType.simpleString() for f in old.fields}
    return [
        f"{f.name}: {before[f.name]} -> {f.dataType.simpleString()}"
        for f in new.fields
        if f.name in before and before[f.name] != f.dataType.simpleString()
    ]


def zorder_key(df: DataFrame, columns: list[str]) -> F.Column:
    """Morton (Z-order) curve key over 2-4 numeric columns, as a pure
    codegen'd expression (no UDF; its only data pass is one bounded
    min/max aggregation that folds the 2k extrema in as literals).

    Each column is min/max-scaled to ``bits`` integer levels, then the
    columns' bits are interleaved — bit ``j`` of column ``c`` lands at
    position ``j*k + (k-1-c)`` — so a contiguous key range is a small
    multi-dimensional bounding box.  The interleave is unrolled into a
    flat OR/shift expression tree (``16*k`` terms), entirely inside
    whole-stage codegen.  ``bits`` is sized so the key fits a BIGINT
    (16 bits/dim at k<=3, 15 at k=4).

    Min/max scaling is the published Delta/Iceberg practice for z-order
    range IDs; heavily skewed columns cluster less evenly (their levels
    bunch up) but correctness and file statistics are unaffected.  Null
    values scale to level 0.
    """
    k = len(columns)
    if not 2 <= k <= 4:
        raise ValueError(f"zorder_key takes 2-4 columns, got {k}")
    bits = min(16, 62 // k)
    levels = (1 << bits) - 1
    row = df.agg(
        *[F.min(F.col(c).cast("double")).alias(f"mn{i}") for i, c in enumerate(columns)],
        *[F.max(F.col(c).cast("double")).alias(f"mx{i}") for i, c in enumerate(columns)],
    ).first()
    zero = F.lit(0).cast("bigint")
    z: F.Column | None = None
    for i, c in enumerate(columns):
        mn, mx = row[f"mn{i}"], row[f"mx{i}"]
        rng = (mx - mn) if (mn is not None and mx is not None) else 0.0
        if rng and rng > 0:
            scaled = (F.col(c).cast("double") - F.lit(float(mn))) * F.lit(levels / rng)
            lvl = F.coalesce(
                F.least(F.greatest(scaled.cast("bigint"), zero), F.lit(levels).cast("bigint")),
                zero,
            )
        else:
            lvl = zero
        pos0 = k - 1 - i
        for j in range(bits):
            term = F.shiftleft(F.shiftright(lvl, j).bitwiseAND(F.lit(1).cast("bigint")), j * k + pos0)
            z = term if z is None else z.bitwiseOR(term)
    return z.cast("bigint")
