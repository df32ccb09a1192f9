"""Structured Streaming source for Synapse Link exports (operator A1-A3).

A real ``pyspark.sql.datasource.DataSource`` stream reader — the idiomatic
Spark-4 shape for the reference's ``SynapseLinkStreamingSource``
(main.scala:49; SURVEY.md §2.A A1/A2, §7 M3):

* ``latestOffset``  = read ``Changelog/changelog.info`` (the frontier —
  reference polls it every changeCaptureInterval).
* ``partitions(start, end)`` = one input partition per CSV chunk in the
  batch folders named within ``(start, end]`` — folder names are sortable
  timestamps, so the offset range IS the watermark filter (B5), and data
  reads parallelize per chunk exactly like the reference's per-file reads.
* ``read(partition)`` = tokenize the headerless CSV against the folder's
  own ``model.json`` column list (per-batch schema, watch-list item 3).

The source only tokenizes: every column comes out as a raw string
(unquoted and quoted empty fields are null, as in Spark's CSV reader),
plus ``_batch_folder``.  Typing is the engine's job, not the source's:
``streaming.structured.read_stream`` applies ``cdm.cast_attribute`` — the
casts the batch reader uses — so one JVM projection types both paths.  A
direct ``readStream.format("synapse_link")`` user gets the raw strings;
``read_stream`` is the typed entry point.

Offsets live in the streaming checkpoint → exactly-once with an idempotent
sink merge.
"""

from __future__ import annotations

import csv
import io
import os
import re
import sys
from collections.abc import Iterator, Sequence
from dataclasses import dataclass

from pyspark.sql.datasource import DataSource, DataSourceStreamReader, InputPartition
from pyspark.sql.types import StructType

from .cdm import CdmEntity
from .synapse import FOLDER_RE, SynapseLinkSource


def stream_schema(entity: CdmEntity) -> StructType:
    """The source's output schema: the entity's columns as raw strings,
    then the provenance column — which batch folder (source version) each
    row came from, so the sink commits a B11 watermark per micro-batch."""
    return entity.raw_schema().add("_batch_folder", "string", nullable=False)


@dataclass(frozen=True)
class CsvChunkPartition(InputPartition):
    path: str
    folder: str  # batch folder name = source version (provenance + watermark)
    columns: tuple[str, ...]  # the folder's model.json column order
    # byte range [offset, offset+length) of PROVEN whole records; length -1
    # = to EOF.  Ranges are planned by _csv_split_points, whose cuts sit
    # right after quote-parity-even newlines — true record boundaries even
    # when quoted fields embed newlines.
    offset: int = 0
    length: int = -1


# planner-side sub-file splitting: one Python-worker partition per CSV file
# serializes the Arrow parse when a folder is a handful of huge blobs (the
# 100×-volume readStream gap — 3 files, 32 cores, 3 busy).  Files larger
# than this are cut into parity-safe byte ranges.  Option ``chunkBytes``.
DEFAULT_CHUNK_BYTES = 32 * 1024 * 1024


def _csv_split_points(path: str, chunk_bytes: int) -> list[int]:
    """Byte offsets that are PROVEN record starts, ~chunk_bytes apart.

    A newline at byte i is a record boundary iff the count of quote chars
    in [0, i) is even (records start outside quotes; every ``"`` toggles
    state; the ``""`` escape toggles twice — net zero).  This is the same
    parity argument as ``cdm.paths_are_line_splittable``, applied
    cumulatively so the planner needs no per-line scan: one sequential
    block read (bounded memory, numpy byte ops at ~GB/s), picking the
    first parity-even newline at/after each chunk_bytes multiple.  On an
    object store this pass becomes ranged GETs; here the Python
    DataSource path is local-only (``_local_path``), so it is one cheap
    page-cache pass the 32-way parallel parse then amortizes."""
    import numpy as np

    size = os.path.getsize(path)
    if size <= 2 * chunk_bytes:
        return []
    cuts: list[int] = []
    parity = 0
    pos = 0
    target = chunk_bytes
    block_sz = 8 * 1024 * 1024
    with open(path, "rb") as fh:
        while pos < size and target < size:
            block = fh.read(block_sz)
            if not block:
                break
            arr = np.frombuffer(block, dtype=np.uint8)
            if pos + len(block) > target:
                nl = np.flatnonzero(arr == 0x0A)
                if nl.size:
                    q = np.flatnonzero(arr == 0x22)
                    par = (parity + np.searchsorted(q, nl, side="left")) % 2
                    safe_abs = (nl[par == 0] + pos).astype(np.int64)
                    while target < size:
                        k = int(np.searchsorted(safe_abs, target))
                        if k == len(safe_abs):
                            break  # next safe newline lives in a later block
                        cut = int(safe_abs[k]) + 1
                        if cut >= size:
                            target = size
                            break
                        cuts.append(cut)
                        target = cut + chunk_bytes
            parity = (parity + int((arr == 0x22).sum())) % 2
            pos += len(block)
    return cuts


def _local_path(path: str) -> str:
    """Executor-side chunk reads open the file directly (pyarrow.csv /
    csv.reader): ``file://`` URIs are unwrapped; other schemes need a
    connector-backed read — use the batch runner (JVM reader) for those."""
    if path.startswith("file://"):
        return path[len("file://"):]
    if re.match(r"^[a-z][a-z0-9+.\-]*://", path, re.IGNORECASE):
        raise NotImplementedError(
            f"python DataSource chunk read supports local/file:// paths, got {path!r}; "
            "use the batch runner (StreamRunner) whose JVM reader handles any "
            "Hadoop filesystem scheme"
        )
    return path


class SynapseLinkStreamReader(DataSourceStreamReader):
    def __init__(
        self,
        root: str,
        entity: str,
        max_folders_per_trigger: int = 0,
        query_columns: tuple[str, ...] = (),
        chunk_bytes: int = DEFAULT_CHUNK_BYTES,
    ):
        self._source = SynapseLinkSource(root, entity)
        self._max_folders = max_folders_per_trigger
        self._chunk_bytes = max(0, chunk_bytes)
        # data columns of the query schema (no _batch_folder): every emitted
        # row is projected onto these — folder-local schemas may lag (null-
        # padded) or lead (extra attrs dropped until a stream restart picks
        # up the widened schema, the Spark file-source evolution contract)
        self._query_columns = query_columns
        # Progress known to THIS reader instance: set by initialOffset (fresh
        # stream) and commit (each finished batch). After a checkpoint
        # restart it is None until the first commit — the API does not hand
        # the reader the restored offset — so the first trigger is uncapped
        # (a restart burst), then steady-state admission capping resumes.
        self._known_progress: str | None = None

    # -- offsets (A1): folder-name frontier from the changelog pointer ----
    def initialOffset(self) -> dict:
        self._known_progress = ""
        return {"folder": ""}

    def latestOffset(self) -> dict:
        """Frontier = changelog pointer, optionally admission-capped to N
        folders past known progress (operator B18, the static throughput
        shaper — the maxFilesPerTrigger idiom for this source)."""
        head = self._source.changelog_head()
        if head and self._max_folders > 0 and self._known_progress is not None:
            pend = self._source.list_folders(after=self._known_progress or None, up_to=head)
            if len(pend) > self._max_folders:
                head = pend[self._max_folders - 1].name
        if head and self._known_progress:
            head = max(head, self._known_progress)  # never regress the frontier
        return {"folder": head or ""}

    # -- planning (A2/B5): folders in (start, end], one partition per CSV --
    def partitions(self, start: dict, end: dict) -> Sequence[InputPartition]:
        after = start.get("folder") or None
        up_to = end.get("folder") or None
        if up_to is None:
            return []
        parts: list[CsvChunkPartition] = []
        for folder in self._source.list_folders(after=after, up_to=up_to):
            csvs = self._source.batch_csvs(folder)  # scheme-agnostic (A5)
            if not csvs:
                continue
            columns = tuple(a.name for a in self._source.entity_schema(folder).attributes)
            for p in csvs:
                parts.extend(self._file_partitions(p, folder.name, columns))
        return parts

    def _file_partitions(
        self, path: str, folder: str, columns: tuple[str, ...]
    ) -> list[CsvChunkPartition]:
        """One partition per parity-safe byte range of the file — the
        file-source ``maxPartitionBytes`` discipline for this reader: a
        folder made of a few huge blobs would otherwise collapse the scan
        to the file count.  Non-local schemes and small files stay whole."""
        if self._chunk_bytes:
            try:
                local = _local_path(path)
                cuts = _csv_split_points(local, self._chunk_bytes)
            except (NotImplementedError, OSError):
                cuts = []
            if cuts:
                bounds = [0, *cuts, os.path.getsize(local)]
                return [
                    CsvChunkPartition(
                        path=path,
                        folder=folder,
                        columns=columns,
                        offset=lo,
                        length=hi - lo,
                    )
                    for lo, hi in zip(bounds, bounds[1:])
                ]
        return [CsvChunkPartition(path=path, folder=folder, columns=columns)]

    @staticmethod
    def _chunk(partition: CsvChunkPartition) -> bytes:
        """The partition's byte range — whole records by the planner's
        parity proof."""
        with open(_local_path(partition.path), "rb") as fh:
            if partition.offset:
                fh.seek(partition.offset)
            return fh.read(partition.length if partition.length >= 0 else -1)

    # -- executor-side read (A3): tokenize only ---------------------------
    def _row_plan(self, names: tuple[str, ...]) -> list[int | None]:
        """Project the folder-local row onto the query schema (B7/B10):
        query column missing in this folder → None; folder attr unknown
        to the query → dropped."""
        by_name = {n: i for i, n in enumerate(names)}
        return [by_name.get(c) for c in self._query_columns or names]

    def _batch(self, columns: list, names: tuple[str, ...], folder: str):
        """Folder-local string columns → one RecordBatch on the query
        schema, ``_batch_folder`` last."""
        import pyarrow as pa

        n = len(columns[0]) if columns else 0
        arrays = [
            columns[i] if i is not None else pa.nulls(n, pa.string())
            for i in self._row_plan(names)
        ]
        arrays.append(pa.repeat(folder, n))
        return pa.RecordBatch.from_arrays(
            arrays, names=[*(self._query_columns or names), "_batch_folder"]
        )

    def read(self, partition: CsvChunkPartition) -> Iterator:
        """Raw-string RecordBatches: the C++ CSV parse, and ``csv.reader``
        for the rows it rejects (ragged sparse-delete rows) or a chunk it
        cannot parse at all."""
        import pyarrow as pa
        import pyarrow.csv as pacsv

        names = partition.columns
        bad_lines: list[str] = []

        def on_invalid(row):
            bad_lines.append(row.text)
            return "skip"

        if partition.offset or partition.length >= 0:
            source = pa.BufferReader(self._chunk(partition))
        else:
            source = _local_path(partition.path)
        try:
            table = pacsv.read_csv(
                source,
                read_options=pacsv.ReadOptions(column_names=names),
                parse_options=pacsv.ParseOptions(
                    quote_char='"',
                    double_quote=True,
                    newlines_in_values=True,
                    invalid_row_handler=on_invalid,
                ),
                convert_options=pacsv.ConvertOptions(
                    column_types={n: pa.string() for n in names},
                    null_values=[""],
                    strings_can_be_null=True,
                    quoted_strings_can_be_null=True,
                ),
            )
        except pa.ArrowInvalid:
            table, bad_lines = None, [self._chunk(partition).decode("utf-8", "replace")]
        if table is not None and table.num_rows:
            yield self._batch(
                [c.combine_chunks() for c in table.columns], names, partition.folder
            )
        rows = [r for r in csv.reader(io.StringIO("\n".join(bad_lines), newline="")) if r]
        if rows:
            width = len(names)
            padded = [(r + [""] * width)[:width] for r in rows]
            columns = [pa.array([r[j] or None for r in padded], pa.string()) for j in range(width)]
            yield self._batch(columns, names, partition.folder)

    def commit(self, end: dict) -> None:
        # offsets live in the checkpoint; sink-side watermark is B11.
        # Track committed progress so admission capping stays relative.
        f = end.get("folder") or ""
        if f and (self._known_progress is None or f > self._known_progress):
            self._known_progress = f


class SynapseLinkDataSource(DataSource):
    """``spark.readStream.format("synapse_link").option("path", root)
    .option("entity", name).load()``"""

    @classmethod
    def name(cls) -> str:
        return "synapse_link"

    def schema(self) -> StructType:
        root = self.options.get("path")
        entity = self.options.get("entity")
        if not root or not entity:
            raise ValueError("synapse_link source requires 'path' and 'entity' options")
        return stream_schema(SynapseLinkSource(root, entity).stream_entity())

    def streamReader(self, schema: StructType) -> SynapseLinkStreamReader:
        return SynapseLinkStreamReader(
            self.options["path"],
            self.options["entity"],
            max_folders_per_trigger=int(self.options.get("maxfolderspertrigger", 0)),
            query_columns=tuple(f.name for f in schema.fields if f.name != "_batch_folder"),
            chunk_bytes=int(self.options.get("chunkbytes", DEFAULT_CHUNK_BYTES)),
        )


def register(spark) -> None:
    """Register the source on a session (idempotent). Call before
    ``readStream.format("synapse_link")``.

    The source graph (this module + synapse + cdm + the exprmemo memo
    that cdm's Column builders use) is marked for
    cloudpickle BY-VALUE serialization before registration: Spark's
    streaming-source PLANNER worker (python_streaming_source_runner)
    does not receive the session's python includes the way task workers
    do, so a by-reference pickle raises ModuleNotFoundError on any
    driver whose cwd doesn't contain this package (observed on the
    vanilla-session verify drive from /tmp).  By-value embeds the class
    and function definitions in the pickled command itself — no import
    needed at unpickle time.  Executor task workers still get the
    shipped zip (session.tune → addPyFile), which covers the partition
    pickles the planner re-serializes by reference.  A by-value function
    carries the memo its code reaches; the memo pickles empty, and its
    class comes along by value."""
    from ..session import tune

    tune(spark)  # confs + ship package zip so executors can unpickle us
    try:
        from pyspark import cloudpickle

        from .. import exprmemo as _exprmemo
        from . import cdm as _cdm
        from . import synapse as _synapse

        for m in (sys.modules[__name__], _synapse, _cdm, _exprmemo):
            cloudpickle.register_pickle_by_value(m)
    except (ImportError, AttributeError) as exc:
        # Only the documented fallback (older cloudpickle without the
        # by-value API) is swallowed — anything else (e.g. a typo'd import
        # after a refactor) would silently reproduce the planner-side
        # ModuleNotFoundError this registration exists to fix, so it must
        # propagate.  Leave a breadcrumb either way.
        import warnings

        warnings.warn(
            f"synapse_link.register: by-value pickling unavailable ({exc!r}); "
            "falling back to by-reference + addPyFile (same-cwd drivers only)",
            RuntimeWarning,
            stacklevel=2,
        )
    spark.dataSource.register(SynapseLinkDataSource)


# unused-name guard for FOLDER_RE re-export (folder grammar is shared)
__all__ = [
    "SynapseLinkDataSource",
    "SynapseLinkStreamReader",
    "CsvChunkPartition",
    "register",
    "stream_schema",
    "FOLDER_RE",
]
