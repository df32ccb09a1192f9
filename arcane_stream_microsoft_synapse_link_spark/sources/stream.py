"""Structured Streaming source for Synapse Link exports (operator A1-A2).

A real ``pyspark.sql.datasource.DataSource`` stream reader — the idiomatic
Spark-4 shape for the reference's ``SynapseLinkStreamingSource``
(main.scala:49; SURVEY.md §2.A A1/A2, §7 M3).  It supplies offsets only,
in the Structured Streaming model where each micro-batch is an
incremental execution of the batch plan over an offset range:

* ``latestOffset``  = read ``Changelog/changelog.info`` (the frontier —
  reference polls it every changeCaptureInterval), optionally capped to
  ``maxFoldersPerTrigger`` folders past the last reported offset.
* ``partitions(start, end)`` = ONE partition holding the names of the
  batch folders within ``(start, end]`` — folder names are sortable
  timestamps, so the offset range IS the watermark filter (B5).
* ``read(partition)`` = one ``_batch_folder`` row per folder.

The CSV data is not read here: ``streaming.structured.run_structured``
hands each micro-batch's folder names to ``StreamRunner.merge_folders``,
the batch runner's read-and-merge step, so both drivers read through the
one JVM CSV reader (``cdm.read_entity_csv``) with each folder's own
``model.json``, and a mid-stream ADD COLUMN is merged without a restart.

Offsets live in the streaming checkpoint → exactly-once with an idempotent
sink merge.
"""

from __future__ import annotations

import sys
from collections.abc import Iterator, Sequence

from pyspark.sql.datasource import DataSource, DataSourceStreamReader, InputPartition

from .synapse import SynapseLinkSource


class SynapseLinkStreamReader(DataSourceStreamReader):
    def __init__(self, root: str, entity: str, max_folders_per_trigger: int = 0):
        self._source = SynapseLinkSource(root, entity)
        self._max_folders = max_folders_per_trigger
        # The highest offset this reader has reported, planned or seen
        # committed; None until the first call.  Spark asks latestOffset
        # before initialOffset and hands no start offset to it, so the
        # first trigger — of a fresh stream or after a checkpoint restart —
        # cannot be capped (a burst); every later one admits at most N
        # folders past the last offset reported, and the frontier never
        # regresses.
        self._seen: str | None = None

    def _see(self, folder: str) -> None:
        if self._seen is None or folder > self._seen:
            self._seen = folder

    # -- offsets (A1): folder-name frontier from the changelog pointer ----
    def initialOffset(self) -> dict:
        self._see("")
        return {"folder": ""}

    def latestOffset(self) -> dict:
        """Frontier = changelog pointer, admission-capped to N folders past
        the last reported offset (operator B18, the static throughput
        shaper — the maxFilesPerTrigger idiom for this source)."""
        head = self._source.changelog_head() or ""
        if self._seen is not None:
            if self._max_folders > 0 and head > self._seen:
                pend = self._source.list_folders(after=self._seen or None, up_to=head)
                if len(pend) > self._max_folders:
                    head = pend[self._max_folders - 1].name
            head = max(head, self._seen)
        self._see(head)
        return {"folder": head}

    # -- planning (A2/B5): the folder names in (start, end] ---------------
    def partitions(self, start: dict, end: dict) -> Sequence[InputPartition]:
        after, up_to = start.get("folder") or None, end.get("folder") or None
        self._see(max(after or "", up_to or ""))  # a restart may re-plan first
        if up_to is None:
            return []
        names = tuple(f.name for f in self._source.list_folders(after=after, up_to=up_to))
        return [InputPartition(names)] if names else []

    def read(self, partition: InputPartition) -> Iterator[tuple[str]]:
        for name in partition.value:
            yield (name,)

    def commit(self, end: dict) -> None:
        # offsets live in the checkpoint; sink-side watermark is B11
        self._see(end.get("folder") or "")


class SynapseLinkDataSource(DataSource):
    """``spark.readStream.format("synapse_link").option("path", root)
    .option("entity", name).load()`` — a stream of ``_batch_folder``
    names."""

    @classmethod
    def name(cls) -> str:
        return "synapse_link"

    def schema(self) -> str:
        if not self.options.get("path") or not self.options.get("entity"):
            raise ValueError("synapse_link source requires 'path' and 'entity' options")
        # the batch folder (source version) of each admitted folder — the
        # sink's watermark per micro-batch (B11)
        return "_batch_folder string"

    def streamReader(self, schema) -> SynapseLinkStreamReader:
        return SynapseLinkStreamReader(
            self.options["path"],
            self.options["entity"],
            max_folders_per_trigger=int(self.options.get("maxfolderspertrigger", 0)),
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


__all__ = ["SynapseLinkDataSource", "SynapseLinkStreamReader", "register"]
