"""Latest-version-wins deduplication — the CDC primitive (operator B8).

Reference behavior (inferred from the integration test's observable
contract, StreamRunner.scala:206-233): within a batch, multiple change rows
per merge key collapse to the one with the highest row version; re-uploads
of identical rows merge without effect.

Version ordering: ``versionnumber`` when present (delete rows DO carry it —
a globally higher value, SynapseMetadata.scala:21-22 — so a delete that
arrives after an update in the same batch wins), with ``sysrowversion`` as
a fallback for rows where ``versionnumber`` is absent. [inferred]

Scale note: one shuffle on the merge key (window partition). At 100 TB the
key space is huge but per-key row counts are tiny (change batches), so
there is no skew concern; AQE handles stragglers.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from ..exprmemo import schema_memo


def latest_by_version(
    df: DataFrame,
    key: str = "arcane_merge_key",
    version_col: str = "versionnumber",
    fallback_version_col: str | None = "sysrowversion",
) -> DataFrame:
    versions = tuple(c for c in (version_col, fallback_version_col) if c and c in df.columns)
    if not versions:
        # no version column at all: keep the batch as-is (the merge keeps
        # one row per key of it, see merge.py)
        return df
    rank, first = _latest_row(key, versions)
    return df.withColumn("__rn", rank).where(first).drop("__rn")


def row_version(versions: tuple[str, ...]) -> Column:
    """A row's version: the first non-null of the ``versions`` columns."""
    return F.coalesce(*map(F.col, versions)) if len(versions) > 1 else F.col(versions[0])


def version_order(versions: tuple[str, ...], *ties: Column) -> list[Column]:
    """Newest first: the row version descending with nulls last, then
    ``ties``, then the fallback column descending — the one B8 order,
    shared by :func:`latest_by_version` and the merge's window
    (``merge.py``)."""
    return [F.desc_nulls_last(row_version(versions)), *ties, *map(F.desc_nulls_last, versions[1:])]


@schema_memo
def _latest_row(key: str, versions: tuple[str, ...]) -> tuple[Column, Column]:
    """The per-key rank by version (newest first) and its "is the newest"
    filter, memoized per (key, version columns present) like the merge's
    Columns (see ``exprmemo``)."""
    w = Window.partitionBy(key).orderBy(*version_order(versions))
    return F.row_number().over(w), F.col("__rn") == 1
