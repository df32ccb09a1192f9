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
    has_version = version_col in df.columns
    has_fallback = bool(fallback_version_col) and fallback_version_col in df.columns
    if not (has_version or has_fallback):
        # no version column at all: keep the batch as-is so the merge's
        # documented last-write-wins fallback (merge.py) decides
        return df
    rank, first = _latest_row(
        key, version_col if has_version else None, fallback_version_col if has_fallback else None
    )
    return df.withColumn("__rn", rank).where(first).drop("__rn")


@schema_memo
def _latest_row(key: str, version_col: str | None, fallback: str | None) -> tuple[Column, Column]:
    """The per-key rank by version (newest first) and its "is the newest"
    filter, memoized per (key, version columns present) like the merge's
    Columns (see ``exprmemo``)."""
    order = []
    if version_col and fallback:
        order.append(F.desc_nulls_last(F.coalesce(F.col(version_col), F.col(fallback))))
        order.append(F.desc_nulls_last(fallback))
    else:
        order.append(F.desc_nulls_last(version_col or fallback))
    w = Window.partitionBy(key).orderBy(*order)
    return F.row_number().over(w), F.col("__rn") == 1
