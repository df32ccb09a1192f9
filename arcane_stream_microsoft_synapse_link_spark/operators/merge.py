"""CDC upsert MERGE + schema evolution (operators B8/B9/B10).

Semantics proven by the reference integration test
(StreamRunner.scala:176-233, Fixtures.scala:35-73): every streamed batch
re-uploads the full base file alongside genuine changes, yet

  * the deleted key stays deleted,
  * the updated key keeps its bumped ``versionnumber`` (2111000012),
  * row count ends at exactly 5 − 1 + 2.

That is only satisfiable if the merge is **version-guarded**: a staged row
takes effect only when its row version (``versionnumber``, falling back to
``sysrowversion`` — delete rows carry only the latter,
SynapseMetadata.scala:21-22) is strictly newer than the target row's.
Stale re-uploads become no-ops ("merged without actual updates"). Shape:

    WHEN MATCHED AND staged.version > target.version AND staged.IsDelete THEN DELETE
    WHEN MATCHED AND staged.version > target.version THEN UPDATE *
    WHEN NOT MATCHED AND NOT staged.IsDelete THEN INSERT *

Expressed Spark-first as ONE window over the target and the change batch:

    rows    = target (__src = 0) UNION ALL staged (__src = 1)
    winner  = row_number() = 1 OVER (PARTITION BY key
                ORDER BY version DESC NULLS LAST, __src tie, sysrowversion DESC NULLS LAST)
    result  = winner WHERE NOT (staged AND IsDelete)

Per key the newest row wins, whichever side it came from: that is the
in-batch dedup (B8), the version guard and the survivor pick (B9) at
once. The ``__src`` tie decides equal versions for the target row, so a
stale re-upload is a no-op, and a null version for the staged row (a
target row without a version is replaced, as a missing target row is).
The plan reads the target once and has one shuffle: the union is
repartitioned by the merge key, or on a bucketed target by ``__bucket``
(the window then partitions by bucket and key), so every touched bucket
is written by one task as one file. No join, no broadcast.

Idempotency: re-merging the same batch finds equal versions (the target
row wins) → no-op. Combined with commit-then-watermark ordering this is
the exactly-once contract (SURVEY.md §7 item 4).

Without version columns the window still keeps one row per key: a staged
row replaces the target row, and which of a batch's rows for one key wins
is undefined.

Schema evolution (B10, docs/backfill.md:14-19): staging-only columns are
added to the target (nulls backfilled); target-only columns get nulls for
inserted rows.
"""

from __future__ import annotations

from typing import NamedTuple

from pyspark.sql import Column, DataFrame, Observation, Window
from pyspark.sql import functions as F

from ..exprmemo import columns, schema_memo

# ``latest_by_version`` stays reachable here (``cdcbench/spans.py`` traces
# it under this module); the merge dedups inside its own window
from .dedup import latest_by_version, row_version, version_order  # noqa: F401


def _evolve(target: DataFrame, staged: DataFrame) -> tuple[DataFrame, DataFrame]:
    """Align schemas by name, adding missing columns as typed nulls (B10).

    Columns present on BOTH sides with different types are reconciled
    newest-schema-wins: the per-batch ``model.json`` is authoritative in
    the reference (one schema per batch folder, SURVEY §1.3), so a type
    change in a new batch — the CDM widenings ``int64 → string`` /
    ``int64 → decimal`` — casts the TARGET's historical column to the
    staged type.  Spark's non-ANSI cast nulls (never errors) values a
    narrowing cast cannot represent, mirroring the null-on-empty CSV
    coercion of the ingest path."""
    t_cols = {f.name: f.dataType for f in target.schema.fields}
    s_cols = {f.name: f.dataType for f in staged.schema.fields}
    for name, dtype in s_cols.items():
        if name not in t_cols:
            target = target.withColumn(name, F.lit(None).cast(dtype))
        elif t_cols[name] != dtype:
            target = target.withColumn(name, F.col(name).cast(dtype))
    for name, dtype in t_cols.items():
        if name not in s_cols:
            staged = staged.withColumn(name, F.lit(None).cast(dtype))
    return target, staged.select(*columns(tuple(target.columns)))


class _MergeColumns(NamedTuple):
    tag_target: Column  # __src = 0
    tag_staged: Column  # __src = 1
    # row_number over the key window and, when observed, the per-key
    # "holds a target row" / "holds a staged row" flags
    ranked: tuple[Column, ...]
    winner: Column
    keep: Column  # drops the staged deletes that won
    # the observation's aggregates over the winner rows
    effect: tuple[Column, ...]
    helpers: tuple[str, ...]  # the columns the merge adds, dropped at the end


@schema_memo
def _merge_columns(
    key: str,
    versions: tuple[str, ...],
    is_delete_col: str | None,
    bucketed: bool,
    observed: bool,
) -> _MergeColumns:
    """Every Column ``cdc_merge`` builds, for one merge shape: the key,
    the version columns present (coalesced in this order), the delete
    flag column if present, whether the window partitions by ``__bucket``
    too and whether an observation rides on it.  Memoized (keyed by that
    shape, bounded, pickled empty — see ``exprmemo``), so a stream whose
    schema holds still builds them once."""
    is_delete = (
        F.coalesce(F.col(is_delete_col), F.lit(False)) if is_delete_col else F.lit(False)
    )
    src = F.col("__src")
    if versions:
        # equal versions: the target row first; a null version: the staged row
        tie = F.when(row_version(versions).isNull(), 1 - src).otherwise(src)
        order = version_order(versions, tie)
    else:
        order = [src.desc()]
    w = Window.partitionBy(*(("__bucket", key) if bucketed else (key,))).orderBy(*order)
    ranked = [F.row_number().over(w).alias("__rn")]
    took = src == 1  # the staged row won
    effect: tuple[Column, ...] = ()
    if observed:
        key_rows = w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
        ranked += [
            (F.min(src).over(key_rows) == 0).alias("__in_target"),
            (F.max(src).over(key_rows) == 1).alias("__in_staged"),
        ]
        hit, touched = F.col("__in_target"), F.col("__in_staged")
        effect = (
            F.count(F.when(took & ~is_delete & ~hit, 1)).alias("inserts"),
            F.count(F.when(took & ~is_delete & hit, 1)).alias("updates"),
            F.count(F.when(took & is_delete & hit, 1)).alias("deletes"),
            # stale re-uploads (the target row won) and deletes of absent keys
            F.count(F.when(touched & ~(took & (~is_delete | hit)), 1)).alias("noops"),
        )
    return _MergeColumns(
        F.lit(0).alias("__src"),
        F.lit(1).alias("__src"),
        tuple(ranked),
        F.col("__rn") == 1,
        ~(took & is_delete),
        effect,
        ("__src", "__rn", "__in_target", "__in_staged") if observed else ("__src", "__rn"),
    )


def cdc_merge(
    target: DataFrame | None,
    staged: DataFrame,
    key: str = "arcane_merge_key",
    version_col: str = "versionnumber",
    is_delete_col: str = "IsDelete",
    allow_schema_evolution: bool = True,
    observation: Observation | None = None,
    bucket: Column | None = None,
) -> DataFrame:
    """Merge a staged change batch into the target; returns the new target.

    ``staged`` may hold several rows per key: the newest takes part.

    ``allow_schema_evolution=False`` is the reference's
    ``staging.table.isUnifiedSchema: true`` (crd-microsoft-synapse.yaml:82-85):
    schema migration between stage and target is disabled, so a column-set
    mismatch is an error instead of an auto-ADD/null-fill.

    ``observation``: filled, when the returned plan first runs, with what
    the staged keys did: the ``inserts``, ``updates`` and ``deletes`` (of
    a key the target held) that took effect, and the ``noops`` that did
    not — stale re-uploads and deletes of absent keys.  The four add up
    to the distinct staged keys.  It rides on that plan
    (``DataFrame.observe`` over the window's winner rows), so it starts
    no Spark job.

    ``bucket``: a bucketed target's bucket expression
    (``VersionedTable.bucket_expr``).  A side without a ``__bucket``
    column gets one, and the one shuffle clusters by bucket, so each
    bucket the batch touches is written as one file.

    The window, the delete flag and the observation's aggregates are
    built once per merge shape (:func:`_merge_columns`; bounded; pickled
    empty)."""
    if bucket is not None:
        if "__bucket" not in staged.columns:
            staged = staged.withColumn("__bucket", bucket)
        if target is not None and "__bucket" not in target.columns:
            target = target.withColumn("__bucket", bucket)
    if target is not None:
        if not allow_schema_evolution:
            t_names = {f.name for f in target.schema.fields if not f.name.startswith("__")}
            s_names = {f.name for f in staged.schema.fields if not f.name.startswith("__")}
            if t_names != s_names:
                raise ValueError(
                    "isUnifiedSchema: staged/target schema mismatch "
                    f"(staging-only: {sorted(s_names - t_names)}, "
                    f"target-only: {sorted(t_names - s_names)})"
                )
        target, staged = _evolve(target, staged)
    # after _evolve both sides hold the same columns, in the same order
    names = staged.columns
    c = _merge_columns(
        key,
        tuple(v for v in (version_col, "sysrowversion") if v in names),
        is_delete_col if is_delete_col in names else None,
        bucket is not None,
        observation is not None,
    )
    rows = staged.select("*", c.tag_staged)
    if target is not None:
        rows = target.select("*", c.tag_target).union(rows)
    winners = (
        rows.repartition("__bucket" if bucket is not None else key)
        .select("*", *c.ranked)
        .where(c.winner)
    )
    if observation is not None:
        winners = winners.observe(observation, *c.effect)
    return winners.where(c.keep).drop(*c.helpers)
