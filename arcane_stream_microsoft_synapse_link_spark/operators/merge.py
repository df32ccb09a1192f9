"""CDC upsert MERGE + schema evolution (operators B9/B10).

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

Expressed Spark-first as equi-joins on the merge key:

    effective  = staged ⟕ target(key, version) WHERE new-or-newer
    survivors  = target ANTI-JOIN effective-keys
    result     = survivors UNION (effective WHERE NOT IsDelete)

— the same logical plan a Delta/Iceberg copy-on-write ``MERGE INTO`` with
those clauses lowers to. The staged side of a change batch is small
(≤ rowsPerGroup), so AQE executes both joins as broadcasts: no full-table
shuffle, and with merge-key bucketing on the target the join is co-located.

Idempotency: re-merging the same batch finds equal versions (guard fails)
→ no-op. Combined with commit-then-watermark ordering this is the
exactly-once contract (SURVEY.md §7 item 4).

Schema evolution (B10, docs/backfill.md:14-19): staging-only columns are
added to the target (nulls backfilled); target-only columns get nulls for
inserted rows.
"""

from __future__ import annotations

from typing import NamedTuple

from pyspark.sql import Column, DataFrame, Observation
from pyspark.sql import functions as F

from ..exprmemo import columns, schema_memo
from .dedup import latest_by_version


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
    key: Column
    not_delete: Column
    # the version guard over staged ⟕ target(key, version): the target
    # side's select list, the join condition and "new or newer"; None
    # without a target or without version columns
    target_versions: tuple[Column, ...] | None
    join_on: Column | None
    newer: Column | None
    # the observation's aggregates over the deduplicated staged rows
    effect: tuple[Column, ...]


@schema_memo
def _merge_columns(
    key: str, version_cols: tuple[str, ...], is_delete_col: str | None, has_target: bool
) -> _MergeColumns:
    """Every Column ``cdc_merge`` builds, for one merge shape: the key,
    the version columns present (coalesced in this order), the delete
    flag column if present, and whether there is a target.  Memoized
    (keyed by that shape, bounded, pickled empty — see ``exprmemo``), so a
    stream whose schema holds still builds them once."""
    is_delete = (
        F.coalesce(F.col(is_delete_col), F.lit(False)) if is_delete_col else F.lit(False)
    )
    guard = join_on = newer = None
    if not has_target:
        hit, takes_effect = F.lit(False), F.lit(True)
    elif version_cols:
        ver = F.col(version_cols[0]) if len(version_cols) == 1 else F.coalesce(
            *[F.col(c) for c in version_cols]
        )
        guard = (F.col(key).alias("__k"), ver.alias("__tgt_v"), F.lit(True).alias("__hit"))
        join_on = F.col(key) == F.col("__k")
        newer = F.col("__tgt_v").isNull() | (ver > F.col("__tgt_v"))
        hit, takes_effect = F.col("__hit").isNotNull(), newer
    else:
        # no version columns → last-write-wins
        hit, takes_effect = F.lit(True), F.lit(True)
    # a null version compares null: the guard filter drops the row, so it
    # counts as a no-op
    took = F.coalesce(takes_effect, F.lit(False))
    upsert = took & ~is_delete
    effect = (
        F.count(F.when(upsert & ~hit, 1)).alias("inserts"),
        F.count(F.when(upsert & hit, 1)).alias("updates"),
        F.count(F.when(took & is_delete & hit, 1)).alias("deletes"),
        F.count(F.when(~took | (is_delete & ~hit), 1)).alias("noops"),
    )
    return _MergeColumns(F.col(key), ~is_delete, guard, join_on, newer, effect)


def cdc_merge(
    target: DataFrame | None,
    staged: DataFrame,
    key: str = "arcane_merge_key",
    version_col: str = "versionnumber",
    is_delete_col: str = "IsDelete",
    dedup_staged: bool = True,
    allow_schema_evolution: bool = True,
    observation: Observation | None = None,
) -> DataFrame:
    """Merge a staged change batch into the target; returns the new target.

    ``allow_schema_evolution=False`` is the reference's
    ``staging.table.isUnifiedSchema: true`` (crd-microsoft-synapse.yaml:82-85):
    schema migration between stage and target is disabled, so a column-set
    mismatch is an error instead of an auto-ADD/null-fill.

    ``observation``: filled, when the returned plan first runs, with what
    the deduplicated staged rows did after the version guard: the
    ``inserts``, ``updates`` and ``deletes`` (of a key the target held)
    that took effect, and the ``noops`` that did not — stale re-uploads
    and deletes of absent keys.  The four add up to the deduplicated
    rows.  It rides on that plan (``DataFrame.observe``), so it starts no
    Spark job.  Without version columns every staged row takes effect
    (last write wins) and counts as an update when the target is not
    empty.

    The guard, the delete flag and the observation's aggregates are built
    once per merge shape (:func:`_merge_columns`: keyed by the key, the
    version and delete columns present and whether a target exists;
    bounded; pickled empty)."""
    if dedup_staged:
        staged = latest_by_version(staged, key=key, version_col=version_col)

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
    # after _evolve both sides hold the same columns
    names = (target if target is not None else staged).columns
    c = _merge_columns(
        key,
        tuple(v for v in (version_col, "sysrowversion") if v in names),
        is_delete_col if is_delete_col in names else None,
        target is not None,
    )

    def observed(df: DataFrame) -> DataFrame:
        # observed BEFORE the guard filter, on the branch that feeds the
        # union: AQE drops plan branches it proves empty (the broadcast
        # of touched keys, say), and an observation that lived only there
        # would come back empty
        return df if observation is None else df.observe(observation, *c.effect)

    if target is None:
        return observed(staged).where(c.not_delete)

    if c.target_versions is not None:
        joined = staged.join(target.select(*c.target_versions), c.join_on, "left")
        effective = observed(joined).where(c.newer).drop("__k", "__tgt_v", "__hit")
    else:
        effective = observed(staged)

    upserts = effective.where(c.not_delete)
    touched_keys = effective.select(c.key)
    survivors = target.join(touched_keys, on=key, how="left_anti")
    return survivors.unionByName(upserts)
