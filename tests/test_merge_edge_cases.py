"""Edge cases of the one-window CDC merge (``operators/merge.py``), each
checked on a flat and a bucketed target against a dict oracle: the rows
the merge leaves and all four observation counts (inserts, updates,
deletes, no-ops).

``oracle_merge`` extends ``test_cdc_property.oracle_apply`` to rows that
carry ``versionnumber`` and ``sysrowversion`` separately, either of them
null, and to the per-batch counts; on rows without nulls it is
``oracle_apply`` (checked below)."""

from __future__ import annotations

import pytest
from pyspark.sql import Observation
from pyspark.sql import functions as F

from arcane_stream_microsoft_synapse_link_spark.operators.merge import cdc_merge

from .test_cdc_property import oracle_apply

SCHEMA = (
    "Id string, versionnumber long, sysrowversion long, IsDelete boolean, "
    "payload long, arcane_merge_key string"
)
UNVERSIONED = "Id string, IsDelete boolean, payload long, arcane_merge_key string"
BUCKETS = 4


def _version(vn, srv):
    return vn if vn is not None else srv


def oracle_merge(state, batch):
    """Apply one batch of ``(key, versionnumber, sysrowversion, is_delete,
    payload)`` rows to ``state`` (key → (versionnumber, sysrowversion,
    payload)) and return the counts.  Per key the newest row of the batch
    (coalesced version, then sysrowversion, descending, nulls last) takes
    part; it takes effect when the key is absent, the target's version is
    null, or its version is strictly newer."""

    def newest_first(row):
        v, srv = _version(row[1], row[2]), row[2]
        return (v is None, -(v or 0), srv is None, -(srv or 0))

    winners = {}
    for row in sorted(batch, key=newest_first):
        winners.setdefault(row[0], row)
    counts = {"inserts": 0, "updates": 0, "deletes": 0, "noops": 0}
    for key, (_, vn, srv, is_del, payload) in winners.items():
        v = _version(vn, srv)
        held = key in state
        took = not held or (
            (tv := _version(*state[key][:2])) is None or (v is not None and v > tv)
        )
        if not took or (is_del and not held):
            counts["noops"] += 1
        elif is_del:
            del state[key]
            counts["deletes"] += 1
        else:
            counts["updates" if held else "inserts"] += 1
            state[key] = (vn, srv, payload)
    return counts


def test_oracle_merge_extends_oracle_apply():
    batches = [
        [(1, 5, False, 10), (1, 7, False, 11), (2, 3, True, 12)],
        [(1, 7, False, 13), (2, 4, False, 14), (3, 2, True, 15)],
        [(2, 9, True, 16), (2, 5, False, 17), (1, 8, False, 18)],
        [(2, 1, False, 19)],
    ]
    state = {}
    for b in batches:
        oracle_merge(state, [(k, v, None, d, p) for k, v, d, p in b])
    assert {k: (vn, p) for k, (vn, _, p) in state.items()} == oracle_apply(batches)


# (target rows (key, vn, srv, payload), batches of (key, vn, srv, is_delete, payload))
CASES = {
    "null_versionnumber_falls_back_to_sysrowversion": (
        [("a", 10, 1, 1)],
        [[
            ("a", None, 20, False, 2),  # 20 > 10: update
            ("b", None, 5, False, 3),  # insert
            ("c", None, 30, False, 4),  # 30 beats the 25 of the next row
            ("c", 25, 40, False, 5),
        ]],
    ),
    "null_target_version": (
        [("a", None, None, 1), ("b", None, None, 2), ("c", 7, None, 3)],
        [[
            ("a", 5, None, False, 10),  # any version beats a null one: update
            ("b", None, None, False, 20),  # both null: the staged row wins
            ("c", None, None, False, 30),  # null against 7: no-op
        ]],
    ),
    "equal_versions_are_a_stale_reupload": (
        [("a", 10, 3, 1), ("b", 10, 3, 2)],
        [[("a", 10, 3, False, 9), ("b", 10, 3, True, 9)]],
    ),
    "delete_of_absent_key": (
        [("a", 10, 1, 1)],
        [[("z", 10, 1, True, 0)]],
    ),
    "delete_and_stale_reupload_in_one_batch": (
        [("a", 10, 1, 1), ("b", 10, 1, 2)],
        [[
            ("a", 20, 2, True, 0),
            ("a", 10, 1, False, 1),  # the base file again
            ("b", 30, 3, True, 0),
            ("b", 15, 2, False, 5),  # newer than the target, older than the delete
        ]],
    ),
    "revived_key": (
        [("a", 10, 1, 1)],
        [
            [("a", 20, 2, True, 0)],
            [("a", 30, 3, False, 7)],
        ],
    ),
}


def _rows_of(out):
    return {
        r["arcane_merge_key"]: (r["versionnumber"], r["sysrowversion"], r["payload"])
        for r in out.collect()
    }


def _merge(spark, target, batch, schema, bucketed):
    """Merge ``batch`` (rows of ``schema`` without the trailing merge key)
    into ``target``; the new target, collected, and the observation."""
    staged = spark.createDataFrame([(*row, row[0]) for row in batch], schema)
    obs = Observation()
    bucket = F.pmod(F.xxhash64("arcane_merge_key"), F.lit(BUCKETS)).cast("int")
    out = cdc_merge(target, staged, observation=obs, bucket=bucket if bucketed else None)
    merged = spark.createDataFrame(out.collect(), out.schema)
    if bucketed:  # every row sits in its key's bucket
        assert merged.where(~merged["__bucket"].eqNullSafe(bucket)).count() == 0
    return merged, obs.get


@pytest.mark.parametrize("bucketed", [False, True], ids=["flat", "bucketed"])
@pytest.mark.parametrize("case", sorted(CASES))
def test_merge_edge_case_matches_oracle(spark, case, bucketed):
    target_rows, batches = CASES[case]
    state = {k: (vn, srv, p) for k, vn, srv, p in target_rows}
    target = spark.createDataFrame(
        [(k, vn, srv, False, p, k) for k, vn, srv, p in target_rows], SCHEMA
    )
    for batch in batches:
        expected_counts = oracle_merge(state, batch)
        target, counts = _merge(spark, target, batch, SCHEMA, bucketed)
        assert counts == expected_counts, (case, batch)
        assert _rows_of(target) == state, (case, batch)
        assert target.count() == len(state)  # one row per key


@pytest.mark.parametrize("bucketed", [False, True], ids=["flat", "bucketed"])
def test_unversioned_batch_keeps_one_row_per_key(spark, bucketed):
    """Without version columns every staged key takes effect, and the
    window keeps ONE row per key; which of a batch's rows for a key wins
    is undefined."""
    target = spark.createDataFrame([("a", False, 1, "a"), ("b", False, 2, "b")], UNVERSIONED)
    batch = [("a", False, 10), ("a", False, 11), ("c", False, 3), ("b", True, 0), ("z", True, 0)]
    out, counts = _merge(spark, target, batch, UNVERSIONED, bucketed)
    got = [(r["arcane_merge_key"], r["payload"]) for r in out.collect()]
    assert sorted(k for k, _ in got) == ["a", "c"]
    assert dict(got)["a"] in (10, 11) and dict(got)["c"] == 3
    assert counts == {"inserts": 1, "updates": 1, "deletes": 1, "noops": 1}
