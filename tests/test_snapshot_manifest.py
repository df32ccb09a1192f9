"""Snapshot manifests (`VersionedTable`): every commit records its schema
and format in ``<snapshot>/_manifest.json``, so resolving a snapshot reads
no parquet footers (no Spark job), ``changes()`` is prunable down to the
key and version columns, and a manifest this code cannot read is refused
by name."""

from __future__ import annotations

import json
import os

import pytest
from pyspark.sql import functions as F

from arcane_stream_microsoft_synapse_link_spark.tables import (
    MANIFEST,
    SnapshotFormatError,
    VersionedTable,
)

from .conftest import count_jobs


def _mk(spark, rows, schema="arcane_merge_key string, val long, versionnumber long"):
    return spark.createDataFrame(rows, schema)


def _bucket_of(spark, keys, n):
    df = _mk(spark, [(k, 0, 0) for k in keys]).select(
        "arcane_merge_key",
        F.pmod(F.xxhash64("arcane_merge_key"), F.lit(n)).cast("int").alias("b"),
    )
    return {r["arcane_merge_key"]: r["b"] for r in df.collect()}


def _bucketed(spark, tmp_path, n=8):
    t = VersionedTable(str(tmp_path / "t"), bucket_count=n)
    rows = [(f"k{i}", i, 10) for i in range(64)]
    t.commit(_mk(spark, rows))
    return t, rows, _bucket_of(spark, [r[0] for r in rows], n)


def test_read_and_changes_start_no_job(spark, tmp_path):
    t, rows, bof = _bucketed(spark, tmp_path)
    b = bof["k3"]
    bucket_rows = [r for r in rows if bof[r[0]] == b]
    changed = [(k, v + 100, 11) if k == "k3" else (k, v, ver) for k, v, ver in bucket_rows]
    t.commit(_mk(spark, changed), touched_buckets=[b])

    df, n = count_jobs(spark, lambda: t.read(spark))
    assert n == 0
    assert df.count() == 64
    cdf, n = count_jobs(spark, lambda: t.changes(spark, 1, version_col="versionnumber"))
    assert n == 0
    assert [(r["arcane_merge_key"], r["_change_type"]) for r in cdf.collect()] == [
        ("k3", "update")
    ]


def test_change_type_count_reads_key_and_version_only(spark, tmp_path):
    t = VersionedTable(str(tmp_path / "t"))
    wide = "arcane_merge_key string, val long, note string, versionnumber long"
    t.commit(_mk(spark, [("a", 1, "x", 10), ("b", 2, "y", 10)], wide))
    t.commit(_mk(spark, [("a", 1, "x", 10), ("b", 3, "z", 11), ("c", 4, "w", 10)], wide))

    counts = (
        t.changes(spark, 1, version_col="versionnumber").groupBy("_change_type").count()
    )
    plan = counts._jdf.queryExecution().executedPlan().toString()
    schemas = [ln.split("ReadSchema: ")[1] for ln in plan.splitlines() if "ReadSchema" in ln]
    assert len(schemas) == 2  # one scan per snapshot
    assert all(s == "struct<arcane_merge_key:string,versionnumber:bigint>" for s in schemas)
    assert {r[0]: r[1] for r in counts.collect()} == {"update": 1, "insert": 1}


def test_linked_buckets_on_older_columns_read_null(spark, tmp_path):
    """A column added by an incremental commit reads null on the buckets it
    hard-linked — through the manifest schema, with no footer merge."""
    t, rows, bof = _bucketed(spark, tmp_path, n=4)
    b = bof["k5"]
    mine = [r for r in rows if bof[r[0]] == b]
    t.commit(
        _mk(
            spark,
            [(k, v, ver, "new") for k, v, ver in mine],
            "arcane_merge_key string, val long, versionnumber long, extra string",
        ),
        touched_buckets=[b],
    )
    df, n = count_jobs(spark, lambda: t.read(spark))
    assert n == 0
    got = {r["arcane_merge_key"]: r["extra"] for r in df.collect()}
    assert len(got) == 64
    assert {k for k, v in got.items() if v == "new"} == {k for k, _, _ in mine}
    assert all(v is None for k, v in got.items() if v != "new")


def test_incremental_commit_refuses_type_change(spark, tmp_path):
    t, _, bof = _bucketed(spark, tmp_path, n=4)
    b = bof["k1"]
    widened = _mk(
        spark,
        [("k1", "one", 11)],
        "arcane_merge_key string, val string, versionnumber long",
    )
    with pytest.raises(ValueError, match=r"val: bigint -> string"):
        t.commit(widened, touched_buckets=[b])
    # nothing was written or claimed: the table reads, and the next commit
    # (the whole table, as the message says) goes through
    assert t.current_version() == 1 and t.read(spark).count() == 64
    assert t.commit(widened) == 2
    assert dict(t.read(spark).dtypes)["val"] == "string"


def _manifest(t, v):
    return os.path.join(t._snapshot_dir(v), MANIFEST)


def test_manifest_records_format_and_schema(spark, tmp_path):
    t = VersionedTable(str(tmp_path / "t"), bucket_count=4)
    t.commit(_mk(spark, [("a", 1, 10)]))
    with open(_manifest(t, 1)) as fh:
        m = json.load(fh)
    assert (m["format"], m["format_version"]) == ("arcane-versioned-table", 1)
    assert [f["name"] for f in m["schema"]["fields"]] == [
        "arcane_merge_key", "val", "versionnumber", "__bucket",
    ]


@pytest.mark.parametrize(
    "field, value",
    [("format", "someone-elses-table"), ("format_version", 2)],
)
def test_unknown_or_newer_manifest_is_refused(spark, tmp_path, field, value):
    t = VersionedTable(str(tmp_path / "t"))
    t.commit(_mk(spark, [("a", 1, 10)]))
    t.commit(_mk(spark, [("a", 2, 11)]))
    with open(_manifest(t, 2)) as fh:
        m = json.load(fh)
    m[field] = value
    with open(_manifest(t, 2), "w") as fh:
        json.dump(m, fh)
    with pytest.raises(SnapshotFormatError, match=r"snapshot v2 of .*_manifest\.json"):
        t.read(spark)
    with pytest.raises(SnapshotFormatError, match="snapshot v2"):
        t.changes(spark, 1)
    assert t.read(spark, version=1).count() == 1  # other snapshots still read


def test_snapshot_without_manifest_reads_through_merge_schema(spark, tmp_path):
    """Snapshots written before manifests existed (here: manifests removed)
    still read, including hard-linked buckets on an older column set, and
    the next incremental commit on top of them writes a full manifest."""
    t, rows, bof = _bucketed(spark, tmp_path, n=4)
    b = bof["k2"]
    mine = [r for r in rows if bof[r[0]] == b]
    t.commit(
        _mk(
            spark,
            [(k, v, ver, "x") for k, v, ver in mine],
            "arcane_merge_key string, val long, versionnumber long, extra string",
        ),
        touched_buckets=[b],
    )
    for v in (1, 2):
        os.remove(_manifest(t, v))
    df, n = count_jobs(spark, lambda: t.read(spark))
    assert n == 1  # the footer-merge job manifests exist to avoid
    assert df.count() == 64 and "extra" in df.columns
    # the added column is not compared: no shared column changed
    assert t.changes(spark, 1).count() == 0

    # an incremental commit that drops the column keeps it in the manifest
    # (the linked buckets still carry it)
    other = (b + 1) % 4
    theirs = [r for r in rows if bof[r[0]] == other]
    t.commit(_mk(spark, theirs), touched_buckets=[other])
    df, n = count_jobs(spark, lambda: t.read(spark))
    assert n == 0
    assert "extra" in df.columns and df.where(F.col("extra") == "x").count() == len(mine)
