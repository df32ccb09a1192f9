"""A9 partitionExpressions: spec parsing, partition-transform layout,
and incremental commits with nested transform directories."""

from __future__ import annotations

import datetime as dt
import os

import pytest
from pyspark.sql import functions as F

from arcane_stream_microsoft_synapse_link_spark.config import (
    parse_partition_expressions,
    spec_from_dict,
)
from arcane_stream_microsoft_synapse_link_spark.tables import VersionedTable


def test_parse_partition_expressions():
    key, n, transforms = parse_partition_expressions(
        ["bucket(arcane_merge_key, 10)", "month(order_date)", "dataareaid"]
    )
    assert (key, n) == ("arcane_merge_key", 10)
    assert transforms == (("month", "order_date"), ("identity", "dataareaid"))

    assert parse_partition_expressions(None) == ("arcane_merge_key", 0, ())
    with pytest.raises(ValueError):
        parse_partition_expressions(["bucket(k)"])
    with pytest.raises(ValueError):
        parse_partition_expressions(["month(a, b); DROP TABLE x"])


def test_spec_maps_partition_expressions():
    spec = spec_from_dict(
        {
            "sink": {
                "targetTableProperties": {
                    "partitionExpressions": ["bucket(arcane_merge_key, 4)", "month(SinkModifiedOn)"]
                }
            }
        },
        target_root="/tmp/x",
    )
    assert spec.bucket_count == 4 and spec.bucket_key == "arcane_merge_key"
    assert spec.target_partition_transforms == (("month", "SinkModifiedOn"),)


def _df(spark, rows):
    return spark.createDataFrame(rows, "arcane_merge_key string, ts timestamp, v long")


def test_transform_layout_and_roundtrip(spark, tmp_path):
    t = VersionedTable(
        str(tmp_path / "t"), bucket_count=2, partition_transforms=(("month", "ts"),)
    )
    rows = [
        ("a", dt.datetime(2024, 1, 5), 1),
        ("b", dt.datetime(2024, 2, 5), 2),
        ("c", dt.datetime(2024, 2, 6), 3),
    ]
    t.commit(_df(spark, rows))
    snap = os.path.join(str(tmp_path / "t"), "v0000001")
    buckets = [d for d in os.listdir(snap) if d.startswith("__bucket=")]
    assert buckets, "bucket level must stay outermost"
    months = {
        m for b in buckets for m in os.listdir(os.path.join(snap, b)) if m.startswith("__p_month_ts=")
    }
    assert months == {"__p_month_ts=2024-01", "__p_month_ts=2024-02"}

    back = t.read(spark)
    assert not [c for c in back.columns if c.startswith("__p_")]
    assert sorted((r["arcane_merge_key"], r["v"]) for r in back.collect()) == [
        ("a", 1), ("b", 2), ("c", 3)
    ]


def test_incremental_commit_hard_links_nested_transform_dirs(spark, tmp_path):
    t = VersionedTable(
        str(tmp_path / "t"), bucket_count=4, partition_transforms=(("month", "ts"),)
    )
    rows = [(f"k{i}", dt.datetime(2024, 1 + i % 3, 5), i) for i in range(16)]
    t.commit(_df(spark, rows))

    full = _df(spark, rows).withColumn("__bucket", t.bucket_expr())
    touched = [r[0] for r in full.where(F.col("arcane_merge_key") == "k0").select("__bucket").collect()]
    changed = full.where(F.col("__bucket").isin(touched)).withColumn(
        "v", F.col("v") + 100 * (F.col("arcane_merge_key") == "k0").cast("long")
    )
    t.commit(changed, touched_buckets=touched)

    # untouched buckets: nested parquet files share inodes with v1
    v1, v2 = t._snapshot_dir(1), t._snapshot_dir(2)
    shared = rewritten = 0
    for dp, _, fs in os.walk(v2):
        for f in fs:
            if not f.endswith(".parquet"):
                continue
            rel = os.path.relpath(os.path.join(dp, f), v2)
            old = os.path.join(v1, rel)
            if os.path.exists(old) and os.path.samefile(old, os.path.join(dp, f)):
                shared += 1
            else:
                rewritten += 1
    assert shared > 0 and rewritten > 0

    got = {r["arcane_merge_key"]: r["v"] for r in t.read(spark).collect()}
    assert got["k0"] == 100 and got["k1"] == 1 and len(got) == 16


def test_max_rows_per_file_caps_file_sizes(spark, tmp_path):
    """A6 maxRowsPerFile: a commit with the cap set rolls files at the cap."""
    t = VersionedTable(str(tmp_path / "t"), max_rows_per_file=100)
    df = spark.range(1000).coalesce(1).selectExpr("CAST(id AS STRING) AS arcane_merge_key", "id AS v")
    t.commit(df)
    snap = t._snapshot_dir(1)
    files = [f for f in os.listdir(snap) if f.endswith(".parquet")]
    assert len(files) >= 10
    assert t.read(spark).count() == 1000


def test_commit_conflict_detection(spark, tmp_path):
    """Optimistic concurrency: a racing writer on the same base version
    fails fast with CommitConflictError; a crashed writer's stale claim is
    taken over; a sequential retry after re-read succeeds."""
    import time

    import pytest

    from arcane_stream_microsoft_synapse_link_spark.tables import CommitConflictError

    t = VersionedTable(str(tmp_path / "t"))
    df = spark.range(10).selectExpr("CAST(id AS STRING) AS arcane_merge_key", "id v")
    assert t.commit(df) == 1

    # writer B claims v2 first -> writer A conflicts immediately
    t._claim_version(2)
    with pytest.raises(CommitConflictError, match="v2"):
        t.commit(df)

    # crashed-writer claim: age it past the TTL -> commit takes over
    claim = os.path.join(str(tmp_path / "t"), "_meta", "claims", "2")
    old = time.time() - 7200
    os.utime(claim, (old, old))
    assert t.commit(df) == 2
    assert t.read(spark).count() == 10


def test_failed_commit_releases_its_claim(spark, tmp_path):
    """A commit whose plan fails raises and leaves neither its version
    claim nor a partial snapshot, so the next valid commit (a retry) takes
    that version at once instead of conflicting until the claim expires."""
    t = VersionedTable(str(tmp_path / "t"))
    df = spark.range(10).selectExpr("CAST(id AS STRING) AS arcane_merge_key", "id v")
    assert t.commit(df) == 1

    # one task: no straggler can write into the snapshot dir after the
    # job has failed
    bad = df.coalesce(1).withColumn(
        "v", F.when(F.col("v") >= 0, F.raise_error(F.lit("boom"))).otherwise(F.col("v"))
    )
    with pytest.raises(Exception, match="boom"):
        t.commit(bad)
    assert not os.path.exists(os.path.join(str(tmp_path / "t"), "_meta", "claims", "2"))
    assert not os.path.exists(t._snapshot_dir(2))

    assert t.commit(df) == 2
    assert t.read(spark).count() == 10


def _file_stats(path, cols):
    """Per-parquet-file [min, max] of each column under a snapshot dir."""
    import os

    import pyarrow.parquet as pq

    stats = []
    for dp, _, fs in os.walk(path):
        for f in fs:
            if not f.endswith(".parquet"):
                continue
            tb = pq.read_table(os.path.join(dp, f), columns=cols)
            if tb.num_rows == 0:
                continue
            import pyarrow.compute as pc

            stats.append(
                {
                    c: (
                        pc.min(tb.column(c)).as_py(),
                        pc.max(tb.column(c)).as_py(),
                    )
                    for c in cols
                }
            )
    return stats


def test_optimize_zorder_shrinks_file_bounding_boxes(spark, tmp_path):
    """Z-order rewrite: after optimize_zorder(['x','y']), every data file
    covers a small bounding box in BOTH dimensions (min/max footer stats
    prune on either predicate), where the random layout's files span the
    full range; the row set is unchanged."""
    import random

    from arcane_stream_microsoft_synapse_link_spark.tables import VersionedTable

    rng = random.Random(13)
    rows = [(rng.randrange(65536), rng.randrange(65536)) for _ in range(40_000)]
    t = VersionedTable(str(tmp_path / "t"))
    df = spark.createDataFrame(rows, "x long, y long").repartition(16)
    t.commit(df)

    before = _file_stats(t._snapshot_dir(1), ["x", "y"])
    span = 65535.0
    avg_before = sum((s["x"][1] - s["x"][0]) / span for s in before) / len(before)
    assert avg_before > 0.9, f"random layout unexpectedly clustered: {before}"

    v2 = t.optimize_zorder(spark, ["x", "y"], n_files=16)
    assert v2 == 2
    after = _file_stats(t._snapshot_dir(2), ["x", "y"])
    assert len(after) >= 8, f"too few data files after rewrite: {after}"
    for c in ("x", "y"):
        avg = sum((s[c][1] - s[c][0]) / span for s in after) / len(after)
        # 16 z-range files over a 2-D uniform square -> each file covers
        # roughly a quarter of each axis; allow headroom for curve overlap
        assert avg < 0.6, f"{c}: avg per-file width {avg:.2f} not clustered"

    # data-skipping evidence: a point predicate on either column prunes
    # most files by min/max alone.  Averaged over several probes:
    # repartitionByRange samples boundaries with a job-dependent seed, so
    # any SINGLE probe can land on a boundary-straddling alignment (a
    # full-suite run measured 9/16 once for y=17000 while isolation runs
    # gave ≤8 — the flake was the fixed probe, not the clustering)
    for c in ("x", "y"):
        probes = [5_000, 17_000, 33_000, 49_000, 61_000]
        containing = [
            sum(1 for s in after if s[c][0] <= p <= s[c][1]) for p in probes
        ]
        avg_frac = sum(containing) / (len(probes) * len(after))
        assert avg_frac <= 0.5, (c, containing, after)

    # row multiset unchanged
    got = sorted((r.x, r.y) for r in t.read(spark).collect())
    assert got == sorted(rows)


def test_optimize_zorder_bucketed_keeps_bucket_layout(spark, tmp_path):
    """On a bucketed table the z-rewrite keeps __bucket as the outermost
    directory level (incremental commits keep hard-linking) and z-sorts
    within buckets."""
    import os

    from arcane_stream_microsoft_synapse_link_spark.tables import VersionedTable

    t = VersionedTable(str(tmp_path / "t"), bucket_count=4, bucket_key="k")
    df = spark.createDataFrame(
        [(f"k{i}", i % 100, (i * 37) % 100) for i in range(2_000)],
        "k string, x long, y long",
    )
    t.commit(df)
    v2 = t.optimize_zorder(spark, ["x", "y"])
    snap = t._snapshot_dir(v2)
    assert any(n.startswith("__bucket=") for n in os.listdir(snap))
    assert t.read(spark).count() == 2_000


def test_optimize_zorder_survives_sorted_by(spark, tmp_path):
    """Regression (round-11 advice): when the table has sorted_by
    configured, commit() used to re-apply sortWithinPartitions with the
    configured sort columns AFTER the z-sort, silently undoing the
    clustering.  The z-commit now carries a sort override, so files stay
    z-clustered on both dimensions even with sorted_by set."""
    import random

    from arcane_stream_microsoft_synapse_link_spark.tables import VersionedTable

    rng = random.Random(29)
    rows = [(rng.randrange(65536), rng.randrange(65536)) for _ in range(40_000)]
    # sorted_by=('y',): a plain y-sort leaves x files spanning the full range
    t = VersionedTable(str(tmp_path / "t"), sorted_by=("y",))
    t.commit(spark.createDataFrame(rows, "x long, y long").repartition(16))

    v2 = t.optimize_zorder(spark, ["x", "y"], n_files=16)
    after = _file_stats(t._snapshot_dir(v2), ["x", "y"])
    assert len(after) >= 8
    span = 65535.0
    for c in ("x", "y"):
        avg = sum((s[c][1] - s[c][0]) / span for s in after) / len(after)
        assert avg < 0.6, f"{c}: sorted_by undid the z-sort (avg width {avg:.2f})"
    # __z never leaks into the written schema
    assert "__z" not in t.read(spark).columns
    # subsequent plain commits keep honoring sorted_by
    t.commit(t.read(spark))
    assert "__z" not in t.read(spark).columns


def test_optimize_zorder_sorted_by_bucketed_incremental(spark, tmp_path):
    """sort_override composes with the bucketed layout: a z-rewrite on a
    bucketed + sorted_by table keeps __bucket as the outermost directory
    level, drops __z from the written schema, and later incremental
    commits (touched_buckets) still hard-link untouched bucket dirs."""
    import os

    from arcane_stream_microsoft_synapse_link_spark.tables import VersionedTable

    t = VersionedTable(
        str(tmp_path / "t"), bucket_count=4, bucket_key="k", sorted_by=("y",)
    )
    df = spark.createDataFrame(
        [(f"k{i}", i % 100, (i * 37) % 100) for i in range(2_000)],
        "k string, x long, y long",
    )
    t.commit(df)
    v2 = t.optimize_zorder(spark, ["x", "y"])
    snap = t._snapshot_dir(v2)
    assert any(n.startswith("__bucket=") for n in os.listdir(snap))
    assert "__z" not in t.read(spark).columns
    assert t.read(spark).count() == 2_000

    # incremental commit touching only bucket 0: other buckets hard-link
    full = t.read(spark)
    b0 = full.withColumn("__bucket", t.bucket_expr()).where("__bucket = 0")
    v3 = t.commit(b0, touched_buckets=[0])
    assert t.read(spark).count() == 2_000
    prev, cur = t._snapshot_dir(v2), t._snapshot_dir(v3)

    def inodes(root, bucket):
        d = os.path.join(root, f"__bucket={bucket}")
        return {
            os.stat(os.path.join(dp, f)).st_ino
            for dp, _, fs in os.walk(d)
            for f in fs
            if f.endswith(".parquet")
        }

    for b in (1, 2, 3):  # untouched buckets share inodes with the z-snapshot
        assert inodes(cur, b) == inodes(prev, b)
    assert inodes(cur, 0) != inodes(prev, 0)


def test_optimize_compaction_preserves_zorder_layout(spark, tmp_path):
    """Round-12 advice: optimize() (compaction) used to commit without a
    sort override, so compacting a z-clustered table re-sorted by
    sorted_by and silently undid the clustering.  optimize_zorder now
    persists its columns as the table layout (_meta/layout.json) and
    optimize() re-applies the z-sort: inside every compacted file the
    Morton key is non-decreasing while the sorted_by column is not —
    the layout, not sorted_by, won."""
    import os
    import random

    import pyarrow.parquet as pq

    from arcane_stream_microsoft_synapse_link_spark.tables import VersionedTable

    rng = random.Random(41)
    rows = [(rng.randrange(65536), rng.randrange(65536)) for _ in range(40_000)]
    t = VersionedTable(str(tmp_path / "t"), sorted_by=("y",))
    t.commit(spark.createDataFrame(rows, "x long, y long").repartition(16))
    assert t.zorder_layout() == []
    v2 = t.optimize_zorder(spark, ["x", "y"], n_files=16)
    assert t.zorder_layout() == ["x", "y"]

    v3 = t.optimize(spark)  # 16 tiny files -> compaction fires
    assert v3 == v2 + 1

    # python twin of tables.zorder_key (k=2, bits=16, min/max from data,
    # double scaling with truncation toward zero -- bit-identical)
    mns = [min(r[i] for r in rows) for i in (0, 1)]
    mxs = [max(r[i] for r in rows) for i in (0, 1)]
    levels = (1 << 16) - 1

    def zkey(x, y):
        z = 0
        for i, v in enumerate((x, y)):
            lvl = int((float(v) - mns[i]) * (levels / (mxs[i] - mns[i])))
            lvl = max(0, min(lvl, levels))
            for j in range(16):
                z |= ((lvl >> j) & 1) << (j * 2 + (1 - i))
        return z

    files = [
        os.path.join(dp, f)
        for dp, _, fs in os.walk(t._snapshot_dir(v3))
        for f in fs
        if f.endswith(".parquet")
    ]
    assert files
    y_sorted_everywhere = True
    for path in files:
        tb = pq.read_table(path, columns=["x", "y"])
        xs, ys = tb.column("x").to_pylist(), tb.column("y").to_pylist()
        zs = [zkey(a, b) for a, b in zip(xs, ys)]
        assert zs == sorted(zs), f"{path}: compaction lost the z-order"
        if ys != sorted(ys):
            y_sorted_everywhere = False
    assert not y_sorted_everywhere, "rows are plain y-sorted: sorted_by won"

    # row multiset unchanged by the compaction
    assert sorted((r.x, r.y) for r in t.read(spark).collect()) == sorted(rows)


def test_optimize_compaction_bucketed_keeps_zorder_within_buckets(spark, tmp_path):
    """Bucketed + z-layout + sorted_by: compaction keeps __bucket as the
    outermost layout AND re-sorts within bucket files by the persisted
    z-key (not sorted_by)."""
    import os
    import random

    import pyarrow.parquet as pq

    from arcane_stream_microsoft_synapse_link_spark.tables import VersionedTable

    rng = random.Random(59)
    rows = [
        (f"k{i % 4}", rng.randrange(65536), rng.randrange(65536))
        for i in range(20_000)
    ]
    t = VersionedTable(
        str(tmp_path / "t"), bucket_count=4, bucket_key="k", sorted_by=("y",)
    )
    t.commit(spark.createDataFrame(rows, "k string, x long, y long").repartition(8))
    v2 = t.optimize_zorder(spark, ["x", "y"])
    v3 = t.optimize(spark)
    assert v3 == v2 + 1
    snap = t._snapshot_dir(v3)
    assert any(n.startswith("__bucket=") for n in os.listdir(snap))

    xs_all = [r[1] for r in rows]
    ys_all = [r[2] for r in rows]
    mns = [min(xs_all), min(ys_all)]
    mxs = [max(xs_all), max(ys_all)]
    levels = (1 << 16) - 1

    def zkey(x, y):
        z = 0
        for i, v in enumerate((x, y)):
            lvl = max(0, min(int((float(v) - mns[i]) * (levels / (mxs[i] - mns[i]))), levels))
            for j in range(16):
                z |= ((lvl >> j) & 1) << (j * 2 + (1 - i))
        return z

    checked = 0
    for dp, _, fs in os.walk(snap):
        for f in fs:
            if not f.endswith(".parquet"):
                continue
            tb = pq.read_table(os.path.join(dp, f), columns=["x", "y"])
            zs = [zkey(a, b) for a, b in zip(tb.column("x").to_pylist(), tb.column("y").to_pylist())]
            assert zs == sorted(zs), f"{dp}/{f}: bucket file lost z-order"
            checked += 1
    # 4 distinct keys can hash-collide into fewer buckets; at least 2
    # non-empty bucket files must have been z-checked for this to mean much
    assert checked >= 2
    assert t.read(spark).count() == 20_000
