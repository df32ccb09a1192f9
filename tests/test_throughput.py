"""B6 row-granular grouping + B18 static token-bucket shaping + B22 stop.

Reference contracts: rowsPerGroup/groupingIntervalSeconds (docs/crd.md:35-43),
advisedRate "N per T second" + advisedBurst with shaperImpl static
(crd-microsoft-synapse.yaml:320-360), PosixStreamLifetimeService graceful
SIGTERM (main.scala:82, exit 0 / retryable 2 main.scala:63-66).
"""

from __future__ import annotations

import os
from datetime import datetime, timedelta

import pytest

from arcane_stream_microsoft_synapse_link_spark.streaming.runner import StreamRunner, StreamSpec
from arcane_stream_microsoft_synapse_link_spark.streaming.throughput import (
    TokenBucket,
    chunk_by_rows,
    parse_advised_rate,
)

from .synapse_fixture import ENTITY, SynapseFixture, data_row


def test_parse_advised_rate_crd_shapes():
    assert parse_advised_rate("1000 per 15 second") == pytest.approx(1000 / 15)
    assert parse_advised_rate("100 per 1 second") == pytest.approx(100.0)
    assert parse_advised_rate("100 per second") == pytest.approx(100.0)
    assert parse_advised_rate("60 per minute") == pytest.approx(1.0)
    assert parse_advised_rate("7200 per 2 hours") == pytest.approx(1.0)
    for bad in ("fast", "per second", "-5 per second", "0 per second"):
        with pytest.raises(ValueError):
            parse_advised_rate(bad)


def test_token_bucket_admits_at_configured_rate():
    """A 3×-rate inflow is admitted at the configured rate, not the offered
    rate (the VERDICT's acceptance check)."""
    clock = {"t": 0.0}
    bucket = TokenBucket(rate_per_s=1000.0, capacity=1000.0, clock=lambda: clock["t"])
    admitted = 0
    # offer 3000 rows/s in 300-row groups for 10 simulated seconds
    for step in range(100):
        clock["t"] = step * 0.1
        for _ in range(3):  # 3 groups of 300 rows per 0.1 s = 9000 rows/s offered... 3x after the first second
            if bucket.try_take(300):
                admitted += 300
    # capacity burst (1000) + 10 s × 1000 rows/s, quantized to 300-row groups
    assert 10000 <= admitted <= 11100
    # steady-state check: next second admits ~rate
    clock["t"] = 20.0  # refill to capacity
    base = admitted
    for step in range(10):
        clock["t"] = 20.0 + step * 0.1
        for _ in range(3):
            if bucket.try_take(300):
                admitted += 300
    # ≤ refilled burst (1000) + 0.9 s × rate + one group of quantization
    assert admitted - base <= 1000 + 900 + 300


def test_token_bucket_oversized_group_passes_on_full_bucket():
    clock = {"t": 0.0}
    bucket = TokenBucket(rate_per_s=100.0, capacity=100.0, clock=lambda: clock["t"])
    assert bucket.take_up_to_capacity(5000)  # would starve forever otherwise
    assert bucket.tokens == 0.0
    assert not bucket.take_up_to_capacity(10)  # drained: pay the wait
    assert bucket.wait_time(10) == pytest.approx(0.1)
    clock["t"] = 1.0
    assert bucket.take_up_to_capacity(10)


def test_chunk_by_rows_caps_and_oversize():
    items = ["a", "b", "c", "d"]
    rows = [400, 500, 5000, 100]
    groups = chunk_by_rows(items, rows, 1000)
    assert groups == [["a", "b"], ["c"], ["d"]]  # oversize folder is its own group
    assert chunk_by_rows(items, rows, 0) == [items]
    assert chunk_by_rows([], [], 1000) == []


def _make_source(tmp_path, n_folders: int = 3, rows_each: int = 40) -> SynapseFixture:
    fx = SynapseFixture(os.path.join(str(tmp_path), "source"))
    base = datetime(2021, 6, 1, 12, 0, 0)
    last = None
    for i in range(n_folders):
        ts = base + timedelta(minutes=10 * i)
        rows = [
            data_row(f"{i:04d}{j:04d}-aaaa-bbbb-cccc-ddddeeee0000", 6_000_000_000 + i * rows_each + j, f"r{i}_{j}")
            for j in range(rows_each)
        ]
        last = fx.write_folder(ts, rows)
    fx.set_changelog(last)
    return fx


def test_rows_per_group_splits_ticks_into_group_commits(tmp_path, spark):
    fx = _make_source(tmp_path, n_folders=3, rows_each=40)
    spec = StreamSpec(
        entity_name=ENTITY,
        source_root=fx.root,
        target_root=os.path.join(str(tmp_path), "target"),
        rows_per_group=50,  # 40-row folders → one folder per group
    )
    r = StreamRunner(spark, spec)
    consumed = r.run_once()
    assert consumed == 3
    # each group merged + watermarked independently → 3 snapshot commits
    assert r.table.current_version() == 3
    assert r.table.read(spark).count() == 120
    assert r.stats.batches_merged == 3


def test_advised_rate_defers_backlog_across_ticks(tmp_path, spark):
    fx = _make_source(tmp_path, n_folders=3, rows_each=40)
    spec = StreamSpec(
        entity_name=ENTITY,
        source_root=fx.root,
        target_root=os.path.join(str(tmp_path), "target2"),
        rows_per_group=50,
        # near-zero refill (real merges take wall-clock seconds, which would
        # silently refill a per-second bucket mid-tick); burst = one group
        advised_rate="40 per 1 hour",
        advised_burst=40,
    )
    r = StreamRunner(spark, spec)
    # tick 1: bucket starts full (40 tokens) → exactly one 40-row group admitted
    assert r.run_once() == 1
    assert r._deferred is True
    assert r.table.read(spark).count() == 40
    # no refill (no wall-clock wait) → nothing admitted
    assert r.run_once() == 0
    # manually refill one second's worth → one more group
    r.shaper.tokens = 40.0
    assert r.run_once() == 1
    assert r.table.read(spark).count() == 80
    r.shaper.tokens = 40.0
    assert r.run_once() == 1
    assert r._deferred is False
    assert r.table.read(spark).count() == 120


def test_graceful_stop_finishes_inflight_group(tmp_path, spark):
    """B22: stop requested mid-tick — the in-flight group's merge and
    watermark complete, remaining groups stay pending, run() returns."""
    fx = _make_source(tmp_path, n_folders=3, rows_each=40)
    spec = StreamSpec(
        entity_name=ENTITY,
        source_root=fx.root,
        target_root=os.path.join(str(tmp_path), "target3"),
        rows_per_group=50,
        change_capture_interval_s=0.01,
    )
    r = StreamRunner(spark, spec)
    orig = r._merge_folder_batch
    merged = []

    def merge_then_stop(df, up_to, **kw):
        # each group is its slice of the tick's one pin, tag dropped, with
        # its rows counted by the tick's per-folder job
        assert "__folder" not in df.columns
        assert kw["seen"][0] == 40
        orig(df, up_to, **kw)  # in-flight group completes fully
        merged.append(up_to)
        r.request_stop()  # SIGTERM lands mid-tick

    r._merge_folder_batch = merge_then_stop
    r.run(max_ticks=10, install_signal_handlers=False)
    # the grouped tick merged exactly the in-flight group then yielded;
    # watermark matches that group's frontier, remaining folders pending
    assert len(merged) == 1
    assert r.table.watermark() == merged[-1]
    assert r.table.read(spark).count() == 40
    assert len(r.source.pending(r.table.watermark())) == 2


@pytest.mark.slow
def test_sigterm_mid_stream_clean_watermark(tmp_path):
    """Real SIGTERM against a subprocess running the CLI loop: exit 0, a
    committed watermark, and no partial snapshot (pointer == max vN dir)."""
    import json
    import signal
    import subprocess
    import sys
    import time

    from .synapse_fixture import model_json  # noqa: F401 — fixture dep

    fx_root = os.path.join("/tmp", f"sigterm_src_{os.getpid()}")
    target = os.path.join("/tmp", f"sigterm_tgt_{os.getpid()}")
    import shutil

    shutil.rmtree(fx_root, ignore_errors=True)
    shutil.rmtree(target, ignore_errors=True)
    fx = SynapseFixture(fx_root)
    base = datetime(2021, 6, 1, 12, 0, 0)
    last = None
    for i in range(3):
        rows = [
            data_row(f"{i:04d}{j:04d}-aaaa-bbbb-cccc-ddddeeee0000", 6_000_000_000 + i * 50 + j, f"r{j}")
            for j in range(50)
        ]
        last = fx.write_folder(base + timedelta(minutes=10 * i), rows)
    fx.set_changelog(last)

    spec = {
        "source": {"configuration": {"baseLocation": fx_root, "entityName": ENTITY}},
        "rowsPerGroup": 60,
        "sink": {"targetTableFullName": "x"},
    }
    spec_path = os.path.join("/tmp", f"sigterm_spec_{os.getpid()}.json")
    with open(spec_path, "w") as fh:
        json.dump(spec, fh)

    proc = subprocess.Popen(
        [sys.executable, "-m", "arcane_stream_microsoft_synapse_link_spark",
         "--spec", spec_path, "--target-root", target],
        cwd="/root/repo",
        stdout=subprocess.DEVNULL,
        stderr=subprocess.DEVNULL,
    )
    try:
        # wait for the first commit, then SIGTERM mid-stream
        deadline = time.time() + 120
        meta = os.path.join(target, "_meta", "LATEST")
        while time.time() < deadline and not os.path.exists(meta):
            time.sleep(0.5)
        assert os.path.exists(meta), "stream never committed"
        proc.send_signal(signal.SIGTERM)
        rc = proc.wait(timeout=60)
        assert rc == 0  # graceful: finish in-flight merge, exit 0
        with open(meta) as fh:
            head = int(fh.read().strip())
        snaps = [int(d[1:]) for d in os.listdir(target) if d.startswith("v") and d[1:].isdigit()]
        assert head >= 1 and max(snaps) == head  # no partial snapshot above pointer
        wm = os.path.join(target, "_meta", "watermark")
        assert os.path.exists(wm)
    finally:
        if proc.poll() is None:
            proc.kill()
        shutil.rmtree(fx_root, ignore_errors=True)
        shutil.rmtree(target, ignore_errors=True)
        os.unlink(spec_path)


def test_memory_bound_shaper_admission():
    """B19: ample memory admits, tight memory throttles, floor never starves."""
    from arcane_stream_microsoft_synapse_link_spark.streaming.throughput import (
        MemoryBoundShaper,
        estimate_row_bytes,
    )

    free = {"v": 10_000_000.0}
    sh = MemoryBoundShaper(
        row_bytes=100,
        table_size_scale_factor=1.0,
        min_admit_rows=100,
        memory_probe=lambda: free["v"],
    )
    # 10k rows × 100 B = 1 MB against 10 MB free → cheap, admitted
    assert sh.take_up_to_capacity(10_000)
    # 500k rows = 50 MB against 10 MB free → refused
    assert not sh.take_up_to_capacity(500_000)
    # memory freed up → the same chunk is admitted
    free["v"] = 100_000_000.0
    assert sh.take_up_to_capacity(500_000)
    # anti-starvation floor admits regardless of pressure
    free["v"] = 1.0
    assert sh.take_up_to_capacity(100)
    # sigmoid is monotone in chunk size
    free["v"] = 10_000_000.0
    costs = [sh.squashed_cost(n) for n in (1_000, 50_000, 100_000, 1_000_000)]
    assert costs == sorted(costs)


def test_memory_bound_shaper_row_bytes_estimate():
    from arcane_stream_microsoft_synapse_link_spark.streaming.throughput import (
        estimate_row_bytes,
    )

    dtypes = [("id", "bigint"), ("name", "string"), ("flag", "boolean"),
              ("v", "double"), ("props", "map<string,string>"), ("d", "decimal(18,2)")]
    est = estimate_row_bytes(dtypes, fallback_string_size=64, object_size=256)
    assert est == 8 + 64 + 1 + 8 + 256 + 256


def test_memory_bound_shaper_in_runner(spark, tmp_path):
    """A tight memory probe defers the backlog; the next tick (more memory)
    drains it — wired through the same grouped-admission path as B18."""
    from tests.synapse_fixture import SynapseFixture, minus

    from arcane_stream_microsoft_synapse_link_spark.streaming.runner import (
        StreamRunner,
        StreamSpec,
    )

    fx = SynapseFixture(tmp_path / "src")
    fx.upload_batch(minus(hours=3), update_changelog=True)
    spec = StreamSpec(
        entity_name="dimensionattributelevelvalue",
        source_root=str(tmp_path / "src"),
        target_root=str(tmp_path / "tgt"),
        shaper_impl="memory_bound",
        rows_per_group=2,
    )
    runner = StreamRunner(spark, spec)
    runner.backfill()
    fx.upload_batch(minus(minutes=30), add_upsert=True)
    fx.upload_batch(minus(minutes=20), add_delete=True, update_changelog=True)

    free = {"v": 0.0}
    runner.shaper.memory_probe = lambda: free["v"]
    runner.shaper.min_admit_rows = 0  # let the probe decide everything
    assert runner.run_once() == 0  # no memory → everything deferred
    free["v"] = 1 << 30
    assert runner.run_once() == 2  # memory back → backlog drains


def test_grouped_ticks_match_ungrouped_and_leave_no_pins(spark, tmp_path):
    """The grouped tick cuts its admission groups from one pin of the
    pending range: on a bucketed table, a full grouped tick, a
    shaper-deferred one and one stopped after its first group (B22) each
    end, once drained, with the rows and watermark of one ungrouped tick
    over the same source, and none leaves a persistent RDD behind."""
    from tests.synapse_fixture import minus

    fx = SynapseFixture(tmp_path / "src")
    # 5, 8, 6 and 8 rows: rows_per_group=14 cuts [f0, f1] and [f2, f3]
    fx.upload_batch(minus(hours=3))
    fx.upload_batch(minus(minutes=40), add_upsert=True)
    fx.upload_batch(minus(minutes=30), add_delete=True)
    frontier = fx.upload_batch(minus(minutes=20), add_upsert=True, update_changelog=True)

    def runner(name, **kw):
        spec = StreamSpec(
            entity_name=ENTITY,
            source_root=fx.root,
            target_root=str(tmp_path / name),
            bucket_count=4,
            **kw,
        )
        return StreamRunner(spark, spec)

    def pins():
        # the session is shared across tests: compare against the set
        # before the grouped ticks
        return set(spark.sparkContext._jsc.getPersistentRDDs().keySet().toArray())

    def state(r):
        rows = r.table.read(spark).select("Id", "versionnumber", "displayvalue").collect()
        return sorted(map(tuple, rows)), r.table.watermark()

    plain = runner("plain")
    assert plain.run_once() == 4
    expected = state(plain)
    assert expected[1] == frontier

    before = pins()
    full = runner("full", rows_per_group=14)
    assert full.run_once() == 4
    assert not pins() - before
    assert full.table.current_version() == 2  # one commit per group
    assert state(full) == expected

    deferred = runner("deferred", rows_per_group=14, advised_rate="1 per 1 hour", advised_burst=13)
    assert deferred.run_once() == 2  # the 13-row group fits the burst, the 14-row one not
    assert deferred._deferred is True
    assert not pins() - before
    deferred.shaper.tokens = 14.0
    assert deferred.run_once() == 2
    assert state(deferred) == expected

    stopped = runner("stopped", rows_per_group=14)
    merge = stopped._merge_folder_batch

    def merge_then_stop(df, up_to, **kw):
        merge(df, up_to, **kw)
        stopped.request_stop()

    stopped._merge_folder_batch = merge_then_stop
    assert stopped.run_once() == 2
    assert not pins() - before
    stopped._stop = False
    assert stopped.run_once() == 2
    assert not pins() - before
    assert state(stopped) == expected


def test_grouped_tick_refuses_rows_outside_pending_folders(spark, tmp_path, monkeypatch):
    """A row whose path names no pending batch folder would fall in no
    admission group and be skipped without a trace; the grouped tick
    raises instead and leaves the watermark where it was."""
    from pyspark.sql import functions as F

    fx = _make_source(tmp_path, n_folders=2, rows_each=3)
    spec = StreamSpec(
        entity_name=ENTITY,
        source_root=fx.root,
        target_root=os.path.join(str(tmp_path), "target"),
        rows_per_group=5,
    )
    r = StreamRunner(spark, spec)
    monkeypatch.setattr(F, "input_file_name", lambda: F.lit("/x/elsewhere/entity/chunk.csv"))
    with pytest.raises(RuntimeError, match="elsewhere"):
        r.run_once()
    assert r.table.watermark() is None
