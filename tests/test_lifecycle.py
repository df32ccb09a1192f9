"""Retry policy, poll jitter, observability, and spec ingestion."""

from __future__ import annotations

import json

import pytest

from arcane_stream_microsoft_synapse_link_spark.config import (
    parse_duration_s,
    spec_from_env,
    spec_from_json,
)
from arcane_stream_microsoft_synapse_link_spark.operators.retry import RetryPolicy, with_retry
from arcane_stream_microsoft_synapse_link_spark.sources.synapse import BatchFolder
from arcane_stream_microsoft_synapse_link_spark.streaming import observability, runner
from arcane_stream_microsoft_synapse_link_spark.streaming.observability import MetricsRecorder
from arcane_stream_microsoft_synapse_link_spark.streaming.runner import StreamRunner, StreamSpec

# reference-shaped spec document (stream-context-serialized-example.json)
SPEC_DOC = {
    "streamMode": {
        "backfill": {"backfillBehavior": "Merge", "backfillStartDate": "2026-01-01T00.00.00Z"},
        "changeCapture": {
            "changeCaptureInterval": "5 second",
            "changeCaptureJitterVariance": 0.1,
            "changeCaptureJitterSeed": 0,
        },
    },
    "sink": {
        "mergeServiceClient": {
            "queryRetryMode": {"always": {}},
            "queryRetryBaseDuration": "100 millisecond",
            "queryRetryOnMessageContents": ["CONFLICT"],
            "queryRetryScaleFactor": 2.0,
            "queryRetryMaxAttempts": 4,
        },
        "targetTableFullName": "catalog.schema.table",
        "maintenanceSettings": {
            "targetOptimizeSettings": {"batchThreshold": 7, "fileSizeThreshold": "512MB"},
            "targetAnalyzeSettings": {"batchThreshold": 11, "includedColumns": ["Id"]},
        },
    },
    "throughput": {"advisedChunkSize": 3},
    "source": {
        "configuration": {"entityName": "currency", "baseLocation": "/data/cdm"},
        "fieldSelectionRule": {"rule": {"exclude": {"fields": ["bigcol"]}}},
    },
}


def test_retry_always_retries_then_succeeds():
    calls, sleeps = [], []
    policy = RetryPolicy(mode="always", max_attempts=4, base_duration_s=0.1, scale_factor=2.0)

    def flaky():
        calls.append(1)
        if len(calls) < 3:
            raise RuntimeError("transient")
        return "ok"

    assert with_retry(flaky, policy, sleep=sleeps.append) == "ok"
    assert len(calls) == 3
    assert sleeps == [0.1, 0.2]  # exponential: base, base*scale


def test_retry_exhausts_attempts():
    policy = RetryPolicy(mode="always", max_attempts=2, base_duration_s=0.0)
    calls = []

    def always_fails():
        calls.append(1)
        raise RuntimeError("boom")

    with pytest.raises(RuntimeError):
        with_retry(always_fails, policy, sleep=lambda s: None)
    assert len(calls) == 2


def test_retry_message_matching():
    policy = RetryPolicy(
        mode="always", max_attempts=5, base_duration_s=0.0, on_message_contents=("CONFLICT",)
    )
    calls = []

    def wrong_error():
        calls.append(1)
        raise RuntimeError("syntax error")  # not retryable → immediate raise

    with pytest.raises(RuntimeError):
        with_retry(wrong_error, policy, sleep=lambda s: None)
    assert len(calls) == 1


def test_retry_mode_gating():
    never = RetryPolicy(mode="never", max_attempts=5)
    bf_only = RetryPolicy(mode="backfillOnly", max_attempts=5, base_duration_s=0.0)
    calls = []

    def fails():
        calls.append(1)
        raise RuntimeError("x")

    with pytest.raises(RuntimeError):
        with_retry(fails, never, sleep=lambda s: None)
    assert len(calls) == 1

    calls.clear()
    with pytest.raises(RuntimeError):
        with_retry(fails, bf_only, is_backfill=False, sleep=lambda s: None)
    assert len(calls) == 1  # streaming run: no retry

    calls.clear()
    with pytest.raises(RuntimeError):
        with_retry(fails, bf_only, is_backfill=True, sleep=lambda s: None)
    assert len(calls) == 5  # backfill: full attempts


def test_jitter_deterministic_and_bounded(spark, tmp_path):
    spec = StreamSpec(
        entity_name="e",
        source_root=str(tmp_path / "src"),
        target_root=str(tmp_path / "tgt"),
        change_capture_interval_s=100.0,
        change_capture_jitter_variance=0.1,
        change_capture_jitter_seed=0,
    )
    r1 = StreamRunner(spark, spec)
    r2 = StreamRunner(spark, spec)
    seq1 = [r1.next_interval() for _ in range(5)]
    seq2 = [r2.next_interval() for _ in range(5)]
    assert seq1 == seq2  # same seed → same jitter sequence
    assert all(90.0 <= v <= 110.0 for v in seq1)
    assert len(set(seq1)) > 1  # actually jittering

    no_jitter = StreamSpec(
        entity_name="e", source_root="s", target_root="t", change_capture_interval_s=100.0
    )
    assert StreamRunner(spark, no_jitter).next_interval() == 100.0


def test_metrics_recorder(tmp_path):
    path = str(tmp_path / "m" / "metrics.jsonl")
    rec = MetricsRecorder(path, tags={"entity": "currency"})
    rec.record("2024-01-01T00.00.00Z", rows=500, seconds=0.5)
    rec.record("2024-01-01T00.05.00Z", rows=250, seconds=0.25)
    assert rec.total_rows == 750
    lines = [json.loads(x) for x in open(path)]
    assert lines[0]["rows_per_sec"] == 1000.0
    assert lines[1]["tags"] == {"entity": "currency"}


def test_recorder_and_runner_memory_stay_bounded():
    """A stream runs for months: 10,000 batches leave the recorder and the
    runner's stats holding counters plus a fixed-size tail."""
    rec = MetricsRecorder()
    stats = runner.RunnerStats()
    for i in range(10_000):
        name = f"2024-01-01T00.00.{i:05d}Z"
        rec.record(name, rows=3, seconds=0.01, inserts=1, updates=1, deletes=0, noops=1)
        stats.consumed([BatchFolder(name, f"/src/{name}")])
    assert len(rec.metrics) == observability.TAIL
    assert (rec.batches, rec.total_rows) == (10_000, 30_000)
    assert rec.metrics[-1].batch_folder == name
    assert len(stats.folders_seen) == runner.FOLDER_TAIL
    assert stats.folders_consumed == 10_000
    assert stats.folders_seen[-1] == name


def test_parse_duration():
    assert parse_duration_s("5 second") == 5.0
    assert parse_duration_s("100 millisecond") == 0.1
    assert parse_duration_s("1 minute") == 60.0
    assert parse_duration_s(None, 42.0) == 42.0
    with pytest.raises(ValueError):
        parse_duration_s("7 fortnight")


def test_spec_from_json_reference_shape():
    spec = spec_from_json(json.dumps(SPEC_DOC), target_root="/lake/currency")
    assert spec.entity_name == "currency"
    assert spec.source_root == "/data/cdm"
    assert spec.target_root == "/lake/currency"
    assert spec.field_selection_mode == "exclude"
    assert spec.fields == ("bigcol",)
    assert spec.change_capture_interval_s == 5.0
    assert spec.change_capture_jitter_variance == 0.1
    assert spec.change_capture_jitter_seed == 0
    assert spec.backfill_behavior == "Merge"
    assert spec.optimize_batch_threshold == 7
    assert spec.analyze_batch_threshold == 11
    assert spec.optimize_file_size_mb == 512
    assert spec.analyze_included_columns == ("Id",)
    assert spec.max_folders_per_tick == 3
    assert spec.retry.mode == "always"
    assert spec.retry.max_attempts == 4
    assert spec.retry.base_duration_s == pytest.approx(0.1)
    assert spec.retry.on_message_contents == ("CONFLICT",)


@pytest.mark.parametrize(
    ("settings", "field"),
    [
        ("targetOptimizeSettings", "optimize_batch_threshold"),
        ("targetAnalyzeSettings", "analyze_batch_threshold"),
    ],
)
def test_runner_rejects_non_positive_maintenance_threshold(settings, field):
    """batchThreshold 0 would divide by zero in the maintenance cadence
    after every tick's commit; the runner refuses it up front."""
    doc = json.loads(json.dumps(SPEC_DOC))
    doc["sink"]["maintenanceSettings"][settings]["batchThreshold"] = 0
    spec = spec_from_json(json.dumps(doc), target_root="/lake/currency")
    with pytest.raises(ValueError, match=field):
        StreamRunner(None, spec)


def test_spec_from_env():
    env = {
        "STREAMCONTEXT__SPEC": json.dumps(SPEC_DOC),
        "STREAMCONTEXT__BACKFILL": "true",
        "STREAMCONTEXT__BACKFILL_ID": "bf-1",
        "STREAMCONTEXT__TARGET_ROOT": "/lake/t",
    }
    spec, is_backfill, bf_id = spec_from_env(env)
    assert spec.entity_name == "currency"
    assert spec.target_root == "/lake/t"
    assert is_backfill and bf_id == "bf-1"
    with pytest.raises(KeyError):
        spec_from_env({})


def test_retry_applies_to_merge(spark, tmp_path, monkeypatch):
    """A transiently-failing commit is retried by the runner (B9)."""
    from datetime import datetime

    from tests.synapse_fixture import ENTITY, SynapseFixture

    fx = SynapseFixture(tmp_path / "src")
    fx.upload_batch(datetime(2021, 6, 1, 12, 0, 0), update_changelog=True)
    spec = StreamSpec(
        entity_name=ENTITY,
        source_root=str(tmp_path / "src"),
        target_root=str(tmp_path / "tgt"),
        retry=RetryPolicy(mode="always", max_attempts=3, base_duration_s=0.0),
    )
    runner = StreamRunner(spark, spec)
    real_commit = runner.table.commit
    fails = {"n": 2}

    def flaky_commit(df):
        if fails["n"] > 0:
            fails["n"] -= 1
            raise RuntimeError("simulated commit conflict")
        return real_commit(df)

    monkeypatch.setattr(runner.table, "commit", flaky_commit)
    assert runner.run_once() == 1
    assert runner.table.read(spark).count() == 5  # base file; 3rd attempt won


@pytest.mark.slow
def test_table_properties_sort_and_bloom(spark, tmp_path):
    """A9 targetTableProperties: files are sorted by the sort key and carry
    parquet bloom filters on the configured column."""
    import glob

    import pyarrow.parquet as pq

    from arcane_stream_microsoft_synapse_link_spark.tables import VersionedTable

    df = spark.createDataFrame(
        [(f"k{i:05d}", i) for i in reversed(range(5000))],
        "arcane_merge_key string, v long",
    ).coalesce(1)

    t = VersionedTable(
        str(tmp_path / "t"),
        sorted_by=("arcane_merge_key",),
        bloom_filter_columns=("arcane_merge_key",),
    )
    t.commit(df)
    plain = VersionedTable(str(tmp_path / "plain"), sorted_by=("arcane_merge_key",))
    plain.commit(df)

    files = glob.glob(str(tmp_path / "t" / "v*" / "*.parquet"))
    assert files
    for f in files:
        keys = pq.ParquetFile(f).read(columns=["arcane_merge_key"])[
            "arcane_merge_key"
        ].to_pylist()
        assert keys == sorted(keys)  # in-file sort order

    def total(p):
        return sum(
            __import__("os").path.getsize(f) for f in glob.glob(str(p / "v*" / "*.parquet"))
        )

    # bloom filter bytes land in the file (pyarrow 16 can't read the
    # offsets, so assert the size delta of identical sorted data)
    assert total(tmp_path / "t") > total(tmp_path / "plain") + 1024


def test_spec_table_properties_parsed():
    doc = dict(SPEC_DOC)
    doc["sink"] = {
        **SPEC_DOC["sink"],
        "targetTableProperties": {
            "format": "PARQUET",
            "sortedBy": ["arcane_merge_key"],
            "parquetBloomFilterColumns": ["arcane_merge_key"],
        },
    }
    spec = spec_from_json(json.dumps(doc), target_root="/lake/t")
    assert spec.target_sorted_by == ("arcane_merge_key",)
    assert spec.target_bloom_filter_columns == ("arcane_merge_key",)


def test_optimize_compacts_small_files(spark, tmp_path):
    """C1 OPTIMIZE analog: a fragmented snapshot is rewritten into fewer,
    larger files; content unchanged; healthy snapshots are left alone."""
    import glob

    from arcane_stream_microsoft_synapse_link_spark.config import parse_size_mb
    from arcane_stream_microsoft_synapse_link_spark.tables import VersionedTable

    assert parse_size_mb("512MB") == 512
    assert parse_size_mb("1GB") == 1024
    assert parse_size_mb(None, 100) == 100

    t = VersionedTable(str(tmp_path / "t"))
    df = spark.createDataFrame([(i, f"r{i}") for i in range(1000)], "k long, s string")
    t.commit(df.repartition(16))  # fragment: 16 tiny files
    v1_files = glob.glob(str(tmp_path / "t" / "v0000001" / "*.parquet"))
    assert len(v1_files) == 16

    new_v = t.optimize(spark, file_size_threshold_mb=1)
    assert new_v == 2
    v2_files = glob.glob(str(tmp_path / "t" / "v0000002" / "*.parquet"))
    assert len(v2_files) == 1  # 1000 tiny rows → one file toward 1MB target
    assert {tuple(r) for r in t.read(spark).collect()} == {
        tuple(r) for r in df.collect()
    }
    # already compact → no-op
    assert t.optimize(spark, file_size_threshold_mb=1) is None


def test_azure_storage_connection_mapping(spark):
    """A5: the reference storageConnection block maps onto fs.azure.* keys
    (shared-key + retry knobs; env fallback; credential-chain -> OAuth/MSI)."""
    from arcane_stream_microsoft_synapse_link_spark.sources.azure import (
        apply_azure_conf,
        azure_hadoop_conf,
    )

    block = {
        "accountName": "devstoreaccount1",
        "httpClient": {
            "httpMaxRetries": 3,
            "httpMinRetryDelay": "100 millisecond",
            "httpMaxRetryDelay": "1 second",
            "maxResultsPerPage": 10000,
        },
        "credentialType": {"sharedKey": {"accessKey": "sekrit"}},
    }
    conf = azure_hadoop_conf(block, env={})
    sfx = "devstoreaccount1.dfs.core.windows.net"
    assert conf[f"fs.azure.account.auth.type.{sfx}"] == "SharedKey"
    assert conf[f"fs.azure.account.key.{sfx}"] == "sekrit"
    assert conf["fs.azure.io.retry.max.retries"] == "3"
    assert conf["fs.azure.io.retry.min.backoff.interval"] == "100"
    assert conf["fs.azure.io.retry.max.backoff.interval"] == "1000"
    assert conf["fs.azure.list.max.results"] == "10000"

    # env fallback for the shared key (ARCANE_FRAMEWORK__AZURE_STORAGE_ACCESS_KEY)
    block["credentialType"] = {"sharedKey": {}}
    conf = azure_hadoop_conf(
        block, env={"ARCANE_FRAMEWORK__AZURE_STORAGE_ACCESS_KEY": "from-env"}
    )
    assert conf[f"fs.azure.account.key.{sfx}"] == "from-env"

    block["credentialType"] = {"credentialChain": None}
    conf = azure_hadoop_conf(block, env={})
    assert conf[f"fs.azure.account.auth.type.{sfx}"] == "OAuth"

    apply_azure_conf(spark, conf)  # must not raise; keys land in hadoop conf
    got = spark.sparkContext._jsc.hadoopConfiguration().get(
        f"fs.azure.account.auth.type.{sfx}"
    )
    assert got == "OAuth"


def test_cdc_e2e_over_hadoop_filesystem_root(spark, tmp_path):
    """A5 e2e on a NON-os.path source root: the full CDC scenario (backfill
    → delete/upsert batch → watermark advance) with the source root given
    as a ``file://`` URI, so every metadata operation — changelog read,
    folder listing, model.json fetch, chunk discovery — goes through the
    Hadoop FileSystem java API (_HadoopIO), the exact interface the ABFS/
    S3A connectors implement. The only thing this cannot cover in a
    jar-less sandbox is the ABFS jar itself (auth/retry keys are mapped and
    asserted above)."""
    from arcane_stream_microsoft_synapse_link_spark.sources.synapse import (
        SynapseLinkSource,
        _HadoopIO,
    )
    from arcane_stream_microsoft_synapse_link_spark.streaming.runner import (
        StreamRunner,
        StreamSpec,
    )
    from arcane_stream_microsoft_synapse_link_spark.tables import VersionedTable

    from .synapse_fixture import BASE_VERSION, ENTITY, KEYS, SynapseFixture, minus

    fx = SynapseFixture(tmp_path / "source")
    fx.upload_batch(minus(hours=2), update_changelog=True)

    spec = StreamSpec(
        entity_name=ENTITY,
        source_root=f"file://{tmp_path}/source",  # scheme'd → _HadoopIO
        target_root=str(tmp_path / "target"),
    )
    runner = StreamRunner(spark, spec)
    assert isinstance(runner.source._io(), _HadoopIO)
    assert runner.backfill() > 0

    fx.upload_batch(minus(minutes=15), add_delete=True, add_upsert=True, update_changelog=True)
    assert runner.run_once() == 1

    df = VersionedTable(spec.target_root).read(spark)
    state = {r["Id"]: r["versionnumber"] for r in df.select("Id", "versionnumber").collect()}
    assert len(state) == 5 - 1 + 2
    assert KEYS[0] not in state
    assert state[KEYS[1]] == BASE_VERSION + 100
    assert runner.table.watermark() == SynapseLinkSource(
        str(tmp_path / "source"), ENTITY
    ).changelog_head()


def test_time_travel_reads(spark, tmp_path):
    """read(version=) returns the exact earlier snapshot until expiry
    reclaims it (Iceberg VERSION AS OF analog)."""
    import pytest as _pytest

    from arcane_stream_microsoft_synapse_link_spark.tables import VersionedTable

    t = VersionedTable(str(tmp_path / "tt"))
    t.commit(spark.createDataFrame([(1, "a")], "k long, s string"))
    t.commit(spark.createDataFrame([(1, "a"), (2, "b")], "k long, s string"))
    t.commit(spark.createDataFrame([(9, "z")], "k long, s string"))

    assert t.snapshots() == [1, 2, 3]
    assert t.read(spark).count() == 1  # latest
    assert sorted(r.k for r in t.read(spark, version=2).collect()) == [1, 2]
    assert t.read(spark, version=1).collect()[0].s == "a"

    t.expire_snapshots(keep_last=1)
    assert t.snapshots() == [3]
    with _pytest.raises(FileNotFoundError, match="expired"):
        t.read(spark, version=1)
    with _pytest.raises(FileNotFoundError):
        t.read(spark, version=99)


def test_spec_parses_memory_bound_and_buffering():
    doc = dict(SPEC_DOC)
    doc["throughput"] = {
        "shaperImpl": {
            "memoryBound": {
                "chunkCostScale": 2.5,
                "chunkCostMax": 0.4,
                "tableRowCountWeight": 0.1,
                "tableSizeWeight": 0.9,
                "tableSizeScaleFactor": 0.7,
                "fallbackStringTypeSizeEstimate": 48,
                "objectTypeSizeEstimate": 512,
            }
        }
    }
    doc["source"] = {
        **SPEC_DOC["source"],
        "bufferingSettings": {"buffered": {"maxBufferSize": 250000}},
    }
    spec = spec_from_json(json.dumps(doc), target_root="/tmp/t")
    assert spec.shaper_impl == "memory_bound"
    assert spec.chunk_cost_scale == 2.5
    assert spec.chunk_cost_max == 0.4
    assert spec.table_row_count_weight == 0.1
    assert spec.fallback_string_size == 48
    assert spec.object_size == 512
    # static stays the default elsewhere
    base = spec_from_json(json.dumps(SPEC_DOC), target_root="/tmp/t")
    assert base.shaper_impl == "static"
    # bufferingSettings (B20 read-ahead) is accepted in every shape and
    # changes nothing: the tick parses its admitted range in one job
    for buffering in (
        {"buffered": {"maxBufferSize": 250000}},
        {"buffered": {}},
        {"unbounded": {}},
    ):
        doc_buf = {**doc, "source": {**SPEC_DOC["source"], "bufferingSettings": buffering}}
        doc_none = {**doc, "source": dict(SPEC_DOC["source"])}
        assert spec_from_json(json.dumps(doc_buf), target_root="/tmp/t") == spec_from_json(
            json.dumps(doc_none), target_root="/tmp/t"
        )
