"""The schema-keyed Column memo (``exprmemo.schema_memo``): a second build
for one schema returns the same objects, the memo stays bounded, one
Column may sit twice in one plan, and the by-value pickle of the stream
reader unpickles in a process that cannot import this package."""

from __future__ import annotations

import importlib.util
import os
import pickle
import subprocess
import sys
import tempfile

from pyspark.sql.types import LongType, StringType, StructField, StructType

from arcane_stream_microsoft_synapse_link_spark import tables
from arcane_stream_microsoft_synapse_link_spark.exprmemo import MEMO_SIZE, schema_memo
from arcane_stream_microsoft_synapse_link_spark.operators import merge
from arcane_stream_microsoft_synapse_link_spark.sources import cdm
from arcane_stream_microsoft_synapse_link_spark.streaming.runner import StreamRunner, StreamSpec

from .synapse_fixture import (
    BASE_VERSION,
    ENTITY,
    KEYS,
    SynapseFixture,
    data_row,
    minus,
    model_json,
)

PKG = "arcane_stream_microsoft_synapse_link_spark"


def _runner(spark, tmp_path, **kw):
    return StreamRunner(
        spark,
        StreamSpec(
            entity_name=ENTITY,
            source_root=str(tmp_path / "source"),
            target_root=str(tmp_path / "target"),
            **kw,
        ),
    )


def test_second_build_returns_the_memoized_columns(spark):
    attrs = tuple(cdm.parse_model(model_json())[ENTITY].attributes)
    typed = cdm._typed_columns(attrs, ("_batch_folder",))
    assert cdm._typed_columns(attrs, ("_batch_folder",)) is typed
    assert cdm._line_parse_columns(attrs) is cdm._line_parse_columns(attrs)

    # equal schemas built apart hit the same entry
    def schema():
        return StructType(
            [StructField("arcane_merge_key", StringType()), StructField("v", LongType())]
        )

    feed = tables._change_feed_columns("arcane_merge_key", "v", schema(), schema())
    assert tables._change_feed_columns("arcane_merge_key", "v", schema(), schema()) is feed
    shape = ("arcane_merge_key", ("versionnumber",), "IsDelete", True, True)
    assert merge._merge_columns(*shape) is merge._merge_columns(*shape)
    assert tables.VersionedTable("t", bucket_count=8).bucket_expr() is (
        tables.VersionedTable("u", bucket_count=8).bucket_expr()
    )


def test_memo_is_bounded_least_recently_used_out_and_pickles_empty():
    built = []

    @schema_memo
    def build(i):
        built.append(i)
        return object()

    first = build(0)
    for i in range(1, MEMO_SIZE):
        build(i)
    assert build(0) is first  # a hit: 0 is now the most recently used
    build(MEMO_SIZE)  # one over the bound evicts the least recently used: 1
    assert len(build.memo) == MEMO_SIZE
    assert (0,) in build.memo and (1,) not in build.memo
    assert built.count(0) == 1

    copy = pickle.loads(pickle.dumps(build.memo))
    assert type(copy) is type(build.memo) and len(copy) == 0


def test_memo_under_thread_contention_stays_bounded_and_consistent():
    """Runner threads (one per entity) share the memos: many threads over
    more keys than the bound neither raise nor overgrow, and every value
    returned for a key is that key's."""
    import threading

    @schema_memo
    def build(i):
        return ("built", i)

    errors = []

    def hammer(seed):
        try:
            for n in range(3000):
                k = (seed * 7919 + n * 31) % (2 * MEMO_SIZE)
                assert build(k) == ("built", k)
        except Exception as exc:  # noqa: BLE001 — reported below
            errors.append(exc)

    interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        threads = [threading.Thread(target=hammer, args=(i,)) for i in range(4 * os.cpu_count())]
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=120)
    finally:
        sys.setswitchinterval(interval)
    assert not any(t.is_alive() for t in threads)
    assert not errors, errors[:3]
    assert len(build.memo) <= MEMO_SIZE


def test_schemas_a_b_a_share_memoized_columns_in_one_union(spark, tmp_path):
    """Three folders whose schemas go A, B, A: the two A reads put the
    same memoized Columns into one union plan, and the typed rows and the
    merge result are right."""
    fx = SynapseFixture(tmp_path / "source")
    fx.upload_batch(minus(hours=1), update_changelog=True)
    runner = _runner(spark, tmp_path)
    runner.backfill()

    v = BASE_VERSION + 100
    fx.write_folder(minus(minutes=30), [data_row(KEYS[1], v, "A-first")])
    fx.upload_evolved_batch(minus(minutes=20), KEYS[2], v, "B-mid", "x2")
    last = fx.write_folder(minus(minutes=10), [data_row(KEYS[3], v, "A-last")])
    fx.set_changelog(last)

    pending = runner.source.pending(runner.table.watermark())
    a, b, a2 = (runner.source.entity_schema(f) for f in pending)
    assert a == a2 and a != b
    union = runner.source.read_folders(spark, pending)
    assert (tuple(a.attributes), ()) in cdm._typed_columns.memo
    assert (tuple(b.attributes), ()) in cdm._typed_columns.memo
    rows = {
        r["Id"]: (r["versionnumber"], r["displayvalue"], r["extracol"])
        for r in union.collect()
    }
    assert rows == {
        KEYS[1]: (v, "A-first", None),
        KEYS[2]: (v, "B-mid", "x2"),
        KEYS[3]: (v, "A-last", None),
    }
    assert dict(union.dtypes)["versionnumber"] == "bigint"

    before = {r["Id"]: r for r in runner.table.read(spark).collect()}
    assert runner.run_once() == 3
    got = {
        r["Id"]: (r["versionnumber"], r["displayvalue"], r["extracol"])
        for r in runner.table.read(spark).collect()
    }
    assert len(got) == 5
    assert got[KEYS[1]] == (v, "A-first", None)
    assert got[KEYS[2]] == (v, "B-mid", "x2")
    assert got[KEYS[3]] == (v, "A-last", None)
    for k in (KEYS[0], KEYS[4]):  # untouched
        old = before[k]
        assert got[k] == (old.versionnumber, old.displayvalue, None)


_UNPICKLE = f"""
import importlib.util, pickle, sys
assert importlib.util.find_spec({PKG!r}) is None, "package importable"
reader = pickle.loads(sys.stdin.buffer.read())
head = reader.latestOffset()
parts = reader.partitions({{"folder": ""}}, head)
rows = [row for p in parts for row in reader.read(p)]
print(len(parts), len(rows))
"""


def test_stream_reader_unpickles_without_the_package_after_a_tick(spark, tmp_path):
    """The readStream planner unpickles the source by value in a worker
    whose ``sys.path`` lacks this package.  A tick fills the Column memos
    the pickled functions reach; they must pickle empty, by value."""
    from pyspark import cloudpickle

    from arcane_stream_microsoft_synapse_link_spark.sources import stream

    fx = SynapseFixture(tmp_path / "source")
    fx.upload_batch(minus(hours=1), update_changelog=True)
    runner = _runner(spark, tmp_path)
    runner.backfill()
    fx.upload_batch(minus(minutes=5), add_delete=True, add_upsert=True, update_changelog=True)
    assert runner.run_once() == 1
    assert len(cdm._typed_columns.memo) and len(cdm._line_parse_columns.memo)

    stream.register(spark)
    blob = cloudpickle.dumps(stream.SynapseLinkStreamReader(str(tmp_path / "source"), ENTITY))
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    env = dict(os.environ)
    env["PYTHONPATH"] = os.pathsep.join(
        p for p in env.get("PYTHONPATH", "").split(os.pathsep)
        if p and os.path.abspath(p) != repo
    )
    assert importlib.util.find_spec(PKG) is not None
    with tempfile.TemporaryDirectory() as cwd:
        out = subprocess.run(
            [sys.executable, "-c", _UNPICKLE],
            input=blob, cwd=cwd, env=env, capture_output=True, timeout=120,
        )
    assert out.returncode == 0, out.stderr.decode()[-2000:]
    # one partition holding the two batch folders' names, one row each
    assert out.stdout.split() == [b"1", b"2"]
