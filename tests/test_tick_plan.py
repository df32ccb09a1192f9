"""Plan shape of one change-capture tick: the change CSV is parsed once
(by either driver, and by a grouped or shaped tick), a tick is three
Spark jobs (pin, the merge's one shuffle, the write) whose commit plan
reads the target once and joins nothing, metrics ride on the commit's
own plan (no Spark job of their own) and report the rows that took
effect, and a bucketed table survives a column type change."""

from __future__ import annotations

import json
import os
import re

from pyspark.sql import functions as F

from arcane_stream_microsoft_synapse_link_spark.streaming.runner import StreamRunner, StreamSpec
from arcane_stream_microsoft_synapse_link_spark.streaming.structured import run_structured

from .conftest import count_jobs
from .synapse_fixture import (
    BASE_VERSION,
    COLUMNS,
    ENTITY,
    KEYS,
    SynapseFixture,
    data_row,
    minus,
    model_json,
)


def _spec(tmp_path, name, **kw):
    return StreamSpec(
        entity_name=ENTITY,
        source_root=str(tmp_path / "source"),
        target_root=str(tmp_path / name),
        **kw,
    )


def _sql_plans_after(spark, last_id):
    """Physical plan texts of the SQL executions with id > ``last_id``."""
    execs = spark._jsparkSession.sharedState().statusStore().executionsList()
    out = []
    for i in range(execs.size()):
        e = execs.apply(i)
        if e.executionId() > last_id:
            out.append(e.physicalPlanDescription())
    return out


def _last_sql_id(spark):
    execs = spark._jsparkSession.sharedState().statusStore().executionsList()
    return max((execs.apply(i).executionId() for i in range(execs.size())), default=-1)


def _csv_scans(spark, before):
    """Change-CSV scan nodes in the SQL executions after ``before``."""
    return [
        ln
        for plan in _sql_plans_after(spark, before)
        for ln in plan.splitlines()
        if re.match(r"\(\d+\) Scan (text|csv) ", ln)
    ]


def test_run_once_scans_change_csv_once(spark, tmp_path):
    """Both drivers: a ``run_once`` tick and a ``run_structured``
    micro-batch each scan the change folder's CSV once, and so does a
    grouped (``rows_per_group``) or shaped (``advised_rate``) tick, which
    cuts its admission groups from the one pin: a G-group tick is the
    pin's parse and per-folder count (2 jobs, the count's shuffle map
    stage filling the pin) plus each group's merge and write."""
    fx = SynapseFixture(tmp_path / "source")
    fx.upload_batch(minus(hours=1), update_changelog=True)
    cases = [
        (driver, name, buckets)
        for driver in ("run_once", "run_structured")
        for name, buckets in (("flat", 0), ("bucketed", 8))
    ]
    for k, (driver, name, buckets) in enumerate(cases):
        spec = _spec(tmp_path, f"{driver}-{name}", bucket_count=buckets)
        ckpt = str(tmp_path / f"ckpt-{driver}-{name}")
        runner = StreamRunner(spark, spec)
        if driver == "run_once":
            runner.backfill()
        else:
            run_structured(spark, spec, ckpt).awaitTermination(120)
        folder = fx.upload_batch(
            minus(minutes=30 - k), add_delete=True, add_upsert=True, update_changelog=True
        )
        before = _last_sql_id(spark)
        if driver == "run_once":
            assert runner.run_once() == 1
        else:
            run_structured(spark, spec, ckpt).awaitTermination(120)
        scans = _csv_scans(spark, before)
        assert len(scans) == 1, (driver, name, scans)
        assert runner.table.watermark() == folder

    # 9-row folders (base, delete, upsert): rows_per_group=9 → one group each
    shaped = {"advised_rate": "100000 per 1 second"}
    for k, (name, kw, groups) in enumerate(
        (("grouped", {"rows_per_group": 9}, 3), ("shaped", shaped, 1))
    ):
        runner = StreamRunner(spark, _spec(tmp_path, name, bucket_count=8, **kw))
        runner.backfill()
        for j in range(groups):
            ts = minus(minutes=20 - 5 * k - j)
            folder = fx.upload_batch(ts, add_delete=True, add_upsert=True, update_changelog=True)
        before = _last_sql_id(spark)
        got, jobs = count_jobs(spark, runner.run_once)
        assert (got, jobs) == (groups, 2 + 2 * groups), name
        scans = _csv_scans(spark, before)
        assert len(scans) == 1, (name, scans)
        assert runner.table.watermark() == folder
        assert runner.table.current_version() == 1 + groups


def _final_plan_nodes(plan):
    """Operator names of an adaptive plan's final physical plan."""
    final = plan.split("== Final Plan ==", 1)[1].split("== Initial Plan ==", 1)[0]
    return [m.group(1).strip() for m in re.finditer(r"[+:]- (?:\* )?([A-Za-z ]+?)[ ]?\(\d+\)", final)]


def test_tick_is_three_jobs_with_one_shuffle_and_one_target_scan(spark, tmp_path):
    """Flat and bucketed, metrics on and off: a ``run_once`` tick starts
    the pin's job, the merge's shuffle-map job and the write job, and the
    commit plan has one Exchange, no join and one parquet scan (the
    target's)."""
    fx = SynapseFixture(tmp_path / "source")
    fx.upload_batch(minus(hours=1), update_changelog=True)
    runners = {
        (buckets, on): StreamRunner(
            spark,
            _spec(
                tmp_path,
                f"t{buckets}-{on}",
                bucket_count=buckets,
                metrics_path=str(tmp_path / f"m{buckets}.jsonl") if on else None,
            ),
        )
        for buckets in (0, 8)
        for on in (False, True)
    }
    for r in runners.values():
        r.backfill()
    fx.upload_batch(minus(minutes=5), add_delete=True, add_upsert=True, update_changelog=True)
    for case, r in runners.items():
        before = _last_sql_id(spark)
        got, jobs = count_jobs(spark, r.run_once)
        assert (got, jobs) == (1, 3), case
        (commit,) = [p for p in _sql_plans_after(spark, before) if "InsertIntoHadoopFsRelation" in p]
        nodes = _final_plan_nodes(commit)
        assert nodes.count("Exchange") == 1, (case, nodes)
        assert not [n for n in nodes if "Join" in n], (case, nodes)
        assert nodes.count("Scan parquet") == 1, (case, nodes)
    states = [_state(spark, r) for r in runners.values()]
    assert all(st == states[0] for st in states)


def _state(spark, runner):
    df = runner.table.read(spark)
    return {r["Id"]: r["versionnumber"] for r in df.select("Id", "versionnumber").collect()}


def test_metrics_add_no_jobs_and_report_rows_that_took_effect(spark, tmp_path):
    fx = SynapseFixture(tmp_path / "source")
    fx.upload_batch(minus(hours=1), update_changelog=True)
    runners = {
        on: StreamRunner(
            spark,
            _spec(
                tmp_path,
                f"target-{on}",
                metrics_path=str(tmp_path / "metrics.jsonl") if on else None,
            ),
        )
        for on in (False, True)
    }
    for r in runners.values():
        r.backfill()
    # the base file re-uploaded (5 stale rows) plus a delete of KEYS[0],
    # an update of KEYS[1] and inserts of KEYS[5] and KEYS[6]
    fx.upload_batch(minus(minutes=5), add_delete=True, add_upsert=True, update_changelog=True)
    jobs = {}
    for on, r in runners.items():
        got, jobs[on] = count_jobs(spark, r.run_once)
        assert got == 1
    assert jobs[True] == jobs[False]
    assert _state(spark, runners[True]) == _state(spark, runners[False])

    with open(tmp_path / "metrics.jsonl") as fh:
        (rec,) = [json.loads(x) for x in fh]
    assert rec["rows"] == 5 + 1 + 3
    assert (rec["inserts"], rec["updates"], rec["deletes"]) == (2, 1, 1)
    assert rec["merged"] == 4
    # the three stale re-uploads (KEYS[2..4]) took no effect
    assert rec["noops"] == 3


def test_bucketed_tick_runs_as_many_sql_executions_as_flat(spark, tmp_path):
    """The touched buckets come from the pin's own observation, not from
    a query of their own."""
    fx = SynapseFixture(tmp_path / "source")
    fx.upload_batch(minus(hours=1), update_changelog=True)
    runners = {b: StreamRunner(spark, _spec(tmp_path, f"t{b}", bucket_count=b)) for b in (0, 8)}
    for r in runners.values():
        r.backfill()
    fx.upload_batch(minus(minutes=5), add_delete=True, add_upsert=True, update_changelog=True)
    executions = {}
    for b, r in runners.items():
        before = _last_sql_id(spark)
        assert r.run_once() == 1
        executions[b] = len(_sql_plans_after(spark, before))
    assert executions[8] == executions[0]
    assert _state(spark, runners[8]) == _state(spark, runners[0])


def _widened_batch(fx, ts, rows):
    """A batch folder whose model.json types ``ordinal`` as string."""
    name = fx.folder_name(ts)
    entity_dir = os.path.join(fx.root, name, ENTITY)
    os.makedirs(entity_dir)
    with open(os.path.join(fx.root, name, "model.json"), "w") as fh:
        fh.write(
            model_json().replace('"name": "ordinal", "dataType": "int64"',
                                 '"name": "ordinal", "dataType": "string"')
        )
    with open(os.path.join(entity_dir, "data.csv"), "w") as fh:
        fh.write("\n".join(rows) + "\n")
    fx.set_changelog(name)
    return name


def test_bucketed_runner_survives_type_widening(spark, tmp_path):
    """int64 → string on a bucketed target: the widening tick rewrites every
    bucket (hard-linked ones would keep int64 files and make the table
    unreadable), later ticks go back to the incremental path."""
    assert ("ordinal", "int64") in COLUMNS
    fx = SynapseFixture(tmp_path / "source")
    fx.upload_batch(minus(hours=1), update_changelog=True)
    runner = StreamRunner(spark, _spec(tmp_path, "target", bucket_count=4))
    runner.backfill()

    _widened_batch(fx, minus(minutes=20), [data_row(KEYS[1], BASE_VERSION + 100, "D-WIDE")])
    assert runner.run_once() == 1
    df = runner.table.read(spark)
    assert dict(df.dtypes)["ordinal"] == "string"
    got = {r["Id"]: (r["ordinal"], r["displayvalue"]) for r in df.collect()}
    assert len(got) == 5
    assert got[KEYS[1]] == ("1", "D-WIDE")
    assert all(o == "1" for o, _ in got.values())  # historical values survive
    assert not _shared_inodes(runner.table)  # nothing linked across the change

    # same (string) schema again: incremental, and still readable
    _widened_batch(fx, minus(minutes=10), [data_row(KEYS[2], BASE_VERSION + 100, "D-NEXT")])
    assert runner.run_once() == 1
    assert _shared_inodes(runner.table)  # untouched buckets linked
    df = runner.table.read(spark)
    assert df.where(F.col("displayvalue") == "D-NEXT").count() == 1
    assert df.count() == 5


def _shared_inodes(t):
    """Inodes the head snapshot shares with the one before it."""
    v = t.current_version()
    return set.intersection(*[
        {os.stat(os.path.join(r, f)).st_ino for r, _, fs in os.walk(t._snapshot_dir(x)) for f in fs}
        for x in (v - 1, v)
    ])
