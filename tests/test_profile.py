"""The profile module's report, its refusal of unknown entries, the
plan-free job span, and the repository's remaining scripts staying
importable."""

from __future__ import annotations

import importlib.util
import json
import pathlib
import subprocess
import sys

import pytest

from arcane_stream_microsoft_synapse_link_spark import jobspan, profile

from .conftest import SF_SMOKE, count_jobs

ROOT = pathlib.Path(__file__).resolve().parent.parent


def test_profile_reports_median_steal_split_and_job_group(spark, capsys):
    assert profile.main(["q1_scan_filter_sort", "--runs", "1", "--sf", SF_SMOKE]) == 0
    report = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert report["entry"] == "q1_scan_filter_sort"
    assert report["runs_s"] == [report["median_s"]]
    assert len(report["steal_s"]) == 1 and report["steal_s"][0] >= 0
    assert report["build_s"] >= 0 and report["execute_s"] >= 0
    assert report["build_s"] + report["execute_s"] <= report["median_s"] + 1e-9
    assert report["jobs"] >= 1 and report["stages"] >= 1 and report["tasks"] >= 1
    assert report["task_s"] >= 0


def test_profile_refuses_bad_arguments_without_a_spark_job(spark, capsys):
    code, jobs = count_jobs(
        spark, lambda: profile.main(["no_such_entry", "q1_scan_filter_sort", "nor_this"])
    )
    assert code != 0
    assert jobs == 0
    err = capsys.readouterr().err
    assert "no_such_entry" in err and "nor_this" in err and "q1_scan_filter_sort" not in err
    with pytest.raises(SystemExit):
        profile.main(["q1_scan_filter_sort", "--runs", "0"])


def test_job_span_nests(spark):
    """An inner span restores the outer span's job group: the job after
    it is the outer span's."""

    def outer():
        _, inner = jobspan.job_span(spark, lambda: spark.range(10).count())
        spark.range(5).count()
        return inner

    inner, outer_span = jobspan.job_span(spark, outer)
    assert inner.jobs >= 1 and inner.tasks >= 1
    assert outer_span.jobs >= 1


def test_jobspan_loads_no_query_surface():
    """The span helpers import without the declared query registry."""
    code = (
        "import sys, arcane_stream_microsoft_synapse_link_spark.jobspan; "
        "print(sorted(m for m in sys.modules if '.plans' in m))"
    )
    out = subprocess.run(
        [sys.executable, "-c", code], cwd=ROOT, capture_output=True, text=True, check=True
    )
    assert out.stdout.strip() == "[]"


def test_remaining_scripts_import_and_profile_cli_answers_help():
    """Importing a script resolves every package name it uses, so a
    rename breaks this test instead of the script's next run."""
    spec = importlib.util.spec_from_file_location("plan_audit", ROOT / "tools" / "plan_audit.py")
    plan_audit = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(plan_audit)
    assert callable(plan_audit.main)

    from tests import sweep_vanilla

    assert callable(sweep_vanilla.main)

    out = subprocess.run(
        [sys.executable, "-m", "arcane_stream_microsoft_synapse_link_spark.profile", "--help"],
        cwd=ROOT,
        capture_output=True,
        text=True,
        timeout=120,
    )
    assert out.returncode == 0, out.stderr
    assert "--runs" in out.stdout and "--explain" in out.stdout
