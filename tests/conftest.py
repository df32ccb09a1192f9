from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from arcane_stream_microsoft_synapse_link_spark.jobspan import job_span  # noqa: E402
from arcane_stream_microsoft_synapse_link_spark.session import get_spark  # noqa: E402

SF_SMOKE = "/root/testdata/sf0.001"
SF_CORRECT = "/root/testdata/sf0.01"


@pytest.fixture(scope="session")
def spark():
    s = get_spark("arcane-tests", shuffle_partitions=8)
    yield s


@pytest.fixture(scope="session")
def sf_dir():
    return SF_SMOKE


def count_jobs(spark, fn):
    """(result, Spark jobs ``fn`` started), counted by job group."""
    out, span = job_span(spark, fn)
    return out, span.jobs
