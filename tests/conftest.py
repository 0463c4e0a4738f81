from __future__ import annotations

import sys
from pathlib import Path

import pytest

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))

from palimpzest_spark.session import get_spark  # noqa: E402

SF_TEST = "/root/testdata/sf0.01"
SF_SMOKE = "/root/testdata/sf0.001"


@pytest.fixture(scope="session")
def spark():
    s = get_spark(app_name="palimpzest_spark_tests", master="local[8]", shuffle_partitions=8)
    yield s
    s.stop()


@pytest.fixture
def count_jobs(spark):
    """``count_jobs(fn)`` → (Spark jobs ``fn()`` started, its result), read
    from the DAG scheduler's job counter — the job pins' one meter."""
    sched = spark.sparkContext._jsc.sc().dagScheduler()

    def _count(fn):
        j0 = int(sched.nextJobId())
        out = fn()
        return int(sched.nextJobId()) - j0, out

    return _count
