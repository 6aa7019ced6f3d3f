from __future__ import annotations

import pytest

from cassandra_elasticsearch_sync_spark.session import get_spark

SF_DIR = "/root/testdata/sf0.001"
SF_DIR_001 = "/root/testdata/sf0.001"
SF_DIR_01 = "/root/testdata/sf0.01"


@pytest.fixture(scope="session")
def spark():
    s = get_spark(app_name="engine-tests", master="local[8]", shuffle_partitions=8)
    s.sparkContext.setLogLevel("ERROR")
    yield s


@pytest.fixture()
def shipped_jobs(spark):
    """``shipped_jobs(fn)`` -> the Spark jobs ``fn()`` scheduled, with
    AQE on (``get_spark``'s shipped posture). Counted by job-id range:
    the scheduler numbers every job from one sequence, so the jobs an
    op ran are the ids between two reads, whatever their job group."""
    sched = spark.sparkContext._jsc.sc().dagScheduler()
    old = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "true")

    def count(fn) -> int:
        first = sched.numTotalJobs()
        fn()
        return sched.numTotalJobs() - first

    yield count
    spark.conf.set("spark.sql.adaptive.enabled", old)
