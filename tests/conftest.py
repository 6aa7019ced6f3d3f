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
def shipped_cost(spark):
    """``shipped_cost(fn)`` -> ``(jobs, tasks)`` that ``fn()`` ran, with
    AQE on (``get_spark``'s shipped posture). Jobs are counted by
    job-id range: the scheduler numbers every job from one sequence,
    so the jobs an op ran are the ids between two reads, whatever
    their job group. Tasks are the completed tasks of those jobs'
    stages, read from the status tracker; a stage reused from an
    earlier job (skipped) completes none."""
    sc = spark.sparkContext
    sched = sc._jsc.sc().dagScheduler()
    old = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "true")

    def cost(fn) -> tuple[int, int]:
        first = sched.numTotalJobs()
        fn()
        end = sched.numTotalJobs()
        sc._jsc.sc().listenerBus().waitUntilEmpty()
        tracker = sc.statusTracker()
        stages = {s for j in range(first, end)
                  for s in tracker.getJobInfo(j).stageIds}
        tasks = sum(i.numCompletedTasks
                    for i in map(tracker.getStageInfo, stages)
                    if i is not None)
        return end - first, tasks

    yield cost
    spark.conf.set("spark.sql.adaptive.enabled", old)


@pytest.fixture()
def shipped_jobs(shipped_cost):
    """``shipped_jobs(fn)`` -> the Spark jobs ``fn()`` scheduled, with
    AQE on (see ``shipped_cost``)."""
    return lambda fn: shipped_cost(fn)[0]
