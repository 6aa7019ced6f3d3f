#!/usr/bin/env python3
"""Cost of the two MERGE rewrite plans against one large entry.

``AcidParquetTable._merge_against`` broadcasts a source of at most
``BROADCAST_SOURCE_ROW_CAP`` rows into a LEFT OUTER join over the
affected entries and shuffles a larger one through a FULL OUTER join.
This script times both plans on the same table, one merge per fresh
process so that the memory peaks are the merge's own, after one
untimed merge of the same shape that warms the JVM:

    python tools/merge_plan_cost.py [--target-rows 2000000]
        [--sizes 1000,10000,100000] [--shapes update_only,one_insert]
        [--cpus 4]

For every source size it runs an update-only source (every key
matched) and a source whose rows all match but one (the insert write
then filters the source by every matched key: its worst case), on
both plans whatever the shipped cap (the cap is set to the source size
for the broadcast plan and to 0 for the full outer join). Sources are
caller-vouched (``assume_unique_keys`` + ``source_stats``) and
materialized before the timed merge, as the sync engine's ship sets
are. Each line of output is one merge as JSON: wall seconds, Spark
jobs and tasks (job-id range), the driver JVM's peak resident set
(VmHWM) and the Python driver's (ru_maxrss), both in MiB, and the
same two peaks measured after the table was written, before the
untimed merge.
"""

from __future__ import annotations

import argparse
import json
import os
import resource
import subprocess
import sys
import tempfile
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)


def _vm_hwm_mib(pid: int | None) -> float | None:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024
    except (OSError, TypeError):
        pass
    return None


def _py_maxrss_mib() -> float:
    return resource.getrusage(resource.RUSAGE_SELF).ru_maxrss / 1024


def one(target_rows: int, n: int, shape: str, plan: str) -> dict:
    from pyspark.sql import functions as F

    from cassandra_elasticsearch_sync_spark.session import get_spark
    from cassandra_elasticsearch_sync_spark.sources.acid import (
        AcidParquetTable,
    )

    spark = get_spark()
    spark.sparkContext.setLogLevel("ERROR")
    sc = spark.sparkContext
    jvm_pid = getattr(getattr(sc._gateway, "proc", None), "pid", None)
    # the cap picks the plan; set it so that this size takes ``plan``
    AcidParquetTable.BROADCAST_SOURCE_ROW_CAP = n if plan == "broadcast" else 0
    with tempfile.TemporaryDirectory(prefix="merge_plan_cost_") as d:
        t = AcidParquetTable(spark, os.path.join(d, "t"))
        t.init(spark.range(target_rows).select(
            (F.col("id") * 2).alias("key"),
            F.rand(1).alias("price"),
            F.lit(1).cast("bigint").alias("version")))
        # even keys exist; "one_insert" turns the last one odd (absent)
        step = max(target_rows // n, 1)

        def source(version, odd):
            return spark.range(n).select(
                (F.col("id") * step * 2 + F.when(
                    F.lit(shape == "one_insert") & (F.col("id") == n - 1),
                    odd).otherwise(0)).alias("key"),
                F.lit(-1.0).alias("price"),
                F.lit(version).cast("bigint").alias("version"),
            ).localCheckpoint()

        lo, hi = 0, (n - 1) * step * 2 + 3

        def merge(src):
            t.merge_into(src, ["key"], assume_unique_keys=True,
                         source_stats=(n, lo, hi))

        # the same merge once untimed, so that the timed one runs on a
        # warm JVM (its insert key differs, so it inserts again)
        before = {"jvm_hwm_mib": _vm_hwm_mib(jvm_pid),
                  "py_maxrss_mib": _py_maxrss_mib()}
        merge(source(2, 1))
        src = source(3, 3)
        sched = sc._jsc.sc().dagScheduler()
        first = sched.numTotalJobs()
        t0 = time.perf_counter()
        merge(src)
        wall = time.perf_counter() - t0
        end = sched.numTotalJobs()
        sc._jsc.sc().listenerBus().waitUntilEmpty()
        tracker = sc.statusTracker()
        stages = {s for j in range(first, end)
                  for s in tracker.getJobInfo(j).stageIds}
        tasks = sum(i.numCompletedTasks
                    for i in map(tracker.getStageInfo, stages)
                    if i is not None)
        expect = target_rows + 2 * (shape == "one_insert")
        assert t.read().count() == expect
    return {"plan": plan, "source_rows": n, "shape": shape,
            "target_rows": target_rows, "wall_s": round(wall, 3),
            "jobs": end - first, "tasks": tasks,
            "jvm_hwm_mib": _vm_hwm_mib(jvm_pid),
            "py_maxrss_mib": round(_py_maxrss_mib(), 1),
            "before": before}


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--target-rows", type=int, default=2_000_000)
    ap.add_argument("--sizes", default="1000,10000,100000")
    ap.add_argument("--shapes", default="update_only,one_insert")
    ap.add_argument("--cpus", default="4")
    ap.add_argument("--one", nargs=3, metavar=("N", "SHAPE", "PLAN"),
                    help=argparse.SUPPRESS)
    a = ap.parse_args()
    if a.one:
        n, shape, plan = a.one
        print(json.dumps(one(a.target_rows, int(n), shape, plan)),
              flush=True)
        return
    env = dict(os.environ, SPARK_GRAFT_CPUS=a.cpus)
    for n in a.sizes.split(","):
        for shape in a.shapes.split(","):
            for plan in ("broadcast", "full_outer"):
                out = subprocess.run(
                    [sys.executable, os.path.abspath(__file__),
                     "--target-rows", str(a.target_rows),
                     "--one", n, shape, plan],
                    env=env, capture_output=True, text=True)
                lines = [ln for ln in out.stdout.splitlines()
                         if ln.startswith("{")]
                print(lines[-1] if lines else json.dumps(
                    {"plan": plan, "source_rows": int(n), "shape": shape,
                     "error": out.stderr.strip().splitlines()[-1:]}),
                      flush=True)


if __name__ == "__main__":
    main()
