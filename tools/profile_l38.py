#!/usr/bin/env python3
"""Step-timed l38 profile (round 13, guide §1): run the exact
l38_sync_lag_slo scenario with a wall-clock stamp after every engine
step, so the ~40 s of commit-bound work decomposes into named phases.

Env: SPARK_GRAFT_SF_DIR, SPARK_GRAFT_CPUS (both honored by the
engine/session).
Prints one JSON line with per-step seconds.
"""
from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile
import time

os.environ.setdefault("SPARK_GRAFT_SHUFFLE_PARTITIONS", "4")
os.environ.setdefault("SPARK_GRAFT_AQE", "false")

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402

from cassandra_elasticsearch_sync_spark.session import get_spark  # noqa: E402
from cassandra_elasticsearch_sync_spark.sync.engine import (  # noqa: E402
    AcidStore,
    SyncEngine,
)
from cassandra_elasticsearch_sync_spark.sync.ops import side_a, side_b  # noqa: E402


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    spark = get_spark(app_name="profile-l38")
    spark.sparkContext.setLogLevel("ERROR")
    # same warm-up the bench does, so step times are warm-JVM
    from cassandra_elasticsearch_sync_spark.registry import queries
    queries()["flagship_pricing_summary"](spark, "/root/testdata/sf0.001").count()

    steps: dict[str, float] = {}
    t_all = time.perf_counter()

    def stamp(name: str, t0: float) -> None:
        steps[name] = round(time.perf_counter() - t0, 3)

    root = tempfile.mkdtemp(prefix="ces_profile_l38_")
    try:
        t0 = time.perf_counter()
        a = AcidStore(spark, f"{root}/a")
        b = AcidStore(spark, f"{root}/b")
        a.table.init(side_a(spark, sf_dir).withColumn("side", F.lit("a")))
        b.table.init(side_b(spark, sf_dir).withColumn("side", F.lit("b")))
        stamp("bootstrap_init", t0)

        eng = SyncEngine(spark, a, b, f"{root}/state", record_ledger=True)
        t0 = time.perf_counter()
        eng.full_sync()
        stamp("full_sync", t0)

        t0 = time.perf_counter()
        b.table.update_where(
            F.col("key") % 101 == 5,
            {"price": F.col("price") + 500.0,
             "version": F.col("version") + F.expr("INTERVAL 2557 DAYS")})
        stamp("update_1", t0)
        t0 = time.perf_counter()
        eng.incremental_cycle()
        stamp("cycle_1", t0)

        t0 = time.perf_counter()
        a.table.update_where(
            F.col("key") % 103 == 7,
            {"price": F.col("price") + 111.0,
             "version": F.col("version") + F.expr("INTERVAL 2922 DAYS")})
        b.table.update_where(
            (F.col("key") % 103 == 7) | (F.col("key") % 103 == 11),
            {"price": F.col("price") + 222.0,
             "version": F.col("version") + F.expr("INTERVAL 2923 DAYS")})
        stamp("update_2", t0)
        t0 = time.perf_counter()
        eng.incremental_cycle()
        stamp("cycle_2", t0)

        t0 = time.perf_counter()
        eng.incremental_cycle()
        stamp("cycle_3", t0)

        t0 = time.perf_counter()
        eng.ledger_df().localCheckpoint(eager=True).count()
        stamp("ledger", t0)
    finally:
        shutil.rmtree(root, ignore_errors=True)

    print(json.dumps({
        "total": round(time.perf_counter() - t_all, 3),
        "steps": steps,
        "cpus": os.environ.get("SPARK_GRAFT_CPUS", "*"),
    }))


if __name__ == "__main__":
    main()
