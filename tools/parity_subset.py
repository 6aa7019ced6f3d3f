#!/usr/bin/env python3
"""Targeted driver-twin parity: compare a LIST of registry keys
against their DuckDB oracles (pandas_compare - the driver-faithful
hash path) at one SF.

Usage: python tools/parity_subset.py <sf_dir> key1 key2 ...
"""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
sys.path.insert(0, os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "tests"))

from pyspark.sql import SparkSession  # noqa: E402

from cassandra_elasticsearch_sync_spark.registry import (  # noqa: E402
    oracle_sql,
    queries,
)
from oracle_harness import duck_connection, pandas_compare  # noqa: E402


def main() -> None:
    sf_dir = sys.argv[1]
    keys = sys.argv[2:]
    spark = (SparkSession.builder.master("local[8]")
             .appName("parity-subset")
             .config("spark.ui.showConsoleProgress", "false")
             .getOrCreate())
    spark.sparkContext.setLogLevel("ERROR")
    con = duck_connection(sf_dir)
    qs, osql = queries(), oracle_sql()
    bad = 0
    for k in keys:
        t0 = time.perf_counter()
        if k not in qs:
            print(f"{k}: NOT REGISTERED")
            bad += 1
            continue
        df = qs[k](spark, sf_dir)
        if k not in osql or osql[k] is None:
            n = df.count()
            print(f"{k}: rows-only ({n} rows) [{time.perf_counter()-t0:.1f}s]")
            continue
        r = pandas_compare(k, df, con, osql[k])
        print(f"{r} [{time.perf_counter()-t0:.1f}s]")
        if not r.ok:
            bad += 1
    print(f"DONE bad={bad}")
    sys.exit(1 if bad else 0)


if __name__ == "__main__":
    main()
