"""Storage-layout primitives for scale: bucketing, partitioned writes,
and the persisted sync watermark.

These are the three physical-layout levers a 100 TB deployment of the
sync engine pulls:

- **Bucketing** (write_bucketed): pre-shuffle both fact tables into the
  same bucket layout on the join/sync key; every subsequent join or
  LWW merge on that key runs WITHOUT an Exchange - the shuffle is paid
  once at write time, amortized over every sync cycle. This is the
  batch analogue of Cassandra's token-range co-location.
- **Date partitioning** (write_date_partitioned): sync targets laid out
  by event date; delta extraction (L2) then prunes partitions at plan
  time instead of filtering rows at run time.
- **Watermark table** (save/load_watermark): the reference keeps the
  last-sync timestamp outside the process (SURVEY.md 0.2); the batch
  engine persists it as a tiny parquet state table next to the target
  (streaming mode uses the checkpoint instead).

Verified by tests/test_storage.py via plan assertions (no Exchange on
bucketed joins; PartitionFilters on pruned scans) and value checks.
"""

from __future__ import annotations

import datetime as dt
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def write_bucketed(
    df: DataFrame, table_name: str, bucket_col: str, n_buckets: int = 8
) -> None:
    """Persist df as a bucketed+sorted managed table (parquet).

    Joins between two tables bucketed identically on the join key skip
    both the Exchange and (with sortBy) the Sort of a sort-merge join.
    """
    (
        df.write.mode("overwrite")
        .format("parquet")
        .bucketBy(n_buckets, bucket_col)
        .sortBy(bucket_col)
        .saveAsTable(table_name)
    )


def write_date_partitioned(df: DataFrame, path: str, ts_col: str) -> None:
    """Write df date-partitioned (sync-target layout): one directory per
    day of ts_col; date-ranged reads prune at plan time."""
    (
        df.withColumn("_day", F.date_format(F.date_trunc("day", ts_col), "yyyy-MM-dd"))
        .write.mode("overwrite")
        .partitionBy("_day")
        .parquet(path)
    )


def save_watermark(spark: SparkSession, state_dir: str, ts: dt.datetime) -> None:
    """Persist the high-watermark (last successfully synced version).

    A one-row control-plane state record is DRIVER work: the previous
    implementation round-tripped it through ``createDataFrame`` +
    ``coalesce(1)`` + a distributed overwrite - a Python-parallelize
    RDD whose single coalesced task re-fetches all 32 sliced payloads
    from the driver's serving socket, measured at ~6 s per call on the
    bench box (4 calls per l38 run = ~24 s of pure scheduling
    constants for 4 rows of state). The watermark is now written
    directly from the driver as one parquet file (same schema, same
    internal micros - the value round-trips bit-exactly through
    ``load_watermark``'s Spark read), then swapped into place: new
    file -> fresh temp dir -> rename over the old dir, which is also
    strictly MORE crash-safe than overwrite's delete-then-write
    window. Zero Spark jobs; cost is ~5 ms.
    """
    import shutil
    import uuid

    import pyarrow as pa
    import pyarrow.parquet as pq

    # Exactly TimestampType.toInternal's conversion, so the stored
    # micros match what createDataFrame(...) used to write.
    import calendar
    import time as _time

    seconds = (calendar.timegm(ts.utctimetuple()) if ts.tzinfo
               else _time.mktime(ts.timetuple()))
    micros = int(seconds) * 1_000_000 + ts.microsecond
    tbl = pa.table({"watermark": pa.array([micros], type=pa.int64())
                    .cast(pa.timestamp("us", tz="UTC"))})
    target = os.path.join(state_dir, "watermark")
    tmp = os.path.join(state_dir, f".watermark.tmp-{uuid.uuid4().hex}")
    os.makedirs(tmp, exist_ok=True)
    pq.write_table(tbl, os.path.join(tmp, "part-00000.parquet"))
    old = os.path.join(state_dir, f".watermark.old-{uuid.uuid4().hex}")
    if os.path.exists(target):
        os.rename(target, old)
    os.rename(tmp, target)
    shutil.rmtree(old, ignore_errors=True)


def load_watermark(spark: SparkSession, state_dir: str) -> dt.datetime | None:
    """Read the persisted watermark. One-row control-plane state is
    DRIVER work (same rationale as save_watermark): the parquet file is
    read with pyarrow in ~1 ms instead of scheduling a Spark job per
    sync cycle. Value parity with the old Spark read: both decode the
    same stored micros; tz-aware values collapse to the naive
    system-local datetime exactly like PySpark's collect
    (TimestampType.fromInternal)."""
    import pyarrow.parquet as pq

    path = os.path.join(state_dir, "watermark")
    try:
        parts = [os.path.join(path, f) for f in sorted(os.listdir(path))
                 if f.endswith(".parquet")]
        vals: list = []
        for p in parts:
            vals.extend(pq.read_table(p, columns=["watermark"])
                        .column("watermark").to_pylist())
    except OSError:
        return None
    if not vals:
        return None
    v = vals[0]
    if isinstance(v, dt.datetime) and v.tzinfo is not None:
        v = v.astimezone().replace(tzinfo=None)
    return v


def compact_snapshot(spark: SparkSession, path: str, out_path: str,
                     target_files: int = 8) -> None:
    """Small-file compaction: rewrite a snapshot directory into
    `target_files` files. Every incremental cycle's snapshot-swap can
    fragment the store; periodic compaction keeps scan parallelism
    aligned with file count (the 100 TB analogue is the table format's
    OPTIMIZE/rewrite-data-files action)."""
    spark.read.parquet(path).coalesce(target_files).write.mode("overwrite").parquet(out_path)
