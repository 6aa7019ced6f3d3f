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
- **Watermark file** (save/load_watermark): the reference keeps the
  last-sync timestamp outside the process (SURVEY.md 0.2); the batch
  engine persists it as one small JSON file in its state directory,
  replaced atomically on every save (streaming mode uses the
  checkpoint instead).

Verified by tests/test_storage.py via plan assertions (no Exchange on
bucketed joins; PartitionFilters on pruned scans) and value checks.
"""

from __future__ import annotations

import calendar
import datetime as dt
import json
import os
import time
import uuid

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


def write_json_atomic(path: str, obj) -> None:
    """Durably replace the JSON file ``path``: write a temp file in the
    same directory, flush and fsync it, then ``os.replace`` it into
    place. A reader sees the old content or the new, never a torn or
    missing file; a failure before the replace leaves the old one."""
    tmp = os.path.join(os.path.dirname(path), f".tmp.{uuid.uuid4().hex}")
    try:
        with open(tmp, "w") as fh:
            json.dump(obj, fh)
            fh.flush()
            os.fsync(fh.fileno())
        os.replace(tmp, path)
    except BaseException:
        if os.path.exists(tmp):
            os.unlink(tmp)
        raise


_WATERMARK = "watermark.json"
_EPOCH = dt.datetime(1970, 1, 1, tzinfo=dt.timezone.utc)


def save_watermark(spark: SparkSession, state_dir: str, ts: dt.datetime) -> None:
    """Persist the high-watermark (last successfully synced version) as
    one small JSON file, published atomically (``write_json_atomic``):
    the sync point appears in one step, the way *Structured
    Streaming*'s offset and commit logs do. Driver I/O only, no Spark
    job. The value is stored as UTC epoch micros; a naive ``ts`` is
    read as system-local time, like ``TimestampType.toInternal``."""
    seconds = (calendar.timegm(ts.utctimetuple()) if ts.tzinfo
               else time.mktime(ts.timetuple()))
    micros = int(seconds) * 1_000_000 + ts.microsecond
    os.makedirs(state_dir, exist_ok=True)
    write_json_atomic(os.path.join(state_dir, _WATERMARK),
                      {"watermark_us": micros})


def load_watermark(spark: SparkSession, state_dir: str) -> dt.datetime | None:
    """Read the persisted watermark, or None when none was saved. The
    value comes back as the naive system-local datetime PySpark's
    ``collect`` gives for a timestamp (``TimestampType.fromInternal``),
    so the engine compares it with ``version`` columns directly."""
    try:
        with open(os.path.join(state_dir, _WATERMARK)) as fh:
            micros = json.load(fh)["watermark_us"]
    except OSError:
        return None
    utc = _EPOCH + dt.timedelta(microseconds=micros)
    return utc.astimezone().replace(tzinfo=None)


def compact_snapshot(spark: SparkSession, path: str, out_path: str,
                     target_files: int = 8) -> None:
    """Small-file compaction: rewrite a snapshot directory into
    `target_files` files. Every incremental cycle's snapshot-swap can
    fragment the store; periodic compaction keeps scan parallelism
    aligned with file count (the 100 TB analogue is the table format's
    OPTIMIZE/rewrite-data-files action)."""
    spark.read.parquet(path).coalesce(target_files).write.mode("overwrite").parquet(out_path)
