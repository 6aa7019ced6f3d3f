"""Streaming operators: watermarked windows, dedup, stream joins, and
the end-to-end incremental sync loop (L7).

Verification strategy (SURVEY.md 2.I): every windowed aggregation is
registered as a *batch* query on `events` with a DuckDB oracle (same
window semantics, hash-checked), and the streaming twin is asserted
equal to the batch result in tests/test_streaming.py by running it
with trigger(availableNow) - honest coverage for operators the oracle
cannot execute. The one exception is l7_incremental_sync_stream, which
IS a real multi-micro-batch streaming run and still hash-matches the
batch l3 oracle, because LWW merge is associative/commutative across
micro-batches.

Scale notes: windows and dedup state partition by (window, key) /
event_id - standard distributed state-store sharding. The foreachBatch
merge rewrites the target snapshot per batch because plain parquet has
no row-level upsert; on a 100 TB deployment the target is an ACID
table (Delta/Iceberg MERGE INTO) and the rest of the pipeline is
unchanged.
"""

from __future__ import annotations

import os
import shutil
import tempfile

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from cassandra_elasticsearch_sync_spark.catalog import load_table
from cassandra_elasticsearch_sync_spark.registry import register
from cassandra_elasticsearch_sync_spark.streaming.control import await_bounded
from cassandra_elasticsearch_sync_spark.sync.ops import lww_merge, side_a, side_b

EVENTS_STREAM_SCHEMA = (
    "event_id bigint, ts timestamp, user_id bigint, event_type string, "
    "value double, props string"
)


# ---------------------------------------------------------------------------
# Batch-equivalent window aggregations (oracle-checked; streaming twins
# of each are exercised in tests/test_streaming.py)
# ---------------------------------------------------------------------------

@register("i2_tumbling_window", "I2", """
SELECT STRFTIME(TIME_BUCKET(INTERVAL '1 hour', DATE_TRUNC('second', ts)),
                '%Y-%m-%d %H:%M:%S') AS window_start,
       event_type,
       COUNT(*) AS n,
       CAST(CAST(SUM(CAST(value AS DECIMAL(38,10))) AS DECIMAL(38,6)) AS DOUBLE) AS total_value
FROM events
GROUP BY 1, 2
""", "Tumbling 1h window aggregate (batch form of the watermarked "
     "streaming aggregation; F.window start == time_bucket)")
def i2_tumbling_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.groupBy(F.window(F.date_trunc("second", "ts"), "1 hour"), "event_type")
        .agg(
            F.count("*").alias("n"),
            F.sum(F.col("value").cast("decimal(38,10)"))
             .cast("decimal(38,6)").cast("double").alias("total_value"),
        )
        .select(
            F.date_format("window.start", "yyyy-MM-dd HH:mm:ss").alias("window_start"),
            "event_type",
            "n",
            "total_value",
        )
    )


@register("i3_sliding_window", "I3", """
WITH s AS (
  SELECT TIME_BUCKET(INTERVAL '15 minutes', DATE_TRUNC('second', ts))
           - k * INTERVAL '15 minutes' AS window_start,
         DATE_TRUNC('second', ts) AS ts_s
  FROM events, RANGE(4) r(k)
)
SELECT STRFTIME(window_start, '%Y-%m-%d %H:%M:%S') AS window_start,
       COUNT(*) AS n
FROM s
WHERE ts_s < window_start + INTERVAL '1 hour'
GROUP BY 1
""", "Sliding 1h/15min window counts (each row lands in 4 overlapping "
     "windows; the oracle materializes the same 4 offsets explicitly)")
def i3_sliding_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.groupBy(F.window(F.date_trunc("second", "ts"), "1 hour", "15 minutes"))
        .agg(F.count("*").alias("n"))
        .select(
            F.date_format("window.start", "yyyy-MM-dd HH:mm:ss").alias("window_start"),
            "n",
        )
    )


@register("i4_sessionization", "I4", """
WITH e AS (
  SELECT user_id,
         CAST(EPOCH(DATE_TRUNC('second', ts)) AS BIGINT) AS es
  FROM events
),
flagged AS (
  SELECT user_id, es,
         CASE WHEN es - LAG(es) OVER w > 1800 OR LAG(es) OVER w IS NULL
              THEN 1 ELSE 0 END AS new_session
  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY es)
),
sessions AS (
  SELECT user_id, es,
         SUM(new_session) OVER (PARTITION BY user_id ORDER BY es
                                ROWS UNBOUNDED PRECEDING) AS session_id
  FROM flagged
)
SELECT user_id, CAST(session_id AS BIGINT) AS session_id,
       MIN(es) AS session_start_es,
       MAX(es) - MIN(es) AS duration_s,
       COUNT(*) AS n_events
FROM sessions
GROUP BY user_id, session_id
""", "Gap-based sessionization (30 min) via gaps-and-islands - the "
     "batch twin of F.session_window, asserted equivalent in tests")
def i4_sessionization(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    ev = load_table(spark, sf_dir, "events").select(
        "user_id", F.unix_timestamp(F.date_trunc("second", "ts")).alias("es")
    )
    w = Window.partitionBy("user_id").orderBy("es")
    run = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    flagged = ev.withColumn(
        "new_session",
        F.when(
            (F.col("es") - F.lag("es").over(w) > 1800) | F.lag("es").over(w).isNull(), 1
        ).otherwise(0),
    )
    sessions = flagged.withColumn("session_id", F.sum("new_session").over(run))
    return sessions.groupBy("user_id", F.col("session_id").cast("bigint").alias("session_id")).agg(
        F.min("es").alias("session_start_es"),
        (F.max("es") - F.min("es")).alias("duration_s"),
        F.count("*").alias("n_events"),
    )


# ---------------------------------------------------------------------------
# Streaming builders (library surface; exercised in tests)
# ---------------------------------------------------------------------------

def stage_events_stream(spark: SparkSession, sf_dir: str, n_chunks: int = 4) -> str:
    """Write events as n_chunks parquet files into a scratch dir so the
    file source sees multiple discrete arrivals (one per micro-batch
    with maxFilesPerTrigger=1).

    Chunks are TIME-ordered (exact distributed ntile over ts): the file
    source replays them oldest-first, like a real at-least-once feed.
    Arbitrary-order chunks would be dropped as late data once the
    watermark advances - correct watermark semantics, wrong test
    fixture.
    """
    from cassandra_elasticsearch_sync_spark.operators.distributed_order import (
        with_global_ntile,
    )

    ev = with_global_ntile(
        load_table(spark, sf_dir, "events"),
        [F.col("ts"), F.col("event_id")],
        n_chunks,
        bucket_col="chunk",
    )
    out = tempfile.mkdtemp(prefix="ces_events_stream_")
    for i in range(1, n_chunks + 1):
        ev.filter(F.col("chunk") == i).drop("chunk").coalesce(1).write.mode(
            "append"
        ).parquet(out)
    return out


def read_events_stream(spark: SparkSession, staged_dir: str) -> DataFrame:
    return (
        spark.readStream.schema(EVENTS_STREAM_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .parquet(staged_dir)
    )


def tumbling_counts_stream(events: DataFrame) -> DataFrame:
    """I1+I2: watermarked tumbling window aggregate."""
    return (
        events.withWatermark("ts", "1 hour")
        .groupBy(F.window(F.date_trunc("second", "ts"), "1 hour"), "event_type")
        .agg(
            F.count("*").alias("n"),
            F.sum(F.col("value").cast("decimal(38,10)"))
             .cast("decimal(38,6)").cast("double").alias("total_value"),
        )
        .select(
            F.date_format("window.start", "yyyy-MM-dd HH:mm:ss").alias("window_start"),
            "event_type",
            "n",
            "total_value",
        )
    )


def session_window_stream(events: DataFrame) -> DataFrame:
    """I4: native session windows (30 min gap) per user."""
    return (
        events.withWatermark("ts", "2 hours")
        .groupBy(F.session_window(F.date_trunc("second", "ts"), "30 minutes"), "user_id")
        .agg(F.count("*").alias("n_events"))
        .select(
            "user_id",
            F.unix_timestamp("session_window.start").alias("session_start_es"),
            "n_events",
        )
    )


def dedup_stream(events: DataFrame) -> DataFrame:
    """I5: drop re-deliveries by event_id within the watermark."""
    return events.withWatermark("ts", "1 hour").dropDuplicates(["event_id"])


def dedup_stream_within_watermark(events: DataFrame,
                                  delay: str = "1 hour") -> DataFrame:
    """I5 at unbounded scale: ``dropDuplicatesWithinWatermark`` keeps a
    seen-key entry only until the watermark passes the key's event time
    + delay, then EVICTS it - state is bounded by the stream's rate x
    delay instead of growing with total distinct keys forever (the
    failure mode of plain dropDuplicates on an infinite stream). The
    contract weakens accordingly: a re-delivery arriving later than the
    delay can be emitted again (tests/test_streaming.py pins both the
    dedup-within-delay and the eviction-after-delay behavior)."""
    return events.withWatermark("ts", delay).dropDuplicatesWithinWatermark(
        ["event_id"])


def stream_static_join(events: DataFrame, weights: DataFrame) -> DataFrame:
    """I8: enrich the stream against a broadcast static dimension."""
    return events.join(F.broadcast(weights), "event_type")


def stream_stream_join(events: DataFrame) -> DataFrame:
    """I9: clicks joined to errors of the same user within 10 minutes
    (both sides watermarked; the range condition bounds state)."""
    clicks = (
        events.filter(F.col("event_type") == "click")
        .select("user_id", F.col("ts").alias("c_ts"), F.col("event_id").alias("click_id"))
        .withWatermark("c_ts", "30 minutes")
    )
    errors = (
        events.filter(F.col("event_type") == "error")
        .select(F.col("user_id").alias("e_user"), F.col("ts").alias("e_ts"),
                F.col("event_id").alias("error_id"))
        .withWatermark("e_ts", "30 minutes")
    )
    return clicks.join(
        errors,
        F.expr(
            "user_id = e_user AND e_ts >= c_ts AND e_ts <= c_ts + INTERVAL 10 MINUTES"
        ),
    ).select("user_id", "click_id", "error_id")


# ---------------------------------------------------------------------------
# L7: the incremental sync loop, end to end
# ---------------------------------------------------------------------------

class _SnapshotStore:
    """A keyed store on plain parquet with snapshot-swap upserts.

    Stand-in for the Cassandra/ES target: merge(batch) = LWW of the
    current snapshot with the batch, written to a fresh versioned dir
    (readers never see partial writes). On an ACID table format this
    whole class collapses to MERGE INTO.
    """

    def __init__(self, spark: SparkSession, root: str, init: DataFrame):
        self.spark = spark
        self.root = root
        self.version = 0
        self.applied_batches: set[int] = set()
        init.write.mode("overwrite").parquet(self._path(0))

    def _path(self, v: int) -> str:
        return os.path.join(self.root, f"v{v}")

    def current(self) -> DataFrame:
        return self.spark.read.parquet(self._path(self.version))

    def merge(self, batch: DataFrame, batch_id: int | None = None) -> None:
        # Exactly-once bookkeeping: foreachBatch re-delivers a batch id
        # after a restart; skipping it is free because ids are stable.
        # (Even without this, re-merging is safe: LWW is idempotent.)
        if batch_id is not None:
            if batch_id in self.applied_batches:
                return
            self.applied_batches.add(batch_id)
        merged = lww_merge(self.current(), batch)
        self.version += 1
        merged.write.mode("overwrite").parquet(self._path(self.version))
        # The write above materialized the new snapshot, so the old one
        # is unreachable by readers - drop it rather than accumulating
        # one full copy of the store per micro-batch.
        shutil.rmtree(self._path(self.version - 1), ignore_errors=True)


# The converged snapshot must outlive the lazy DataFrame returned to
# the caller, so a run can only reap the PREVIOUS run's store - each
# run leaves exactly one final snapshot behind, collected here.
_L7_PRIOR_ROOTS: list[str] = []


def l7_run_incremental_sync(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full L7 loop: bootstrap store A, stream side-B deltas in
    micro-batches, foreachBatch-merge with LWW, return the converged
    snapshot. Deterministic regardless of batch boundaries because LWW
    is associative and commutative over versions."""
    while _L7_PRIOR_ROOTS:
        shutil.rmtree(_L7_PRIOR_ROOTS.pop(), ignore_errors=True)
    a = side_a(spark, sf_dir).withColumn("side", F.lit("a"))
    b = side_b(spark, sf_dir).withColumn("side", F.lit("b"))

    staged = tempfile.mkdtemp(prefix="ces_l7_deltas_")
    n_chunks = 3
    for i in range(n_chunks):
        b.filter(F.col("key") % n_chunks == i).coalesce(1).write.mode("append").parquet(staged)

    store_root = tempfile.mkdtemp(prefix="ces_l7_store_")
    checkpoint = tempfile.mkdtemp(prefix="ces_l7_ckpt_")
    store = _SnapshotStore(spark, store_root, a)

    deltas = (
        spark.readStream.schema("key bigint, price double, version timestamp, side string")
        .option("maxFilesPerTrigger", 1)
        .parquet(staged)
    )
    q = (
        deltas.writeStream.foreachBatch(lambda df, bid: store.merge(df, bid))
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )
    await_bounded(q, 300)
    result = store.current()
    shutil.rmtree(staged, ignore_errors=True)
    shutil.rmtree(checkpoint, ignore_errors=True)
    _L7_PRIOR_ROOTS.append(store_root)
    return result


# The streaming loop converges to exactly the batch LWW merge, so the
# oracle is l3's SQL (same output columns).
from cassandra_elasticsearch_sync_spark.sync.ops import _L3_ORACLE  # noqa: E402
from cassandra_elasticsearch_sync_spark.localdata import local_relation


@register("l7_incremental_sync_stream", "L7", _L3_ORACLE,
          "The reference's incremental sync loop as Structured Streaming: "
          "file-source deltas in 3 micro-batches -> foreachBatch LWW merge "
          "into a snapshot-swap parquet store -> converged state. "
          "Hash-matches the BATCH l3 oracle because LWW is associative "
          "across micro-batches - the streaming/batch equivalence the "
          "survey demands, proven by the driver's own gate.")
def l7_incremental_sync_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    from cassandra_elasticsearch_sync_spark.parity import fmt_ts

    snap = l7_run_incremental_sync(spark, sf_dir)
    return snap.select("key", "side", "price", fmt_ts("version").alias("version_s"))


def sliding_counts_stream(events: DataFrame) -> DataFrame:
    """I3: watermarked sliding-window counts (1h window, 15min slide)."""
    return (
        events.withWatermark("ts", "1 hour")
        .groupBy(F.window(F.date_trunc("second", "ts"), "1 hour", "15 minutes"))
        .agg(F.count("*").alias("n"))
        .select(
            F.date_format("window.start", "yyyy-MM-dd HH:mm:ss").alias("window_start"),
            "n",
        )
    )


# ---------------------------------------------------------------------------
# I10+D1: incremental aggregate maintenance (materialized-view upkeep)
# ---------------------------------------------------------------------------

@register("i10_incremental_agg_maintenance", "I10+D1", """
SELECT event_type,
       COUNT(*) AS n_events,
       CAST(CAST(SUM(CAST(value AS DECIMAL(38,10))) AS DECIMAL(38,6))
            AS DOUBLE) AS total_value,
       ROUND(CAST(CAST(SUM(CAST(value AS DECIMAL(38,10))) AS DECIMAL(38,6))
                  AS DOUBLE) / COUNT(*), 6) AS avg_value
FROM events
GROUP BY event_type
""", "Incremental materialized-view maintenance: a per-event-type "
     "aggregate (count / exact-decimal sum / derived avg) kept fresh "
     "under micro-batch appends - the 'ES-side facet counts stay "
     "current as Cassandra writes arrive' workload. Each batch "
     "contributes a PARTIAL aggregate (count + decimal sum are "
     "mergeable by addition, so the state is algebraic, never a "
     "re-scan); the merge re-aggregates state UNION partial into a "
     "snapshot-swapped store, and the derived avg is computed only "
     "at read time (avg is not mergeable; its factors are). The "
     "converged view hash-matches the batch GROUP BY oracle. State "
     "is O(groups); per-batch cost is O(batch) - at 100 TB/day this "
     "is the only affordable way to keep the aggregate current.")
def i10_incremental_agg_maintenance(spark: SparkSession, sf_dir: str) -> DataFrame:
    staged = stage_events_stream(spark, sf_dir, n_chunks=4)
    checkpoint = tempfile.mkdtemp(prefix="ces_i10_ckpt_")
    store_root = tempfile.mkdtemp(prefix="ces_i10_state_")
    version = {"n": 0}

    def merge(batch_df: DataFrame, _id: int) -> None:
        partial = batch_df.groupBy("event_type").agg(
            F.count("*").alias("n_events"),
            F.sum(F.col("value").cast("decimal(38,10)")).alias("sum_value"),
        )
        if version["n"] > 0:
            prev = spark.read.parquet(os.path.join(store_root, f"v{version['n']}"))
            partial = (
                prev.unionByName(partial)
                .groupBy("event_type")
                .agg(
                    F.sum("n_events").cast("bigint").alias("n_events"),
                    F.sum("sum_value").cast("decimal(38,10)").alias("sum_value"),
                )
            )
        version["n"] += 1
        partial.write.mode("overwrite").parquet(
            os.path.join(store_root, f"v{version['n']}")
        )

    q = (
        read_events_stream(spark, staged)
        .writeStream.foreachBatch(merge)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )
    await_bounded(q, 300)

    state = spark.read.parquet(os.path.join(store_root, f"v{version['n']}"))
    total = F.col("sum_value").cast("decimal(38,6)").cast("double")
    out = state.select(
        "event_type",
        "n_events",
        total.alias("total_value"),
        F.round(total / F.col("n_events"), 6).alias("avg_value"),
    ).localCheckpoint(eager=True)
    for p in (staged, checkpoint, store_root):
        shutil.rmtree(p, ignore_errors=True)
    return out


@register("i5_streaming_dedup", "I5", """
SELECT event_type, COUNT(*) AS n_events,
       CAST(CAST(SUM(CAST(value AS DECIMAL(38,10))) AS DECIMAL(38,6))
            AS DOUBLE) AS total_value
FROM events
GROUP BY event_type
""", "Streaming exactly-once dedup under at-least-once delivery: the "
     "staged feed RE-DELIVERS the two oldest chunks (copies appended "
     "after the tail, like a source retry after an ack loss), and the "
     "stream drops re-deliveries with dropDuplicates on the event "
     "key before an append-mode parquet sink. The converged store "
     "hash-matches the batch aggregate over the original table - "
     "proof no duplicate survived and no original was lost. State is "
     "the seen-key set, hash-partitioned across the cluster (the "
     "production form bounds it with a watermark on the key's event "
     "time - I1/I7 cover watermark semantics; the oracle gate here "
     "needs every key retained).")
def i5_streaming_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    import glob

    staged = stage_events_stream(spark, sf_dir, n_chunks=4)
    for f in sorted(glob.glob(os.path.join(staged, "*.parquet")))[:2]:
        shutil.copy(f, f.replace(".parquet", "-redelivered.parquet"))
    checkpoint = tempfile.mkdtemp(prefix="ces_i5_ckpt_")
    outdir = tempfile.mkdtemp(prefix="ces_i5_out_")
    q = (
        read_events_stream(spark, staged)
        .dropDuplicates(["event_id"])
        .writeStream.format("parquet")
        .option("path", outdir)
        .option("checkpointLocation", checkpoint)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    await_bounded(q, 300)
    deduped = spark.read.parquet(outdir)
    out = (
        deduped.groupBy("event_type")
        .agg(
            F.count("*").alias("n_events"),
            F.sum(F.col("value").cast("decimal(38,10)"))
            .cast("decimal(38,6)").cast("double").alias("total_value"),
        )
        .localCheckpoint(eager=True)
    )
    for p in (staged, checkpoint, outdir):
        shutil.rmtree(p, ignore_errors=True)
    return out


@register("i5b_dedup_within_watermark", "I5+I1", """
SELECT event_type, COUNT(*) AS n_events,
       CAST(CAST(SUM(CAST(value AS DECIMAL(38,10))) AS DECIMAL(38,6))
            AS DOUBLE) AS total_value
FROM events
GROUP BY event_type
""", "Streaming dedup with BOUNDED state: dropDuplicatesWithinWatermark "
     "evicts a seen-key entry once the watermark passes its event time "
     "+ delay, so state is rate x delay instead of all-keys-ever - the "
     "only dedup that survives an unbounded 100 TB/day stream (plain "
     "dropDuplicates, i5, grows state forever). The staged feed "
     "re-delivers the two oldest chunks after the tail; each "
     "re-delivered record is dropped on EITHER path - still in state "
     "(within delay) or older than the watermark (late-data drop) - so "
     "the converged store hash-matches the batch aggregate exactly "
     "like i5. The eviction-after-delay re-emission that distinguishes "
     "this operator is pinned in tests/test_streaming.py.")
def i5b_dedup_within_watermark(spark: SparkSession, sf_dir: str) -> DataFrame:
    import glob

    staged = stage_events_stream(spark, sf_dir, n_chunks=4)
    for f in sorted(glob.glob(os.path.join(staged, "*.parquet")))[:2]:
        shutil.copy(f, f.replace(".parquet", "-redelivered.parquet"))
    checkpoint = tempfile.mkdtemp(prefix="ces_i5b_ckpt_")
    outdir = tempfile.mkdtemp(prefix="ces_i5b_out_")
    q = (
        dedup_stream_within_watermark(read_events_stream(spark, staged))
        .writeStream.format("parquet")
        .option("path", outdir)
        .option("checkpointLocation", checkpoint)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    await_bounded(q, 300)
    deduped = spark.read.parquet(outdir)
    out = (
        deduped.groupBy("event_type")
        .agg(
            F.count("*").alias("n_events"),
            F.sum(F.col("value").cast("decimal(38,10)"))
            .cast("decimal(38,6)").cast("double").alias("total_value"),
        )
        .localCheckpoint(eager=True)
    )
    for p in (staged, checkpoint, outdir):
        shutil.rmtree(p, ignore_errors=True)
    return out


# ---------------------------------------------------------------------------
# I8 / I9: stream-static and stream-stream joins as oracle-backed runs
# ---------------------------------------------------------------------------

_I8_WEIGHTS = [
    ("click", 1.0), ("purchase", 5.0), ("error", -1.0),
    ("signup", 3.0), ("view", 0.5),
]


@register("i8_stream_static_join", "I8", """
WITH w AS (
  SELECT * FROM (VALUES
    ('click', 1.0), ('purchase', 5.0), ('error', -1.0),
    ('signup', 3.0), ('view', 0.5)
  ) AS t(event_type, weight)
)
SELECT e.event_type,
       CAST(w.weight AS DOUBLE) AS weight,
       COUNT(*) AS n_events,
       CAST(CAST(SUM(CAST(e.value AS DECIMAL(38,10))) AS DECIMAL(38,6))
            AS DOUBLE) AS total_value
FROM events e JOIN w ON e.event_type = w.event_type
GROUP BY 1, 2
""", "Stream-static join, really run as a stream: the events feed "
     "(time-ordered micro-batches) is enriched against a BROADCAST "
     "static dimension - no shuffle, no state, the dimension rides to "
     "every executor once per batch, which is exactly how a 100 TB/day "
     "stream joins a reference table. The enriched append sink is then "
     "aggregated per (event_type, weight) and hash-matches the batch "
     "join oracle - proof no row was lost or duplicated across "
     "micro-batches and every row found its dimension match.")
def i8_stream_static_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    staged = stage_events_stream(spark, sf_dir, n_chunks=4)
    checkpoint = tempfile.mkdtemp(prefix="ces_i8_ckpt_")
    outdir = tempfile.mkdtemp(prefix="ces_i8_out_")
    try:
        weights = local_relation(
            spark, _I8_WEIGHTS, "event_type string, weight double"
        )
        q = (
            stream_static_join(read_events_stream(spark, staged), weights)
            .select("event_id", "event_type", "weight", "value")
            .writeStream.format("parquet")
            .option("path", outdir)
            .option("checkpointLocation", checkpoint)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        await_bounded(q, 300)
        enriched = spark.read.parquet(outdir)
        return (
            enriched.groupBy("event_type", "weight")
            .agg(
                F.count("*").alias("n_events"),
                F.sum(F.col("value").cast("decimal(38,10)"))
                .cast("decimal(38,6)").cast("double").alias("total_value"),
            )
            .localCheckpoint(eager=True)
        )
    finally:
        for p in (staged, checkpoint, outdir):
            shutil.rmtree(p, ignore_errors=True)


@register("i9_stream_stream_join", "I9", """
SELECT c.user_id,
       c.event_id AS click_id,
       e.event_id AS error_id
FROM events c JOIN events e
  ON c.event_type = 'click' AND e.event_type = 'error'
 AND e.user_id = c.user_id
 AND e.ts >= c.ts AND e.ts <= c.ts + INTERVAL 10 MINUTE
""", "Stream-stream interval join, really run as a stream: clicks "
     "join errors of the same user within 10 minutes, BOTH sides "
     "watermarked at 30 minutes so the state store provably evicts "
     "(the range condition bounds each side's buffer to watermark + "
     "interval - the only shape that survives unbounded input). The "
     "30 min watermark exceeds the 10 min join window, so no "
     "cross-micro-batch match is dropped, and the append sink "
     "hash-matches the batch self-join oracle exactly.")
def i9_stream_stream_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    staged = stage_events_stream(spark, sf_dir, n_chunks=4)
    checkpoint = tempfile.mkdtemp(prefix="ces_i9_ckpt_")
    outdir = tempfile.mkdtemp(prefix="ces_i9_out_")
    try:
        q = (
            stream_stream_join(read_events_stream(spark, staged))
            .writeStream.format("parquet")
            .option("path", outdir)
            .option("checkpointLocation", checkpoint)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        await_bounded(q, 300)
        return spark.read.parquet(outdir).select(
            "user_id", "click_id", "error_id"
        ).localCheckpoint(eager=True)
    finally:
        for p in (staged, checkpoint, outdir):
            shutil.rmtree(p, ignore_errors=True)


# ---------------------------------------------------------------------------
# I9b: stream-stream LEFT OUTER join - the null-emission-on-watermark case
# ---------------------------------------------------------------------------

_SENTINEL_USER = -1


def stream_stream_left_join(events: DataFrame) -> DataFrame:
    """I9b: every click, joined to the same-user error within 10
    minutes if one exists, else emitted with NULL error_id - but only
    once the watermark PROVES no match can still arrive. The outer
    side of a stream-stream join cannot emit eagerly (a match may
    still come); Spark buffers the unmatched row until the watermark
    passes its join window and only then releases the null-extended
    result. Same state bound as the inner join."""
    clicks = (
        events.filter(F.col("event_type") == "click")
        .select("user_id", F.col("ts").alias("c_ts"),
                F.col("event_id").alias("click_id"))
        .withWatermark("c_ts", "30 minutes")
    )
    errors = (
        events.filter(F.col("event_type") == "error")
        .select(F.col("user_id").alias("e_user"), F.col("ts").alias("e_ts"),
                F.col("event_id").alias("error_id"))
        .withWatermark("e_ts", "30 minutes")
    )
    return clicks.join(
        errors,
        F.expr(
            "user_id = e_user AND e_ts >= c_ts AND e_ts <= c_ts + INTERVAL 10 MINUTES"
        ),
        "left_outer",
    ).select("user_id", "click_id", "error_id")


def _append_watermark_flush_chunks(spark: SparkSession, staged: str,
                                   sf_dir: str, n: int = 2) -> None:
    """Append sentinel chunks far past the corpus max ts so the final
    watermark provably passes every real row's join window - without
    them the LAST batch's unmatched outer rows stay buffered forever
    (the classic outer-join 'missing tail' pitfall: the watermark only
    advances when newer data arrives). Sentinels use a reserved
    user_id and are filtered from the output."""
    from cassandra_elasticsearch_sync_spark.catalog import load_table

    max_ts = load_table(spark, sf_dir, "events").agg(
        F.max("ts").alias("m")
    ).collect()[0]["m"]
    for i in range(n):
        (
            local_relation(
                spark,
                [
                    (-(10 + i * 2), _SENTINEL_USER, "click", 0.0, "{}"),
                    (-(11 + i * 2), _SENTINEL_USER, "error", 0.0, "{}"),
                ],
                "event_id bigint, user_id bigint, event_type string, "
                "value double, props string",
            )
            .withColumn(
                "ts",
                F.lit(max_ts) + F.expr(f"INTERVAL {100 + i} DAYS"),
            )
            .select("event_id", "ts", "user_id", "event_type", "value", "props")
            .coalesce(1)
            .write.mode("append").parquet(staged)
        )


@register("i9b_stream_stream_left_join", "I9", """
SELECT c.user_id,
       c.event_id AS click_id,
       e.event_id AS error_id
FROM (SELECT * FROM events WHERE event_type = 'click') c
LEFT JOIN (SELECT * FROM events WHERE event_type = 'error') e
  ON e.user_id = c.user_id
 AND e.ts >= c.ts AND e.ts <= c.ts + INTERVAL 10 MINUTE
""", "Stream-stream LEFT OUTER interval join, really run as a stream: "
     "unmatched clicks emit with NULL error_id only after the "
     "watermark proves no matching error can still arrive - the "
     "deferred-null semantics that distinguish a streaming outer join "
     "from a batch one. The staged feed appends sentinel flush "
     "chunks past every real row's join window (filtered from the "
     "output), because an outer join's tail rows otherwise wait "
     "forever for a watermark that no further data advances - the "
     "operational step every production outer-join pipeline needs at "
     "stream end. The append sink hash-matches the batch LEFT JOIN "
     "oracle exactly: inner matches, null-extensions, and nothing "
     "dropped or duplicated.")
def i9b_stream_stream_left_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    import shutil

    staged = stage_events_stream(spark, sf_dir, n_chunks=4)
    _append_watermark_flush_chunks(spark, staged, sf_dir)
    checkpoint = tempfile.mkdtemp(prefix="ces_i9b_ckpt_")
    outdir = tempfile.mkdtemp(prefix="ces_i9b_out_")
    try:
        q = (
            stream_stream_left_join(read_events_stream(spark, staged))
            .writeStream.format("parquet")
            .option("path", outdir)
            .option("checkpointLocation", checkpoint)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        await_bounded(q, 300)
        return (
            spark.read.parquet(outdir)
            .filter(F.col("user_id") != _SENTINEL_USER)
            .select("user_id", "click_id", "error_id")
            .localCheckpoint(eager=True)
        )
    finally:
        shutil.rmtree(staged, ignore_errors=True)
        shutil.rmtree(checkpoint, ignore_errors=True)
        shutil.rmtree(outdir, ignore_errors=True)


def stream_stream_full_outer_join(events: DataFrame) -> DataFrame:
    """I9c: the symmetric completion of i9/i9b - matched pairs, plus
    unmatched clicks (NULL error_id), plus unmatched errors (NULL
    click_id), each null-extension released only when the watermark
    proves no counterpart can still arrive. Both sides buffer; state
    for each is bounded by its watermark + the join window, so an
    unbounded input holds a bounded state store (the i9 eviction
    property test covers the shared mechanism)."""
    clicks = (
        events.filter(F.col("event_type") == "click")
        .select("user_id", F.col("ts").alias("c_ts"),
                F.col("event_id").alias("click_id"))
        .withWatermark("c_ts", "30 minutes")
    )
    errors = (
        events.filter(F.col("event_type") == "error")
        .select(F.col("user_id").alias("e_user"), F.col("ts").alias("e_ts"),
                F.col("event_id").alias("error_id"))
        .withWatermark("e_ts", "30 minutes")
    )
    return clicks.join(
        errors,
        F.expr(
            "user_id = e_user AND e_ts >= c_ts AND e_ts <= c_ts + INTERVAL 10 MINUTES"
        ),
        "full_outer",
    ).select(
        F.coalesce("user_id", "e_user").alias("user_id"),
        "click_id", "error_id",
    )


@register("i9c_stream_stream_full_outer", "I9", """
SELECT COALESCE(c.user_id, e.user_id) AS user_id,
       c.event_id AS click_id,
       e.event_id AS error_id
FROM (SELECT * FROM events WHERE event_type = 'click') c
FULL JOIN (SELECT * FROM events WHERE event_type = 'error') e
  ON e.user_id = c.user_id
 AND e.ts >= c.ts AND e.ts <= c.ts + INTERVAL 10 MINUTE
""", "Stream-stream FULL OUTER interval join, really run as a stream: "
     "completes the join family (i9 inner, i9b left) with BOTH sides "
     "emitting watermark-deferred null-extensions - unmatched clicks "
     "and unmatched errors each surface exactly once after the "
     "watermark passes their join window. Uses the same sentinel "
     "flush chunks as i9b so tail rows on both sides actually "
     "release at stream end. The append sink hash-matches the batch "
     "FULL JOIN oracle: matches, both null-extension families, "
     "nothing dropped or duplicated.")
def i9c_stream_stream_full_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    import shutil

    staged = stage_events_stream(spark, sf_dir, n_chunks=4)
    _append_watermark_flush_chunks(spark, staged, sf_dir)
    checkpoint = tempfile.mkdtemp(prefix="ces_i9c_ckpt_")
    outdir = tempfile.mkdtemp(prefix="ces_i9c_out_")
    try:
        q = (
            stream_stream_full_outer_join(read_events_stream(spark, staged))
            .writeStream.format("parquet")
            .option("path", outdir)
            .option("checkpointLocation", checkpoint)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        await_bounded(q, 300)
        return (
            spark.read.parquet(outdir)
            .filter(F.col("user_id") != _SENTINEL_USER)
            .select("user_id", "click_id", "error_id")
            .localCheckpoint(eager=True)
        )
    finally:
        shutil.rmtree(staged, ignore_errors=True)
        shutil.rmtree(checkpoint, ignore_errors=True)
        shutil.rmtree(outdir, ignore_errors=True)


def stream_stream_right_outer_join(events: DataFrame) -> DataFrame:
    """I9d: the mirror of i9b - every ERROR, joined to a preceding
    same-user click within the window if one exists, else emitted
    with NULL click_id once the watermark proves no click can still
    arrive. Completes the outer-join family (inner i9, left i9b,
    full i9c, right here); the buffered side flips, the state bound
    is identical."""
    clicks = (
        events.filter(F.col("event_type") == "click")
        .select("user_id", F.col("ts").alias("c_ts"),
                F.col("event_id").alias("click_id"))
        .withWatermark("c_ts", "30 minutes")
    )
    errors = (
        events.filter(F.col("event_type") == "error")
        .select(F.col("user_id").alias("e_user"), F.col("ts").alias("e_ts"),
                F.col("event_id").alias("error_id"))
        .withWatermark("e_ts", "30 minutes")
    )
    return clicks.join(
        errors,
        F.expr(
            "user_id = e_user AND e_ts >= c_ts AND e_ts <= c_ts + INTERVAL 10 MINUTES"
        ),
        "right_outer",
    ).select(
        F.coalesce("user_id", "e_user").alias("user_id"),
        "click_id", "error_id",
    )


@register("i9d_stream_stream_right_outer", "I9", """
SELECT COALESCE(c.user_id, e.user_id) AS user_id,
       c.event_id AS click_id,
       e.event_id AS error_id
FROM (SELECT * FROM events WHERE event_type = 'click') c
RIGHT JOIN (SELECT * FROM events WHERE event_type = 'error') e
  ON e.user_id = c.user_id
 AND e.ts >= c.ts AND e.ts <= c.ts + INTERVAL 10 MINUTE
""", "Stream-stream RIGHT OUTER interval join, really run as a "
     "stream - the last member of the join family (i9 inner, i9b "
     "left, i9c full): every error emits, null-extending click_id "
     "only after the watermark proves no preceding click can still "
     "arrive. Same sentinel flush discipline as i9b/i9c so tail "
     "rows actually release at stream end; the append sink "
     "hash-matches the batch RIGHT JOIN oracle exactly.")
def i9d_stream_stream_right_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    import shutil

    staged = stage_events_stream(spark, sf_dir, n_chunks=4)
    _append_watermark_flush_chunks(spark, staged, sf_dir)
    checkpoint = tempfile.mkdtemp(prefix="ces_i9d_ckpt_")
    outdir = tempfile.mkdtemp(prefix="ces_i9d_out_")
    try:
        q = (
            stream_stream_right_outer_join(read_events_stream(spark, staged))
            .writeStream.format("parquet")
            .option("path", outdir)
            .option("checkpointLocation", checkpoint)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        await_bounded(q, 300)
        return (
            spark.read.parquet(outdir)
            .filter(F.col("user_id") != _SENTINEL_USER)
            .select("user_id", "click_id", "error_id")
            .localCheckpoint(eager=True)
        )
    finally:
        shutil.rmtree(staged, ignore_errors=True)
        shutil.rmtree(checkpoint, ignore_errors=True)
        shutil.rmtree(outdir, ignore_errors=True)


@register("i11_exactly_once_acid_sink", "I10+A7", """
SELECT event_type,
       COUNT(*) AS n_events,
       CAST(CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DECIMAL(38,2))
            AS DOUBLE) AS total_value
FROM events
GROUP BY event_type
""", "Exactly-once streaming into the ACID store on top of "
     "at-least-once foreachBatch: every micro-batch merge is stamped "
     "with (txn_app_id, batch_id) - the Delta txnAppId/txnVersion "
     "idempotent-writer contract - and this query APPLIES EVERY "
     "BATCH TWICE on purpose (the redelivery a foreachBatch retry or "
     "driver restart produces). The merge is a counter-style "
     "increment (tgt + src), i.e. NOT content-idempotent: without "
     "the transaction ledger every replay would double-count, and "
     "the hash-match against the batch GROUP BY oracle would fail. "
     "The ledger rides the manifest (carried across maintenance "
     "commits), and the no-op check reads the same manifest the "
     "commit CASes against, so a racing duplicate loses the "
     "conditional put and re-checks - exactly-once EFFECTS with no "
     "coordinator. State is O(groups); per batch cost O(batch).")
def i11_exactly_once_acid_sink(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.types import StructType

    from cassandra_elasticsearch_sync_spark.sources.acid import AcidParquetTable

    staged = stage_events_stream(spark, sf_dir, n_chunks=4)
    checkpoint = tempfile.mkdtemp(prefix="ces_i11_ckpt_")
    store_root = tempfile.mkdtemp(prefix="ces_i11_acid_")
    try:
        t = AcidParquetTable(spark, store_root)
        schema = StructType.fromJson({
            "type": "struct", "fields": [
                {"name": "event_type", "type": "string", "nullable": True,
                 "metadata": {}},
                {"name": "n_events", "type": "long", "nullable": True,
                 "metadata": {}},
                {"name": "total_value", "type": "decimal(38,2)",
                 "nullable": True, "metadata": {}},
            ]})
        t.init(local_relation(spark, [], schema))
        inc = {
            "n_events": F.coalesce(F.col("tgt.n_events"), F.lit(0))
            + F.col("src.n_events"),
            "total_value": (F.coalesce(F.col("tgt.total_value"),
                                       F.lit(0).cast("decimal(38,2)"))
                            + F.col("src.total_value"))
            .cast("decimal(38,2)"),
        }

        def apply_batch(batch_df: DataFrame, batch_id: int) -> None:
            partial = batch_df.groupBy("event_type").agg(
                F.count("*").alias("n_events"),
                F.sum(F.col("value").cast("decimal(18,2)"))
                .cast("decimal(38,2)").alias("total_value"),
            )
            # at-least-once delivery, simulated deliberately: the same
            # logical batch arrives twice; the txn ledger must make the
            # second application a no-op
            for _ in range(2):
                t.merge_into(partial, ["event_type"], assignments=inc,
                             assume_unique_keys=True,
                             txn_app_id="i11_loader",
                             txn_version=int(batch_id) + 1)

        q = (
            read_events_stream(spark, staged)
            .writeStream.foreachBatch(apply_batch)
            .option("checkpointLocation", checkpoint)
            .trigger(availableNow=True)
            .start()
        )
        await_bounded(q, 300)
        # store state rides decimals (cent-exact increments); the
        # RESULT casts to double per the parity.py discipline - the
        # driver canonicalizes through pandas, where object-Decimal
        # cells hash-diverge from DuckDB's float64
        return (t.read()
                .select("event_type", "n_events",
                        F.col("total_value").cast("double")
                        .alias("total_value"))
                .localCheckpoint(eager=True))
    finally:
        shutil.rmtree(checkpoint, ignore_errors=True)
        shutil.rmtree(store_root, ignore_errors=True)
        shutil.rmtree(staged, ignore_errors=True)


def _hll_registers(df: DataFrame, key: str) -> DataFrame:
    """(bucket, m) HLL registers of df[key] under the portable hash."""
    from cassandra_elasticsearch_sync_spark.pipeline.hashing import (
        portable_hash60,
    )
    from cassandra_elasticsearch_sync_spark.pipeline.sketches import (
        HLL_M,
        _rho_col,
    )

    hv = portable_hash60(F.col(key).cast("string"))
    v = F.expr(
        f"CAST(CONV(SUBSTR(MD5(CAST({key} AS STRING)), 1, 15), 16, 10)"
        f" AS BIGINT) DIV {HLL_M}")
    return (df.select((hv % HLL_M).alias("bucket"),
                      _rho_col(v).alias("rho"))
            .groupBy("bucket").agg(F.max("rho").alias("m")))


@register("i12_streaming_hll_distinct", "I10+D4", """
WITH h AS (
  SELECT CAST(('0x' || SUBSTR(MD5(CAST(user_id AS VARCHAR)), 1, 15))
              AS BIGINT) AS hv
  FROM events
),
reg AS (
  SELECT hv % 256 AS bucket,
         MAX(CASE WHEN (hv // 256) = 0 THEN 53
""" + "\n".join(
    f"             WHEN ((hv // 256) >> {k}) & 1 = 1 THEN {k + 1}"
    for k in range(52)
) + """
             END) AS m
  FROM h GROUP BY 1
),
s AS (
  SELECT COUNT(*) AS nz,
         SUM(CAST(1 AS BIGINT) << (53 - m)) AS ssum
  FROM reg
),
est AS (
  SELECT nz, 256 - nz AS v,
         CAST(4.2399330249068963e+20 AS DOUBLE)
           / CAST(ssum + (256 - nz) * (CAST(1 AS BIGINT) << 53)
                  AS DOUBLE) AS e_raw
  FROM s
),
t AS (SELECT COUNT(DISTINCT user_id) AS exact_nd FROM events)
SELECT 256 AS n_registers,
       ROUND(CASE WHEN e_raw <= 2.5 * 256 AND v > 0
                  THEN 256 * LN(CAST(256 AS DOUBLE) / v)
                  ELSE e_raw END, 6) AS hll_estimate,
       exact_nd
FROM est CROSS JOIN t
""", "STREAMING distinct-count maintenance: the HLL registers are "
     "kept current under micro-batch appends - each batch "
     "contributes partial registers and foreachBatch merges them "
     "into the store by register-wise MAX (the sketch's merge "
     "operator), so state is a CONSTANT 256 rows no matter how many "
     "events stream past, and the day's distinct-user count is "
     "readable at any instant without a distinct-shuffle. The "
     "converged registers hash-match the BATCH HLL oracle exactly - "
     "the merge-property proof (tests/test_sketches.py) made "
     "operational. At 100 TB/day this is the only affordable "
     "always-on distinct counter; the exact countDistinct rides "
     "along to expose the realized error.")
def i12_streaming_hll_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    from cassandra_elasticsearch_sync_spark.pipeline.sketches import (
        HLL_M,
        HLL_NUM,
    )

    staged = stage_events_stream(spark, sf_dir, n_chunks=4)
    checkpoint = tempfile.mkdtemp(prefix="ces_i12_ckpt_")
    store_root = tempfile.mkdtemp(prefix="ces_i12_state_")
    version = {"n": 0}

    def merge(batch_df: DataFrame, _id: int) -> None:
        partial = _hll_registers(batch_df, "user_id")
        if version["n"] > 0:
            prev = spark.read.parquet(
                os.path.join(store_root, f"v{version['n']}"))
            partial = (prev.unionByName(partial)
                       .groupBy("bucket").agg(F.max("m").alias("m")))
        version["n"] += 1
        partial.write.mode("overwrite").parquet(
            os.path.join(store_root, f"v{version['n']}"))

    q = (
        read_events_stream(spark, staged)
        .writeStream.foreachBatch(merge)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )
    await_bounded(q, 300)

    reg = spark.read.parquet(os.path.join(store_root, f"v{version['n']}"))
    s = reg.agg(
        F.count("*").alias("nz"),
        F.sum(F.expr("shiftleft(CAST(1 AS BIGINT), 53 - m)")).alias("ssum"),
    )
    v = F.lit(HLL_M) - F.col("nz")
    e_raw = (F.lit(HLL_NUM)
             / (F.col("ssum") + v * F.shiftleft(F.lit(1).cast("long"), 53))
             .cast("double"))
    est = F.when((e_raw <= 2.5 * HLL_M) & (v > 0),
                 HLL_M * F.log(F.lit(float(HLL_M)) / v)).otherwise(e_raw)
    t = load_table(spark, sf_dir, "events").agg(
        F.countDistinct("user_id").alias("exact_nd"))
    out = (
        s.crossJoin(F.broadcast(t))
        .select(F.lit(HLL_M).alias("n_registers"),
                F.round(est, 6).alias("hll_estimate"),
                "exact_nd")
        .localCheckpoint(eager=True)
    )
    for p in (staged, checkpoint, store_root):
        shutil.rmtree(p, ignore_errors=True)
    return out
