"""Store sources/sinks (SURVEY.md 2.A rows A1-A8).

The two real stores behind the reference are Cassandra (partition-
keyed table) and Elasticsearch (JSON document index). In production
this module is the single place the connector formats are named:

    cassandra: spark.read.format("org.apache.spark.sql.cassandra")
                    .options(table=..., keyspace=...)   # token-range
                                                        # parallel scan
    es:        spark.read.format("es").option("es.resource", index)
                                                        # scan-and-scroll
                                                        # + pushdown

Neither connector ships in this container, so both sources resolve to
the parquet stand-in (same schema contract); every operator upstream
is agnostic. The *semantic* projections each store needs - the ES
_id/_version/_source document shape, JSON schema-on-read ingest - are
real and oracle-verified below.
"""

from __future__ import annotations

import os
import shutil
import tempfile

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from cassandra_elasticsearch_sync_spark.catalog import load_table
from cassandra_elasticsearch_sync_spark.parity import fmt_ts
from cassandra_elasticsearch_sync_spark.registry import register


def cassandra_table(spark: SparkSession, sf_dir: str, table: str) -> DataFrame:
    """A2: Cassandra-table source (parquet stand-in; see module doc)."""
    return load_table(spark, sf_dir, table)


def es_index(spark: SparkSession, sf_dir: str, index: str) -> DataFrame:
    """A3: ES-index source (parquet stand-in; see module doc)."""
    return load_table(spark, sf_dir, index)


@register("a3_es_doc_projection", "A3", """
SELECT CAST(o_orderkey AS VARCHAR) AS _id,
       CAST(EPOCH(DATE_TRUNC('second', o_orderdate)) AS BIGINT) AS _version,
       o_orderstatus AS status,
       o_totalprice AS totalprice
FROM orders
""", "The ES document shape: _id string, _version from the record "
     "version, typed source fields (SURVEY.md 1.1 row mapping)")
def a3_es_doc_projection(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    return o.select(
        F.col("o_orderkey").cast("string").alias("_id"),
        F.unix_timestamp(F.date_trunc("second", "o_orderdate")).alias("_version"),
        F.col("o_orderstatus").alias("status"),
        F.col("o_totalprice").alias("totalprice"),
    )


@register("a4_json_ingest", "A4", """
SELECT lang, COUNT(*) AS n, CAST(SUM(n_chars) AS BIGINT) AS total_chars
FROM documents
GROUP BY lang
""", "Schema-on-read JSON ingest: documents round-trip through JSON "
     "lines (the ES _source wire shape) with an explicit read schema, "
     "then aggregate; the oracle reads the original table - equality "
     "proves the ingest is lossless")
def a4_json_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    scratch = os.path.join(
        tempfile.gettempdir(), f"ces_json_ingest_{os.path.basename(sf_dir.rstrip('/'))}"
    )
    d.write.mode("overwrite").json(scratch)
    ingested = spark.read.schema(
        "doc_id bigint, text string, lang string, source string, n_chars bigint"
    ).json(scratch)
    return ingested.groupBy("lang").agg(
        F.count("*").alias("n"),
        F.sum("n_chars").cast("bigint").alias("total_chars"),
    )


@register("a4_csv_ingest", "A4", """
SELECT c_mktsegment, COUNT(*) AS n,
       CAST(CAST(SUM(CAST(c_acctbal AS DECIMAL(38,10))) AS DECIMAL(38,2)) AS DOUBLE) AS total_bal
FROM customer
GROUP BY c_mktsegment
""", "CSV ingest with explicit schema (same lossless-round-trip proof "
     "as a4_json_ingest; doubles survive via round-trip-exact repr)")
def a4_csv_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load_table(spark, sf_dir, "customer")
    scratch = os.path.join(
        tempfile.gettempdir(), f"ces_csv_ingest_{os.path.basename(sf_dir.rstrip('/'))}"
    )
    c.write.mode("overwrite").option("header", True).csv(scratch)
    ingested = spark.read.schema(
        "c_custkey bigint, c_name string, c_nationkey int, c_acctbal double, "
        "c_mktsegment string"
    ).option("header", True).csv(scratch)
    return ingested.groupBy("c_mktsegment").agg(
        F.count("*").alias("n"),
        F.sum(F.col("c_acctbal").cast("decimal(38,10)"))
         .cast("decimal(38,2)").cast("double").alias("total_bal"),
    )


def es_bulk_lines(df, id_col: str, index: str):
    """A7 write-side for the ES store: render a DataFrame as the
    _bulk-API line stream (action line + source line per record).
    In production these lines feed `elasticsearch-hadoop`'s bulk
    writer or a foreachBatch HTTP sink; here the rendering itself is
    the verified part (tests parse the lines back).

    One output row per input row, two JSON documents per row - kept as
    separate columns so the sink can interleave them without another
    shuffle."""
    from pyspark.sql import functions as F

    action = F.to_json(
        F.struct(
            F.struct(
                F.lit(index).alias("_index"),
                F.col(id_col).cast("string").alias("_id"),
            ).alias("index")
        )
    )
    source = F.to_json(F.struct(*[F.col(c) for c in df.columns]))
    return df.select(
        F.col(id_col).cast("string").alias("_id"),
        action.alias("action_line"),
        source.alias("source_line"),
    )


@register("a4b_schema_evolution", "A4", """
SELECT o_orderpriority,
       COUNT(*) AS n,
       COUNT(o_comment_len) AS n_with_new_col,
       CAST(COALESCE(SUM(o_comment_len), 0) AS BIGINT) AS sum_new_col
FROM (
  SELECT o_orderpriority, CAST(NULL AS BIGINT) AS o_comment_len
  FROM orders WHERE o_orderkey % 2 = 0
  UNION ALL
  SELECT o_orderpriority, o_orderkey % 97 AS o_comment_len
  FROM orders WHERE o_orderkey % 2 = 1
)
GROUP BY o_orderpriority
""", "Schema evolution on read: a v1 snapshot written WITHOUT a "
     "column and a v2 snapshot WITH it are read back as ONE dataset "
     "via mergeSchema - the additive-column migration every "
     "long-lived store goes through (Cassandra ALTER TABLE ADD / ES "
     "dynamic mapping). v1 rows surface the new column as NULL; the "
     "aggregate proves null-vs-present accounting is exact. The "
     "oracle reconstructs the same union from the base table, so "
     "equality shows the merged read is lossless. Scale note: "
     "mergeSchema pays a per-file footer read at planning time - on "
     "a 100 TB lake pin the merged schema in a catalog/metastore and "
     "read with an explicit schema instead (same result, no footer "
     "sweep); the read path here proves the semantics.")
def a4b_schema_evolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    # Private scratch dir per invocation (concurrent sessions on the
    # same sf must not race on a shared path), torn down in finally -
    # the result is checkpointed eagerly so deletion is safe.
    scratch = tempfile.mkdtemp(prefix="ces_schema_evo_")
    try:
        v1 = o.filter(F.col("o_orderkey") % 2 == 0).select("o_orderkey", "o_orderpriority")
        v2 = o.filter(F.col("o_orderkey") % 2 == 1).select(
            "o_orderkey", "o_orderpriority",
            (F.col("o_orderkey") % 97).alias("o_comment_len"),
        )
        v1.write.mode("overwrite").parquet(f"{scratch}/v=1")
        v2.write.mode("overwrite").parquet(f"{scratch}/v=2")
        merged = spark.read.option("mergeSchema", True).parquet(
            f"{scratch}/v=1", f"{scratch}/v=2"
        )
        return merged.groupBy("o_orderpriority").agg(
            F.count("*").alias("n"),
            F.count("o_comment_len").alias("n_with_new_col"),
            F.coalesce(F.sum("o_comment_len"), F.lit(0)).cast("bigint").alias("sum_new_col"),
        ).localCheckpoint(eager=True)
    finally:
        shutil.rmtree(scratch, ignore_errors=True)


@register("a2b_token_range_scan", "A2", """
WITH t AS (
  SELECT o_orderkey,
         CAST(('0x' || SUBSTR(MD5(CAST(o_orderkey AS VARCHAR)), 1, 15))
              AS BIGINT) AS token
  FROM orders
)
SELECT CAST(token // 144115188075855872 AS INT) AS token_range,
       COUNT(*) AS n_rows,
       MIN(token) AS min_token,
       MAX(token) AS max_token
FROM t
GROUP BY 1
""", "Token-range parallel scan - the semantic core of the Cassandra "
     "source (A2): the partitioner hashes each partition key onto a "
     "token ring, the ring splits into contiguous ranges, and each "
     "executor scans one range independently (this is exactly how "
     "the spark-cassandra-connector parallelizes, one Spark "
     "partition per token range). Here the ring is the 60-bit "
     "portable-hash space split into 8 equal ranges (2^60/8 = "
     "144115188075855872); the per-range row counts prove the hash "
     "spreads keys uniformly - the property that makes token-range "
     "scans balance at 100 TB. No connector jar in this container; "
     "the partitioning semantics are what is verifiable, and are.")
def a2b_token_range_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    from cassandra_elasticsearch_sync_spark.pipeline.hashing import portable_hash60

    o = load_table(spark, sf_dir, "orders")
    token = portable_hash60(F.col("o_orderkey").cast("string"))
    return (
        o.select(token.alias("token"))
        .groupBy(
            F.expr("token div 144115188075855872").cast("int").alias("token_range")
        )
        .agg(
            F.count("*").alias("n_rows"),
            F.min("token").alias("min_token"),
            F.max("token").alias("max_token"),
        )
    )


@register("a2c_per_partition_limit", "A2", """
SELECT o_custkey, o_orderkey,
       STRFTIME(o_orderdate, '%Y-%m-%d') AS order_date,
       o_totalprice
FROM (
  SELECT o_custkey, o_orderkey, o_orderdate, o_totalprice,
         ROW_NUMBER() OVER (PARTITION BY o_custkey
                            ORDER BY o_orderdate DESC, o_orderkey) AS rn
  FROM orders
) WHERE rn <= 3
""", "Cassandra PER PARTITION LIMIT semantics: the table modeled as "
     "PRIMARY KEY ((o_custkey), o_orderdate DESC, o_orderkey) - "
     "partition key hashed to the token ring, rows ordered by the "
     "clustering key within each partition - and the query returns "
     "the newest 3 rows of EVERY partition, exactly what `SELECT ... "
     "PER PARTITION LIMIT 3` streams. In Spark this is a per-key "
     "window over the clustering order: each partition's rows are "
     "already co-located by the shuffle on the partition key, groups "
     "are customer-sized (bounded), and no global sort exists "
     "anywhere - the same locality Cassandra's SSTable layout gives "
     "the native scan.")
def a2c_per_partition_limit(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    o = load_table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy(
        F.col("o_orderdate").desc(), F.col("o_orderkey")
    )
    return (
        o.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 3)
        .select(
            "o_custkey", "o_orderkey",
            F.date_format("o_orderdate", "yyyy-MM-dd").alias("order_date"),
            "o_totalprice",
        )
    )


@register("a2d_clustering_range_scan", "A2", """
WITH t AS (
  SELECT o_custkey, o_orderkey, o_orderdate, o_totalprice,
         CAST(('0x' || SUBSTR(MD5(CAST(o_custkey AS VARCHAR)), 1, 15))
              AS BIGINT) AS token
  FROM orders
)
SELECT o_custkey,
       COUNT(*) AS n_orders,
       STRFTIME(MIN(o_orderdate), '%Y-%m-%d') AS first_date,
       STRFTIME(MAX(o_orderdate), '%Y-%m-%d') AS last_date,
       CAST(CAST(SUM(CAST(o_totalprice AS DECIMAL(38,10))) AS DECIMAL(38,2))
            AS DOUBLE) AS slice_revenue
FROM t
WHERE token // 144115188075855872 = 2
  AND o_orderdate >= TIMESTAMP '1995-01-01 00:00:00'
  AND o_orderdate <  TIMESTAMP '1997-01-01 00:00:00'
GROUP BY o_custkey
""", "Cassandra clustering-key range scan within ONE token range: the "
     "executor that owns ring slice #2 scans its partitions in token "
     "order and applies the clustering-key predicate (o_orderdate in "
     "[1995, 1997)) as a contiguous SSTable slice - `WHERE "
     "token(o_custkey) >= lo AND token(o_custkey) < hi AND "
     "o_orderdate >= X AND o_orderdate < Y` in CQL. Here the token "
     "filter is the same 60-bit portable hash the a2b ring split "
     "uses (cross-engine-exact MD5 math) and the clustering "
     "predicate pushes to the parquet scan the way the clustering "
     "slice prunes SSTable blocks. Per-partition aggregates prove "
     "the slice's content exactly.")
def a2d_clustering_range_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    from cassandra_elasticsearch_sync_spark.parity import dsum
    from cassandra_elasticsearch_sync_spark.pipeline.hashing import portable_hash60

    o = load_table(spark, sf_dir, "orders")
    token = portable_hash60(F.col("o_custkey").cast("string"))
    return (
        o.withColumn("token", token)
        .filter(
            (F.expr("token div 144115188075855872") == 2)
            & F.expr("o_orderdate >= TIMESTAMP_NTZ '1995-01-01 00:00:00'")
            & F.expr("o_orderdate < TIMESTAMP_NTZ '1997-01-01 00:00:00'")
        )
        .groupBy("o_custkey")
        .agg(
            F.count("*").alias("n_orders"),
            F.date_format(F.min("o_orderdate"), "yyyy-MM-dd").alias("first_date"),
            F.date_format(F.max("o_orderdate"), "yyyy-MM-dd").alias("last_date"),
            dsum("o_totalprice", 2).alias("slice_revenue"),
        )
    )


@register("a2e_ttl_expiry_scan", "A2", """
WITH w AS (
  SELECT o_orderkey, o_totalprice, o_orderdate AS writetime,
         (o_orderkey % 5 + 1) * 200 AS ttl_days
  FROM orders
),
now_t AS (SELECT MAX(writetime) AS now FROM w)
SELECT o_orderkey,
       STRFTIME(DATE_TRUNC('second', writetime), '%Y-%m-%d %H:%M:%S')
         AS writetime_s,
       ttl_days,
       (writetime + ttl_days * INTERVAL 1 DAY > now) AS live
FROM w, now_t
""", "Cassandra WRITETIME/TTL semantics: every cell carries its write "
     "timestamp, and a cell with a TTL disappears from reads once "
     "now exceeds writetime + ttl - expiry is evaluated AT READ TIME "
     "against immutable data, never by rewriting SSTables (the "
     "tombstone is implicit). Modeled deterministically: writetime = "
     "the version column, ttl = (key % 5 + 1) * 200 days, now = the "
     "corpus max writetime (a broadcast 1-row aggregate), and the "
     "output labels every row live/expired - the same read-time "
     "predicate a CQL `SELECT ... USING TTL` table evaluates, and "
     "the filter shape that pushes to any scan at 100 TB. "
     "Complements l5c (explicit tombstone gc) with the implicit-"
     "expiry half of Cassandra's deletion model.")
def a2e_ttl_expiry_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    w = o.select(
        "o_orderkey",
        F.col("o_orderdate").alias("writetime"),
        ((F.col("o_orderkey") % 5 + 1) * 200).alias("ttl_days"),
    )
    now = w.agg(F.max("writetime").alias("now"))
    return (
        w.crossJoin(F.broadcast(now))
        .select(
            "o_orderkey",
            fmt_ts("writetime").alias("writetime_s"),
            "ttl_days",
            (
                F.col("writetime")
                + F.col("ttl_days") * F.expr("INTERVAL 1 DAY")
                > F.col("now")
            ).alias("live"),
        )
    )


@register("a2f_lwt_conditional_batch", "A2+L4", """
WITH cur AS (
  SELECT o_orderkey AS key, o_totalprice AS price, o_orderdate AS version
  FROM orders WHERE o_orderdate < TIMESTAMP '2000-01-01 00:00:00'
),
prop AS (
  SELECT o_orderkey AS key,
         o_totalprice * 0.9 AS new_price,
         o_orderdate AS expected_version,
         CASE WHEN o_orderkey % 3 = 0
              THEN o_orderdate ELSE o_orderdate + INTERVAL 1 DAY END
           AS actual_expected
  FROM orders WHERE o_orderkey % 2 = 0
)
SELECT p.key,
       (c.key IS NOT NULL AND c.version = p.actual_expected) AS applied,
       CASE WHEN c.key IS NOT NULL AND c.version = p.actual_expected
            THEN p.new_price ELSE c.price END AS resulting_price
FROM prop p LEFT JOIN cur c ON p.key = c.key
""", "Cassandra lightweight-transaction (LWT) semantics: `UPDATE ... "
     "IF version = ?` applies a proposed write only when the "
     "precondition holds against the CURRENT row, and returns "
     "[applied] plus the winning row either way - Paxos-backed "
     "compare-and-set at the row level. Batch form: proposals "
     "left-join the current snapshot on the key, the condition "
     "evaluates per row (here a deterministic mix of matching and "
     "stale expected-versions), and the output is the per-proposal "
     "applied flag + resulting price - exactly the LWT response "
     "page. One equi-join, condition evaluated engine-side; at "
     "100 TB this is the bulk CAS reconciliation shape (the "
     "single-row Paxos round becomes a partition-local merge).")
def a2f_lwt_conditional_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    cur = o.filter(
        F.expr("o_orderdate < TIMESTAMP_NTZ '2000-01-01 00:00:00'")
    ).select(
        F.col("o_orderkey").alias("key"),
        F.col("o_totalprice").alias("price"),
        F.col("o_orderdate").alias("version"),
    )
    prop = o.filter(F.col("o_orderkey") % 2 == 0).select(
        F.col("o_orderkey").alias("key"),
        (F.col("o_totalprice") * 0.9).alias("new_price"),
        F.when(F.col("o_orderkey") % 3 == 0, F.col("o_orderdate"))
        .otherwise(F.col("o_orderdate") + F.expr("INTERVAL 1 DAY"))
        .alias("actual_expected"),
    )
    p, c = prop.alias("p"), cur.alias("c")
    ok = F.col("c.key").isNotNull() & (
        F.col("c.version") == F.col("p.actual_expected")
    )
    return p.join(c, F.col("p.key") == F.col("c.key"), "left").select(
        F.col("p.key").alias("key"),
        ok.alias("applied"),
        F.when(ok, F.col("p.new_price")).otherwise(F.col("c.price"))
        .alias("resulting_price"),
    )


@register("a2g_mv_maintenance_delta", "A2+L1", """
WITH base AS (
  SELECT o_orderkey AS key, o_orderpriority AS view_key,
         o_totalprice AS price
  FROM orders
),
upd AS (
  SELECT key,
         CASE WHEN key % 10 = 0 THEN '0-ROTATED' ELSE view_key END
           AS new_view_key,
         CASE WHEN key % 20 = 0 THEN price * 1.05 ELSE price END
           AS new_price
  FROM base WHERE key % 5 = 0
)
SELECT u.key, 'delete' AS op, b.view_key, b.price
FROM upd u JOIN base b ON u.key = b.key
WHERE u.new_view_key <> b.view_key
UNION ALL
SELECT u.key,
       CASE WHEN u.new_view_key <> b.view_key THEN 'insert'
            ELSE 'upsert' END AS op,
       u.new_view_key AS view_key,
       u.new_price AS price
FROM upd u JOIN base b ON u.key = b.key
""", "Cassandra materialized-view maintenance: the base table is "
     "keyed by order, the view repartitions the same rows by "
     "priority, and every base write must emit the view's delta - a "
     "tombstone for the OLD view row plus an insert of the new one "
     "when the view key changes, a plain upsert when it does not. "
     "Getting this wrong orphans view rows (the classic MV "
     "consistency bug); here the delta derivation is one equi-join "
     "of the update batch against the base snapshot, evaluated "
     "engine-side and oracle-verified. At 100 TB this is the "
     "fan-out-on-write shape: the delta shuffles once on the NEW "
     "view key to co-locate with the view partitions.")
def a2g_mv_maintenance_delta(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    base = o.select(
        F.col("o_orderkey").alias("key"),
        F.col("o_orderpriority").alias("view_key"),
        F.col("o_totalprice").alias("price"),
    )
    upd = base.filter(F.col("key") % 5 == 0).select(
        "key",
        F.when(F.col("key") % 10 == 0, F.lit("0-ROTATED"))
        .otherwise(F.col("view_key")).alias("new_view_key"),
        F.when(F.col("key") % 20 == 0, F.col("price") * 1.05)
        .otherwise(F.col("price")).alias("new_price"),
    )
    u, b = upd.alias("u"), base.alias("b")
    j = u.join(b, F.col("u.key") == F.col("b.key"))
    changed = F.col("u.new_view_key") != F.col("b.view_key")
    deletes = j.filter(changed).select(
        F.col("u.key").alias("key"),
        F.lit("delete").alias("op"),
        F.col("b.view_key").alias("view_key"),
        F.col("b.price").alias("price"),
    )
    writes = j.select(
        F.col("u.key").alias("key"),
        F.when(changed, "insert").otherwise("upsert").alias("op"),
        F.col("u.new_view_key").alias("view_key"),
        F.col("u.new_price").alias("price"),
    )
    return deletes.unionByName(writes)


@register("a2h_counter_shard_merge", "A2", """
WITH raw AS (
  SELECT event_type AS key,
         event_id % 3 AS replica,
         event_id AS seq,
         value AS delta
  FROM events
),
redelivered AS (
  SELECT * FROM raw
  UNION ALL
  SELECT * FROM raw WHERE seq % 7 = 0
),
shard_logs AS (
  SELECT key, replica, seq, MIN(delta) AS delta,
         COUNT(*) - 1 AS n_dups
  FROM redelivered GROUP BY key, replica, seq
),
shards AS (
  SELECT key, replica,
         CAST(CAST(SUM(CAST(delta AS DECIMAL(38,10))) AS DECIMAL(38,2))
              AS DOUBLE) AS shard_value,
         COUNT(*) AS n_increments,
         CAST(SUM(n_dups) AS BIGINT) AS n_redeliveries
  FROM shard_logs GROUP BY key, replica
)
SELECT key,
       CAST(CAST(SUM(CAST(shard_value AS DECIMAL(38,10)))
                 AS DECIMAL(38,2)) AS DOUBLE) AS counter_value,
       COUNT(*) AS n_shards,
       CAST(SUM(n_increments) AS BIGINT) AS n_increments,
       CAST(SUM(n_redeliveries) AS BIGINT) AS n_redeliveries
FROM shards GROUP BY key
""", "Cassandra counter-column semantics: a distributed counter is "
     "per-replica SHARDS, each replica owning a local partial sum; a "
     "read merges shards by summing (commutative, so any replica "
     "order converges). Counters are NOT idempotent - a redelivered "
     "increment inflates the shard - which is why post-2.1 Cassandra "
     "locks the shard and dedups by the local sequence before "
     "applying. Modeled end-to-end: events become (key, replica, "
     "seq, delta) increments, a deterministic 1-in-7 slice is "
     "redelivered, the shard log dedups on (key, replica, seq) "
     "FIRST (the idempotent-shard repair), then two grouped sums "
     "produce the merged counter plus a redelivery audit. Plan: two "
     "hash aggregates, both map-side partial - the per-shard "
     "pre-aggregation IS what bounds the final shuffle at 100 TB "
     "(replica count x key count rows, independent of increment "
     "volume). Sums are decimal-exact (parity.py) for cross-engine "
     "hashes.")
def a2h_counter_shard_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    from cassandra_elasticsearch_sync_spark.parity import dsum

    e = load_table(spark, sf_dir, "events")
    raw = e.select(
        F.col("event_type").alias("key"),
        (F.col("event_id") % 3).alias("replica"),
        F.col("event_id").alias("seq"),
        F.col("value").alias("delta"),
    )
    redelivered = raw.unionAll(raw.filter(F.col("seq") % 7 == 0))
    shard_logs = redelivered.groupBy("key", "replica", "seq").agg(
        F.min("delta").alias("delta"),
        (F.count("*") - 1).alias("n_dups"),
    )
    shards = shard_logs.groupBy("key", "replica").agg(
        dsum("delta", 2).alias("shard_value"),
        F.count("*").alias("n_increments"),
        F.sum("n_dups").cast("bigint").alias("n_redeliveries"),
    )
    return shards.groupBy("key").agg(
        dsum("shard_value", 2).alias("counter_value"),
        F.count("*").alias("n_shards"),
        F.sum("n_increments").cast("bigint").alias("n_increments"),
        F.sum("n_redeliveries").cast("bigint").alias("n_redeliveries"),
    )


@register("a2k_static_column_read", "A2", """
WITH last AS (
  SELECT o_custkey, o_orderpriority AS static_priority
  FROM (
    SELECT o_custkey, o_orderpriority,
           ROW_NUMBER() OVER (PARTITION BY o_custkey
                              ORDER BY o_orderdate DESC, o_orderkey DESC)
             AS rn
    FROM orders
  ) WHERE rn = 1
)
SELECT o.o_custkey AS ckey, o.o_orderkey AS okey, l.static_priority
FROM orders o JOIN last l ON o.o_custkey = l.o_custkey
""", "Cassandra STATIC column semantics: a static column is stored "
     "once per PARTITION, any write at any clustering key overwrites "
     "it partition-wide, and reads surface the shared value on EVERY "
     "row of the partition. Modeled on the orders table (PRIMARY KEY "
     "((o_custkey), o_orderdate, o_orderkey), consistent with "
     "a2c/a2d/the CQL compiler): each order's priority 'writes' the "
     "static cell at its clustering position, so the read-time value "
     "is the latest write's priority - reconstructed with ONE "
     "map-side-partial max(struct) hash aggregate per partition (the "
     "l3 LWW shape: hot partitions collapse before the shuffle, no "
     "per-key window) joined back on the partition key. The oracle's "
     "ROW_NUMBER formulation is exact because (o_orderdate, "
     "o_orderkey) is unique within a partition.")
def a2k_static_column_read(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    last = (
        o.groupBy("o_custkey")
        .agg(
            F.max(
                F.struct("o_orderdate", "o_orderkey", "o_orderpriority")
            ).alias("w")
        )
        .select("o_custkey", F.col("w.o_orderpriority").alias("static_priority"))
    )
    return o.join(last, "o_custkey").select(
        F.col("o_custkey").alias("ckey"),
        F.col("o_orderkey").alias("okey"),
        "static_priority",
    )


@register("a2l_read_repair_plan", "A2+L3", """
WITH base AS (
  SELECT o_orderkey AS key, o_totalprice AS price, o_orderdate AS version
  FROM orders
),
ra AS (SELECT 'A' AS replica, key, price, version FROM base
       WHERE key % 7 <> 0),
rb AS (SELECT 'B' AS replica, key,
              CASE WHEN key % 5 = 0 THEN price * 0.9 ELSE price END AS price,
              CASE WHEN key % 5 = 0 THEN version - INTERVAL 1 DAY
                   ELSE version END AS version
       FROM base),
rc AS (SELECT 'C' AS replica, key, price, version FROM base),
allr AS (SELECT * FROM ra UNION ALL SELECT * FROM rb
         UNION ALL SELECT * FROM rc),
merged AS (
  SELECT key, MAX(version) AS m_version,
         ARG_MAX(price, version) AS m_price
  FROM allr GROUP BY key
),
per_replica AS (
  SELECT r.replica, m.key, m.m_price, m.m_version, a.version AS have
  FROM merged m
  CROSS JOIN (SELECT DISTINCT replica FROM allr) r
  LEFT JOIN allr a ON a.replica = r.replica AND a.key = m.key
)
SELECT replica, key,
       CASE WHEN have IS NULL THEN 'write_missing'
            ELSE 'write_stale' END AS action,
       m_price AS price
FROM per_replica
WHERE have IS NULL OR have < m_version
""", "Cassandra read-repair: a CL=ALL read collects every replica's "
     "row, resolves the winner by timestamp (LWW - the l3 merge), "
     "and WRITES THE WINNER BACK to each replica that returned a "
     "stale or missing row. Modeled with three deterministic "
     "replicas (A drops every 7th key, B is one-day-stale on every "
     "5th), the plan is the exact repair-mutation set: "
     "(replica, key, action, winning value). Shape: tag+union the "
     "replica scans, ONE map-side-partial max(struct) per key for "
     "the winner, replica-expand via a 3-row broadcast cross join, "
     "anti/stale probe by equijoin - no windows, linear in total "
     "replica rows, which is how actual read-repair must scale "
     "(it runs on the read path).")
def a2l_read_repair_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    base = o.select(
        F.col("o_orderkey").alias("key"),
        F.col("o_totalprice").alias("price"),
        F.col("o_orderdate").alias("version"),
    )
    ra = base.filter(F.col("key") % 7 != 0).select(
        F.lit("A").alias("replica"), "key", "price", "version")
    stale = F.col("key") % 5 == 0
    rb = base.select(
        F.lit("B").alias("replica"), "key",
        F.when(stale, F.col("price") * 0.9).otherwise(F.col("price"))
        .alias("price"),
        F.when(stale, F.col("version") - F.expr("INTERVAL 1 DAY"))
        .otherwise(F.col("version")).alias("version"),
    )
    rc = base.select(F.lit("C").alias("replica"), "key", "price", "version")
    allr = ra.unionByName(rb).unionByName(rc)
    merged = allr.groupBy("key").agg(
        F.max(F.struct("version", "price")).alias("w")
    ).select(
        "key", F.col("w.version").alias("m_version"),
        F.col("w.price").alias("m_price"),
    )
    replicas = allr.select("replica").distinct()
    have = allr.select("replica", "key", F.col("version").alias("have"))
    per = (
        merged.crossJoin(F.broadcast(replicas))
        .join(have, ["replica", "key"], "left")
    )
    return per.filter(
        F.col("have").isNull() | (F.col("have") < F.col("m_version"))
    ).select(
        "replica", "key",
        F.when(F.col("have").isNull(), "write_missing")
        .otherwise("write_stale").alias("action"),
        F.col("m_price").alias("price"),
    )


@register("a4c_orc_ingest", "A4", """
SELECT p_brand, COUNT(*) AS n, MAX(p_retailprice) AS max_price,
       CAST(SUM(p_size) AS BIGINT) AS total_size
FROM part
GROUP BY p_brand
""", "ORC ingest (the third columnar wire format after parquet/JSON/"
     "CSV): part round-trips through ORC files and aggregates; the "
     "oracle reads the original parquet - equality proves the ORC "
     "reader/writer pair is lossless for the longs/strings/doubles "
     "used. ORC is Spark-native (no extra jars) and keeps the same "
     "scan virtues as parquet - column pruning and predicate pushdown "
     "- so the 100 TB read path is unchanged; the ingest is a "
     "per-partition rewrite, no shuffle.")
def a4c_orc_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    import shutil

    p = load_table(spark, sf_dir, "part")
    scratch = tempfile.mkdtemp(prefix="ces_orc_ingest_")
    try:
        p.write.mode("overwrite").orc(scratch)
        ingested = spark.read.schema(
            "p_partkey bigint, p_name string, p_brand string, "
            "p_type string, p_size int, p_retailprice double"
        ).orc(scratch)
        return ingested.groupBy("p_brand").agg(
            F.count("*").alias("n"),
            F.max("p_retailprice").alias("max_price"),
            F.sum("p_size").cast("bigint").alias("total_size"),
        ).localCheckpoint(eager=True)
    finally:
        shutil.rmtree(scratch, ignore_errors=True)


@register("a4d_xml_ingest", "A4", """
SELECT n_nationkey, COUNT(*) AS n,
       CAST(CAST(SUM(CAST(s_acctbal AS DECIMAL(38,10))) AS DECIMAL(38,2))
            AS DOUBLE) AS total_bal,
       MAX(s_name) AS max_name
FROM supplier JOIN nation ON s_nationkey = n_nationkey
GROUP BY n_nationkey
""", "XML ingest (Spark 4's built-in XML source - the fourth wire "
     "format after parquet/CSV/JSON/ORC): the supplier table round-"
     "trips through rowTag-delimited XML files (Spark writes them, "
     "then re-reads with an explicit schema - same lossless-round-"
     "trip proof as a4_csv_ingest; doubles survive via round-trip-"
     "exact repr) and the re-read joins back to nation. The scan "
     "parallelizes per file exactly like the other text formats.")
def a4d_xml_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    import shutil

    s = load_table(spark, sf_dir, "supplier")
    scratch = tempfile.mkdtemp(prefix="ces_xml_ingest_")
    try:
        (s.select("s_suppkey", "s_name", "s_nationkey", "s_acctbal")
         .write.mode("overwrite").format("xml").option("rowTag", "supplier")
         .save(scratch))
        ingested = (
            spark.read.schema(
                "s_suppkey bigint, s_name string, s_nationkey int, "
                "s_acctbal double")
            .format("xml").option("rowTag", "supplier").load(scratch)
        )
        n = load_table(spark, sf_dir, "nation")
        return (
            ingested.join(F.broadcast(n),
                          ingested.s_nationkey == n.n_nationkey)
            .groupBy("n_nationkey")
            .agg(F.count("*").alias("n"),
                 F.sum(F.col("s_acctbal").cast("decimal(38,10)"))
                  .cast("decimal(38,2)").cast("double").alias("total_bal"),
                 F.max("s_name").alias("max_name"))
            .localCheckpoint(eager=True)
        )
    finally:
        shutil.rmtree(scratch, ignore_errors=True)
