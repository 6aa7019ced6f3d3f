"""Projection / filter / type-bridge (SURVEY.md 2.B) and joins (2.C).

The type-bridge row (B4) is the sync engine's core projection: the
reference bridges CQL types <-> ES JSON types per record
(SURVEY.md 1.2); here it is a single declarative select that Catalyst
folds into the scan.

Timestamp discipline: events.ts is ns in parquet but micros in Spark,
so every cross-row timestamp comparison in a verified query happens at
second granularity (identical floors in both engines) and every
timestamp output is a formatted string. See parity.py.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from cassandra_elasticsearch_sync_spark.catalog import load_table
from cassandra_elasticsearch_sync_spark.parity import fmt_ts
from cassandra_elasticsearch_sync_spark.registry import register
from cassandra_elasticsearch_sync_spark.localdata import local_relation


@register("b1_project", "B1", """
SELECT c_custkey AS custkey,
       UPPER(c_name) AS name_upper,
       c_mktsegment AS segment,
       c_acctbal * 2.0 AS double_bal
FROM customer
""", "Projection: selection, aliasing, computed columns")
def b1_project(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load_table(spark, sf_dir, "customer")
    return c.select(
        F.col("c_custkey").alias("custkey"),
        F.upper("c_name").alias("name_upper"),
        F.col("c_mktsegment").alias("segment"),
        (F.col("c_acctbal") * 2.0).alias("double_bal"),
    )


@register("b2_filter_comparison", "B2", """
SELECT l_orderkey, l_linenumber, l_quantity,
       STRFTIME(l_shipdate, '%Y-%m-%d') AS ship_day
FROM lineitem
WHERE l_quantity > 45.0 AND l_shipdate >= TIMESTAMP '2001-01-01 00:00:00'
""", "Comparison filters on double + timestamp (pushed to the parquet scan)")
def b2_filter_comparison(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    return li.filter(
        (F.col("l_quantity") > 45.0)
        & F.expr("l_shipdate >= TIMESTAMP_NTZ '2001-01-01 00:00:00'")
    ).select(
        "l_orderkey",
        "l_linenumber",
        "l_quantity",
        F.date_format("l_shipdate", "yyyy-MM-dd").alias("ship_day"),
    )


@register("b3_filter_predicates", "B3", """
SELECT o_orderkey, o_orderstatus, o_orderpriority, o_totalprice
FROM orders
WHERE o_orderstatus IN ('F', 'P')
  AND (o_totalprice BETWEEN 100000 AND 200000 OR o_orderpriority LIKE '1-%')
  AND NOT (o_orderpriority = '5-LOW' AND o_totalprice < 150000)
  AND o_custkey IS NOT NULL
""", "Predicate calculus: IN / BETWEEN / LIKE / NOT / IS NOT NULL")
def b3_filter_predicates(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    return o.filter(
        F.col("o_orderstatus").isin("F", "P")
        & (F.col("o_totalprice").between(100000, 200000) | F.col("o_orderpriority").like("1-%"))
        & ~((F.col("o_orderpriority") == "5-LOW") & (F.col("o_totalprice") < 150000))
        & F.col("o_custkey").isNotNull()
    ).select("o_orderkey", "o_orderstatus", "o_orderpriority", "o_totalprice")


@register("b4_type_bridge", "B4", """
SELECT CAST(event_id AS VARCHAR) AS id_str,
       STRFTIME(DATE_TRUNC('second', ts), '%Y-%m-%d %H:%M:%S') AS ts_str,
       CAST(CAST(value AS DECIMAL(18,3)) AS VARCHAR) AS value_dec_str,
       CAST(user_id AS INT) AS user_id_int,
       LENGTH(props) AS props_len
FROM events
""", "CQL<->ES<->Spark type bridge (SURVEY.md 1.2): id to string, "
     "timestamp normalization, double->decimal->string, narrowing cast")
def b4_type_bridge(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    return ev.select(
        F.col("event_id").cast("string").alias("id_str"),
        fmt_ts("ts").alias("ts_str"),
        F.col("value").cast("decimal(18,3)").cast("string").alias("value_dec_str"),
        F.col("user_id").cast("int").alias("user_id_int"),
        F.length("props").cast("long").alias("props_len"),
    )


@register("b5_distinct", "B5", """
SELECT DISTINCT c_nationkey, c_mktsegment FROM customer
""", "Exact distinct (hash aggregate on all columns)")
def b5_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load_table(spark, sf_dir, "customer")
    return c.select("c_nationkey", "c_mktsegment").distinct()


@register("b6_conditional", "B6", """
SELECT o_orderkey,
       CASE WHEN o_totalprice > 300000 THEN 'big'
            WHEN o_totalprice > 150000 THEN 'mid'
            ELSE 'small' END AS size_class,
       COALESCE(NULLIF(o_orderstatus, 'P'), 'PENDING') AS status_norm,
       GREATEST(o_custkey, o_orderkey % 1000) AS g,
       LEAST(o_custkey, o_orderkey % 1000) AS l
FROM orders
""", "CASE WHEN / coalesce / nullif / greatest / least (LWW building blocks)")
def b6_conditional(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    return o.select(
        "o_orderkey",
        F.when(F.col("o_totalprice") > 300000, "big")
         .when(F.col("o_totalprice") > 150000, "mid")
         .otherwise("small").alias("size_class"),
        F.coalesce(F.nullif("o_orderstatus", F.lit("P")), F.lit("PENDING")).alias("status_norm"),
        F.greatest("o_custkey", F.col("o_orderkey") % 1000).alias("g"),
        F.least("o_custkey", F.col("o_orderkey") % 1000).alias("l"),
    )


# --------------------------------------------------------------------------
# Joins (2.C). Dimension sides carry broadcast() hints; fact-fact joins
# shuffle on the join key, which is what you want at 100 TB (AQE handles
# skew splits at runtime).
# --------------------------------------------------------------------------


@register("c1_inner_join", "C1", """
SELECT o_orderkey, c_custkey, c_name, o_totalprice
FROM orders JOIN customer ON o_custkey = c_custkey
WHERE c_mktsegment = 'BUILDING' AND o_totalprice > 250000
""", "Inner equi-join orders x customer (customer side broadcast-able)")
def c1_inner_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer").filter(F.col("c_mktsegment") == "BUILDING")
    return (
        o.filter(F.col("o_totalprice") > 250000)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .select("o_orderkey", "c_custkey", "c_name", "o_totalprice")
    )


@register("c2_left_join", "C2", """
SELECT c_custkey, COALESCE(o_orderkey, -1) AS orderkey_or_missing,
       COALESCE(o_totalprice, 0.0) AS price_or_zero
FROM customer LEFT JOIN orders
  ON c_custkey = o_custkey AND o_totalprice > 400000
""", "Left outer join with join-side predicate; unmatched rows kept")
def c2_left_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders")
    return c.join(
        o, (c.c_custkey == o.o_custkey) & (o.o_totalprice > 400000), "left"
    ).select(
        "c_custkey",
        F.coalesce("o_orderkey", F.lit(-1)).alias("orderkey_or_missing"),
        F.coalesce("o_totalprice", F.lit(0.0)).alias("price_or_zero"),
    )


@register("c3_full_outer", "C3", """
WITH a AS (SELECT c_custkey, c_acctbal FROM customer WHERE c_custkey % 2 = 0),
     b AS (SELECT c_custkey, c_acctbal FROM customer WHERE c_custkey % 3 = 0)
SELECT COALESCE(a.c_custkey, b.c_custkey) AS key,
       (a.c_custkey IS NOT NULL) AS in_a,
       (b.c_custkey IS NOT NULL) AS in_b
FROM a FULL OUTER JOIN b ON a.c_custkey = b.c_custkey
""", "Full outer join - the snapshot-diff core of the sync engine (L1)")
def c3_full_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load_table(spark, sf_dir, "customer").select("c_custkey", "c_acctbal")
    a = c.filter(F.col("c_custkey") % 2 == 0).alias("a")
    b = c.filter(F.col("c_custkey") % 3 == 0).alias("b")
    return a.join(b, F.col("a.c_custkey") == F.col("b.c_custkey"), "full").select(
        F.coalesce("a.c_custkey", "b.c_custkey").alias("key"),
        F.col("a.c_custkey").isNotNull().alias("in_a"),
        F.col("b.c_custkey").isNotNull().alias("in_b"),
    )


@register("c4_semi_join", "C4", """
SELECT c_custkey, c_name FROM customer
WHERE EXISTS (SELECT 1 FROM orders
              WHERE o_custkey = c_custkey AND o_orderstatus = 'F')
""", "Left semi join (EXISTS)")
def c4_semi_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders").filter(F.col("o_orderstatus") == "F")
    return c.join(o, c.c_custkey == o.o_custkey, "left_semi").select("c_custkey", "c_name")


@register("c5_anti_join", "C5", """
SELECT c_custkey, c_name FROM customer
WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
""", "Left anti join (NOT EXISTS) - insert/delete detection in sync")
def c5_anti_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders")
    return c.join(o, c.c_custkey == o.o_custkey, "left_anti").select("c_custkey", "c_name")


@register("c6_cross_join", "C6", """
SELECT r_name, n_name FROM region CROSS JOIN nation
""", "Guarded cartesian product (two tiny dimensions)")
def c6_cross_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    r = load_table(spark, sf_dir, "region")
    n = load_table(spark, sf_dir, "nation")
    return r.crossJoin(F.broadcast(n)).select("r_name", "n_name")


@register("c7_range_join", "C7", """
SELECT s_suppkey, COUNT(*) AS n_richer_customers
FROM supplier JOIN customer
  ON s_nationkey = c_nationkey AND c_acctbal > s_acctbal
GROUP BY s_suppkey
""", "Theta join: equi key + range predicate (supplier vs richer same-nation customers)")
def c7_range_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    s = load_table(spark, sf_dir, "supplier")
    c = load_table(spark, sf_dir, "customer")
    return (
        s.join(c, (s.s_nationkey == c.c_nationkey) & (c.c_acctbal > s.s_acctbal))
        .groupBy("s_suppkey")
        .agg(F.count("*").alias("n_richer_customers"))
    )


_C8_ORACLE = """
WITH c AS (SELECT event_id, user_id, DATE_TRUNC('second', ts) AS ts_s
           FROM events WHERE event_type = 'click'),
     p AS (SELECT user_id, DATE_TRUNC('second', ts) AS ts_s
           FROM events WHERE event_type = 'purchase')
SELECT c.event_id, c.user_id,
       STRFTIME(MAX(p.ts_s), '%Y-%m-%d %H:%M:%S') AS last_purchase_ts
FROM c LEFT JOIN p ON c.user_id = p.user_id AND p.ts_s <= c.ts_s
GROUP BY c.event_id, c.user_id
"""


@register("c8_asof_join", "C8", _C8_ORACLE,
          "As-of join: for each click, the latest purchase at-or-before it "
          "per user. Implemented as union + last(ignorenulls) over an "
          "ordered window - one shuffle on user_id, no pair blowup (the "
          "join+groupBy formulation the oracle uses would be quadratic per "
          "key at scale). Second-granularity comparison: events.ts is ns "
          "in parquet, micros in Spark, so raw comparison can never agree.")
def c8_asof_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    u = (
        ev.filter(F.col("event_type").isin("click", "purchase"))
        .select(
            "event_id",
            "user_id",
            "event_type",
            F.date_trunc("second", "ts").alias("ts_s"),
            F.when(F.col("event_type") == "purchase", F.date_trunc("second", "ts")).alias("p_ts"),
        )
    )
    # Purchases sort before clicks at the same second so `<=` holds.
    w = (
        Window.partitionBy("user_id")
        .orderBy(
            F.col("ts_s"),
            F.when(F.col("event_type") == "purchase", 0).otherwise(1),
            F.col("event_id"),
        )
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        u.withColumn("last_p", F.last("p_ts", ignorenulls=True).over(w))
        .filter(F.col("event_type") == "click")
        .select(
            "event_id",
            "user_id",
            F.date_format("last_p", "yyyy-MM-dd HH:mm:ss").alias("last_purchase_ts"),
        )
    )


@register("c9_self_join", "C9", """
WITH c AS (SELECT user_id, CAST(EPOCH(DATE_TRUNC('second', ts)) AS BIGINT) AS es
           FROM events WHERE event_type = 'click'),
     e AS (SELECT user_id, CAST(EPOCH(DATE_TRUNC('second', ts)) AS BIGINT) AS es
           FROM events WHERE event_type = 'error')
SELECT c.user_id, COUNT(*) AS n_errors_after_click
FROM c JOIN e ON c.user_id = e.user_id AND e.es BETWEEN c.es AND c.es + 600
GROUP BY c.user_id
""", "Self join: errors within 10 minutes after a click, per user "
     "(epoch-second granularity for cross-engine determinism)")
def c9_self_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events").withColumn(
        "es", F.unix_timestamp(F.date_trunc("second", "ts"))
    )
    c = ev.filter(F.col("event_type") == "click").select("user_id", "es").alias("c")
    e = ev.filter(F.col("event_type") == "error").select("user_id", "es").alias("e")
    return (
        c.join(
            e,
            (F.col("c.user_id") == F.col("e.user_id"))
            & F.col("e.es").between(F.col("c.es"), F.col("c.es") + 600),
        )
        .groupBy(F.col("c.user_id").alias("user_id"))
        .agg(F.count("*").alias("n_errors_after_click"))
    )


_CORR_SQL = """
SELECT c_custkey, c_name, c_acctbal
FROM customer c
WHERE c_acctbal > (SELECT AVG(c_acctbal) FROM customer i
                   WHERE i.c_nationkey = c.c_nationkey)
  AND EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
"""


@register("sql_correlated_subquery", "C4+D1", _CORR_SQL,
          "spark.sql entry point with a correlated scalar subquery + "
          "EXISTS - Catalyst decorrelates both into joins (SURVEY.md "
          "section 4 table); identical SQL text runs on both engines. "
          "AVG comparison (not output) tolerates the engines' float-sum "
          "ordering: a strict > against a nation-level mean is stable "
          "for this data (no customer sits within 1e-9 of the mean).")
def sql_correlated_subquery(spark: SparkSession, sf_dir: str) -> DataFrame:
    from cassandra_elasticsearch_sync_spark.catalog import register_views

    register_views(spark, sf_dir)
    return spark.sql(_CORR_SQL)


@register("b3b_null_safe_eq", "B3", """
WITH x AS (
  SELECT o_orderkey,
         CASE WHEN o_orderstatus = 'P' THEN NULL ELSE o_orderstatus END AS s1,
         CASE WHEN o_orderpriority LIKE '5%' THEN NULL ELSE o_orderstatus END AS s2
  FROM orders
)
SELECT o_orderkey,
       (s1 IS NOT DISTINCT FROM s2) AS null_safe_eq,
       (s1 IS DISTINCT FROM s2) AS null_safe_ne
FROM x
""", "Null-safe equality (<=> / IS NOT DISTINCT FROM) - the sync "
     "diff's equality test when either side may hold NULLs")
def b3b_null_safe_eq(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    s1 = F.when(F.col("o_orderstatus") == "P", None).otherwise(F.col("o_orderstatus"))
    s2 = F.when(F.col("o_orderpriority").like("5%"), None).otherwise(F.col("o_orderstatus"))
    return o.select(
        "o_orderkey",
        s1.eqNullSafe(s2).alias("null_safe_eq"),
        (~s1.eqNullSafe(s2)).alias("null_safe_ne"),
    )


@register("b3c_not_in_null_semantics", "B3", """
SELECT COUNT(*) AS n_not_in_with_null,
       (SELECT COUNT(*) FROM customer
        WHERE c_custkey NOT IN (SELECT o_custkey FROM orders
                                WHERE o_orderstatus = 'P')) AS n_not_in_clean
FROM customer
WHERE c_custkey NOT IN (SELECT CASE WHEN o_orderkey % 1000 = 1 THEN NULL
                                    ELSE o_custkey END
                        FROM orders)
""", "NOT IN three-valued-logic trap: a NULL in the subquery list makes "
     "NOT IN empty (both engines implement standard 3VL); the clean "
     "variant counts normally. Parity on the semantics everyone gets "
     "wrong.")
def b3c_not_in_null_semantics(spark: SparkSession, sf_dir: str) -> DataFrame:
    from cassandra_elasticsearch_sync_spark.catalog import register_views

    register_views(spark, sf_dir)
    return spark.sql("""
        SELECT COUNT(*) AS n_not_in_with_null,
               (SELECT COUNT(*) FROM customer
                WHERE c_custkey NOT IN (SELECT o_custkey FROM orders
                                        WHERE o_orderstatus = 'P')) AS n_not_in_clean
        FROM customer
        WHERE c_custkey NOT IN (SELECT CASE WHEN o_orderkey % 1000 = 1 THEN NULL
                                            ELSE o_custkey END
                                FROM orders)
    """)


_C8B_ORACLE = """
WITH c AS (SELECT event_id, user_id, DATE_TRUNC('second', ts) AS ts_s
           FROM events WHERE event_type = 'click'),
     p AS (SELECT user_id, DATE_TRUNC('second', ts) AS ts_s
           FROM events WHERE event_type = 'purchase')
SELECT c.event_id, c.user_id,
       STRFTIME(MIN(p.ts_s), '%Y-%m-%d %H:%M:%S') AS next_purchase_ts
FROM c LEFT JOIN p ON c.user_id = p.user_id AND p.ts_s >= c.ts_s
GROUP BY c.event_id, c.user_id
"""


@register("c8b_forward_asof_join", "C8", _C8B_ORACLE,
          "Forward as-of join: for each click, the EARLIEST purchase "
          "at-or-after it per user (time-to-conversion shape) - the "
          "mirror of c8, via first(ignorenulls) over a descending scan")
def c8b_forward_asof_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    u = (
        ev.filter(F.col("event_type").isin("click", "purchase"))
        .select(
            "event_id",
            "user_id",
            "event_type",
            F.date_trunc("second", "ts").alias("ts_s"),
            F.when(F.col("event_type") == "purchase", F.date_trunc("second", "ts")).alias("p_ts"),
        )
    )
    # Scan in DESCENDING time so "last non-null purchase" = the earliest
    # purchase at-or-after each row; purchases sort first within a second.
    w = (
        Window.partitionBy("user_id")
        .orderBy(
            F.col("ts_s").desc(),
            F.when(F.col("event_type") == "purchase", 0).otherwise(1),
            F.col("event_id"),
        )
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        u.withColumn("next_p", F.last("p_ts", ignorenulls=True).over(w))
        .filter(F.col("event_type") == "click")
        .select(
            "event_id",
            "user_id",
            F.date_format("next_p", "yyyy-MM-dd HH:mm:ss").alias("next_purchase_ts"),
        )
    )


@register("b2b_empty_result", "B2", """
SELECT o_orderkey, o_totalprice FROM orders WHERE o_totalprice < 0
""", "Empty result set: an unsatisfiable pushed-down predicate - "
     "verifies the whole compare pipeline (schema + zero rows) on "
     "empty outputs")
def b2b_empty_result(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    return o.filter(F.col("o_totalprice") < 0).select("o_orderkey", "o_totalprice")


_C7B_ORACLE = """
WITH iv AS (
  SELECT o_custkey AS cust, l_orderkey AS ok,
         MIN(o_orderdate) AS s, MAX(l_shipdate) AS e
  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
  GROUP BY 1, 2
)
SELECT a.cust,
       COUNT(*) AS n_overlap_pairs,
       CAST(MAX(DATE_DIFF('day', GREATEST(a.s, b.s), LEAST(a.e, b.e)))
            AS BIGINT) AS max_overlap_days
FROM iv a JOIN iv b
  ON a.cust = b.cust AND a.ok < b.ok
 AND a.s <= b.e AND b.s <= a.e
GROUP BY a.cust
"""


@register("c7b_interval_overlap_join", "C7", _C7B_ORACLE,
          "Interval-interval overlap join: per customer, pairs of "
          "their orders whose fulfilment windows [orderdate, last "
          "shipdate] overlap, with the widest overlap in days. The "
          "join is EQUI-keyed on the customer (the overlap predicate "
          "is a residual filter), so it shuffles once on a "
          "high-cardinality key and each task compares only one "
          "customer's handful of intervals - the bounded-blocking "
          "shape that keeps interval joins linear at 100 TB, vs the "
          "quadratic unkeyed theta-join. Day arithmetic is all "
          "integer dates; counts are exact.")
def c7b_interval_overlap_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders")
    iv = (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .groupBy(F.col("o_custkey").alias("cust"), F.col("l_orderkey").alias("ok"))
        .agg(F.min("o_orderdate").alias("s"), F.max("l_shipdate").alias("e"))
    )
    a, b = iv.alias("a"), iv.alias("b")
    pairs = a.join(
        b,
        (F.col("a.cust") == F.col("b.cust"))
        & (F.col("a.ok") < F.col("b.ok"))
        & (F.col("a.s") <= F.col("b.e"))
        & (F.col("b.s") <= F.col("a.e")),
    )
    overlap_days = F.datediff(
        F.least(F.col("a.e"), F.col("b.e")), F.greatest(F.col("a.s"), F.col("b.s"))
    )
    return pairs.groupBy(F.col("a.cust").alias("cust")).agg(
        F.count("*").alias("n_overlap_pairs"),
        F.max(overlap_days).cast("bigint").alias("max_overlap_days"),
    )


_C7C_ORACLE = """
WITH probe AS (
  SELECT event_id, ts FROM events WHERE user_id = 0
)
SELECT p.event_id, COUNT(*) AS n_nearby
FROM probe p JOIN events e
  ON e.event_id <> p.event_id
 AND e.ts BETWEEN p.ts - INTERVAL 15 MINUTE AND p.ts + INTERVAL 15 MINUTE
GROUP BY p.event_id
"""


@register("c7c_band_join_bucketed", "C7", _C7C_ORACLE,
          "Band join (|t_a - t_b| <= 15 min) executed scale-safely: a "
          "raw time-proximity theta-join is quadratic, so each probe "
          "row is EXPANDED to its 15-minute bin and both neighbors "
          "(3 rows), the corpus is keyed by its single bin, and the "
          "band condition becomes one EQUI-join on the bin plus a "
          "residual range filter - the standard bucketization that "
          "turns every proximity join (time, price, geo-grid) into a "
          "shuffle-on-key plan. Any corpus row is at most one bin "
          "away from a matching probe, so expansion loses nothing; "
          "the oracle is the direct theta-join.")
def c7c_band_join_bucketed(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    band_us = 15 * 60 * 1000000  # 15 min in microseconds
    probe = (
        ev.filter(F.col("user_id") == 0)
        .select(
            F.col("event_id").alias("p_id"),
            F.unix_micros("ts").alias("p_us"),
        )
        .withColumn("bin", F.explode(F.array(
            F.expr(f"p_us div {band_us} - 1"),
            F.expr(f"p_us div {band_us}"),
            F.expr(f"p_us div {band_us} + 1"),
        )))
    )
    corpus = ev.select(
        F.col("event_id").alias("c_id"), F.unix_micros("ts").alias("c_us")
    ).withColumn("bin", F.expr(f"c_us div {band_us}"))
    joined = probe.join(corpus, "bin").filter(
        (F.col("c_id") != F.col("p_id"))
        & (F.col("c_us") >= F.col("p_us") - band_us)
        & (F.col("c_us") <= F.col("p_us") + band_us)
    )
    return (
        joined.select("p_id", "c_id").distinct()
        .groupBy(F.col("p_id").alias("event_id"))
        .agg(F.count("*").alias("n_nearby"))
    )


@register("c10_relational_division", "C4+D3", """
SELECT o_custkey AS custkey, COUNT(*) AS n_orders
FROM orders
WHERE o_custkey IN (
  SELECT o_custkey FROM orders
  GROUP BY o_custkey
  HAVING COUNT(DISTINCT o_orderpriority) = 5
)
GROUP BY o_custkey
""", "Relational DIVISION ('customers who have ordered under ALL "
     "five priority classes'): the universal-quantifier query shape "
     "(suppliers covering every region, users hitting every "
     "funnel step). Expressed as group + count-distinct == |domain| "
     "+ semi-join back - one aggregate and one equi-join, instead "
     "of the textbook double-NOT-EXISTS whose nested correlated "
     "anti-joins Catalyst cannot decorrelate as cheaply. The "
     "count-distinct here is over a 5-value column - partial "
     "aggregation collapses it map-side.")
def c10_relational_division(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    covering = (
        o.groupBy("o_custkey")
        .agg(F.countDistinct("o_orderpriority").alias("np"))
        .filter(F.col("np") == 5)
        .select("o_custkey")
    )
    return (
        o.join(covering, "o_custkey", "left_semi")
        .groupBy(F.col("o_custkey").alias("custkey"))
        .agg(F.count("*").alias("n_orders"))
    )


@register("c11_hierarchy_rollup", "C9+D1", """
WITH RECURSIVE chain AS (
  SELECT p_partkey AS key, p_partkey // 10 AS anc,
         CAST(0 AS BIGINT) AS depth,
         CAST(0.0 AS DECIMAL(18,2)) AS anc_price
  FROM part
  UNION ALL
  SELECT c.key, a.p_partkey // 10, c.depth + 1,
         CAST(c.anc_price + CAST(a.p_retailprice AS DECIMAL(18,2))
              AS DECIMAL(18,2))
  FROM chain c JOIN part a ON a.p_partkey = c.anc
  WHERE c.anc > 0
)
SELECT key, MAX(depth) AS depth,
       CAST(MAX(anc_price) AS DOUBLE) AS anc_price_sum
FROM chain
GROUP BY key
""", "Hierarchy traversal - the recursive-CTE workload (BOM "
     "explosion, org-chart rollup, category trees) Spark SQL lacks "
     "natively. The part table is read as a tree (parent = key/10) "
     "and every part gets its ancestor depth and ancestor price sum. "
     "The Spark form is frontier iteration: each round joins the "
     "surviving frontier to its parent generation and accumulates - "
     "O(tree depth) hash joins (~7 rounds for 10^7 keys), each "
     "shuffle-partitioned on the CURRENT ancestor key, with the "
     "frontier shrinking as chains hit the root; no recursion, no "
     "driver-side row data, rounds bounded by log_10(maxkey) known "
     "up front (no unbounded isEmpty polling loop). The same loop "
     "shape as the connected-components and PageRank operators - "
     "DuckDB's WITH RECURSIVE is the oracle, so Spark's iterative "
     "restatement is hash-checked against a true recursive engine. "
     "Price accumulation is DECIMAL-exact; doubles only at the edge.")
def c11_hierarchy_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    p = load_table(spark, sf_dir, "part")
    parts = p.select(
        F.col("p_partkey").alias("pk"),
        F.col("p_retailprice").cast("decimal(18,2)").alias("price"),
    )
    max_key = p.agg(F.max("p_partkey").alias("m")).collect()[0]["m"]
    # depth bound: every division by 10 strips a digit
    import math
    rounds = max(1, int(math.ceil(math.log10(max(10, max_key + 1)))))

    frontier = p.select(
        F.col("p_partkey").alias("key"),
        (F.col("p_partkey") / 10).cast("bigint").alias("anc"),
        F.lit(0).cast("bigint").alias("depth"),
        F.lit(0).cast("decimal(18,2)").alias("anc_price"),
    )
    done = frontier.filter(F.col("anc") == 0)
    frontier = frontier.filter(F.col("anc") > 0)
    for _ in range(rounds):
        stepped = (
            frontier.join(parts, frontier["anc"] == parts["pk"], "inner")
            .select(
                "key",
                (F.col("pk") / 10).cast("bigint").alias("anc"),
                (F.col("depth") + 1).alias("depth"),
                (F.col("anc_price") + F.col("price"))
                .cast("decimal(18,2)").alias("anc_price"),
            )
        )
        done = done.unionByName(stepped.filter(F.col("anc") == 0))
        frontier = stepped.filter(F.col("anc") > 0)
    return done.select(
        "key", "depth", F.col("anc_price").cast("double").alias("anc_price_sum")
    )


@register("c8c_nearest_asof_join", "C8", """
WITH c AS (SELECT event_id, user_id,
                  CAST(EPOCH(DATE_TRUNC('second', ts)) AS BIGINT) AS es
           FROM events WHERE event_type = 'click'),
     p AS (SELECT user_id,
                  CAST(EPOCH(DATE_TRUNC('second', ts)) AS BIGINT) AS es
           FROM events WHERE event_type = 'purchase'),
     b AS (SELECT c.event_id, c.user_id, c.es, MAX(p.es) AS back_es
           FROM c LEFT JOIN p ON c.user_id = p.user_id AND p.es <= c.es
           GROUP BY c.event_id, c.user_id, c.es),
     f AS (SELECT c.event_id, MIN(p.es) AS fwd_es
           FROM c LEFT JOIN p ON c.user_id = p.user_id AND p.es > c.es
           GROUP BY c.event_id)
SELECT b.event_id, b.user_id,
       CASE WHEN back_es IS NULL THEN fwd_es
            WHEN fwd_es IS NULL THEN back_es
            WHEN b.es - back_es <= fwd_es - b.es THEN back_es
            ELSE fwd_es END AS nearest_purchase_es
FROM b JOIN f ON b.event_id = f.event_id
""", "Nearest-direction as-of join (pandas merge_asof "
     "direction='nearest'): each click pairs with the purchase whose "
     "timestamp is CLOSEST in either direction, ties to the earlier "
     "one - completing the backward (c8) / forward (c8b) family. One "
     "union + ONE shuffle on user_id computing both candidates: the "
     "backward candidate is last(purchase ts) over the preceding "
     "frame, the forward candidate first(purchase ts) over the "
     "strictly-following frame (purchases order before clicks at "
     "equal seconds so <= / > boundaries are exact); a final "
     "projection picks the nearer. The oracle's join+GROUP BY "
     "formulation is quadratic per hot key; this stays linear per "
     "row at any scale - same 100 TB argument as c8.")
def c8c_nearest_asof_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    u = (
        ev.filter(F.col("event_type").isin("click", "purchase"))
        .select(
            "event_id",
            "user_id",
            "event_type",
            F.unix_timestamp(F.date_trunc("second", "ts")).alias("es"),
            F.when(
                F.col("event_type") == "purchase",
                F.unix_timestamp(F.date_trunc("second", "ts")),
            ).alias("p_es"),
        )
    )
    # Purchases sort before clicks at the same second: backward frame
    # (<= current row) then includes same-second purchases, forward
    # frame (> current row) excludes them - matching <= / > exactly.
    order = [
        F.col("es"),
        F.when(F.col("event_type") == "purchase", 0).otherwise(1),
        F.col("event_id"),
    ]
    w_back = (
        Window.partitionBy("user_id").orderBy(*order)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    w_fwd = (
        Window.partitionBy("user_id").orderBy(*order)
        .rowsBetween(1, Window.unboundedFollowing)
    )
    both = (
        u.withColumn("back_es", F.last("p_es", ignorenulls=True).over(w_back))
        .withColumn("fwd_es", F.first("p_es", ignorenulls=True).over(w_fwd))
        .filter(F.col("event_type") == "click")
    )
    nearest = (
        F.when(F.col("back_es").isNull(), F.col("fwd_es"))
        .when(F.col("fwd_es").isNull(), F.col("back_es"))
        .when(F.col("es") - F.col("back_es") <= F.col("fwd_es") - F.col("es"),
              F.col("back_es"))
        .otherwise(F.col("fwd_es"))
    )
    return both.select(
        "event_id", "user_id", nearest.alias("nearest_purchase_es")
    )


# ---------------------------------------------------------------------------
# C12: spatial join - grid-bucketed point-in-polygon (never all-pairs)
# ---------------------------------------------------------------------------

# 12 deterministic triangles over the synthetic geo plane: vertices on
# an integer grid so the orientation/sign tests are the same exact
# double arithmetic in both engines.
_TRIANGLES = [
    (i,
     (-50 + 9 * i, -170 + 28 * i),                 # ax, ay
     (-50 + 9 * i + 22, -170 + 28 * i + 6),        # bx, by
     (-50 + 9 * i + 8, -170 + 28 * i + 24))        # cx, cy
    for i in range(12)
]

_TRI_SQL_ROWS = ", ".join(
    f"({i}, {a[0]}, {a[1]}, {b[0]}, {b[1]}, {c[0]}, {c[1]})"
    for i, a, b, c in _TRIANGLES)


@register("c12_spatial_grid_join", "C7+H3", f"""
WITH geo AS (
  SELECT c_custkey,
         (c_custkey * 7919 % 1200000) / 10000.0 - 60.0 AS px,
         (c_custkey * 104729 % 3600000) / 10000.0 - 180.0 AS py
  FROM customer
),
tri(tri_id, ax, ay, bx, by, cx, cy) AS (VALUES {_TRI_SQL_ROWS}),
j AS (
  SELECT c_custkey, tri_id,
         (bx - ax) * (py - ay) - (by - ay) * (px - ax) AS d1,
         (cx - bx) * (py - by) - (cy - by) * (px - bx) AS d2,
         (ax - cx) * (py - cy) - (ay - cy) * (px - cx) AS d3
  FROM geo CROSS JOIN tri
)
SELECT c_custkey, tri_id
FROM j
WHERE (d1 >= 0 AND d2 >= 0 AND d3 >= 0)
   OR (d1 <= 0 AND d2 <= 0 AND d3 <= 0)
ORDER BY c_custkey, tri_id
""", "Spatial join at the 100 TB shape: which polygon contains each "
     "point, WITHOUT the all-pairs cross join the oracle runs. "
     "Points land in one 5-degree grid cell; each triangle is "
     "replicated to the cells its bounding box overlaps (a tiny "
     "broadcast side - polygons x bbox cells); the equi-join on the "
     "cell key prunes the candidate space to co-located pairs, and "
     "only candidates pay the exact point-in-triangle sign test "
     "(three cross products, same double arithmetic both engines - "
     "boundary points included via the signs-agree rule, orientation-"
     "free). The standard geospatial bucketing every big-data GIS "
     "engine uses; output proven identical to the brute-force "
     "quantifier.")
def c12_spatial_grid_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    cell = 5.0
    pts = load_table(spark, sf_dir, "customer").select(
        "c_custkey",
        ((F.col("c_custkey") * 7919 % 1200000) / 10000.0 - 60.0).alias("px"),
        ((F.col("c_custkey") * 104729 % 3600000) / 10000.0 - 180.0).alias("py"),
    ).withColumn("clat", F.floor(F.col("px") / cell)) \
     .withColumn("clon", F.floor(F.col("py") / cell))

    tri_cells = []
    for i, a, b, c in _TRIANGLES:
        lo_x, hi_x = min(a[0], b[0], c[0]), max(a[0], b[0], c[0])
        lo_y, hi_y = min(a[1], b[1], c[1]), max(a[1], b[1], c[1])
        for cx_ in range(int(lo_x // cell), int(hi_x // cell) + 1):
            for cy_ in range(int(lo_y // cell), int(hi_y // cell) + 1):
                tri_cells.append((i, *a, *b, *c, cx_, cy_))
    tri = local_relation(
        spark, tri_cells,
        "tri_id int, ax int, ay int, bx int, by int, cx int, cy int, "
        "clat bigint, clon bigint")

    j = pts.join(F.broadcast(tri), ["clat", "clon"])
    d1 = (F.col("bx") - F.col("ax")) * (F.col("py") - F.col("ay")) \
        - (F.col("by") - F.col("ay")) * (F.col("px") - F.col("ax"))
    d2 = (F.col("cx") - F.col("bx")) * (F.col("py") - F.col("by")) \
        - (F.col("cy") - F.col("by")) * (F.col("px") - F.col("bx"))
    d3 = (F.col("ax") - F.col("cx")) * (F.col("py") - F.col("cy")) \
        - (F.col("ay") - F.col("cy")) * (F.col("px") - F.col("cx"))
    inside = ((d1 >= 0) & (d2 >= 0) & (d3 >= 0)) | \
             ((d1 <= 0) & (d2 <= 0) & (d3 <= 0))
    return (j.filter(inside)
            .select("c_custkey", "tri_id")
            .orderBy("c_custkey", "tri_id"))


@register("c13_skyline_per_group", "C7", """
WITH best AS (
  SELECT p_brand, p_size, MIN(p_retailprice) AS price, COUNT(*) AS n_parts
  FROM part GROUP BY p_brand, p_size
),
sky AS (
  SELECT b.p_brand, b.p_size, b.price, b.n_parts
  FROM best b
  WHERE NOT EXISTS (
    SELECT 1 FROM best o
    WHERE o.p_brand = b.p_brand AND o.p_size > b.p_size
      AND o.price <= b.price
  )
)
SELECT p_brand, p_size, price, n_parts
FROM sky ORDER BY p_brand, p_size
""", "Per-group skyline (Pareto-optimal frontier): within each brand, "
     "the parts not dominated on (maximize size, minimize price) - "
     "the multi-criteria shortlist query. NOT an all-pairs dominance "
     "join: one grouped MIN collapses the input to distinct "
     "(brand,size) cells (map-side combine; cell count is bounded by "
     "|brands| x |sizes|, corpus-size independent), then a running "
     "strict-suffix MIN over sizes descending inside each brand "
     "keeps exactly the frontier. The window runs on the REDUCED "
     "cell set partitioned by brand, so it is skew-proof at 100 TB; "
     "the 2D sort-based skyline is O(cells log cells) vs the naive "
     "O(rows^2) NOT EXISTS the oracle states.")
def c13_skyline_per_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    p = load_table(spark, sf_dir, "part")
    best = (
        p.groupBy("p_brand", "p_size")
        .agg(F.min("p_retailprice").alias("price"),
             F.count("*").alias("n_parts"))
    )
    # strict-suffix min: cheapest price among strictly LARGER sizes in
    # the same brand. One row per (brand,size) here, so "1 preceding"
    # in size-descending order is exactly `size > current`.
    w = (Window.partitionBy("p_brand").orderBy(F.col("p_size").desc())
         .rowsBetween(Window.unboundedPreceding, -1))
    return (
        best.withColumn("suffix_min", F.min("price").over(w))
        .filter(F.col("suffix_min").isNull()
                | (F.col("suffix_min") > F.col("price")))
        .select("p_brand", "p_size", "price", "n_parts")
        .orderBy("p_brand", "p_size")
    )
