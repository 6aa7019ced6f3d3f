"""Product-analytics + dataset-shaping operators.

Rounding out the engine's "a user could run every query they run
today" claim: deterministic sampling (the train/eval split),
frequency-ranked vocabulary building (tokenizer prep), event funnels,
and cohort retention - the standard event-analytics shapes over the
`events` table, each one shuffle-minimal and oracle-verified.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from cassandra_elasticsearch_sync_spark.catalog import load_table
from cassandra_elasticsearch_sync_spark.registry import register
from cassandra_elasticsearch_sync_spark.localdata import local_relation


@register("k_deterministic_sample", "K1", """
SELECT doc_id, lang,
       CAST(('0x' || SUBSTR(MD5(CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT) % 100 AS bucket,
       (CAST(('0x' || SUBSTR(MD5(CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT) % 100 < 10)
         AS in_eval_split
FROM documents
""", "Deterministic hash-bucket sampling: the reproducible train/eval "
     "split (hash(id) mod 100) - never rand(), so every engine, every "
     "run, every executor agrees on membership")
def k_deterministic_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    from cassandra_elasticsearch_sync_spark.pipeline.hashing import portable_hash60

    d = load_table(spark, sf_dir, "documents")
    bucket = portable_hash60(F.col("doc_id").cast("string")) % 100
    return d.select(
        "doc_id",
        "lang",
        bucket.alias("bucket"),
        (bucket < 10).alias("in_eval_split"),
    )


@register("k_build_vocab", "K4", """
WITH tf AS (
  SELECT w AS token, COUNT(*) AS tf
  FROM (SELECT UNNEST(STRING_SPLIT(LOWER(text), ' ')) AS w FROM documents)
  GROUP BY w
)
SELECT token, tf,
       CAST(ROW_NUMBER() OVER (ORDER BY tf DESC, token) AS INT) AS token_id
FROM tf
""", "Vocabulary building: tokens ranked by corpus frequency with "
     "deterministic tiebreak -> dense token ids (tokenizer prep)")
def k_build_vocab(spark: SparkSession, sf_dir: str) -> DataFrame:
    from cassandra_elasticsearch_sync_spark.operators.distributed_order import (
        with_global_order,
    )

    d = load_table(spark, sf_dir, "documents")
    tf = (
        d.select(F.explode(F.split(F.lower("text"), " ")).alias("token"))
        .groupBy("token")
        .agg(F.count("*").alias("tf"))
    )
    # Two-pass global rank (range partition + per-partition row_number +
    # broadcast offsets) - parallel at any vocab size, unlike a bare
    # Window.orderBy which funnels every token through one partition.
    ranked, _ = with_global_order(
        tf, [F.col("tf").desc(), F.col("token")], rank_col="token_id"
    )
    return ranked.select("token", "tf", F.col("token_id").cast("int").alias("token_id"))


@register("funnel_conversion", "E2+I4", """
WITH firsts AS (
  SELECT user_id,
         MIN(CASE WHEN event_type = 'signup'
                  THEN CAST(EPOCH(DATE_TRUNC('second', ts)) AS BIGINT) END) AS t_signup,
         MIN(CASE WHEN event_type = 'click'
                  THEN CAST(EPOCH(DATE_TRUNC('second', ts)) AS BIGINT) END) AS t_click,
         MIN(CASE WHEN event_type = 'purchase'
                  THEN CAST(EPOCH(DATE_TRUNC('second', ts)) AS BIGINT) END) AS t_purchase
  FROM events GROUP BY user_id
)
SELECT COUNT(*) AS n_users,
       COUNT(t_signup) AS n_signed_up,
       COUNT(CASE WHEN t_click > t_signup THEN 1 END) AS n_clicked_after_signup,
       COUNT(CASE WHEN t_purchase > t_click AND t_click > t_signup THEN 1 END)
         AS n_full_funnel
FROM firsts
""", "Event funnel: signup -> click -> purchase ordered-first-occurrence "
     "conversion counts (one groupBy; no joins, no self-scan)")
def funnel_conversion(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events").select(
        "user_id", "event_type",
        F.unix_timestamp(F.date_trunc("second", "ts")).alias("es"),
    )

    def first_of(t: str):
        return F.min(F.when(F.col("event_type") == t, F.col("es")))

    firsts = ev.groupBy("user_id").agg(
        first_of("signup").alias("t_signup"),
        first_of("click").alias("t_click"),
        first_of("purchase").alias("t_purchase"),
    )
    return firsts.agg(
        F.count("*").alias("n_users"),
        F.count("t_signup").alias("n_signed_up"),
        F.count(F.when(F.col("t_click") > F.col("t_signup"), 1))
         .alias("n_clicked_after_signup"),
        F.count(
            F.when((F.col("t_purchase") > F.col("t_click"))
                   & (F.col("t_click") > F.col("t_signup")), 1)
        ).alias("n_full_funnel"),
    )


@register("cohort_retention", "H2+D1", """
WITH d AS (
  SELECT user_id, CAST(DATE_TRUNC('day', ts) AS DATE) AS day FROM events
),
cohort AS (
  SELECT user_id, MIN(day) AS cohort_day FROM d GROUP BY user_id
)
SELECT STRFTIME(cohort_day, '%Y-%m-%d') AS cohort,
       DATE_DIFF('day', cohort_day, day) AS day_offset,
       COUNT(DISTINCT d.user_id) AS active_users
FROM d JOIN cohort ON d.user_id = cohort.user_id
WHERE DATE_DIFF('day', cohort_day, day) <= 7
GROUP BY cohort_day, day_offset
""", "Cohort retention: users bucketed by first-seen day, distinct "
     "actives per (cohort, day offset) for the first week")
def cohort_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events").select(
        "user_id", F.date_trunc("day", "ts").cast("date").alias("day")
    )
    cohort = ev.groupBy("user_id").agg(F.min("day").alias("cohort_day"))
    j = ev.join(F.broadcast(cohort), "user_id").withColumn(
        "day_offset", F.datediff("day", "cohort_day").cast("long")
    )
    return (
        j.filter(F.col("day_offset") <= 7)
        .groupBy(
            F.date_format("cohort_day", "yyyy-MM-dd").alias("cohort"), "day_offset"
        )
        .agg(F.countDistinct("user_id").alias("active_users"))
    )


@register("value_histogram", "D1", """
SELECT CAST(FLOOR(value / 25.0) AS INT) AS bin,
       CAST(25.0 * CAST(FLOOR(value / 25.0) AS INT) AS DOUBLE) AS bin_low,
       COUNT(*) AS n
FROM events
GROUP BY 1, 2
""", "Fixed-width histogram of event values (floor-bucketing on "
     "identical doubles is engine-agnostic; the profiling companion "
     "to util_profile_orders)")
def value_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    bin_ = F.floor(F.col("value") / 25.0).cast("int")
    return (
        ev.withColumn("bin", bin_)
        .groupBy("bin", (25.0 * F.col("bin")).alias("bin_low"))
        .agg(F.count("*").alias("n"))
    )


@register("fuzzy_name_match", "H1+C9", """
WITH c AS (SELECT c_custkey, c_name, SUBSTRING(c_name, 1, 17) AS blk FROM customer)
SELECT a.c_custkey AS key_a, b.c_custkey AS key_b,
       LEVENSHTEIN(a.c_name, b.c_name) AS edit_dist
FROM c a JOIN c b ON a.blk = b.blk AND a.c_custkey < b.c_custkey
WHERE LEVENSHTEIN(a.c_name, b.c_name) <= 1
""", "Entity resolution: fuzzy name matching with prefix blocking "
     "(candidate pairs only within a 17-char block -> linear, not "
     "quadratic) + Levenshtein verification - the classic ER shape")
def fuzzy_name_match(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_name", F.substring("c_name", 1, 17).alias("blk")
    )
    a, b = c.alias("a"), c.alias("b")
    return (
        a.join(b, (F.col("a.blk") == F.col("b.blk"))
               & (F.col("a.c_custkey") < F.col("b.c_custkey")))
        .withColumn("edit_dist",
                    F.levenshtein(F.col("a.c_name"), F.col("b.c_name")).cast("long"))
        .filter(F.col("edit_dist") <= 1)
        .select(
            F.col("a.c_custkey").alias("key_a"),
            F.col("b.c_custkey").alias("key_b"),
            "edit_dist",
        )
    )


@register("share_of_total", "E3+D1", """
WITH s AS (
  SELECT event_type,
         CAST(SUM(CAST(value AS DECIMAL(38,10))) AS DECIMAL(38,6)) AS dv
  FROM events GROUP BY event_type
),
t AS (SELECT SUM(dv) AS tot FROM s)
SELECT event_type, CAST(dv AS DOUBLE) AS v,
       ROUND(CAST(dv AS DOUBLE) / CAST(tot AS DOUBLE), 6) AS share
FROM s CROSS JOIN t
""", "Ratio-to-report: each group's exact-decimal total divided by the "
     "broadcast grand total. The grand total is an exact DECIMAL sum "
     "(order-independent on both engines), joined in as a broadcast "
     "scalar - no empty-partition window, no float-summation-order "
     "hazard.")
def share_of_total(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    s = ev.groupBy("event_type").agg(
        F.sum(F.col("value").cast("decimal(38,10)"))
         .cast("decimal(38,6)").alias("dv")
    )
    t = s.agg(F.sum("dv").alias("tot"))
    v = F.col("dv").cast("double")
    return s.crossJoin(F.broadcast(t)).select(
        "event_type",
        v.alias("v"),
        F.round(v / F.col("tot").cast("double"), 6).alias("share"),
    )


@register("price_deciles", "E1+D1", """
WITH d AS (
  SELECT o_totalprice,
         NTILE(10) OVER (ORDER BY o_totalprice, o_orderkey) AS decile
  FROM orders
)
SELECT decile, COUNT(*) AS n,
       MIN(o_totalprice) AS lo,
       MAX(o_totalprice) AS hi
FROM d GROUP BY decile
""", "Decile statistics: exact NTILE(10) bucketing via the two-pass "
     "distributed rank (range partition + broadcast offsets), then "
     "per-bucket count/min/max (the distribution profile report). "
     "Equivalent to a global ntile window but parallel at any scale.")
def price_deciles(spark: SparkSession, sf_dir: str) -> DataFrame:
    from cassandra_elasticsearch_sync_spark.operators.distributed_order import (
        with_global_ntile,
    )

    o = load_table(spark, sf_dir, "orders").select("o_totalprice", "o_orderkey")
    d = with_global_ntile(
        o, [F.col("o_totalprice"), F.col("o_orderkey")], 10, bucket_col="decile"
    )
    return d.groupBy("decile").agg(
        F.count("*").alias("n"),
        F.min("o_totalprice").alias("lo"),
        F.max("o_totalprice").alias("hi"),
    )


@register("k_dataset_card", "K4+D9", """
SELECT COALESCE(source, '<all>') AS source,
       COALESCE(lang, '<all>') AS lang,
       COUNT(*) AS n_docs,
       CAST(CAST(SUM(CAST(n_chars AS DECIMAL(38,10))) AS DECIMAL(38,0)) AS BIGINT)
         AS total_chars,
       ROUND(CAST(CAST(SUM(CAST(n_chars AS DECIMAL(38,10))) AS DECIMAL(38,4)) AS DOUBLE)
             / COUNT(*), 6) AS mean_chars,
       MIN(n_chars) AS min_chars,
       MAX(n_chars) AS max_chars
FROM documents
GROUP BY ROLLUP (source, lang)
""", "Dataset card: per-(source, lang) document counts and length "
     "stats with rollup subtotals - the one-scan summary a curation "
     "pipeline publishes alongside every training snapshot. ROLLUP "
     "adds the marginals in the same single aggregation pass.")
def k_dataset_card(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    n_chars_dec = F.col("n_chars").cast("decimal(38,10)")
    return (
        d.rollup("source", "lang")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum(n_chars_dec).cast("decimal(38,0)").cast("bigint")
             .alias("total_chars"),
            F.round(
                F.sum(n_chars_dec).cast("decimal(38,4)").cast("double")
                / F.count("*"), 6
            ).alias("mean_chars"),
            F.min("n_chars").alias("min_chars"),
            F.max("n_chars").alias("max_chars"),
        )
        .select(
            F.coalesce("source", F.lit("<all>")).alias("source"),
            F.coalesce("lang", F.lit("<all>")).alias("lang"),
            "n_docs", "total_chars", "mean_chars", "min_chars", "max_chars",
        )
    )


@register("k_data_mixture", "K1", """
SELECT doc_id, lang, source
FROM documents
WHERE (doc_id * 1000003 + 17) % 100 <
      CASE lang WHEN 'en' THEN 50 WHEN 'fr' THEN 40 WHEN 'de' THEN 30
                WHEN 'es' THEN 20 ELSE 10 END
""", "Mixture resampling: down-sample each language stratum to a "
     "target rate (en 50% ... zh 10%) - how a pretraining mix is "
     "reweighted. Membership is a pure function of the id (affine "
     "hash mod 100), so the sample is reproducible across engines, "
     "runs, and executors, and the filter pushes all the way into "
     "the scan: no shuffle, no rand(), no per-partition state. "
     "Arithmetic stays < 2^53, safe under ANSI mode at any sf.")
def k_data_mixture(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    rate = (
        F.when(F.col("lang") == "en", 50)
        .when(F.col("lang") == "fr", 40)
        .when(F.col("lang") == "de", 30)
        .when(F.col("lang") == "es", 20)
        .otherwise(10)
    )
    return d.filter((F.col("doc_id") * 1000003 + 17) % 100 < rate).select(
        "doc_id", "lang", "source"
    )


@register("k_user_zscore", "K4+D5", """
WITH stats AS (
  SELECT user_id,
         COUNT(value) AS n,
         CAST(CAST(SUM(CAST(value AS DECIMAL(38,10))) AS DECIMAL(38,2))
              AS DOUBLE) AS sx,
         CAST(CAST(SUM(CAST(value * value AS DECIMAL(38,10)))
                   AS DECIMAL(38,4)) AS DOUBLE) AS sxx
  FROM events GROUP BY user_id
)
SELECT event_id, e.user_id, value,
       ROUND((value - sx / n)
             / SQRT((sxx - sx * sx / n) / (n - 1)), 6) AS zscore
FROM events e JOIN stats USING (user_id)
WHERE n >= 5
  AND ABS((value - sx / n)
          / SQRT((sxx - sx * sx / n) / (n - 1))) > 2.5
""", "Per-user outlier detection: z-score of each event value against "
     "that user's own mean/stddev, flagging |z| > 2.5 - the per-entity "
     "anomaly pass a metrics pipeline runs before training on event "
     "streams. Shape: one grouped stats aggregate (exact decimal sums "
     "-> deterministic mean/stddev in both engines, same textbook "
     "formula as D5), joined back to the facts; both sides shuffle on "
     "user_id once, stats combine map-side.")
def k_user_zscore(spark: SparkSession, sf_dir: str) -> DataFrame:
    from cassandra_elasticsearch_sync_spark.parity import dsum

    e = load_table(spark, sf_dir, "events")
    x = F.col("value")
    stats = e.groupBy("user_id").agg(
        F.count("value").alias("n"),
        dsum(x, 2).alias("sx"),
        dsum(x * x, 4).alias("sxx"),
    )
    n, sx, sxx = F.col("n"), F.col("sx"), F.col("sxx")
    z = (x - sx / n) / F.sqrt((sxx - sx * sx / n) / (n - 1))
    return (
        e.join(stats, "user_id")
        .filter((n >= 5) & (F.abs(z) > 2.5))
        .select("event_id", "user_id", "value", F.round(z, 6).alias("zscore"))
    )


@register("k_train_val_test", "K1", """
WITH assigned AS (
  SELECT source,
         CASE WHEN (doc_id * 1000003 + 17) % 100 < 80 THEN 'train'
              WHEN (doc_id * 1000003 + 17) % 100 < 90 THEN 'val'
              ELSE 'test' END AS split,
         n_chars
  FROM documents
),
totals AS (SELECT source, COUNT(*) AS n_src FROM assigned GROUP BY source)
SELECT source, split, COUNT(*) AS n_docs,
       CAST(SUM(CAST(n_chars AS BIGINT)) AS BIGINT) AS total_chars,
       ROUND(CAST(COUNT(*) AS DOUBLE) / n_src, 6) AS share
FROM assigned JOIN totals USING (source)
GROUP BY source, split, n_src
ORDER BY source, split
""", "Deterministic 80/10/10 train/val/test split: each doc's split is "
     "a pure function of doc_id (affine hash mod 100 - the same "
     "engine-neutral trick as k_data_mixture), so the assignment is "
     "reproducible across engines, runs, and cluster sizes - no "
     "sampling state, no shuffle to assign. The report joins "
     "per-source totals back (broadcast - source count is tiny) to "
     "show per-source split shares, the balance check run before "
     "training.")
def k_train_val_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    bucket = (F.col("doc_id") * 1000003 + 17) % 100
    assigned = d.select(
        "source",
        F.when(bucket < 80, "train")
        .when(bucket < 90, "val")
        .otherwise("test")
        .alias("split"),
        "n_chars",
    )
    totals = assigned.groupBy("source").agg(F.count("*").alias("n_src"))
    return (
        assigned.join(F.broadcast(totals), "source")
        .groupBy("source", "split", "n_src")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum(F.col("n_chars").cast("bigint")).cast("bigint").alias("total_chars"),
        )
        .select(
            "source", "split", "n_docs", "total_chars",
            F.round(F.col("n_docs").cast("double") / F.col("n_src"), 6).alias("share"),
        )
        .orderBy("source", "split")
    )


@register("k_mad_outliers", "K4+D6", """
WITH med AS (
  SELECT event_type, QUANTILE_CONT(value, 0.5) AS med
  FROM events GROUP BY event_type
),
dev AS (
  SELECT e.event_type, med.med, ABS(e.value - med.med) AS dev
  FROM events e JOIN med USING (event_type)
),
mad AS (
  SELECT event_type, MIN(med) AS med, QUANTILE_CONT(dev, 0.5) AS mad
  FROM dev GROUP BY event_type
)
SELECT d.event_type,
       ROUND(MIN(d.med), 6) AS med,
       ROUND(MIN(m.mad), 6) AS mad,
       CAST(SUM(CASE WHEN d.dev > 3 * m.mad THEN 1 ELSE 0 END) AS BIGINT)
         AS n_outliers
FROM dev d JOIN mad m USING (event_type)
GROUP BY d.event_type
""", "Robust anomaly detection: median-absolute-deviation outliers "
     "per event_type (|v - median| > 3*MAD), the heavy-tail-safe "
     "alternative to z-scores for monitoring metrics. Three "
     "aggregate passes (median, MAD, flag-count) with the tiny "
     "per-type medians broadcast back - no windows anywhere. Float "
     "parity: both engines interpolate the middle pair with "
     "lo + (hi-lo)*frac on identical doubles, the deviations are "
     "per-row IEEE ops, and the 3*MAD threshold compares bit-equal "
     "values. Scale note: EXACT per-key medians require the per-key "
     "value multiset at one reducer (Spark's percentile() "
     "accumulates a counts map); the oracle gate forces exactness "
     "here - at 100 TB swap in approx_percentile (t-digest, "
     "mergeable map-side) with the same downstream shape.")
def k_mad_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    med = ev.groupBy("event_type").agg(
        F.percentile("value", F.lit(0.5)).alias("med")
    )
    dev = ev.join(F.broadcast(med), "event_type").select(
        "event_type", "med", F.abs(F.col("value") - F.col("med")).alias("dev")
    )
    mad = dev.groupBy("event_type").agg(
        F.min("med").alias("med"),
        F.percentile("dev", F.lit(0.5)).alias("mad"),
    )
    return (
        dev.join(F.broadcast(mad.select("event_type", "mad")), "event_type")
        .groupBy("event_type")
        .agg(
            F.round(F.min("med"), 6).alias("med"),
            F.round(F.min("mad"), 6).alias("mad"),
            F.sum(
                F.when(F.col("dev") > 3 * F.col("mad"), 1).otherwise(0)
            ).cast("bigint").alias("n_outliers"),
        )
    )


@register("k_vocab_coverage", "K4+F1", """
WITH tok AS (
  SELECT UNNEST(STRING_SPLIT(LOWER(text), ' ')) AS t FROM documents
),
cnt AS (SELECT t, COUNT(*) AS c FROM tok WHERE t <> '' GROUP BY t),
ranked AS (
  SELECT c, ROW_NUMBER() OVER (ORDER BY c DESC, t) AS rk FROM cnt
)
SELECT CAST(SUM(c) AS BIGINT) AS total_tokens,
       ROUND(CAST(SUM(CASE WHEN rk <= 100 THEN c ELSE 0 END) AS DOUBLE)
             / SUM(c), 6) AS cov_100,
       ROUND(CAST(SUM(CASE WHEN rk <= 1000 THEN c ELSE 0 END) AS DOUBLE)
             / SUM(c), 6) AS cov_1000,
       ROUND(CAST(SUM(CASE WHEN rk <= 5000 THEN c ELSE 0 END) AS DOUBLE)
             / SUM(c), 6) AS cov_5000
FROM ranked
""", "Tokenizer vocabulary coverage curve: what fraction of all "
     "corpus tokens the top-100/1k/5k vocabulary entries absorb - "
     "the number that decides vocab size before training a "
     "tokenizer (the UNK-rate budget). Token counts aggregate "
     "distributedly; the frequency ranking runs over the "
     "VOCAB-sized count table through the two-pass global order "
     "(no single-partition window, same primitive as "
     "k_build_vocab); coverages are exact bigint ratios.")
def k_vocab_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    from cassandra_elasticsearch_sync_spark.operators.distributed_order import (
        with_global_order,
    )

    d = load_table(spark, sf_dir, "documents")
    tok = d.select(
        F.explode(F.split(F.lower("text"), " ")).alias("t")
    ).filter(F.col("t") != "")
    cnt = tok.groupBy("t").agg(F.count("*").alias("c"))
    ranked, _ = with_global_order(
        cnt, [F.col("c").desc(), F.col("t")], rank_col="rk"
    )
    cov = lambda k: F.round(
        F.sum(F.when(F.col("rk") <= k, F.col("c")).otherwise(0)).cast("double")
        / F.sum("c"),
        6,
    )
    return ranked.agg(
        F.sum("c").cast("bigint").alias("total_tokens"),
        cov(100).alias("cov_100"),
        cov(1000).alias("cov_1000"),
        cov(5000).alias("cov_5000"),
    )


@register("k_temporal_split", "K1+D6", """
WITH d AS (
  SELECT event_type, value,
         CAST(DATE_TRUNC('day', ts) AS DATE) AS day
  FROM events
),
cut AS (
  SELECT MAX(day) AS cutoff FROM (
    SELECT day, ROW_NUMBER() OVER (ORDER BY day) AS rk,
           COUNT(*) OVER () AS n
    FROM (SELECT DISTINCT day FROM d)
  ) WHERE rk <= CEIL(0.8 * n)
)
SELECT event_type,
       CASE WHEN day <= cutoff THEN 'train' ELSE 'eval' END AS split,
       COUNT(*) AS n,
       STRFTIME(MIN(day), '%Y-%m-%d') AS first_day,
       STRFTIME(MAX(day), '%Y-%m-%d') AS last_day
FROM d, cut
GROUP BY 1, 2
""", "TEMPORAL train/eval split: cutoff at the 80th-percentile "
     "DISTINCT day, train = everything at or before it - the "
     "leakage-safe complement to the hash split "
     "(k_train_val_test): models evaluated on the future, never on "
     "interleaved samples of the same period. The cutoff is the "
     "ceil(0.8*n)-th distinct day - a discrete rank statistic "
     "(exact, no interpolation, it IS one of the days) computed "
     "over the distinct-day list, which is CALENDAR-bounded (a few "
     "thousand rows after decades), so collecting it to the driver "
     "is a metadata step, same as the two-pass partition stats; "
     "the literal cutoff then labels one scan. Split sizes and era "
     "boundaries per event_type are the audit output.")
def k_temporal_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    d = ev.select(
        "event_type", "value", F.date_trunc("day", "ts").cast("date").alias("day")
    )
    import math

    days = sorted(r.day for r in d.select("day").distinct().collect())
    cutoff = days[math.ceil(0.8 * len(days)) - 1]
    return (
        d.withColumn(
            "split",
            F.when(F.col("day") <= F.lit(cutoff), "train").otherwise("eval"),
        )
        .groupBy("event_type", "split")
        .agg(
            F.count("*").alias("n"),
            F.date_format(F.min("day"), "yyyy-MM-dd").alias("first_day"),
            F.date_format(F.max("day"), "yyyy-MM-dd").alias("last_day"),
        )
    )


@register("k_apdex_score", "K4+D2", """
SELECT event_type,
       COUNT(*) AS n,
       CAST(SUM(CASE WHEN value <= 100 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_satisfied,
       CAST(SUM(CASE WHEN value > 100 AND value <= 400 THEN 1 ELSE 0 END)
            AS BIGINT) AS n_tolerating,
       ROUND((CAST(SUM(CASE WHEN value <= 100 THEN 1 ELSE 0 END) AS DOUBLE)
              + 0.5 * SUM(CASE WHEN value > 100 AND value <= 400
                               THEN 1 ELSE 0 END))
             / COUNT(*), 6) AS apdex
FROM events
GROUP BY event_type
""", "Apdex score per event_type (value read as a latency: "
     "satisfied <= T, tolerating <= 4T, frustrated beyond) - the "
     "industry-standard user-satisfaction rollup for service "
     "monitoring, and the canonical 'conditional aggregate with a "
     "weighted numerator' shape. The 0.5 weight is an exact binary "
     "fraction over exact bigint counts, so the score is one "
     "deterministic IEEE divide in both engines. Single scan, "
     "|types|-row shuffle.")
def k_apdex_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    sat = F.sum(F.when(F.col("value") <= 100, 1).otherwise(0))
    tol = F.sum(
        F.when((F.col("value") > 100) & (F.col("value") <= 400), 1).otherwise(0)
    )
    return ev.groupBy("event_type").agg(
        F.count("*").alias("n"),
        sat.cast("bigint").alias("n_satisfied"),
        tol.cast("bigint").alias("n_tolerating"),
        F.round((sat.cast("double") + 0.5 * tol) / F.count("*"), 6).alias("apdex"),
    )


@register("k_mad_outliers_approx", "K4+D6", None,
          "MAD outlier detection with approx_percentile medians - the "
          "documented 100 TB swap for k_mad_outliers, registered so the "
          "scale path is executed, not just described. Same three-pass "
          "broadcast shape; the per-key median/MAD come from mergeable "
          "quantile sketches (map-side partial aggregation), so no "
          "per-key value multiset concentrates at a reducer. Rows-only "
          "by design; the exact twin k_mad_outliers is hash-checked.")
def k_mad_outliers_approx(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    med = ev.groupBy("event_type").agg(
        F.approx_percentile("value", F.lit(0.5), F.lit(10000)).alias("med")
    )
    dev = ev.join(F.broadcast(med), "event_type").select(
        "event_type", "med", F.abs(F.col("value") - F.col("med")).alias("dev")
    )
    mad = dev.groupBy("event_type").agg(
        F.min("med").alias("med"),
        F.approx_percentile("dev", F.lit(0.5), F.lit(10000)).alias("mad"),
    )
    return (
        dev.join(F.broadcast(mad.select("event_type", "mad")), "event_type")
        .groupBy("event_type")
        .agg(
            F.round(F.min("med"), 6).alias("med"),
            F.round(F.min("mad"), 6).alias("mad"),
            F.sum(
                F.when(F.col("dev") > 3 * F.col("mad"), 1).otherwise(0)
            ).cast("bigint").alias("n_outliers"),
        )
    )


@register("k_weighted_sample", "K1", """
WITH h AS (
  SELECT doc_id, lang, n_chars,
         CAST(('0x' || SUBSTR(MD5(CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT)
           AS hv
  FROM documents
)
SELECT doc_id, lang, n_chars,
       ROUND(CAST(n_chars AS DOUBLE) / CAST(hv + 1 AS DOUBLE) * 1e15, 6)
         AS priority
FROM h
ORDER BY CAST(n_chars AS DOUBLE) / CAST(hv + 1 AS DOUBLE) DESC, doc_id
LIMIT 50
""", "Weighted sampling without replacement via PRIORITY SAMPLING "
     "(Duffield-Lund-Thorup): each row gets priority w / u with "
     "u ~ Uniform derived from the portable 60-bit hash of its id, "
     "and the sample is the global top-k by priority - inclusion "
     "probability proportional to weight (here n_chars: longer "
     "documents sampled more, the standard pretraining upweighting). "
     "Deterministic: no rand() anywhere, so every engine/run/executor "
     "agrees row-for-row. Float-parity-safe BY CONSTRUCTION: the "
     "priority is a single IEEE divide of two exactly-converted "
     "integers (no pow/log, which is why this beats the classic "
     "A-ES u^(1/w) formulation for cross-engine verification - same "
     "distribution family, libm-free). The top-k compiles to "
     "TakeOrderedAndProject: per-partition heaps of k, no global "
     "sort, the 100 TB shape.")
def k_weighted_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    from cassandra_elasticsearch_sync_spark.pipeline.hashing import portable_hash60

    d = load_table(spark, sf_dir, "documents")
    hv = portable_hash60(F.col("doc_id").cast("string"))
    pri = F.col("n_chars").cast("double") / (hv + F.lit(1)).cast("double")
    return (
        d.select(
            "doc_id", "lang", "n_chars",
            pri.alias("_pri"),
            F.round(pri * F.lit(1e15), 6).alias("priority"),
        )
        .orderBy(F.col("_pri").desc(), "doc_id")
        .limit(50)
        .select("doc_id", "lang", "n_chars", "priority")
    )


@register("k_mixture_temperature", "K1+D1", """
WITH strata AS (
  SELECT lang, COUNT(*) AS n_docs,
         SQRT(CAST(COUNT(*) AS DOUBLE)) AS w
  FROM documents GROUP BY lang
),
tot AS (SELECT SUM(w) AS tw FROM strata)
SELECT lang, n_docs,
       ROUND(w / tw, 6) AS sample_prob,
       CAST(FLOOR(10000 * w / tw) AS BIGINT) AS docs_per_10k
FROM strata, tot
""", "Temperature-based mixture weighting (the multilingual sampling "
     "formula from mBERT/XLM-R/UniMax): p_i proportional to "
     "n_i^(1/T), which up-weights low-resource strata relative to "
     "proportional sampling. T=2 makes the power an exact IEEE "
     "sqrt - correctly rounded in both engines, so the weights are "
     "oracle-checkable bit-for-bit (general T needs libm pow, the "
     "documented float caveat; the plan is identical). One grouped "
     "count + a broadcast 1-row total; the allocation column is "
     "what a sampler like k_data_mixture consumes as its per-stratum "
     "rate at any corpus size.")
def k_mixture_temperature(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    strata = d.groupBy("lang").agg(
        F.count("*").alias("n_docs"),
        F.sqrt(F.count("*").cast("double")).alias("w"),
    )
    tot = strata.agg(F.sum("w").alias("tw"))
    return strata.crossJoin(F.broadcast(tot)).select(
        "lang", "n_docs",
        F.round(F.col("w") / F.col("tw"), 6).alias("sample_prob"),
        F.floor(F.lit(10000) * F.col("w") / F.col("tw"))
        .cast("bigint").alias("docs_per_10k"),
    )


@register("k_preference_pairs", "K1+D11", """
WITH scored AS (
  SELECT doc_id, source, lang,
         LEN(LIST_DISTINCT(STRING_SPLIT(text, ' '))) AS score
  FROM documents
),
ranked AS (
  SELECT source, lang, doc_id, score,
         ROW_NUMBER() OVER (PARTITION BY source, lang
                            ORDER BY score DESC, doc_id DESC) AS rb,
         ROW_NUMBER() OVER (PARTITION BY source, lang
                            ORDER BY score ASC, doc_id ASC) AS rw,
         COUNT(*) OVER (PARTITION BY source, lang) AS n
  FROM scored
),
best AS (SELECT source, lang, doc_id AS chosen_id,
                score AS chosen_score, n FROM ranked WHERE rb = 1),
worst AS (SELECT source, lang, doc_id AS rejected_id,
                 score AS rejected_score FROM ranked WHERE rw = 1)
SELECT b.source, b.lang, b.chosen_id, b.chosen_score,
       w.rejected_id, w.rejected_score,
       b.chosen_score - w.rejected_score AS margin
FROM best b JOIN worst w ON b.source = w.source AND b.lang = w.lang
WHERE b.n >= 2 AND b.chosen_score - w.rejected_score > 0
""", "DPO/RLHF preference-pair construction: within each (source, "
     "lang) stratum - the 'responses to the same prompt' proxy - the "
     "highest-scoring document becomes `chosen` and the lowest "
     "`rejected`, with a required positive margin so degenerate "
     "equal-quality pairs are excluded. The scorer here is exact "
     "lexical diversity (distinct-token count; swap in any per-doc "
     "quality model score at no plan change). ONE grouped aggregate "
     "with max_by/min_by on a (score, doc_id) composite - no window "
     "over row data, no self-join of documents; group cardinality = "
     "strata, so hot strata collapse map-side. The pair table is what "
     "a DPO trainer consumes as (prompt-group, chosen, rejected).")
def k_preference_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    scored = d.select(
        "doc_id", "source", "lang",
        F.size(F.array_distinct(F.split("text", " "))).cast("bigint")
         .alias("score"),
    )
    pairs = scored.groupBy("source", "lang").agg(
        F.count("*").alias("n"),
        F.max_by("doc_id", F.struct("score", "doc_id")).alias("chosen_id"),
        F.max(F.struct("score", "doc_id")).getField("score")
         .alias("chosen_score"),
        F.min_by("doc_id", F.struct("score", "doc_id")).alias("rejected_id"),
        F.min(F.struct("score", "doc_id")).getField("score")
         .alias("rejected_score"),
    )
    return (
        pairs.filter((F.col("n") >= 2)
                     & (F.col("chosen_score") > F.col("rejected_score")))
        .select(
            "source", "lang", "chosen_id", "chosen_score",
            "rejected_id", "rejected_score",
            (F.col("chosen_score") - F.col("rejected_score")).alias("margin"),
        )
    )


@register("k_cohens_kappa", "D5", """
WITH rated AS (
  SELECT CASE WHEN value > 50 THEN 1 ELSE 0 END AS a,
         CASE WHEN value > 55 OR event_type = 'error' THEN 1 ELSE 0 END AS b
  FROM events
),
cells AS (
  SELECT COUNT(*) AS n,
         SUM(CASE WHEN a = 1 AND b = 1 THEN 1 ELSE 0 END) AS n11,
         SUM(CASE WHEN a = 1 AND b = 0 THEN 1 ELSE 0 END) AS n10,
         SUM(CASE WHEN a = 0 AND b = 1 THEN 1 ELSE 0 END) AS n01,
         SUM(CASE WHEN a = 0 AND b = 0 THEN 1 ELSE 0 END) AS n00
  FROM rated
)
SELECT n, CAST(n11 AS BIGINT) AS n11, CAST(n10 AS BIGINT) AS n10,
       CAST(n01 AS BIGINT) AS n01, CAST(n00 AS BIGINT) AS n00,
       ROUND(CAST(n11 + n00 AS DOUBLE) / n, 6) AS po,
       ROUND((CAST(n11 + n10 AS DOUBLE) / n) * (CAST(n11 + n01 AS DOUBLE) / n)
             + (CAST(n01 + n00 AS DOUBLE) / n) * (CAST(n10 + n00 AS DOUBLE) / n),
             6) AS pe,
       ROUND((CAST(n11 + n00 AS DOUBLE) / n
              - ((CAST(n11 + n10 AS DOUBLE) / n) * (CAST(n11 + n01 AS DOUBLE) / n)
                 + (CAST(n01 + n00 AS DOUBLE) / n) * (CAST(n10 + n00 AS DOUBLE) / n)))
             / (1.0 - ((CAST(n11 + n10 AS DOUBLE) / n) * (CAST(n11 + n01 AS DOUBLE) / n)
                 + (CAST(n01 + n00 AS DOUBLE) / n) * (CAST(n10 + n00 AS DOUBLE) / n))),
             6) AS kappa
FROM cells
""", "Cohen's kappa inter-rater agreement - the labeling-QA metric "
     "every RLHF/classifier pipeline reports: two deterministic "
     "'raters' (threshold rules over events; swap in real annotator "
     "columns at no plan change) reduce to one 2x2 contingency row "
     "(map-side-partial conditional counts), and kappa = "
     "(po - pe)/(1 - pe) evaluates on exact integers with doubles "
     "only in the final formula - identical expression tree both "
     "engines, bit-exact hash. One scan, one aggregate row, any "
     "corpus size.")
def k_cohens_kappa(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    a = F.when(F.col("value") > 50, 1).otherwise(0)
    b = F.when((F.col("value") > 55) | (F.col("event_type") == "error"), 1).otherwise(0)
    cells = ev.select(a.alias("a"), b.alias("b")).agg(
        F.count("*").alias("n"),
        F.sum(F.when((F.col("a") == 1) & (F.col("b") == 1), 1).otherwise(0)).alias("n11"),
        F.sum(F.when((F.col("a") == 1) & (F.col("b") == 0), 1).otherwise(0)).alias("n10"),
        F.sum(F.when((F.col("a") == 0) & (F.col("b") == 1), 1).otherwise(0)).alias("n01"),
        F.sum(F.when((F.col("a") == 0) & (F.col("b") == 0), 1).otherwise(0)).alias("n00"),
    )
    n = F.col("n").cast("double")
    po = (F.col("n11") + F.col("n00")).cast("double") / F.col("n")
    pe = ((F.col("n11") + F.col("n10")).cast("double") / F.col("n")) \
        * ((F.col("n11") + F.col("n01")).cast("double") / F.col("n")) \
        + ((F.col("n01") + F.col("n00")).cast("double") / F.col("n")) \
        * ((F.col("n10") + F.col("n00")).cast("double") / F.col("n"))
    return cells.select(
        "n", "n11", "n10", "n01", "n00",
        F.round(po, 6).alias("po"),
        F.round(pe, 6).alias("pe"),
        F.round((po - pe) / (F.lit(1.0) - pe), 6).alias("kappa"),
    )


@register("k_chi_square_independence", "D5", """
WITH cells AS (
  SELECT lang, source, COUNT(*) AS o FROM documents GROUP BY 1, 2
),
tot AS (SELECT SUM(o) AS n FROM cells),
rows_ AS (SELECT lang, SUM(o) AS rt FROM cells GROUP BY 1),
cols_ AS (SELECT source, SUM(o) AS ct FROM cells GROUP BY 1),
contrib AS (
  SELECT c.lang, c.source,
         POWER(CAST(c.o AS DOUBLE)
               - CAST(r.rt AS DOUBLE) * CAST(co.ct AS DOUBLE) / CAST(t.n AS DOUBLE), 2)
           / (CAST(r.rt AS DOUBLE) * CAST(co.ct AS DOUBLE) / CAST(t.n AS DOUBLE)) AS x
  FROM cells c
  JOIN rows_ r ON c.lang = r.lang
  JOIN cols_ co ON c.source = co.source
  CROSS JOIN tot t
),
dims AS (SELECT COUNT(DISTINCT lang) AS nr, COUNT(DISTINCT source) AS nc FROM cells)
SELECT ROUND(SUM(x), 6) AS chi2,
       (SELECT (nr - 1) * (nc - 1) FROM dims) AS dof
FROM contrib
""", "Chi-square test of independence over the (lang x source) "
     "contingency table - 'does document source predict language', "
     "the dataset-bias screen a corpus audit runs. Observed counts "
     "and marginals are exact integers from ONE grouped count (cell "
     "cardinality = |langs| x |sources|, corpus-size independent); "
     "expected counts and the statistic evaluate in doubles over "
     "identical expression trees, broadcast-joined marginals. The "
     "same plan computes any categorical-pair audit at 100 TB.")
def k_chi_square_independence(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    cells = d.groupBy("lang", "source").agg(F.count("*").alias("o"))
    tot = cells.agg(F.sum("o").alias("n"))
    rows_ = cells.groupBy("lang").agg(F.sum("o").alias("rt"))
    cols_ = cells.groupBy("source").agg(F.sum("o").alias("ct"))
    e = (F.col("rt").cast("double") * F.col("ct").cast("double")
         / F.col("n").cast("double"))
    contrib = (
        cells.join(F.broadcast(rows_), "lang")
        .join(F.broadcast(cols_), "source")
        .crossJoin(F.broadcast(tot))
        .select(F.pow(F.col("o").cast("double") - e, 2).alias("num"),
                e.alias("den"))
        .select((F.col("num") / F.col("den")).alias("x"))
    )
    dims = cells.agg(
        ((F.countDistinct("lang") - 1) * (F.countDistinct("source") - 1))
        .cast("bigint").alias("dof"))
    return (
        contrib.agg(F.round(F.sum("x"), 6).alias("chi2"))
        .crossJoin(F.broadcast(dims))
    )


@register("k_epoch_shuffle", "K1+F1", """
WITH h AS (
  SELECT doc_id,
         CAST(('0x' || SUBSTR(MD5('epoch1|' || CAST(doc_id AS VARCHAR)), 1, 15))
              AS BIGINT) AS pos1,
         CAST(('0x' || SUBSTR(MD5('epoch2|' || CAST(doc_id AS VARCHAR)), 1, 15))
              AS BIGINT) AS pos2
  FROM documents
),
r AS (
  SELECT doc_id,
         ROW_NUMBER() OVER (ORDER BY pos1, doc_id) AS order_epoch1,
         ROW_NUMBER() OVER (ORDER BY pos2, doc_id) AS order_epoch2
  FROM h
)
SELECT doc_id, order_epoch1, order_epoch2
FROM r
ORDER BY order_epoch1
LIMIT 100
""", "Reproducible per-epoch training shuffle: each epoch's order is "
     "rank-of-hash(seed || doc_id) - deterministic, seed-switchable, "
     "and identical on every worker/re-run without materializing a "
     "permutation (the property data loaders need for resumable "
     "multi-epoch training; two epochs shown, decorrelated by seed). "
     "The demo ranks via the two-pass distributed order primitive "
     "shape (rank = count of smaller hashes); at 100 TB the rank "
     "itself is usually unnecessary - ORDER BY the hash directly in "
     "each epoch's reader - so the plan is a projection, a sort for "
     "the page, and nothing else.")
def k_epoch_shuffle(spark: SparkSession, sf_dir: str) -> DataFrame:
    from cassandra_elasticsearch_sync_spark.operators.distributed_order import (
        with_global_order,
    )
    from cassandra_elasticsearch_sync_spark.pipeline.hashing import portable_hash60

    d = load_table(spark, sf_dir, "documents")
    h = d.select(
        "doc_id",
        portable_hash60(F.concat(F.lit("epoch1|"),
                                 F.col("doc_id").cast("string"))).alias("pos1"),
        portable_hash60(F.concat(F.lit("epoch2|"),
                                 F.col("doc_id").cast("string"))).alias("pos2"),
    )
    r1, _ = with_global_order(h, [F.col("pos1"), F.col("doc_id")],
                              rank_col="order_epoch1")
    r2, _ = with_global_order(r1, [F.col("pos2"), F.col("doc_id")],
                              rank_col="order_epoch2")
    return (
        r2.select("doc_id", "order_epoch1", "order_epoch2")
        .orderBy("order_epoch1")
        .limit(100)
    )


@register("k_target_encoding", "K1+D1", """
WITH t AS (
  SELECT c_custkey, c_mktsegment,
         CAST(ROUND(c_acctbal * 100) AS BIGINT) AS cents
  FROM customer
),
seg AS (
  SELECT c_mktsegment, COUNT(*) AS n_cat,
         CAST(SUM(cents) AS BIGINT) AS sum_cat
  FROM t GROUP BY 1
),
prior AS (
  SELECT COUNT(*) AS n_all, CAST(SUM(cents) AS BIGINT) AS sum_all FROM t
)
SELECT t.c_custkey, t.c_mktsegment,
       ROUND((CAST(sum_cat - cents AS DOUBLE) / (n_cat - 1)) / 100.0, 6)
         AS loo_encoding,
       ROUND(((CAST(sum_cat - cents AS DOUBLE) / (n_cat - 1)) * (n_cat - 1)
              + 20.0 * (CAST(sum_all AS DOUBLE) / n_all))
             / ((n_cat - 1) + 20.0) / 100.0, 6) AS smoothed_encoding
FROM t JOIN seg USING (c_mktsegment) CROSS JOIN prior
""", "Leave-one-out target encoding with additive smoothing - the "
     "categorical-feature prep a tabular ML pipeline runs before "
     "training: each customer's segment encodes as the mean target "
     "(balance) of the OTHER members (LOO kills the self-leakage that "
     "makes naive target encoding overfit), shrunk toward the global "
     "prior with pseudo-count 20. Exact integer cents until the final "
     "division; ONE grouped aggregate per category (broadcast back) + "
     "a 1-row prior - no window, no self-join, category cardinality "
     "never concentrates. The identical plan serves any "
     "(category, target) pair at 100 TB.")
def k_target_encoding(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load_table(spark, sf_dir, "customer")
    t = c.select(
        "c_custkey", "c_mktsegment",
        F.round(F.col("c_acctbal") * 100).cast("bigint").alias("cents"),
    )
    seg = t.groupBy("c_mktsegment").agg(
        F.count("*").alias("n_cat"), F.sum("cents").alias("sum_cat"))
    prior = t.agg(F.count("*").alias("n_all"), F.sum("cents").alias("sum_all"))
    loo = (F.col("sum_cat") - F.col("cents")).cast("double") / (F.col("n_cat") - 1)
    pri = F.col("sum_all").cast("double") / F.col("n_all")
    return (
        t.join(F.broadcast(seg), "c_mktsegment").crossJoin(F.broadcast(prior))
        .select(
            "c_custkey", "c_mktsegment",
            F.round(loo / 100.0, 6).alias("loo_encoding"),
            F.round((loo * (F.col("n_cat") - 1) + F.lit(20.0) * pri)
                    / ((F.col("n_cat") - 1) + F.lit(20.0)) / 100.0, 6)
             .alias("smoothed_encoding"),
        )
    )


@register("k_calibration_bins", "D5+K1", """
WITH scored AS (
  SELECT LEAST(GREATEST(value / 100.0, 0.0), 1.0) AS score,
         CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS label
  FROM events
),
binned AS (
  SELECT LEAST(CAST(FLOOR(score * 10) AS BIGINT), 9) AS bin, score, label
  FROM scored
)
SELECT bin, COUNT(*) AS n,
       ROUND(AVG(score), 6) AS mean_score,
       ROUND(CAST(SUM(label) AS DOUBLE) / COUNT(*), 6) AS observed_rate,
       ROUND(SUM(POWER(score - label, 2)) / COUNT(*), 6) AS brier
FROM binned
GROUP BY bin
""", "Calibration-curve bins + per-bin Brier score - the "
     "classifier-QA readout (predicted probability vs observed rate "
     "per decile) behind every model-monitoring dashboard; the "
     "'score' here is a deterministic transform of the event value "
     "standing in for a model-score column. One grouped aggregate "
     "over 10 fixed bins, map-side partial, corpus-size independent "
     "output. AVG/POWER accumulate per-bin in doubles with identical "
     "expression trees both engines; scores are value/100 exact "
     "two-decimal doubles so the sums are order-safe at these "
     "magnitudes.")
def k_calibration_bins(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    score = F.least(F.greatest(F.col("value") / 100.0, F.lit(0.0)), F.lit(1.0))
    label = F.when(F.col("event_type") == "purchase", 1).otherwise(0)
    binned = ev.select(
        F.least(F.floor(score * 10).cast("bigint"), F.lit(9)).alias("bin"),
        score.alias("score"), label.alias("label"),
    )
    return binned.groupBy("bin").agg(
        F.count("*").alias("n"),
        F.round(F.avg("score"), 6).alias("mean_score"),
        F.round(F.sum("label").cast("double") / F.count("*"), 6)
         .alias("observed_rate"),
        F.round(F.sum(F.pow(F.col("score") - F.col("label"), 2))
                / F.count("*"), 6).alias("brier"),
    )


@register("k_roc_auc", "D5+E3", """
WITH scored AS (
  SELECT CAST(ROUND(value * 100) AS BIGINT) AS score,
         CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS label
  FROM events
),
grp AS (
  SELECT score, CAST(SUM(label) AS BIGINT) AS pos,
         CAST(SUM(1 - label) AS BIGINT) AS neg
  FROM scored GROUP BY score
),
cum AS (
  SELECT score, pos, neg,
         SUM(neg) OVER (ORDER BY score ROWS UNBOUNDED PRECEDING) - neg
           AS neg_below
  FROM grp
),
agg AS (
  SELECT CAST(SUM(pos) AS BIGINT) AS n_pos,
         CAST(SUM(neg) AS BIGINT) AS n_neg,
         CAST(SUM(pos * (2 * neg_below + neg)) AS BIGINT) AS auc_num2
  FROM cum
)
SELECT n_pos, n_neg, auc_num2,
       ROUND(CAST(auc_num2 AS DOUBLE) / (2.0 * n_pos * n_neg), 6) AS auc
FROM agg
""", "Exact distributed ROC-AUC with tie handling: AUC = P(score_pos "
     "> score_neg) + P(=)/2, computed from per-score-value "
     "(pos, neg) counts and the running count of negatives below - "
     "2*numerator = SUM(pos * (2*neg_below + neg)) stays an exact "
     "BIGINT (ties contribute the half-credit term with no "
     "fractions), one IEEE division at the edge. The running count "
     "uses the two-pass range-partitioned cumsum primitive, NOT a "
     "single-partition window - score-value cardinality can be "
     "millions and it still distributes. The sort-free pair-counting "
     "restatement of the Mann-Whitney U, the eval metric every "
     "classifier gate reports, at any corpus size.")
def k_roc_auc(spark: SparkSession, sf_dir: str) -> DataFrame:
    from cassandra_elasticsearch_sync_spark.operators.distributed_order import (
        with_global_order,
    )

    ev = load_table(spark, sf_dir, "events")
    scored = ev.select(
        F.round(F.col("value") * 100).cast("bigint").alias("score"),
        F.when(F.col("event_type") == "purchase", 1).otherwise(0).alias("label"),
    )
    grp = scored.groupBy("score").agg(
        F.sum("label").cast("bigint").alias("pos"),
        F.sum(1 - F.col("label")).cast("bigint").alias("neg"),
    )
    cum, _ = with_global_order(
        grp, [F.col("score")], cumsum_of="neg", cumsum_col="cum_neg")
    cum = cum.withColumn("neg_below", F.col("cum_neg") - F.col("neg"))
    agg = cum.agg(
        F.sum("pos").cast("bigint").alias("n_pos"),
        F.sum("neg").cast("bigint").alias("n_neg"),
        F.sum(F.col("pos") * (2 * F.col("neg_below") + F.col("neg")))
         .cast("bigint").alias("auc_num2"),
    )
    return agg.select(
        "n_pos", "n_neg", "auc_num2",
        F.round(F.col("auc_num2").cast("double")
                / (2.0 * F.col("n_pos") * F.col("n_neg")), 6).alias("auc"),
    )


@register("k_pr_curve", "D5+E3", """
WITH scored AS (
  SELECT LEAST(GREATEST(value / 100.0, 0.0), 1.0) AS score,
         CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS label
  FROM events
),
th AS (SELECT UNNEST([0.1, 0.2, 0.3, 0.4, 0.5, 0.6, 0.7, 0.8, 0.9]) AS threshold)
SELECT CAST(threshold AS DOUBLE) AS threshold,
       CAST(SUM(CASE WHEN score >= threshold AND label = 1 THEN 1 ELSE 0 END) AS BIGINT) AS tp,
       CAST(SUM(CASE WHEN score >= threshold AND label = 0 THEN 1 ELSE 0 END) AS BIGINT) AS fp,
       CAST(SUM(CASE WHEN score < threshold AND label = 1 THEN 1 ELSE 0 END) AS BIGINT) AS fn,
       ROUND(CAST(SUM(CASE WHEN score >= threshold AND label = 1 THEN 1 ELSE 0 END) AS DOUBLE)
             / NULLIF(SUM(CASE WHEN score >= threshold THEN 1 ELSE 0 END), 0), 6) AS precision_,
       ROUND(CAST(SUM(CASE WHEN score >= threshold AND label = 1 THEN 1 ELSE 0 END) AS DOUBLE)
             / NULLIF(SUM(CASE WHEN label = 1 THEN 1 ELSE 0 END), 0), 6) AS recall_
FROM scored CROSS JOIN th
GROUP BY threshold
""", "Precision/recall curve points at nine fixed thresholds - the "
     "operating-point table a deployment picks its cutoff from "
     "(complements k_roc_auc's single ranking number and "
     "k_calibration_bins' probability audit). One scan cross-joined "
     "with the broadcast 9-row threshold table -> one grouped "
     "aggregate of conditional counts; all integers until the two "
     "edge divisions, output forever 9 rows. The empty-slice case "
     "guards with NULLIF, matching SQL division semantics in both "
     "engines.")
def k_pr_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    score = F.least(F.greatest(F.col("value") / 100.0, F.lit(0.0)), F.lit(1.0))
    label = F.when(F.col("event_type") == "purchase", 1).otherwise(0)
    th = local_relation(
        spark, [(t / 10.0,) for t in range(1, 10)], "threshold double")
    s = ev.select(score.alias("score"), label.alias("label"))
    j = s.crossJoin(F.broadcast(th))
    pred = F.col("score") >= F.col("threshold")
    tp = F.sum(F.when(pred & (F.col("label") == 1), 1).otherwise(0)).cast("bigint")
    fp = F.sum(F.when(pred & (F.col("label") == 0), 1).otherwise(0)).cast("bigint")
    fn = F.sum(F.when(~pred & (F.col("label") == 1), 1).otherwise(0)).cast("bigint")
    npred = F.sum(F.when(pred, 1).otherwise(0))
    npos = F.sum(F.when(F.col("label") == 1, 1).otherwise(0))
    return j.groupBy("threshold").agg(
        tp.alias("tp"), fp.alias("fp"), fn.alias("fn"),
        F.round(tp.cast("double") / F.nullif(npred, F.lit(0)), 6)
         .alias("precision_"),
        F.round(tp.cast("double") / F.nullif(npos, F.lit(0)), 6)
         .alias("recall_"),
    )


@register("k_quantile_normalize", "K1+E1", """
WITH r AS (
  SELECT event_id, event_type, value,
         ROW_NUMBER() OVER (PARTITION BY event_type
                            ORDER BY value, event_id) AS rk,
         COUNT(*) OVER (PARTITION BY event_type) AS n
  FROM events
)
SELECT event_id, event_type, value,
       ROUND((CAST(rk AS DOUBLE) - 0.5) / n, 6) AS q_uniform
FROM r
""", "Quantile normalization: map each value to its within-group "
     "quantile position (rank - 0.5)/n - the rank-based feature "
     "transform that makes heavy-tailed features comparable across "
     "groups (and the first half of quantile-to-Gaussian mapping). "
     "Ranks come from the skew-proof grouped-order primitive: NO "
     "group is ever pinned to one reducer, so a group holding half "
     "the corpus normalizes at full parallelism - the exact place "
     "Window.partitionBy dies at 100 TB. Total order (value, "
     "event_id) makes ties deterministic; one division at the edge.")
def k_quantile_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    from cassandra_elasticsearch_sync_spark.operators.distributed_order import (
        with_grouped_order,
    )

    ev = load_table(spark, sf_dir, "events").select(
        "event_id", "event_type", "value")
    ranked = with_grouped_order(
        ev, ["event_type"], [F.col("value"), F.col("event_id")],
        rank_col="rk")
    counts = ev.groupBy("event_type").agg(F.count("*").alias("n"))
    return (
        ranked.join(F.broadcast(counts), "event_type")
        .select(
            "event_id", "event_type", "value",
            F.round((F.col("rk").cast("double") - 0.5) / F.col("n"), 6)
             .alias("q_uniform"),
        )
    )


@register("k_global_median_exact", "D6+F3", """
WITH r AS (
  SELECT value,
         ROW_NUMBER() OVER (ORDER BY value, event_id) AS rk,
         COUNT(*) OVER () AS n
  FROM events
)
SELECT CAST(MAX(n) AS BIGINT) AS n,
       CAST(SUM(value) / COUNT(*) AS DOUBLE) AS median
FROM r
WHERE rk = (n + 1) // 2 OR rk = (n + 2) // 2
""", "EXACT global median by distributed selection: the two middle "
     "order statistics are picked by global rank from the two-pass "
     "range-partitioned order primitive - no single-partition window, "
     "no full sort collected anywhere, just rank offsets + a filter "
     "(generalizes to any percentile and to top-k order statistics). "
     "approx_percentile (d6b) is the sketch answer; THIS is what to "
     "run when the answer must be exact at 100 TB - two passes over "
     "the column, each fully parallel. Even-n median averages the "
     "two middles with one division, both engines identical.")
def k_global_median_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    from cassandra_elasticsearch_sync_spark.operators.distributed_order import (
        with_global_order,
    )

    ev = load_table(spark, sf_dir, "events").select("event_id", "value")
    ranked, totals = with_global_order(
        ev, [F.col("value"), F.col("event_id")], rank_col="rk")
    n = totals["n_rows"]
    lo, hi = (n + 1) // 2, (n + 2) // 2
    mid = ranked.filter(F.col("rk").isin(lo, hi))
    return mid.agg(
        F.lit(n).cast("bigint").alias("n"),
        (F.sum("value") / F.count("*")).cast("double").alias("median"),
    )


@register("k_item_cooccurrence", "C9+E4", """
WITH li AS (SELECT l_orderkey, l_partkey FROM lineitem),
pairs AS (
  SELECT a.l_partkey AS part_a, b.l_partkey AS part_b,
         COUNT(*) AS n_cooc
  FROM li a JOIN li b
    ON a.l_orderkey = b.l_orderkey AND a.l_partkey <> b.l_partkey
  GROUP BY 1, 2
)
SELECT part_a, part_b, n_cooc, CAST(rn AS INT) AS rank
FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY part_a
                                   ORDER BY n_cooc DESC, part_b) AS rn
      FROM pairs)
WHERE rn <= 3
""", "Item co-occurrence recommendations ('customers who bought X "
     "also bought Y'): per-order item pairs counted into a "
     "co-occurrence matrix, top-3 partners per item - the "
     "collaborative-filtering baseline every commerce stack runs. "
     "The pair join is WITHIN-ORDER (equi-join on the order key), so "
     "its output is sum of basket_size^2 - bounded by the small, "
     "physically-capped basket size, never corpus-quadratic; the "
     "pair counts aggregate map-side and the per-item top-k windows "
     "over the aggregated matrix, not raw pairs. At 100 TB this is "
     "the exact plan: one self-equi-join + one grouped count + one "
     "bounded window.")
def k_item_cooccurrence(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_partkey")
    a, b = li.alias("a"), li.alias("b")
    pairs = (
        a.join(b, (F.col("a.l_orderkey") == F.col("b.l_orderkey"))
               & (F.col("a.l_partkey") != F.col("b.l_partkey")))
        .groupBy(F.col("a.l_partkey").alias("part_a"),
                 F.col("b.l_partkey").alias("part_b"))
        .agg(F.count("*").alias("n_cooc"))
    )
    w = Window.partitionBy("part_a").orderBy(
        F.col("n_cooc").desc(), F.col("part_b"))
    return (
        pairs.withColumn("rank", F.row_number().over(w).cast("int"))
        .filter(F.col("rank") <= 3)
    )


@register("k_time_weighted_avg", "K7+E2", """
WITH e AS (
  SELECT event_type,
         CAST(EPOCH(DATE_TRUNC('second', ts)) AS BIGINT) AS es,
         CAST(ROUND(value * 100) AS BIGINT) AS cents,
         event_id
  FROM events
),
seg AS (
  SELECT event_type, cents,
         LEAD(es) OVER (PARTITION BY event_type
                        ORDER BY es, event_id) - es AS dur
  FROM e
)
SELECT event_type,
       CAST(SUM(dur) AS BIGINT) AS total_seconds,
       CAST(SUM(cents * dur) AS BIGINT) AS weighted_sum,
       ROUND(CAST(SUM(cents * dur) AS DOUBLE) / SUM(dur) / 100.0, 6) AS twap
FROM seg WHERE dur IS NOT NULL AND dur > 0
GROUP BY event_type
""", "Time-weighted average (TWAP): each observation holds until the "
     "next one, so the mean weights values by their holding DURATION "
     "- the correct average for irregularly-sampled series (prices, "
     "gauges, sensor states) where the arithmetic mean over-weights "
     "bursts. Durations come from one per-type LEAD window; the "
     "integral accumulates as exact integer cents x seconds with a "
     "single division at the edge. One shuffle on the series key; "
     "zero-duration segments (same-second repeats) are excluded on "
     "both sides identically.")
def k_time_weighted_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    ev = load_table(spark, sf_dir, "events").select(
        "event_type", "event_id",
        F.unix_timestamp(F.date_trunc("second", "ts")).alias("es"),
        F.round(F.col("value") * 100).cast("bigint").alias("cents"),
    )
    w = Window.partitionBy("event_type").orderBy("es", "event_id")
    seg = ev.withColumn("dur", F.lead("es").over(w) - F.col("es"))
    return (
        seg.filter(F.col("dur").isNotNull() & (F.col("dur") > 0))
        .groupBy("event_type")
        .agg(
            F.sum("dur").cast("bigint").alias("total_seconds"),
            F.sum(F.col("cents") * F.col("dur")).cast("bigint")
             .alias("weighted_sum"),
            F.round(F.sum(F.col("cents") * F.col("dur")).cast("double")
                    / F.sum("dur") / 100.0, 6).alias("twap"),
        )
    )


@register("k_wilson_lower_bound", "D5+F3", """
WITH s AS (
  SELECT user_id,
         COUNT(*) AS n,
         SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS pos
  FROM events GROUP BY user_id HAVING COUNT(*) >= 20
),
w AS (
  SELECT user_id, n, pos,
         CAST(pos AS DOUBLE) / n AS p_hat,
         (CAST(pos AS DOUBLE) / n + 1.96 * 1.96 / (2 * n)
          - 1.96 * SQRT((CAST(pos AS DOUBLE) / n
                         * (1.0 - CAST(pos AS DOUBLE) / n)
                         + 1.96 * 1.96 / (4 * n)) / n))
           / (1.0 + 1.96 * 1.96 / n) AS wlb
  FROM s
)
SELECT user_id, n, CAST(pos AS BIGINT) AS pos,
       ROUND(p_hat, 6) AS p_hat, ROUND(wlb, 6) AS wilson_lb
FROM w
ORDER BY wlb DESC, user_id
LIMIT 25
""", "Wilson-score lower bound ranking: users ordered by the "
     "LOWER CONFIDENCE BOUND of their purchase rate, not the raw "
     "rate - the standard fix for 'sort by rating' rankings where "
     "2/2 must not beat 95/100 (z = 1.96). Counts are exact from one "
     "grouped aggregate; the bound evaluates in doubles with an "
     "identical expression tree both engines (sqrt is "
     "correctly-rounded IEEE, the engine's one sanctioned libm-free "
     "transcendental), then a TakeOrderedAndProject picks the page. "
     "The exact plan a review/CTR leaderboard runs at any scale.")
def k_wilson_lower_bound(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    s = ev.groupBy("user_id").agg(
        F.count("*").alias("n"),
        F.sum(F.when(F.col("event_type") == "purchase", 1).otherwise(0))
         .alias("pos"),
    ).filter(F.col("n") >= 20)
    z = 1.96
    p = F.col("pos").cast("double") / F.col("n")
    wlb = (p + z * z / (2 * F.col("n"))
           - z * F.sqrt((p * (F.lit(1.0) - p) + z * z / (4 * F.col("n")))
                        / F.col("n"))) / (F.lit(1.0) + z * z / F.col("n"))
    return (
        s.select("user_id", "n", "pos",
                 F.round(p, 6).alias("p_hat"),
                 F.round(wlb, 6).alias("wilson_lb"),
                 wlb.alias("_w"))
        .orderBy(F.col("_w").desc(), "user_id")
        .limit(25)
        .drop("_w")
    )


# ---------------------------------------------------------------------------
# A/B experiment analysis: two-proportion z-test + CUPED variance reduction
# ---------------------------------------------------------------------------

@register("k_ab_ztest", "D5+H3", """
WITH u AS (
  SELECT user_id, user_id % 2 AS variant,
         MAX(CASE WHEN event_type = 'purchase' AND value > 150 THEN 1
                  ELSE 0 END) AS converted
  FROM events GROUP BY user_id
),
v AS (
  SELECT variant, COUNT(*) AS n_users, SUM(converted) AS n_conv
  FROM u GROUP BY variant
),
w AS (
  SELECT MAX(CASE WHEN variant = 0 THEN n_users END) AS n_a,
         MAX(CASE WHEN variant = 0 THEN n_conv END) AS conv_a,
         MAX(CASE WHEN variant = 1 THEN n_users END) AS n_b,
         MAX(CASE WHEN variant = 1 THEN n_conv END) AS conv_b
  FROM v
)
SELECT CAST(n_a AS BIGINT) AS n_a, CAST(conv_a AS BIGINT) AS conv_a,
       CAST(n_b AS BIGINT) AS n_b, CAST(conv_b AS BIGINT) AS conv_b,
       ROUND(CAST(conv_a AS DOUBLE) / n_a, 6) AS rate_a,
       ROUND(CAST(conv_b AS DOUBLE) / n_b, 6) AS rate_b,
       ROUND((CAST(conv_b AS DOUBLE) / n_b - CAST(conv_a AS DOUBLE) / n_a)
             / SQRT((CAST(conv_a + conv_b AS DOUBLE) / (n_a + n_b))
                    * (1.0 - CAST(conv_a + conv_b AS DOUBLE) / (n_a + n_b))
                    * (1.0 / n_a + 1.0 / n_b)), 6) AS z_score
FROM w
""", "Two-proportion z-test for an A/B experiment: users split by a "
     "deterministic hash (user_id parity - never rand()), conversion "
     "= any qualifying purchase, pooled-variance z statistic. All "
     "counts are exact integers from two hash aggregates; the z is "
     "ONE double expression over them, written identically on both "
     "engines - the final-mile float rule every stats op here "
     "follows. At 100 TB this is two map-side-combinable groupBys "
     "and a 2-row reduction - nothing scales with users but the "
     "per-user aggregate.")
def k_ab_ztest(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events")
    u = e.groupBy("user_id").agg(
        F.max(F.when((F.col("event_type") == "purchase")
                     & (F.col("value") > 150), 1).otherwise(0))
        .alias("converted"),
    ).select((F.col("user_id") % 2).alias("variant"), "converted")
    v = u.groupBy("variant").agg(
        F.count("*").alias("n_users"), F.sum("converted").alias("n_conv"))
    w = v.agg(
        F.max(F.when(F.col("variant") == 0, F.col("n_users"))).alias("n_a"),
        F.max(F.when(F.col("variant") == 0, F.col("n_conv"))).alias("conv_a"),
        F.max(F.when(F.col("variant") == 1, F.col("n_users"))).alias("n_b"),
        F.max(F.when(F.col("variant") == 1, F.col("n_conv"))).alias("conv_b"),
    )
    ra = F.col("conv_a").cast("double") / F.col("n_a")
    rb = F.col("conv_b").cast("double") / F.col("n_b")
    pp = (F.col("conv_a") + F.col("conv_b")).cast("double") / \
         (F.col("n_a") + F.col("n_b"))
    z = (rb - ra) / F.sqrt(
        pp * (F.lit(1.0) - pp)
        * (F.lit(1.0) / F.col("n_a") + F.lit(1.0) / F.col("n_b")))
    return w.select(
        F.col("n_a").cast("bigint").alias("n_a"),
        F.col("conv_a").cast("bigint").alias("conv_a"),
        F.col("n_b").cast("bigint").alias("n_b"),
        F.col("conv_b").cast("bigint").alias("conv_b"),
        F.round(ra, 6).alias("rate_a"),
        F.round(rb, 6).alias("rate_b"),
        F.round(z, 6).alias("z_score"),
    )


@register("k_cuped_adjustment", "D5+H3", """
WITH u AS (
  SELECT user_id, user_id % 2 AS variant,
         CAST(COALESCE(SUM(CASE WHEN ts < TIMESTAMP '2024-01-16 00:00:00'
                                THEN CAST(value AS DECIMAL(18,2)) END),
                       0) AS DECIMAL(18,2)) AS x,
         CAST(COALESCE(SUM(CASE WHEN ts >= TIMESTAMP '2024-01-16 00:00:00'
                                 AND event_type = 'purchase'
                                THEN CAST(value AS DECIMAL(18,2)) END),
                       0) AS DECIMAL(18,2)) AS y
  FROM events GROUP BY user_id
),
g AS (
  SELECT COUNT(*) AS n, SUM(x) AS sx, SUM(y) AS sy,
         SUM(x * x) AS sxx, SUM(x * y) AS sxy, SUM(y * y) AS syy
  FROM u
),
v AS (
  SELECT variant, COUNT(*) AS nv, SUM(x) AS sxv, SUM(y) AS syv
  FROM u GROUP BY variant
)
SELECT variant, CAST(nv AS BIGINT) AS n_users,
       ROUND(CAST(syv AS DOUBLE) / nv, 6) AS mean_y,
       ROUND((CAST(syv AS DOUBLE)
              - ((n * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
                 / (n * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)))
                * (CAST(sxv AS DOUBLE) - nv * CAST(sx AS DOUBLE) / n)) / nv, 6)
         AS mean_y_cuped,
       ROUND((n * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
             / (n * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)),
             6) AS theta,
       ROUND(1.0 - (n * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
                   * (n * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
                   / ((n * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
                      * (n * CAST(syy AS DOUBLE) - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE))),
             6) AS var_ratio
FROM v CROSS JOIN g
ORDER BY variant
""", "CUPED variance reduction for the A/B readout: the pre-period "
     "covariate X (each user's pre-experiment activity) absorbs "
     "between-user variance from the post-period metric Y via "
     "theta = cov(X,Y)/var(X); var_ratio = 1 - rho^2 is the fraction "
     "of metric variance that survives - the industry-standard "
     "sensitivity boost (Deng et al., WSDM 2013, public). Every "
     "moment (sx, sy, sxx, sxy, syy) is an EXACT decimal sum from "
     "one per-user aggregate, so cross-engine floats appear only in "
     "the final one-row arithmetic - the same exact-sums-then-"
     "final-mile discipline as k7l's OLS. Scale: one per-user "
     "aggregate + a 2-row broadcast join; nothing quadratic, no "
     "windows.")
def k_cuped_adjustment(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events")
    cut = F.lit("2024-01-16 00:00:00").cast("timestamp")
    dec = F.col("value").cast("decimal(18,2)")
    u = e.groupBy("user_id").agg(
        F.coalesce(F.sum(F.when(F.col("ts") < cut, dec)), F.lit(0))
        .cast("decimal(18,2)").alias("x"),
        F.coalesce(F.sum(F.when((F.col("ts") >= cut)
                                & (F.col("event_type") == "purchase"), dec)),
                   F.lit(0)).cast("decimal(18,2)").alias("y"),
    ).select((F.col("user_id") % 2).alias("variant"), "x", "y")
    g = u.agg(
        F.count("*").alias("n"), F.sum("x").alias("sx"), F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
        F.sum(F.col("y") * F.col("y")).alias("syy"),
    )
    v = u.groupBy("variant").agg(
        F.count("*").alias("nv"),
        F.sum("x").alias("sxv"), F.sum("y").alias("syv"))
    j = v.crossJoin(F.broadcast(g))
    n, nv = F.col("n"), F.col("nv")
    sx, sy = F.col("sx").cast("double"), F.col("sy").cast("double")
    sxx = F.col("sxx").cast("double")
    sxy = F.col("sxy").cast("double")
    syy = F.col("syy").cast("double")
    sxv, syv = F.col("sxv").cast("double"), F.col("syv").cast("double")
    cov_n = n * sxy - sx * sy          # n^2 * cov
    varx_n = n * sxx - sx * sx         # n^2 * var(x)
    vary_n = n * syy - sy * sy
    theta = cov_n / varx_n
    return j.select(
        "variant",
        nv.cast("bigint").alias("n_users"),
        F.round(syv / nv, 6).alias("mean_y"),
        F.round((syv - theta * (sxv - nv * sx / n)) / nv, 6)
        .alias("mean_y_cuped"),
        F.round(theta, 6).alias("theta"),
        F.round(F.lit(1.0) - cov_n * cov_n / (varx_n * vary_n), 6)
        .alias("var_ratio"),
    ).orderBy("variant")


@register("k_rfm_segmentation", "K7+E1", """
WITH mx AS (
  SELECT MAX(CAST(EPOCH(DATE_TRUNC('second', ts)) AS BIGINT)) AS max_es
  FROM events
),
u AS (
  SELECT user_id,
         CAST(FLOOR(((SELECT max_es FROM mx)
                     - MAX(CAST(EPOCH(DATE_TRUNC('second', ts)) AS BIGINT)))
                    / 86400.0) AS BIGINT) AS recency_days,
         SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS frequency,
         CAST(COALESCE(SUM(CASE WHEN event_type = 'purchase'
                                THEN CAST(value AS DECIMAL(18,2)) END), 0)
              AS DECIMAL(18,2)) AS monetary
  FROM events GROUP BY user_id
),
n AS (SELECT COUNT(*) AS n_users FROM u),
s AS (
  SELECT user_id, recency_days, frequency, monetary,
         CAST(FLOOR((ROW_NUMBER() OVER (ORDER BY recency_days, user_id) - 1)
                    * 5.0 / (SELECT n_users FROM n)) AS INT) + 1 AS r_score,
         CAST(FLOOR((ROW_NUMBER() OVER (ORDER BY frequency DESC, user_id) - 1)
                    * 5.0 / (SELECT n_users FROM n)) AS INT) + 1 AS f_score,
         CAST(FLOOR((ROW_NUMBER() OVER (ORDER BY monetary DESC, user_id) - 1)
                    * 5.0 / (SELECT n_users FROM n)) AS INT) + 1 AS m_score
  FROM u
)
SELECT user_id, recency_days, CAST(frequency AS BIGINT) AS frequency,
       CAST(monetary AS DOUBLE) AS monetary, r_score, f_score, m_score,
       CASE WHEN r_score = 1 AND f_score <= 2 AND m_score <= 2
              THEN 'champion'
            WHEN r_score >= 4 AND f_score >= 4 THEN 'lapsed'
            ELSE 'core' END AS segment
FROM s
""", "RFM customer segmentation: per-user Recency / Frequency / "
     "Monetary from ONE event aggregate (monetary as exact decimal), "
     "then three quintile scores via the scale-safe two-pass global-"
     "rank primitive - NO single-partition NTILE window anywhere, so "
     "a billion-user table ranks in parallel (the bucket formula "
     "floor((rank-1)*5/n)+1 is pinned identically on both engines "
     "rather than NTILE, whose remainder placement is "
     "engine-conventional). Segment labels are the standard "
     "champion/lapsed/core carve over the score grid.")
def k_rfm_segmentation(spark: SparkSession, sf_dir: str) -> DataFrame:
    from cassandra_elasticsearch_sync_spark.operators.distributed_order import (
        with_global_order,
    )

    e = load_table(spark, sf_dir, "events").select(
        "user_id", "event_type",
        F.unix_timestamp(F.date_trunc("second", "ts")).alias("es"),
        F.col("value").cast("decimal(18,2)").alias("dv"),
    )
    mx = e.agg(F.max("es").alias("max_es"))
    u = (e.groupBy("user_id")
         .agg(F.max("es").alias("last_es"),
              F.sum(F.when(F.col("event_type") == "purchase", 1).otherwise(0))
              .alias("frequency"),
              F.coalesce(
                  F.sum(F.when(F.col("event_type") == "purchase",
                               F.col("dv"))),
                  F.lit(0)).cast("decimal(18,2)").alias("monetary"))
         .crossJoin(F.broadcast(mx))
         .select("user_id",
                 F.floor((F.col("max_es") - F.col("last_es")) / 86400.0)
                 .alias("recency_days"),
                 "frequency", "monetary"))

    def score(df: DataFrame, order: list, out: str) -> DataFrame:
        ranked, totals = with_global_order(df, order, rank_col="__rk")
        n = totals["n_rows"]
        return ranked.withColumn(
            out,
            (F.floor((F.col("__rk") - 1) * 5.0 / F.lit(float(n))) + 1)
            .cast("int"),
        ).drop("__rk")

    s = score(u, [F.col("recency_days"), F.col("user_id")], "r_score")
    s = score(s, [F.col("frequency").desc(), F.col("user_id")], "f_score")
    s = score(s, [F.col("monetary").desc(), F.col("user_id")], "m_score")
    seg = (F.when((F.col("r_score") == 1) & (F.col("f_score") <= 2)
                  & (F.col("m_score") <= 2), "champion")
           .when((F.col("r_score") >= 4) & (F.col("f_score") >= 4), "lapsed")
           .otherwise("core"))
    # ranks run on the exact decimal; the OUTPUT casts to double per
    # parity.py (driver pandas-canonicalization can't hash Decimals
    # consistently with DuckDB's float64) - cent values are exact in
    # double, nothing is lost
    return s.select("user_id", "recency_days",
                    F.col("frequency").cast("bigint").alias("frequency"),
                    F.col("monetary").cast("double").alias("monetary"),
                    "r_score", "f_score", "m_score",
                    seg.alias("segment"))


@register("k_windowed_funnel", "E3+I4", """
WITH e AS (
  SELECT user_id, event_type,
         CAST(EPOCH(DATE_TRUNC('second', ts)) AS BIGINT) AS es
  FROM events
),
u AS (SELECT COUNT(DISTINCT user_id) AS n_users FROM e),
l1 AS (SELECT COUNT(DISTINCT user_id) AS n FROM e WHERE event_type = 'signup'),
l2 AS (
  SELECT COUNT(DISTINCT s.user_id) AS n
  FROM e s JOIN e c
    ON c.user_id = s.user_id AND s.event_type = 'signup'
   AND c.event_type = 'click' AND s.es < c.es AND c.es - s.es <= 86400
),
l3 AS (
  SELECT COUNT(DISTINCT s.user_id) AS n
  FROM e s
  JOIN e c ON c.user_id = s.user_id AND s.event_type = 'signup'
          AND c.event_type = 'click' AND s.es < c.es
  JOIN e p ON p.user_id = s.user_id AND p.event_type = 'purchase'
          AND c.es < p.es AND p.es - s.es <= 86400
)
SELECT (SELECT n_users FROM u) AS n_users,
       (SELECT n FROM l1) AS n_level1,
       (SELECT n FROM l2) AS n_level2,
       (SELECT n FROM l3) AS n_level3
""", "Windowed funnel (the ClickHouse windowFunnel semantic): a user "
     "reaches level L when SOME chain signup < click < purchase fits "
     "inside a 24h window anchored at its own first step - not just "
     "the first occurrence of each type (funnel_conversion's cheaper "
     "semantic, which misses chains whose first signup was stale). "
     "The exists-a-chain quantifier compiles to two per-user RANGE-"
     "frame running maxima (latest signup strictly before each "
     "click, then the best such pair strictly before each purchase) "
     "- O(events) per user, windows partitioned by user_id, vs the "
     "oracle's cubic triple self-join; RANGE upper bound -1 pins "
     "STRICT precedence identically in both engines even when "
     "events share a truncated second (a rows-frame would tiebreak "
     "nondeterministically).")
def k_windowed_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    W = 86400
    e = load_table(spark, sf_dir, "events").select(
        "user_id", "event_type",
        F.unix_timestamp(F.date_trunc("second", "ts")).alias("es"),
    )
    before = (Window.partitionBy("user_id").orderBy("es")
              .rangeBetween(Window.unboundedPreceding, -1))
    sig_es = F.when(F.col("event_type") == "signup", F.col("es"))
    # latest signup STRICTLY before this event
    e = e.withColumn("ls", F.max(sig_es).over(before))
    # per click: does a signup within W precede it?
    click_ok = (F.col("event_type") == "click") & \
        (F.col("ls") >= F.col("es") - W)
    # best (latest) chain-start signup over clicks strictly before
    click_ls = F.when(F.col("event_type") == "click", F.col("ls"))
    e = e.withColumn("best_pair_ls", F.max(click_ls).over(before))
    purch_ok = (F.col("event_type") == "purchase") & \
        (F.col("best_pair_ls") >= F.col("es") - W)
    per_user = e.groupBy("user_id").agg(
        F.max(F.when(F.col("event_type") == "signup", 1).otherwise(0))
        .alias("l1"),
        F.max(F.when(click_ok, 1).otherwise(0)).alias("l2"),
        F.max(F.when(purch_ok, 1).otherwise(0)).alias("l3"),
    )
    return per_user.agg(
        F.count("*").alias("n_users"),
        F.sum("l1").alias("n_level1"),
        F.sum("l2").alias("n_level2"),
        F.sum("l3").alias("n_level3"),
    )


@register("k_classification_report", "D1+H3", """
WITH p AS (
  SELECT event_type AS label,
         CASE CAST(FLOOR(value) AS BIGINT) % 5
              WHEN 0 THEN 'click' WHEN 1 THEN 'error'
              WHEN 2 THEN 'purchase' WHEN 3 THEN 'signup'
              ELSE 'view' END AS pred
  FROM events
),
per AS (
  SELECT label AS cls,
         SUM(CASE WHEN pred = label THEN 1 ELSE 0 END) AS tp,
         COUNT(*) AS support
  FROM p GROUP BY label
),
pr AS (SELECT pred AS cls, COUNT(*) AS n_pred FROM p GROUP BY pred)
SELECT per.cls,
       CAST(per.tp AS BIGINT) AS tp,
       CAST(per.support AS BIGINT) AS support,
       CAST(COALESCE(pr.n_pred, 0) AS BIGINT) AS n_pred,
       ROUND(CAST(per.tp AS DOUBLE) / NULLIF(pr.n_pred, 0), 6) AS prec,
       ROUND(CAST(per.tp AS DOUBLE) / per.support, 6) AS recall,
       ROUND(2.0 * per.tp / NULLIF(pr.n_pred + per.support, 0), 6) AS f1
FROM per LEFT JOIN pr ON per.cls = pr.cls
ORDER BY per.cls
""", "Per-class classification report (precision / recall / F1 / "
     "support - the table every model-eval notebook prints): labels "
     "are the true event types, predictions come from a "
     "deterministic stand-in classifier (floor(value) mod 5 - the "
     "repo rule: never rand()), and every metric derives from two "
     "exact-integer hash aggregates joined on class, with the "
     "divisions as one final double expression (F1 computed as "
     "2*tp/(n_pred+support), identical algebra both engines). At "
     "100 TB: two map-side-combinable groupBys over the scored "
     "table and a 5-row join.")
def k_classification_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events")
    pred = (F.when(F.floor("value").cast("bigint") % 5 == 0, "click")
            .when(F.floor("value").cast("bigint") % 5 == 1, "error")
            .when(F.floor("value").cast("bigint") % 5 == 2, "purchase")
            .when(F.floor("value").cast("bigint") % 5 == 3, "signup")
            .otherwise("view"))
    p = e.select(F.col("event_type").alias("label"), pred.alias("pred"))
    per = p.groupBy(F.col("label").alias("cls")).agg(
        F.sum(F.when(F.col("pred") == F.col("label"), 1).otherwise(0))
        .alias("tp"),
        F.count("*").alias("support"))
    pr = p.groupBy(F.col("pred").alias("cls")).agg(
        F.count("*").alias("n_pred"))
    j = per.join(pr, "cls", "left")
    n_pred = F.coalesce(F.col("n_pred"), F.lit(0))
    return j.select(
        "cls",
        F.col("tp").cast("bigint").alias("tp"),
        F.col("support").cast("bigint").alias("support"),
        n_pred.cast("bigint").alias("n_pred"),
        F.round(F.col("tp").cast("double")
                / F.nullif(n_pred, F.lit(0)), 6).alias("prec"),
        F.round(F.col("tp").cast("double") / F.col("support"), 6)
        .alias("recall"),
        F.round(2.0 * F.col("tp")
                / F.nullif(n_pred + F.col("support"), F.lit(0)), 6)
        .alias("f1"),
    ).orderBy("cls")


_SPLIT_THRESHOLDS = (5, 10, 20, 40, 80, 160)

_SPLIT_SQL_CASES = "\n".join(
    f"         SUM(CASE WHEN value <= {t} THEN 1 ELSE 0 END) AS n_le_{t},\n"
    f"         SUM(CASE WHEN value <= {t} AND event_type = 'purchase'"
    f" THEN 1 ELSE 0 END) AS pos_le_{t},"
    for t in _SPLIT_THRESHOLDS)

_SPLIT_SQL_ROWS = "\nUNION ALL\n".join(
    f"SELECT {t} AS threshold, n_le_{t} AS n_le, pos_le_{t} AS pos_le,"
    f" n, pos FROM a" for t in _SPLIT_THRESHOLDS)


@register("k_best_split_gain", "D2+H3", f"""
WITH a AS (
  SELECT
{_SPLIT_SQL_CASES}
         COUNT(*) AS n,
         SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS pos
  FROM events
),
t AS ({_SPLIT_SQL_ROWS})
SELECT threshold,
       CAST(n_le AS BIGINT) AS n_left,
       CAST(n - n_le AS BIGINT) AS n_right,
       ROUND((1.0 - (CAST(pos AS DOUBLE) / n) * (CAST(pos AS DOUBLE) / n)
                  - (1.0 - CAST(pos AS DOUBLE) / n)
                    * (1.0 - CAST(pos AS DOUBLE) / n))
             - (CAST(n_le AS DOUBLE) / n)
               * (1.0 - (CAST(pos_le AS DOUBLE) / n_le)
                        * (CAST(pos_le AS DOUBLE) / n_le)
                      - (1.0 - CAST(pos_le AS DOUBLE) / n_le)
                        * (1.0 - CAST(pos_le AS DOUBLE) / n_le))
             - (CAST(n - n_le AS DOUBLE) / n)
               * (1.0 - (CAST(pos - pos_le AS DOUBLE) / (n - n_le))
                        * (CAST(pos - pos_le AS DOUBLE) / (n - n_le))
                      - (1.0 - CAST(pos - pos_le AS DOUBLE) / (n - n_le))
                        * (1.0 - CAST(pos - pos_le AS DOUBLE) / (n - n_le))),
             6) AS gini_gain
FROM t ORDER BY threshold
""", "Decision-split search (the inner loop of tree training / "
     "feature binning): Gini impurity gain of splitting on value <= "
     "t for a fixed threshold grid, predicting 'is a purchase'. ONE "
     "scan computes every threshold's left-side counts as "
     "conditional aggregates (no crossJoin replication of the fact "
     "table - the scan cost is independent of grid size), then the "
     "6-row unpivot and the pure-arithmetic Gini algebra (no logs, "
     "no zero-entropy edge cases) run on exact integers. The oracle "
     "computes the identical counts via the same single-aggregate "
     "shape.")
def k_best_split_gain(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events")
    aggs = [F.count("*").alias("n"),
            F.sum(F.when(F.col("event_type") == "purchase", 1).otherwise(0))
            .alias("pos")]
    for t in _SPLIT_THRESHOLDS:
        aggs.append(F.sum(F.when(F.col("value") <= t, 1).otherwise(0))
                    .alias(f"n_le_{t}"))
        aggs.append(F.sum(F.when((F.col("value") <= t)
                                 & (F.col("event_type") == "purchase"), 1)
                          .otherwise(0)).alias(f"pos_le_{t}"))
    a = e.agg(*aggs)
    rows = a.select(F.explode(F.array(*[
        F.struct(F.lit(t).alias("threshold"),
                 F.col(f"n_le_{t}").alias("n_le"),
                 F.col(f"pos_le_{t}").alias("pos_le"),
                 F.col("n"), F.col("pos"))
        for t in _SPLIT_THRESHOLDS])).alias("r")).select("r.*")

    def gini(pos, n):
        pr = pos.cast("double") / n
        return F.lit(1.0) - pr * pr - (F.lit(1.0) - pr) * (F.lit(1.0) - pr)

    n, n_le = F.col("n"), F.col("n_le")
    pos, pos_le = F.col("pos"), F.col("pos_le")
    gain = (gini(pos, n)
            - (n_le.cast("double") / n) * gini(pos_le, n_le)
            - ((n - n_le).cast("double") / n) * gini(pos - pos_le, n - n_le))
    return rows.select(
        "threshold",
        n_le.cast("bigint").alias("n_left"),
        (n - n_le).cast("bigint").alias("n_right"),
        F.round(gain, 6).alias("gini_gain"),
    ).orderBy("threshold")


@register("k_impute_missing", "D1+B6", """
WITH e AS (
  SELECT event_id, user_id,
         CASE WHEN event_type = 'error' THEN NULL ELSE value END AS v
  FROM events
),
m AS (
  SELECT user_id,
         CAST(SUM(CAST(v AS DECIMAL(18,2))) AS DOUBLE) / COUNT(v) AS mu
  FROM e GROUP BY user_id
)
SELECT e.event_id,
       ROUND(e.v, 6) AS value_raw,
       ROUND(COALESCE(e.v, m.mu), 6) AS value_imputed,
       (e.v IS NULL) AS was_missing
FROM e JOIN m USING (user_id)
""", "Group-mean imputation (the fill-missing step of every feature "
     "pipeline): 'error' readings are treated as missing and filled "
     "with THAT USER's mean of observed values - one per-user "
     "aggregate with exact decimal sums (the mean's only float op "
     "is the final division, identical both engines) joined back on "
     "the grouping key. At 100 TB: a map-side-combinable groupBy + "
     "one shuffle join on user_id; never a global statistic pulled "
     "to the driver. Users with no observed values keep NULL - "
     "imputation never invents data.")
def k_impute_missing(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events").select(
        "event_id", "user_id",
        F.when(F.col("event_type") == "error", None)
        .otherwise(F.col("value")).alias("v"),
    )
    m = e.groupBy("user_id").agg(
        (F.sum(F.col("v").cast("decimal(18,2)")).cast("double")
         / F.count("v")).alias("mu"))
    return (e.join(m, "user_id")
            .select("event_id",
                    F.round("v", 6).alias("value_raw"),
                    F.round(F.coalesce(F.col("v"), F.col("mu")), 6)
                    .alias("value_imputed"),
                    F.col("v").isNull().alias("was_missing")))


@register("k_winsorize", "D6+B6", """
WITH q AS (
  SELECT event_type,
         QUANTILE_CONT(value, 0.05) AS p05,
         QUANTILE_CONT(value, 0.95) AS p95
  FROM events GROUP BY event_type
)
SELECT e.event_id,
       ROUND(CASE WHEN e.value < q.p05 THEN q.p05
                  WHEN e.value > q.p95 THEN q.p95
                  ELSE e.value END, 6) AS value_w,
       (e.value < q.p05 OR e.value > q.p95) AS clipped
FROM events e JOIN q USING (event_type)
""", "Winsorization (outlier clipping at per-group P5/P95 - the "
     "robust-scaling prep step): exact interpolated quantiles per "
     "event type (5 fixed groups, the bounded-cardinality exact-"
     "percentile case D6 documents; approx_percentile is the "
     "high-cardinality swap), broadcast back onto the events and "
     "clipped with a branch-free CASE. Quantile parity with DuckDB "
     "QUANTILE_CONT is the established d6 contract.")
def k_winsorize(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events")
    q = e.groupBy("event_type").agg(
        F.expr("percentile(value, 0.05)").alias("p05"),
        F.expr("percentile(value, 0.95)").alias("p95"))
    j = e.join(F.broadcast(q), "event_type")
    vw = (F.when(F.col("value") < F.col("p05"), F.col("p05"))
          .when(F.col("value") > F.col("p95"), F.col("p95"))
          .otherwise(F.col("value")))
    return j.select(
        "event_id",
        F.round(vw, 6).alias("value_w"),
        ((F.col("value") < F.col("p05"))
         | (F.col("value") > F.col("p95"))).alias("clipped"))


@register("k_rolling_count_features", "E3+K7", """
WITH e AS (
  SELECT event_id, user_id,
         CAST(EPOCH(DATE_TRUNC('second', ts)) AS BIGINT) AS es
  FROM events
)
SELECT a.event_id,
       (SELECT COUNT(*) FROM e b
        WHERE b.user_id = a.user_id
          AND b.es >= a.es - 3600 AND b.es < a.es) AS n_prev_1h,
       (SELECT COUNT(*) FROM e b
        WHERE b.user_id = a.user_id
          AND b.es >= a.es - 86400 AND b.es < a.es) AS n_prev_24h
FROM e a
""", "Velocity features (the fraud/abuse feature-store staple): for "
     "every event, how many events did the SAME user emit in the "
     "preceding hour and day - two RANGE-interval frames over one "
     "per-user window ordering (upper bound -1 pins STRICT "
     "precedence, deterministic even on tied seconds), so both "
     "horizons ride a single shuffle partitioned by user_id. The "
     "oracle quantifies the same counts with correlated subqueries "
     "- quadratic per user, which is exactly what the window form "
     "avoids at scale.")
def k_rolling_count_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    e = load_table(spark, sf_dir, "events").select(
        "event_id", "user_id",
        F.unix_timestamp(F.date_trunc("second", "ts")).alias("es"),
    )
    w1h = (Window.partitionBy("user_id").orderBy("es")
           .rangeBetween(-3600, -1))
    w24 = (Window.partitionBy("user_id").orderBy("es")
           .rangeBetween(-86400, -1))
    return e.select(
        "event_id",
        F.count("*").over(w1h).alias("n_prev_1h"),
        F.count("*").over(w24).alias("n_prev_24h"),
    )


@register("k_spearman_corr", "D5+E1", """
WITH spend AS (
  SELECT o_custkey AS custkey,
         SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS spend_cents
  FROM orders GROUP BY 1
),
pts AS (
  SELECT c.c_nationkey AS nationkey, c.c_custkey AS custkey,
         CAST(ROUND(c.c_acctbal * 100) AS BIGINT) AS bal_cents,
         s.spend_cents
  FROM customer c JOIN spend s ON c.c_custkey = s.custkey
),
rn AS (
  SELECT nationkey, custkey, bal_cents, spend_cents,
         ROW_NUMBER() OVER (PARTITION BY nationkey
                            ORDER BY bal_cents, custkey) AS rx,
         ROW_NUMBER() OVER (PARTITION BY nationkey
                            ORDER BY spend_cents, custkey) AS ry
  FROM pts
),
ranked AS (
  SELECT nationkey, custkey,
         CAST(2 * AVG(rx) OVER (PARTITION BY nationkey, bal_cents)
              AS BIGINT) AS x2,
         CAST(2 * AVG(ry) OVER (PARTITION BY nationkey, spend_cents)
              AS BIGINT) AS y2
  FROM rn
),
sums AS (
  SELECT nationkey, COUNT(*) AS n,
         CAST(SUM(x2) AS DOUBLE) AS sx, CAST(SUM(y2) AS DOUBLE) AS sy,
         CAST(SUM(x2 * y2) AS DOUBLE) AS sxy,
         CAST(SUM(x2 * x2) AS DOUBLE) AS sxx,
         CAST(SUM(y2 * y2) AS DOUBLE) AS syy
  FROM ranked GROUP BY 1
)
SELECT nationkey, n,
       ROUND((n * sxy - sx * sy)
             / SQRT((n * sxx - sx * sx) * (n * syy - sy * sy)), 6)
         AS spearman_rho
FROM sums WHERE n >= 3
""", "Spearman rank correlation per nation between a customer's "
     "account balance and their lifetime spend - the robust "
     "(monotone-invariant) dependence measure feature stores "
     "publish. Tied values take fractional average ranks "
     "(AVG(row_number) over the tie group, doubled to stay "
     "integer); the Pearson formula then runs over exact integer "
     "rank sums cast to double only at the final combination - "
     "every intermediate is exactly representable, so the 6-dp "
     "round is engine-independent. Two windows and one grouped "
     "aggregate, all partitioned by nation: the per-group shape "
     "scales to any number of groups, and within-group size is "
     "customer-per-nation bounded.")
def k_spearman_corr(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer")
    spend = orders.groupBy(F.col("o_custkey").alias("custkey")).agg(
        F.sum(F.round(F.col("o_totalprice") * 100).cast("bigint"))
        .alias("spend_cents"))
    pts = (cust.join(spend, cust.c_custkey == spend.custkey)
           .select(F.col("c_nationkey").alias("nationkey"),
                   F.col("c_custkey").alias("custkey"),
                   F.round(F.col("c_acctbal") * 100).cast("bigint")
                   .alias("bal_cents"),
                   "spend_cents"))
    wx = Window.partitionBy("nationkey").orderBy("bal_cents", "custkey")
    wy = Window.partitionBy("nationkey").orderBy("spend_cents", "custkey")
    rn = pts.select("nationkey", "custkey", "bal_cents", "spend_cents",
                    F.row_number().over(wx).alias("rx"),
                    F.row_number().over(wy).alias("ry"))
    tx = Window.partitionBy("nationkey", "bal_cents")
    ty = Window.partitionBy("nationkey", "spend_cents")
    ranked = rn.select(
        "nationkey", "custkey",
        (2 * F.avg("rx").over(tx)).cast("bigint").alias("x2"),
        (2 * F.avg("ry").over(ty)).cast("bigint").alias("y2"))
    sums = ranked.groupBy("nationkey").agg(
        F.count("*").alias("n"),
        F.sum("x2").cast("double").alias("sx"),
        F.sum("y2").cast("double").alias("sy"),
        F.sum(F.col("x2") * F.col("y2")).cast("double").alias("sxy"),
        F.sum(F.col("x2") * F.col("x2")).cast("double").alias("sxx"),
        F.sum(F.col("y2") * F.col("y2")).cast("double").alias("syy"))
    n = F.col("n")
    rho = ((n * F.col("sxy") - F.col("sx") * F.col("sy"))
           / F.sqrt((n * F.col("sxx") - F.col("sx") * F.col("sx"))
                    * (n * F.col("syy") - F.col("sy") * F.col("sy"))))
    return (sums.filter(n >= 3)
            .select("nationkey", "n", F.round(rho, 6).alias("spearman_rho")))


@register("k_kendall_tau", "D5+C9", """
WITH m AS (
  SELECT c.c_nationkey AS nationkey,
         SUM(CAST(ROUND(o.o_totalprice * 100) AS BIGINT)) AS rev_cents,
         COUNT(DISTINCT c.c_custkey) AS n_cust
  FROM customer c JOIN orders o ON o.o_custkey = c.c_custkey
  GROUP BY 1
),
pairs AS (
  SELECT a.nationkey AS na, b.nationkey AS nb,
         CASE WHEN (a.rev_cents - b.rev_cents)
                   * (a.n_cust - b.n_cust) > 0 THEN 1 ELSE 0 END AS conc,
         CASE WHEN (a.rev_cents - b.rev_cents)
                   * (a.n_cust - b.n_cust) < 0 THEN 1 ELSE 0 END AS disc,
         CASE WHEN a.rev_cents = b.rev_cents
                   AND a.n_cust <> b.n_cust THEN 1 ELSE 0 END AS tie_x,
         CASE WHEN a.n_cust = b.n_cust
                   AND a.rev_cents <> b.rev_cents THEN 1 ELSE 0 END AS tie_y
  FROM m a JOIN m b ON a.nationkey < b.nationkey
),
s AS (
  SELECT CAST(SUM(conc) AS DOUBLE) AS c, CAST(SUM(disc) AS DOUBLE) AS d,
         CAST(SUM(tie_x) AS DOUBLE) AS tx, CAST(SUM(tie_y) AS DOUBLE) AS ty,
         CAST(COUNT(*) AS DOUBLE) AS n0
  FROM pairs
)
SELECT CAST(c AS BIGINT) AS concordant, CAST(d AS BIGINT) AS discordant,
       ROUND((c - d) / SQRT((c + d + tx) * (c + d + ty)), 6) AS kendall_tau_b
FROM s
""", "Kendall tau-b between two national rankings (revenue vs "
     "customer count) - the pairwise-agreement rank correlation "
     "used to compare ranked lists (search results, leaderboard "
     "stability). Tau is inherently O(pairs); here the entity set "
     "is the aggregated nation table, so the self-join is "
     "25x24/2 pairs - the aggregate-first-then-pair shape that "
     "keeps pairwise statistics viable at warehouse scale (the "
     "pairing runs over the GROUPED result, never the fact "
     "table). Concordant/discordant/tie counters are exact "
     "integers; tau-b's tie-corrected denominator is one double "
     "expression rounded at 6 dp.")
def k_kendall_tau(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer")
    m = (cust.join(orders, orders.o_custkey == cust.c_custkey)
         .groupBy(F.col("c_nationkey").alias("nationkey"))
         .agg(F.sum(F.round(F.col("o_totalprice") * 100).cast("bigint"))
              .alias("rev_cents"),
              F.countDistinct("c_custkey").alias("n_cust")))
    a = m.alias("a")
    b = m.alias("b")
    dx = F.col("a.rev_cents") - F.col("b.rev_cents")
    dy = F.col("a.n_cust") - F.col("b.n_cust")
    # Explicit broadcast (guide 3.1): the pair side is the 25-row
    # nation aggregate, but a session without engine thresholds
    # estimates it past the default autoBroadcast limit and falls to
    # CartesianProduct (round-12 plan audit); the hint pins the
    # bounded BroadcastNestedLoopJoin under ANY session config.
    pairs = (a.join(F.broadcast(b), F.col("a.nationkey") < F.col("b.nationkey"))
             .select(
                 F.when(dx * dy > 0, 1).otherwise(0).alias("conc"),
                 F.when(dx * dy < 0, 1).otherwise(0).alias("disc"),
                 F.when((dx == 0) & (dy != 0), 1).otherwise(0)
                 .alias("tie_x"),
                 F.when((dy == 0) & (dx != 0), 1).otherwise(0)
                 .alias("tie_y")))
    s = pairs.agg(F.sum("conc").cast("double").alias("c"),
                  F.sum("disc").cast("double").alias("d"),
                  F.sum("tie_x").cast("double").alias("tx"),
                  F.sum("tie_y").cast("double").alias("ty"))
    tau = ((F.col("c") - F.col("d"))
           / F.sqrt((F.col("c") + F.col("d") + F.col("tx"))
                    * (F.col("c") + F.col("d") + F.col("ty"))))
    return s.select(F.col("c").cast("bigint").alias("concordant"),
                    F.col("d").cast("bigint").alias("discordant"),
                    F.round(tau, 6).alias("kendall_tau_b"))


@register("k_gini_coefficient", "D5+E1", """
WITH spend AS (
  SELECT c.c_nationkey AS nationkey, c.c_custkey AS custkey,
         SUM(CAST(ROUND(o.o_totalprice * 100) AS BIGINT)) AS cents
  FROM customer c JOIN orders o ON o.o_custkey = c.c_custkey
  GROUP BY 1, 2
),
ranked AS (
  SELECT nationkey, cents,
         ROW_NUMBER() OVER (PARTITION BY nationkey
                            ORDER BY cents, custkey) AS i
  FROM spend
),
sums AS (
  SELECT nationkey, COUNT(*) AS n,
         SUM(cents) AS sx, SUM(i * cents) AS six
  FROM ranked GROUP BY 1
)
SELECT nationkey, n,
       ROUND(CAST(2 * six - (n + 1) * sx AS DOUBLE)
             / (CAST(n AS DOUBLE) * sx), 6) AS gini
FROM sums WHERE n >= 2 AND sx > 0
""", "Gini coefficient of customer lifetime spend per nation - the "
     "classic inequality measure (how concentrated is revenue "
     "across the customer base), from the rank formula G = "
     "(2*sum(i*x) - (n+1)*sum(x)) / (n*sum(x)) over the "
     "ascending-sorted values. Spends are integer cents, ranks are "
     "row_numbers with a custkey tiebreak, so both sums are exact "
     "BIGINTs and the single final division is engine-identical. "
     "One grouped aggregate + one per-group window ordered within "
     "nation-sized partitions - the aggregate-first shape; no "
     "global sort anywhere.")
def k_gini_coefficient(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer")
    spend = (cust.join(orders, orders.o_custkey == cust.c_custkey)
             .groupBy(F.col("c_nationkey").alias("nationkey"),
                      F.col("c_custkey").alias("custkey"))
             .agg(F.sum(F.round(F.col("o_totalprice") * 100)
                        .cast("bigint")).alias("cents")))
    w = Window.partitionBy("nationkey").orderBy("cents", "custkey")
    ranked = spend.select("nationkey", "cents",
                          F.row_number().over(w).alias("i"))
    sums = ranked.groupBy("nationkey").agg(
        F.count("*").alias("n"),
        F.sum("cents").alias("sx"),
        F.sum(F.col("i") * F.col("cents")).alias("six"))
    gini = ((2 * F.col("six") - (F.col("n") + 1) * F.col("sx"))
            .cast("double")
            / (F.col("n").cast("double") * F.col("sx")))
    return (sums.filter((F.col("n") >= 2) & (F.col("sx") > 0))
            .select("nationkey", "n", F.round(gini, 6).alias("gini")))


@register("k_bootstrap_ci", "D6+J0", """
WITH spend AS (
  SELECT c.c_nationkey AS nationkey, c.c_custkey AS custkey,
         SUM(CAST(ROUND(o.o_totalprice * 100) AS BIGINT)) AS cents
  FROM customer c JOIN orders o ON o.o_custkey = c.c_custkey
  GROUP BY 1, 2
),
indexed AS (
  SELECT nationkey, cents,
         ROW_NUMBER() OVER (PARTITION BY nationkey
                            ORDER BY custkey) - 1 AS idx,
         COUNT(*) OVER (PARTITION BY nationkey) AS n
  FROM spend
),
draws AS (
  SELECT i.nationkey, i.n, b.b,
         CAST(('0x' || SUBSTR(MD5(CAST(i.nationkey AS VARCHAR) || '|'
              || CAST(b.b AS VARCHAR) || '|'
              || CAST(r.i AS VARCHAR)), 1, 15)) AS BIGINT) % i.n AS j
  FROM (SELECT DISTINCT nationkey, n FROM indexed) i,
       (SELECT UNNEST(RANGE(0, 100)) AS b) b,
       (SELECT UNNEST(RANGE(0, 2000)) AS i) r
  WHERE r.i < i.n
),
means AS (
  SELECT d.nationkey, d.b,
         CAST(SUM(x.cents) AS DOUBLE) / d.n / 100 AS mean_spend
  FROM draws d
  JOIN indexed x ON x.nationkey = d.nationkey AND x.idx = d.j
  GROUP BY d.nationkey, d.b, d.n
)
SELECT nationkey,
       ROUND(QUANTILE_CONT(mean_spend, 0.025), 6) AS ci_lo,
       ROUND(QUANTILE_CONT(mean_spend, 0.975), 6) AS ci_hi
FROM means GROUP BY nationkey
""", "Bootstrap confidence interval for mean customer spend per "
     "nation - the resampling workhorse, made fully deterministic "
     "and cross-engine exact: resample indexes come from the "
     "portable 60-bit md5 hash of (nation|replicate|draw) mod n "
     "(pipeline/hashing.py - no rand() anywhere, SURVEY 5.3), so "
     "both engines draw IDENTICAL bootstrap samples; replicate "
     "means are exact integer-cent sums over a fixed n, and the "
     "2.5/97.5 percentile over the 100 replicate means is the "
     "exact interpolated quantile. The draw table is "
     "replicates x group-size rows shuffled once on the join key - "
     "linear in B*n, never quadratic; at 100 TB you bound B and "
     "aggregate-first exactly as here.")
def k_bootstrap_ci(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    from cassandra_elasticsearch_sync_spark.pipeline.hashing import (
        portable_hash60,
    )

    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer")
    spend = (cust.join(orders, orders.o_custkey == cust.c_custkey)
             .groupBy(F.col("c_nationkey").alias("nationkey"),
                      F.col("c_custkey").alias("custkey"))
             .agg(F.sum(F.round(F.col("o_totalprice") * 100)
                        .cast("bigint")).alias("cents")))
    w = Window.partitionBy("nationkey").orderBy("custkey")
    indexed = spend.select(
        "nationkey", "cents",
        (F.row_number().over(w) - 1).alias("idx"),
        F.count("*").over(Window.partitionBy("nationkey")).alias("n"))
    groups = indexed.select("nationkey", "n").distinct()
    reps = groups.sparkSession.range(100).select(F.col("id").alias("b"))
    draws_idx = groups.sparkSession.range(2000).select(
        F.col("id").alias("i"))
    draws = (groups.crossJoin(F.broadcast(reps))
             .crossJoin(F.broadcast(draws_idx))
             .filter(F.col("i") < F.col("n"))
             .select("nationkey", "n", "b",
                     (portable_hash60(F.concat_ws(
                         "|",
                         F.col("nationkey").cast("string"),
                         F.col("b").cast("string"),
                         F.col("i").cast("string"))) % F.col("n"))
                     .alias("j")))
    means = (draws.join(indexed.select("nationkey",
                                       F.col("idx").alias("j"),
                                       "cents"),
                        ["nationkey", "j"])
             .groupBy("nationkey", "b", "n")
             .agg((F.sum("cents").cast("double") / F.col("n") / 100)
                  .alias("mean_spend")))
    return (means.groupBy("nationkey")
            .agg(F.round(F.percentile("mean_spend", F.lit(0.025)), 6)
                 .alias("ci_lo"),
                 F.round(F.percentile("mean_spend", F.lit(0.975)), 6)
                 .alias("ci_hi")))
