"""Distributed sketches (SURVEY.md 2.K "novel sketch" slot).

Count-Min sketch over the token stream, built with plain aggregates:
row (d, w) counter matrix where cell [i][hash_i(token) % W] sums the
token's occurrences. The build is one groupBy over (depth, bucket) -
fully parallel, mergeable by cell-wise addition (the sketch IS a
DataFrame), and the point query upper-bounds the true count with
error <= eps * N at confidence 1 - delta. Hash family: the portable
seeded universal hashes from the MinHash pipeline, so every run and
engine agrees on placement.

Also here: deterministic per-group sampling (top-k by portable hash
order) - the reproducible stratified sample.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from cassandra_elasticsearch_sync_spark.catalog import load_table
from cassandra_elasticsearch_sync_spark.pipeline.dedup import MERSENNE_P, _COEF
from cassandra_elasticsearch_sync_spark.pipeline.hashing import portable_hash60
from cassandra_elasticsearch_sync_spark.registry import register
from cassandra_elasticsearch_sync_spark.localdata import local_relation

CMS_DEPTH = 4
CMS_WIDTH = 64


def _cell_exprs():
    """depth-i bucket for the token's base hash (column `h`)."""
    return [
        ((F.col("h") * F.lit(a) + F.lit(b)) % MERSENNE_P % CMS_WIDTH).alias(f"b{i}")
        for i, (a, b) in enumerate(_COEF[:CMS_DEPTH])
    ]


def cms_build(tokens: DataFrame, token_col: str = "token") -> DataFrame:
    """Build the CMS as a (depth, bucket, cnt) DataFrame - mergeable
    with another sketch by union + groupBy-sum over the same key."""
    h = tokens.select(
        (portable_hash60(F.col(token_col)) % MERSENNE_P).alias("h")
    ).select(*_cell_exprs())
    stacked = None
    for i in range(CMS_DEPTH):
        part = h.select(F.lit(i).alias("depth"), F.col(f"b{i}").alias("bucket"))
        stacked = part if stacked is None else stacked.unionByName(part)
    return stacked.groupBy("depth", "bucket").agg(F.count("*").alias("cnt"))


def cms_estimate(spark: SparkSession, sketch: DataFrame, token: str) -> int:
    """Point estimate = min over depths of the token's cell (an upper
    bound on the true count)."""
    probe = local_relation(spark, [(token,)], "token string").select(
        (portable_hash60(F.col("token")) % MERSENNE_P).alias("h")
    ).select(*_cell_exprs())
    cells = [(i, r[f"b{i}"]) for r in probe.collect() for i in range(CMS_DEPTH)]
    cond = None
    for d, b in cells:
        c = (F.col("depth") == d) & (F.col("bucket") == b)
        cond = c if cond is None else cond | c
    rows = sketch.filter(cond).collect()
    by_depth = {r["depth"]: r["cnt"] for r in rows}
    return min(by_depth.get(d, 0) for d, _ in cells)


_CMS_ORACLE = f"""
WITH tok AS (
  SELECT UNNEST(STRING_SPLIT(LOWER(text), ' ')) AS token FROM documents
),
h AS (
  SELECT CAST(('0x' || SUBSTR(MD5(token), 1, 15)) AS BIGINT)
         % {MERSENNE_P} AS h
  FROM tok
),
cells AS (
""" + "\n  UNION ALL\n".join(
    f"  SELECT {i} AS depth, ((h * {a} + {b}) % {MERSENNE_P}) % {CMS_WIDTH}"
    f" AS bucket FROM h"
    for i, (a, b) in enumerate(_COEF[:CMS_DEPTH])
) + """
)
SELECT depth, bucket, COUNT(*) AS cnt FROM cells GROUP BY depth, bucket
"""


@register("k_cms_sketch", "K2", _CMS_ORACLE,
          "Count-Min sketch build over the token stream (4x64 counter "
          "matrix via one groupBy; mergeable cell-wise). Upgraded from "
          "rows-only to ORACLE-HASH-CHECKED: the portable seeded hash "
          "family makes every counter cell a deterministic integer, so "
          "the oracle rebuilds the identical matrix in SQL. The "
          "accuracy contract (estimate >= truth, bounded overestimate) "
          "is additionally property-tested in tests/test_sketches.py.")
def k_cms_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    tokens = d.select(F.explode(F.split(F.lower("text"), " ")).alias("token"))
    return cms_build(tokens)


@register("k_group_sample", "K1", """
SELECT lang, doc_id
FROM (SELECT lang, doc_id,
             ROW_NUMBER() OVER (
               PARTITION BY lang
               ORDER BY CAST(('0x' || SUBSTR(MD5(CAST(doc_id AS VARCHAR)), 1, 15))
                             AS BIGINT), doc_id) AS rn
      FROM documents)
WHERE rn <= 3
""", "Deterministic stratified sample: 3 docs per language, ordered by "
     "portable hash of the id - uniform-ish, reproducible everywhere, "
     "never rand()")
def k_group_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    w = Window.partitionBy("lang").orderBy(
        portable_hash60(F.col("doc_id").cast("string")), F.col("doc_id")
    )
    return (
        d.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 3)
        .select("lang", "doc_id")
    )


@register("k_bloom_build", "K8+H7", """
WITH h AS (
  SELECT CAST(('0x' || SUBSTR(MD5(CAST(o_orderkey AS VARCHAR)), 1, 15))
              AS BIGINT) AS hv
  FROM orders
),
probes AS (
  SELECT hv % 248 AS pos FROM h
  UNION ALL
  SELECT (hv // 248) % 248 AS pos FROM h
)
SELECT CAST(pos // 62 AS BIGINT) AS word_idx,
       CAST(BIT_OR(1::BIGINT << CAST(pos % 62 AS INT)) AS BIGINT) AS bits,
       CAST(COUNT(DISTINCT pos) AS BIGINT) AS n_set
FROM probes
GROUP BY 1
""", "Bloom-filter CONSTRUCTION as a distributed aggregate: every key "
     "sets k=2 probe bits derived from the portable hash, and the "
     "filter materializes as 4 x 62-bit words via BIT_OR - a "
     "map-side-partial, commutative reduction, so building a "
     "membership filter over 100 TB of keys is one scan + one "
     "fixed-width aggregate row (this is how a join-pruning filter "
     "or a cross-store anti-entropy pre-check gets built; Spark's "
     "own runtime Bloom join pruning is plan-asserted in "
     "tests/test_plans.py - here the BITS themselves are the "
     "deterministic, hash-checked output, not just the plan). "
     "Exact cross-engine: hash, probe positions, and OR-folding are "
     "all integer arithmetic.")
def k_bloom_build(spark: SparkSession, sf_dir: str) -> DataFrame:
    from cassandra_elasticsearch_sync_spark.catalog import load_table
    from cassandra_elasticsearch_sync_spark.pipeline.hashing import (
        portable_hash60,
    )

    o = load_table(spark, sf_dir, "orders")
    hv = portable_hash60(F.col("o_orderkey").cast("string"))
    # `div` keeps every step in exact 64-bit integer arithmetic - a
    # double `/` would round 60-bit hashes above 2^53 before dividing.
    p1 = o.select((hv % 248).alias("pos"))
    p2 = o.select(hv.alias("hv")).selectExpr("(hv div 248) % 248 AS pos")
    probes = p1.unionByName(p2)
    return probes.groupBy(
        F.expr("pos div 62").alias("word_idx")
    ).agg(
        F.expr("bit_or(shiftleft(1L, CAST(pos % 62 AS INT)))").alias("bits"),
        F.countDistinct("pos").cast("bigint").alias("n_set"),
    )


# ---------------------------------------------------------------------------
# HyperLogLog from first principles - the ORACLE-CHECKABLE approx distinct
# ---------------------------------------------------------------------------

HLL_P = 8                      # 256 registers
HLL_M = 1 << HLL_P
HLL_ALPHA = 0.7213 / (1.0 + 1.079 / HLL_M)   # standard alpha_256
# alpha * m^2 * 2^53, folded to ONE double literal so both engines see
# the identical constant (DuckDB would otherwise parse the alpha
# literal as DECIMAL and overflow the multiplication)
HLL_NUM = HLL_ALPHA * HLL_M * HLL_M * 9007199254740992.0
_HLL_VBITS = 52                # 60-bit hash minus the 8 bucket bits


def _rho_sql(v: str, alias_side: str) -> str:
    """Position of the lowest set bit of {v} (1-based), 53 when zero -
    a pure integer CASE ladder, no float log anywhere."""
    whens = "\n    ".join(
        f"WHEN ({v} >> {k}) & 1 = 1 THEN {k + 1}"
        for k in range(_HLL_VBITS))
    return f"CASE WHEN {v} = 0 THEN {_HLL_VBITS + 1}\n    {whens} END"


def _rho_col(v):
    expr = F.lit(_HLL_VBITS + 1)
    for k in range(_HLL_VBITS - 1, -1, -1):
        expr = F.when(F.shiftright(v, k) % 2 == 1, F.lit(k + 1)) \
            .otherwise(expr)
    return F.when(v == 0, F.lit(_HLL_VBITS + 1)).otherwise(expr)


@register("d4b_hll_sketch_exact", "D4", f"""
WITH h AS (
  SELECT CAST(('0x' || SUBSTR(MD5(CAST(o_custkey AS VARCHAR)), 1, 15))
              AS BIGINT) AS hv
  FROM orders
),
reg AS (
  SELECT hv % {HLL_M} AS bucket,
         MAX({_rho_sql(f"(hv // {HLL_M})", "o")}) AS m
  FROM h GROUP BY 1
),
s AS (
  SELECT COUNT(*) AS nz,
         SUM(CAST(1 AS BIGINT) << (53 - m)) AS ssum
  FROM reg
),
est AS (
  SELECT nz, {HLL_M} - nz AS v,
         CAST({HLL_NUM!r} AS DOUBLE)
           / CAST(ssum + ({HLL_M} - nz) * (CAST(1 AS BIGINT) << 53)
                  AS DOUBLE) AS e_raw
  FROM s
),
t AS (SELECT COUNT(DISTINCT o_custkey) AS exact_nd FROM orders)
SELECT {HLL_M} AS n_registers,
       ROUND(CASE WHEN e_raw <= 2.5 * {HLL_M} AND v > 0
                  THEN {HLL_M} * LN(CAST({HLL_M} AS DOUBLE) / v)
                  ELSE e_raw END, 6) AS hll_estimate,
       exact_nd,
       ROUND((CASE WHEN e_raw <= 2.5 * {HLL_M} AND v > 0
                   THEN {HLL_M} * LN(CAST({HLL_M} AS DOUBLE) / v)
                   ELSE e_raw END - exact_nd) / exact_nd, 6) AS rel_error
FROM est CROSS JOIN t
""", "HyperLogLog built from first principles - and therefore the "
     "ORACLE-HASH-CHECKABLE approximate distinct count (SURVEY D4's "
     "built-in approx_count_distinct is rows-only because Spark's "
     "internal hash differs from any oracle's; this one shares the "
     "portable hash, so both engines agree on every register). "
     "Registers: bucket = hash mod 256, rho = lowest-set-bit position "
     "of the remaining 52 bits via a pure-integer CASE ladder (no "
     "float log); the harmonic sum is EXACT - sum of 2^(53-M_j) as "
     "BIGINT (<= 2^61, no double associativity hazard) - and the "
     "bias-corrected estimate incl. the linear-counting small-range "
     "branch evaluates in identical double trees. One grouped MAX "
     "over 256 cells = the textbook mergeable-sketch shape: "
     "map-side partial maxes, 256 rows shuffled, any number of "
     "partitions/days mergeable by pairwise register MAX at 100 TB. "
     "The exact distinct rides along to expose the realized error.")
def d4b_hll_sketch_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    hv = portable_hash60(F.col("o_custkey").cast("string"))
    reg = (
        o.select((hv % HLL_M).alias("bucket"),
                 _rho_col(F.expr(
                     f"CAST(CONV(SUBSTR(MD5(CAST(o_custkey AS STRING)), 1, 15), 16, 10) AS BIGINT) DIV {HLL_M}"
                 )).alias("rho"))
        .groupBy("bucket").agg(F.max("rho").alias("m"))
    )
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
    t = o.agg(F.countDistinct("o_custkey").alias("exact_nd"))
    return (
        s.crossJoin(F.broadcast(t))
        .select(
            F.lit(HLL_M).alias("n_registers"),
            F.round(est, 6).alias("hll_estimate"),
            "exact_nd",
            F.round((est - F.col("exact_nd")) / F.col("exact_nd"), 6)
            .alias("rel_error"),
        )
    )


@register("k_feature_hashing", "K4+H7", """
WITH tok AS (
  SELECT doc_id, UNNEST(STRING_SPLIT(LOWER(text), ' ')) AS token
  FROM documents
),
h AS (
  SELECT doc_id,
         CAST(('0x' || SUBSTR(MD5(token), 1, 15)) AS BIGINT) AS hv
  FROM tok
)
SELECT doc_id,
       CAST(hv % 64 AS INT) AS bucket,
       CAST(SUM(CASE WHEN (hv // 64) % 2 = 0 THEN 1 ELSE -1 END)
            AS BIGINT) AS weight
FROM h
GROUP BY doc_id, CAST(hv % 64 AS INT)
HAVING SUM(CASE WHEN (hv // 64) % 2 = 0 THEN 1 ELSE -1 END) <> 0
""", "Feature hashing (the 'hashing trick'): every token maps to one "
     "of 64 buckets with a +/-1 sign bit drawn from the next hash "
     "bit, and the signed counts per (doc, bucket) ARE the fixed-"
     "width feature vector - the standard unbounded-vocabulary -> "
     "fixed-dim featurizer for linear models. No vocabulary build, "
     "no second pass, no driver state: one explode + one grouped sum "
     "(map-side partial), linear at 100 TB, and the sign trick makes "
     "collisions cancel in expectation. Portable hash on both "
     "engines -> every cell is a deterministic integer.")
def k_feature_hashing(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    tok = d.select("doc_id",
                   F.explode(F.split(F.lower("text"), " ")).alias("token"))
    hv = portable_hash60(F.col("token"))
    # shiftright, not `/ 64`: double division rounds 60-bit hashes
    # above 2^53 before the cast (same hazard k_bloom_build documents)
    sign = F.when(F.shiftright(hv, 6) % 2 == 0, 1).otherwise(-1)
    return (
        tok.select("doc_id", (hv % 64).cast("int").alias("bucket"),
                   sign.alias("s"))
        .groupBy("doc_id", "bucket").agg(F.sum("s").alias("weight"))
        .filter(F.col("weight") != 0)
    )


@register("d4c_hll_by_group", "D4", f"""
WITH h AS (
  SELECT o_orderpriority AS grp,
         CAST(('0x' || SUBSTR(MD5(CAST(o_custkey AS VARCHAR)), 1, 15))
              AS BIGINT) AS hv
  FROM orders
),
reg AS (
  SELECT grp, hv % {HLL_M} AS bucket,
         MAX({_rho_sql(f"(hv // {HLL_M})", "g")}) AS m
  FROM h GROUP BY 1, 2
),
s AS (
  SELECT grp, COUNT(*) AS nz,
         SUM(CAST(1 AS BIGINT) << (53 - m)) AS ssum
  FROM reg GROUP BY grp
),
est AS (
  SELECT grp, {HLL_M} - nz AS v,
         CAST({HLL_NUM!r} AS DOUBLE)
           / CAST(ssum + ({HLL_M} - nz) * (CAST(1 AS BIGINT) << 53)
                  AS DOUBLE) AS e_raw
  FROM s
),
t AS (
  SELECT o_orderpriority AS grp,
         COUNT(DISTINCT o_custkey) AS exact_nd
  FROM orders GROUP BY 1
)
SELECT est.grp,
       ROUND(CASE WHEN e_raw <= 2.5 * {HLL_M} AND v > 0
                  THEN {HLL_M} * LN(CAST({HLL_M} AS DOUBLE) / v)
                  ELSE e_raw END, 6) AS hll_estimate,
       exact_nd
FROM est JOIN t ON t.grp = est.grp
ORDER BY est.grp
""", "Grouped HyperLogLog - approximate distinct customers PER "
     "PRIORITY CLASS, the shape production dashboards actually run "
     "(distinct users per day/segment/campaign). Same register "
     "construction as d4b keyed by the group: one groupBy over "
     "(group, bucket) cells = |groups| x 256 rows regardless of "
     "corpus size, then a per-group exact-integer harmonic sum. "
     "Because registers merge by MAX, per-day sketches roll up to "
     "any window without rescanning - the whole point of carrying "
     "the sketch rather than the distinct set at 100 TB.")
def d4c_hll_by_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    hv = portable_hash60(F.col("o_custkey").cast("string"))
    reg = (
        o.select(F.col("o_orderpriority").alias("grp"),
                 (hv % HLL_M).alias("bucket"),
                 _rho_col(F.expr(
                     f"CAST(CONV(SUBSTR(MD5(CAST(o_custkey AS STRING)), 1, 15), 16, 10) AS BIGINT) DIV {HLL_M}"
                 )).alias("rho"))
        .groupBy("grp", "bucket").agg(F.max("rho").alias("m"))
    )
    s = reg.groupBy("grp").agg(
        F.count("*").alias("nz"),
        F.sum(F.expr("shiftleft(CAST(1 AS BIGINT), 53 - m)")).alias("ssum"),
    )
    v = F.lit(HLL_M) - F.col("nz")
    e_raw = (F.lit(HLL_NUM)
             / (F.col("ssum") + v * F.shiftleft(F.lit(1).cast("long"), 53))
             .cast("double"))
    est = F.when((e_raw <= 2.5 * HLL_M) & (v > 0),
                 HLL_M * F.log(F.lit(float(HLL_M)) / v)).otherwise(e_raw)
    t = o.groupBy(F.col("o_orderpriority").alias("grp")).agg(
        F.countDistinct("o_custkey").alias("exact_nd"))
    return (
        s.select("grp", F.round(est, 6).alias("hll_estimate"))
        .join(t, "grp")
        .select("grp", "hll_estimate", "exact_nd")
        .orderBy("grp")
    )
