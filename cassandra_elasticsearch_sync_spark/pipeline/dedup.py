"""Deduplication operators (SURVEY.md 2.K rows K1-K2 + SimHash).

Four strategies, each a first-class verified query on `documents`:

- K1 exact: content-hash groupBy. One shuffle on the hash; at 100 TB
  the hash groupBy is the cheapest possible full-corpus dedup.
- K2 MinHash-LSH: shingle -> 64 seeded minhashes -> 16 bands x 4 rows
  -> band-bucket self-join -> exact-Jaccard verification of candidates.
  All hashing is seeded-deterministic (pipeline/hashing.py); the
  banding keeps the join linear in corpus size instead of O(n^2).
  With the corpus's planted near-dups at J >= 0.9, recall at tau=0.7 is
  1 - (1 - 0.9^4)^16 ~ 1 - 4e-8, so the verified output equals the
  brute-force oracle (asserted by the driver's hash-compare AND by the
  k2b twin query below).
- K2b brute n-gram Jaccard: the same final semantics via explode +
  shingle-equijoin + group count - the shape the oracle uses. Kept as
  a first-class operator because at moderate scale (<10M docs) it is
  simpler and exactly correct; K2 is the 100 TB path.
- SimHash: 60-bit fingerprint; near-dup pairs via banded hamming
  search. The 10x6-bit banding is EXACT by pigeonhole: hamming <= 9
  implies at least one of 10 bands is untouched, so candidate
  generation has 100% recall for the tau=8 threshold, no probability
  involved.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from cassandra_elasticsearch_sync_spark.catalog import load_table
from cassandra_elasticsearch_sync_spark.pipeline.hashing import portable_hash60
from cassandra_elasticsearch_sync_spark.registry import register
from cassandra_elasticsearch_sync_spark.streaming.control import await_bounded
from cassandra_elasticsearch_sync_spark.localdata import local_relation

# ---------------------------------------------------------------------------
# K1: exact dedup
# ---------------------------------------------------------------------------

@register("k1_exact_dedup", "K1", """
SELECT MD5(LOWER(TRIM(text))) AS content_hash,
       MIN(doc_id) AS keep_doc_id,
       COUNT(*) AS n_copies
FROM documents
GROUP BY 1
""", "Exact dedup by normalized-content hash; keeps the lowest doc_id")
def k1_exact_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    return (
        d.withColumn("content_hash", F.md5(F.lower(F.trim("text"))))
        .groupBy("content_hash")
        .agg(F.min("doc_id").alias("keep_doc_id"), F.count("*").alias("n_copies"))
    )


# ---------------------------------------------------------------------------
# Shared shingling (3-token shingles over whitespace tokens, set semantics)
# ---------------------------------------------------------------------------

_SHINGLES_EXPR = (
    "array_distinct(transform(sequence(1, size(split(text, ' ')) - 2), "
    "i -> array_join(slice(split(text, ' '), i, 3), ' ')))"
)

_SHINGLES_SQL = """
tok AS (SELECT doc_id, STRING_SPLIT(text, ' ') AS t FROM documents),
sh AS (SELECT doc_id,
              LIST_DISTINCT([ARRAY_TO_STRING(t[i:i+2], ' ')
                             FOR i IN RANGE(1, LEN(t) - 1)]) AS s
       FROM tok WHERE LEN(t) >= 3),
e AS (SELECT doc_id, UNNEST(s) AS shingle FROM sh),
sz AS (SELECT doc_id, COUNT(*) AS n FROM e GROUP BY doc_id),
inter AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS i
          FROM e a JOIN e b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
          GROUP BY 1, 2)
"""

_JACCARD_PAIRS_ORACLE = "WITH " + _SHINGLES_SQL + """
SELECT doc_a, doc_b,
       ROUND(CAST(i AS DOUBLE) / (sa.n + sb.n - i), 6) AS jaccard
FROM inter
JOIN sz sa ON doc_a = sa.doc_id
JOIN sz sb ON doc_b = sb.doc_id
WHERE CAST(i AS DOUBLE) / (sa.n + sb.n - i) >= 0.7
"""


def _shingled(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    return (
        d.filter(F.size(F.split("text", " ")) >= 3)
        .select("doc_id", F.expr(_SHINGLES_EXPR).alias("sh"))
    )


def _shingled_arrow(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Arrow-batched shingler: same (doc_id, distinct-shingle-set) output
    as _shingled, ~2.5x faster - Spark's higher-order transform/slice
    lambdas are interpreted per element, pandas str ops are vectorized.
    Shingle order is first-occurrence (deterministic); every consumer
    is order-insensitive (min-aggregation, set intersection) anyway.
    """
    import pandas as pd

    d = load_table(spark, sf_dir, "documents").select("doc_id", "text")

    def sh(batches):
        for pdf in batches:
            toks = pdf["text"].str.split(" ")
            keep = toks.str.len() >= 3
            out = [
                list(dict.fromkeys(" ".join(t[i:i + 3]) for i in range(len(t) - 2)))
                for t in toks[keep]
            ]
            yield pd.DataFrame({"doc_id": pdf["doc_id"][keep], "sh": out})

    return d.mapInPandas(sh, "doc_id bigint, sh array<string>")


# ---------------------------------------------------------------------------
# K2: MinHash + LSH (the 100 TB near-dup path)
# ---------------------------------------------------------------------------

N_HASHES = 64
# Fixed here for oracle bit-stability; the scale path derives
# (bands, rows) from corpus size via lsh_tuning.minhash_lsh_params
# (at 5k docs it reproduces this config within one band step; at 1e9
# docs it widens to ~8 rows x ~25 bands - tests/test_lsh_tuning.py).
N_BANDS = 16
ROWS_PER_BAND = 4
JACCARD_THRESHOLD = 0.7

# Universal-hash family over a single base hash: each shingle is
# hashed ONCE (xxhash64 below - the base never reaches the oracle),
# then the 64 minhash functions are h_j(x) = (A_j * x + B_j) mod p
# with p = 2^31 - 1 and literal, deterministic coefficients.
# Derivation cost per shingle drops from 64 cryptographic hashes to 64
# integer fmas - at sf0.1 that took the operator from 208 s to ~1.5 s,
# and the recall math is unchanged (any pairwise-independent family
# works for MinHash).
# x < p and A_j < p keep A_j * x + B_j < 2^62: no overflow under ANSI.
MERSENNE_P = 2**31 - 1
_COEF = [((j * 2654435761 + 1) % MERSENNE_P or 1, (j * 40503 + 17) % MERSENNE_P)
         for j in range(N_HASHES)]

# xxhash64, not the portable md5 hash: minhash internals never reach
# the oracle (the verified output is the exact-Jaccard pair set), so
# the base hash only needs determinism within Spark - and xxhash64 is
# ~10x cheaper than md5 over millions of shingles.
_BASE_HASH_SQL = f"pmod(xxhash64(shingle), {MERSENNE_P})"


def _hash_coefs(n_hashes: int) -> list[tuple[int, int]]:
    """Deterministic universal-hash coefficients for any signature
    width (the first 64 are _COEF; the formula extends past that)."""
    return [((j * 2654435761 + 1) % MERSENNE_P or 1, (j * 40503 + 17) % MERSENNE_P)
            for j in range(n_hashes)]


def band_signatures(
    sh: DataFrame,
    n_bands: int = N_BANDS,
    rows_per_band: int = ROWS_PER_BAND,
) -> DataFrame:
    """(doc_id, sh) -> (doc_id, band, sig): the LSH bucket index rows.

    Minhash via explode + n_hashes min() aggregates: higher-order-
    function lambdas are interpreted per element, but aggregate
    expressions are whole-stage-codegen'd, and partial (map-side) min
    means the shuffle carries n_hashes longs per doc, not per
    shingle. ~3x faster than the transform/array_min formulation.
    The band signature is an arithmetic fold of the band's minhash
    values (internal only - never compared against the oracle, so any
    deterministic combine works; values < 2^31 so the polynomial fold
    stays far below 2^63).
    """
    n_hashes = n_bands * rows_per_band
    hashed = sh.select(
        "doc_id", F.explode("sh").alias("shingle")
    ).select("doc_id", F.expr(_BASE_HASH_SQL).alias("h"))
    mins = hashed.groupBy("doc_id").agg(
        *[
            F.min(F.expr(f"(h * {a}L + {b}L) % {MERSENNE_P}L")).alias(f"m{j}")
            for j, (a, b) in enumerate(_hash_coefs(n_hashes))
        ]
    )
    mh = mins.select(
        "doc_id", F.array(*[f"m{j}" for j in range(n_hashes)]).alias("mh")
    )
    return mh.select(
        "doc_id",
        "mh",
        F.explode(F.sequence(F.lit(0), F.lit(n_bands - 1))).alias("band"),
    ).select(
        "doc_id",
        "band",
        F.aggregate(
            F.slice("mh", F.col("band") * rows_per_band + 1, rows_per_band),
            F.lit(0).cast("bigint"),
            lambda acc, x: (acc % 2147483647) * 1000003 + x,
        ).alias("sig"),
    )


def exact_jaccard(
    cand: DataFrame, sh: DataFrame, threshold: float = JACCARD_THRESHOLD
) -> DataFrame:
    """Exact-Jaccard verification of candidate (doc_a, doc_b) pairs
    against the shingled relation; false positives from any candidate
    generator die here, so candidates only ever cost recall."""
    sa = sh.select(F.col("doc_id").alias("doc_a"), F.col("sh").alias("sh_a"))
    sb = sh.select(F.col("doc_id").alias("doc_b"), F.col("sh").alias("sh_b"))
    verified = (
        cand.join(sa, "doc_a").join(sb, "doc_b")
        .withColumn("i", F.size(F.array_intersect("sh_a", "sh_b")))
        .withColumn(
            "jaccard_raw",
            F.col("i").cast("double") / (F.size("sh_a") + F.size("sh_b") - F.col("i")),
        )
        .filter(F.col("jaccard_raw") >= threshold)
    )
    return verified.select(
        "doc_a", "doc_b", F.round("jaccard_raw", 6).alias("jaccard")
    )


def minhash_lsh_pairs(
    sh: DataFrame,
    n_bands: int = N_BANDS,
    rows_per_band: int = ROWS_PER_BAND,
    threshold: float = JACCARD_THRESHOLD,
) -> DataFrame:
    """Parametric MinHash-LSH near-dup pairs over a shingled relation
    (doc_id, sh array<string>). Banding (b, r) is the recall/cost knob:
    a pair at Jaccard J survives with prob 1-(1-J^r)^b - e.g. the
    default 16x4 gives 1-4e-8 at J=0.9 but only ~0.997 at J=0.74, while
    32x2 gives 1-1e-11 at J=0.74 at 2x the bucket-join volume. Choose
    r ~ log(1/J_target) and b to hit the recall budget; exact-Jaccard
    verification downstream removes every false positive, so banding
    only ever costs recall, never precision.
    """
    sh = sh.persist()
    bands = band_signatures(sh, n_bands, rows_per_band)
    a, b = bands.alias("a"), bands.alias("b")
    cand = (
        a.join(b, (F.col("a.band") == F.col("b.band")) & (F.col("a.sig") == F.col("b.sig"))
               & (F.col("a.doc_id") < F.col("b.doc_id")))
        .select(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .distinct()
    )
    return exact_jaccard(cand, sh, threshold)


@register("k2_minhash_lsh_pairs", "K2", _JACCARD_PAIRS_ORACLE,
          "Near-duplicate pairs via MinHash-LSH candidates + exact-Jaccard "
          "verification. Oracle is the brute-force pair set: equality "
          "holds because banding recall at the corpus's J>=0.9 dup level "
          "is 1-4e-8 (and the driver hash proves it on this corpus). "
          "Banding is parametric (minhash_lsh_pairs) - near-threshold "
          "corpora use more bands x fewer rows, tested on a planted "
          "J~0.74 corpus in test_lsh_banding.py.")
def k2_minhash_lsh_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Arrow-vectorized shingling: the declarative twin (_shingled) is
    # the k2b/oracle shape.
    return minhash_lsh_pairs(_shingled_arrow(spark, sf_dir))


@register("k2b_ngram_jaccard_pairs", "K2", _JACCARD_PAIRS_ORACLE,
          "Same near-dup semantics via distributed explode + shingle "
          "equi-join + group count (exact at any recall; quadratic only "
          "within shared-shingle buckets)")
def k2b_ngram_jaccard_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    sh = _shingled(spark, sf_dir)
    e = sh.select("doc_id", F.explode("sh").alias("shingle"))
    sz = sh.select("doc_id", F.size("sh").alias("n"))
    ea = e.select(F.col("doc_id").alias("doc_a"), "shingle")
    eb = e.select(F.col("doc_id").alias("doc_b"), "shingle")
    inter = (
        ea.join(eb, "shingle")
        .filter(F.col("doc_a") < F.col("doc_b"))
        .groupBy("doc_a", "doc_b")
        .agg(F.count("*").alias("i"))
    )
    sza = sz.select(F.col("doc_id").alias("doc_a"), F.col("n").alias("na"))
    szb = sz.select(F.col("doc_id").alias("doc_b"), F.col("n").alias("nb"))
    j = F.col("i").cast("double") / (F.col("na") + F.col("nb") - F.col("i"))
    return (
        inter.join(sza, "doc_a").join(szb, "doc_b")
        .filter(j >= JACCARD_THRESHOLD)
        .select("doc_a", "doc_b", F.round(j, 6).alias("jaccard"))
    )


# ---------------------------------------------------------------------------
# SimHash: 60-bit fingerprints + exact banded hamming near-dup search
# ---------------------------------------------------------------------------

SIMHASH_BITS = 60
HAMMING_THRESHOLD = 8
N_SIM_BANDS = 10          # 10 bands x 6 bits; pigeonhole-exact for tau <= 9
SIM_BAND_BITS = 6

_SIMHASH_SQL = """
tok AS (SELECT DISTINCT doc_id, UNNEST(STRING_SPLIT(LOWER(text), ' ')) AS w
        FROM documents),
h AS (SELECT doc_id, CAST(('0x' || SUBSTR(MD5(w), 1, 15)) AS BIGINT) AS hv
      FROM tok),
votes AS (SELECT doc_id, k,
                 SUM(CASE WHEN (hv >> k) & 1 = 1 THEN 1 ELSE -1 END) AS v
          FROM h, RANGE(60) r(k) GROUP BY doc_id, k),
simh AS (SELECT doc_id,
                CAST(SUM(CASE WHEN v > 0 THEN (CAST(1 AS BIGINT) << k)
                              ELSE 0 END) AS BIGINT) AS simhash
         FROM votes GROUP BY doc_id)
"""


def simhash_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    tok = d.select(
        "doc_id", F.explode(F.array_distinct(F.split(F.lower("text"), " "))).alias("w")
    )
    h = tok.select("doc_id", portable_hash60(F.col("w")).alias("hv"))
    votes = (
        h.select("doc_id", "hv",
                 F.explode(F.sequence(F.lit(0), F.lit(SIMHASH_BITS - 1))).alias("k"))
        .groupBy("doc_id", "k")
        .agg(F.sum(F.when(F.expr("(shiftright(hv, k) & 1)") == 1, 1).otherwise(-1)).alias("v"))
    )
    return votes.groupBy("doc_id").agg(
        F.sum(
            F.when(F.col("v") > 0, F.expr("shiftleft(CAST(1 AS BIGINT), k)")).otherwise(F.lit(0))
        ).cast("bigint").alias("simhash")
    )


@register("k_simhash_fingerprint", "K2", "WITH " + _SIMHASH_SQL +
          "SELECT doc_id, simhash FROM simh",
          "60-bit SimHash document fingerprint (majority vote per bit over "
          "token hashes; fully deterministic, oracle-checked value-for-value)")
def k_simhash_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    return simhash_fingerprints(spark, sf_dir)


@register("k_simhash_near_pairs", "K2", "WITH " + _SIMHASH_SQL + f"""
SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
       CAST(BIT_COUNT(XOR(a.simhash, b.simhash)) AS INT) AS hamming
FROM simh a JOIN simh b ON a.doc_id < b.doc_id
WHERE BIT_COUNT(XOR(a.simhash, b.simhash)) <= {HAMMING_THRESHOLD}
""", "SimHash near-dup pairs via banded hamming search: 10 bands x 6 "
     "bits -> pigeonhole guarantees a clean band for hamming <= 9, so "
     "candidate generation is EXACT (oracle brute-forces all pairs)")
def k_simhash_near_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    simh = simhash_fingerprints(spark, sf_dir)
    bands = simh.select(
        "doc_id",
        "simhash",
        F.explode(F.sequence(F.lit(0), F.lit(N_SIM_BANDS - 1))).alias("band"),
    ).withColumn(
        "chunk", F.expr(f"shiftright(simhash, band * {SIM_BAND_BITS}) & {2**SIM_BAND_BITS - 1}")
    )
    a, b = bands.alias("a"), bands.alias("b")
    cand = (
        a.join(b, (F.col("a.band") == F.col("b.band")) & (F.col("a.chunk") == F.col("b.chunk"))
               & (F.col("a.doc_id") < F.col("b.doc_id")))
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            F.col("a.simhash").alias("sim_a"),
            F.col("b.simhash").alias("sim_b"),
        )
        .distinct()
    )
    return (
        cand.withColumn("hamming", F.expr("bit_count(sim_a ^ sim_b)").cast("int"))
        .filter(F.col("hamming") <= HAMMING_THRESHOLD)
        .select("doc_a", "doc_b", "hamming")
    )


# ---------------------------------------------------------------------------
# Duplicate CLUSTERS: connected components of the near-dup pair graph
# ---------------------------------------------------------------------------

_CLUSTERS_ORACLE = "WITH RECURSIVE " + _SHINGLES_SQL.lstrip() + """
, pairs AS (
  SELECT doc_a, doc_b
  FROM inter
  JOIN sz sa ON doc_a = sa.doc_id
  JOIN sz sb ON doc_b = sb.doc_id
  WHERE CAST(i AS DOUBLE) / (sa.n + sb.n - i) >= 0.7
),
edges(a, b) AS (
  SELECT doc_a, doc_b FROM pairs UNION ALL SELECT doc_b, doc_a FROM pairs
),
reach(node, r) AS (
  SELECT a, a FROM (SELECT DISTINCT a FROM edges)
  UNION
  SELECT reach.node, edges.b FROM reach JOIN edges ON reach.r = edges.a
)
SELECT node AS doc_id, MIN(r) AS cluster_id FROM reach GROUP BY node
"""


@register("k2c_dup_clusters", "K2", _CLUSTERS_ORACLE,
          "Near-duplicate CLUSTERS: connected components of the pair graph "
          "via alternating large-star/small-star (Kiveris et al. SOCC'14) "
          "- O(log n) rounds on ANY graph shape, join+min-aggregate per "
          "round, O(1) driver-side fixpoint check. The oracle runs the "
          "same closure as a recursive CTE - an iterative algorithm that "
          "still hash-checks.")
def k2c_dup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    from cassandra_elasticsearch_sync_spark.pipeline.graph import (
        connected_components,
    )

    pairs = k2b_ngram_jaccard_pairs(spark, sf_dir).select("doc_a", "doc_b")
    labels, _ = connected_components(pairs)
    return labels.select(F.col("node").alias("doc_id"), "cluster_id")


@register("k1b_dedup_keep_longest", "K1", """
SELECT content_hash, keep_doc_id FROM (
  SELECT MD5(LOWER(TRIM(text))) AS content_hash, doc_id AS keep_doc_id,
         ROW_NUMBER() OVER (PARTITION BY MD5(LOWER(TRIM(text)))
                            ORDER BY n_chars DESC, doc_id) AS rn
  FROM documents)
WHERE rn = 1
""", "Exact dedup with a quality-keep policy: retain the LONGEST copy "
     "per content hash (tie -> lowest id) - the usual pretraining "
     "choice when duplicates differ by truncation")
def k1b_dedup_keep_longest(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    w = Window.partitionBy("content_hash").orderBy(
        F.col("n_chars").desc(), F.col("doc_id")
    )
    return (
        d.withColumn("content_hash", F.md5(F.lower(F.trim("text"))))
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("content_hash", F.col("doc_id").alias("keep_doc_id"))
    )


@register("k2d_cluster_stats", "K2", _CLUSTERS_ORACLE.replace(
    "SELECT node AS doc_id, MIN(r) AS cluster_id FROM reach GROUP BY node",
    """
, labels AS (SELECT node AS doc_id, MIN(r) AS cluster_id
             FROM reach GROUP BY node)
SELECT cluster_id,
       COUNT(*) AS n_docs,
       MIN(doc_id) AS min_doc,
       MAX(doc_id) AS max_doc
FROM labels GROUP BY cluster_id
"""),
    "Duplicate-cluster statistics: size and id-range per connected "
    "component - the dedup report that decides the keep-one policy "
    "(keep cluster minimum = drop n_docs-1 copies). One extra tiny "
    "aggregation over the CC labels.")
def k2d_cluster_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    labels = k2c_dup_clusters(spark, sf_dir)
    return labels.groupBy("cluster_id").agg(
        F.count("*").alias("n_docs"),
        F.min("doc_id").alias("min_doc"),
        F.max("doc_id").alias("max_doc"),
    )


_SURVIVORS_ORACLE = _CLUSTERS_ORACLE.replace(
    "SELECT node AS doc_id, MIN(r) AS cluster_id FROM reach GROUP BY node",
    """
, labels AS (SELECT node AS doc_id, MIN(r) AS cluster_id
             FROM reach GROUP BY node)
SELECT d.doc_id, COALESCE(l.cluster_id, d.doc_id) AS cluster_id
FROM documents d LEFT JOIN labels l ON l.doc_id = d.doc_id
WHERE l.cluster_id IS NULL OR d.doc_id = l.cluster_id
""")


@register("k2j_near_dup_survivors", "K1+K2", _SURVIVORS_ORACLE,
          "The end-to-end near-dup REMOVAL a corpus pipeline actually "
          "ships: LSH-verified pairs -> connected components -> keep "
          "ONE canonical doc per cluster (the component minimum) and "
          "every untouched singleton - i.e. the FILTERED CORPUS, not "
          "just the dup report. Composition of the already-verified "
          "stages plus one left anti-ish join; the oracle runs the "
          "same closure as a recursive CTE. At 100 TB every stage is "
          "the bucketed/structural shape proven upstream; the final "
          "keep-filter is a broadcast-or-shuffle left join on the "
          "(small) label set.")
def k2j_near_dup_survivors(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents").select("doc_id")
    labels = k2c_dup_clusters(spark, sf_dir)
    joined = d.join(labels, "doc_id", "left")
    return (
        joined.filter(F.col("cluster_id").isNull()
                      | (F.col("doc_id") == F.col("cluster_id")))
        .select("doc_id",
                F.coalesce("cluster_id", "doc_id").alias("cluster_id"))
    )


# ---------------------------------------------------------------------------
# Train/eval hygiene: benchmark decontamination + duplicated-ngram fraction
# ---------------------------------------------------------------------------

_GRAMS8_SQL = """
tok AS (SELECT doc_id, STRING_SPLIT(text, ' ') AS t FROM documents),
g AS (SELECT doc_id,
             UNNEST(LIST_DISTINCT([ARRAY_TO_STRING(t[i:i+7], ' ')
                                   FOR i IN RANGE(1, LEN(t) - 6)])) AS gram
      FROM tok WHERE LEN(t) >= 8)
"""


@register("k_decontaminate", "K2", "WITH " + _GRAMS8_SQL + """
, ev AS (SELECT doc_id AS eval_id, gram FROM g WHERE doc_id % 10 = 0),
  tr AS (SELECT doc_id, gram FROM g WHERE doc_id % 10 <> 0)
SELECT tr.doc_id,
       COUNT(DISTINCT tr.gram) AS n_contaminated_grams,
       COUNT(DISTINCT ev.eval_id) AS n_eval_docs
FROM tr JOIN ev ON tr.gram = ev.gram
GROUP BY tr.doc_id
""", "Benchmark decontamination (GPT-3 appendix-C style): flag every "
     "training document sharing an exact 8-token n-gram with the held-"
     "out eval split (doc_id % 10 = 0 stands in for the benchmark "
     "suite). Shape: distinct 8-grams per doc -> equi-join on gram -> "
     "per-doc hit counts. At 100 TB the eval side is a fixed-size "
     "benchmark suite, so its distinct-gram set broadcasts and the "
     "train side never shuffles; here both sides are corpus-derived "
     "so Spark picks the join side itself.")
def k_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents").filter(
        F.size(F.split("text", " ")) >= 8
    )
    grams = d.select(
        "doc_id",
        F.explode(
            F.expr(
                "array_distinct(transform(sequence(1, size(split(text, ' ')) - 7), "
                "i -> array_join(slice(split(text, ' '), i, 8), ' ')))"
            )
        ).alias("gram"),
    )
    ev = grams.filter(F.col("doc_id") % 10 == 0).select(
        F.col("doc_id").alias("eval_id"), "gram"
    )
    tr = grams.filter(F.col("doc_id") % 10 != 0)
    return (
        tr.join(ev, "gram")
        .groupBy(tr.doc_id)
        .agg(
            F.countDistinct("gram").alias("n_contaminated_grams"),
            F.countDistinct("eval_id").alias("n_eval_docs"),
        )
    )


@register("k_dup_ngram_fraction", "K2", """
WITH tok AS (SELECT doc_id, STRING_SPLIT(text, ' ') AS t FROM documents),
g AS (SELECT doc_id,
             UNNEST(LIST_DISTINCT([ARRAY_TO_STRING(t[i:i+4], ' ')
                                   FOR i IN RANGE(1, LEN(t) - 3)])) AS gram
      FROM tok WHERE LEN(t) >= 5),
df AS (SELECT gram, COUNT(*) AS df FROM g GROUP BY gram)
SELECT doc_id,
       COUNT(*) AS n_grams,
       COUNT(*) FILTER (df > 1) AS n_dup_grams,
       ROUND(CAST(COUNT(*) FILTER (df > 1) AS DOUBLE) / COUNT(*), 6)
         AS dup_frac
FROM g JOIN df USING (gram)
GROUP BY doc_id
""", "Cross-document duplicated-5-gram fraction (the RefinedWeb/"
     "MassiveText quality signal): per document, the share of its "
     "distinct 5-grams that also occur in at least one other "
     "document. Shape: explode distinct grams -> gram doc-frequency "
     "aggregate -> join back -> per-doc conditional count. Both "
     "aggregations combine map-side; the join key is the gram table "
     "(distinct-gram-sized, not corpus-sized). The ratio is one "
     "integer/integer divide - deterministic.")
def k_dup_ngram_fraction(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents").filter(
        F.size(F.split("text", " ")) >= 5
    )
    g = d.select(
        "doc_id",
        F.explode(
            F.expr(
                "array_distinct(transform(sequence(1, size(split(text, ' ')) - 4), "
                "i -> array_join(slice(split(text, ' '), i, 5), ' ')))"
            )
        ).alias("gram"),
    )
    df = g.groupBy("gram").agg(F.count("*").alias("df"))
    dup = F.sum(F.when(F.col("df") > 1, 1).otherwise(0))
    return (
        g.join(df, "gram")
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_grams"),
            dup.alias("n_dup_grams"),
            F.round(dup.cast("double") / F.count("*"), 6).alias("dup_frac"),
        )
    )


# ---------------------------------------------------------------------------
# K2e: streaming incremental LSH (documents arrive in batches; the
# bucket index grows monotonically; near-dup pairs are emitted the
# moment their second member arrives)
# ---------------------------------------------------------------------------

@register("k2e_streaming_lsh_pairs", "K2+I10", _JACCARD_PAIRS_ORACLE,
          "Incremental near-dup detection under appends: documents "
          "stream in as micro-batches; each batch's band signatures "
          "are merged into a persistent LSH bucket index "
          "(parquet-backed - the store-table stand-in, same pattern "
          "as L7's snapshot store), and candidate pairs are emitted "
          "by joining ONLY the new batch's signatures against the "
          "cumulative index - each pair surfaces exactly once, in the "
          "batch where its second member arrives, and per-batch work "
          "is O(batch x collisions), never a corpus rescan. The "
          "converged pair set, exact-Jaccard-verified, hash-matches "
          "the batch brute-force oracle - streaming and batch dedup "
          "agree row-for-row.")
def k2e_streaming_lsh_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    import shutil
    import tempfile

    from cassandra_elasticsearch_sync_spark.operators.distributed_order import (
        with_global_ntile,
    )

    d = load_table(spark, sf_dir, "documents").select("doc_id", "text")

    # Stage the corpus as 3 discrete arrivals (deterministic doc_id
    # ranges via exact distributed ntile - no single-partition sort).
    staged = tempfile.mkdtemp(prefix="ces_k2e_docs_")
    chunked = with_global_ntile(d, [F.col("doc_id")], 3, bucket_col="chunk")
    for i in range(1, 4):
        chunked.filter(F.col("chunk") == i).drop("chunk").coalesce(1).write.mode(
            "append"
        ).parquet(staged)

    index_dir = tempfile.mkdtemp(prefix="ces_k2e_index_")
    pairs_dir = tempfile.mkdtemp(prefix="ces_k2e_pairs_")
    checkpoint = tempfile.mkdtemp(prefix="ces_k2e_ckpt_")
    seen_any = {"pairs": False}

    def fold(batch_df: DataFrame, _id: int) -> None:
        sh = batch_df.filter(F.size(F.split("text", " ")) >= 3).select(
            "doc_id", F.expr(_SHINGLES_EXPR).alias("sh")
        )
        bands = band_signatures(sh)
        # Merge the batch into the bucket index FIRST, then probe the
        # cumulative index with the batch: a pair (a < b) is emitted in
        # the batch where its later member lands (in-batch pairs
        # included), so the union over batches is exactly the batch
        # candidate set, each pair once.
        bands.write.mode("append").parquet(index_dir)
        index = spark.read.parquet(index_dir)
        cand = (
            bands.alias("n")
            .join(
                index.alias("i"),
                (F.col("n.band") == F.col("i.band"))
                & (F.col("n.sig") == F.col("i.sig"))
                & (F.col("i.doc_id") < F.col("n.doc_id")),
            )
            .select(
                F.col("i.doc_id").alias("doc_a"),
                F.col("n.doc_id").alias("doc_b"),
            )
            .distinct()
        )
        if cand.limit(1).count() > 0:
            cand.write.mode("append").parquet(pairs_dir)
            seen_any["pairs"] = True

    q = (
        spark.readStream.schema("doc_id bigint, text string")
        .option("maxFilesPerTrigger", 1)
        .parquet(staged)
        .writeStream.foreachBatch(fold)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )
    await_bounded(q, 300)

    if seen_any["pairs"]:
        cand_all = spark.read.parquet(pairs_dir).distinct()
        sh_full = _shingled(spark, sf_dir)
        out = exact_jaccard(cand_all, sh_full).localCheckpoint(eager=True)
    else:
        out = local_relation(
            spark, [], "doc_a bigint, doc_b bigint, jaccard double"
        )
    for p in (staged, index_dir, pairs_dir, checkpoint):
        shutil.rmtree(p, ignore_errors=True)
    return out


# ---------------------------------------------------------------------------
# K1c: sub-document (paragraph-level) exact dedup
# ---------------------------------------------------------------------------

@register("k1c_paragraph_dedup", "K1", """
WITH words AS (
  SELECT doc_id,
         UNNEST(STRING_SPLIT(text, ' ')) AS w,
         GENERATE_SUBSCRIPTS(STRING_SPLIT(text, ' '), 1) - 1 AS pos
  FROM documents
),
chunks AS (
  SELECT doc_id, pos // 15 AS chunk_idx,
         STRING_AGG(w, ' ' ORDER BY pos) AS chunk
  FROM words GROUP BY doc_id, pos // 15
),
firsts AS (
  SELECT chunk, MIN(doc_id * 1000000 + chunk_idx) AS first_key
  FROM chunks GROUP BY chunk
),
flagged AS (
  SELECT c.doc_id, c.chunk_idx, c.chunk,
         (c.doc_id * 1000000 + c.chunk_idx) = f.first_key AS keep
  FROM chunks c JOIN firsts f ON c.chunk = f.chunk
)
SELECT doc_id,
       COUNT(*) AS n_chunks,
       CAST(SUM(CASE WHEN keep THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
       COALESCE(STRING_AGG(CASE WHEN keep THEN chunk END, ' ' ORDER BY chunk_idx),
                '') AS cleaned_text
FROM flagged GROUP BY doc_id
""", "Paragraph-level exact dedup with a keep-first-occurrence policy "
     "(the C4/RefinedWeb sub-document pass: remove every later copy of "
     "a repeated paragraph corpus-wide, then reassemble the cleaned "
     "documents). The corpus's documents are single-line word streams, "
     "so 'paragraph' is a deterministic 15-word chunk; ~4% of chunk "
     "instances at sf0.01 are corpus-level duplicates, so the policy "
     "genuinely fires. Scale shape: posexplode -> per-(doc,chunk) "
     "string agg -> one groupBy on the chunk TEXT for the global "
     "first-occurrence key -> equijoin back -> per-doc reassembly; "
     "every stage is a hash shuffle on bounded keys, no windows, no "
     "driver loop. The first-occurrence key packs (doc_id, chunk_idx) "
     "as doc_id*1e6+idx (bigint-safe until 9e12 docs; a 15-word chunk "
     "index never reaches 1e6 because that would be a 15M-word doc).")
def k1c_paragraph_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    words = d.select(
        "doc_id", F.posexplode(F.split("text", " ")).alias("pos", "w")
    )
    chunks = words.groupBy(
        "doc_id", F.expr("pos div 15").alias("chunk_idx")
    ).agg(
        F.expr(
            "array_join(transform(array_sort(collect_list(struct(pos, w))),"
            " x -> x.w), ' ')"
        ).alias("chunk")
    )
    inst_key = F.col("doc_id") * 1000000 + F.col("chunk_idx")
    firsts = chunks.groupBy("chunk").agg(F.min(inst_key).alias("first_key"))
    flagged = chunks.join(firsts, "chunk").withColumn(
        "keep", inst_key == F.col("first_key")
    )
    return flagged.groupBy("doc_id").agg(
        F.count("*").alias("n_chunks"),
        F.sum(F.when(F.col("keep"), 1).otherwise(0)).cast("bigint").alias("n_kept"),
        F.coalesce(
            F.expr(
                "array_join(transform(array_sort(collect_list("
                "CASE WHEN keep THEN struct(chunk_idx, chunk) END)),"
                " x -> x.chunk), ' ')"
            ),
            F.lit(""),
        ).alias("cleaned_text"),
    )


# ---------------------------------------------------------------------------
# K2h: containment / overlap-coefficient pairs (subset-superset dups)
# ---------------------------------------------------------------------------

_CONTAINMENT_ORACLE = "WITH " + _SHINGLES_SQL + """
SELECT doc_a, doc_b,
       ROUND(CAST(i AS DOUBLE) / LEAST(sa.n, sb.n), 6) AS overlap_coef
FROM inter
JOIN sz sa ON doc_a = sa.doc_id
JOIN sz sb ON doc_b = sb.doc_id
WHERE CAST(i AS DOUBLE) / LEAST(sa.n, sb.n) >= 0.8
"""


@register("k2h_containment_pairs", "K2", _CONTAINMENT_ORACLE,
          "Subset/superset duplicate pairs via the overlap coefficient "
          "|A&B| / min(|A|,|B|): a snippet quoted whole inside a longer "
          "doc scores ~1.0 here but low on Jaccard (the union is "
          "dominated by the superset), so Jaccard-only dedup keeps "
          "both copies - this is the standard second net for "
          "training-corpus cleaning. Same scale shape as k2b: explode "
          "shingles, equi-join postings (quadratic ONLY within a "
          "shared-shingle bucket), group-count intersections, join "
          "back the two set sizes; the coefficient is one "
          "bigint/bigint divide - bit-identical across engines.")
def k2h_containment_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    sh = _shingled(spark, sf_dir)
    e = sh.select("doc_id", F.explode("sh").alias("shingle"))
    sz = sh.select("doc_id", F.size("sh").alias("n"))
    ea = e.select(F.col("doc_id").alias("doc_a"), "shingle")
    eb = e.select(F.col("doc_id").alias("doc_b"), "shingle")
    inter = (
        ea.join(eb, "shingle")
        .filter(F.col("doc_a") < F.col("doc_b"))
        .groupBy("doc_a", "doc_b")
        .agg(F.count("*").alias("i"))
    )
    sza = sz.select(F.col("doc_id").alias("doc_a"), F.col("n").alias("na"))
    szb = sz.select(F.col("doc_id").alias("doc_b"), F.col("n").alias("nb"))
    oc = F.col("i").cast("double") / F.least(F.col("na"), F.col("nb"))
    return (
        inter.join(sza, "doc_a").join(szb, "doc_b")
        .filter(oc >= 0.8)
        .select("doc_a", "doc_b", F.round(oc, 6).alias("overlap_coef"))
    )


# ---------------------------------------------------------------------------
# K1+K4: eval-set decontamination (n-gram overlap against the train split)
# ---------------------------------------------------------------------------

_DECON_N = 8  # 8-token grams, the GPT-3/PaLM-style contamination unit

_K1_DECON_ORACLE = """
WITH h AS (
  SELECT doc_id, text,
         CAST(('0x' || SUBSTR(MD5(CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT)
           % 100 AS b
  FROM documents
),
tok AS (SELECT doc_id, b, STRING_SPLIT(text, ' ') AS t FROM h),
g AS (
  SELECT doc_id, b,
         UNNEST(LIST_DISTINCT([ARRAY_TO_STRING(t[i:i+7], ' ')
                               FOR i IN RANGE(1, LEN(t) - 6)])) AS gram
  FROM tok WHERE LEN(t) >= 8
),
ev AS (SELECT DISTINCT gram, doc_id AS eval_doc FROM g WHERE b < 10),
tr AS (SELECT doc_id, gram FROM g WHERE b >= 10)
SELECT tr.doc_id,
       COUNT(DISTINCT tr.gram) AS n_contaminated_grams,
       COUNT(DISTINCT ev.eval_doc) AS n_eval_docs
FROM tr JOIN ev USING (gram)
GROUP BY 1
"""

_DECON_GRAMS_EXPR = (
    "array_distinct(transform(sequence(1, size(split(text, ' ')) - 7), "
    "i -> array_join(slice(split(text, ' '), i, 8), ' ')))"
)


@register("k1_decontamination", "K1+K4", _K1_DECON_ORACLE,
          "Test-set decontamination: flag training documents sharing "
          "any 8-token gram with the held-out eval split (the same "
          "deterministic hash-bucket split as k_deterministic_sample, "
          "buckets 0-9). The contamination check every serious "
          "pretraining pipeline runs before training - verbatim eval "
          "leakage inflates benchmarks silently. Shape: both sides "
          "shingle once (higher-order transform, JVM-side), the eval "
          "gram set is ~10% of the corpus and BROADCAST, so the "
          "probe is a map-side hash join against the full training "
          "scan - no shuffle of the big side, which is what makes "
          "this affordable at 100 TB (the eval set is fixed-size by "
          "construction; if it outgrew broadcast you shuffle on gram, "
          "same plan minus the hint). Output: per contaminated train "
          "doc, how many distinct grams leak and how many eval docs "
          "they reach.")
def k1_decontamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    from cassandra_elasticsearch_sync_spark.pipeline.hashing import portable_hash60

    d = load_table(spark, sf_dir, "documents")
    bucket = portable_hash60(F.col("doc_id").cast("string")) % 100
    g = (
        d.filter(F.size(F.split("text", " ")) >= _DECON_N)
        .select(
            "doc_id",
            bucket.alias("b"),
            F.explode(F.expr(_DECON_GRAMS_EXPR)).alias("gram"),
        )
    )
    ev = (
        g.filter(F.col("b") < 10)
        .select("gram", F.col("doc_id").alias("eval_doc"))
        .distinct()
    )
    tr = g.filter(F.col("b") >= 10).select("doc_id", "gram")
    return (
        tr.join(F.broadcast(ev), "gram")
        .groupBy("doc_id")
        .agg(
            F.countDistinct("gram").alias("n_contaminated_grams"),
            F.countDistinct("eval_doc").alias("n_eval_docs"),
        )
    )


# ---------------------------------------------------------------------------
# K1d: maximal duplicated-substring spans (suffix-array-style dedup)
# ---------------------------------------------------------------------------

_K1D_K = 8  # span granularity: an 8-token seed shingle

_K1D_ORACLE = """
WITH tok AS (
  SELECT doc_id, STRING_SPLIT(text, ' ') AS t FROM documents
  WHERE LEN(STRING_SPLIT(text, ' ')) >= 8
),
pos AS (
  SELECT doc_id, UNNEST([{'p': i, 's': ARRAY_TO_STRING(t[i:i+7], ' ')}
                         FOR i IN RANGE(1, LEN(t) - 6)]) AS e
  FROM tok
),
flat AS (SELECT doc_id, e.p AS p, e.s AS s FROM pos),
dup AS (SELECT s FROM flat GROUP BY s HAVING COUNT(DISTINCT doc_id) >= 2),
hits AS (SELECT doc_id, p FROM flat JOIN dup USING (s)),
isl AS (
  SELECT doc_id, p,
         p - ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY p) AS g
  FROM hits
),
spans AS (
  SELECT doc_id, MIN(p) AS span_start, MAX(p) + 7 AS span_end
  FROM isl GROUP BY doc_id, g
)
SELECT doc_id, span_start, span_end,
       span_end - span_start + 1 AS span_tokens
FROM spans
"""

_K1D_SHINGLES_EXPR = (
    "transform(sequence(1, size(split(text, ' ')) - 7), "
    "i -> struct(i AS p, array_join(slice(split(text, ' '), i, 8), ' ') AS s))"
)


@register("k1d_substring_dup_spans", "K1", _K1D_ORACLE,
          "Substring-level dedup: per document, the MAXIMAL token spans "
          "whose every 8-token window also appears in some OTHER "
          "document - the distributed equivalent of suffix-array "
          "substring dedup (Lee et al. 2021, 'Deduplicating Training "
          "Data Makes Language Models Better'), which removes repeated "
          "passages that doc-level and paragraph-level dedup both miss "
          "(boilerplate headers, licenses, quoted chunks). A suffix "
          "array is inherently sequential; the scalable restatement is: "
          "(1) every 8-token shingle with its start offset, (2) one "
          "hash groupBy on the shingle text keeping those seen in >= 2 "
          "distinct docs (the posting-list shuffle - linear, never "
          "all-pairs), (3) semi-join the offsets back, (4) merge "
          "consecutive duplicated offsets into maximal spans with a "
          "gaps-and-islands window PARTITIONED BY doc_id (per-doc "
          "state only, no global window). Any substring of >= 8 "
          "duplicated tokens is covered by consecutive duplicated "
          "seeds, so the island [min_p, max_p + 7] is exactly the "
          "maximal duplicated span at 8-token resolution. Every stage "
          "is a key-hash shuffle bounded by corpus token count; at "
          "100 TB you shuffle 64-bit shingle hashes instead of the "
          "strings (same plan, collision-checked).")
def k1d_substring_dup_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    flat = (
        d.filter(F.size(F.split("text", " ")) >= _K1D_K)
        .select("doc_id", F.explode(F.expr(_K1D_SHINGLES_EXPR)).alias("e"))
        .select("doc_id", F.col("e.p").alias("p"), F.col("e.s").alias("s"))
    )
    dup = (
        flat.groupBy("s")
        .agg(F.countDistinct("doc_id").alias("nd"))
        .filter(F.col("nd") >= 2)
        .select("s")
    )
    hits = flat.join(dup, "s").select("doc_id", "p")
    w = Window.partitionBy("doc_id").orderBy("p")
    isl = hits.withColumn("g", F.col("p") - F.row_number().over(w))
    return (
        isl.groupBy("doc_id", "g")
        .agg(F.min("p").cast("long").alias("span_start"),
             (F.max("p") + F.lit(_K1D_K - 1)).cast("long").alias("span_end"))
        .select(
            "doc_id", "span_start", "span_end",
            (F.col("span_end") - F.col("span_start") + 1).alias("span_tokens"),
        )
    )


# ---------------------------------------------------------------------------
# K1e: incremental dedup - a new batch against the historical index
# ---------------------------------------------------------------------------

_K1E_ORACLE = """
WITH hashed AS (
  SELECT doc_id, MD5(LOWER(TRIM(text))) AS content_hash,
         CAST(('0x' || SUBSTR(MD5(CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT)
           % 100 AS b
  FROM documents
),
history AS (SELECT DISTINCT content_hash FROM hashed WHERE b < 80),
batch0 AS (SELECT doc_id, content_hash FROM hashed WHERE b >= 80),
incr AS (
  SELECT * FROM batch0
  UNION ALL
  SELECT doc_id + 1000000 AS doc_id, content_hash
  FROM batch0 WHERE doc_id % 10 = 0
),
firsts AS (
  SELECT content_hash, MIN(doc_id) AS first_doc FROM incr GROUP BY 1
)
SELECT i.doc_id, i.content_hash,
       CASE WHEN h.content_hash IS NOT NULL THEN 'dup_of_history'
            WHEN i.doc_id <> f.first_doc THEN 'dup_in_batch'
            ELSE 'new' END AS status
FROM incr i
LEFT JOIN history h ON i.content_hash = h.content_hash
JOIN firsts f ON i.content_hash = f.content_hash
"""


@register("k1e_incremental_dedup", "K1", _K1E_ORACLE,
          "Incremental dedup: the production shape where today's crawl "
          "batch is deduplicated against the ALREADY-INGESTED corpus "
          "without rescanning it as text - only the persisted "
          "content-hash index is touched. A new doc survives iff its "
          "normalized-content hash is absent from history AND it is "
          "the first occurrence within the batch (a deterministic slice "
          "of the batch is re-crawled under new ids so the within-batch "
          "rule genuinely fires); every rejection is "
          "labeled with its cause (audit trail for ingest "
          "monitoring). Deterministic split: hash-bucket 0-79 = "
          "history, 80-99 = the increment. Scale shape: history "
          "reduces to DISTINCT hashes (at 100 TB that index is a "
          "column-pruned scan of a persisted hash table, not a text "
          "rescan), the increment - tiny relative to history - "
          "shuffles on hash for the anti-join probe and its own "
          "first-occurrence groupBy; history text is never "
          "re-shingled, re-hashed, or re-shuffled beyond the "
          "hash-key join. The within-batch first-occurrence uses "
          "min-per-hash + equijoin, not a window.")
def k1e_incremental_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    hashed = d.select(
        "doc_id",
        F.md5(F.lower(F.trim("text"))).alias("content_hash"),
        (portable_hash60(F.col("doc_id").cast("string")) % 100).alias("b"),
    )
    history = (
        hashed.filter(F.col("b") < 80).select("content_hash").distinct()
    )
    batch0 = hashed.filter(F.col("b") >= 80).select("doc_id", "content_hash")
    # Simulated within-batch re-crawl: every 10th doc is fetched twice
    # in the same batch under a new id - the duplicate source the
    # within-batch first-occurrence rule exists to catch.
    incr = batch0.unionAll(
        batch0.filter(F.col("doc_id") % 10 == 0)
        .select((F.col("doc_id") + 1000000).alias("doc_id"), "content_hash")
    )
    firsts = incr.groupBy("content_hash").agg(
        F.min("doc_id").alias("first_doc"))
    h = history.withColumn("in_history", F.lit(True))
    return (
        incr.join(h, "content_hash", "left")
        .join(firsts, "content_hash")
        .select(
            "doc_id", "content_hash",
            F.when(F.col("in_history").isNotNull(), "dup_of_history")
            .when(F.col("doc_id") != F.col("first_doc"), "dup_in_batch")
            .otherwise("new")
            .alias("status"),
        )
    )


@register("k1f_levenshtein_dedup", "K1+K2", """
WITH seeded AS (
  SELECT doc_id, text FROM documents
  UNION ALL
  SELECT doc_id + 10000000 AS doc_id,
         REPLACE(text, ' value ', ' valuue ') AS text
  FROM documents WHERE doc_id % 10 = 0
),
keyed AS (
  SELECT doc_id, text,
         STRING_SPLIT(text, ' ')[1] AS first_tok,
         LEN(STRING_SPLIT(text, ' ')) AS n_words
  FROM seeded
)
SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
       levenshtein(a.text, b.text) AS edit_distance
FROM keyed a JOIN keyed b
  ON a.first_tok = b.first_tok AND a.n_words = b.n_words
 AND a.doc_id < b.doc_id
WHERE levenshtein(a.text, b.text) <= 8
""", "Bucketed edit-distance near-dup pairs - the precision tier "
     "below MinHash: LSH candidates are usually CONFIRMED with an "
     "exact string distance, and this query is that confirm pass "
     "as a standalone operator. Every tenth document gets a "
     "deterministic typo variant (each ' value ' token doubled a "
     "vowel - replace() on both engines substitutes all "
     "occurrences); candidate pairs come from an equi-join on "
     "(first token, word count) - a blocking key that edit noise "
     "in later tokens cannot move - then Levenshtein (identical "
     "unit-cost DP on both engines) keeps pairs within distance 8. "
     "The join is a hash equi-join on the blocking key, never "
     "all-pairs: at 100 TB the bucket histogram bounds the "
     "quadratic term to per-bucket size, the same guarantee as "
     "the MinHash band join.")
def k1f_levenshtein_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    variants = (d.filter(F.col("doc_id") % 10 == 0)
                .select((F.col("doc_id") + 10000000).alias("doc_id"),
                        F.replace(F.col("text"), F.lit(" value "),
                                  F.lit(" valuue ")).alias("text")))
    seeded = d.select("doc_id", "text").unionAll(variants)
    toks = F.split(F.col("text"), " ")
    # Per-ROW character histogram (a-z), computed once per document:
    # the BAG-DISTANCE lower bound max(sum(pos_diff), sum(neg_diff))
    # <= levenshtein (each edit moves at most one character between
    # the bags) is the classic edit-distance-join prefilter - an
    # O(sigma) integer compare that kills almost every candidate
    # pair BEFORE the O(L^2) DP runs. Provably result-preserving, so
    # the oracle stays the plain semantic form.
    bag = F.array(*[
        (F.length("text") - F.length(F.replace(F.col("text"), F.lit(ch),
                                               F.lit(""))))
        for ch in "abcdefghijklmnopqrstuvwxyz"])
    keyed = seeded.select(
        "doc_id", "text",
        toks.getItem(0).alias("first_tok"),
        F.size(toks).alias("n_words"),
        bag.alias("bag"))
    a = keyed.alias("a")
    b = keyed.alias("b")
    pos = F.aggregate(
        F.zip_with(F.col("a.bag"), F.col("b.bag"),
                   lambda x, y: F.greatest(x - y, F.lit(0))),
        F.lit(0), lambda acc, x: acc + x)
    neg = F.aggregate(
        F.zip_with(F.col("a.bag"), F.col("b.bag"),
                   lambda x, y: F.greatest(y - x, F.lit(0))),
        F.lit(0), lambda acc, x: acc + x)
    # Conjunct order is evaluation order inside the hash join: equi
    # keys bucket, doc_id< halves, the bag bound kills the rest, and
    # only the survivors pay the DP. (A post-join .filter would be
    # pushed back into the condition AT THE FRONT - measured 10x
    # slower - so the distance predicate is placed here, last.)
    cond = ((F.col("a.first_tok") == F.col("b.first_tok"))
            & (F.col("a.n_words") == F.col("b.n_words"))
            & (F.col("a.doc_id") < F.col("b.doc_id"))
            & (F.greatest(pos, neg) <= F.lit(8))
            & (F.levenshtein(F.col("a.text"), F.col("b.text"), 8)
               >= F.lit(0)))
    # the THRESHOLDED levenshtein runs the banded O(k*L) DP instead
    # of the full O(L^2) matrix (returns -1 above the threshold) -
    # another ~x on top of the bag prune; survivors' distances are
    # identical to the unbounded form, so the oracle is unchanged
    return (
        a.join(b, on=cond)
        .select(F.col("a.doc_id").alias("doc_a"),
                F.col("b.doc_id").alias("doc_b"),
                F.levenshtein(F.col("a.text"), F.col("b.text"), 8)
                .cast("long").alias("edit_distance"))
    )


@register("k1g_sorted_neighborhood_dedup", "K1+K2", """
WITH t AS (SELECT doc_id, LOWER(text) AS lt FROM documents),
k AS (
  SELECT doc_id,
         SUBSTR(REGEXP_REPLACE(lt, '[^a-z0-9]', '', 'g'), 1, 16) AS bkey
  FROM t
),
r AS (
  SELECT doc_id, ROW_NUMBER() OVER (ORDER BY bkey, doc_id) AS rnk FROM k
),
tokens AS (
  SELECT DISTINCT doc_id, UNNEST(STRING_SPLIT(lt, ' ')) AS w FROM t
),
sizes AS (SELECT doc_id, COUNT(*) AS n FROM tokens GROUP BY doc_id),
pairs AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, b.rnk - a.rnk AS dist
  FROM r a JOIN r b ON b.rnk - a.rnk BETWEEN 1 AND 4
),
inter AS (
  SELECT p.doc_a, p.doc_b, p.dist, COUNT(*) AS i
  FROM pairs p
  JOIN tokens ta ON ta.doc_id = p.doc_a
  JOIN tokens tb ON tb.doc_id = p.doc_b AND tb.w = ta.w
  GROUP BY 1, 2, 3
)
SELECT i.doc_a, i.doc_b, i.dist,
       ROUND(CAST(i.i AS DOUBLE) / (sa.n + sb.n - i.i), 6) AS jaccard
FROM inter i
JOIN sizes sa ON sa.doc_id = i.doc_a
JOIN sizes sb ON sb.doc_id = i.doc_b
WHERE CAST(i.i AS DOUBLE) / (sa.n + sb.n - i.i) >= 0.3
""", "Sorted-neighborhood dedup - the THIRD blocking family next to "
     "MinHash-LSH and SimHash bands, and the classic record-linkage "
     "method: sort by a normalized blocking key (alnum-squashed "
     "16-char prefix), compare only rows within a sliding window of "
     "4 in that order, keep pairs with word-set Jaccard >= 0.3. The "
     "global order comes from the two-pass ranged rank (no "
     "single-partition window); the window join is an equi-join on "
     "rank/w buckets (each row lands in its bucket and the next, so "
     "every within-w pair shares a bucket - never a band/theta "
     "join); the verify step is array_intersect on the pair rows "
     "(bounded by 4 pairs per row). Everything is linear in rows at "
     "100 TB - the known trade being that near-dups whose FIRST "
     "characters differ sort apart, which is why production linkage "
     "runs multiple passes with different keys.")
def k1g_sorted_neighborhood_dedup(spark: SparkSession,
                                  sf_dir: str) -> DataFrame:
    from cassandra_elasticsearch_sync_spark.operators.distributed_order import (
        with_global_order,
    )

    W = 4
    d = load_table(spark, sf_dir, "documents").select(
        "doc_id", F.lower("text").alias("lt"))
    keyed = d.select(
        "doc_id", "lt",
        F.substring(F.regexp_replace(F.col("lt"), "[^a-z0-9]", ""), 1, 16)
        .alias("bkey"),
        F.array_distinct(F.split(F.col("lt"), " ")).alias("toks"),
    )
    ranked, _ = with_global_order(
        keyed, [F.col("bkey"), F.col("doc_id")], rank_col="rnk")
    ranked = ranked.select("doc_id", "rnk", "toks",
                           F.size("toks").alias("n"))
    # each row joins its own rank/W bucket and the next one: any pair
    # within distance W shares at least one bucket (floor difference
    # <= 1), so the window join is a plain equi-join. IDs ONLY go
    # through the bucket explode (the never-carry-payload-through-a-
    # bucketing-explode rule the RP-LSH point-B OOM pinned); the token
    # arrays re-attach per unique pair for the verify.
    bucketed = ranked.select(
        "doc_id", "rnk",
        F.explode(F.array((F.col("rnk") / W).cast("bigint"),
                          (F.col("rnk") / W).cast("bigint") + 1))
        .alias("bucket"))
    a = bucketed.select(F.col("doc_id").alias("doc_a"),
                        F.col("rnk").alias("ra"), "bucket")
    b = bucketed.select(F.col("doc_id").alias("doc_b"),
                        F.col("rnk").alias("rb"), "bucket")
    pair_ids = (
        a.join(b, "bucket")
        .filter((F.col("rb") - F.col("ra")).between(1, W))
        .select("doc_a", "doc_b",
                (F.col("rb") - F.col("ra")).alias("dist"))
        .distinct()
    )
    ta = ranked.select(F.col("doc_id").alias("doc_a"),
                       F.col("toks").alias("ta"), F.col("n").alias("na"))
    tb = ranked.select(F.col("doc_id").alias("doc_b"),
                       F.col("toks").alias("tb"), F.col("n").alias("nb"))
    pairs = (pair_ids.join(ta, "doc_a").join(tb, "doc_b")
             .select("doc_a", "doc_b", "dist",
                     F.size(F.array_intersect("ta", "tb")).alias("i"),
                     "na", "nb"))
    j = F.col("i").cast("double") / (F.col("na") + F.col("nb") - F.col("i"))
    return (pairs.filter((F.col("i") > 0) & (j >= 0.3))
            .select("doc_a", "doc_b", "dist", F.round(j, 6).alias("jaccard")))
