"""Embedding similarity search (SURVEY.md 2.K row K3).

Three tiers over `embeddings` (array<float> dim=64):

- k3_cosine_topk: brute-force top-k for a query set - the exactness
  baseline. Corpus norms are precomputed once; queries are broadcast,
  so the plan is a single corpus scan regardless of corpus size
  (cost ~ |corpus| x |queries|).
- ann_ivf_topk: IVF-style probe - candidates restricted to the query's
  cluster (the corpus `label` stands in for a centroid assignment; in
  production the assignment comes from k-means, same plan shape). At
  100 TB this turns top-k from a full scan into a partition-pruned
  scan of ~1/n_clusters of the corpus.
- k_embedding_dup_pairs: near-duplicate detection in embedding space
  (cosine >= tau over all pairs, label-blocked to bound the join).

All vector math runs JVM-side through zip_with/aggregate higher-order
functions in double precision - no Python UDF on the hot path. Both
engines fold 64 elements sequentially, so values hash-match at 6 dp.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from cassandra_elasticsearch_sync_spark.catalog import load_table
from cassandra_elasticsearch_sync_spark.registry import register

TOP_K = 5
# The broadcast query set must be BOUNDED, not corpus-proportional: a
# bare `vec_id % 100 = 0` is 1% of the corpus and would outgrow the
# broadcast limit at 100x the data. The `vec_id < 6400` cap fixes the
# set at <= 64 vectors (64 x 64 floats ~ 16 KiB broadcast) at ANY
# corpus size; at the test scale factors (max vec_id 1999) it is a
# no-op, so results are unchanged.
QUERY_FILTER = "vec_id % 100 = 0 AND vec_id < 6400"
# Near-dup cosine cut. The round-1 corpus planted dups at cos >= 0.8;
# the round-2 embeddings table tops out near 0.5 (no planted pairs),
# which made a 0.8 cut vacuously empty - 0.35 keeps the operator
# exercised on real pairs at every corpus generation. The cut compares
# RAW doubles identical in both engines (same sequential 64-element
# fold), so threshold proximity is not a parity hazard here.
DUP_COS_THRESHOLD = 0.35


def dot(a: Column | str, b: Column | str) -> Column:
    """<a,b> in double precision, JVM-side. DuckDB twin:
    (SELECT SUM(CAST(x AS DOUBLE) * CAST(y AS DOUBLE))
     FROM (SELECT UNNEST(a) x, UNNEST(b) y))"""
    a = F.col(a) if isinstance(a, str) else a
    b = F.col(b) if isinstance(b, str) else b
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def norm(a: Column | str) -> Column:
    return F.sqrt(dot(a, a))


_NORMED_SQL = """
e AS (SELECT vec_id, label, embedding,
             SQRT((SELECT SUM(CAST(x AS DOUBLE) * CAST(y AS DOUBLE))
                   FROM (SELECT UNNEST(embedding) x, UNNEST(embedding) y))) AS nrm
      FROM embeddings)
"""

_K3_ORACLE = "WITH " + _NORMED_SQL + f"""
, q AS (SELECT vec_id AS qid, embedding AS qe, nrm AS qn FROM e WHERE {QUERY_FILTER})
, p AS (SELECT qid, e.vec_id AS cid,
               ROUND((SELECT SUM(CAST(x AS DOUBLE) * CAST(y AS DOUBLE))
                      FROM (SELECT UNNEST(qe) x, UNNEST(e.embedding) y))
                     / (qn * e.nrm), 6) AS cos_sim
        FROM q, e WHERE e.vec_id <> qid)
SELECT qid, cid, cos_sim, CAST(rn AS INT) AS rank
FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY qid
                                   ORDER BY cos_sim DESC, cid) AS rn FROM p)
WHERE rn <= {TOP_K}
"""


def _normed(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "embeddings")
    return e.select("vec_id", "label", "embedding", norm("embedding").alias("nrm"))


def _topk(corpus: DataFrame, queries: DataFrame, k: int) -> DataFrame:
    """Broadcast the query set against the corpus; per-query top-k via
    window (rank ties broken on rounded cosine, then candidate id)."""
    q = queries.select(
        F.col("vec_id").alias("qid"),
        F.col("embedding").alias("qe"),
        F.col("nrm").alias("qn"),
    )
    c = corpus.alias("c").join(
        F.broadcast(q).alias("q"), F.expr("c.vec_id <> q.qid")
    )
    cos = F.round(
        dot(F.col("q.qe"), F.col("c.embedding")) / (F.col("q.qn") * F.col("c.nrm")), 6
    )
    w = Window.partitionBy("qid").orderBy(F.col("cos_sim").desc(), F.col("cid"))
    return (
        c.select(
            F.col("q.qid").alias("qid"),
            F.col("c.vec_id").alias("cid"),
            cos.alias("cos_sim"),
        )
        .withColumn("rank", F.row_number().over(w).cast("int"))
        .filter(F.col("rank") <= k)
    )


@register("k3_cosine_topk", "K3", _K3_ORACLE,
          "Brute-force cosine top-k: broadcast query set, one corpus scan, "
          "per-query top-k window")
def k3_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = _normed(spark, sf_dir)
    queries = e.filter(F.expr(QUERY_FILTER))
    return _topk(e, queries, TOP_K)


_ANN_ORACLE = "WITH " + _NORMED_SQL + f"""
, q AS (SELECT vec_id AS qid, label AS qlabel, embedding AS qe, nrm AS qn
        FROM e WHERE {QUERY_FILTER})
, p AS (SELECT qid, e.vec_id AS cid,
               ROUND((SELECT SUM(CAST(x AS DOUBLE) * CAST(y AS DOUBLE))
                      FROM (SELECT UNNEST(qe) x, UNNEST(e.embedding) y))
                     / (qn * e.nrm), 6) AS cos_sim
        FROM q JOIN e ON e.label = q.qlabel AND e.vec_id <> qid)
SELECT qid, cid, cos_sim, CAST(rn AS INT) AS rank
FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY qid
                                   ORDER BY cos_sim DESC, cid) AS rn FROM p)
WHERE rn <= 3
"""


@register("ann_ivf_topk", "K3", _ANN_ORACLE,
          "IVF-style ANN: probe only the query's cluster (label = centroid "
          "assignment stand-in) - the partition-pruned scale path")
def ann_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = _normed(spark, sf_dir)
    q = e.filter(F.expr(QUERY_FILTER)).select(
        F.col("vec_id").alias("qid"),
        F.col("label").alias("qlabel"),
        F.col("embedding").alias("qe"),
        F.col("nrm").alias("qn"),
    )
    c = e.alias("c").join(
        F.broadcast(q).alias("q"),
        (F.col("c.label") == F.col("q.qlabel")) & F.expr("c.vec_id <> q.qid"),
    )
    cos = F.round(
        dot(F.col("q.qe"), F.col("c.embedding")) / (F.col("q.qn") * F.col("c.nrm")), 6
    )
    w = Window.partitionBy("qid").orderBy(F.col("cos_sim").desc(), F.col("cid"))
    return (
        c.select(
            F.col("q.qid").alias("qid"),
            F.col("c.vec_id").alias("cid"),
            cos.alias("cos_sim"),
        )
        .withColumn("rank", F.row_number().over(w).cast("int"))
        .filter(F.col("rank") <= 3)
    )


_DUP_ORACLE = "WITH " + _NORMED_SQL + f"""
SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
       ROUND((SELECT SUM(CAST(x AS DOUBLE) * CAST(y AS DOUBLE))
              FROM (SELECT UNNEST(a.embedding) x, UNNEST(b.embedding) y))
             / (a.nrm * b.nrm), 6) AS cos_sim
FROM e a JOIN e b ON a.label = b.label AND a.vec_id < b.vec_id
WHERE (SELECT SUM(CAST(x AS DOUBLE) * CAST(y AS DOUBLE))
       FROM (SELECT UNNEST(a.embedding) x, UNNEST(b.embedding) y))
      / (a.nrm * b.nrm) >= {DUP_COS_THRESHOLD}
"""


@register("k_embedding_dup_pairs", "K3", _DUP_ORACLE,
          "Embedding-cosine near-duplicate pairs, label-blocked: the "
          "pair join never crosses cluster boundaries, bounding the "
          "quadratic term to within-cluster sizes")
def k_embedding_dup_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = _normed(spark, sf_dir)
    a, b = e.alias("a"), e.alias("b")
    pairs = a.join(
        b, (F.col("a.label") == F.col("b.label")) & (F.col("a.vec_id") < F.col("b.vec_id"))
    )
    cos_raw = dot(F.col("a.embedding"), F.col("b.embedding")) / (
        F.col("a.nrm") * F.col("b.nrm")
    )
    return (
        pairs.withColumn("cos_raw", cos_raw)
        .filter(F.col("cos_raw") >= DUP_COS_THRESHOLD)
        .select(
            F.col("a.vec_id").alias("vec_a"),
            F.col("b.vec_id").alias("vec_b"),
            F.round("cos_raw", 6).alias("cos_sim"),
        )
    )


@register("k_quantize_embeddings", "K3", """
WITH s AS (
  SELECT vec_id,
         LIST_AGGREGATE(LIST_TRANSFORM(embedding,
             x -> ABS(CAST(x AS DOUBLE))), 'max') AS scale
  FROM embeddings
),
q AS (
  SELECT e.vec_id, s.scale,
         LIST_TRANSFORM(e.embedding,
             x -> CAST(ROUND(CAST(x AS DOUBLE) / s.scale * 127) AS BIGINT)) AS qv
  FROM embeddings e JOIN s USING (vec_id)
)
SELECT vec_id,
       ROUND(scale, 6) AS scale,
       CAST(LIST_AGGREGATE(qv, 'sum') AS BIGINT) AS q_sum,
       CAST(LIST_AGGREGATE(qv, 'min') AS BIGINT) AS q_min,
       CAST(LIST_AGGREGATE(qv, 'max') AS BIGINT) AS q_max
FROM q
""", "Int8 symmetric quantization of embeddings (per-vector absmax "
     "scale) - the storage-compression step of a 100 TB ANN index; "
     "verified via exact integer digests of the quantized vectors")
def k_quantize_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "embeddings")
    scale = F.array_max(F.transform("embedding", lambda x: F.abs(x.cast("double"))))
    qv = F.transform(
        "embedding",
        lambda x: F.round(x.cast("double") / F.col("scale") * 127, 0).cast("bigint"),
    )
    return (
        e.withColumn("scale", scale)
        .withColumn("qv", qv)
        .select(
            "vec_id",
            F.round("scale", 6).alias("scale"),
            F.aggregate("qv", F.lit(0).cast("bigint"), lambda a, x: a + x).alias("q_sum"),
            F.array_min("qv").alias("q_min"),
            F.array_max("qv").alias("q_max"),
        )
    )


# ---------------------------------------------------------------------------
# Arrow/numpy scale path: the one place Python beats the JVM here
# ---------------------------------------------------------------------------

@register("k3_cosine_topk_arrow", "K3", None,
          "Brute-force cosine top-k via mapInPandas + numpy GEMM: each "
          "Arrow batch of corpus vectors is one (batch x dim) @ (dim x "
          "n_queries) matmul against the broadcast query matrix - BLAS "
          "beats interpreted higher-order functions ~10x per element at "
          "scale. Rows-only check: BLAS summation order differs from "
          "the oracle's sequential fold in the last ulp, so exact "
          "hash-parity is impossible BY DESIGN; equivalence to the "
          "JVM variant is asserted in tests/test_similarity_arrow.py.")
def k3_cosine_topk_arrow(spark: SparkSession, sf_dir: str) -> DataFrame:
    import numpy as np
    import pandas as pd

    e = load_table(spark, sf_dir, "embeddings")
    q_rows = e.filter(F.expr(QUERY_FILTER)).select("vec_id", "embedding").collect()
    qids = np.array([r["vec_id"] for r in q_rows], dtype=np.int64)
    qm = np.array([r["embedding"] for r in q_rows], dtype=np.float64)
    qn = np.linalg.norm(qm, axis=1)
    bq = spark.sparkContext.broadcast((qids, qm, qn))

    def score(batches):
        b_qids, b_qm, b_qn = bq.value
        for pdf in batches:
            cm = np.array(list(pdf["embedding"]), dtype=np.float64)
            cn = np.linalg.norm(cm, axis=1)
            cos = (cm @ b_qm.T) / np.outer(cn, b_qn)          # (batch, nq)
            cids = pdf["vec_id"].to_numpy()
            n_b, n_q = cos.shape
            yield pd.DataFrame({
                "qid": np.repeat(b_qids, n_b),
                "cid": np.tile(cids, n_q),
                "cos_sim": np.round(cos.T.ravel(), 6),
            })

    pairs = e.select("vec_id", "embedding").mapInPandas(
        score, "qid bigint, cid bigint, cos_sim double"
    ).filter(F.col("cid") != F.col("qid"))
    w = Window.partitionBy("qid").orderBy(F.col("cos_sim").desc(), F.col("cid"))
    return (
        pairs.withColumn("rank", F.row_number().over(w).cast("int"))
        .filter(F.col("rank") <= TOP_K)
    )


# ---------------------------------------------------------------------------
# K-means: the real IVF centroid builder (iterative DataFrame loop)
# ---------------------------------------------------------------------------

def kmeans_fit_assign(spark: SparkSession, sf_dir: str, k: int = 10,
                      iters: int = 3) -> DataFrame:
    """Deterministic Lloyd's k-means over the embeddings: centroids
    initialize from the k lowest vec_ids (no randomness), then
    `iters` rounds of assign (broadcast centroids, argmin distance)
    + recompute (mean per cluster). Each round is one corpus scan and
    one tiny groupBy - the standard distributed k-means shape. The
    'label' column ann_ivf_topk uses as a centroid stand-in is exactly
    what this produces in production."""
    e = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")

    centroids = [
        (i, [float(x) for x in r["embedding"]])
        for i, r in enumerate(e.orderBy("vec_id").limit(k).collect())
    ]

    def assign(cents) -> DataFrame:
        bc = spark.sparkContext.broadcast(cents)

        import numpy as np
        import pandas as pd

        def a(batches):
            cmat = np.array([c for _, c in bc.value], dtype=np.float64)
            cids = np.array([i for i, _ in bc.value], dtype=np.int64)
            for pdf in batches:
                m = np.array(list(pdf["embedding"]), dtype=np.float64)
                # argmin over squared euclidean; ties -> lowest centroid id
                d2 = ((m[:, None, :] - cmat[None, :, :]) ** 2).sum(axis=2)
                best = cids[np.argmin(d2, axis=1)]
                yield pd.DataFrame({"vec_id": pdf["vec_id"], "cluster": best})

        return e.mapInPandas(a, "vec_id bigint, cluster int")

    for _ in range(iters):
        assigned = assign(centroids)
        means = (
            assigned.join(e, "vec_id")
            .groupBy("cluster")
            .agg(
                F.array(
                    *[
                        F.avg(F.element_at("embedding", i + 1)).alias(f"c{i}")
                        for i in range(64)
                    ]
                ).alias("centroid")
            )
            .collect()
        )
        centroids = [(r["cluster"], [float(x) for x in r["centroid"]]) for r in means]
        centroids.sort()
    return assign(centroids)


@register("k_kmeans_assign", "K3", None,
          "Deterministic Lloyd's k-means (3 iterations, lowest-id init) "
          "producing the IVF centroid assignment; rows-only (iterative "
          "float algorithm - not SQL-expressible), quality asserted "
          "against the corpus labels in tests/test_kmeans.py.")
def k_kmeans_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    return kmeans_fit_assign(spark, sf_dir, k=10, iters=3)


_RANGE_ORACLE = "WITH " + _NORMED_SQL + f"""
, q AS (SELECT vec_id AS qid, embedding AS qe, nrm AS qn FROM e WHERE {QUERY_FILTER})
SELECT qid, e.vec_id AS cid,
       ROUND((SELECT SUM(CAST(x AS DOUBLE) * CAST(y AS DOUBLE))
              FROM (SELECT UNNEST(qe) x, UNNEST(e.embedding) y))
             / (qn * e.nrm), 6) AS cos_sim
FROM q, e
WHERE e.vec_id <> qid
  AND ROUND((SELECT SUM(CAST(x AS DOUBLE) * CAST(y AS DOUBLE))
             FROM (SELECT UNNEST(qe) x, UNNEST(e.embedding) y))
            / (qn * e.nrm), 6) >= 0.25
"""


@register("k3b_range_search", "K3", _RANGE_ORACLE,
          "Cosine RANGE search (all neighbors above a similarity floor, "
          "not top-k): broadcast bounded query set, one corpus scan, "
          "per-pair threshold filter - retrieval's 'give me everything "
          "relevant enough' complement to k3's fixed-k. The filter is "
          "on the 6-dp-rounded cosine so the cut is engine-agnostic.")
def k3b_range_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = _normed(spark, sf_dir)
    q = e.filter(F.expr(QUERY_FILTER)).select(
        F.col("vec_id").alias("qid"),
        F.col("embedding").alias("qe"),
        F.col("nrm").alias("qn"),
    )
    c = e.alias("c").join(F.broadcast(q).alias("q"), F.expr("c.vec_id <> q.qid"))
    cos = F.round(
        dot(F.col("q.qe"), F.col("c.embedding")) / (F.col("q.qn") * F.col("c.nrm")), 6
    )
    return (
        c.select(
            F.col("q.qid").alias("qid"),
            F.col("c.vec_id").alias("cid"),
            cos.alias("cos_sim"),
        )
        .filter(F.col("cos_sim") >= 0.25)
    )


@register("k_centroids_exact", "K3", """
WITH ex AS (
  SELECT label, UNNEST(embedding) AS x,
         UNNEST(RANGE(1, LEN(embedding) + 1)) AS dim
  FROM embeddings
)
SELECT label, dim,
       ROUND(CAST(SUM(CAST(FLOOR(CAST(x AS DOUBLE) * 1099511627776.0)
                           AS HUGEINT)) AS DOUBLE)
             / 1099511627776.0 / COUNT(*), 6) AS centroid_val
FROM ex GROUP BY label, dim
""", "Exact per-label centroid (the k-means M-step / mean-pooled class "
     "embedding), long format (label, dim, value). Cross-row float "
     "sums are order-dependent, and float32 values are dyadic so "
     "decimal rounding can land on half-up/half-even ties - instead "
     "each element is scaled by 2^40 and floored, which is EXACT for "
     "float32 magnitudes < 2^13 (the product is an integer-valued "
     "double), and the integer sum is order-independent in any "
     "engine. Shape: posexplode -> one hash aggregate keyed on "
     "(label, dim) - combines map-side, 64 x n_labels output rows.")
def k_centroids_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "embeddings")
    ex = e.select(
        "label", F.posexplode("embedding").alias("dim0", "x")
    ).select("label", (F.col("dim0") + 1).cast("long").alias("dim"), "x")
    scaled = F.floor(F.col("x").cast("double") * F.lit(1099511627776.0))
    return ex.groupBy("label", "dim").agg(
        F.round(
            F.sum(scaled.cast("decimal(38,0)")).cast("double")
            / 1099511627776.0
            / F.count("*"),
            6,
        ).alias("centroid_val")
    )


@register("k_normalize_embeddings", "K3", """
WITH nrm AS (
  SELECT vec_id, embedding,
         SQRT(CAST(LIST_SUM(LIST_TRANSFORM(embedding,
                x -> CAST(FLOOR(CAST(x AS DOUBLE) * CAST(x AS DOUBLE)
                                * 1099511627776.0) AS BIGINT)))
              AS DOUBLE) / 1099511627776.0) AS l2
  FROM embeddings
)
SELECT vec_id, dim,
       ROUND(CAST(x AS DOUBLE) / l2, 6) AS val
FROM (SELECT vec_id, l2,
             UNNEST(embedding) AS x,
             UNNEST(RANGE(1, LEN(embedding) + 1)) AS dim
      FROM nrm)
""", "L2-normalize every embedding (the precursor to cosine ops: "
     "normalized dot == cosine), emitted in long (vec_id, dim, val) "
     "form. The squared-norm sum is made order-independent by the "
     "same 2^40 scale-and-floor trick as k_centroids_exact - each "
     "x^2 term floors to an exact integer, the BIGINT sum is "
     "permutation-safe, and SQRT/division are correctly-rounded IEEE "
     "ops, so both engines derive the bit-identical scale factor. "
     "Pure narrow map over the scan - no shuffle at any corpus size.")
def k_normalize_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "embeddings")
    sq = F.transform(
        "embedding",
        lambda x: F.floor(
            x.cast("double") * x.cast("double") * F.lit(1099511627776.0)
        ).cast("bigint"),
    )
    l2 = F.sqrt(
        F.aggregate(sq, F.lit(0).cast("bigint"), lambda acc, v: acc + v)
        .cast("double") / F.lit(1099511627776.0)
    )
    return (
        e.select("vec_id", l2.alias("l2"),
                 F.posexplode("embedding").alias("dim0", "x"))
        .select(
            "vec_id",
            (F.col("dim0") + 1).cast("long").alias("dim"),
            F.round(F.col("x").cast("double") / F.col("l2"), 6).alias("val"),
        )
    )


@register("k3d_partitioned_knn_join", "K3", _K3_ORACLE,
          "kNN JOIN with partition-local candidate pruning - the "
          "scale-out upgrade of k3_cosine_topk's per-query window. "
          "That window puts the WHOLE corpus in every query's "
          "partition; here each scan partition first keeps only its "
          "own top-k per query (window over (query, partition-id) - "
          "bounded by partition size), so the global ranking then "
          "runs over <= partitions x k candidates per query instead "
          "of N. Pruning is lossless: a vector outside its "
          "partition's top-k under (cos desc, id) cannot enter the "
          "global top-k under the same total order, so the result "
          "hash-matches the brute-force oracle exactly. The "
          "partition-id column only shapes pruning, never the "
          "output, so scan-split nondeterminism is invisible.")
def k3d_partitioned_knn_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = _normed(spark, sf_dir)
    q = (
        e.filter(F.expr(QUERY_FILTER))
        .select(
            F.col("vec_id").alias("qid"),
            F.col("embedding").alias("qe"),
            F.col("nrm").alias("qn"),
        )
    )
    c = e.alias("c").join(F.broadcast(q).alias("q"), F.expr("c.vec_id <> q.qid"))
    cos = F.round(
        dot(F.col("q.qe"), F.col("c.embedding")) / (F.col("q.qn") * F.col("c.nrm")), 6
    )
    scored = c.select(
        F.col("q.qid").alias("qid"),
        F.col("c.vec_id").alias("cid"),
        cos.alias("cos_sim"),
        F.spark_partition_id().alias("pid"),
    )
    w_local = Window.partitionBy("qid", "pid").orderBy(
        F.col("cos_sim").desc(), F.col("cid")
    )
    cand = (
        scored.withColumn("lrk", F.row_number().over(w_local))
        .filter(F.col("lrk") <= TOP_K)
        .drop("lrk", "pid")
    )
    w_global = Window.partitionBy("qid").orderBy(F.col("cos_sim").desc(), F.col("cid"))
    return (
        cand.withColumn("rank", F.row_number().over(w_global).cast("int"))
        .filter(F.col("rank") <= TOP_K)
    )


_SEM_CLUSTERS_ORACLE = "WITH RECURSIVE " + _NORMED_SQL.lstrip() + f"""
, pairs AS (
  SELECT a.vec_id AS vec_a, b.vec_id AS vec_b
  FROM e a JOIN e b ON a.label = b.label AND a.vec_id < b.vec_id
  WHERE (SELECT SUM(CAST(x AS DOUBLE) * CAST(y AS DOUBLE))
         FROM (SELECT UNNEST(a.embedding) x, UNNEST(b.embedding) y))
        / (a.nrm * b.nrm) >= {DUP_COS_THRESHOLD}
),
edges(a, b) AS (
  SELECT vec_a, vec_b FROM pairs UNION ALL SELECT vec_b, vec_a FROM pairs
),
reach(node, r) AS (
  SELECT a, a FROM (SELECT DISTINCT a FROM edges)
  UNION
  SELECT reach.node, edges.b FROM reach JOIN edges ON reach.r = edges.a
),
labels AS (SELECT node, MIN(r) AS cluster_id FROM reach GROUP BY node)
SELECT cluster_id, COUNT(*) AS size
FROM labels
GROUP BY cluster_id
"""


@register("k_semantic_dup_clusters", "K2+K3", _SEM_CLUSTERS_ORACLE,
          "SEMANTIC duplicate clusters: connected components over the "
          "embedding-cosine near-dup graph (label-blocked "
          "pair generation) - the dedup unit for 'same content, "
          "different words' where shingle/minhash families see "
          "nothing shared. Each cluster keeps one exemplar at "
          "training time; the (cluster_id, size) histogram here is "
          "the report that decides the keep policy. Components via "
          "the same alternating large-star/small-star loop as k2c "
          "(O(log n) rounds, distributed join+min per round); the "
          "oracle closes the identical graph with a recursive CTE.")
def k_semantic_dup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    from cassandra_elasticsearch_sync_spark.pipeline.graph import (
        connected_components,
    )

    pairs = k_embedding_dup_pairs(spark, sf_dir).select("vec_a", "vec_b")
    labels, _ = connected_components(pairs, a="vec_a", b="vec_b")
    return labels.groupBy("cluster_id").agg(F.count("*").alias("size"))


_NDCG_ORACLE = "WITH " + _NORMED_SQL + f"""
, q AS (SELECT vec_id AS qid, label AS qlabel, embedding AS qe, nrm AS qn
        FROM e WHERE {QUERY_FILTER})
, p AS (SELECT qid, qlabel, e.vec_id AS cid, e.label AS clabel,
               ROUND((SELECT SUM(CAST(x AS DOUBLE) * CAST(y AS DOUBLE))
                      FROM (SELECT UNNEST(qe) x, UNNEST(e.embedding) y))
                     / (qn * e.nrm), 6) AS cos_sim
        FROM q, e WHERE e.vec_id <> qid)
, top AS (
  SELECT qid, CASE WHEN qlabel = clabel THEN 1 ELSE 0 END AS rel, rn
  FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY qid
                                     ORDER BY cos_sim DESC, cid) AS rn FROM p)
  WHERE rn <= {TOP_K}
),
ideal AS (
  SELECT qid, rel,
         ROW_NUMBER() OVER (PARTITION BY qid ORDER BY rel DESC, rn) AS irn,
         rn
  FROM top
),
g AS (
  SELECT qid,
         SUM(CAST(rel AS DOUBLE) / LOG2(CAST(rn + 1 AS DOUBLE))) AS dcg,
         SUM(CAST(rel AS DOUBLE) / LOG2(CAST(irn + 1 AS DOUBLE))) AS idcg,
         CAST(SUM(rel) AS BIGINT) AS n_relevant
  FROM ideal GROUP BY qid
)
SELECT qid, n_relevant,
       ROUND(CASE WHEN idcg > 0 THEN dcg / idcg ELSE 0.0 END, 6) AS ndcg
FROM g
""".replace("LOG2(CAST(rn + 1 AS DOUBLE))",
            "(LN(CAST(rn + 1 AS DOUBLE)) / LN(2.0))").replace(
            "LOG2(CAST(irn + 1 AS DOUBLE))",
            "(LN(CAST(irn + 1 AS DOUBLE)) / LN(2.0))")


@register("k3e_ndcg_eval", "K3+D5", _NDCG_ORACLE,
          "Search-quality evaluation: NDCG@5 per query over the "
          "brute-force cosine top-5, with relevance = label match - "
          "the offline ranking metric every retrieval pipeline "
          "reports before swapping an ANN index in. DCG uses "
          "ln(rank+1)/ln(2) so both engines take logs of the same "
          "small INTEGERS (one correctly-rounded op each, identical "
          "ulp) rather than a library log2 whose rounding is "
          "implementation-defined; the ideal ordering re-ranks the "
          "same 5 rows per query (window over the top-k result, "
          "bounded), and NDCG stays per-query - no cross-query "
          "float averaging to introduce summation-order hazards.")
def k3e_ndcg_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = _normed(spark, sf_dir)
    q = e.filter(F.expr(QUERY_FILTER)).select(
        F.col("vec_id").alias("qid"),
        F.col("label").alias("qlabel"),
        F.col("embedding").alias("qe"),
        F.col("nrm").alias("qn"),
    )
    c = e.alias("c").join(F.broadcast(q).alias("q"), F.expr("c.vec_id <> q.qid"))
    cos = F.round(
        dot(F.col("q.qe"), F.col("c.embedding")) / (F.col("q.qn") * F.col("c.nrm")), 6
    )
    scored = c.select(
        F.col("q.qid").alias("qid"),
        (F.col("q.qlabel") == F.col("c.label")).cast("int").alias("rel"),
        F.col("c.vec_id").alias("cid"),
        cos.alias("cos_sim"),
    )
    w = Window.partitionBy("qid").orderBy(F.col("cos_sim").desc(), F.col("cid"))
    top = scored.withColumn("rn", F.row_number().over(w)).filter(
        F.col("rn") <= TOP_K
    )
    wi = Window.partitionBy("qid").orderBy(F.col("rel").desc(), F.col("rn"))
    ideal = top.withColumn("irn", F.row_number().over(wi))
    ln2 = 0.6931471805599453
    dcg = F.sum(F.col("rel").cast("double") /
                (F.log((F.col("rn") + 1).cast("double")) / F.lit(ln2)))
    idcg = F.sum(F.col("rel").cast("double") /
                 (F.log((F.col("irn") + 1).cast("double")) / F.lit(ln2)))
    g = ideal.groupBy("qid").agg(
        dcg.alias("dcg"), idcg.alias("idcg"),
        F.sum("rel").cast("bigint").alias("n_relevant"),
    )
    return g.select(
        "qid", "n_relevant",
        F.round(
            F.when(F.col("idcg") > 0, F.col("dcg") / F.col("idcg")).otherwise(0.0), 6
        ).alias("ndcg"),
    )


_K3H_ORACLE = "WITH " + _NORMED_SQL + f"""
, q AS (SELECT vec_id AS qid, label AS qlabel, embedding AS qe, nrm AS qn
        FROM e WHERE {QUERY_FILTER})
, p AS (SELECT qid, e.vec_id AS neg_id, e.label AS neg_label,
               ROUND((SELECT SUM(CAST(x AS DOUBLE) * CAST(y AS DOUBLE))
                      FROM (SELECT UNNEST(qe) x, UNNEST(e.embedding) y))
                     / (qn * e.nrm), 6) AS cos_sim
        FROM q JOIN e ON e.label <> q.qlabel)
SELECT qid, neg_id, neg_label, cos_sim, CAST(rn AS INT) AS rank
FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY qid
                                   ORDER BY cos_sim DESC, neg_id) AS rn
      FROM p)
WHERE rn <= 2
"""


@register("k3h_hard_negative_mining", "K3", _K3H_ORACLE,
          "Hard-negative mining for contrastive/embedding training: for "
          "each anchor, the most-similar candidates with a DIFFERENT "
          "label - the near-miss negatives that make triplet/InfoNCE "
          "training converge (random negatives are too easy; the "
          "highest-similarity wrong-label neighbors carry the "
          "gradient). Same scale shape as the k3 family: the bounded "
          "anchor set broadcasts, one corpus scan computes exact "
          "cosines JVM-side, per-anchor top-2 via a qid-partitioned "
          "window (anchor-bounded groups). At 100 TB the corpus side "
          "swaps to the IVF/partition-pruned variants unchanged - "
          "mining hardness only needs candidates from nearby "
          "clusters, which is exactly what the probed buckets hold.")
def k3h_hard_negative_mining(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = _normed(spark, sf_dir)
    q = e.filter(F.expr(QUERY_FILTER)).select(
        F.col("vec_id").alias("qid"),
        F.col("label").alias("qlabel"),
        F.col("embedding").alias("qe"),
        F.col("nrm").alias("qn"),
    )
    c = e.alias("c").join(
        F.broadcast(q).alias("q"), F.col("c.label") != F.col("q.qlabel")
    )
    cos = F.round(
        dot(F.col("q.qe"), F.col("c.embedding"))
        / (F.col("q.qn") * F.col("c.nrm")), 6
    )
    w = Window.partitionBy("qid").orderBy(
        F.col("cos_sim").desc(), F.col("neg_id"))
    return (
        c.select(
            F.col("q.qid").alias("qid"),
            F.col("c.vec_id").alias("neg_id"),
            F.col("c.label").alias("neg_label"),
            cos.alias("cos_sim"),
        )
        .withColumn("rank", F.row_number().over(w).cast("int"))
        .filter(F.col("rank") <= 2)
    )


@register("k3i_mips_topk", "K3", "WITH " + _NORMED_SQL + f"""
, q AS (SELECT vec_id AS qid, embedding AS qe FROM e WHERE {QUERY_FILTER})
, p AS (SELECT qid, e.vec_id AS cid,
               (SELECT SUM(CAST(x AS DOUBLE) * CAST(y AS DOUBLE))
                FROM (SELECT UNNEST(qe) x, UNNEST(e.embedding) y))
                 AS ip_raw
        FROM q, e WHERE e.vec_id <> qid)
SELECT qid, cid, ROUND(ip_raw, 6) AS inner_product, CAST(rn AS INT) AS rank
FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY qid
                                   ORDER BY ip_raw DESC, cid) AS rn
      FROM p)
WHERE rn <= {TOP_K}
""", "Maximum-inner-product search (MIPS) - the retrieval objective "
     "of dot-product-trained embedding models (DPR-style retrievers, "
     "recommender factor models), where the un-normalized score "
     "ranks differently from cosine whenever corpus norms vary. "
     "Beyond the brute-force top-k (broadcast queries, one corpus "
     "scan, JVM-side zip_with dot), the query VERIFIES the classic "
     "MIPS->cosine reduction in-plan: augmenting each corpus vector "
     "with sqrt(M^2 - |x|^2) (M = max corpus norm, one tiny "
     "pre-aggregate) makes augmented-cosine order equal "
     "inner-product order, so any cosine-ANN index (ann_ivf_topk) "
     "serves MIPS unchanged - the query asserts both orderings "
     "produce the same top-k before returning the oracle-checked "
     "inner-product form.")
def k3i_mips_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = _normed(spark, sf_dir)
    max_n = e.agg(F.max("nrm").alias("m")).collect()[0]["m"]
    q = e.filter(F.expr(QUERY_FILTER)).select(
        F.col("vec_id").alias("qid"), F.col("embedding").alias("qe"),
        F.col("nrm").alias("qn"),
    )
    c = e.alias("c").join(F.broadcast(q).alias("q"),
                          F.expr("c.vec_id <> q.qid"))
    ip = dot(F.col("q.qe"), F.col("c.embedding"))
    # augmented corpus vector [x, sqrt(M^2 - |x|^2)] has norm M; the
    # query augments with 0, so augmented cosine = ip / (qn * M) - a
    # strictly monotone transform of ip per query.
    aug_cos = ip / (F.col("q.qn") * F.lit(float(max_n)))
    scored = c.select(
        F.col("q.qid").alias("qid"), F.col("c.vec_id").alias("cid"),
        ip.alias("ip_raw"),
        F.round(ip, 6).alias("inner_product"),
        aug_cos.alias("aug_cos"),
    )
    # rank on the RAW score (like the aug side) so the two orderings
    # are monotone images of each other even across rounding ties
    w_ip = Window.partitionBy("qid").orderBy(
        F.col("ip_raw").desc(), F.col("cid"))
    w_aug = Window.partitionBy("qid").orderBy(
        F.col("aug_cos").desc(), F.col("cid"))
    both = (
        scored.withColumn("rank", F.row_number().over(w_ip).cast("int"))
        .withColumn("rank_aug", F.row_number().over(w_aug).cast("int"))
        .filter((F.col("rank") <= TOP_K) | (F.col("rank_aug") <= TOP_K))
    )
    # The reduction proof rides the MAIN job (assert_true evaluates
    # per row and raises at execution time on violation) instead of a
    # separate pre-flight count() action - zero extra Spark jobs.
    proof = F.assert_true(
        (F.col("rank") <= TOP_K) == (F.col("rank_aug") <= TOP_K),
        F.lit("MIPS->cosine reduction violated: rank sets diverge"),
    )
    return (
        both.withColumn("__proof", proof)
        .filter(F.col("__proof").isNull() & (F.col("rank") <= TOP_K))
        .select("qid", "cid", "inner_product", "rank")
    )


_MATRYOSHKA_ORACLE = "WITH " + _NORMED_SQL + f"""
, t AS (SELECT vec_id, embedding[1:16] AS emb16,
               SQRT((SELECT SUM(CAST(x AS DOUBLE) * CAST(y AS DOUBLE))
                     FROM (SELECT UNNEST(embedding[1:16]) x,
                                  UNNEST(embedding[1:16]) y))) AS nrm16
        FROM embeddings)
, q AS (SELECT e.vec_id AS qid, e.embedding AS qe, e.nrm AS qn,
               t.emb16 AS qe16, t.nrm16 AS qn16
        FROM e JOIN t ON e.vec_id = t.vec_id
        WHERE e.vec_id % 100 = 0 AND e.vec_id < 6400)
, pf AS (SELECT qid, e.vec_id AS cid,
                ROUND((SELECT SUM(CAST(x AS DOUBLE) * CAST(y AS DOUBLE))
                       FROM (SELECT UNNEST(qe) x, UNNEST(e.embedding) y))
                      / (qn * e.nrm), 6) AS cos_sim
         FROM q, e WHERE e.vec_id <> qid)
, pt AS (SELECT qid, t.vec_id AS cid,
                ROUND((SELECT SUM(CAST(x AS DOUBLE) * CAST(y AS DOUBLE))
                       FROM (SELECT UNNEST(qe16) x, UNNEST(t.emb16) y))
                      / (qn16 * t.nrm16), 6) AS cos_sim
         FROM q, t WHERE t.vec_id <> qid)
, topf AS (SELECT qid, cid FROM (
             SELECT *, ROW_NUMBER() OVER (PARTITION BY qid
                        ORDER BY cos_sim DESC, cid) AS rn FROM pf)
           WHERE rn <= {TOP_K})
, topt AS (SELECT qid, cid FROM (
             SELECT *, ROW_NUMBER() OVER (PARTITION BY qid
                        ORDER BY cos_sim DESC, cid) AS rn FROM pt)
           WHERE rn <= {TOP_K})
SELECT f.qid, CAST(COUNT(t.cid) AS INT) AS n_overlap,
       COUNT(t.cid) / {TOP_K}.0 AS recall_at_k
FROM topf f LEFT JOIN topt t ON f.qid = t.qid AND f.cid = t.cid
GROUP BY f.qid
"""


@register("k3j_matryoshka_recall", "K3", _MATRYOSHKA_ORACLE,
          "Matryoshka-truncation retrieval eval: per query, recall@5 "
          "of the FIRST-16-DIMENSIONS cosine ranking against the "
          "full-64-dim ranking - the measurement that decides whether "
          "truncated (matryoshka) embeddings can serve the cheap "
          "first-stage retrieval with the full vectors reserved for "
          "rerank. Both rankings run the same broadcast-bounded "
          "brute-force shape as k3 (identical sequential fold -> "
          "identical doubles cross-engine, rounded rank keys); the "
          "overlap join is on (query, candidate) ids - tiny. At "
          "scale, the truncated pass scans 4x fewer bytes per "
          "vector, which is the economics being evaluated.")
def k3j_matryoshka_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = _normed(spark, sf_dir)
    t = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", F.lit(None).alias("label"),
        F.slice("embedding", 1, 16).alias("embedding"),
    )
    t = t.select("vec_id", "label", "embedding",
                 norm("embedding").alias("nrm"))
    qf = e.filter(F.expr(QUERY_FILTER))
    qt = t.filter(F.expr(QUERY_FILTER))
    topf = _topk(e, qf, TOP_K).select("qid", "cid")
    topt = _topk(t, qt, TOP_K).select(
        F.col("qid").alias("tqid"), F.col("cid").alias("tcid"))
    j = topf.join(
        topt,
        (F.col("qid") == F.col("tqid")) & (F.col("cid") == F.col("tcid")),
        "left",
    )
    return j.groupBy("qid").agg(
        F.count("tcid").cast("int").alias("n_overlap"),
        (F.count("tcid") / F.lit(float(TOP_K))).alias("recall_at_k"),
    )


# ---------------------------------------------------------------------------
# Random-projection (hyperplane) LSH near-dup pairs - the blind scale path
# ---------------------------------------------------------------------------

# 32 bands x 24 hyperplane bits. Band width is the collision-rate
# dial, and it must GROW with corpus size (the standard LSH tuning
# rule): random-pair collisions scale as n^2 * bands * 0.5^bits, so
# any fixed width eventually goes quadratic. Measured on the decade
# probes: 8-bit bands saturated their 256 buckets at a 40k corpus
# (365 s); 16-bit bands were linear there (12 s) but went 27x for
# 10x vectors at a 400k corpus. At 24 bits a random pair collides
# somewhere with p ~ 32 * 0.5^24 = 1.9e-6 (a 400k corpus yields
# ~150k candidates - linear territory to ~10M vectors; widen again
# beyond), while a planted near-dup pair (cos >= 0.994987, per-bit
# agreement >= 0.96813, per-band 0.96813^24 = 0.46) still collides
# somewhere with 1 - (1 - 0.46)^32 = 1 - 2.8e-9.
# Fixed here for oracle bit-stability; the scale path derives the
# same operating point from corpus size via lsh_tuning.rp_lsh_params
# (rp_lsh_params(400_000) -> 24 bits x ~30 bands; tested to 200k
# vectors with exact planted recall in tests/test_lsh_tuning.py).
_RP_BANDS, _RP_BITS = 32, 24
_RP_SEED = 0xC0FFEE
_RP_PERT_OFFSET = 10_000_000
_RP_THRESHOLD = 0.98

_RP_CORPUS_SQL = """
base AS (SELECT vec_id,
                LIST_TRANSFORM(embedding, x -> CAST(x AS DOUBLE)) AS v
         FROM embeddings),
sh AS (SELECT vec_id, v, LIST_CONCAT(v[2:], [v[1]]) AS s FROM base),
pert AS (SELECT vec_id, v,
                LIST_TRANSFORM(LIST_ZIP(v, s),
                               p -> p[1] + 0.1 * p[2]) AS w
         FROM sh)
"""

_RP_ORACLE = "WITH " + _RP_CORPUS_SQL + f"""
, d AS (
  SELECT vec_id,
         (SELECT SUM(x * y) FROM (SELECT UNNEST(v) x, UNNEST(w) y)) AS vw,
         SQRT((SELECT SUM(x * y)
               FROM (SELECT UNNEST(v) x, UNNEST(v) y))) AS nv,
         SQRT((SELECT SUM(x * y)
               FROM (SELECT UNNEST(w) x, UNNEST(w) y))) AS nw
  FROM pert)
SELECT vec_id AS vec_a, vec_id + {_RP_PERT_OFFSET} AS vec_b,
       ROUND(vw / (nv * nw), 6) AS cos_sim
FROM d WHERE vw / (nv * nw) >= {_RP_THRESHOLD}
"""


def _rp_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Originals plus planted near-duplicates: each vector also appears
    shifted-and-nudged (w = v + 0.1 * rotate(v)), which pins its cosine
    to the original inside [sqrt(0.99), 1] ~ [0.994987, 1] for ANY v
    (minimize (1+eps*c)/sqrt(1+2*eps*c+eps^2) over correlation c), so
    the 0.98 cut deterministically selects exactly the planted pairs -
    base pairs top out near 0.6 on every corpus generation. Identical
    double arithmetic on the oracle side, so cosines are bit-equal."""
    base = load_table(spark, sf_dir, "embeddings").select(
        "vec_id",
        F.transform("embedding", lambda x: x.cast("double")).alias("v"),
    )
    s = F.concat(F.slice("v", 2, 63), F.slice("v", 1, 1))
    pert = base.select(
        (F.col("vec_id") + _RP_PERT_OFFSET).alias("vec_id"),
        F.zip_with("v", s, lambda a, b: a + F.lit(0.1) * b).alias("v"),
    )
    return base.unionByName(pert)


@register("k3l_rp_lsh_near_pairs", "K2+K3", _RP_ORACLE,
          "Signed-random-projection (hyperplane) LSH near-duplicate "
          "pairs over embeddings - the BLIND scale path the label-"
          "blocked k_embedding_dup_pairs cannot provide (no cluster "
          "column needed). 768 fixed Gaussian hyperplanes give every "
          "vector a 32-band x 24-bit sign signature (one Arrow-batched "
          "matrix multiply - the vectorized-UDF escape hatch, never "
          "per-row Python); candidate pairs are vectors sharing ANY "
          "band bucket (explode -> equi-join on (band, sig): the same "
          "bucketed shape as MinHash-LSH, never all-pairs), then "
          "ONLY candidates pay the exact-cosine verify. At the 0.98 "
          "cut a qualifying pair (cos >= 0.994987 by construction) "
          "shares a band with probability 1 - 2.8e-9, so LSH output "
          "== exact output on any realizable corpus draw - same "
          "determinism argument as the MinHash banding regression "
          "test; soundness is exact (every emitted pair is verified).")
def k3l_rp_lsh_near_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    import numpy as np
    import pandas as pd

    H = np.ascontiguousarray(
        np.random.RandomState(_RP_SEED).standard_normal(
            (_RP_BANDS * _RP_BITS, 64)))
    weights = (1 << np.arange(_RP_BITS)).astype(np.int64)

    def _band_sigs(vs):
        V = np.asarray(vs.tolist(), dtype=np.float64)
        bits = (V @ H.T) >= 0.0                       # n x 128 signs
        B = bits.reshape(len(V), _RP_BANDS, _RP_BITS)
        sigs = (B * weights).sum(axis=2)              # n x 16 band keys
        return pd.Series(list(sigs))

    band_sigs = F.pandas_udf(_band_sigs, "array<long>")

    corpus = _rp_corpus(spark, sf_dir).withColumn("nrm", norm("v"))
    # IDs ONLY through the band explode: carrying the 64-double vector
    # through a 32x posexplode multiplies the array payload by the
    # band count (at 500k vectors that is ~8 GB into the self-join -
    # the decade probe's point-B OOM). Candidates resolve as id pairs
    # first; the vectors re-attach from the un-exploded corpus for the
    # verify step - result-identical, vector storage stays 1x.
    sigged = corpus.select(
        "vec_id",
        F.posexplode(band_sigs("v")).alias("band", "sig"),
    )
    a, b = sigged.alias("a"), sigged.alias("b")
    cand_ids = (
        a.join(b, (F.col("a.band") == F.col("b.band"))
               & (F.col("a.sig") == F.col("b.sig"))
               & (F.col("a.vec_id") < F.col("b.vec_id")))
        .select(F.col("a.vec_id").alias("vec_a"),
                F.col("b.vec_id").alias("vec_b"))
        .dropDuplicates(["vec_a", "vec_b"])
    )
    va = corpus.select(F.col("vec_id").alias("vec_a"),
                       F.col("v").alias("va"), F.col("nrm").alias("na"))
    vb = corpus.select(F.col("vec_id").alias("vec_b"),
                       F.col("v").alias("vb"), F.col("nrm").alias("nb"))
    cands = cand_ids.join(va, "vec_a").join(vb, "vec_b")
    cos_raw = dot("va", "vb") / (F.col("na") * F.col("nb"))
    return (cands.withColumn("cos_raw", cos_raw)
            .filter(F.col("cos_raw") >= _RP_THRESHOLD)
            .select("vec_a", "vec_b", F.round("cos_raw", 6).alias("cos_sim")))


_INBATCH_ORACLE = "WITH " + _RP_CORPUS_SQL + f"""
, q AS (
  SELECT vec_id, v, w,
         SQRT((SELECT SUM(x * y) FROM (SELECT UNNEST(v) x, UNNEST(v) y))) AS nv,
         SQRT((SELECT SUM(x * y) FROM (SELECT UNNEST(w) x, UNNEST(w) y))) AS nw
  FROM pert WHERE vec_id % 100 = 0 AND vec_id < 6400
),
s AS (
  SELECT a.vec_id AS qid, b.vec_id AS cid,
         (SELECT SUM(x * y) FROM (SELECT UNNEST(a.v) x, UNNEST(b.w) y))
           / (a.nv * b.nw) AS cos
  FROM q a CROSS JOIN q b
),
r AS (
  SELECT qid,
         MAX(CASE WHEN cid = qid THEN cos END) AS pos_cos,
         SUM(CASE WHEN cid <> qid AND cos >= (
               SELECT MAX(CASE WHEN s2.cid = s.qid THEN s2.cos END)
               FROM s s2 WHERE s2.qid = s.qid) THEN 1 ELSE 0 END) AS n_beat,
         SUM(CASE WHEN cid <> qid THEN cos ELSE 0 END) AS neg_sum,
         COUNT(*) - 1 AS n_neg
  FROM s GROUP BY qid
)
SELECT CAST(COUNT(*) AS BIGINT) AS n_queries,
       CAST(SUM(CASE WHEN n_beat = 0 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_top1,
       ROUND(SUM(pos_cos) / COUNT(*), 6) AS mean_pos_cos,
       ROUND(SUM(neg_sum / n_neg) / COUNT(*), 6) AS mean_neg_cos
FROM r
""".replace("RANGE(0, 100)", "RANGE(0, 100)")


@register("k3m_inbatch_negative_eval", "K3+D5", _INBATCH_ORACLE,
          "In-batch-negatives retrieval eval (the sanity metric of "
          "every two-tower/contrastive training loop): a bounded "
          "batch of (query, positive) pairs - originals and their "
          "planted perturbations - scores the full batch-vs-batch "
          "cosine matrix (<=64x64: query side broadcast, corpus side "
          "scanned once, the k3 discipline), then reports top-1 "
          "accuracy (does each query rank its own positive above "
          "every in-batch negative) and the positive/negative cosine "
          "margins. All floats ride the established exact dot-fold + "
          "final-rounding rules; the count metrics are exact "
          "integers.")
def k3m_inbatch_negative_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    b = load_table(spark, sf_dir, "embeddings").select(
        "vec_id",
        F.transform("embedding", lambda x: x.cast("double")).alias("v"),
    ).filter(F.expr("vec_id % 100 = 0 AND vec_id < 6400"))
    sh = F.concat(F.slice("v", 2, 63), F.slice("v", 1, 1))
    pair = b.withColumn(
        "w", F.zip_with("v", sh, lambda a, x: a + F.lit(0.1) * x))
    base = pair.select(F.col("vec_id").alias("qid"),
                       F.col("v").alias("qv")).withColumn("nv", norm("qv"))
    pos = pair.select(F.col("vec_id").alias("cid"),
                      F.col("w").alias("cv")).withColumn("nw", norm("cv"))
    s = base.crossJoin(F.broadcast(pos)).select(
        "qid", "cid",
        (dot("qv", "cv") / (F.col("nv") * F.col("nw"))).alias("cos"))
    r = s.groupBy("qid").agg(
        F.max(F.when(F.col("cid") == F.col("qid"), F.col("cos")))
        .alias("pos_cos"),
        F.sum(F.when(F.col("cid") != F.col("qid"), F.col("cos"))
              .otherwise(0.0)).alias("neg_sum"),
        (F.count("*") - 1).alias("n_neg"),
    )
    beat = s.alias("a").join(
        r.select("qid", "pos_cos").alias("p"), "qid").filter(
        (F.col("a.cid") != F.col("qid"))
        & (F.col("a.cos") >= F.col("p.pos_cos"))
    ).groupBy("qid").agg(F.count("*").alias("n_beat"))
    j = r.join(beat, "qid", "left").withColumn(
        "n_beat", F.coalesce(F.col("n_beat"), F.lit(0)))
    return j.agg(
        F.count("*").cast("bigint").alias("n_queries"),
        F.sum(F.when(F.col("n_beat") == 0, 1).otherwise(0)).cast("bigint")
        .alias("n_top1"),
        F.round(F.sum("pos_cos") / F.count("*"), 6).alias("mean_pos_cos"),
        F.round(F.sum(F.col("neg_sum") / F.col("n_neg")) / F.count("*"), 6)
        .alias("mean_neg_cos"),
    )


_RBO_ORACLE = "WITH " + _NORMED_SQL + f"""
, q AS (SELECT vec_id AS qid, label AS qlabel, embedding AS qe, nrm AS qn
        FROM e WHERE {QUERY_FILTER})
, pb AS (SELECT qid, e.vec_id AS cid,
               ROUND((SELECT SUM(CAST(x AS DOUBLE) * CAST(y AS DOUBLE))
                      FROM (SELECT UNNEST(qe) x, UNNEST(e.embedding) y))
                     / (qn * e.nrm), 6) AS cos_sim
        FROM q, e WHERE e.vec_id <> qid)
, briefa AS (
  SELECT qid, cid, rn FROM (
    SELECT qid, cid, ROW_NUMBER() OVER (PARTITION BY qid
        ORDER BY cos_sim DESC, cid) AS rn FROM pb) WHERE rn <= 3)
, pv AS (SELECT qid, e.vec_id AS cid,
               ROUND((SELECT SUM(CAST(x AS DOUBLE) * CAST(y AS DOUBLE))
                      FROM (SELECT UNNEST(qe) x, UNNEST(e.embedding) y))
                     / (qn * e.nrm), 6) AS cos_sim
        FROM q JOIN e ON e.label = q.qlabel AND e.vec_id <> qid)
, briefb AS (
  SELECT qid, cid, rn FROM (
    SELECT qid, cid, ROW_NUMBER() OVER (PARTITION BY qid
        ORDER BY cos_sim DESC, cid) AS rn FROM pv) WHERE rn <= 3)
, m AS (
  SELECT a.qid, a.rn AS ra, b.rn AS rb
  FROM briefa a JOIN briefb b ON a.qid = b.qid AND a.cid = b.cid)
SELECT q.qid,
       ROUND(0.1 * (
         COALESCE(SUM(CASE WHEN ra <= 1 AND rb <= 1 THEN 1.0 ELSE 0 END)
                  / 1.0, 0)
         + 0.9 * COALESCE(SUM(CASE WHEN ra <= 2 AND rb <= 2 THEN 1.0
                              ELSE 0 END) / 2.0, 0)
         + 0.81 * COALESCE(SUM(CASE WHEN ra <= 3 AND rb <= 3 THEN 1.0
                               ELSE 0 END) / 3.0, 0)), 6) AS rbo3
FROM q LEFT JOIN m ON m.qid = q.qid
GROUP BY q.qid ORDER BY q.qid
"""


@register("k3n_rank_biased_overlap", "K3+D5", _RBO_ORACLE,
          "Rank-biased overlap (Webber et al. 2010, the standard "
          "metric for comparing two retrieval rankings that need not "
          "contain the same items): per query, RBO@3 with p=0.9 "
          "between the EXACT global top-3 and the IVF cluster-pruned "
          "top-3 - the ANN-quality dashboard number that tells you "
          "what the partition pruning cost. Both rankings come from "
          "the established top-k shapes; the depth-d agreements are "
          "one (qid,cid) equi-join of two <=3-row-per-query lists, "
          "and the weighted sum is exact small-rational arithmetic "
          "rounded at 6 dp.")
def k3n_rank_biased_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    a = (k3_cosine_topk(spark, sf_dir)
         .filter(F.col("rank") <= 3)
         .select("qid", "cid", F.col("rank").alias("ra")))
    b = (ann_ivf_topk(spark, sf_dir)
         .select("qid", "cid", F.col("rank").alias("rb")))
    m = a.join(b, ["qid", "cid"])
    qids = a.select("qid").distinct()
    per = m.groupBy("qid").agg(
        F.sum(F.when((F.col("ra") <= 1) & (F.col("rb") <= 1), 1.0)
              .otherwise(0.0)).alias("o1"),
        F.sum(F.when((F.col("ra") <= 2) & (F.col("rb") <= 2), 1.0)
              .otherwise(0.0)).alias("o2"),
        F.sum(F.when((F.col("ra") <= 3) & (F.col("rb") <= 3), 1.0)
              .otherwise(0.0)).alias("o3"),
    )
    j = qids.join(per, "qid", "left")
    rbo = 0.1 * (F.coalesce(F.col("o1"), F.lit(0.0)) / 1.0
                 + 0.9 * F.coalesce(F.col("o2"), F.lit(0.0)) / 2.0
                 + 0.81 * F.coalesce(F.col("o3"), F.lit(0.0)) / 3.0)
    return j.select("qid", F.round(rbo, 6).alias("rbo3")).orderBy("qid")


_SEMDEDUP_ORACLE = "WITH RECURSIVE " + _NORMED_SQL + f"""
, pairs AS (
  SELECT a.vec_id AS vec_a, b.vec_id AS vec_b
  FROM e a JOIN e b ON a.label = b.label AND a.vec_id < b.vec_id
  WHERE (SELECT SUM(CAST(x AS DOUBLE) * CAST(y AS DOUBLE))
         FROM (SELECT UNNEST(a.embedding) x, UNNEST(b.embedding) y))
        / (a.nrm * b.nrm) >= {DUP_COS_THRESHOLD}
),
edges(a, b) AS (
  SELECT vec_a, vec_b FROM pairs UNION ALL SELECT vec_b, vec_a FROM pairs
),
reach(node, r) AS (
  SELECT a, a FROM (SELECT DISTINCT a FROM edges)
  UNION
  SELECT reach.node, edges.b FROM reach JOIN edges ON reach.r = edges.a
),
comp AS (SELECT node, MIN(r) AS cluster_id FROM reach GROUP BY node),
sums AS (
  SELECT label, dim,
         CAST(SUM(CAST(FLOOR(CAST(x AS DOUBLE) * 1099511627776.0)
                       AS HUGEINT)) AS DOUBLE) AS s
  FROM (SELECT label, UNNEST(embedding) AS x,
               UNNEST(RANGE(1, LEN(embedding) + 1)) AS dim
        FROM embeddings)
  GROUP BY label, dim
),
cent AS (SELECT label, LIST(s ORDER BY dim) AS svec FROM sums GROUP BY label),
sims AS (
  SELECT e.vec_id, e.label,
         ROUND((SELECT SUM(CAST(x AS DOUBLE) * y)
                FROM (SELECT UNNEST(e.embedding) x, UNNEST(c.svec) y))
               / (e.nrm * SQRT((SELECT SUM(y * y)
                                FROM (SELECT UNNEST(c.svec) y)))),
               6) AS centroid_sim
  FROM e JOIN cent c ON e.label = c.label
),
keepers AS (
  SELECT vec_id FROM (
    SELECT l.node AS vec_id,
           ROW_NUMBER() OVER (PARTITION BY l.cluster_id
                              ORDER BY s.centroid_sim, l.node) AS rn
    FROM comp l JOIN sims s ON l.node = s.vec_id)
  WHERE rn = 1
)
SELECT s.vec_id, s.label, s.centroid_sim
FROM sims s
WHERE s.vec_id NOT IN (SELECT node FROM comp)
   OR s.vec_id IN (SELECT vec_id FROM keepers)
"""


@register("k_semdedup_prune", "K1+K3", _SEMDEDUP_ORACLE,
          "SemDeDup (Abbas et al. 2023) as the APPLY step: the pruned "
          "training corpus itself, not just the dup report. Within "
          "each cluster (label = centroid assignment, as in IVF), "
          "cosine-near-dup pairs close into connected components "
          "(alternating-star, O(log n) rounds) and each component "
          "keeps ONE exemplar - the member FARTHEST from the cluster "
          "centroid (SemDeDup's documented keep policy: prototypical "
          "dups carry the least marginal information), ties on "
          "vec_id; singletons survive untouched. The centroid enters "
          "as the exact scaled-integer component SUM (cosine is "
          "scale-invariant, so no division and no float mean - the "
          "k_centroids_exact trick), making every centroid similarity "
          "bit-identical across engines; the keep-policy argmin runs "
          "on the 6-dp-rounded similarity per the repo's threshold "
          "discipline. Scale shape: pair join is label-blocked "
          "(bounded quadratic), components are distributed join+min "
          "rounds, the centroid join broadcasts n_labels rows.")
def k_semdedup_prune(spark: SparkSession, sf_dir: str) -> DataFrame:
    from cassandra_elasticsearch_sync_spark.pipeline.graph import (
        connected_components,
    )

    e = _normed(spark, sf_dir)
    pairs = k_embedding_dup_pairs(spark, sf_dir).select("vec_a", "vec_b")
    comp, _ = connected_components(pairs, a="vec_a", b="vec_b")

    scaled = F.floor(F.col("x").cast("double") * F.lit(1099511627776.0))
    sums = (
        e.select("label", F.posexplode("embedding").alias("dim0", "x"))
        .groupBy("label", "dim0")
        .agg(F.sum(scaled.cast("decimal(38,0)")).cast("double").alias("s"))
    )
    cent = (
        sums.groupBy("label")
        .agg(F.array_sort(F.collect_list(F.struct("dim0", "s"))).alias("ds"))
        .select("label",
                F.transform("ds", lambda t: t["s"]).alias("svec"))
    )
    snorm = F.sqrt(F.aggregate(
        F.transform("svec", lambda y: y * y), F.lit(0.0),
        lambda acc, v: acc + v))
    sims = (
        e.join(F.broadcast(cent), "label")
        .select(
            "vec_id", "label",
            F.round(dot(F.col("embedding"), F.col("svec"))
                    / (F.col("nrm") * snorm), 6).alias("centroid_sim"),
        )
    )
    keepers = (
        comp.join(sims, comp.node == sims.vec_id)
        .groupBy("cluster_id")
        .agg(F.min_by("vec_id",
                      F.struct(F.col("centroid_sim"), F.col("vec_id")))
             .alias("vec_id"))
        .select("vec_id")
    )
    non_dup = sims.join(comp, sims.vec_id == comp.node, "left_anti")
    exemplars = sims.join(keepers, "vec_id")
    return non_dup.unionByName(
        exemplars.select("vec_id", "label", "centroid_sim"))


_IVF_NPROBE = 2
_MULTIPROBE_ORACLE = "WITH " + _NORMED_SQL + f"""
, q AS (SELECT vec_id AS qid, embedding AS qe, nrm AS qn
        FROM e WHERE {QUERY_FILTER})
, sums AS (
  SELECT label, dim,
         CAST(SUM(CAST(FLOOR(CAST(x AS DOUBLE) * 1099511627776.0)
                       AS HUGEINT)) AS DOUBLE) AS s
  FROM (SELECT label, UNNEST(embedding) AS x,
               UNNEST(RANGE(1, LEN(embedding) + 1)) AS dim
        FROM embeddings)
  GROUP BY label, dim
),
cent AS (SELECT label, LIST(s ORDER BY dim) AS svec FROM sums GROUP BY label),
crank AS (
  SELECT qid, label,
         ROW_NUMBER() OVER (
           PARTITION BY qid
           ORDER BY (SELECT SUM(CAST(x AS DOUBLE) * y)
                     FROM (SELECT UNNEST(qe) x, UNNEST(svec) y))
                    / (qn * SQRT((SELECT SUM(y * y)
                                  FROM (SELECT UNNEST(svec) y)))) DESC,
                    label) AS cr
  FROM q CROSS JOIN cent
),
probes AS (SELECT qid, label FROM crank WHERE cr <= {_IVF_NPROBE}),
p AS (
  SELECT q.qid, e.vec_id AS cid,
         ROUND((SELECT SUM(CAST(x AS DOUBLE) * CAST(y AS DOUBLE))
                FROM (SELECT UNNEST(q.qe) x, UNNEST(e.embedding) y))
               / (q.qn * e.nrm), 6) AS cos_sim
  FROM q
  JOIN probes pr ON pr.qid = q.qid
  JOIN e ON e.label = pr.label AND e.vec_id <> q.qid
)
SELECT qid, cid, cos_sim, CAST(rn AS BIGINT) AS rank
FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY qid
                                   ORDER BY cos_sim DESC, cid) AS rn FROM p)
WHERE rn <= 3
"""


@register("k3o_ivf_multiprobe_topk", "K3", _MULTIPROBE_ORACLE,
          "IVF with MULTI-PROBE (nprobe=2) - the recall/cost lever "
          "single-probe ann_ivf_topk lacks: each query ranks the "
          "cluster CENTROIDS by cosine (centroids enter as exact "
          "scaled-integer component sums - cosine is scale-invariant, "
          "the k_centroids_exact/SemDeDup trick, so the probe choice "
          "is bit-deterministic), searches the union of its nprobe "
          "closest clusters instead of only its own, and returns "
          "exact top-3 over those candidates. At 100 TB this is the "
          "standard dial between ann_ivf's 1/n_clusters scan and "
          "brute force: candidates scale with nprobe/n_clusters, and "
          "the centroid table (n_clusters rows) broadcasts. Queries "
          "whose true neighbors sit across a cluster boundary - "
          "invisible to 1-probe IVF - are exactly what nprobe>1 "
          "recovers.")
def k3o_ivf_multiprobe_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = _normed(spark, sf_dir)
    q = e.filter(F.expr(QUERY_FILTER)).select(
        F.col("vec_id").alias("qid"),
        F.col("embedding").alias("qe"),
        F.col("nrm").alias("qn"),
    )
    scaled = F.floor(F.col("x").cast("double") * F.lit(1099511627776.0))
    sums = (
        e.select("label", F.posexplode("embedding").alias("dim0", "x"))
        .groupBy("label", "dim0")
        .agg(F.sum(scaled.cast("decimal(38,0)")).cast("double").alias("s"))
    )
    cent = (
        sums.groupBy("label")
        .agg(F.array_sort(F.collect_list(F.struct("dim0", "s"))).alias("ds"))
        .select("label", F.transform("ds", lambda t: t["s"]).alias("svec"))
    )
    snorm = F.sqrt(F.aggregate(
        F.transform("svec", lambda y: y * y), F.lit(0.0),
        lambda acc, v: acc + v))
    csim = dot(F.col("qe"), F.col("svec")) / (F.col("qn") * snorm)
    wc = Window.partitionBy("qid").orderBy(F.col("__csim").desc(),
                                           F.col("label").asc())
    probes = (
        q.crossJoin(F.broadcast(cent))
        .withColumn("__csim", csim)
        .withColumn("cr", F.row_number().over(wc))
        .filter(F.col("cr") <= _IVF_NPROBE)
        .select("qid", "label")
    )
    cand = (
        q.join(F.broadcast(probes), "qid")
        .join(e, "label")
        .filter(F.col("vec_id") != F.col("qid"))
    )
    cos = F.round(dot(F.col("qe"), F.col("embedding"))
                  / (F.col("qn") * F.col("nrm")), 6)
    w = Window.partitionBy("qid").orderBy(F.col("cos_sim").desc(),
                                          F.col("cid"))
    return (
        cand.select("qid", F.col("vec_id").alias("cid"),
                    cos.alias("cos_sim"))
        .withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= 3)
    )
