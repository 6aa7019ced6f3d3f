"""Product quantization (PQ) for approximate nearest-neighbor search.

The third rung of the K3 scale ladder (after brute force and IVF):
at 100 TB the corpus embeddings themselves no longer fit affordable
storage/bandwidth, so each 64-dim float vector (256 B) is compressed
to M=16 codes (one per 4-dim SUBSPACE) against per-subspace K=32
codebooks (Jegou, Douze, Schmid, "Product Quantization for Nearest
Neighbor Search", TPAMI 2011). Query-time distance is ADC
(asymmetric distance computation): per query, an M x K lookup table
of exact subspace distances to every codeword; each candidate then
costs M table lookups + adds instead of a 64-dim float scan. The
full production shape is ADC shortlist -> EXACT re-rank of the
shortlist (IVFADC+R): the big corpus is scanned only in compressed
form, and full vectors are fetched for |queries| x L rows only.

Spark shapes, scan-by-scan:
  - training: Lloyd's per subspace, all M subspaces vectorized in ONE
    mapInPandas pass per iteration; each partition emits per-(m, k)
    partial sums, so the driver sees at most P*M*K tiny rows per
    round (the bounded two-pass-statistics pattern, same as
    distributed_order.py) and finishes the centroid update in numpy.
    Deterministic: seeds are the K lowest xxhash64(vec_id) rows (a
    fixed pseudo-random spread, no count() preflight, no rand()).
  - encoding: one scan -> (vec_id, codes array of length M).
  - ADC: LUTs for the (<= 64, broadcast-bounded) query set are built
    driver-side from the tiny codebook, broadcast, and scored in one
    scan of the CODES table (16 B/row, not 256 B); per-query
    shortlist via a qid-partitioned window (bounded by |queries|).
  - re-rank: the |queries| x L shortlist is BROADCAST back against
    the embeddings table; exact distances on that sliver only.

Registered rows-only: the codebooks come from an iterative float
algorithm (not SQL-expressible), so correctness is pinned by
tests/test_pq.py instead - run-to-run determinism, ADC recall, and
re-rank recall against the exact neighbors (1.0 on the driver
corpus at these parameters).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from cassandra_elasticsearch_sync_spark.catalog import load_table
from cassandra_elasticsearch_sync_spark.registry import register
from cassandra_elasticsearch_sync_spark.localdata import local_relation

DIM = 64
M_SUB = 16           # subspaces
SUB_DIM = DIM // M_SUB
K_CODE = 32          # codewords per subspace
PQ_ITERS = 5
PQ_TOP_K = 5
PQ_SHORTLIST = 100
PQ_QUERY_FILTER = "vec_id % 100 = 0 AND vec_id < 6400"


def pq_train(spark: SparkSession, e: DataFrame, iters: int = PQ_ITERS):
    """Train M per-subspace codebooks; returns ndarray (M, K, SUB_DIM).

    Seeded from the K_CODE lowest-xxhash64(vec_id) vectors (a
    deterministic pseudo-random spread over the corpus); each Lloyd
    round is one corpus scan emitting bounded per-partition partial
    sums. Empty codewords keep their previous position.
    """
    import numpy as np

    seed_rows = (
        e.orderBy(F.xxhash64("vec_id"), "vec_id").limit(K_CODE).collect()
    )  # K rows, bounded
    seed = np.array([r["embedding"] for r in seed_rows], dtype=np.float64)
    if seed.shape[0] < K_CODE:
        raise ValueError(f"need >= {K_CODE} vectors to seed PQ codebooks")
    # (K, DIM) -> (M, K, SUB_DIM)
    codebooks = seed.reshape(K_CODE, M_SUB, SUB_DIM).transpose(1, 0, 2).copy()

    for _ in range(iters):
        bc = spark.sparkContext.broadcast(codebooks)

        def partial_stats(batches):
            import numpy as np
            import pandas as pd

            cbk = bc.value
            acc_n = np.zeros((M_SUB, K_CODE), dtype=np.int64)
            acc_s = np.zeros((M_SUB, K_CODE, SUB_DIM), dtype=np.float64)
            for pdf in batches:
                X = np.array(list(pdf["embedding"]), dtype=np.float64)
                X = X.reshape(-1, M_SUB, SUB_DIM)
                for m in range(M_SUB):
                    d2 = ((X[:, m, None, :] - cbk[m][None, :, :]) ** 2).sum(-1)
                    a = d2.argmin(1)
                    np.add.at(acc_n[m], a, 1)
                    np.add.at(acc_s[m], a, X[:, m, :])
            rows = [
                (m, k, int(acc_n[m, k]), [float(v) for v in acc_s[m, k]])
                for m in range(M_SUB)
                for k in range(K_CODE)
                if acc_n[m, k] > 0
            ]
            yield pd.DataFrame(rows, columns=["m", "k", "n", "s"])

        parts = e.select("embedding").mapInPandas(
            partial_stats, "m int, k int, n bigint, s array<double>"
        ).collect()  # bounded: <= partitions * M * K rows

        n = np.zeros((M_SUB, K_CODE), dtype=np.int64)
        s = np.zeros((M_SUB, K_CODE, SUB_DIM), dtype=np.float64)
        for r in parts:
            n[r["m"], r["k"]] += r["n"]
            s[r["m"], r["k"]] += np.array(r["s"], dtype=np.float64)
        nz = n > 0
        codebooks[nz] = s[nz] / n[nz][:, None]
    return codebooks


def pq_encode(e: DataFrame, codebooks) -> DataFrame:
    """One scan: (vec_id, codes array of length M_SUB)."""
    spark = e.sparkSession
    bc = spark.sparkContext.broadcast(codebooks)

    def enc(batches):
        import numpy as np
        import pandas as pd

        cbk = bc.value
        for pdf in batches:
            X = np.array(list(pdf["embedding"]), dtype=np.float64)
            X = X.reshape(-1, M_SUB, SUB_DIM)
            codes = np.empty((X.shape[0], M_SUB), dtype=np.int64)
            for m in range(M_SUB):
                d2 = ((X[:, m, None, :] - cbk[m][None, :, :]) ** 2).sum(-1)
                codes[:, m] = d2.argmin(1)
            yield pd.DataFrame(
                {"vec_id": pdf["vec_id"], "codes": list(codes)}
            )

    return e.select("vec_id", "embedding").mapInPandas(
        enc, "vec_id bigint, codes array<bigint>"
    )


def pq_adc_shortlist(spark: SparkSession, codes: DataFrame, codebooks,
                     qvecs, k: int) -> DataFrame:
    """ADC scoring: one scan of the codes table against broadcast
    per-query LUTs; per-query top-k shortlist."""
    import numpy as np

    from pyspark.sql import Window

    if len(qvecs) > 64:
        raise ValueError("query set must stay broadcast-bounded (<= 64)")
    Q = np.array([v for _, v in qvecs], dtype=np.float64)
    Q = Q.reshape(len(qvecs), M_SUB, SUB_DIM)
    # (nq, M, K) exact subspace distances query -> codeword
    luts = ((Q[:, :, None, :] - codebooks[None, :, :, :]) ** 2).sum(-1)
    qids = np.array([q for q, _ in qvecs], dtype=np.int64)
    bc = spark.sparkContext.broadcast((qids, luts))

    def score(batches):
        import numpy as np
        import pandas as pd

        ids, tables = bc.value
        for pdf in batches:
            C = np.array(list(pdf["codes"]), dtype=np.int64)      # (n, M)
            vid = pdf["vec_id"].to_numpy()
            out_q, out_c, out_d = [], [], []
            for qi in range(len(ids)):
                lut = tables[qi]                                   # (M, K)
                d2 = lut[np.arange(M_SUB)[None, :], C].sum(1)      # (n,)
                keep = vid != ids[qi]
                out_q.append(np.full(int(keep.sum()), ids[qi]))
                out_c.append(vid[keep])
                out_d.append(d2[keep])
            yield pd.DataFrame(
                {
                    "qid": np.concatenate(out_q),
                    "cid": np.concatenate(out_c),
                    "approx_d2": np.round(np.concatenate(out_d), 6),
                }
            )

    scored = codes.mapInPandas(score, "qid bigint, cid bigint, approx_d2 double")
    w = Window.partitionBy("qid").orderBy(F.col("approx_d2").asc(), F.col("cid"))
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("int"))
        .filter(F.col("rank") <= k)
    )


def _sq_dist(a, b):
    """Exact squared euclidean between two array columns (JVM-side)."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: (x.cast("double") - y.cast("double"))
                   * (x.cast("double") - y.cast("double"))),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def pq_rerank(e: DataFrame, shortlist: DataFrame, qvecs,
              k: int = PQ_TOP_K) -> DataFrame:
    """Exact re-rank: broadcast the |q| x L shortlist against the
    embeddings table, compute true distances on that sliver only."""
    from pyspark.sql import Window

    spark = e.sparkSession
    qdf = local_relation(
        spark,
        [(int(q), [float(x) for x in v]) for q, v in qvecs],
        "qid bigint, qe array<double>",
    )
    cand = (
        e.join(F.broadcast(shortlist.select("qid", "cid")),
               e["vec_id"] == F.col("cid"))
        .join(F.broadcast(qdf), "qid")
        .select("qid", "cid", _sq_dist("qe", "embedding").alias("d2"))
    )
    w = Window.partitionBy("qid").orderBy(F.col("d2").asc(), F.col("cid"))
    return (
        cand.select("qid", "cid", F.round("d2", 6).alias("d2"))
        .withColumn("rank", F.row_number().over(w).cast("int"))
        .filter(F.col("rank") <= k)
    )


def pq_pipeline(spark: SparkSession, sf_dir: str, k: int = PQ_TOP_K,
                shortlist: int = PQ_SHORTLIST, rerank: bool = True) -> DataFrame:
    e = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    codebooks = pq_train(spark, e)
    codes = pq_encode(e, codebooks)
    qrows = e.filter(F.expr(PQ_QUERY_FILTER)).collect()  # <= 64 by construction
    qvecs = [(r["vec_id"], [float(x) for x in r["embedding"]]) for r in qrows]
    if not rerank:
        return pq_adc_shortlist(spark, codes, codebooks, qvecs, k)
    sl = pq_adc_shortlist(spark, codes, codebooks, qvecs, shortlist)
    return pq_rerank(e, sl, qvecs, k)


@register("k3f_pq_adc_topk", "K3", None,
          "Product-quantization ADC top-k (rows-only: iterative float "
          "codebook training is not SQL-expressible). 16 subspaces x "
          "32 codewords compress each 256 B vector to 16 codes; ADC "
          "scans the code table against broadcast per-query lookup "
          "tables - the compressed-domain pass that makes 100 TB of "
          "embeddings scannable. Determinism + recall pinned in "
          "tests/test_pq.py.")
def k3f_pq_adc_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    return pq_pipeline(spark, sf_dir, rerank=False)


@register("k3g_pq_rerank_topk", "K3", None,
          "PQ shortlist + exact re-rank (IVFADC+R, the production ANN "
          "shape): ADC builds a per-query 100-candidate shortlist from "
          "the compressed codes, then TRUE distances are computed for "
          "only |queries| x 100 broadcast-joined rows. Full vectors "
          "are touched for 0.0005%% of a 10^9-vector corpus; recall "
          "vs exact brute force is 1.0 on the driver corpus "
          "(tests/test_pq.py). Rows-only by design (codebooks are "
          "iterative-float).")
def k3g_pq_rerank_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    return pq_pipeline(spark, sf_dir, rerank=True)
