"""Scale-safe global ordering primitives (no single-partition windows).

A ``Window.orderBy(...)`` with no ``partitionBy`` forces every row
through ONE partition ("WindowExec: No Partition Defined") - correct on
60k rows, fatal on 100 TB. This module provides the classic two-pass
replacement used by every large-scale engine:

  pass 1: range-repartition on the sort key, count (and optionally sum)
          per partition - a tiny per-partition stats job, P rows total;
  pass 2: per-partition ``row_number``/running-sum windows (partitioned
          by the range-partition id, so every window is parallel) plus
          the broadcast cumulative offsets from pass 1.

The per-partition stats cross the driver (P rows, P = shuffle
partitions - bytes, not data), exactly the "tiny driver/broadcast step"
shape. The ranked/cumsum output is bit-identical to the
single-partition window because the range partitioner keeps partitions
contiguous in sort order and the within-partition window uses the same
total order.

The repartitioned input is persisted (memory-then-disk) so pass 2 reuses
pass 1's shuffle instead of recomputing the scan; at most one such
dataset is retained at a time (each call releases the previous one).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F
from pyspark.storagelevel import StorageLevel
from cassandra_elasticsearch_sync_spark.localdata import local_relation

_PID = "__do_pid"
_ROFF = "__do_rank_off"
_SOFF = "__do_sum_off"

# Most-recently persisted intermediate; released on the next call so
# repeated registry/bench invocations don't accumulate cached blocks.
_last_persisted: list[DataFrame] = []


def _release_previous() -> None:
    while _last_persisted:
        try:
            _last_persisted.pop().unpersist(blocking=False)
        except Exception:
            pass


def ranged_partition_stats(
    df: DataFrame,
    order_exprs: list[Column],
    value_col: str | None = None,
) -> tuple[DataFrame, list]:
    """Pass 1: range-repartition ``df`` on ``order_exprs``, stamp the
    partition id, persist, and collect per-partition (count[, sum]) in
    partition order. Returns (stamped_df, stats_rows)."""
    _release_previous()
    rp = (
        df.repartitionByRange(*order_exprs)
        .withColumn(_PID, F.spark_partition_id())
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    _last_persisted.append(rp)
    aggs = [F.count("*").alias("n")]
    if value_col is not None:
        aggs.append(F.sum(value_col).alias("s"))
    stats = sorted(rp.groupBy(_PID).agg(*aggs).collect(), key=lambda r: r[_PID])
    return rp, stats


def with_global_order(
    df: DataFrame,
    order_exprs: list[Column],
    rank_col: str | None = None,
    cumsum_of: str | None = None,
    cumsum_col: str | None = None,
) -> tuple[DataFrame, dict]:
    """Attach an exact global ``row_number`` (``rank_col``) and/or an
    exact global running sum of ``cumsum_of`` (``cumsum_col``) ordered
    by ``order_exprs`` - without any single-partition window.

    ``order_exprs`` must define a total order (unique composite key),
    the same rule the oracle queries already follow for LIMIT parity.

    Returns ``(df_out, totals)`` where ``totals`` carries ``n_rows``
    (and ``sum`` when ``cumsum_of`` is given) - the driver-side grand
    totals that pass 1 already paid for, so callers never re-count.
    """
    spark = df.sparkSession
    rp, stats = ranged_partition_stats(df, order_exprs, value_col=cumsum_of)

    rows, r_off, s_off = [], 0, 0
    for r in stats:
        rows.append((r[_PID], r_off, s_off))
        r_off += r["n"]
        if cumsum_of is not None:
            s_off += r["s"] or 0
    totals = {"n_rows": r_off}
    if cumsum_of is not None:
        totals["sum"] = s_off

    if not rows:  # empty input: nothing to rank
        out = rp
        if rank_col:
            out = out.withColumn(rank_col, F.lit(None).cast("long"))
        if cumsum_col:
            out = out.withColumn(cumsum_col, F.lit(None).cast(
                df.schema[cumsum_of].dataType if cumsum_of else "long"))
        return out.drop(_PID), totals

    # The sum-offset column must carry the VALUE TYPE's arithmetic: a
    # hardcoded long would silently truncate fractional offsets the
    # moment a float cumsum spans more than one ranged partition
    # (latent until then - the first partition's offset is 0).
    from pyspark.sql.types import DoubleType, FloatType

    is_float = cumsum_of is not None and isinstance(
        df.schema[cumsum_of].dataType, (DoubleType, FloatType))
    soff_t = "double" if is_float else "long"
    rows = [(pid, ro, float(so) if is_float else int(so))
            for pid, ro, so in rows]
    off_schema = f"{_PID} int, {_ROFF} long, {_SOFF} {soff_t}"
    offsets = local_relation(spark, rows, off_schema)
    w = Window.partitionBy(_PID).orderBy(*order_exprs)
    out = rp.join(F.broadcast(offsets), _PID)
    if rank_col:
        out = out.withColumn(rank_col, F.row_number().over(w) + F.col(_ROFF))
    if cumsum_col:
        run = F.sum(cumsum_of).over(
            w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
        )
        out = out.withColumn(cumsum_col, run + F.col(_SOFF))
    return out.drop(_PID, _ROFF, _SOFF), totals


def with_global_ntile(
    df: DataFrame,
    order_exprs: list[Column],
    n_buckets: int,
    bucket_col: str = "bucket",
) -> DataFrame:
    """Exact ``NTILE(n)`` over a global total order, scale-safe.

    SQL NTILE semantics: with n rows, buckets get ``n // b`` rows each
    and the first ``n % b`` buckets one extra. We reproduce that from
    the two-pass global rank: rank and row count both come out of
    :func:`with_global_order`'s single stats pass, and the bucket id is
    pure arithmetic on the rank - no single-partition window anywhere.
    """
    out, totals = with_global_order(df, order_exprs, rank_col="__do_rank")
    n = totals["n_rows"]
    if n == 0:
        return out.withColumnRenamed("__do_rank", bucket_col)
    base, rem = divmod(n, n_buckets)
    r = F.col("__do_rank")
    if base == 0:
        # fewer rows than buckets: row i -> bucket i
        bucket = r
    elif rem == 0:
        bucket = F.ceil(r / F.lit(base))
    else:
        cut = rem * (base + 1)
        bucket = F.when(r <= cut, F.ceil(r / F.lit(base + 1))).otherwise(
            rem + F.ceil((r - cut) / F.lit(base))
        )
    return out.withColumn(bucket_col, bucket.cast("long")).drop("__do_rank")


def topk_with_rank(
    df: DataFrame,
    order_keys: list[tuple[str, bool]],
    k: int,
    rank_col: str = "rank",
) -> DataFrame:
    """Global top-k with an attached 1..k rank, with NO window at all.

    The top-k itself is ``sort + limit`` (TakeOrderedAndProject /
    per-partition local limits - never a full global sort). The rank is
    then computed over the <= k survivors by a broadcast lexicographic
    self-join: ``rank(x) = 1 + |{y : y before x}|`` - at most k*k
    (~400) comparisons, fully parallel, and no empty-partition
    WindowExec anywhere in the plan.

    ``order_keys`` is ``[(column_name, ascending), ...]`` and must be a
    total order over non-null columns (the same rule every LIMIT-parity
    oracle already follows).
    """
    sort_exprs = [
        F.col(n).asc() if asc else F.col(n).desc() for n, asc in order_keys
    ]
    top = df.orderBy(*sort_exprs).limit(k)
    a, b = top.alias("__tk_a"), top.alias("__tk_b")
    before = F.lit(False)
    eq_prefix = F.lit(True)
    for n, asc in order_keys:
        bn, an = F.col(f"__tk_b.{n}"), F.col(f"__tk_a.{n}")
        before = before | (eq_prefix & ((bn < an) if asc else (bn > an)))
        eq_prefix = eq_prefix & (bn == an)
    joined = a.join(F.broadcast(b), before, "left")
    first_key = order_keys[0][0]
    return (
        joined.groupBy(*[F.col(f"__tk_a.{c}") for c in top.columns])
        .agg((F.count(F.col(f"__tk_b.{first_key}")) + 1).alias(rank_col))
    )


def with_grouped_order(
    df: DataFrame,
    group_cols: list[str],
    order_exprs: list[Column],
    rank_col: str = "rank",
    cumsum_of: str | None = None,
    cumsum_col: str | None = None,
) -> DataFrame:
    """Exact per-group ``row_number`` WITHOUT putting any group on a
    single partition.

    ``Window.partitionBy(group).orderBy(...)`` ships each group's every
    row to one task - fine for high-cardinality keys, fatal when a
    handful of segments each hold 1/5 of a 100 TB fact table. The
    two-pass shape generalizes: range-repartition on
    ``(group, order...)`` (a group spans several *contiguous*
    partitions), count rows per (partition, group) - at most
    P + G - 1 tiny rows to the driver - turn those into per-(partition,
    group) rank offsets, then run the window partitioned by
    ``(partition_id, group)``: every window is bounded by the partition
    size regardless of group skew, and ``row_number + offset`` is
    bit-identical to the single-task grouped window because range
    partitions are contiguous in the total order.
    """
    if cumsum_col is not None and cumsum_of is None:
        raise ValueError(
            "with_grouped_order: cumsum_col requires cumsum_of "
            "(the column to accumulate)"
        )
    gcols = [F.col(g) for g in group_cols]
    _release_previous()
    rp = (
        df.repartitionByRange(*gcols, *order_exprs)
        .withColumn(_PID, F.spark_partition_id())
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    _last_persisted.append(rp)
    aggs = [F.count("*").alias("count")]
    if cumsum_of is not None:
        aggs.append(F.sum(cumsum_of).alias("_gsum"))
    stats = rp.groupBy(_PID, *group_cols).agg(*aggs).collect()
    # Offsets: rows (and sums) of the same group in earlier (lower-pid)
    # partitions.
    per_group_running: dict[tuple, int] = {}
    per_group_sum: dict[tuple, int] = {}
    rows = []
    for r in sorted(stats, key=lambda r: r[_PID]):
        key = tuple(r[g] for g in group_cols)
        off = per_group_running.get(key, 0)
        soff = per_group_sum.get(key, 0)
        rows.append((r[_PID], *key, off, soff))
        per_group_running[key] = off + r["count"]
        if cumsum_of is not None:
            per_group_sum[key] = soff + (r["_gsum"] or 0)
    spark = df.sparkSession
    if not rows:
        out = rp.drop(_PID).withColumn(rank_col, F.lit(None).cast("long"))
        if cumsum_col:
            out = out.withColumn(cumsum_col, F.lit(None).cast("long"))
        return out
    gschema = ", ".join(
        f"`{g}` {dict(df.dtypes)[g]}" for g in group_cols
    )
    offsets = local_relation(
        spark, rows, f"{_PID} int, {gschema}, {_ROFF} long, {_SOFF} long"
    )
    w = Window.partitionBy(_PID, *group_cols).orderBy(*order_exprs)
    # NULL is a normal window partition: join offsets back null-safely so
    # NULL-keyed groups keep their rows (a plain equi-join would drop them).
    ra, oa = rp.alias("__do_rp"), F.broadcast(offsets).alias("__do_off")
    cond = F.col(f"__do_rp.{_PID}") == F.col(f"__do_off.{_PID}")
    for g in group_cols:
        cond = cond & F.col(f"__do_rp.`{g}`").eqNullSafe(
            F.col(f"__do_off.`{g}`")
        )
    out = ra.join(oa, cond).select(
        "__do_rp.*", f"__do_off.{_ROFF}", f"__do_off.{_SOFF}"
    )
    out = out.withColumn(rank_col, F.row_number().over(w) + F.col(_ROFF))
    if cumsum_col:
        run = F.sum(cumsum_of).over(
            w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
        )
        out = out.withColumn(cumsum_col, run + F.col(_SOFF))
    return out.drop(_PID, _ROFF, _SOFF)


def with_grouped_ntile(
    df: DataFrame,
    group_cols: list[str],
    order_exprs: list[Column],
    n_buckets: int,
    bucket_col: str = "bucket",
) -> DataFrame:
    """Exact per-group ``NTILE(n)`` on top of :func:`with_grouped_order`.

    SQL NTILE gives each bucket ``n_g // b`` rows, the first
    ``n_g % b`` buckets one extra, where ``n_g`` is the GROUP's row
    count. Group sizes are joined back (broadcast - one row per group)
    and the bucket id is pure columnar arithmetic on the grouped rank,
    so the result matches ``NTILE(b) OVER (PARTITION BY group ORDER BY
    ...)`` bit-for-bit with no skewed window anywhere.
    """
    ranked = with_grouped_order(df, group_cols, order_exprs, rank_col="__do_grank")
    sizes = ranked.groupBy(*group_cols).agg(F.count("*").alias("__do_gn"))
    r, n = F.col("__do_grank"), F.col("__do_gn")
    base, rem = (n / n_buckets).cast("long"), n % n_buckets
    cut = rem * (base + 1)
    bucket = (
        F.when(base == 0, r)
        .when(r <= cut, F.ceil(r / (base + 1)))
        .otherwise(rem + F.ceil((r - cut) / base))
    )
    # Null-safe join: NULL group keys are legitimate NTILE partitions.
    ka, sa = ranked.alias("__nt_r"), F.broadcast(sizes).alias("__nt_s")
    cond = F.lit(True)
    for g in group_cols:
        cond = cond & F.col(f"__nt_r.`{g}`").eqNullSafe(F.col(f"__nt_s.`{g}`"))
    return (
        ka.join(sa, cond)
        .select("__nt_r.*", "__nt_s.__do_gn")
        .withColumn(bucket_col, bucket.cast("long"))
        .drop("__do_grank", "__do_gn")
    )
