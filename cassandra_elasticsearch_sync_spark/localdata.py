"""Small driver-local DataFrames, and whether inputs fit one partition.

``local_relation`` is the one way the package builds a DataFrame from
rows held on the driver (probe rows, lexicons, request tables, empty
relations of a given schema). It plans them as a JVM ``LocalRelation``:
no Python worker round when the plan runs, a real size estimate for
the planner, and every value checked on the driver before any job.

``single_split`` is the planning side: it tells whether inputs are
small and already in one split each, so that the caller can plan the
work over them as one partition.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession


def local_relation(spark: SparkSession, rows, schema) -> DataFrame:
    """``spark.createDataFrame(rows, schema)`` for driver-local
    ``rows`` (a list of tuples in ``schema``'s field order; ``[]`` for
    an empty relation), planned as a JVM ``LocalRelation`` built from
    an Arrow table. Evaluating it takes no Python worker round, and it
    carries a real size estimate, so a plan over it can count as small
    (``single_split``) and Catalyst may fold projections into it or
    broadcast it. Every value is checked against its field on the
    driver, by the verifier ``createDataFrame`` applies and by the
    Arrow conversion (which, unlike the verifier, refuses a number for
    a string), so a bad value raises a ``ValueError`` that names the
    column before any Spark job runs. A type Arrow cannot carry
    raises.

    There is no row cap: the rows are already on the driver, and
    Spark splits a ``LocalTableScan`` over up to ``defaultParallelism``
    partitions. Two callers' row counts grow with the data:
    ``with_grouped_order``'s offsets are one row per (range partition,
    group) pair, P + G - 1 rows it has already collected, and
    ``es_composite_sweep`` returns up to ``max_pages`` x ``size``
    buckets, every page it has collected."""
    import json

    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_type
    from pyspark.sql.types import StructType, _make_type_verifier

    if isinstance(schema, str):
        schema = StructType.fromDDL(schema)
    cols = []
    for i, f in enumerate(schema.fields):
        at = to_arrow_type(f.dataType)
        verify = _make_type_verifier(f.dataType, f.nullable, name=f.name)
        values = [r[i] for r in rows]
        try:
            for v in values:
                verify(v)
            # the internal form (epoch micros, epoch days) is what
            # createDataFrame would ship; Arrow takes it as is
            cols.append(pa.array([f.dataType.toInternal(v) for v in values],
                                 type=at))
        except (TypeError, ValueError) as e:
            raise ValueError(f"column {f.name!r}: {e}") from e
    df = spark.createDataFrame(
        pa.Table.from_arrays(cols, names=schema.names), schema)
    # createDataFrame caches the schema it was given on the Python
    # side; the one to check is the JVM plan's
    jvm_schema = StructType.fromJson(json.loads(df._jdf.schema().json()))
    if jvm_schema != schema:
        raise ValueError(f"planned schema {jvm_schema.simpleString()} is "
                         f"not the declared {schema.simpleString()}")
    return df


def single_split(*dfs: DataFrame) -> bool:
    """Whether each of ``dfs`` already reads as at most ONE split and
    together they fit one partition by the bound Spark's planner puts
    on a single-partition input: their optimized plans' size estimates
    sum to at most the session's ``spark.sql.maxSinglePartitionBytes``.

    A caller that gets True may ``coalesce(1)`` each input, a no-op on
    data in one split, so that an operator over them plans no exchange
    and no broadcast. The splits are read off the physical plan
    without running a job (``_splits``); a plan whose split count is
    not known that way never counts, and neither does a relation
    without a size estimate (a checkpointed ``LogicalRDD`` whose origin
    plan has no estimate reports ``Long.MaxValue`` bytes)."""
    spark = dfs[0].sparkSession
    bound = spark._jvm.org.apache.spark.network.util.JavaUtils.byteStringAsBytes(
        spark.conf.get("spark.sql.maxSinglePartitionBytes"))
    size = 0
    for df in dfs:
        qe = df._jdf.queryExecution()
        n = _splits(qe.sparkPlan())
        if n is None or n > 1:
            return False
        size += qe.optimizedPlan().stats().sizeInBytes()
    return size <= bound


def _splits(plan) -> int | None:
    """The number of partitions the physical ``plan`` (planned, before
    any exchange is added) reads, or None when that takes a job or an
    exchange to know. A file scan has its planned file partitions, a
    checkpointed or Python RDD its partitions, and driver-local rows
    are one split however Spark slices them. A cached relation reads
    what its cached plan reads, a broadcast join its streamed side, a
    union all its children, and an operator that needs no exchange its
    child. Anything else (an exchange, an aggregate) is unknown."""
    name = plan.getClass().getSimpleName()
    kids = plan.children()
    kids = [kids.apply(i) for i in range(kids.size())]
    if name == "LocalTableScanExec":
        return 1
    if name == "FileSourceScanExec":
        return plan.inputRDD().getNumPartitions()
    if name == "RDDScanExec":
        return plan.rdd().getNumPartitions()
    if name == "InMemoryTableScanExec":
        return _splits(plan.relation().cachedPlan())
    if name == "UnionExec":
        ns = [_splits(k) for k in kids]
        return None if None in ns else sum(ns)
    if name == "BroadcastHashJoinExec":
        return _splits(plan.streamedPlan())
    if (len(kids) == 1 and not name.endswith("ExchangeExec")
            and plan.requiredChildDistribution().head().toString()
            == "UnspecifiedDistribution"):
        return _splits(kids[0])
    return None
