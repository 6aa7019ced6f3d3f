"""Footer-derived manifest stats must equal the Spark aggregate's.

The round-12 optimization replaces the commit-time stats job (a full
re-read of every byte just written) with a driver-side fold over the
parquet FOOTERS. These tests pin the contract:

- value parity with the aggregate job for every stats-eligible type
  the engine proves from footers (ints, doubles, strings, dates,
  timestamps tz + ntz), including nulls and all-null columns;
- per-column conservative degradation to [None, None] (which every
  pruning consumer treats as "keep the file") for anything footers
  cannot prove - NaN doubles are the canonical case;
- every writer's commit records footer stats that match the job's;
- a decimal column carries no stats, so it is never pruned wrongly;
- the NaN pruning guard: a NaN max bound must never skip a file.
"""

from __future__ import annotations

import datetime as dt
import decimal
import os
import tempfile

import pytest
from pyspark.sql import functions as F

from cassandra_elasticsearch_sync_spark.sources.acid import AcidParquetTable


def _spark_stats(table, files, schema):
    """The aggregate-job path: ``_collect_stats`` with the footer fast
    path reporting an unreadable footer."""
    table._footer_stats = lambda files, cols: None
    try:
        return table._collect_stats(files, schema)
    finally:
        del table._footer_stats


def _write_entry(spark, root, df):
    d = os.path.join(root, "data", "e0")
    df.write.parquet(d)
    return d


def test_footer_stats_match_aggregate_all_types(spark):
    with tempfile.TemporaryDirectory() as root:
        df = spark.createDataFrame(
            [
                (1, 2.5, "alpha", dt.date(2020, 1, 2),
                 dt.datetime(2020, 1, 2, 3, 4, 5, 123456),
                 dt.datetime(2021, 6, 7, 8, 9, 10),
                 decimal.Decimal("12.34"), None),
                (-7, -0.5, "omega", dt.date(1999, 12, 31),
                 dt.datetime(2019, 11, 30, 23, 59, 59),
                 dt.datetime(2020, 1, 1, 0, 0, 0),
                 decimal.Decimal("-99.10"), None),
                (42, None, None, None, None, None, None, None),
            ],
            "i long, x double, s string, d date, ts timestamp, "
            "tsn timestamp_ntz, dec decimal(10,2), allnull string",
        )
        t = AcidParquetTable(spark, root)
        entry = _write_entry(spark, root, df)
        schema = df.schema

        footer = t._footer_stats([entry], t._stats_cols(schema))
        via_job = _spark_stats(t, [entry], schema)

        assert via_job, "aggregate path must produce stats"
        assert footer is not None
        # every column: footer bounds are either EXACTLY the job's or
        # the conservative [None, None]
        for c in t._stats_cols(schema):
            assert footer[entry][c] in ([None, None], via_job[entry][c]), c
        # the engine's core types MUST be provable, not degraded
        for c in ("i", "x", "s", "d", "ts", "tsn"):
            assert footer[entry][c] == via_job[entry][c], c
        assert footer[entry]["allnull"] == [None, None]


def test_footer_stats_nan_degrades_to_none(spark):
    with tempfile.TemporaryDirectory() as root:
        df = spark.createDataFrame(
            [(1, float("nan")), (2, 3.5)], "k long, v double")
        t = AcidParquetTable(spark, root)
        entry = _write_entry(spark, root, df)
        footer = t._footer_stats([entry], t._stats_cols(df.schema))
        assert footer is not None
        job = _spark_stats(t, [entry], df.schema)
        assert footer[entry]["k"] == job[entry]["k"]
        # NaN bounds are never trusted from footers
        assert footer[entry]["v"] == [None, None]


def test_nan_bounds_never_skip_a_file():
    # the pruning guard, independent of where the stats came from:
    # Spark's max() ranks NaN above every double, so the legacy stats
    # path can record fmax=NaN; that file must be KEPT for any range
    nan = float("nan")
    keep = AcidParquetTable._range_may_overlap
    assert keep([3.5, nan], 2.0, None)
    assert keep([nan, nan], None, 10.0)
    assert keep([nan, 3.5], 1.0, 2.0)


def test_footer_stats_multi_file_entry_and_missing_column(spark):
    with tempfile.TemporaryDirectory() as root:
        d = os.path.join(root, "data", "e0")
        spark.createDataFrame([(5, "m")], "k long, s string") \
            .write.mode("append").parquet(d)
        spark.createDataFrame([(11, "a")], "k long, s string") \
            .write.mode("append").parquet(d)
        t = AcidParquetTable(spark, root)
        # schema evolution: stats schema has a column the files lack
        from pyspark.sql.types import StructType
        schema = StructType.fromJson(
            spark.createDataFrame([(1, "x", 2.0)], "k long, s string, z double")
            .schema.jsonValue())
        footer = t._footer_stats([d], t._stats_cols(schema))
        assert footer is not None
        assert footer[d]["k"] == [5, 11]
        assert footer[d]["s"] == ["a", "m"]
        assert footer[d]["z"] == [None, None]
        assert footer == _spark_stats(t, [d], schema)


def _parity_df(spark, lo, hi):
    """One column of each engine stats type: long, double, string,
    date, timestamp and timestamp_ntz."""
    return spark.range(lo, hi).select(
        F.col("id").alias("key"),
        (F.col("id") * 1.5).alias("price"),
        F.timestamp_seconds(F.col("id") * 3600).alias("version"),
        F.concat(F.lit("s"), F.lpad(F.col("id").cast("string"), 5, "0"))
        .alias("side"),
        F.date_add(F.lit("2020-01-01").cast("date"), F.col("id").cast("int"))
        .alias("day"),
        F.timestamp_seconds(F.col("id") * 60).cast("timestamp_ntz")
        .alias("wall"),
    )


def _merge(spark, t):
    # 5 matched keys and 5 inserts
    t.merge_into(_parity_df(spark, 995, 1005)
                 .withColumn("price", F.col("price") + 1), ["key"])


# writer -> (clustered starting table?, the commit under test or None)
_WRITERS = {
    "init": (False, None),
    "init_clustered": (True, None),
    "update_where": (False, lambda spark, t: t.update_where(
        F.col("key") < 10, {"price": F.col("price") * 2})),
    "merge_full_outer": (False, _merge),
    "replace_where": (False, lambda spark, t: t.replace_where(
        F.col("key") < 100, _parity_df(spark, 0, 100)
        .withColumn("side", F.lit("replaced")))),
    # every entry is small and they add up to several targets
    "compact_small_clustered": (True, lambda spark, t: t.compact_small(
        target_bytes=max(t._entry_bytes(d) for d in
                         t._manifest(t.current_version())["files"]) + 1)),
    "compact_small_one_entry": (True, lambda spark, t: t.compact_small(
        target_bytes=1 << 30)),
    "optimize_zorder": (True, lambda spark, t: t.optimize(
        ["key", "price"], n_slices=4, zorder=True)),
}


@pytest.mark.parametrize("writer", list(_WRITERS))
def test_clustered_write_stats_equal_job_stats(spark, tmp_path, writer):
    """Every writer's committed stats (folded from the parquet footers
    at commit) equal what the aggregate job computes over the same
    entries, on every engine stats type."""
    clustered, commit = _WRITERS[writer]
    t = AcidParquetTable(spark, str(tmp_path / "tbl"))
    df = _parity_df(spark, 0, 1000)
    if clustered:
        t.init_clustered(df, ["key"], n_slices=4)
    else:
        t.init(df)
    if commit is not None:
        v = t.current_version()
        commit(spark, t)
        assert t.current_version() == v + 1
    m = t._manifest(t.current_version())
    from pyspark.sql.types import StructType
    schema = StructType.fromJson(m["schema"])
    assert set(m["stats"]) == set(m["files"])
    assert m["stats"] == _spark_stats(t, m["files"], schema)
    for c in ("key", "price", "version", "side", "day", "wall"):
        assert all(None not in s[c] for s in m["stats"].values()), c
    # and pruning over the committed stats behaves
    if len(m["files"]) > 1:
        assert len(t.candidate_files("key", 0, 10)) < len(m["files"])


# -- decimals carry no stats ----------------------------------------------

def test_decimal_read_where_is_not_pruned_wrongly(spark, tmp_path):
    """Decimal stats recorded as strings compared lexicographically:
    "20.00" < "9.00" pruned the only entry for lo=9.00. A decimal
    column carries no stats, so it is never pruned."""
    t = AcidParquetTable(spark, str(tmp_path / "tbl"))
    t.init(spark.createDataFrame(
        [(1, decimal.Decimal("10.50")), (2, decimal.Decimal("20.00"))],
        "k long, d decimal(10,2)"))
    rows = t.read_where("d", lo=decimal.Decimal("9.00")).collect()
    assert sorted(r["k"] for r in rows) == [1, 2]
    m = t._manifest(t.current_version())
    assert all("d" not in s for s in m["stats"].values())


@pytest.mark.parametrize("layout", ["init", "init_clustered"])
def test_decimal_key_merge_matches_existing_key(spark, tmp_path, layout):
    """A merge of key 10.50 into 9.00, 10.50 and 20.00 updates the
    existing row. With string-compared decimal stats ("10.50" <
    "9.00") every entry was pruned and the key was inserted twice."""
    schema = "d decimal(20,2), v long"
    t = AcidParquetTable(spark, str(tmp_path / "tbl"))
    df = spark.createDataFrame(
        [(decimal.Decimal(x), 0) for x in ("9.00", "10.50", "20.00")], schema)
    if layout == "init":
        t.init(df)
    else:
        t.init_clustered(df, ["d"], n_slices=2)
    t.merge_into(spark.createDataFrame(
        [(decimal.Decimal("10.50"), 1)], schema), ["d"])
    rows = sorted((str(r["d"]), r["v"]) for r in t.read().collect())
    assert rows == [("10.50", 1), ("20.00", 0), ("9.00", 0)]


def test_footer_stats_distrust_long_string_bounds(spark):
    """Round 13 (VERDICT r12 #8): parquet writers may truncate or drop
    oversized binary min/max, and this pyarrow does not expose the
    exactness flags - so any string bound at/past the trust limit must
    degrade to [None, None] (never pruned), while short strings keep
    exact bounds. Types and short-string parity stay pinned by the
    other tests."""
    with tempfile.TemporaryDirectory() as root:
        long_lo = "b" * 5000          # past parquet-mr's 4 KiB ceiling
        long_hi = "y" * 5000
        df = spark.createDataFrame(
            [(1, long_lo, "aa"), (2, long_hi, "zz")],
            "k long, big string, small string")
        d = _write_entry(spark, root, df)
        t = AcidParquetTable(spark, root)
        footer = t._footer_stats([d], ["k", "big", "small"])
        assert footer is not None
        assert footer[d]["k"] == [1, 2]
        assert footer[d]["small"] == ["aa", "zz"]
        # whether the writer dropped the oversized stats or kept them,
        # the engine must not trust them as exact
        assert footer[d]["big"] == [None, None]
        # boundary: a bound just under the limit stays trusted
        near = "c" * 1000
        df2 = spark.createDataFrame([(near,), ("d",)], "s string")
        d2 = _write_entry(spark, root + "/2", df2)
        f2 = t._footer_stats([d2], ["s"])
        assert f2[d2]["s"] == [near, "d"]
