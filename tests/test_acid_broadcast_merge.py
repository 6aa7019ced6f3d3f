"""The small-source MERGE plan (sources/acid.py ``_merge_against``): a
source of at most ``BROADCAST_SOURCE_ROW_CAP`` rows is broadcast into a
LEFT OUTER join over the affected entries, and its unmatched rows are
appended to the entries the rewrite wrote. Forcing the cap to 0 selects
the full outer join; both plans must commit the same table."""

from __future__ import annotations

import datetime as dt
import decimal
import re

import pytest
from pyspark.sql import functions as F

from cassandra_elasticsearch_sync_spark.sources.acid import AcidParquetTable

_KV = "key bigint, price double"


def _rows(df):
    """Sorted rows; NULLs sort last."""
    return sorted((tuple(r) for r in df.collect()),
                  key=lambda t: [(1, 0) if v is None else (0, v) for v in t])


@pytest.fixture()
def join_plans(monkeypatch):
    """Records, per rewrite write, the analyzed join type of its input
    and the executed plan (planned before the write runs)."""
    seen: list[tuple[str, str]] = []
    real = AcidParquetTable._write_rewrite

    def spy(self, df, manifest, affected, into=None):
        qe = df._jdf.queryExecution()
        how = re.search(r"Join (\w+)", qe.analyzed().toString()).group(1)
        seen.append((how, qe.executedPlan().toString()))
        return real(self, df, manifest, affected, into=into)

    monkeypatch.setattr(AcidParquetTable, "_write_rewrite", spy)
    return seen


def _full_outer(monkeypatch):
    monkeypatch.setattr(AcidParquetTable, "BROADCAST_SOURCE_ROW_CAP", 0)


# -- NULL-key target rows ------------------------------------------------

@pytest.mark.parametrize("vouched", [True, False])
@pytest.mark.parametrize("plan", ["broadcast", "full_outer"])
def test_merge_keeps_null_key_target_row(spark, tmp_path, monkeypatch,
                                         join_plans, plan, vouched):
    """A target row whose key is NULL matches no source row, so the
    merge keeps it as it is. "No target row" is a presence marker, not
    a NULL target key: read off the key, the row took its payload from
    the absent source row and came back ``(NULL, NULL)``."""
    if plan == "full_outer":
        _full_outer(monkeypatch)
    t = AcidParquetTable(spark, str(tmp_path / "t"))
    t.init(spark.createDataFrame([(None, 5.0), (2, 7.0), (10, 8.0)], _KV))
    if vouched:
        t.merge_into(spark.createDataFrame([(3, 1.0)], _KV), ["key"],
                     assume_unique_keys=True, source_stats=(1, 3, 3))
        want = [(2, 7.0), (3, 1.0), (10, 8.0), (None, 5.0)]
    else:
        # unvouched: the probe runs and the source's key 2 hits the entry
        t.merge_into(spark.createDataFrame([(2, 70.0), (3, 1.0)], _KV),
                     ["key"])
        want = [(2, 70.0), (3, 1.0), (10, 8.0), (None, 5.0)]
    assert _rows(t.read()) == want
    assert [how for how, _ in join_plans][:1] == [
        "LeftOuter" if plan == "broadcast" else "FullOuter"]


# -- the two plans commit the same table ---------------------------------

def _ts(d):
    return dt.datetime(2001, 1, d, 12, 30)


def _dec(v):
    return decimal.Decimal(v).quantize(decimal.Decimal("0.01"))


# name -> (target schema, target rows, source schema, source rows,
#          merge kwargs (a callable where they hold Columns, which
#          need the session), init_clustered slice uppers or None)
_CASES = {
    "matched_only": (
        _KV, [(k, float(k)) for k in range(1, 7)],
        _KV, [(2, 20.0), (4, 40.0)],
        dict(assume_unique_keys=True, source_stats=(2, 2, 4)), None),
    "inserts_only_into_nonempty_entry": (
        _KV, [(1, 1.0), (3, 3.0), (5, 5.0), (7, 7.0)],
        _KV, [(2, 2.0), (4, 4.0)],
        dict(assume_unique_keys=True, source_stats=(2, 2, 4)), None),
    "mixed": (
        _KV, [(k, float(k)) for k in range(1, 7)],
        _KV, [(2, 20.0), (9, 90.0), (4, 40.0), (0, -1.0)],
        {}, None),
    "delete_condition": (
        _KV, [(k, float(k)) for k in range(1, 7)],
        "key bigint, price double, op string",
        [(2, None, "D"), (3, 30.0, "U"), (8, None, "D"), (9, 9.0, "U")],
        lambda: dict(delete_condition=F.col("src.op") == "D"), None),
    "nmbs_delete": (
        _KV, [(k, float(k)) for k in range(1, 7)],
        _KV, [(2, 20.0), (8, 80.0)],
        lambda: dict(not_matched_by_source_action="delete",
             not_matched_by_source_condition=F.col("tgt.price") > 4.0),
        None),
    "nmbs_update": (
        _KV, [(k, float(k)) for k in range(1, 7)],
        _KV, [(2, 20.0), (8, 80.0)],
        lambda: dict(not_matched_by_source_action="update",
             not_matched_by_source_assignments={"price": F.lit(0.0)}),
        None),
    "cql_assignments": (
        _KV, [(k, float(k)) for k in range(1, 7)],
        "key bigint, price double, price__set boolean",
        [(2, 0.5, True), (3, 9.0, False), (7, 7.5, True)],
        lambda: dict(assume_unique_keys=True, source_stats=(3, 2, 7),
             matched_condition=F.col("src.price") > 0.0,
             assignments={"price": F.when(
                 F.col("src.price__set"),
                 F.coalesce(F.col("tgt.price"), F.lit(0.0))
                 + F.col("src.price")).otherwise(F.col("tgt.price"))}),
        None),
    "schema_evolution": (
        _KV, [(k, float(k)) for k in range(1, 7)],
        "key bigint, price double, note string",
        [(2, 20.0, "upd"), (8, 80.0, "ins")],
        dict(schema_evolution=True), None),
    "two_column_key": (
        "k1 bigint, k2 string, price double",
        [(1, "a", 1.0), (1, "b", 2.0), (2, "a", 3.0)],
        "k1 bigint, k2 string, price double",
        [(1, "b", 20.0), (2, "b", 40.0), (None, "a", 5.0)],
        dict(keys=["k1", "k2"]), None),
    "null_source_key": (
        # a source row with a NULL key matches nothing and is inserted
        _KV, [(k, float(k)) for k in range(1, 7)],
        _KV, [(None, 50.0), (2, 20.0)],
        dict(assume_unique_keys=True, source_stats=(2, None, None)), None),
    "string_key": (
        "key string, price double",
        [("apple", 1.0), ("kiwi", 2.0), ("plum", 3.0)],
        "key string, price double",
        [("kiwi", 20.0), ("fig", 4.0), ("zucchini", 5.0)],
        {}, None),
    "date_key": (
        "key date, price double",
        [(dt.date(2001, 1, d), float(d)) for d in (1, 5, 9)],
        "key date, price double",
        [(dt.date(2001, 1, 5), 50.0), (dt.date(2001, 1, 7), 7.0)],
        {}, None),
    "timestamp_key": (
        "key timestamp, price double",
        [(_ts(d), float(d)) for d in (1, 5, 9)],
        "key timestamp, price double",
        [(_ts(5), 50.0), (_ts(7), 7.0)],
        {}, None),
    "decimal_key": (
        "key decimal(10,2), price double",
        [(_dec(v), v) for v in (1.25, 5.5, 9.75)],
        "key decimal(10,2), price double",
        [(_dec(5.5), 55.0), (_dec(7.25), 7.25)],
        {}, None),
    "sliced_three_entries": (
        # even keys 0..58 in three slices; updates hit slices 0 and 2,
        # inserts land in slice 0, in untouched slice 1's range, and
        # past every range
        _KV, [(k, float(k)) for k in range(0, 60, 2)],
        _KV, [(6, 60.0), (50, 500.0), (7, 7.0), (27, 27.0), (61, 61.0)],
        dict(assume_unique_keys=True, source_stats=(5, 6, 61)),
        [18, 38, None]),
}


def _merge_once(spark, root, case):
    tgt_schema, tgt_rows, src_schema, src_rows, kw, uppers = case
    kw = kw() if callable(kw) else dict(kw)
    keys = kw.pop("keys", ["key"])
    t = AcidParquetTable(spark, root)
    init = spark.createDataFrame(tgt_rows, tgt_schema)
    if uppers is None:
        t.init(init)
    else:
        t.init_clustered(init, [keys[0]], n_slices=len(uppers),
                         slice_uppers=uppers)
    t.merge_into(spark.createDataFrame(src_rows, src_schema), keys, **kw)
    files = t._manifest(t.current_version())["files"]
    slicing = sorted((_rows(spark.read.parquet(d)) for d in files), key=repr)
    return _rows(t.read()), len(files), slicing


@pytest.mark.parametrize("case", sorted(_CASES))
def test_broadcast_merge_equals_full_outer_merge(spark, tmp_path,
                                                 monkeypatch, join_plans,
                                                 case):
    """Same rows, same manifest entry count, same rows per entry: the
    broadcast plan with its appended inserts commits what the full
    outer join commits."""
    small = _merge_once(spark, str(tmp_path / "small"), _CASES[case])
    # the rewrite, then (when a source row matched nothing) the insert
    # write over the empty target side
    assert [how for how, _ in join_plans] in (
        ["LeftOuter"], ["LeftOuter", "RightOuter"])
    del join_plans[:]
    _full_outer(monkeypatch)
    full = _merge_once(spark, str(tmp_path / "full"), _CASES[case])
    assert [how for how, _ in join_plans] == ["FullOuter"]
    assert small == full


def test_broadcast_merge_timestamp_keys_in_a_dst_fold(spark, tmp_path):
    """The matched keys come back to the driver and go into the insert
    filter as literals. A collected TIMESTAMP is a naive local datetime,
    and the two instants of a DST fold (01:30 EDT and 01:30 EST) read
    back as the same one; sent back as such, the later instant was not
    filtered out and was inserted a second time. Timestamp keys travel
    as epoch microseconds."""
    import os
    import time

    fold = [1636263000, 1636266600]  # 2021-11-07 01:30 EDT, 01:30 EST
    old_tz = os.environ.get("TZ")
    os.environ["TZ"] = "America/New_York"
    time.tzset()
    try:
        def df(rows):
            return spark.createDataFrame(rows, "s bigint, price double").select(
                F.timestamp_seconds("s").alias("key"), "price")

        t = AcidParquetTable(spark, str(tmp_path / "t"))
        t.init(df([(fold[0], 1.0), (fold[1], 2.0)]))
        t.merge_into(df([(fold[1], 20.0), (fold[1] + 7200, 3.0)]), ["key"],
                     assume_unique_keys=True, source_stats=(2, None, None))
        got = t.read().select(F.unix_seconds("key"), "price")
    finally:
        if old_tz is None:
            os.environ.pop("TZ")
        else:
            os.environ["TZ"] = old_tz
        time.tzset()
    assert _rows(got) == [(fold[0], 1.0), (fold[1], 20.0),
                          (fold[1] + 7200, 3.0)]


def test_merge_without_observation_takes_full_outer_join(
        spark, tmp_path, monkeypatch, join_plans):
    """When the write produces no observation (the optimizer can drop
    an observed node, see ``_observed``), the merge must not guess the
    matched keys: it redoes the rewrite as the full outer join, and the
    first write's files are never committed."""
    monkeypatch.setattr(AcidParquetTable, "_observed",
                        staticmethod(lambda obs, name: None))
    t = AcidParquetTable(spark, str(tmp_path / "t"))
    t.init(spark.createDataFrame([(1, 1.0), (2, 2.0)], _KV))
    t.merge_into(spark.createDataFrame([(2, 20.0), (3, 3.0)], _KV), ["key"],
                 assume_unique_keys=True, source_stats=(2, 2, 3))
    assert [how for how, _ in join_plans] == ["LeftOuter", "FullOuter"]
    assert _rows(t.read()) == [(1, 1.0), (2, 20.0), (3, 3.0)]
    assert len(t._manifest(t.current_version())["files"]) == 1


# -- the executed plan and its jobs ---------------------------------------

def _exchanges(plan: str) -> list[str]:
    """The shuffle exchanges of an executed-plan string (a broadcast
    exchange does not repartition the target)."""
    return [ln for ln in plan.splitlines()
            if re.match(r"^[\s:+\-]*Exchange ", ln)]


def test_small_source_merge_does_not_shuffle_target(spark, tmp_path,
                                                    monkeypatch, join_plans,
                                                    shipped_jobs):
    """Under the cap the rewrite is a BroadcastHashJoin LeftOuter that
    scans the target in place, with no shuffle exchange anywhere; with
    the cap forced to 0 it is the SortMergeJoin FullOuter (3 jobs with
    AQE on: two shuffle-map stages and the write). A merge that inserts
    is 3 jobs with AQE on too: the source's broadcast build, the
    rewrite write and the insert write, whose source filter holds the
    matched keys as literals (a relation of them would be broadcast,
    a job of its own)."""
    def merge(name):
        t = AcidParquetTable(spark, str(tmp_path / name))
        t.init(spark.createDataFrame(
            [(k, float(k)) for k in range(1, 201)], _KV))
        src = spark.createDataFrame([(2, 20.0), (300, 3.0)], _KV)
        n = shipped_jobs(lambda: t.merge_into(
            src, ["key"], assume_unique_keys=True,
            source_stats=(2, 2, 300)))
        assert _rows(t.read().filter("key in (2, 300)")) == [
            (2, 20.0), (300, 3.0)]
        assert len(t._manifest(t.current_version())["files"]) == 1
        return n

    assert merge("small") == 3
    (how, plan), (ins_how, _) = join_plans
    assert (how, ins_how) == ("LeftOuter", "RightOuter")
    assert re.search(r"BroadcastHashJoin .*LeftOuter, BuildRight", plan)
    assert _exchanges(plan) == []

    del join_plans[:]
    _full_outer(monkeypatch)
    assert merge("full") == 3
    ((how, plan),) = join_plans
    assert how == "FullOuter"
    assert re.search(r"SortMergeJoin .*FullOuter", plan)
    assert len(_exchanges(plan)) == 2
