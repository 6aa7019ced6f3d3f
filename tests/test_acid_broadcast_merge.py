"""The two plans of the one MERGE join (sources/acid.py
``_merge_against``), ``tgt FULL OUTER JOIN src``. When the affected
entries and the source each already read as one split and together
fit ``spark.sql.maxSinglePartitionBytes`` (the planner's own bound),
they are joined in that one partition, with no exchange and no
broadcast. Otherwise the join shuffles both sides. Lowering the bound
selects the shuffled plan. Both plans must commit the same table.

Targets are written as one part file per entry, the layout a store's
bootstrap and every single-partition rewrite leave; an entry of
several part files reads as several splits and takes the shuffled
plan."""

from __future__ import annotations

import datetime as dt
import decimal
import re

import pytest
from pyspark.sql import functions as F

from cassandra_elasticsearch_sync_spark.localdata import local_relation
from cassandra_elasticsearch_sync_spark.sources.acid import AcidParquetTable

_KV = "key bigint, price double"
_BOUND = "spark.sql.maxSinglePartitionBytes"
PLANS = ("single_partition", "full_outer")


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

    def spy(self, df, manifest, affected):
        qe = df._jdf.queryExecution()
        how = re.search(r"Join (\w+)", qe.analyzed().toString()).group(1)
        seen.append((how, qe.executedPlan().toString()))
        return real(self, df, manifest, affected)

    monkeypatch.setattr(AcidParquetTable, "_write_rewrite", spy)
    return seen


@pytest.fixture()
def force_plan(spark):
    """``force_plan(name)`` selects one of ``PLANS`` for a merge whose
    inputs each read one split: a 1-byte single-partition bound leaves
    the shuffled full outer join. The bound is restored afterwards."""
    old = spark.conf.get(_BOUND)

    def force(plan):
        spark.conf.set(_BOUND, old if plan == "single_partition" else "1")

    yield force
    spark.conf.set(_BOUND, old)


def _exchanges(plan: str) -> list[str]:
    """The shuffle exchanges of an executed-plan string (a broadcast
    exchange does not repartition the target)."""
    return [ln for ln in plan.splitlines()
            if re.match(r"^[\s:+\-]*Exchange ", ln)]


def _assert_plan(join_plans, plan, deletes=False):
    """The rewrite write of one merge took ``plan``. With ``deletes``
    the target is read through one broadcast anti-join with its
    pending merge-on-read delete keys: one more broadcast, no more
    shuffle, under the target side."""
    assert [how for how, _ in join_plans] == ["FullOuter"]
    plan_str = join_plans[0][1]
    assert plan_str.count("BroadcastExchange") == (1 if deletes else 0)
    if plan == "single_partition":
        assert len(_exchanges(plan_str)) == 0
    else:
        assert re.search(r"SortMergeJoin .*FullOuter", plan_str)
        assert len(_exchanges(plan_str)) == 2


# -- NULL-key target rows ------------------------------------------------

@pytest.mark.parametrize("vouched", [True, False])
@pytest.mark.parametrize("plan", PLANS)
def test_merge_keeps_null_key_target_row(spark, tmp_path, force_plan,
                                         join_plans, plan, vouched):
    """A target row whose key is NULL matches no source row, so the
    merge keeps it as it is. "No target row" is a presence marker, not
    a NULL target key: read off the key, the row took its payload from
    the absent source row and came back ``(NULL, NULL)``."""
    force_plan(plan)
    t = AcidParquetTable(spark, str(tmp_path / "t"))
    t.init(spark.createDataFrame([(None, 5.0), (2, 7.0), (10, 8.0)],
                                 _KV).coalesce(1))
    if vouched:
        t.merge_into(local_relation(spark, [(3, 1.0)], _KV), ["key"],
                     assume_unique_keys=True, source_stats=(1, 3, 3))
        want = [(2, 7.0), (3, 1.0), (10, 8.0), (None, 5.0)]
    else:
        # unvouched: the probe runs and the source's key 2 hits the entry
        t.merge_into(local_relation(spark, [(2, 70.0), (3, 1.0)], _KV),
                     ["key"])
        want = [(2, 70.0), (3, 1.0), (10, 8.0), (None, 5.0)]
    assert _rows(t.read()) == want
    _assert_plan(join_plans, plan)


# -- both plans commit the same table ------------------------------------

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
    "pending_mor_deletes": (
        # keys 3 and 5 deleted merge-on-read before the merge: 3 comes
        # back as an insert, 5 stays deleted
        _KV, [(k, float(k)) for k in range(1, 7)],
        _KV, [(2, 20.0), (3, 33.0), (8, 80.0)],
        dict(assume_unique_keys=True, source_stats=(3, 2, 8),
             mor_deletes=[(3,), (5,)]), None),
}

# Cases whose affected entries read as several splits: the
# single-partition plan does not apply, the default bound gives the
# shuffled plan.
_SEVERAL_SPLITS = {"sliced_three_entries"}


def _merge_once(spark, root, case):
    tgt_schema, tgt_rows, src_schema, src_rows, kw, uppers = case
    kw = kw() if callable(kw) else dict(kw)
    keys = kw.pop("keys", ["key"])
    mor_deletes = kw.pop("mor_deletes", None)
    t = AcidParquetTable(spark, root)
    init = spark.createDataFrame(tgt_rows, tgt_schema).coalesce(1)
    if uppers is None:
        t.init(init)
    else:
        t.init_clustered(init, [keys[0]], n_slices=len(uppers),
                         slice_uppers=uppers)
    if mor_deletes:
        t.delete_keys_mor(spark.createDataFrame(mor_deletes, "key bigint"),
                          ["key"])
    t.merge_into(local_relation(spark, src_rows, src_schema), keys, **kw)
    files = t._manifest(t.current_version())["files"]
    slicing = sorted((_rows(spark.read.parquet(d)) for d in files), key=repr)
    return _rows(t.read()), len(files), slicing


@pytest.mark.parametrize("case", sorted(_CASES))
def test_broadcast_merge_equals_full_outer_merge(spark, tmp_path, force_plan,
                                                 join_plans, case):
    """Same rows, same manifest entry count, same rows per entry: the
    single-partition plan commits what the shuffled plan commits."""
    got = {}
    for plan in PLANS:
        force_plan(plan)
        del join_plans[:]
        got[plan] = _merge_once(spark, str(tmp_path / plan), _CASES[case])
        taken = "full_outer" if case in _SEVERAL_SPLITS else plan
        _assert_plan(join_plans, taken, deletes=case == "pending_mor_deletes")
    assert got["single_partition"] == got["full_outer"]


def test_broadcast_merge_timestamp_keys_in_a_dst_fold(spark, tmp_path,
                                                      force_plan, join_plans):
    """The two instants of a DST fold (01:30 EDT and 01:30 EST) are
    two keys, though a TIMESTAMP collected in that zone reads back as
    the same naive local datetime: on either plan, a merge that
    updates the later instant and inserts a third commits three rows.
    The process zone is America/New_York."""
    import os
    import time

    fold = [1636263000, 1636266600]  # 2021-11-07 01:30 EDT, 01:30 EST
    want = [(fold[0], 1.0), (fold[1], 20.0), (fold[1] + 7200, 3.0)]

    def df(rows):
        return local_relation(spark, rows, "s bigint, price double").select(
            F.timestamp_seconds("s").alias("key"), "price")

    old_tz = os.environ.get("TZ")
    os.environ["TZ"] = "America/New_York"
    time.tzset()
    try:
        for plan in PLANS:
            force_plan(plan)
            del join_plans[:]
            t = AcidParquetTable(spark, str(tmp_path / plan))
            t.init(df([(fold[0], 1.0), (fold[1], 2.0)]).coalesce(1))
            t.merge_into(df([(fold[1], 20.0), (fold[1] + 7200, 3.0)]),
                         ["key"], assume_unique_keys=True,
                         source_stats=(2, None, None))
            _assert_plan(join_plans, plan)
            assert _rows(t.read().select(F.unix_seconds("key"),
                                         "price")) == want
    finally:
        if old_tz is None:
            os.environ.pop("TZ")
        else:
            os.environ["TZ"] = old_tz
        time.tzset()


# -- the executed plan and its jobs ---------------------------------------

def _merge_cost(spark, root, shipped_jobs, make_source, parts=1):
    """Jobs of a merge that updates key 2 and inserts key 300 into a
    200-row single-entry table of ``parts`` part files, with the rows
    it commits checked."""
    t = AcidParquetTable(spark, root)
    t.init(spark.createDataFrame([(k, float(k)) for k in range(1, 201)],
                                 _KV).repartition(parts))
    src = make_source(spark, [(2, 20.0), (300, 3.0)], _KV)
    n = shipped_jobs(lambda: t.merge_into(
        src, ["key"], assume_unique_keys=True, source_stats=(2, 2, 300)))
    assert _rows(t.read().filter("key in (2, 300)")) == [
        (2, 20.0), (300, 3.0)]
    assert t.read().count() == 201
    assert len(t._manifest(t.current_version())["files"]) == 1
    return n


def test_small_source_merge_does_not_shuffle_target(spark, tmp_path,
                                                    force_plan, join_plans,
                                                    shipped_jobs):
    """With AQE on. Both sides read one split, so the merge is 1
    job: the write of a full outer join over the two coalesced sides,
    with no exchange and no broadcast, the insert out of the same pass.
    With the bound lowered it is the SortMergeJoin FullOuter: 3 jobs,
    two shuffle-map stages and the write."""
    want = {"single_partition": 1, "full_outer": 3}
    for plan in PLANS:
        force_plan(plan)
        del join_plans[:]
        assert _merge_cost(spark, str(tmp_path / plan), shipped_jobs,
                           local_relation) == want[plan]
        _assert_plan(join_plans, plan)


def test_source_without_size_estimate_takes_shuffled_plan(
        spark, tmp_path, join_plans, shipped_jobs):
    """A source over a one-slice Python RDD reads as one split but
    reports no usable size (``Long.MaxValue`` bytes), so it never
    counts as fitting one partition: the merge takes the shuffled
    plan and its 3 jobs, not a single-partition join that the planner
    would then shuffle."""
    def rdd_source(spark, rows, schema):
        return spark.createDataFrame(spark.sparkContext.parallelize(rows, 1),
                                     schema)

    assert _merge_cost(spark, str(tmp_path / "t"), shipped_jobs,
                       rdd_source) == 3
    _assert_plan(join_plans, "full_outer")


def test_target_in_several_splits_takes_shuffled_plan(spark, tmp_path,
                                                      join_plans,
                                                      shipped_jobs):
    """An entry of three part files reads as three splits, so at the
    default bound the merge is not put into one partition: it takes
    the shuffled plan and its 3 jobs, two shuffle-map stages and the
    write."""
    assert _merge_cost(spark, str(tmp_path / "t"), shipped_jobs,
                       local_relation, parts=3) == 3
    _assert_plan(join_plans, "full_outer")
