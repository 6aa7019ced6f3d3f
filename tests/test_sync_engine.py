"""End-to-end SyncEngine: bootstrap + incremental cycles converge and
are idempotent - the reference's whole program, verified - on the
ACID AcidStore whose apply is a copy-on-write MERGE (VERDICT r3 #1).
Every store is laid out by ``full_sync``'s key ladder alone; tests
that need several slices hand ``overwrite`` an explicit ladder."""

from __future__ import annotations

import ast
import datetime as dt
import re
import shutil
import tempfile

import pytest
from pyspark.sql import functions as F

from cassandra_elasticsearch_sync_spark.sources.acid import AcidParquetTable
from cassandra_elasticsearch_sync_spark.sync.engine import (
    SLICE_TARGET_ROWS,
    AcidStore,
    SyncEngine,
    _commit_both,
    _thin_ladder,
)
from cassandra_elasticsearch_sync_spark.sync.ops import side_a, side_b

SF_DIR = "/root/testdata/sf0.001"

STORES = [pytest.param(AcidStore, id="AcidStore")]


def _mk_engine(spark, store_cls=AcidStore):
    root = tempfile.mkdtemp(prefix="ces_engine_")
    a = store_cls(spark, f"{root}/a",
                  side_a(spark, SF_DIR).withColumn("side", F.lit("a")))
    b = store_cls(spark, f"{root}/b",
                  side_b(spark, SF_DIR).withColumn("side", F.lit("b")))
    return SyncEngine(spark, a, b, f"{root}/state"), root


@pytest.mark.parametrize("store_cls", STORES)
def test_full_sync_then_idempotent_cycles(spark, store_cls):
    eng, root = _mk_engine(spark, store_cls)
    try:
        assert not eng.in_sync()
        eng.full_sync()
        assert eng.in_sync()
        # Nothing changed since the watermark -> cycle ships 0 rows.
        assert eng.incremental_cycle() == 0
        assert eng.in_sync()
    finally:
        shutil.rmtree(root, ignore_errors=True)


@pytest.mark.parametrize("store_cls", STORES)
def test_incremental_ships_local_edit(spark, store_cls):
    eng, root = _mk_engine(spark, store_cls)
    try:
        eng.full_sync()
        # Local edit on B after the sync point: bump one key's version.
        b = eng.b.read()
        edited = b.withColumn(
            "price",
            F.when(F.col("key") == 7, F.col("price") + 1000).otherwise(F.col("price")),
        ).withColumn(
            # A real LWW write stamps the CURRENT time - i.e. newer than
            # every synced version, hence newer than the watermark.
            "version",
            F.when(F.col("key") == 7,
                   F.lit(dt.datetime(2002, 1, 1)).cast("timestamp"))
             .otherwise(F.col("version")),
        )
        eng.b.overwrite(edited.localCheckpoint(eager=True))
        shipped = eng.incremental_cycle()
        assert shipped >= 1
        assert eng.in_sync()
        got = eng.a.read().filter(F.col("key") == 7).collect()[0]
        want = edited.filter(F.col("key") == 7).collect()[0]
        assert got["price"] == want["price"]
        # Second cycle: converged, nothing to ship.
        assert eng.incremental_cycle() == 0
    finally:
        shutil.rmtree(root, ignore_errors=True)


@pytest.mark.parametrize("store_cls", STORES)
def test_equal_version_boundary_write_is_not_lost(spark, store_cls):
    """A write landing AFTER the watermark advance with version exactly
    EQUAL to the watermark must still ship (inclusive >= boundary);
    a strict > would silently drop it forever."""
    from cassandra_elasticsearch_sync_spark.sources.storage import load_watermark

    eng, root = _mk_engine(spark, store_cls)
    try:
        eng.full_sync()
        wm = load_watermark(spark, f"{root}/state")
        new_row = spark.createDataFrame(
            [(999999, 123.45, wm, "b")], "key bigint, price double, "
            "version timestamp, side string"
        )
        eng.b.overwrite(
            eng.b.read().unionByName(new_row).localCheckpoint(eager=True))
        assert eng.incremental_cycle() >= 1
        assert eng.a.read().filter(F.col("key") == 999999).count() == 1
        assert eng.in_sync()
        assert eng.incremental_cycle() == 0
    finally:
        shutil.rmtree(root, ignore_errors=True)


def test_acid_cycle_is_copy_on_write(spark, monkeypatch):
    """The 100 TB property the AcidStore exists for: an incremental
    cycle shipping a NARROW key range rewrites only the manifest
    entries whose key stats intersect it - every other data file
    carries over byte-for-byte into the post-cycle snapshot. Both
    stores are re-sliced into 16 entries along an explicit ladder
    first (``full_sync`` leaves a store this small as one entry).
    Every clustered write on the way gets its slice bounds from a
    ladder or from the manifest, never from a sampling pass."""
    sampled = []
    real = AcidParquetTable._write_clustered

    def spy(self, df, cluster_by, n_slices, zorder=False, uppers=None):
        if uppers is None:
            sampled.append(n_slices)
        return real(self, df, cluster_by, n_slices, zorder, uppers)

    monkeypatch.setattr(AcidParquetTable, "_write_clustered", spy)
    eng, root = _mk_engine(spark, AcidStore)
    try:
        eng.full_sync()
        keys = sorted(r["key"] for r in eng.a.read().select("key").collect())
        ladder = [keys[len(keys) * i // 16] for i in range(1, 16)]
        for store in (eng.a, eng.b):
            store.overwrite(store.read().localCheckpoint(eager=True),
                            key_quantiles=ladder)
        # Edit a narrow key range on B via the ACID table itself
        # (update_where = CoW on B), stamped newer than the watermark.
        eng.b.table.update_where(
            F.col("key") <= 50,
            {"price": F.col("price") + 1000.0,
             "version": F.lit(dt.datetime(2003, 1, 1)).cast("timestamp")},
        )
        m_before = eng.a.table._manifest(eng.a.table.current_version())
        assert len(m_before["files"]) == 16
        # the entries whose key stats cannot hold a key <= 50
        untouched = {f for f in m_before["files"]
                     if m_before["stats"][f]["key"][0] > 50}
        assert untouched and len(untouched) < 16
        assert eng.incremental_cycle() >= 1
        assert eng.in_sync()
        m_after = eng.a.table._manifest(eng.a.table.current_version())
        assert untouched <= set(m_after["files"])
        assert set(m_before["files"]) != set(m_after["files"])
    finally:
        shutil.rmtree(root, ignore_errors=True)
    assert sampled == []


def test_acid_store_init_is_one_plain_commit(spark):
    """``AcidStore(init=df)`` seeds the table with ONE plain ``init``
    commit and no clustering: the bootstrap's overwrite lays it out."""
    root = tempfile.mkdtemp(prefix="ces_store_init_")
    try:
        st = AcidStore(spark, f"{root}/t",
                       side_a(spark, SF_DIR).withColumn("side", F.lit("a")))
        assert st.table.current_version() == 1
        assert st.table._manifest(1)["cluster_by"] is None
        assert st.read().count() == side_a(spark, SF_DIR).count()
    finally:
        shutil.rmtree(root, ignore_errors=True)


def test_acid_cycle_crash_retry_is_idempotent(spark):
    """At-least-once safety on the ACID path: re-applying the SAME
    shipped delta (crash between apply and watermark advance -> next
    cycle re-extracts and re-applies) leaves the store unchanged."""
    eng, root = _mk_engine(spark, AcidStore)
    try:
        eng.full_sync()
        eng.b.table.update_where(
            F.col("key") % 13 == 1,
            {"price": F.col("price") * 2.0,
             "version": F.lit(dt.datetime(2003, 6, 1)).cast("timestamp")},
        )
        assert eng.incremental_cycle() >= 1
        before = sorted(tuple(r) for r in eng.a.read().collect())
        # Simulate the crash-retry: apply the already-applied delta again.
        delta = eng.b.read().filter(F.col("key") % 13 == 1)\
            .localCheckpoint(eager=True)
        eng.a.apply_delta(delta)
        after = sorted(tuple(r) for r in eng.a.read().collect())
        assert before == after
        assert eng.in_sync()
    finally:
        shutil.rmtree(root, ignore_errors=True)


def test_scd2_apply_semantics(spark):
    import datetime as dt

    from cassandra_elasticsearch_sync_spark.sync.ops import scd2_apply

    ts = lambda d: dt.datetime(2000, 1, d)  # noqa: E731
    dim = spark.createDataFrame(
        [(1, 10.0, ts(1), None, True),
         (2, 20.0, ts(1), None, True),
         (3, 30.0, ts(1), None, True)],
        "key bigint, price double, valid_from timestamp, "
        "valid_to timestamp, is_current boolean")
    upd = spark.createDataFrame(
        [(1, 11.0, ts(5)),    # changed -> close + open
         (2, 20.0, ts(5)),    # same value -> no-op
         (3, 31.0, ts(1)),    # ts NOT after valid_from -> guarded no-op
         (9, 90.0, ts(5))],   # new key -> first row
        "key bigint, price double, version timestamp")
    out = scd2_apply(dim, upd, "key", "price", "version")
    rows = {(r["key"], r["valid_from"], r["is_current"]):
            (r["price"], r["valid_to"]) for r in out.collect()}
    assert rows[(1, ts(1), False)] == (10.0, ts(5))     # closed
    assert rows[(1, ts(5), True)] == (11.0, None)       # opened
    assert rows[(2, ts(1), True)] == (20.0, None)       # untouched
    assert rows[(3, ts(1), True)] == (30.0, None)       # guarded
    assert rows[(9, ts(5), True)] == (90.0, None)       # fresh
    assert len(rows) == 5
    # delta view = exactly the written rows
    delta = scd2_apply(dim, upd, "key", "price", "version",
                       delta_only=True)
    assert delta.count() == 3


def test_ledger_records_slo_metrics(spark):
    """The SLO ledger, hand-computed on a 3-key scenario: per-cycle
    shipped counts, the conflict definition (keys shipped BOTH ways),
    Spark-ROUND conflict_rate, data-lag percentiles vs the version
    frontier, and the quiet-cycle null row."""
    ts = lambda d: dt.datetime(2000, 1, d)  # noqa: E731
    root = tempfile.mkdtemp(prefix="ces_ledger_")
    try:
        init_a = spark.createDataFrame(
            [(1, 10.0, ts(1), "a"), (2, 20.0, ts(2), "a"),
             (3, 30.0, ts(3), "a")],
            "key bigint, price double, version timestamp, side string")
        a = AcidStore(spark, f"{root}/a", init_a)
        b = AcidStore(spark, f"{root}/b",
                      init_a.withColumn("side", F.lit("b")))
        eng = SyncEngine(spark, a, b, f"{root}/state",
                         record_ledger=True)
        eng.full_sync()          # watermark = 2000-01-03
        # cycle 1: B edits keys 1 and 2 (versions day 11 and day 21),
        # A edits key 2 (day 13) -> key 2 ships both ways = conflict
        def edit(store, key, price, day):
            st = store.read().withColumn(
                "price", F.when(F.col("key") == key, F.lit(price))
                          .otherwise(F.col("price"))
            ).withColumn(
                "version", F.when(F.col("key") == key,
                                  F.lit(ts(day)).cast("timestamp"))
                            .otherwise(F.col("version")))
            store.overwrite(st.localCheckpoint(eager=True))
        edit(b, 1, 11.0, 11)
        edit(b, 2, 22.0, 21)
        edit(a, 2, 21.5, 13)
        assert eng.incremental_cycle() == 3
        # cycle 2: quiet
        assert eng.incremental_cycle() == 0
        led = {r["cycle"]: r for r in eng.ledger_df().collect()}
        r1, r2 = led[1], led[2]
        assert (r1["shipped_a"], r1["shipped_b"]) == (1, 2)
        assert r1["conflict_keys"] == 1          # key 2, both ways
        assert r1["conflict_rate"] == 0.5        # 1 of 2 distinct keys
        # frontier = day 21; lags: day11 -> 10d, day13 -> 8d, day21 -> 0
        day = 86400.0
        assert r1["max_lag_s"] == 10 * day
        assert r1["p50_lag_s"] == 8 * day
        # p95 of [0, 8d, 10d] (exact interpolation: 0.95*2=1.9 ->
        # 8d + 0.9*(10d-8d) = 9.8d)
        assert abs(r1["p95_lag_s"] - 9.8 * day) < 1e-6
        assert r1["watermark_s"] == "2000-01-21 00:00:00"
        assert (r2["shipped_a"], r2["shipped_b"]) == (0, 0)
        assert r2["conflict_keys"] == 0
        assert r2["conflict_rate"] is None
        assert r2["p50_lag_s"] is None and r2["max_lag_s"] is None
        assert r2["watermark_s"] == "2000-01-21 00:00:00"
        # ledger off by default: no rows recorded
        eng2 = SyncEngine(spark, a, b, f"{root}/state2")
        eng2.full_sync()
        eng2.incremental_cycle()
        assert eng2.ledger == []
    finally:
        shutil.rmtree(root, ignore_errors=True)


def _trickle_cycle_cost(spark, shipped_cost, monkeypatch):
    """(jobs, tasks) of an 18-row cycle between two single-entry
    AcidStores, and the executed plans of both applies' rewrite
    writes."""
    plans = []
    real = AcidParquetTable._write_rewrite

    def spy(self, df, manifest, affected):
        plans.append(df._jdf.queryExecution().executedPlan().toString())
        return real(self, df, manifest, affected)

    eng, root = _mk_engine(spark)
    try:
        eng.full_sync()
        for store, keys, day in ((eng.a, range(1, 9), 1),
                                 (eng.b, range(101, 111), 2)):
            assert len(store.table._manifest(
                store.table.current_version())["files"]) == 1
            store.table.update_where(
                F.col("key").isin(list(keys)),
                {"price": F.lit(float(day)),
                 "version": F.lit(dt.datetime(2003, 1, day)).cast(
                     "timestamp")})
        monkeypatch.setattr(AcidParquetTable, "_write_rewrite", spy)
        shipped = []
        cost = shipped_cost(lambda: shipped.append(eng.incremental_cycle()))
        assert shipped == [18]
        assert eng.in_sync()
    finally:
        shutil.rmtree(root, ignore_errors=True)
    assert len(plans) == 2
    return cost, plans


def test_trickle_cycle_job_count_pinned(spark, shipped_cost, monkeypatch):
    """With AQE on, an 18-row cycle between two single-entry
    AcidStores is 3 Spark jobs and 3 tasks. Each delta reads one
    split and both fit ``spark.sql.maxSinglePartitionBytes``, so each
    is scanned once, in one partition, by the grouped pass that decides
    both ship sets, and one metrics job over its materialized rows
    measures everything the applies need: 1 job with no exchange.
    Each apply's ship set and touched entry read one split too, so
    its full outer join runs with no exchange and no broadcast: 1 write
    job per direction. A second scan of a delta, a merge that
    re-measures what the metrics job already handed it, or any shuffle
    or broadcast shows up here."""
    cost, plans = _trickle_cycle_cost(spark, shipped_cost, monkeypatch)
    assert cost == (3, 3)
    assert not any(re.search(r"(?m)^[\s:+\-]*Exchange ", p) for p in plans)
    assert not any("BroadcastExchange" in p for p in plans)


def test_trickle_cycle_above_single_partition_bound(spark, shipped_cost,
                                                    monkeypatch):
    """With the single-partition bound below every input, the cycle
    takes the shuffled grouped pass and the shuffled merges: 9 jobs
    and 10 tasks. The grouped pass and the metrics job are 3 jobs with
    AQE on (the shuffle-map stage of each exchange is a job); each
    apply's full outer join shuffles its ship set and its touched
    entry, 3 jobs of 1 task each (two shuffle-map stages and the
    write)."""
    bound = "spark.sql.maxSinglePartitionBytes"
    old = spark.conf.get(bound)
    spark.conf.set(bound, "1")
    try:
        cost, plans = _trickle_cycle_cost(spark, shipped_cost, monkeypatch)
    finally:
        spark.conf.set(bound, old)
    assert cost == (9, 10)
    assert all(re.search(r"SortMergeJoin .*FullOuter", p) for p in plans)


def test_full_sync_over_single_split_stores_is_pinned(spark, shipped_cost,
                                                     monkeypatch):
    """With AQE on, ``full_sync`` between two stores that each read as
    one split is 6 jobs and 6 tasks: ``lww_merge`` coalesces its union
    to the one partition, so the per-key aggregate, the persisted
    snapshot and the ladder job over it plan no exchange; each
    clustered overwrite is a shuffle-map job and a write job. A
    shuffle in the merge shows up here (8 jobs and 37 tasks)."""
    import cassandra_elasticsearch_sync_spark.sync.engine as engine

    plans = []
    real = engine.lww_merge

    def spy(a, b):
        merged = real(a, b)
        plans.append(merged._jdf.queryExecution().executedPlan().toString())
        return merged

    monkeypatch.setattr(engine, "lww_merge", spy)
    eng, root = _mk_engine(spark)
    try:
        cost = shipped_cost(eng.full_sync)
        assert eng.in_sync()
    finally:
        shutil.rmtree(root, ignore_errors=True)
    assert cost == (6, 6)
    assert len(plans) == 1
    assert not re.search(r"(?m)^[\s:+\-]*Exchange ", plans[0])


def test_null_payload_boundary_row_converges(spark):
    """A row holding a NULL at the watermark is in both deltas on every
    later cycle (the boundary is inclusive). It is the same row on both
    sides, so it must not ship: an equality match would never pair the
    NULLs and would re-ship it both ways, counted as a conflict, on
    every cycle of stores that are in sync."""
    ts = lambda d: dt.datetime(2000, 1, d)  # noqa: E731
    root = tempfile.mkdtemp(prefix="ces_nullrow_")
    try:
        rows = spark.createDataFrame(
            [(1, 10.0, ts(1), "a"), (2, None, ts(3), "a"),
             (3, 30.0, ts(2), "a")],
            "key bigint, price double, version timestamp, side string")
        a = AcidStore(spark, f"{root}/a", rows)
        b = AcidStore(spark, f"{root}/b", rows)
        eng = SyncEngine(spark, a, b, f"{root}/state", record_ledger=True)
        eng.full_sync()          # watermark = 2000-01-03, the NULL row
        assert eng.in_sync()
        assert [eng.incremental_cycle() for _ in range(3)] == [0, 0, 0]
        assert eng.in_sync()
        assert [(r["shipped_a"], r["shipped_b"], r["conflict_keys"])
                for r in eng.ledger] == [(0, 0, 0)] * 3
    finally:
        shutil.rmtree(root, ignore_errors=True)


def test_ledger_cycle_runs_in_one_partition(spark, shipped_cost):
    """With the ledger on, the lag window and the conflict count ride
    the single-partition metrics job too: a cycle that ships both ways
    is 3 jobs and 3 tasks with AQE on (the metrics job and one write
    per direction), and a quiet cycle is 1 job. Several distinct counts
    in one aggregate would plan an Expand, which reports no
    partitioning, and shuffle the one partition twice."""
    ts = lambda d: dt.datetime(2000, 1, d)  # noqa: E731
    root = tempfile.mkdtemp(prefix="ces_ledger1p_")
    try:
        rows = spark.createDataFrame(
            [(k, float(k), ts(1 + k // 6), "a") for k in range(1, 7)],
            "key bigint, price double, version timestamp, side string")
        a = AcidStore(spark, f"{root}/a", rows)
        b = AcidStore(spark, f"{root}/b", rows)
        eng = SyncEngine(spark, a, b, f"{root}/state", record_ledger=True)
        eng.full_sync()          # watermark = day 2, key 6 only
        for store, keys, day in ((a, [1, 2], 5), (b, [2, 3], 6)):
            store.table.update_where(
                F.col("key").isin(keys),
                {"price": F.lit(float(day)),
                 "version": F.lit(ts(day)).cast("timestamp")})
        assert shipped_cost(eng.incremental_cycle) == (3, 3)
        assert shipped_cost(eng.incremental_cycle) == (1, 1)
        assert [(r["shipped_a"], r["shipped_b"], r["conflict_keys"])
                for r in eng.ledger] == [(2, 2, 1), (0, 0, 0)]
        assert eng.in_sync()
    finally:
        shutil.rmtree(root, ignore_errors=True)


def test_cycle_over_a_delta_of_several_splits_keeps_the_shuffle(
        spark, monkeypatch):
    """A side whose delta reads more than one split is not put into
    one partition: the grouped pass shuffles as it did before the
    single-partition plan. Here the first cycle (no watermark yet)
    reads both two-slice stores whole, two part files a side."""
    import cassandra_elasticsearch_sync_spark.sync.engine as engine

    decided = []
    real = engine.single_split

    def spy(*dfs):
        decided.append(real(*dfs))
        return decided[-1]

    ts = lambda d: dt.datetime(2000, 1, d)  # noqa: E731
    root = tempfile.mkdtemp(prefix="ces_2split_")
    try:
        rows = spark.createDataFrame(
            [(k, float(k), ts(1), "a") for k in range(1, 41)],
            "key bigint, price double, version timestamp, side string")
        a = AcidStore(spark, f"{root}/a")
        b = AcidStore(spark, f"{root}/b")
        for store in (a, b):
            store.overwrite(rows, key_quantiles=[20])
        b.table.update_where(F.col("key").isin([1, 40]),
                             {"price": F.lit(0.5),
                              "version": F.lit(ts(5)).cast("timestamp")})
        for store in (a, b):
            assert len(store.table._manifest(
                store.table.current_version())["files"]) == 2
        eng = SyncEngine(spark, a, b, f"{root}/state")
        monkeypatch.setattr(engine, "single_split", spy)
        # both copies of keys 1 and 40 differ, so each ships to the
        # other side; LWW keeps B's newer rows on both
        assert eng.incremental_cycle() == 4
        assert decided == [False]
        assert eng.in_sync()
    finally:
        shutil.rmtree(root, ignore_errors=True)


def test_update_of_a_watermark_row_ships_the_stale_copy_once(spark):
    """A write to a key whose synced row sits AT the watermark leaves
    the other side's stale copy in that side's delta (the boundary is
    inclusive) with no twin in the writer's delta, so the stale copy
    ships once: the cycle counts one row more than were written, and
    LWW drops it on arrival. Later cycles ship nothing."""
    ts = lambda d: dt.datetime(2000, 1, d)  # noqa: E731
    root = tempfile.mkdtemp(prefix="ces_wmrow_")
    try:
        rows = spark.createDataFrame(
            [(1, 10.0, ts(1), "a"), (2, 20.0, ts(3), "a"),
             (3, 30.0, ts(3), "a"), (4, 40.0, ts(2), "a")],
            "key bigint, price double, version timestamp, side string")
        a = AcidStore(spark, f"{root}/a", rows)
        b = AcidStore(spark, f"{root}/b", rows)
        eng = SyncEngine(spark, a, b, f"{root}/state", record_ledger=True)
        eng.full_sync()          # watermark = day 3, keys 2 and 3
        for store, key, price, day in ((a, 2, 99.0, 5), (b, 4, 44.0, 6)):
            store.table.update_where(
                F.col("key") == key,
                {"price": F.lit(price),
                 "version": F.lit(ts(day)).cast("timestamp")})
        # 2 rows written; B's day-3 copy of key 2 ships to A as well
        assert eng.incremental_cycle() == 3
        (led,) = eng.ledger
        assert (led["shipped_a"], led["shipped_b"],
                led["conflict_keys"]) == (1, 2, 1)
        for store in (a, b):
            got = store.read().filter("key = 2").select(
                "price", "version").collect()
            assert [tuple(r) for r in got] == [(99.0, ts(5))]
        assert eng.in_sync()
        assert eng.incremental_cycle() == 0
    finally:
        shutil.rmtree(root, ignore_errors=True)


def test_commit_both_attempts_both_and_raises():
    """`_commit_both` runs two independent commits in order, but a
    failure in one must NEVER skip the other - both closures run
    before the exception propagates, in either order."""
    done: list[str] = []

    def ok() -> None:
        done.append("ok")

    def boom() -> None:
        raise ValueError("commit failed")

    with pytest.raises(ValueError, match="commit failed"):
        _commit_both(boom, ok)
    assert done == ["ok"]          # the healthy commit ran to completion

    done.clear()
    with pytest.raises(ValueError, match="commit failed"):
        _commit_both(ok, boom)
    assert done == ["ok"]

    # and the success path returns only after BOTH are done
    done.clear()
    _commit_both(ok, lambda: done.append("b"))
    assert sorted(done) == ["b", "ok"]


@pytest.mark.parametrize("n_rows, want_slices", [
    (SLICE_TARGET_ROWS - 1, 1),
    (SLICE_TARGET_ROWS * 3 // 2, 1),
    (SLICE_TARGET_ROWS * 3, 2),
    (SLICE_TARGET_ROWS * 9, 8),     # 9 does not divide 16: round DOWN
    (SLICE_TARGET_ROWS * 40, 16),
])
def test_thin_ladder_keeps_slices_at_or_above_target(n_rows, want_slices):
    """A 16-slice ladder thins to the largest even subsample whose
    slices each hold >= SLICE_TARGET_ROWS rows."""
    ladder = [k * 100 for k in range(1, 16)]   # quantiles i/16, i=1..15
    got = _thin_ladder(ladder, n_rows)
    assert len(got) + 1 == want_slices
    step = 16 // want_slices
    assert got == [k * 100 for k in range(step, 16, step)]


def test_acid_read_since_prunes_files_and_matches_filtered_read(spark):
    """Round-12: `AcidStore.read_since` prunes the delta scan at the
    manifest (version-range stats) - rows must equal the plain
    filtered read, and the plan must actually read FEWER files when
    only one slice holds post-watermark versions."""
    ts = lambda d: dt.datetime(2001, 1, d)  # noqa: E731
    root = tempfile.mkdtemp(prefix="ces_read_since_")
    try:
        rows = [(i, float(i), ts(1 + (i % 5)), "x") for i in range(64)]
        init = spark.createDataFrame(
            rows, "key bigint, price double, version timestamp, side string")
        st = AcidStore(spark, f"{root}/t")
        st.overwrite(init, key_quantiles=[15, 31, 47])
        # bump ONE key far past the rest: only its slice can hold
        # post-watermark rows afterwards
        st.table.update_where(
            F.col("key") == 3,
            {"version": F.lit(ts(20)).cast("timestamp")})
        wm = ts(10)
        got = st.read_since(wm)
        want = st.read().filter(F.col("version") >= F.lit(wm))
        assert sorted(map(tuple, got.collect())) \
            == sorted(map(tuple, want.collect()))
        assert len(got.inputFiles()) < len(st.read().inputFiles())
        # watermark None = everything (first sync)
        assert st.read_since(None).count() == 64
        # and a watermark below every version prunes nothing away
        assert st.read_since(ts(1)).count() == 64
    finally:
        shutil.rmtree(root, ignore_errors=True)


def _package_nodes():
    """``(file name, node)`` for every AST node of the package's
    source."""
    import pathlib

    import cassandra_elasticsearch_sync_spark as pkg

    for path in pathlib.Path(pkg.__file__).parent.rglob("*.py"):
        for node in ast.walk(ast.parse(path.read_text(), str(path))):
            yield path.name, node


def _package_string_constants(pattern: str) -> set[str]:
    """Every string literal in the package's source that matches
    ``pattern`` in full (an AST scan, so comments and docstring prose
    do not count unless they are the whole literal)."""
    name = re.compile(pattern)
    return {node.value for _, node in _package_nodes()
            if isinstance(node, ast.Constant) and isinstance(node.value, str)
            and name.fullmatch(node.value)}


def test_env_knob_inventory():
    """Every ``SPARK_GRAFT_*`` environment name the package reads. A
    new knob doubles the configurations tests and benchmarks must
    cover, so adding one means editing this set on purpose."""
    found = {n.removeprefix("SPARK_GRAFT_")
             for n in _package_string_constants(r"SPARK_GRAFT_[A-Z_]+")}
    assert found == {"SF_DIR", "CPUS", "SHUFFLE_PARTITIONS", "AQE",
                     "DRIVER_MEM"}


def test_package_defines_no_spark_conf_knobs():
    """The package reads no Spark conf name of its own
    (``spark.cesync.*``): a conf-keyed knob is an environment knob by
    another route, so one cannot come back unnoticed. Tests change
    engine constants with ``monkeypatch`` instead."""
    assert _package_string_constants(r"spark\.cesync\..*") == set()


def test_package_builds_no_python_rdd_relation():
    """Driver-local rows become a DataFrame only through
    ``localdata.local_relation``, a JVM ``LocalRelation``: no module
    calls ``parallelize``, ``createDataFrame`` is called in
    ``localdata.py`` alone, and nothing but ``local_relation`` and
    ``single_split`` is imported from it. A Python-RDD relation, the
    builder ``local_relation`` replaced, has no size estimate, costs a
    Python worker round per evaluation and checks its values only on
    the executors."""
    calls, imported = set(), set()
    for name, node in _package_nodes():
        if (isinstance(node, ast.Attribute)
                and node.attr in ("parallelize", "createDataFrame")):
            calls.add((name, node.attr))
        elif (isinstance(node, ast.ImportFrom)
                and (node.module or "").endswith("localdata")):
            imported |= {a.name for a in node.names}
    assert calls == {("localdata.py", "createDataFrame")}
    assert imported == {"local_relation", "single_split"}
