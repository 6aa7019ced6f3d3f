"""ACID MERGE INTO (sources/acid.py): transactional semantics the
snapshot-swap store could not provide - snapshot isolation for
concurrent readers, atomic commit, optimistic-concurrency conflicts,
copy-on-write file pruning, crash safety, vacuum retention."""

from __future__ import annotations

import os
import shutil
import tempfile

import pytest
from pyspark.sql import functions as F

from cassandra_elasticsearch_sync_spark.sources.acid import (
    AcidParquetTable,
    CommitConflict,
)


@pytest.fixture()
def root():
    d = tempfile.mkdtemp(prefix="ces_acid_")
    yield d
    shutil.rmtree(d, ignore_errors=True)


def _table(spark, root, rows):
    t = AcidParquetTable(spark, root)
    t.init(spark.createDataFrame(rows, "key bigint, price double, version int"))
    return t


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


def test_merge_update_insert(spark, root):
    t = _table(spark, root, [(1, 10.0, 1), (2, 20.0, 1), (3, 30.0, 1)])
    src = spark.createDataFrame(
        [(2, 99.0, 2), (4, 40.0, 2)], "key bigint, price double, version int"
    )
    t.merge_into(src, ["key"])
    assert _rows(t.read()) == [
        (1, 10.0, 1), (2, 99.0, 2), (3, 30.0, 1), (4, 40.0, 2)
    ]


def test_merge_conditional_update_lww(spark, root):
    """WHEN MATCHED AND src.version > tgt.version THEN UPDATE - the
    sync engine's LWW apply as a MERGE."""
    t = _table(spark, root, [(1, 10.0, 5), (2, 20.0, 1)])
    src = spark.createDataFrame(
        [(1, 11.0, 3), (2, 22.0, 9)], "key bigint, price double, version int"
    )
    t.merge_into(
        src, ["key"],
        matched_condition=F.col("src.version") > F.col("tgt.version"),
    )
    # key 1: source older -> target kept; key 2: source newer -> updated
    assert _rows(t.read()) == [(1, 10.0, 5), (2, 22.0, 9)]


def test_merge_delete_clause(spark, root):
    t = _table(spark, root, [(1, 10.0, 1), (2, 20.0, 1), (3, 30.0, 1)])
    src = spark.createDataFrame(
        [(2, 0.0, 2), (3, 33.0, 2), (9, 0.0, 2)],
        "key bigint, price double, version int",
    )
    t.merge_into(
        src, ["key"], delete_condition=F.col("src.price") == 0.0
    )
    # key 2 deleted; key 3 updated; key 9 delete-of-absent is a no-op
    assert _rows(t.read()) == [(1, 10.0, 1), (3, 33.0, 2)]


def test_merge_rejects_dup_source_keys(spark, root):
    t = _table(spark, root, [(1, 10.0, 1)])
    src = spark.createDataFrame(
        [(1, 1.0, 1), (1, 2.0, 2)], "key bigint, price double, version int"
    )
    with pytest.raises(ValueError, match="multiple rows per key"):
        t.merge_into(src, ["key"])


def test_snapshot_isolation_concurrent_reader(spark, root):
    """A reader that resolved its snapshot BEFORE a merge keeps seeing
    the old data afterwards - data files are immutable and a commit
    only adds a new manifest."""
    t = _table(spark, root, [(1, 10.0, 1), (2, 20.0, 1)])
    pinned = t.read()          # snapshot resolved now
    pinned_v = t.current_version()
    src = spark.createDataFrame([(1, 99.0, 2)], "key bigint, price double, version int")
    t.merge_into(src, ["key"])
    t.merge_into(
        spark.createDataFrame([(2, 88.0, 3)], "key bigint, price double, version int"),
        ["key"],
    )
    # The pinned DataFrame still evaluates against the old snapshot.
    assert _rows(pinned) == [(1, 10.0, 1), (2, 20.0, 1)]
    # Time travel reaches it by version number too.
    assert _rows(t.read(version=pinned_v)) == [(1, 10.0, 1), (2, 20.0, 1)]
    assert _rows(t.read()) == [(1, 99.0, 2), (2, 88.0, 3)]


def test_commit_conflict_detected(spark, root):
    """Two writers based on the same snapshot: the second commit must
    raise CommitConflict, not silently clobber the first."""
    t1 = _table(spark, root, [(1, 10.0, 1)])
    t2 = AcidParquetTable(spark, t1.root)
    base = t1.current_version()
    src1 = spark.createDataFrame([(1, 11.0, 2)], "key bigint, price double, version int")
    src2 = spark.createDataFrame([(1, 12.0, 3)], "key bigint, price double, version int")
    # Writer 1 commits first.
    t1.merge_into(src1, ["key"])
    # Writer 2 simulates having planned against the stale base version
    # by committing directly at that base.
    files = t2._write_one_entry(src2)
    with pytest.raises(CommitConflict):
        t2._commit(base, files, src2.schema)
    # Table still shows writer 1's result; retry on fresh snapshot works.
    assert _rows(t2.read()) == [(1, 11.0, 2)]
    t2.merge_into(src2, ["key"])
    assert _rows(t2.read()) == [(1, 12.0, 3)]


def test_crash_before_manifest_create_is_invisible(spark, root):
    """The commit point is the conditional-put of the manifest. A
    writer that crashed AFTER writing data files but BEFORE creating
    its manifest leaves only orphan data dirs: readers see the old
    snapshot, later commits proceed normally, and vacuum reclaims the
    orphans."""
    t = _table(spark, root, [(1, 10.0, 1)])
    v = t.current_version()
    # Simulate the crash: data files durable, no manifest claims them.
    orphan_src = spark.createDataFrame(
        [(9, 99.0, 9)], "key bigint, price double, version int"
    )
    (orphan_dir,) = t._write_one_entry(orphan_src)
    assert t.current_version() == v
    assert _rows(t.read()) == [(1, 10.0, 1)]
    # Later commits are unaffected and claim the next version.
    src = spark.createDataFrame([(2, 20.0, 1)], "key bigint, price double, version int")
    new_v = t.merge_into(src, ["key"])
    assert new_v == v + 1
    assert _rows(t.read()) == [(1, 10.0, 1), (2, 20.0, 1)]
    # Vacuum reclaims the orphan data dir (no manifest references it).
    removed = t.vacuum(retain_last=10)
    assert orphan_dir in removed
    assert _rows(t.read()) == [(1, 10.0, 1), (2, 20.0, 1)]


def test_copy_on_write_prunes_untouched_files(spark, root):
    """A merge touching keys in one data file must carry the other
    file(s) into the new manifest unchanged - rewrite cost scales with
    affected data, not table size."""
    t = AcidParquetTable(spark, root)
    df1 = spark.createDataFrame([(i, 1.0, 1) for i in range(10)],
                                "key bigint, price double, version int")
    t.init(df1)
    # Second commit adds a second data directory (append-style merge of
    # brand-new keys rewrites nothing, only inserts).
    df2 = spark.createDataFrame([(i, 2.0, 1) for i in range(100, 110)],
                                "key bigint, price double, version int")
    t.merge_into(df2, ["key"])
    m2 = t._manifest(t.current_version())
    assert len(m2["files"]) == 2  # original dir untouched + new inserts dir

    # Now update ONLY keys in the second dir: dir 1 must be carried over.
    src = spark.createDataFrame([(105, 9.9, 2)], "key bigint, price double, version int")
    t.merge_into(src, ["key"])
    m3 = t._manifest(t.current_version())
    carried = set(m2["files"]) & set(m3["files"])
    assert len(carried) == 1          # exactly the untouched dir survived
    assert len(m3["files"]) == 2      # untouched + one rewritten dir
    got = {r["key"]: r["price"] for r in t.read().collect()}
    assert got[105] == 9.9 and got[0] == 1.0 and len(got) == 20


def test_vacuum_reclaims_unreferenced_files(spark, root):
    t = _table(spark, root, [(1, 10.0, 1)])
    for i in range(4):
        src = spark.createDataFrame([(1, float(i), i + 2)],
                                    "key bigint, price double, version int")
        t.merge_into(src, ["key"])
    data_root = os.path.join(root, "data")
    before = len(os.listdir(data_root))
    removed = t.vacuum(retain_last=2)
    after = len(os.listdir(data_root))
    assert removed and after < before
    # Current snapshot still reads fine after vacuum.
    assert {r["price"] for r in t.read().collect()} == {3.0}


# --------------------------------------------------------------------------
# Column statistics + file skipping
# --------------------------------------------------------------------------


def _two_range_table(spark, root):
    """Two data dirs with disjoint key ranges: [0,9] and [100,109]."""
    t = AcidParquetTable(spark, root)
    t.init(spark.createDataFrame([(i, 1.0, 1) for i in range(10)],
                                 "key bigint, price double, version int"))
    t.merge_into(
        spark.createDataFrame([(i, 2.0, 1) for i in range(100, 110)],
                              "key bigint, price double, version int"),
        ["key"],
    )
    return t


def test_manifest_records_column_stats(spark, root):
    t = _two_range_table(spark, root)
    m = t._manifest(t.current_version())
    assert set(m["stats"]) == set(m["files"])
    ranges = sorted(tuple(s["key"]) for s in m["stats"].values())
    assert ranges == [(0, 9), (100, 109)]


def test_read_where_prunes_files_and_matches_full_scan(spark, root):
    t = _two_range_table(spark, root)
    # Planning: only the [100,109] dir may match key >= 50.
    cand = t.candidate_files("key", lo=50)
    assert len(cand) == 1
    # Correctness: pruned read == full read + filter, row for row.
    pruned = sorted(tuple(r) for r in t.read_where("key", lo=50).collect())
    full = sorted(tuple(r)
                  for r in t.read().filter(F.col("key") >= 50).collect())
    assert pruned == full and len(pruned) == 10
    # Unbounded read_where keeps everything.
    assert len(t.candidate_files("key")) == 2


def test_read_where_without_stats_is_sound(spark, root):
    """Manifests written before stats existed (or columns without
    stats) must never be pruned - skipping is an optimization, not a
    correctness dependency."""
    import json

    t = _two_range_table(spark, root)
    mp = t._manifest_path(t.current_version())
    m = json.load(open(mp))
    m["stats"] = {}
    json.dump(m, open(mp, "w"))
    assert len(t.candidate_files("key", lo=50)) == 2
    assert len(t.read_where("key", lo=50).collect()) == 10


def test_merge_probe_uses_stats_pruning(spark, root):
    """A merge whose source keys fall wholly in one dir's range must
    carry the other dir over - now provable even without reading it:
    the stats prune it from the PROBE, not just the rewrite."""
    t = _two_range_table(spark, root)
    m_before = t._manifest(t.current_version())
    src = spark.createDataFrame([(105, 9.9, 2)],
                                "key bigint, price double, version int")
    t.merge_into(src, ["key"])
    m_after = t._manifest(t.current_version())
    carried = set(m_before["files"]) & set(m_after["files"])
    assert len(carried) == 1
    # The carried dir kept its stats verbatim; the rewritten dir got
    # fresh ones covering the updated range.
    (carried_dir,) = carried
    assert m_after["stats"][carried_dir] == m_before["stats"][carried_dir]
    ranges = sorted(tuple(s["key"]) for s in m_after["stats"].values())
    assert ranges == [(0, 9), (100, 109)]
    got = {r["key"]: r["price"] for r in t.read().collect()}
    assert got[105] == 9.9 and len(got) == 20


def test_conditional_put_single_winner_under_race(spark, root):
    """N threads race to commit on the SAME base: exactly one manifest
    per version may ever exist, every loser gets CommitConflict, and
    retrying on the fresh snapshot serializes all writers."""
    import threading

    t = _table(spark, root, [(1, 10.0, 1)])
    schema = t.read().schema
    base = t.current_version()
    files = t._manifest(base)["files"]
    outcomes: list[str] = []
    lock = threading.Lock()

    def writer(i: int) -> None:
        try:
            t._commit(base, files, schema)
            with lock:
                outcomes.append("win")
        except CommitConflict:
            with lock:
                outcomes.append("conflict")

    threads = [threading.Thread(target=writer, args=(i,)) for i in range(8)]
    for th in threads:
        th.start()
    for th in threads:
        th.join()
    assert sorted(outcomes) == ["conflict"] * 7 + ["win"]
    assert t.current_version() == base + 1
    # Losers retry on the fresh snapshot and serialize cleanly.
    v = t.current_version()
    for _ in range(3):
        v = t._commit(v, files, schema)
    assert t.current_version() == base + 4


SF_DIR = "/root/testdata/sf0.001"


def test_optimize_preserves_contents_and_bumps_version(spark, tmp_path):
    from cassandra_elasticsearch_sync_spark.sources.acid import AcidParquetTable
    from cassandra_elasticsearch_sync_spark.catalog import load_table

    o = load_table(spark, SF_DIR, "orders").select(
        "o_orderkey", "o_custkey", "o_totalprice")
    t = AcidParquetTable(spark, str(tmp_path / "t"))
    v1 = t.init(o)
    before = sorted(map(tuple, t.read().collect()))
    v2 = t.optimize(["o_orderkey", "o_custkey"], n_slices=4, zorder=True)
    assert v2 == v1 + 1
    assert sorted(map(tuple, t.read().collect())) == before
    # time travel to the pre-optimize snapshot still works
    assert sorted(map(tuple, t.read(version=v1).collect())) == before


def test_zorder_prunes_both_dimensions_linear_only_leading(spark, tmp_path):
    from pyspark.sql import functions as F

    from cassandra_elasticsearch_sync_spark.sources.acid import AcidParquetTable
    from cassandra_elasticsearch_sync_spark.catalog import load_table

    o = load_table(spark, "/root/testdata/sf0.01", "orders").select(
        "o_orderkey", "o_custkey", "o_totalprice")
    t = AcidParquetTable(spark, str(tmp_path / "t"))
    t.init(o)

    t.optimize(["o_orderkey", "o_custkey"], n_slices=8, zorder=True)
    total = len(t._manifest(t.current_version())["files"])
    z_ck = len(t.candidate_files("o_custkey", lo=100, hi=200))
    z_ok = len(t.candidate_files("o_orderkey", lo=1000, hi=2000))
    assert z_ck < total, "z-order must prune the second dimension"
    assert z_ok < total, "z-order must prune the first dimension"

    t.optimize(["o_orderkey", "o_custkey"], n_slices=8, zorder=False)
    lin_ck = len(t.candidate_files("o_custkey", lo=100, hi=200))
    lin_ok = len(t.candidate_files("o_orderkey", lo=1000, hi=2000))
    assert lin_ok < total, "linear clustering must prune its leading column"
    assert lin_ck == total, (
        "linear clustering cannot serve the non-leading column - if this "
        "starts passing the comparison below is vacuous")
    assert z_ck < lin_ck, "the z-order advantage on the 2nd column"


def test_add_columns_is_metadata_only_and_time_travel_keeps_old_schema(
        spark, tmp_path):
    from pyspark.sql.types import IntegerType, StructField

    from cassandra_elasticsearch_sync_spark.sources.acid import AcidParquetTable

    t = AcidParquetTable(spark, str(tmp_path / "t"))
    v1 = t.init(spark.createDataFrame(
        [(1, 10.0), (2, 20.0)], "key bigint, price double"))
    files_before = t._manifest(v1)["files"]
    v2 = t.add_columns([StructField("qty", IntegerType())])
    # same data files - nothing was rewritten
    assert t._manifest(v2)["files"] == files_before
    # widened read: NULLs for the new column
    rows = {r.key: (r.price, r.qty) for r in t.read().collect()}
    assert rows == {1: (10.0, None), 2: (20.0, None)}
    # time travel keeps the narrow schema
    assert t.read(version=v1).columns == ["key", "price"]
    # duplicate add rejected
    import pytest as _pytest
    with _pytest.raises(ValueError, match="already exists"):
        t.add_columns([StructField("qty", IntegerType())])
    # a merge after evolution writes the column for touched rows only
    src = spark.createDataFrame([(2, 21.0, 5), (3, 30.0, 7)],
                                "key bigint, price double, qty int")
    t.merge_into(src, ["key"])
    rows = {r.key: (r.price, r.qty) for r in t.read().collect()}
    assert rows == {1: (10.0, None), 2: (21.0, 5), 3: (30.0, 7)}


# -- DELETE / UPDATE (copy-on-write) ---------------------------------------


def test_delete_where_rewrites_only_affected_files(spark, root):
    t = AcidParquetTable(spark, root)
    t.init(spark.createDataFrame(
        [(k, float(k), 1) for k in range(0, 50)],
        "key bigint, price double, version int"))
    t.merge_into(spark.createDataFrame(
        [(k, float(k), 1) for k in range(50, 100)],
        "key bigint, price double, version int"), ["key"])  # second entry, disjoint keys
    before = t._manifest(t.current_version())["files"]
    t.delete_where(F.col("key") >= 90)
    after = t._manifest(t.current_version())["files"]
    # the low-key entry is carried byte-for-byte
    assert set(before) & set(after), "untouched entry should carry over"
    assert _rows(t.read()) == [(k, float(k), 1) for k in range(0, 90)]


def test_delete_where_null_predicate_keeps_row(spark, root):
    t = AcidParquetTable(spark, root)
    t.init(spark.createDataFrame(
        [(1, 10.0, 1), (2, None, 1), (3, 30.0, 1)],
        "key bigint, price double, version int"))
    t.delete_where(F.col("price") > 15.0)  # NULL > 15 is NULL -> keep
    assert _rows(t.read()) == [(1, 10.0, 1), (2, None, 1)]


def test_update_where_touches_only_matching_rows(spark, root):
    t = _table(spark, root, [(1, 10.0, 1), (2, 20.0, 1), (3, 30.0, 1)])
    t.update_where(F.col("key") == 2,
                   {"price": F.col("price") * 2, "version": F.lit(7)})
    assert _rows(t.read()) == [(1, 10.0, 1), (2, 40.0, 7), (3, 30.0, 1)]


# -- merge-on-read deletes -------------------------------------------------


def test_mor_delete_writes_no_data_files(spark, root):
    t = _table(spark, root, [(1, 10.0, 1), (2, 20.0, 1), (3, 30.0, 1)])
    before = t._manifest(t.current_version())["files"]
    dk = spark.createDataFrame([(2,)], "key bigint")
    t.delete_keys_mor(dk, ["key"])
    m = t._manifest(t.current_version())
    assert m["files"] == before, "MoR delete must not rewrite data files"
    assert len(m["deletes"]) == 1
    assert _rows(t.read()) == [(1, 10.0, 1), (3, 30.0, 1)]


def test_mor_reinsert_after_delete_survives(spark, root):
    """Sequence-number scoping: a delete file applies only to data
    entries from EARLIER commits, so re-inserting a deleted key via a
    later MERGE is visible (the Iceberg v2 rule)."""
    t = _table(spark, root, [(1, 10.0, 1), (2, 20.0, 1)])
    t.delete_keys_mor(spark.createDataFrame([(2,)], "key bigint"), ["key"])
    assert _rows(t.read()) == [(1, 10.0, 1)]
    t.merge_into(spark.createDataFrame([(2, 21.0, 5)],
                                       "key bigint, price double, version int"),
                 ["key"])
    assert _rows(t.read()) == [(1, 10.0, 1), (2, 21.0, 5)]


def test_compact_deletes_materializes_and_prunes(spark, root):
    t = AcidParquetTable(spark, root)
    t.init(spark.createDataFrame(
        [(k, float(k), 1) for k in range(0, 50)],
        "key bigint, price double, version int"))
    t.merge_into(spark.createDataFrame(
        [(k, float(k), 1) for k in range(100, 150)],
        "key bigint, price double, version int"), ["key"])
    t.delete_keys_mor(
        spark.createDataFrame([(k,) for k in range(100, 110)], "key bigint"),
        ["key"])
    logical = _rows(t.read())
    before = set(t._manifest(t.current_version())["files"])
    t.compact_deletes()
    m = t._manifest(t.current_version())
    assert m["deletes"] == []
    # the low-key entry's stats cannot intersect [100,149] -> carried
    assert before & set(m["files"]), "stats-unaffected entry should carry over"
    assert _rows(t.read()) == logical
    # compaction of an already-clean table is a no-op commit-wise
    v = t.current_version()
    assert t.compact_deletes() == v


def test_mor_delete_read_where_applies_deletes(spark, root):
    t = _table(spark, root, [(1, 10.0, 1), (2, 20.0, 1), (3, 30.0, 1)])
    t.delete_keys_mor(spark.createDataFrame([(3,)], "key bigint"), ["key"])
    got = _rows(t.read_where("key", lo=2))
    assert got == [(2, 20.0, 1)]


def test_vacuum_retains_referenced_delete_files(spark, root):
    t = _table(spark, root, [(1, 10.0, 1), (2, 20.0, 1)])
    t.delete_keys_mor(spark.createDataFrame([(1,)], "key bigint"), ["key"])
    t.merge_into(spark.createDataFrame([(9, 90.0, 1)],
                                       "key bigint, price double, version int"),
                 ["key"])
    t.vacuum(retain_last=2)
    # delete file still referenced by both retained manifests
    assert _rows(t.read()) == [(2, 20.0, 1), (9, 90.0, 1)]


# -- timestamp time travel -------------------------------------------------


def test_read_as_of_timestamp(spark, root):
    t = _table(spark, root, [(1, 10.0, 1)])
    ts_v1 = t._manifest(1)["committed_at"]
    t.merge_into(spark.createDataFrame([(2, 20.0, 1)],
                                       "key bigint, price double, version int"),
                 ["key"])
    ts_v2 = t._manifest(2)["committed_at"]
    assert _rows(t.read_as_of(ts_v1)) == [(1, 10.0, 1)]
    assert _rows(t.read_as_of(ts_v2 + 1.0)) == [(1, 10.0, 1), (2, 20.0, 1)]
    with pytest.raises(ValueError):
        t.read_as_of(ts_v1 - 10.0)


def test_change_feed_classifies_and_skips_unchanged(spark, root):
    t = _table(spark, root, [(1, 10.0, 1), (2, 20.0, 1), (3, 30.0, 1)])
    v1 = t.current_version()
    v2 = t.merge_into(
        spark.createDataFrame(
            [(2, 99.0, 2), (4, 40.0, 1), (3, 30.0, 1)],
            "key bigint, price double, version int"),
        ["key"],
        delete_condition=F.col("src.key") == 3,
    )
    feed = {r["key"]: r["change_type"]
            for r in t.changes(["key"], v1, v2).collect()}
    # key 1 untouched -> absent; 2 updated; 3 deleted; 4 inserted
    assert feed == {2: "update", 3: "delete", 4: "insert"}


# -- branches: write-audit-publish ------------------------------------------


def test_wap_branch_isolation_and_publish(spark, root):
    t = _table(spark, root, [(1, 10.0, 1), (2, 20.0, 1)])
    t.merge_branch("audit", spark.createDataFrame(
        [(2, 99.0, 2), (3, 30.0, 1)], "key bigint, price double, version int"),
        ["key"])
    # main is untouched while the branch carries the staged merge
    assert _rows(t.read()) == [(1, 10.0, 1), (2, 20.0, 1)]
    assert _rows(t.read_branch("audit")) == [
        (1, 10.0, 1), (2, 99.0, 2), (3, 30.0, 1)]
    # audit passes -> publish promotes atomically
    t.publish("audit")
    assert _rows(t.read()) == [(1, 10.0, 1), (2, 99.0, 2), (3, 30.0, 1)]
    # time travel still sees the pre-publish main
    assert _rows(t.read(version=1)) == [(1, 10.0, 1), (2, 20.0, 1)]


def test_wap_publish_conflicts_with_concurrent_main_write(spark, root):
    t = _table(spark, root, [(1, 10.0, 1)])
    t.merge_branch("audit", spark.createDataFrame(
        [(2, 20.0, 1)], "key bigint, price double, version int"), ["key"])
    # a concurrent writer advances main after the audit started
    t.merge_into(spark.createDataFrame(
        [(9, 90.0, 1)], "key bigint, price double, version int"), ["key"])
    with pytest.raises(CommitConflict):
        t.publish("audit")
    # re-stage on the fresh base and publish cleanly
    t.merge_branch("audit2", spark.createDataFrame(
        [(2, 20.0, 1)], "key bigint, price double, version int"), ["key"])
    t.publish("audit2")
    assert _rows(t.read()) == [(1, 10.0, 1), (2, 20.0, 1), (9, 90.0, 1)]


def test_wap_branch_chains_and_vacuum_keeps_staged_files(spark, root):
    t = _table(spark, root, [(1, 10.0, 1)])
    t.merge_branch("b", spark.createDataFrame(
        [(2, 20.0, 1)], "key bigint, price double, version int"), ["key"])
    t.merge_branch("b", spark.createDataFrame(
        [(3, 30.0, 1)], "key bigint, price double, version int"), ["key"])
    assert t.branch_head("b") == 2
    # advance main twice so vacuum has something to prune, then vacuum
    t.merge_into(spark.createDataFrame(
        [(8, 80.0, 1)], "key bigint, price double, version int"), ["key"])
    t.merge_into(spark.createDataFrame(
        [(9, 90.0, 1)], "key bigint, price double, version int"), ["key"])
    t.vacuum(retain_last=2)
    assert _rows(t.read_branch("b")) == [
        (1, 10.0, 1), (2, 20.0, 1), (3, 30.0, 1)]


def test_mor_delete_applies_after_branch_publish(spark, root):
    """Regression: seq stamps must exceed every EXISTING entry seq, not
    just version+1. A branch with >=2 commits stamps entry seqs past
    main's version counter; after publish, a version-derived delete seq
    would be <= those entries' seq, so _read_entries would silently
    skip the delete (and compact_deletes would then drop the delete
    file without applying it - permanent loss)."""
    t = _table(spark, root, [(1, 10.0, 1), (2, 20.0, 1)])
    # two branch commits -> entry seqs on the branch reach >= 2
    t.merge_branch("b", spark.createDataFrame(
        [(3, 30.0, 1)], "key bigint, price double, version int"), ["key"])
    t.merge_branch("b", spark.createDataFrame(
        [(4, 40.0, 1)], "key bigint, price double, version int"), ["key"])
    t.publish("b")  # main v2 now carries entries with seq > 2
    del_keys = spark.createDataFrame([(3,), (1,)], "key bigint")
    t.delete_keys_mor(del_keys, ["key"])
    assert _rows(t.read()) == [(2, 20.0, 1), (4, 40.0, 1)]
    # compaction must materialize (not lose) the delete
    t.compact_deletes()
    assert _rows(t.read()) == [(2, 20.0, 1), (4, 40.0, 1)]


def test_rewrite_where_after_branch_publish_keeps_mor_scoping(spark, root):
    """update_where's fresh entries must also outrank published-branch
    seqs, so a LATER MoR delete still applies to them."""
    t = _table(spark, root, [(1, 10.0, 1), (2, 20.0, 1)])
    t.merge_branch("b", spark.createDataFrame(
        [(3, 30.0, 1)], "key bigint, price double, version int"), ["key"])
    t.merge_branch("b", spark.createDataFrame(
        [(4, 40.0, 1)], "key bigint, price double, version int"), ["key"])
    t.publish("b")
    t.update_where(F.col("key") == 2, {"price": F.lit(99.0)})
    t.delete_keys_mor(spark.createDataFrame([(2,)], "key bigint"), ["key"])
    assert _rows(t.read()) == [(1, 10.0, 1), (3, 30.0, 1), (4, 40.0, 1)]


def test_change_feed_reports_new_column_only_updates(spark, root):
    """Schema evolution + CDF: a row whose only change is in a newly
    added column must surface as an update (Delta CDF contract)."""
    from pyspark.sql.types import LongType, StructField

    t = _table(spark, root, [(1, 10.0, 1), (2, 20.0, 1)])
    v1 = t.current_version()
    t.add_columns([StructField("qty", LongType())])
    src = spark.createDataFrame(
        [(1, 10.0, 1, 5)], "key bigint, price double, version int, qty bigint")
    v3 = t.merge_into(src, ["key"])
    feed = t.changes(["key"], v1, v3)
    rows = {r["key"]: r for r in feed.collect()}
    assert set(rows) == {1}, "only key 1 changed (qty NULL -> 5)"
    assert rows[1]["change_type"] == "update"
    assert rows[1]["qty_new"] == 5


def test_vacuum_pinned_reader_contract(spark, root):
    """The documented vacuum-vs-reader race (acid.py vacuum docstring):
    a reader pinned to a RETAINED snapshot keeps working through a
    vacuum; a reader pinned to a snapshot older than the retention
    window fails FAST on its next action (missing files) rather than
    silently returning partial data - the Delta VACUUM contract."""
    t = _table(spark, root, [(1, 10.0, 1), (2, 20.0, 1)])
    # three more commits, each rewriting key 1's file
    for v in (2, 3, 4):
        t.merge_into(spark.createDataFrame(
            [(1, 10.0 + v, v)], "key bigint, price double, version int"),
            ["key"])
    old_reader = t.read(version=1)       # file list resolved NOW
    kept_reader = t.read(version=4)
    assert old_reader.count() == 2       # works pre-vacuum
    removed = t.vacuum(retain_last=2)    # keeps v3, v4
    assert removed, "vacuum should reclaim v1/v2-only files"
    # retained snapshot: still fully readable after vacuum
    assert kept_reader.count() == 2
    assert _rows(t.read(version=3))      # version time travel inside window
    # vacuumed snapshot: the pinned plan must FAIL, not return less
    with pytest.raises(Exception):
        # fresh action on the pinned plan hits the deleted files
        old_reader.localCheckpoint(eager=True)
    # and re-resolving the old version fails at manifest lookup
    with pytest.raises(Exception):
        t.read(version=1).count()


def test_maintenance_preserves_clustered_layout(spark, root):
    """A merge/compact on a range-clustered table must come back as
    clustered entries with stats, not one merged blob - otherwise the
    first maintenance cycle destroys the manifest's pruning
    granularity for every later read and merge."""
    t = AcidParquetTable(spark, root)
    df = spark.createDataFrame(
        [(i, float(i), 1) for i in range(4000)],
        "key bigint, price double, version int")
    t.init_clustered(df, ["key"], n_slices=8)
    assert len(t._manifest(t.current_version())["files"]) == 8
    # merge touching every slice (scattered keys)
    src = spark.createDataFrame(
        [(i, -1.0, 2) for i in range(0, 4000, 100)],
        "key bigint, price double, version int")
    t.merge_into(src, ["key"])
    m = t._manifest(t.current_version())
    assert len(m["files"]) == 8, "scattered merge must stay 8 clustered entries"
    assert all(m["stats"].get(d, {}).get("key") for d in m["files"])
    # MoR delete + compact: layout survives the compaction rewrite too
    t.delete_keys_mor(spark.createDataFrame(
        [(i,) for i in range(0, 4000, 500)], "key bigint"), ["key"])
    t.compact_deletes()
    m2 = t._manifest(t.current_version())
    assert len(m2["files"]) == 8
    assert t.read().count() == 4000 - 8
    # and a narrow merge still prunes: only 1 of 8 entries rewritten
    before = set(m2["files"])
    t.merge_into(spark.createDataFrame(
        [(3, -2.0, 3)], "key bigint, price double, version int"), ["key"])
    after = t._manifest(t.current_version())["files"]
    assert len(set(after) & before) >= 7


def test_init_clustered_with_caller_measured_bounds(spark, root):
    """``slice_uppers`` (round 12: the sync engine's quantile ladder,
    measured in its own materializing aggregate) slices the bootstrap
    deterministically, skipping repartitionByRange's sampling pass.
    Same rows, same entry count, stats-carrying entries, and narrow
    merges still prune to one slice."""
    t = AcidParquetTable(spark, root)
    df = spark.createDataFrame(
        [(i, float(i), 1) for i in range(4000)],
        "key bigint, price double, version int")
    uppers = [999, 1999, 2999, None]
    t.init_clustered(df, ["key"], n_slices=4, slice_uppers=uppers)
    m = t._manifest(t.current_version())
    assert len(m["files"]) == 4
    assert all(m["stats"].get(d, {}).get("key") for d in m["files"])
    # slice bounds are exactly the declared uppers, not samples
    his = sorted(m["stats"][d]["key"][1] for d in m["files"])
    assert his == [999, 1999, 2999, 3999]
    assert sorted(tuple(r) for r in t.read().collect()) == [
        (i, float(i), 1) for i in range(4000)]
    before = set(m["files"])
    t.merge_into(spark.createDataFrame(
        [(5, -1.0, 2)], "key bigint, price double, version int"), ["key"])
    after = t._manifest(t.current_version())["files"]
    assert len(set(after) & before) == 3, "narrow merge must prune to 1 slice"


def test_init_clustered_bad_bounds_fall_back_to_sampling(spark, root):
    """A ladder of the wrong length is ignored (sampled write), never
    a crash or a mis-sliced table."""
    t = AcidParquetTable(spark, root)
    df = spark.createDataFrame(
        [(i, float(i), 1) for i in range(100)],
        "key bigint, price double, version int")
    t.init_clustered(df, ["key"], n_slices=4, slice_uppers=[50, None])
    m = t._manifest(t.current_version())
    assert len(m["files"]) == 4
    assert t.read().count() == 100


def test_replace_where_swaps_slice_atomically(spark, root):
    t = _table(spark, root, [(1, 10.0, 1), (2, 20.0, 1), (3, 30.0, 2)])
    pre = t.read()  # snapshot pinned before the replace
    v = t.replace_where(
        F.col("version") == 1,
        spark.createDataFrame([(7, 70.0, 1), (8, 80.0, 1)],
                              "key bigint, price double, version int"))
    assert _rows(t.read()) == [(3, 30.0, 2), (7, 70.0, 1), (8, 80.0, 1)]
    # snapshot isolation: the pinned reader still sees the old slice
    assert _rows(pre) == [(1, 10.0, 1), (2, 20.0, 1), (3, 30.0, 2)]
    assert v == 2


def test_replace_where_rejects_out_of_slice_rows(spark, root):
    t = _table(spark, root, [(1, 10.0, 1), (2, 20.0, 2)])
    bad = spark.createDataFrame([(9, 90.0, 2)],  # version 2 != slice 1
                                "key bigint, price double, version int")
    with pytest.raises(Exception):
        t.replace_where(F.col("version") == 1, bad)
    # failed commit must not have advanced the table
    assert _rows(t.read()) == [(1, 10.0, 1), (2, 20.0, 2)]


def test_replace_where_prunes_untouched_entries(spark, root):
    t = AcidParquetTable(spark, root)
    df = spark.createDataFrame(
        [(i, float(i), 1 if i < 2000 else 2) for i in range(4000)],
        "key bigint, price double, version int")
    t.init_clustered(df, ["key"], n_slices=8)
    before = set(t._manifest(t.current_version())["files"])
    t.replace_where(
        F.col("key") < 500,
        spark.createDataFrame([(0, -1.0, 1)],
                              "key bigint, price double, version int"))
    after = t._manifest(t.current_version())["files"]
    # repartitionByRange samples boundaries, so keys<500 may straddle
    # two slices - but most of the 8 entries must carry over verbatim
    assert len(set(after) & before) >= 6, "keys<500 live in 1-2 of 8 slices"


def test_compact_small_packs_micro_commits(spark, root):
    """CDC-style ingest: many tiny append commits -> compact_small
    coalesces them into one entry while a large entry carries over
    untouched; contents identical before and after."""
    t = _table(spark, root, [(i, float(i), 1) for i in range(1000)])
    big = t._manifest(t.current_version())["files"][0]
    # 5 micro-merges, each landing a fresh tiny entry
    for k in range(5):
        t.merge_into(spark.createDataFrame(
            [(10_000 + k, 1.0, 1)], "key bigint, price double, version int"),
            ["key"])
    m = t._manifest(t.current_version())
    assert len(m["files"]) >= 6
    before_rows = _rows(t.read())
    t.compact_small(target_bytes=64 << 20)
    m2 = t._manifest(t.current_version())
    assert len(m2["files"]) < len(m["files"])
    assert _rows(t.read()) == before_rows
    # threshold below every entry size -> no-op commit (same version)
    v = t.current_version()
    assert t.compact_small(target_bytes=1) == v


def test_restore_is_metadata_only_and_preserves_history(spark, root):
    """RESTORE re-points at the old snapshot's files (zero rewritten
    bytes), content round-trips exactly, and BOTH the bad head and the
    restore land in history (time travel still reads each)."""
    t = _table(spark, root, [(i, float(i), 1) for i in range(100)])
    v1 = t.current_version()
    t.merge_into(spark.createDataFrame(
        [(5, -999.0, 2), (200, 1.0, 2)],
        "key bigint, price double, version int"), ["key"])
    v2 = t.current_version()
    assert _rows(t.read()) != _rows(t.read(version=v1))
    v3 = t.restore(v1)
    assert v3 == v2 + 1
    # content identical to v1, and no new data directory was written
    assert _rows(t.read()) == _rows(t.read(version=v1))
    assert set(t._manifest(v3)["files"]) == set(t._manifest(v1)["files"])
    # history preserved: the bad head is still auditable
    assert _rows(t.read(version=v2)) != _rows(t.read(version=v1))
    # writes continue normally on top of the restore
    t.merge_into(spark.createDataFrame(
        [(7, 700.0, 3)], "key bigint, price double, version int"), ["key"])
    got = {r["key"]: r["price"] for r in t.read().collect()}
    assert got[7] == 700.0 and got[5] == 5.0 and 200 not in got


def test_restore_refuses_vacuumed_target(spark, root):
    t = _table(spark, root, [(1, 1.0, 1)])
    for v in range(2, 6):
        t.merge_into(spark.createDataFrame(
            [(v, float(v), v)], "key bigint, price double, version int"),
            ["key"])
    t.vacuum(retain_last=2)
    with pytest.raises(ValueError, match="vacuum"):
        t.restore(1)


def test_check_constraint_rejects_violating_merge_atomically(spark, root):
    t = _table(spark, root, [(1, 10.0, 1), (2, 20.0, 1)])
    t.add_constraint("price_positive", "price > 0")
    v = t.current_version()
    with pytest.raises(Exception, match="price_positive"):
        t.merge_into(spark.createDataFrame(
            [(3, -5.0, 2)], "key bigint, price double, version int"),
            ["key"])
    # the failed write committed nothing
    assert t.current_version() == v
    assert _rows(t.read()) == [(1, 10.0, 1), (2, 20.0, 1)]
    # a clean merge (including an update of an existing key) passes
    t.merge_into(spark.createDataFrame(
        [(2, 25.0, 2), (3, 30.0, 2)],
        "key bigint, price double, version int"), ["key"])
    assert len(_rows(t.read())) == 3


def test_check_constraint_null_passes_sql_semantics(spark, root):
    """SQL CHECK rule: only FALSE violates - NULL passes (Delta's
    documented behavior)."""
    t = _table(spark, root, [(1, 10.0, 1)])
    t.add_constraint("price_positive", "price > 0")
    t.merge_into(spark.createDataFrame(
        [(2, None, 2)], "key bigint, price double, version int"), ["key"])
    assert len(_rows(t.read())) == 2


def test_add_constraint_validates_existing_data(spark, root):
    t = _table(spark, root, [(1, -1.0, 1)])
    with pytest.raises(ValueError, match="existing rows violate"):
        t.add_constraint("price_positive", "price > 0")
    # and a passing one registers fine, then drops
    t.add_constraint("key_positive", "key >= 0")
    t.drop_constraint("key_positive")
    assert t._constraints() == {}


def test_check_constraint_skips_mor_delete_key_files(spark, root):
    """A constraint on a non-key column must not break MoR delete-file
    commits (the DELETE FILE carries only key columns)."""
    t = _table(spark, root, [(i, float(i + 1), 1) for i in range(10)])
    t.add_constraint("price_positive", "price > 0")
    t.delete_keys_mor(spark.createDataFrame([(3,), (4,)], "key bigint"),
                      ["key"])
    assert len(_rows(t.read())) == 8
    t.compact_deletes()
    assert len(_rows(t.read())) == 8


def test_shallow_clone_zero_copy_and_independent(spark, root):
    t = _table(spark, root, [(i, float(i), 1) for i in range(200)])
    clone_root = root + "_clone"
    try:
        c = t.shallow_clone(clone_root)
        # metadata-only: clone v1 references the SOURCE's data dirs
        assert set(c._manifest(1)["files"]) == set(
            t._manifest(t.current_version())["files"])
        assert _rows(c.read()) == _rows(t.read())
        # writes to the clone: source untouched, clone diverges
        c.merge_into(spark.createDataFrame(
            [(5, -5.0, 2), (900, 9.0, 2)],
            "key bigint, price double, version int"), ["key"])
        got_c = {r["key"]: r["price"] for r in c.read().collect()}
        got_t = {r["key"]: r["price"] for r in t.read().collect()}
        assert got_c[5] == -5.0 and got_c[900] == 9.0
        assert got_t[5] == 5.0 and 900 not in got_t
        # writes to the source: clone keeps its snapshot
        t.merge_into(spark.createDataFrame(
            [(7, -7.0, 2)], "key bigint, price double, version int"),
            ["key"])
        assert {r["key"]: r["price"] for r in c.read().collect()}[7] == 7.0
        # refuse cloning onto an existing table
        with pytest.raises(ValueError, match="already has commits"):
            t.shallow_clone(clone_root)
    finally:
        shutil.rmtree(clone_root, ignore_errors=True)


def test_txn_version_makes_replayed_merge_a_noop(spark, root):
    """Delta txnAppId/txnVersion idempotence: a replayed batch (same
    app, same version) is a no-op even when the merge itself is NOT
    content-idempotent (counter increment); a later version applies;
    the ledger survives maintenance commits."""
    t = _table(spark, root, [(1, 10.0, 1)])
    inc = {"price": F.col("tgt.price") + F.col("src.price")}

    def batch(v):
        return spark.createDataFrame(
            [(1, 5.0, v)], "key bigint, price double, version int")

    t.merge_into(batch(2), ["key"], assignments=inc,
                 txn_app_id="loader", txn_version=1)
    assert _rows(t.read()) == [(1, 15.0, 2)]
    # replay of version 1: no-op, version unchanged
    v = t.current_version()
    t.merge_into(batch(2), ["key"], assignments=inc,
                 txn_app_id="loader", txn_version=1)
    assert t.current_version() == v
    assert _rows(t.read()) == [(1, 15.0, 2)]
    # an OLDER version is also refused (out-of-order retry)
    t.merge_into(batch(2), ["key"], assignments=inc,
                 txn_app_id="loader", txn_version=0)
    assert _rows(t.read()) == [(1, 15.0, 2)]
    # maintenance must not lose the ledger
    t.compact_small(target_bytes=64 << 20)
    t.merge_into(batch(2), ["key"], assignments=inc,
                 txn_app_id="loader", txn_version=1)
    assert _rows(t.read()) == [(1, 15.0, 2)]
    # the next version applies; an unrelated app id is independent
    t.merge_into(batch(3), ["key"], assignments=inc,
                 txn_app_id="loader", txn_version=2)
    assert _rows(t.read()) == [(1, 20.0, 3)]
    t.merge_into(batch(4), ["key"], assignments=inc,
                 txn_app_id="other", txn_version=1)
    assert _rows(t.read()) == [(1, 25.0, 4)]


def test_check_constraint_applies_to_clustered_bootstrap(spark, root):
    """The clustered writer bypasses _write_one_entry; constraints
    must still gate it (init_clustered is the bootstrap everyone
    uses)."""
    t = AcidParquetTable(spark, root)
    t.init(spark.createDataFrame([(1, 1.0, 1)],
                                 "key bigint, price double, version int"))
    t.add_constraint("price_positive", "price > 0")
    bad = spark.createDataFrame(
        [(i, float(i) - 5.0, 1) for i in range(10)],
        "key bigint, price double, version int")
    v = t.current_version()
    with pytest.raises(Exception, match="price_positive"):
        t.init_clustered(bad, ["key"], n_slices=2)
    assert t.current_version() == v


def test_generated_column_fills_and_validates(spark, root):
    """Delta generated columns: omitted -> computed, NULL -> computed,
    wrong supplied value -> write fails atomically."""
    t = AcidParquetTable(spark, root)
    t.init(spark.createDataFrame(
        [(1, 10.0, 100)], "key bigint, price double, cents bigint"))
    t.add_generated_column("cents", "CAST(price * 100 AS BIGINT)")
    # merge source omitting the generated column: filled
    t.merge_into(spark.createDataFrame(
        [(2, 2.5)], "key bigint, price double"
    ).withColumn("cents", F.lit(None).cast("bigint")), ["key"])
    got = {r["key"]: r["cents"] for r in t.read().collect()}
    assert got[2] == 250
    # a write that contradicts the definition fails, commits nothing
    v = t.current_version()
    with pytest.raises(Exception, match="generated column cents"):
        t.merge_into(spark.createDataFrame(
            [(3, 1.0, 999)], "key bigint, price double, cents bigint"),
            ["key"])
    assert t.current_version() == v
    # a consistent explicit value passes
    t.merge_into(spark.createDataFrame(
        [(3, 1.0, 100)], "key bigint, price double, cents bigint"), ["key"])
    assert {r["key"]: r["cents"] for r in t.read().collect()}[3] == 100
    # declaring for a column not in the schema is refused
    with pytest.raises(ValueError, match="not in the table schema"):
        t.add_generated_column("nope", "price * 2")


def test_probe_broadcasts_delta_sized_source(spark, root):
    """A delta-sized merge source keeps the broadcast fast path."""
    t = _table(spark, root, [(1, 10.0, 1), (2, 20.0, 1)])
    src = spark.createDataFrame(
        [(2, 99.0, 2)], "key bigint, price double, version int")
    with_file = t.read().withColumn("__f", F.input_file_name())
    plan = t._probe_semi_join(
        with_file, src.select("key").distinct(), src, ["key"]
    )._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan or "BroadcastExchange" in plan


def test_probe_backfill_sized_source_avoids_broadcast(spark, root,
                                                     monkeypatch):
    """Above the key-row cap the probe takes a shuffle semi-join: a
    full-table backfill at 100 TB must never broadcast its key set
    (VERDICT r4). Cap forced to 0 to simulate 'huge'."""
    t = _table(spark, root, [(1, 10.0, 1), (2, 20.0, 1)])
    src = spark.createDataFrame(
        [(1, 11.0, 2), (2, 22.0, 2), (3, 33.0, 2)],
        "key bigint, price double, version int")
    monkeypatch.setattr(AcidParquetTable, "BROADCAST_SOURCE_ROW_CAP", 0)
    with_file = t.read().withColumn("__f", F.input_file_name())
    plan = t._probe_semi_join(
        with_file, src.select("key").distinct(), src, ["key"]
    )._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" not in plan
    assert "BroadcastExchange" not in plan
    # end-to-end: the shuffle-probe merge is still correct
    t.merge_into(src, ["key"])
    assert _rows(t.read()) == [(1, 11.0, 2), (2, 22.0, 2), (3, 33.0, 2)]


def test_merge_with_caller_measured_source_stats(spark, root):
    """``source_stats=(rows, lo, hi)`` replaces the merge's own source
    pre-pass (round 12: the sync engine measures these in its cycle
    metrics job over the same materialized ship set). Same result,
    one fewer Spark job, and the stats still prune files: a merge
    whose key range misses an entry leaves that entry untouched.

    With AQE off this merge is 1 job: the full outer join's two
    shuffles are stages inside the write job."""
    t = _table(spark, root, [(1, 10.0, 1), (2, 20.0, 1), (3, 30.0, 1)])
    src = spark.createDataFrame(
        [(2, 99.0, 2), (4, 40.0, 2)], "key bigint, price double, version int")
    sc = spark.sparkContext
    old = spark.conf.get("spark.sql.adaptive.enabled", "true")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try:
        sc.setJobGroup("stats-merge", "stats-merge")
        t.merge_into(src, ["key"], assume_unique_keys=True,
                     source_stats=(2, 2, 4))
        sc.setJobGroup("idle", "idle")
        n_jobs = len(sc.statusTracker().getJobIdsForGroup("stats-merge"))
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", old)
    # no pre-pass aggregate job (round 12), and on a single-entry
    # table no semi-join file probe either (round 13: stats pruning
    # already reduced the candidate set to <=1 entry, which a probe
    # cannot shrink further in a way that changes the rewrite): the
    # write
    assert n_jobs == 1
    assert _rows(t.read()) == [
        (1, 10.0, 1), (2, 99.0, 2), (3, 30.0, 1), (4, 40.0, 2)
    ]


def test_merge_source_stats_none_bounds_keep_all_candidates(spark, root):
    """Bounds of None (caller had no usable range) degrade to
    no-stats-pruning, never to a wrong skip."""
    t = _table(spark, root, [(1, 10.0, 1), (2, 20.0, 1)])
    src = spark.createDataFrame(
        [(2, 99.0, 2)], "key bigint, price double, version int")
    t.merge_into(src, ["key"], assume_unique_keys=True,
                 source_stats=(1, None, None))
    assert _rows(t.read()) == [(1, 10.0, 1), (2, 99.0, 2)]


def test_merge_source_stats_requires_assume_unique(spark, root):
    t = _table(spark, root, [(1, 10.0, 1)])
    src = spark.createDataFrame(
        [(1, 11.0, 2)], "key bigint, price double, version int")
    with pytest.raises(ValueError, match="assume_unique_keys"):
        t.merge_into(src, ["key"], source_stats=(1, 1, 1))


def test_nmbs_delete_without_condition_sweeps_all_unmatched(spark, root):
    """WHEN NOT MATCHED BY SOURCE THEN DELETE with no condition
    removes EVERY target row absent from the source while the
    matched/insert branches behave as before."""
    t = _table(spark, root, [(1, 1.0, 1), (2, 2.0, 1), (3, 3.0, 1)])
    src = spark.createDataFrame(
        [(2, 20.0, 2), (4, 40.0, 2)], "key bigint, price double, version int")
    t.merge_into(src, ["key"], assume_unique_keys=True,
                 not_matched_by_source_action="delete")
    got = sorted((r.key, r.price) for r in t.read().collect())
    # 1 and 3 swept (unmatched), 2 updated, 4 inserted
    assert got == [(2, 20.0), (4, 40.0)]


def test_nmbs_update_touches_only_unmatched_rows(spark, root):
    """The update branch applies its assignments to unmatched target
    rows only; matched rows take the source row and the condition
    narrows the branch."""
    t = _table(spark, root,
               [(1, 1.0, 1), (2, 2.0, 1), (3, 3.0, 1), (4, 4.0, 1)])
    src = spark.createDataFrame([(1, 10.0, 2)],
                                "key bigint, price double, version int")
    t.merge_into(
        src, ["key"], assume_unique_keys=True,
        not_matched_by_source_action="update",
        not_matched_by_source_condition=F.col("tgt.key") % 2 == 0,
        not_matched_by_source_assignments={"price": F.col("tgt.price") + 100})
    got = sorted((r.key, r.price) for r in t.read().collect())
    # 1 matched -> src; 2,4 unmatched+even -> +100; 3 unmatched+odd -> kept
    assert got == [(1, 10.0), (2, 102.0), (3, 3.0), (4, 104.0)]


def test_nmbs_condition_prunes_candidate_files(spark, root):
    """With a NOT MATCHED BY SOURCE condition, entries holding no
    qualifying rows are carried into the new manifest verbatim - the
    inverted-pruning contract."""
    t = AcidParquetTable(spark, root)
    t.init(spark.createDataFrame([(k, float(k), 1) for k in range(10)],
                                 "key bigint, price double, version int"))
    # second entry, disjoint key range
    t.merge_into(
        spark.createDataFrame([(k, float(k), 1) for k in range(100, 110)],
                              "key bigint, price double, version int"),
        ["key"], assume_unique_keys=True)
    before = set(t._manifest(t.current_version())["files"])
    # source matches nothing; condition only selects the low range
    src = spark.createDataFrame([(500, 0.0, 9)],
                                "key bigint, price double, version int")
    t.merge_into(src, ["key"], assume_unique_keys=True,
                 not_matched_by_source_action="delete",
                 not_matched_by_source_condition=F.col("tgt.key") < 5)
    after = set(t._manifest(t.current_version())["files"])
    assert before & after, "condition-free entry was rewritten"
    got = sorted(r.key for r in t.read().collect())
    assert got == sorted([5, 6, 7, 8, 9, 500] + list(range(100, 110)))


def test_nmbs_bad_action_rejected(spark, root):
    t = _table(spark, root, [(1, 1.0, 1)])
    src = spark.createDataFrame([(1, 2.0, 2)],
                                "key bigint, price double, version int")
    with pytest.raises(ValueError, match="not_matched_by_source_action"):
        t.merge_into(src, ["key"], assume_unique_keys=True,
                     not_matched_by_source_action="upsert")


def test_merge_schema_evolution_contract(spark):
    """mergeSchema semantics: (1) an unknown source column without
    the flag is IGNORED (written per the target schema - the contract
    the CQL write path's helper columns rely on); (2) with the flag
    the table widens in the same merge commit - untouched files read
    NULL; (3) time travel keeps the pre-evolution schema; (4) a
    subsequent NARROW source keeps evolved-column values on update
    and reads NULL on insert."""
    import tempfile

    import pytest

    from cassandra_elasticsearch_sync_spark.sources.acid import (
        AcidParquetTable,
    )

    root = tempfile.mkdtemp(prefix="ces_sevol_t_")
    try:
        t = AcidParquetTable(spark, root)
        t.init(spark.createDataFrame(
            [(1, 10.0), (2, 20.0), (3, 30.0)], "key bigint, price double"))
        v1 = t.current_version()
        src = spark.createDataFrame(
            [(2, 21.0, "hot"), (4, 40.0, "new")],
            "key bigint, price double, note string")
        # without the flag: extra column ignored, schema unchanged
        t.merge_into(src, ["key"], assume_unique_keys=True)
        assert t.read().columns == ["key", "price"]
        got0 = sorted(tuple(r) for r in t.read().collect())
        assert got0 == [(1, 10.0), (2, 21.0), (3, 30.0), (4, 40.0)]
        t.merge_into(src, ["key"], assume_unique_keys=True,
                     schema_evolution=True)
        assert t.read(version=v1).columns == ["key", "price"]
        got = sorted(tuple(r) for r in t.read().collect())
        assert got == [(1, 10.0, None), (2, 21.0, "hot"),
                       (3, 30.0, None), (4, 40.0, "new")]
        # narrow source: evolved column survives update, NULL on insert
        t.merge_into(spark.createDataFrame(
            [(2, 22.0), (5, 50.0)], "key bigint, price double"),
            ["key"], assume_unique_keys=True)
        got = sorted(tuple(r) for r in t.read().collect())
        assert got == [(1, 10.0, None), (2, 22.0, "hot"),
                       (3, 30.0, None), (4, 40.0, "new"),
                       (5, 50.0, None)]
    finally:
        shutil.rmtree(root, ignore_errors=True)


@pytest.mark.parametrize("vouched", [False, True])
def test_merge_keeps_entry_it_matches_nothing_in(spark, root, vouched):
    """A merge whose source range overlaps an entry but matches none
    of its keys leaves that entry's path in the manifest, also when it
    is the only candidate: without caller-measured ``source_stats``
    the file probe runs and the merge only appends its inserts."""
    t = _table(spark, root, [(1, 1.0, 1), (10, 10.0, 1)])
    before = set(t._manifest(t.current_version())["files"])
    src = spark.createDataFrame([(4, 4.0, 2), (6, 6.0, 2)],
                                "key bigint, price double, version int")
    t.merge_into(src, ["key"], assume_unique_keys=vouched)
    after = t._manifest(t.current_version())["files"]
    assert before <= set(after) and len(after) == 2
    assert _rows(t.read()) == [(1, 1.0, 1), (4, 4.0, 2), (6, 6.0, 2),
                               (10, 10.0, 1)]


def test_write_path_action_count_pinned(spark, tmp_path):
    """The round-8 commit-constant diet, pinned as an invariant
    (VERDICT r8 #9): with AQE off, Spark jobs == driver-sequenced
    passes (plus in-action build jobs), so a stats read-back or an
    un-fused source pass sneaking back into init/merge surfaces HERE
    as a failing count, not as a bench drift three rounds later.

    Expected: init = 1 (the write job); merge = 4 (fused source
    pre-pass, file-probe collect plus its broadcast build, the full
    outer rewrite write, whose shuffles are stages inside it). The
    probe is skipped only when CALLER-measured stats leave <=1
    candidate entry; this unvouched merge probes, so an entry it
    matches nothing in keeps its path. The pre-diet shapes were 2
    and 7+."""
    from cassandra_elasticsearch_sync_spark.sources.acid import (
        AcidParquetTable,
    )

    sc = spark.sparkContext
    old = spark.conf.get("spark.sql.adaptive.enabled", "true")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try:
        t = AcidParquetTable(spark, str(tmp_path / "pin"))

        def jobs(group, fn):
            sc.setJobGroup(group, group)
            fn()
            sc.setJobGroup("idle", "idle")
            return len(sc.statusTracker().getJobIdsForGroup(group))

        src = spark.createDataFrame(
            [(i, i * 2) for i in range(100)], "k long, v long")
        upd = spark.createDataFrame(
            [(i, i * 3) for i in range(50, 150)], "k long, v long")
        assert jobs("pin-init", lambda: t.init(src)) == 1
        assert jobs("pin-merge", lambda: t.merge_into(upd, ["k"])) == 4
        # and the merge actually landed
        assert t.read().count() == 150
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", old)


def test_deep_clone_owns_its_bytes(spark, tmp_path):
    """Deep clone: same data, independent versioning, and - the whole
    point vs shallow - the clone SURVIVES source vacuum/drop because
    it copied the bytes; writes on either side stay invisible to the
    other."""
    import shutil

    from cassandra_elasticsearch_sync_spark.sources.acid import (
        AcidParquetTable,
    )

    src = AcidParquetTable(spark, str(tmp_path / "src"))
    src.init(spark.createDataFrame(
        [(i, i * 10) for i in range(50)], "k long, v long"))
    src.merge_into(spark.createDataFrame([(5, 555)], "k long, v long"),
                   ["k"])

    clone = src.deep_clone(str(tmp_path / "deep"))
    assert clone.read().count() == 50
    assert clone.read().filter("k = 5").collect()[0]["v"] == 555
    assert clone.current_version() == 1            # fresh history

    # clone writes never touch the source and vice versa
    clone.merge_into(spark.createDataFrame([(5, 9)], "k long, v long"),
                     ["k"])
    assert src.read().filter("k = 5").collect()[0]["v"] == 555
    src.merge_into(spark.createDataFrame([(6, 7)], "k long, v long"),
                   ["k"])
    assert clone.read().filter("k = 6").collect()[0]["v"] == 60

    # obliterate the source entirely: the deep clone still reads
    shutil.rmtree(str(tmp_path / "src"))
    assert clone.read().count() == 50
    assert clone.read().filter("k = 5").collect()[0]["v"] == 9

    # refuses to clone over an existing table
    import pytest
    with pytest.raises(ValueError, match="already has commits"):
        clone.deep_clone(str(tmp_path / "deep"))


_COW_OPS = {
    # op -> (action, indexes of the init slices it must rewrite)
    "merge_into": (lambda t, spark: t.merge_into(
        spark.createDataFrame([(5, 55.0, 2)],
                              "key bigint, price double, version int"),
        ["key"]), {0}),
    "update_where": (lambda t, spark: t.update_where(
        F.col("key") == 15, {"price": F.lit(0.0)}), {1}),
    "delete_where": (lambda t, spark: t.delete_where(
        F.col("key") == 15), {1}),
    "replace_where": (lambda t, spark: t.replace_where(
        F.col("key") == 15,
        spark.createDataFrame([(15, 150.0, 2)],
                              "key bigint, price double, version int")),
        {1}),
    "compact_deletes": (lambda t, spark: t.compact_deletes(), {2}),
    "compact_small": (lambda t, spark: t.compact_small(
        target_bytes=max(t._entry_bytes(d) for d in
                         t._manifest(t.current_version())["files"])),
        {0, 1}),
}


@pytest.mark.parametrize("op", sorted(_COW_OPS))
def test_cow_rewrite_commit_contract(spark, root, op):
    """Every copy-on-write rewrite commits the same way: entries it
    does not rewrite keep their path, stats and MoR sequence stamp;
    each fresh entry is stamped after every earlier entry and every
    pending delete file (a lower stamp would let a pending delete mask
    the rewritten rows, or a later delete miss them); pending deletes
    and the declared clustering carry over; and the operation is one
    ``_commit`` call, the single point crash/race injection hooks."""
    t = AcidParquetTable(spark, root)
    t.init_clustered(
        spark.createDataFrame([(k, float(k), 1) for k in range(60)],
                              "key bigint, price double, version int"),
        ["key"], n_slices=3, slice_uppers=[9, 19, None])
    t.delete_keys_mor(spark.createDataFrame([(25,)], "key bigint"), ["key"])
    before = t._manifest(t.current_version())
    files = before["files"]
    assert len(files) == 3 and len(before["deletes"]) == 1
    sizes = sorted(t._entry_bytes(d) for d in files)
    assert sizes[1] < sizes[2]  # compact_small leaves exactly one entry

    action, rewritten = _COW_OPS[op]
    calls = []
    commit = t._commit
    t._commit = lambda *a, **kw: calls.append(1) or commit(*a, **kw)
    action(t, spark)
    assert len(calls) == 1
    after = t._manifest(t.current_version())

    untouched = [d for i, d in enumerate(files) if i not in rewritten]
    fresh = [d for d in after["files"] if d not in files]
    assert untouched and fresh
    assert [d for d in after["files"] if d in files] == untouched
    for d in untouched:
        assert after["stats"][d] == before["stats"][d]
        assert after["seq"][d] == before["seq"][d]
    earlier = ([int(s) for s in before["seq"].values()]
               + [int(e["seq"]) for e in before["deletes"]])
    assert all(int(after["seq"][d]) > max(earlier) for d in fresh)
    assert set(after["stats"]) == set(after["files"])
    assert after["deletes"] == ([] if op == "compact_deletes"
                                else before["deletes"])
    assert after["cluster_by"] == ["key"]
