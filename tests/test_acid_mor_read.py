"""Merge-on-read reads and the row-to-entry mapping of the ACID table
(sources/acid.py ``_read_entries``, ``_entry_value``).

A read of entries with pending delete files is one scan of every
entry and one broadcast anti-join against every delete file, so its
job count does not grow with the number of commit generations. Which
entry a row came from is read off the row's file, which the scan
reports as a percent-encoded URI; a table root that needs encoding
must still map every row to its entry."""

from __future__ import annotations

import shutil
import tempfile

import pytest
from pyspark.sql import functions as F

from cassandra_elasticsearch_sync_spark.localdata import local_relation
from cassandra_elasticsearch_sync_spark.sources.acid import AcidParquetTable

_KV = "key bigint, price double"


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


@pytest.fixture()
def encoded_root():
    """A table root whose URI form differs from its path: a space, a
    ``%`` that reads as an escape once decoded twice, and a ``+``."""
    d = tempfile.mkdtemp(prefix="ces acid %41+")
    yield d
    shutil.rmtree(d, ignore_errors=True)


def _four_slices(spark, root):
    t = AcidParquetTable(spark, root)
    t.init_clustered(spark.range(1000).select(
        F.col("id").alias("key"), F.col("id").cast("double").alias("price")),
        ["key"], 4)
    assert len(t._manifest(t.current_version())["files"]) == 4
    return t


def test_update_where_under_an_encoded_root(spark, encoded_root):
    t = _four_slices(spark, encoded_root)
    t.update_where(F.col("key") == 5, {"price": F.lit(-5.0)})
    assert t.commit_info()["operation_metrics"] == {"num_updated_rows": 1}
    assert _rows(t.read().filter(F.col("key") == 5)) == [(5, -5.0)]
    assert t.read().count() == 1000


def test_merge_into_under_an_encoded_root(spark, encoded_root):
    t = _four_slices(spark, encoded_root)
    t.merge_into(local_relation(spark, [(5, -5.0), (600, -600.0)], _KV),
                 ["key"])
    got = t.read()
    assert got.count() == 1000
    assert got.select("key").distinct().count() == 1000
    assert _rows(got.filter(F.col("key").isin(5, 600))) == [
        (5, -5.0), (600, -600.0)]


def test_mor_read_under_an_encoded_root(spark, encoded_root):
    t = _four_slices(spark, encoded_root)
    t.delete_keys_mor(local_relation(spark, [(7,)], "key bigint"), ["key"])
    got = t.read()
    assert got.count() == 999
    assert got.filter(F.col("key") == 7).count() == 0


def test_row_of_no_entry_fails_the_read(spark, encoded_root):
    """A row whose file maps to no given entry fails the job: read as
    a NULL seq it would escape every delete."""
    t = AcidParquetTable(spark, encoded_root)
    t.init(local_relation(spark, [(1, 1.0)], _KV))
    d = t._manifest(t.current_version())["files"][0]
    scan = spark.read.parquet(d)
    assert scan.select(t._entry_value(scan, {d: 1})).collect() == [(1,)]
    with pytest.raises(Exception, match="belongs to no manifest entry"):
        scan.select(t._entry_value(scan, {d + "-other": 1})).collect()


def _generations(spark, root, k):
    """A table of k+1 entry generations and k delete files at k
    sequence numbers, built next to a dict model. Round r inserts keys
    1000+10r and 1000+10r+1 as a new entry, then deletes key r of the
    first entry, key 1000+10r it just inserted, and key 1000+10(r+1),
    which round r+1 inserts again: that later insert must survive the
    older delete."""
    t = AcidParquetTable(spark, root)
    t.init(local_relation(spark, [(x, float(x)) for x in range(100)], _KV))
    model = {x: float(x) for x in range(100)}
    for r in range(k):
        new = [(1000 + 10 * r + i, -float(r)) for i in (0, 1)]
        t.merge_into(local_relation(spark, new, _KV), ["key"],
                     assume_unique_keys=True,
                     source_stats=(2, new[0][0], new[1][0]))
        model.update(new)
        gone = [r, 1000 + 10 * r, 1000 + 10 * (r + 1)]
        t.delete_keys_mor(local_relation(spark, [(x,) for x in gone],
                                         "key bigint"), ["key"])
        for x in gone:
            model.pop(x, None)
    m = t._manifest(t.current_version())
    assert len(m["files"]) == k + 1
    assert len({m["seq"][d] for d in m["files"]}) == k + 1
    assert len({e["seq"] for e in m["deletes"]}) == k
    return t, sorted(model.items())


def test_mor_read_cost_does_not_grow_with_generations(spark, tmp_path,
                                                      shipped_cost):
    """With AQE on, reading a table with pending delete files is 2
    jobs (the delete keys' broadcast and the scan) at one generation
    and at eight, and returns the rows the sequence-number rule gives."""
    jobs = {}
    for k in (1, 8):
        t, want = _generations(spark, str(tmp_path / f"k{k}"), k)
        got = []
        jobs[k] = shipped_cost(lambda: got.extend(t.read().collect()))[0]
        assert sorted(tuple(r) for r in got) == want
    assert jobs == {1: 2, 8: 2}


def test_mor_read_is_one_scan_and_one_anti_join(spark, tmp_path):
    t, _ = _generations(spark, str(tmp_path / "t"), 4)
    plan = t.read()._jdf.queryExecution().executedPlan().toString()
    assert plan.count("FileScan parquet") == 2  # the entries, the deletes
    assert plan.count("LeftAnti") == 1
    assert plan.count("BroadcastExchange") == 1
