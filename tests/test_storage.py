"""Storage-layout scale features: bucketed co-located joins, partition
pruning, watermark persistence."""

from __future__ import annotations

import datetime as dt
import shutil
import tempfile

import pytest
from pyspark.sql import functions as F

from cassandra_elasticsearch_sync_spark.catalog import load_table
from cassandra_elasticsearch_sync_spark.sources import storage

SF_DIR = "/root/testdata/sf0.001"


def test_bucketed_join_has_no_exchange(spark):
    o = load_table(spark, SF_DIR, "orders")
    li = load_table(spark, SF_DIR, "lineitem")
    storage.write_bucketed(o, "b_orders", "o_orderkey", 4)
    storage.write_bucketed(
        li.withColumnRenamed("l_orderkey", "o_orderkey"), "b_lineitem", "o_orderkey", 4
    )
    try:
        # Disable broadcast so the planner must pick SMJ - the point is
        # that bucketing removes the Exchange under it.
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        j = spark.table("b_orders").join(spark.table("b_lineitem"), "o_orderkey")
        plan = j._jdf.queryExecution().executedPlan().toString()
        assert "SortMergeJoin" in plan, plan[:1500]
        assert "Exchange" not in plan, plan[:1500]
        # and the result is still correct
        assert j.count() == li.count()
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        spark.sql("DROP TABLE IF EXISTS b_orders")
        spark.sql("DROP TABLE IF EXISTS b_lineitem")


def test_partitioned_write_prunes(spark):
    out = tempfile.mkdtemp(prefix="ces_part_")
    try:
        ev = load_table(spark, SF_DIR, "events")
        storage.write_date_partitioned(ev, out, "ts")
        back = spark.read.parquet(out).filter(F.col("_day") == "2024-01-05")
        plan = back._jdf.queryExecution().executedPlan().toString()
        assert "PartitionFilters" in plan and "_day" in plan.split("PartitionFilters")[1][:200], \
            plan[:1500]
        want = ev.filter(
            F.date_format(F.date_trunc("day", "ts"), "yyyy-MM-dd") == "2024-01-05"
        ).count()
        assert back.count() == want and want > 0
    finally:
        shutil.rmtree(out, ignore_errors=True)


def test_watermark_roundtrip_and_delta(spark):
    state = tempfile.mkdtemp(prefix="ces_wm_")
    try:
        assert storage.load_watermark(spark, state) is None
        wm = dt.datetime(1999, 6, 1)
        storage.save_watermark(spark, state, wm)
        assert storage.load_watermark(spark, state) == wm
    finally:
        shutil.rmtree(state, ignore_errors=True)


def test_interrupted_watermark_save_keeps_the_old_one(spark, monkeypatch,
                                                     tmp_path):
    """A watermark save is one fsynced file published by one atomic
    replace. A crash in the publish step of a later save leaves the
    previous watermark readable, and no temp file behind."""
    import os

    state = str(tmp_path)
    first = dt.datetime(1999, 6, 1, 12, 30, 15, 250)
    calls = []

    def traced(name, real):
        def call(*args, **kwargs):
            calls.append(name)
            return real(*args, **kwargs)
        return call

    with monkeypatch.context() as m:
        m.setattr(os, "fsync", traced("fsync", os.fsync))
        m.setattr(os, "replace", traced("replace", os.replace))
        storage.save_watermark(spark, state, first)
    assert calls == ["fsync", "replace"]

    def crash_on_publish(real):
        def move(src, dst, *args, **kwargs):
            if os.path.basename(dst).startswith("watermark"):
                raise OSError("crash while publishing the watermark")
            return real(src, dst, *args, **kwargs)
        return move

    with monkeypatch.context() as m:
        m.setattr(os, "replace", crash_on_publish(os.replace))
        m.setattr(os, "rename", crash_on_publish(os.rename))
        with pytest.raises(OSError, match="crash while publishing"):
            storage.save_watermark(spark, state, dt.datetime(2001, 1, 1))
    assert storage.load_watermark(spark, state) == first
    assert [f for f in os.listdir(state) if f.startswith(".")] == []


def test_compaction_preserves_data_and_reduces_files(spark):
    import glob
    out = tempfile.mkdtemp(prefix="ces_compact_")
    try:
        ev = load_table(spark, SF_DIR, "events")
        ev.repartition(24).write.mode("overwrite").parquet(f"{out}/frag")
        n_frag = len(glob.glob(f"{out}/frag/part-*"))
        storage.compact_snapshot(spark, f"{out}/frag", f"{out}/compact", 2)
        n_comp = len(glob.glob(f"{out}/compact/part-*"))
        assert n_comp < n_frag and n_comp <= 2
        assert spark.read.parquet(f"{out}/compact").count() == ev.count()
    finally:
        shutil.rmtree(out, ignore_errors=True)


def test_json_ingest_corrupt_record_handling(spark):
    out = tempfile.mkdtemp(prefix="ces_corrupt_")
    try:
        good = '{"doc_id": 1, "text": "ok", "lang": "en"}'
        bad = '{"doc_id": 2, "text": BROKEN'
        with open(f"{out}/data.json", "w") as f:
            f.write(good + "\n" + bad + "\n")
        df = spark.read.schema(
            "doc_id bigint, text string, lang string, _corrupt_record string"
        ).option("mode", "PERMISSIVE").option(
            "columnNameOfCorruptRecord", "_corrupt_record"
        ).json(out)
        rows = {r["doc_id"]: r for r in df.collect()}
        assert rows[1]["text"] == "ok" and rows[1]["_corrupt_record"] is None
        corrupt = [r for r in rows.values() if r["_corrupt_record"] is not None]
        assert len(corrupt) == 1 and "BROKEN" in corrupt[0]["_corrupt_record"]
    finally:
        shutil.rmtree(out, ignore_errors=True)


def test_load_table_relation_cache_hits_and_invalidates(spark, tmp_path):
    """catalog.load_table shares one analyzed relation per (session,
    path, mtime): same object on a repeat call (no re-listing), and a
    REWRITE of the path (new mtime) misses the cache and sees the new
    data - the safety property that makes default-on caching sound."""
    import shutil
    import time as _time

    from cassandra_elasticsearch_sync_spark.catalog import load_table

    d = tmp_path / "corpus"
    d.mkdir()
    src = spark.range(5).selectExpr("id AS r_regionkey", "'x' AS r_name")
    src.write.parquet(str(d / "region.parquet"))
    a = load_table(spark, str(d), "region")
    b = load_table(spark, str(d), "region")
    assert a is b, "repeat load of an unchanged path must hit the cache"
    assert a.count() == 5
    _time.sleep(0.05)  # ensure a distinct mtime even on coarse clocks
    shutil.rmtree(d / "region.parquet")
    spark.range(9).selectExpr("id AS r_regionkey", "'y' AS r_name") \
        .write.parquet(str(d / "region.parquet"))
    c = load_table(spark, str(d), "region")
    assert c is not a, "rewritten path must miss the cache"
    assert c.count() == 9
