"""ES _update_by_query / _delete_by_query (sources/es_write.py).

Hand batteries for the write-by-query composition: the Painless
update-script compiler (sequential folding, loud rejections), the ES
response counters, SQL-UPDATE simultaneity on the ACID path, and
abort-on-conflict semantics."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from cassandra_elasticsearch_sync_spark.sources.acid import (
    AcidParquetTable,
    CommitConflict,
)
from cassandra_elasticsearch_sync_spark.sources.es_write import (
    EsWriteError,
    compile_update_script,
    es_delete_by_query,
    es_update_by_query,
)


@pytest.fixture()
def root(tmp_path):
    return str(tmp_path / "tbl")


def _table(spark, root, rows):
    t = AcidParquetTable(spark, root)
    t.init(spark.createDataFrame(
        rows, "key bigint, status string, price double, bonus double"))
    return t


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


def test_update_by_query_basic(spark, root):
    t = _table(spark, root, [
        (1, "F", 100.0, 0.0), (2, "O", 200.0, 0.0), (3, "F", 300.0, 0.0)])
    resp = es_update_by_query(
        t, {"term": {"status": "F"}},
        script="ctx._source.price = ctx._source.price + 1;")
    assert resp == {"total": 2, "updated": 2, "deleted": 0,
                    "version_conflicts": 0, "noops": 0}
    assert _rows(t.read()) == [
        (1, "F", 101.0, 0.0), (2, "O", 200.0, 0.0), (3, "F", 301.0, 0.0)]


def test_update_script_sequential_folding(spark, root):
    """Painless runs statements sequentially: the second statement
    reads the FIRST's result. The compiler folds that into
    original-row expressions, so bonus = price * 0.5 and then
    price = price - bonus means price halves."""
    t = _table(spark, root, [(1, "F", 100.0, 0.0)])
    es_update_by_query(
        t, {"term": {"status": "F"}},
        script="ctx._source.bonus = ctx._source.price * 0.5; "
               "ctx._source.price = ctx._source.price "
               "- ctx._source.bonus;")
    assert _rows(t.read()) == [(1, "F", 50.0, 50.0)]


def test_update_script_compound_assign_and_ternary(spark):
    env = compile_update_script(
        "ctx._source.price += 5; "
        "ctx._source.bonus = ctx._source.price > 100 ? 1.0 : 0.0;",
        ["price", "bonus"])
    assert set(env) == {"price", "bonus"}


def test_update_where_is_simultaneous_swap(spark, root):
    """SQL UPDATE semantics: SET a = b, b = a swaps (every RHS sees
    the OLD row) - the contract the folded Painless compiler relies
    on; a sequential withColumn chain would set both to bonus."""
    t = _table(spark, root, [(1, "F", 10.0, 99.0)])
    t.update_where(F.lit(True),
                   {"price": F.col("bonus"), "bonus": F.col("price")})
    assert _rows(t.read()) == [(1, "F", 99.0, 10.0)]


def test_update_script_rejections(spark):
    cols = ["price", "bonus"]
    # ctx.op no-op routing
    with pytest.raises(EsWriteError, match="ctx.op"):
        compile_update_script(
            "ctx._source.price = 1; ctx.op = 'noop';", cols)
    # params
    with pytest.raises(EsWriteError, match="params"):
        compile_update_script(
            "ctx._source.price = params.x;", cols)
    # new-field creation is schema evolution, not an update
    with pytest.raises(EsWriteError, match="new _source field"):
        compile_update_script("ctx._source.extra = 1;", cols)
    # unknown field on the RHS
    with pytest.raises(EsWriteError, match="unknown _source field"):
        compile_update_script(
            "ctx._source.price = ctx._source.nope + 1;", cols)
    # not an assignment
    with pytest.raises(EsWriteError, match="must be ctx._source"):
        compile_update_script("1 + 2;", cols)
    with pytest.raises(EsWriteError, match="empty"):
        compile_update_script("  ;", cols)


def test_delete_by_query_counters_and_null_semantics(spark, root):
    t = AcidParquetTable(spark, root)
    t.init(spark.createDataFrame(
        [(1, 10.0), (2, None), (3, 30.0)], "key bigint, price double"))
    # NULL > 15 is NULL -> NOT deleted (SQL + ES agree: an unmatched
    # doc survives)
    resp = es_delete_by_query(t, {"range": {"price": {"gt": 15.0}}})
    assert resp["deleted"] == 1 and resp["total"] == 1
    assert sorted(r["key"] for r in t.read().collect()) == [1, 2]


def test_write_param_rejections(spark, root):
    t = _table(spark, root, [(1, "F", 1.0, 0.0)])
    with pytest.raises(EsWriteError, match="conflicts"):
        es_delete_by_query(t, {"term": {"status": "F"}},
                           conflicts="proceed")
    with pytest.raises(EsWriteError, match="max_docs"):
        es_update_by_query(t, {"term": {"status": "F"}},
                           script="ctx._source.price = 1;", max_docs=5)


def test_conflict_aborts_whole_commit(spark, root):
    """conflicts=abort with a stronger guarantee: a concurrent commit
    between the snapshot read and the CoW commit raises
    CommitConflict and NOTHING is applied - no partial batches."""
    t = _table(spark, root, [(1, "F", 10.0, 0.0), (2, "F", 20.0, 0.0)])
    base = t.current_version()
    # pin this handle's view of HEAD at the pre-race version: its
    # snapshot read and its commit attempt both see `base`, exactly a
    # writer that started before the racer landed
    t.current_version = lambda: base
    racer = AcidParquetTable(spark, root)
    racer.delete_where(F.col("key") == 2)       # lands v(base+1)
    with pytest.raises(CommitConflict):
        es_update_by_query(t, {"term": {"status": "F"}},
                           script="ctx._source.price = 0.0;")
    # the loser's mutation is invisible; only the racer's delete landed
    del t.current_version
    assert _rows(t.read()) == [(1, "F", 10.0, 0.0)]
    assert t.current_version() == base + 1


def test_reindex_op_types_and_conflicts(spark, root):
    from cassandra_elasticsearch_sync_spark.sources.es_write import (
        es_reindex,
    )

    src = spark.createDataFrame(
        [(1, "F", 10.0, 0.0), (2, "O", 20.0, 0.0), (3, "F", 30.0, 0.0)],
        "key bigint, status string, price double, bonus double")
    dest = _table(spark, root, [(2, "O", -1.0, 0.0)])
    # op_type index (default): upsert - key 2 overwrites, 1/3 insert
    resp = es_reindex(src, dest, keys=["key"])
    assert resp["total"] == 3 and resp["created"] == 2 \
        and resp["updated"] == 1 and resp["version_conflicts"] == 0
    assert _rows(dest.read()) == [
        (1, "F", 10.0, 0.0), (2, "O", 20.0, 0.0), (3, "F", 30.0, 0.0)]

    # op_type create + abort: ANY existing key rejects, nothing applies
    dest2 = _table(spark, str(root) + "_2", [(2, "O", -1.0, 0.0)])
    v = dest2.current_version()
    with pytest.raises(EsWriteError, match="existing"):
        es_reindex(src, dest2, keys=["key"], op_type="create")
    assert dest2.current_version() == v

    # op_type create + proceed: existing keys SKIP and count as
    # version_conflicts; the skipped doc keeps its dest value
    resp2 = es_reindex(src, dest2, keys=["key"], op_type="create",
                       conflicts="proceed")
    assert resp2["created"] == 2 and resp2["version_conflicts"] == 1
    assert _rows(dest2.read()) == [
        (1, "F", 10.0, 0.0), (2, "O", -1.0, 0.0), (3, "F", 30.0, 0.0)]

    # query + script compose; proceed is meaningless for index
    dest3 = _table(spark, str(root) + "_3", [])
    r3 = es_reindex(src, dest3, keys=["key"],
                    query={"term": {"status": "F"}},
                    script="ctx._source.price = ctx._source.price "
                           "* 2;")
    assert r3["total"] == 2
    assert _rows(dest3.read()) == [
        (1, "F", 20.0, 0.0), (3, "F", 60.0, 0.0)]
    with pytest.raises(EsWriteError, match="meaningless"):
        es_reindex(src, dest3, keys=["key"], conflicts="proceed")


def test_single_doc_update(spark, root):
    from cassandra_elasticsearch_sync_spark.sources.es_write import (
        es_update,
    )

    t = _table(spark, root, [(1, "F", 10.0, 0.0), (2, "O", 20.0, 5.0)])
    # script form
    assert es_update(t, id_field="key", id_value=1,
                     script="ctx._source.price += 1;") \
        == {"result": "updated"}
    assert _rows(t.read())[0] == (1, "F", 11.0, 0.0)
    # doc form, noop detection: restating current values commits NOTHING
    v = t.current_version()
    assert es_update(t, id_field="key", id_value=2,
                     doc={"price": 20.0, "bonus": 5.0}) \
        == {"result": "noop"}
    assert t.current_version() == v
    # doc form, real change
    assert es_update(t, id_field="key", id_value=2,
                     doc={"bonus": 9.0})["result"] == "updated"
    assert _rows(t.read())[1] == (2, "O", 20.0, 9.0)
    # missing id: 404 without upsert, created with one
    with pytest.raises(EsWriteError, match="not found"):
        es_update(t, id_field="key", id_value=99, doc={"bonus": 1.0})
    assert es_update(t, id_field="key", id_value=99, doc={"bonus": 1.0},
                     upsert={"status": "N", "price": 0.0, "bonus": 1.0}
                     )["result"] == "created"
    assert _rows(t.read())[2] == (99, "N", 0.0, 1.0)
    # exactly one of script/doc; unknown doc fields loud
    with pytest.raises(EsWriteError, match="exactly one"):
        es_update(t, id_field="key", id_value=1)
    with pytest.raises(EsWriteError, match="not in the schema"):
        es_update(t, id_field="key", id_value=1, doc={"nope": 1})


def test_bad_upsert_value_fails_on_the_driver_naming_its_column(
        spark, root, shipped_jobs):
    """An upsert document whose value does not fit its column (a
    string for a ``double``) fails before any row is read, with an
    ``EsWriteError`` that names the column and before any Spark job
    runs - not as an executor stack trace in the middle of the merge."""
    from cassandra_elasticsearch_sync_spark.sources.es_write import (
        es_update,
    )

    t = _table(spark, root, [(1, "F", 10.0, 0.0)])
    v0 = t.current_version()

    def write():
        with pytest.raises(EsWriteError, match="'price'"):
            es_update(t, id_field="key", id_value=99, doc={"bonus": 1.0},
                      upsert={"status": "N", "price": "x", "bonus": 1.0})

    assert shipped_jobs(write) == 0
    assert t.current_version() == v0
    assert _rows(t.read()) == [(1, "F", 10.0, 0.0)]


# -- response counters ride the rewrite commit --------------------------------

_CTR_SCHEMA = "key bigint, status string, price double, day date"


def _ctr_table(spark, root, layout):
    """12 docs, even keys status 'F'; ``layout`` picks the manifest
    shape the counters must stay exact on."""
    import datetime as dt

    df = spark.createDataFrame(
        [(k, "F" if k % 2 == 0 else "O", float(k),
          dt.date(2020, 1, 1 + k)) for k in range(12)], _CTR_SCHEMA)
    t = AcidParquetTable(spark, root)
    if layout == "sliced":
        # three key-range entries with usable stats: the probe runs
        t.init_clustered(df, ["key"], n_slices=3, slice_uppers=[3, 7, None])
    elif layout == "sampled":
        # date clustering: a multi-entry rewrite takes the sampling
        # writer, which evaluates its input twice
        t.init_clustered(df, ["day"], n_slices=3)
    else:
        t.init(df)
    if layout == "mor":
        t.delete_keys_mor(spark.createDataFrame([(0,), (2,), (5,)],
                                                "key bigint"), ["key"])
    return t


def _live(t):
    return {r["key"]: tuple(r) for r in t.read().collect()}


_CTR_CASES = [
    ("single", {"term": {"status": "X"}}, 0),
    ("single", {"term": {"status": "F"}}, 6),
    ("single", {"match_all": {}}, 12),
    ("sliced", {"bool": {"must": [{"term": {"status": "F"}},
                                  {"range": {"key": {"lte": 3}}}]}}, 2),
    ("sliced", {"term": {"status": "X"}}, 0),
    ("sampled", {"term": {"status": "F"}}, 6),
    ("mor", {"term": {"status": "F"}}, 4),
]


@pytest.mark.parametrize("op", ["update", "delete"])
@pytest.mark.parametrize("layout, query, want", _CTR_CASES)
def test_by_query_counters_equal_changed_rows(spark, root, op, layout,
                                              query, want):
    """``total``/``updated``/``deleted`` equal the rows the commit
    actually changed - counted on the rewrite job, not by a count job
    of its own - on every manifest shape: one entry (no probe), probed
    key-range entries, the double-evaluating sampling writer, and
    pending merge-on-read deletes (deleted docs are not counted)."""
    t = _ctr_table(spark, root, layout)
    before = _live(t)
    if op == "update":
        resp = es_update_by_query(
            t, query, script="ctx._source.price = ctx._source.price + 100;")
    else:
        resp = es_delete_by_query(t, query)
    after = _live(t)
    changed = sum(1 for k, r in before.items() if after.get(k) != r)
    assert changed == want
    if op == "update":
        assert set(after) == set(before)
        assert (resp["total"], resp["updated"], resp["deleted"]) \
            == (want, want, 0)
    else:
        assert len(before) - len(after) == want
        assert (resp["total"], resp["updated"], resp["deleted"]) \
            == (want, 0, want)
    info = t.commit_info()
    metric = "num_updated_rows" if op == "update" else "num_deleted_rows"
    assert info == {"operation": op.upper(),
                    "operation_metrics": {metric: want}}


def test_commit_metrics_are_not_carried_forward(spark, root):
    """Operation metrics describe ONE commit: the maintenance and
    merge commits after an UPDATE record none of their own, and the
    UPDATE's version still reads its own metrics (time travel)."""
    t = _ctr_table(spark, root, "single")
    assert t.commit_info()["operation"] is None        # init
    v = t.update_where(F.col("key") < 3, {"price": F.lit(0.0)})
    assert t.commit_info(v) == {"operation": "UPDATE",
                                "operation_metrics": {"num_updated_rows": 3}}
    t.delete_keys_mor(spark.createDataFrame([(1,)], "key bigint"), ["key"])
    t.compact_deletes()
    t.merge_into(spark.createDataFrame(
        [(1, "F", 1.0, None)], _CTR_SCHEMA), ["key"])
    t.compact_small()
    t.optimize(["key"], n_slices=2)
    for u in range(v + 1, t.current_version() + 1):
        assert t.commit_info(u) == {"operation": None,
                                    "operation_metrics": {}}, u
    assert t.commit_info(v)["operation_metrics"] == {"num_updated_rows": 3}


def test_update_by_query_job_count_pinned(spark, root, shipped_jobs):
    """With AQE on, a single-entry ``_update_by_query`` is ONE Spark
    job: the rewrite+write, which also counts the matched docs (no
    separate count job, no probe on one entry)."""
    t = _table(spark, root, [(k, "F" if k % 2 else "O", float(k), 0.0)
                             for k in range(40)])
    n = shipped_jobs(lambda: es_update_by_query(
        t, {"terms": {"key": list(range(0, 20, 2))}},
        script="ctx._source.price = 1.5;"))
    assert n == 1
    assert t.commit_info()["operation_metrics"] == {"num_updated_rows": 10}
