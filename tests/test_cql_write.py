"""CQL write path (INSERT/UPDATE/DELETE/BATCH -> one ACID merge):
Cassandra's upsert/cell-level/LWT-guard semantics, verified."""

from __future__ import annotations

import os
import shutil
import tempfile

import pytest

from cassandra_elasticsearch_sync_spark.sources.acid import AcidParquetTable
from cassandra_elasticsearch_sync_spark.sources.cql_query import CqlError
from cassandra_elasticsearch_sync_spark.sources.cql_write import (
    apply_cql_writes,
    parse_cql_dml,
)

KEY = ["key"]


@pytest.fixture()
def table(spark):
    root = tempfile.mkdtemp(prefix="ces_cqlw_")
    t = AcidParquetTable(spark, root)
    t.init(spark.createDataFrame(
        [(1, 10.0, 100), (2, 20.0, 100), (3, 30.0, 100)],
        "key bigint, price double, version bigint"))
    yield t
    shutil.rmtree(root, ignore_errors=True)


def _rows(t):
    return sorted(tuple(r) for r in t.read().collect())


def test_insert_and_update_are_upserts(spark, table):
    apply_cql_writes(table, KEY, [
        "INSERT INTO kv (key, price, version) VALUES (9, 90.0, 200)",
        "UPDATE kv SET price = 55.0 WHERE key = 5",   # missing -> creates
    ])
    assert _rows(table) == [
        (1, 10.0, 100), (2, 20.0, 100), (3, 30.0, 100),
        (5, 55.0, None), (9, 90.0, 200),
    ]


def test_update_is_cell_level(spark, table):
    apply_cql_writes(table, KEY,
                     "UPDATE kv SET price = 99.0 WHERE key = 2")
    assert (2, 99.0, 100) in _rows(table), "version cell must survive"


def test_delete_and_batch_atomicity(spark, table):
    v0 = table.current_version()
    apply_cql_writes(table, KEY, """
        BEGIN BATCH
          DELETE FROM kv WHERE key = 1;
          UPDATE kv SET price = 21.0 WHERE key = 2;
          INSERT INTO kv (key, price, version) VALUES (4, 40.0, 300);
        APPLY BATCH
    """)
    assert table.current_version() == v0 + 1, "batch = ONE commit"
    assert _rows(table) == [(2, 21.0, 100), (3, 30.0, 100), (4, 40.0, 300)]


def test_lwt_guards(spark, table):
    apply_cql_writes(table, KEY, [
        # existing key -> conditional insert is a no-op
        "INSERT INTO kv (key, price, version) VALUES (1, -1.0, 1) IF NOT EXISTS",
        # missing key -> conditional update is a no-op
        "UPDATE kv SET price = -2.0 WHERE key = 77 IF EXISTS",
        # missing key -> unconditional insert applies
        "INSERT INTO kv (key, price, version) VALUES (8, 80.0, 1) IF NOT EXISTS",
    ])
    rows = _rows(table)
    assert (1, 10.0, 100) in rows
    assert not any(r[0] == 77 for r in rows)
    assert (8, 80.0, 1) in rows


def test_statement_order_fold(spark, table):
    apply_cql_writes(table, KEY, """
        BEGIN BATCH
          UPDATE kv SET price = 1.0 WHERE key = 2;
          UPDATE kv SET version = 999 WHERE key = 2;
          DELETE FROM kv WHERE key = 3;
          INSERT INTO kv (key, price, version) VALUES (3, 33.0, 1);
        APPLY BATCH
    """)
    rows = _rows(table)
    assert (2, 1.0, 999) in rows          # cell-wise merge of two updates
    assert (3, 33.0, 1) in rows           # write after delete = fresh row


def test_write_rules_enforced():
    with pytest.raises(CqlError, match="full primary key"):
        parse_cql_dml("UPDATE kv SET price = 1.0 WHERE price = 2.0", KEY)
    with pytest.raises(CqlError, match="missing"):
        parse_cql_dml("INSERT INTO kv (price) VALUES (1.0)", KEY)
    with pytest.raises(CqlError, match="primary key column"):
        parse_cql_dml("UPDATE kv SET key = 5 WHERE key = 1", KEY)
    with pytest.raises(CqlError, match="arity"):
        parse_cql_dml("INSERT INTO kv (key, price) VALUES (1)", KEY)
    with pytest.raises(CqlError, match="unsupported"):
        parse_cql_dml("TRUNCATE kv", KEY)


def test_using_clause_parsing_and_lwt_rejection():
    import pytest

    from cassandra_elasticsearch_sync_spark.sources.cql_query import CqlError
    from cassandra_elasticsearch_sync_spark.sources.cql_write import (
        parse_cql_dml,
    )

    w = parse_cql_dml(
        "INSERT INTO kv (key, price) VALUES (1, 2.0) "
        "USING TTL 60 AND TIMESTAMP 777", ["key"])[0]
    assert (w.ttl_s, w.ts_us) == (60, 777)
    w = parse_cql_dml(
        "UPDATE kv USING TIMESTAMP 5 SET price = 1.0 WHERE key = 1",
        ["key"])[0]
    assert (w.ttl_s, w.ts_us) == (None, 5)
    with pytest.raises(CqlError, match="IF NOT EXISTS"):
        parse_cql_dml("INSERT INTO kv (key, price) VALUES (1, 2.0) "
                      "IF NOT EXISTS USING TIMESTAMP 5", ["key"])
    with pytest.raises(CqlError, match="unsupported USING"):
        parse_cql_dml("INSERT INTO kv (key, price) VALUES (1, 2.0) "
                      "USING BOGUS 5", ["key"])


def test_timestamp_lww_ignores_stale_and_ttl_expires(spark):
    import shutil
    import tempfile

    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    from cassandra_elasticsearch_sync_spark.sources.acid import (
        AcidParquetTable,
    )
    from cassandra_elasticsearch_sync_spark.sources.cql_write import (
        apply_cql_writes,
    )

    root = tempfile.mkdtemp(prefix="ces_cql_using_t_")
    try:
        t = AcidParquetTable(spark, root)
        schema = T.StructType([
            T.StructField("key", T.LongType()),
            T.StructField("price", T.DoubleType()),
            T.StructField("writetime_us", T.LongType()),
            T.StructField("ttl_s", T.LongType()),
        ])
        t.init(spark.createDataFrame([], schema))
        apply_cql_writes(
            t, ["key"],
            "INSERT INTO kv (key, price) VALUES (1, 10.0)", now_us=1000)
        # stale write ignored; equal-timestamp write applies (>= rule)
        apply_cql_writes(
            t, ["key"],
            "UPDATE kv USING TIMESTAMP 500 SET price = -1.0 WHERE key = 1")
        got = {r["key"]: r["price"] for r in t.read().collect()}
        assert got[1] == 10.0
        apply_cql_writes(
            t, ["key"],
            "UPDATE kv USING TIMESTAMP 2000 SET price = 20.0 WHERE key = 1")
        got = {r["key"]: (r["price"], r["writetime_us"])
               for r in t.read().collect()}
        assert got[1] == (20.0, 2000)
        # TTL row: visible before expiry, filtered after
        apply_cql_writes(
            t, ["key"],
            "INSERT INTO kv (key, price) VALUES (2, 5.0) "
            "USING TTL 10 AND TIMESTAMP 1000")

        def live(as_of_us):
            return {r["key"] for r in t.read().filter(
                F.col("ttl_s").isNull()
                | (F.col("writetime_us") + F.col("ttl_s") * 1_000_000
                   > as_of_us)).collect()}

        assert live(5_000_000) == {1, 2}
        assert live(20_000_000) == {1}
    finally:
        shutil.rmtree(root, ignore_errors=True)


def test_insert_json_parse_and_defaults(spark, tmp_path):
    """INSERT JSON statement form: DEFAULT NULL writes omitted value
    columns as NULL, DEFAULT UNSET leaves them untouched, IF NOT
    EXISTS guards, '' escapes a quote, and malformed payloads raise
    exactly like Cassandra rejects them."""
    import pytest

    from cassandra_elasticsearch_sync_spark.sources.acid import (
        AcidParquetTable,
    )
    from cassandra_elasticsearch_sync_spark.sources.cql_query import CqlError
    from cassandra_elasticsearch_sync_spark.sources.cql_write import (
        apply_cql_writes,
        parse_cql_dml,
    )

    t = AcidParquetTable(spark, str(tmp_path / "kv"))
    t.init(spark.createDataFrame(
        [(1, 1.0, "seed"), (2, 2.0, "seed")],
        "key long, price double, tag string"))

    # DEFAULT UNSET: tag preserved; implicit DEFAULT NULL: tag nulled
    apply_cql_writes(t, ["key"], [
        'INSERT INTO kv JSON \'{"key": 1, "price": 10.0}\' DEFAULT UNSET',
        'INSERT INTO kv JSON \'{"key": 2, "price": 20.0}\'',
        'INSERT INTO kv JSON \'{"key": 3, "price": 30.0, '
        '"tag": "o\'\'hara"}\'',
    ])
    # the guarded insert goes in its own client batch (same-key
    # statements in ONE batch fold, per the documented client model)
    apply_cql_writes(t, ["key"], [
        'INSERT INTO kv JSON \'{"key": 1, "price": -1.0, "tag": "x"}\' '
        "IF NOT EXISTS",
    ])
    got = {r["key"]: (r["price"], r["tag"]) for r in t.read().collect()}
    assert got[1] == (10.0, "seed")      # UNSET kept the cell
    assert got[2] == (20.0, None)        # DEFAULT NULL cleared it
    assert got[3] == (30.0, "o'hara")    # '' quote escape
    assert len(got) == 3                 # the guarded insert no-opped

    with pytest.raises(CqlError, match="not valid JSON"):
        parse_cql_dml('INSERT INTO kv JSON \'{"key": \'', ["key"])
    with pytest.raises(CqlError, match="JSON object"):
        parse_cql_dml("INSERT INTO kv JSON '[1, 2]'", ["key"])
    with pytest.raises(CqlError, match="full primary key"):
        parse_cql_dml('INSERT INTO kv JSON \'{"price": 1.0}\'', ["key"])
    with pytest.raises(CqlError, match="IF NOT EXISTS"):
        parse_cql_dml('INSERT INTO kv JSON \'{"key": 1}\' IF NOT EXISTS '
                      "USING TIMESTAMP 5", ["key"])
    with pytest.raises(CqlError, match="unknown columns"):
        apply_cql_writes(t, ["key"],
                         'INSERT INTO kv JSON \'{"key": 9, "nope": 1}\'')


def test_collection_mutations_hand_checked(spark, tmp_path):
    """CQL collection writes: set add/discard (canonically sorted),
    list append/prepend, map put / merge / key-discard, full-literal
    replacement, update-creates-row, and the parse/fold rules."""
    import pytest

    from cassandra_elasticsearch_sync_spark.sources.acid import (
        AcidParquetTable,
    )
    from cassandra_elasticsearch_sync_spark.sources.cql_query import CqlError
    from cassandra_elasticsearch_sync_spark.sources.cql_write import (
        CollMut,
        apply_cql_writes,
        parse_cql_dml,
    )

    t = AcidParquetTable(spark, str(tmp_path / "coll"))
    t.init(spark.createDataFrame(
        [(1, ["b", "a"], [10], {"theme": 1}),
         (2, ["x"], [1, 2], {"theme": 2, "promo": 1})],
        "key long, tags array<string>, items array<int>, "
        "prefs map<string,int>"))

    apply_cql_writes(t, ["key"], [
        "UPDATE c SET tags = tags + {'vip'} WHERE key = 1",
        "UPDATE c SET items = items + [20, 30] WHERE key = 1",
        "UPDATE c SET prefs['promo'] = 5 WHERE key = 1",
        "UPDATE c SET tags = tags - {'x'}, items = [0] + items, "
        "prefs = prefs - {'promo'} WHERE key = 2",
        # update on a missing key CREATES the row (Cassandra upsert)
        "UPDATE c SET tags = tags + {'new'}, prefs = prefs + "
        "{'a': 1, 'theme': 9} WHERE key = 3",
    ])
    got = {r["key"]: r for r in t.read().collect()}
    assert got[1]["tags"] == ["a", "b", "vip"]      # sorted set
    assert got[1]["items"] == [10, 20, 30]          # list append order
    assert got[1]["prefs"] == {"theme": 1, "promo": 5}
    assert got[2]["tags"] == []                     # discard emptied it
    assert got[2]["items"] == [0, 1, 2]             # prepend
    assert got[2]["prefs"] == {"theme": 2}          # key removed
    assert got[3]["tags"] == ["new"] and got[3]["items"] is None
    assert got[3]["prefs"] == {"a": 1, "theme": 9}

    # full-literal replacement
    apply_cql_writes(t, ["key"],
                     "UPDATE c SET tags = {'z', 'a'} WHERE key = 1")
    assert sorted(t.read().filter("key = 1").collect()[0]["tags"]) == \
        ["a", "z"]

    # parse rules
    w, = parse_cql_dml("UPDATE c SET tags = tags + {'a'} WHERE key = 1",
                       ["key"])
    assert w.sets["tags"] == CollMut("add", ["a"])
    with pytest.raises(CqlError, match="same column"):
        parse_cql_dml("UPDATE c SET tags = other + {'a'} WHERE key = 1",
                      ["key"])
    with pytest.raises(CqlError, match="SET of elements"):
        parse_cql_dml("UPDATE c SET prefs = prefs - {'k': 1} "
                      "WHERE key = 1", ["key"])
    with pytest.raises(CqlError, match="separate batches"):
        apply_cql_writes(t, ["key"], [
            "UPDATE c SET tags = tags + {'p'} WHERE key = 1",
            "UPDATE c SET tags = tags - {'q'} WHERE key = 1",
        ])
    with pytest.raises(CqlError, match="non-collection"):
        apply_cql_writes(t, ["key"],
                         "UPDATE c SET key2 = key2 + {'a'} WHERE key = 1")


def test_counter_increments_hand_checked(spark, tmp_path):
    """Counter semantics: batch increments fold additively, decrement
    subtracts, increment on a missing key starts from 0, and counter
    ops on non-integral columns raise."""
    import pytest

    from cassandra_elasticsearch_sync_spark.sources.acid import (
        AcidParquetTable,
    )
    from cassandra_elasticsearch_sync_spark.sources.cql_query import CqlError
    from cassandra_elasticsearch_sync_spark.sources.cql_write import (
        apply_cql_writes,
        parse_cql_dml,
    )

    t = AcidParquetTable(spark, str(tmp_path / "cnt"))
    t.init(spark.createDataFrame([(1, 100)], "key long, hits bigint"))
    apply_cql_writes(t, ["key"], [
        "UPDATE c SET hits = hits + 1 WHERE key = 1",
        "UPDATE c SET hits = hits + 1 WHERE key = 1",
        "UPDATE c SET hits = hits - 3 WHERE key = 1",
        "UPDATE c SET hits = hits + 7 WHERE key = 2",   # missing -> 0+7
    ])
    got = {r["key"]: r["hits"] for r in t.read().collect()}
    assert got == {1: 99, 2: 7}    # 100 +1 +1 -3 folded to one -1

    w, = parse_cql_dml("UPDATE c SET hits = hits + 4 WHERE key = 1",
                       ["key"])
    assert w.sets["hits"].op == "incr" and w.sets["hits"].values == 4
    with pytest.raises(CqlError, match="same column"):
        parse_cql_dml("UPDATE c SET hits = other + 1 WHERE key = 1",
                      ["key"])
    t2 = AcidParquetTable(spark, str(tmp_path / "cnt2"))
    t2.init(spark.createDataFrame([(1, "x")], "key long, name string"))
    with pytest.raises(CqlError, match="non-counter"):
        apply_cql_writes(t2, ["key"],
                         "UPDATE c SET name = name + 1 WHERE key = 1")


def test_list_minus_preserves_order(spark, tmp_path):
    """Cassandra list-minus (``items = items - [x]``): removes EVERY
    occurrence of each operand element and PRESERVES survivor order -
    never the set semantics (sort + dedup) that ``- {...}`` applies.
    Bracket vs brace operand selects the overload at parse time."""
    import pytest

    from cassandra_elasticsearch_sync_spark.sources.acid import (
        AcidParquetTable,
    )
    from cassandra_elasticsearch_sync_spark.sources.cql_query import CqlError
    from cassandra_elasticsearch_sync_spark.sources.cql_write import (
        CollMut,
        apply_cql_writes,
        parse_cql_dml,
    )

    t = AcidParquetTable(spark, str(tmp_path / "lm"))
    t.init(spark.createDataFrame(
        [(1, [5, 3, 5, 1, 3, 9]), (2, [7, 7]), (3, None)],
        "key long, items array<int>"))

    apply_cql_writes(t, ["key"], [
        "UPDATE c SET items = items - [3, 9] WHERE key = 1",
        "UPDATE c SET items = items - [7] WHERE key = 2",
        "UPDATE c SET items = items - [1] WHERE key = 3",  # NULL target
    ])
    got = {r["key"]: r["items"] for r in t.read().collect()}
    # every occurrence of 3 and 9 gone; 5,5,1 keep their stored order
    # (array_except would have produced sorted-deduped [1, 5])
    assert got[1] == [5, 3, 5, 1, 3, 9][0:1] + [5, 1]
    assert got[1] == [5, 5, 1]
    assert got[2] == []
    assert got[3] == []   # minus against a missing list -> empty

    # parse: bracket operand = list overload, brace = set overload
    w, = parse_cql_dml("UPDATE c SET items = items - [1, 2] "
                       "WHERE key = 1", ["key"])
    assert w.sets["items"] == CollMut("discard_list", [1, 2])
    w, = parse_cql_dml("UPDATE c SET items = items - {1, 2} "
                       "WHERE key = 1", ["key"])
    assert w.sets["items"].op == "discard"

    # a bracket-minus on a MAP column is rejected (map takes a map/set)
    t2 = AcidParquetTable(spark, str(tmp_path / "lm2"))
    t2.init(spark.createDataFrame(
        [(1, {"a": 1})], "key long, prefs map<string,int>"))
    with pytest.raises(CqlError, match="map operand"):
        apply_cql_writes(t2, ["key"],
                         "UPDATE c SET prefs = prefs - ['a'] WHERE key = 1")


def test_counter_plus_assignment_error_message(spark, tmp_path):
    """A counter increment combined with a plain assignment to the
    same column in one batch raises a COUNTER-specific message, not
    the misleading 'collection column' wording."""
    import pytest

    from cassandra_elasticsearch_sync_spark.sources.acid import (
        AcidParquetTable,
    )
    from cassandra_elasticsearch_sync_spark.sources.cql_query import CqlError
    from cassandra_elasticsearch_sync_spark.sources.cql_write import (
        apply_cql_writes,
    )

    t = AcidParquetTable(spark, str(tmp_path / "cmsg"))
    t.init(spark.createDataFrame([(1, 10)], "key long, hits bigint"))
    with pytest.raises(CqlError, match="counter and non-counter"):
        apply_cql_writes(t, ["key"], [
            "UPDATE c SET hits = hits + 1 WHERE key = 1",
            "UPDATE c SET hits = 5 WHERE key = 1",
        ])
    # the collection wording survives for actual collection collisions
    t2 = AcidParquetTable(spark, str(tmp_path / "cmsg2"))
    t2.init(spark.createDataFrame(
        [(1, ["a"])], "key long, tags array<string>"))
    with pytest.raises(CqlError, match="collection column"):
        apply_cql_writes(t2, ["key"], [
            "UPDATE c SET tags = tags + {'b'} WHERE key = 1",
            "UPDATE c SET tags = ['z'] WHERE key = 1",
        ])


def test_cell_delete_hand_checked(spark, tmp_path):
    """DELETE col FROM: nulls the listed cells, leaves others alive,
    NEVER creates a row for a missing key (a pure cell tombstone is
    invisible in Cassandra), and rejects pk columns."""
    import pytest

    from cassandra_elasticsearch_sync_spark.sources.acid import (
        AcidParquetTable,
    )
    from cassandra_elasticsearch_sync_spark.sources.cql_query import CqlError
    from cassandra_elasticsearch_sync_spark.sources.cql_write import (
        apply_cql_writes,
        parse_cql_dml,
    )

    t = AcidParquetTable(spark, str(tmp_path / "cd"))
    t.init(spark.createDataFrame(
        [(1, "a", 10.0), (2, "b", 20.0)],
        "key long, name string, price double"))
    apply_cql_writes(t, ["key"], [
        "DELETE price FROM c WHERE key = 1",
        "DELETE name, price FROM c WHERE key = 2",
        "DELETE price FROM c WHERE key = 777",     # missing key
    ])
    got = {r["key"]: r for r in t.read().collect()}
    assert set(got) == {1, 2}                      # no row 777 created
    assert got[1]["name"] == "a" and got[1]["price"] is None
    assert got[2]["name"] is None and got[2]["price"] is None

    w, = parse_cql_dml("DELETE price FROM c WHERE key = 1", ["key"])
    assert w.kind == "W" and w.sets == {"price": None} \
        and w.condition == "exists"
    # row delete still parses as before
    w, = parse_cql_dml("DELETE FROM c WHERE key = 1", ["key"])
    assert w.kind == "D"
    with pytest.raises(CqlError, match="primary key"):
        parse_cql_dml("DELETE key FROM c WHERE key = 1", ["key"])


def test_lwt_column_conditions(spark, table):
    # passing condition applies; failing one no-ops WITHOUT a commit
    apply_cql_writes(table, KEY,
                     "UPDATE kv SET price = -1.0 WHERE key = 1 "
                     "IF price >= 10.0 AND version = 100")
    assert (1, -1.0, 100) in _rows(table)
    v0 = table.current_version()
    assert apply_cql_writes(
        table, KEY,
        "UPDATE kv SET price = -2.0 WHERE key = 2 IF price > 100.0") == v0
    assert (2, 20.0, 100) in _rows(table)
    # <, !=, IN forms
    apply_cql_writes(table, KEY,
                     "UPDATE kv SET price = -3.0 WHERE key = 3 "
                     "IF price < 31.0 AND version != 99 AND price IN "
                     "(30.0, 77.0)")
    assert (3, -3.0, 100) in _rows(table)


def test_lwt_condition_on_missing_row_fails_without_upsert(spark, table):
    # an unconditional UPDATE would create key 42; a conditional one
    # must not (Cassandra replies [applied]=false and writes nothing)
    apply_cql_writes(table, KEY,
                     "UPDATE kv SET price = 7.0 WHERE key = 42 "
                     "IF price = null")
    assert all(r[0] != 42 for r in _rows(table))


def test_lwt_null_condition_semantics(spark, table):
    apply_cql_writes(table, KEY, "DELETE version FROM kv WHERE key = 2")
    # = null holds on the unset cell; ordering ops never hold vs null
    apply_cql_writes(table, KEY, "UPDATE kv SET price = -2.0 "
                                 "WHERE key = 2 IF version = null")
    assert (2, -2.0, None) in _rows(table)
    apply_cql_writes(table, KEY, "UPDATE kv SET price = -9.0 "
                                 "WHERE key = 2 IF version >= 0")
    assert (2, -2.0, None) in _rows(table)
    # != null holds only on a set cell
    apply_cql_writes(table, KEY, "DELETE FROM kv WHERE key = 2 "
                                 "IF version != null")
    assert (2, -2.0, None) in _rows(table)
    apply_cql_writes(table, KEY, "DELETE FROM kv WHERE key = 3 "
                                 "IF version != null")
    assert all(r[0] != 3 for r in _rows(table))


def test_lwt_conditional_batch_is_all_or_nothing(spark, table):
    # one failing condition -> NOTHING in the batch lands, even the
    # unconditional statement on the same partition
    apply_cql_writes(table, KEY, """
        BEGIN BATCH
          UPDATE kv SET version = 999 WHERE key = 1;
          UPDATE kv SET price = -5.0 WHERE key = 1 IF price < 0.0;
        APPLY BATCH
    """)
    assert (1, 10.0, 100) in _rows(table)
    # all conditions pass -> the whole batch lands atomically
    v0 = table.current_version()
    apply_cql_writes(table, KEY, """
        BEGIN BATCH
          UPDATE kv SET version = 999 WHERE key = 1;
          UPDATE kv SET price = -5.0 WHERE key = 1 IF price > 0.0;
        APPLY BATCH
    """)
    assert (1, -5.0, 999) in _rows(table)
    assert table.current_version() == v0 + 1


def test_lwt_condition_rules_rejected(spark, table):
    with pytest.raises(CqlError, match="multiple partitions"):
        apply_cql_writes(table, KEY, [
            "UPDATE kv SET price = 1.0 WHERE key = 1",
            "UPDATE kv SET price = 2.0 WHERE key = 2 IF price > 0.0",
        ])
    with pytest.raises(CqlError, match="TIMESTAMP"):
        parse_cql_dml("UPDATE kv USING TIMESTAMP 5 SET price = 1.0 "
                      "WHERE key = 1 IF price > 0.0", KEY)
    with pytest.raises(CqlError, match="PRIMARY KEY"):
        parse_cql_dml("UPDATE kv SET price = 1.0 WHERE key = 1 "
                      "IF key = 1", KEY)
    with pytest.raises(CqlError, match="unknown column"):
        apply_cql_writes(table, KEY, "UPDATE kv SET price = 1.0 "
                                     "WHERE key = 1 IF nope = 1")
    with pytest.raises(CqlError, match="IF EXISTS"):
        parse_cql_dml("UPDATE kv SET price = 1.0 WHERE key = 1 "
                      "IF NOT EXISTS", KEY)


def test_truncate_is_one_commit_and_time_travels(spark, table):
    from cassandra_elasticsearch_sync_spark.sources.cql_write import (
        cql_truncate,
    )
    v0 = table.current_version()
    v1 = cql_truncate(table, "TRUNCATE kv")
    assert v1 == v0 + 1 and table.read().count() == 0
    # schema survives; writes after the truncate land normally
    apply_cql_writes(table, KEY,
                     "INSERT INTO kv (key, price, version) VALUES "
                     "(7, 70.0, 700)")
    assert _rows(table) == [(7, 70.0, 700)]
    # time travel still reads the pre-truncate snapshot
    assert table.read(version=v0).count() == 3
    with pytest.raises(CqlError, match="TRUNCATE"):
        cql_truncate(table, "TRUNCATE")
    with pytest.raises(CqlError, match="unsupported CQL DML"):
        parse_cql_dml("TRUNCATE kv", KEY)


def _price_batch(keys, price):
    return [f"UPDATE kv SET price = {k}{price}, version = 300 "
            f"WHERE key = {k}" for k in keys]


def test_cql_batch_job_count_pinned(spark, tmp_path, shipped_jobs):
    """With AQE on, a batch is 1 Spark job: the write. The fold leaves
    one row per key, so the batch hands the merge its exact (rows, min
    key, max key): no source pre-pass, no probe on the one candidate
    entry, and no cache of the source. The batch rows are a JVM
    LocalRelation with a real size estimate; they and the entry, one
    part file as a store's bootstrap writes it, each read one split,
    so the merge is a full outer join in that one partition with no
    exchange and no broadcast, and it writes one part file again. That
    holds for a batch that only updates, for an 8-key batch that also
    upserts 5 absent keys (the inserts come out of the same pass), and
    for a DELETE of an absent key, which the merge drops: no write of
    its own, so no 0-row part file either."""
    import pyarrow.parquet as pq

    table = AcidParquetTable(spark, str(tmp_path / "kv"))
    table.init(spark.createDataFrame(
        [(1, 10.0, 100), (2, 20.0, 100), (3, 30.0, 100)],
        "key bigint, price double, version bigint").coalesce(1))
    batch = _price_batch
    assert shipped_jobs(
        lambda: apply_cql_writes(table, KEY, batch(range(1, 4), ".25"))) == 1
    assert _rows(table) == [(k, k + 0.25, 300) for k in range(1, 4)]
    assert shipped_jobs(
        lambda: apply_cql_writes(table, KEY, batch(range(1, 9), ".5"))) == 1
    assert _rows(table) == [(k, k + 0.5, 300) for k in range(1, 9)]
    assert shipped_jobs(lambda: apply_cql_writes(
        table, KEY, batch([1], ".75") + ["DELETE FROM kv WHERE key = 99"])) == 1
    assert _rows(table) == [(1, 1.75, 300)] + [
        (k, k + 0.5, 300) for k in range(2, 9)]
    (entry,) = table._manifest(table.current_version())["files"]
    parts = [f for f in os.listdir(entry) if f.endswith(".parquet")]
    assert len(parts) == 1 and all(
        pq.read_metadata(os.path.join(entry, f)).num_rows for f in parts)


def test_cql_batch_into_several_splits_takes_shuffled_plan(table,
                                                           shipped_jobs):
    """The fixture's entry holds several part files (its three rows
    spread over the session's slices), so it reads as several splits
    and the batch is not put into one partition: the full outer join
    shuffles the batch rows and the entry, 3 jobs (two shuffle-map
    stages and the write)."""
    assert shipped_jobs(lambda: apply_cql_writes(
        table, KEY, _price_batch(range(1, 4), ".25"))) == 3
    assert _rows(table) == [(k, k + 0.25, 300) for k in range(1, 4)]


def test_bad_value_fails_on_the_driver_naming_its_column(spark, tmp_path,
                                                        shipped_jobs):
    """A value that does not fit its column (a number for a ``text``
    column, as Cassandra rejects too) fails while the batch is built,
    with an error that names the column and before any Spark job runs -
    not as an executor stack trace in the middle of the merge."""
    t = AcidParquetTable(spark, str(tmp_path / "kv"))
    t.init(spark.createDataFrame([(1, "a")], "key bigint, name string"))
    v0 = t.current_version()

    def write():
        with pytest.raises(CqlError, match="'name'"):
            apply_cql_writes(t, KEY, "UPDATE kv SET name = 5 WHERE key = 1")

    assert shipped_jobs(write) == 0
    assert t.current_version() == v0
    assert _rows(t) == [(1, "a")]


def test_cql_batch_stats_prune_but_keep_every_match(spark, tmp_path):
    """The batch's own key bounds prune the merge to the entries they
    overlap: untouched slices keep their paths, and an upsert landing
    in a slice, on a slice edge, or past every slice is applied."""
    t = AcidParquetTable(spark, str(tmp_path / "kv"))
    t.init_clustered(spark.createDataFrame(
        [(k, float(k), 100) for k in range(30)],
        "key bigint, price double, version bigint"),
        ["key"], n_slices=3, slice_uppers=[9, 19, None])
    before = set(t._manifest(t.current_version())["files"])
    apply_cql_writes(t, KEY, [
        "UPDATE kv SET price = -1.0 WHERE key = 20",
        "UPDATE kv SET price = -2.0 WHERE key = 29",
        "INSERT INTO kv (key, price, version) VALUES (35, 3.5, 200)",
    ])
    after = set(t._manifest(t.current_version())["files"])
    assert len(before & after) == 2           # keys 0-19 carried over
    got = dict((r[0], r[1]) for r in _rows(t))
    assert (got[20], got[29], got[35], got[19]) == (-1.0, -2.0, 3.5, 19.0)
    assert len(got) == 31
