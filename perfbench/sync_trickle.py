"""``sync_trickle``: a small write on each replica, one sync cycle, and
read-your-write lookups on the opposite replica.

Two ACID stores stand in for the Cassandra table (A) and the ES index
(B). They are built from ``sync.ops.side_a``/``side_b`` over the seeded
150k-row ``orders`` and converged by ``SyncEngine.full_sync`` during
set-up. One op:

1. a CQL batch of 8 single-key ``UPDATE``s on A (``apply_cql_writes``);
2. an ES ``_update_by_query`` over 10 other keys on B;
3. one ``incremental_cycle``;
4. ``es_search`` on B for A's keys and ``cql_select`` on A for B's.

The op's latency is the replication lag a client sees: from the start
of the first write until both lookups return the new values. Versions
rise strictly from op to op and no key is written twice, so every
cycle ships exactly 18 rows.
"""

from __future__ import annotations

import datetime as dt
import os
import random

from cassandra_elasticsearch_sync_spark.sources.cql_query import cql_select
from cassandra_elasticsearch_sync_spark.sources.cql_write import (
    apply_cql_writes,
)
from cassandra_elasticsearch_sync_spark.sources.es_query import es_search
from cassandra_elasticsearch_sync_spark.sources.es_write import (
    es_update_by_query,
)
from cassandra_elasticsearch_sync_spark.sources.readers import cassandra_table
from cassandra_elasticsearch_sync_spark.sync.engine import AcidStore, SyncEngine
from cassandra_elasticsearch_sync_spark.sync.ops import side_a, side_b

import data
from spans import TracedStore, TracedTable, Tracer, collect

CQL_KEYS = 8
ES_KEYS = 10
# Later than every corpus version (orders end 2001-08-01; side_b's
# local edits add a day), so each write is news to the other side.
FIRST_VERSION = dt.datetime(2002, 1, 1)


class SyncTrickle:
    name = "sync_trickle"
    ops_per_round = 1
    # Measured on 4 cores: op 1 takes ~2.3x the settled time, op 2
    # ~1.3x, op 4 ~1.1x, op 5 ~1.05x. Four warm-up ops trade that last
    # few percent for a minute-long run.
    warmup_rounds = 4
    end_checks = 1

    def __init__(self, spark, work: str, seed: int, tracer: Tracer):
        self.spark = spark
        self.work = work
        self.rng = random.Random(seed)
        self.seed = seed
        self.tracer = tracer

    def setup(self) -> None:
        spark, work, tracer = self.spark, self.work, self.tracer
        corpus = os.path.join(work, "corpus")
        data.write_corpus(corpus, self.seed)
        with tracer.span("readers.load"):
            cassandra_table(spark, corpus, "orders")
        self.a = AcidStore(spark, os.path.join(work, "store_a"),
                           init=side_a(spark, corpus))
        self.b = AcidStore(spark, os.path.join(work, "store_b"),
                           init=side_b(spark, corpus))
        self.roots = [self.a.table.root, self.b.table.root]
        tracer.roots = self.roots
        # Wrappers only in a traced run, so untraced runs measure the
        # engine's own objects.
        traced = tracer.enabled
        store = (lambda s: TracedStore(s, tracer)) if traced else (lambda s: s)
        table = (lambda t: TracedTable(t, tracer)) if traced else (lambda t: t)
        self.engine = SyncEngine(spark, store(self.a), store(self.b),
                                 os.path.join(work, "state"))
        self.table_a = table(self.a.table)
        self.table_b = table(self.b.table)
        with tracer.span("engine.full_sync"):
            self.engine.full_sync()
        # o_orderkey is 0..n-1; a key with key % 97 != 0 is in side_a
        # or side_b whatever its date, so both stores hold it now.
        self.keys = [k for k in range(data.ORDERS_ROWS) if k % 97]
        # Each op writes keys no earlier op wrote. A key written on one
        # side in op i and on the other in op i+1 is legitimately
        # shipped again (the watermark is inclusive and delivery
        # at-least-once), which would make the shipped count vary.
        self.rng.shuffle(self.keys)

    def prepare(self, i: int) -> dict:
        n = CQL_KEYS + ES_KEYS
        picked = self.keys[i * n:(i + 1) * n]
        ka, kb = sorted(picked[:CQL_KEYS]), sorted(picked[CQL_KEYS:])
        va = FIRST_VERSION + dt.timedelta(seconds=2 * i)
        vb = va + dt.timedelta(seconds=1)
        prices_a = {k: round(self.rng.uniform(1.0, 1e6), 2) for k in ka}
        price_b = round(self.rng.uniform(1.0, 1e6), 2)
        return {
            "cql": [f"UPDATE kv SET price = {p!r}, version = "
                    f"'{va:%Y-%m-%d %H:%M:%S}' WHERE key = {k}"
                    for k, p in prices_a.items()],
            "es_query": {"terms": {"key": kb}},
            "es_script": f"ctx._source.price = {price_b!r}; "
                         f"ctx._source.version = '{vb:%Y-%m-%d %H:%M:%S}';",
            "read_b": {"terms": {"key": ka}},
            "read_a": "SELECT key, price FROM kv WHERE key IN "
                      f"({', '.join(map(str, kb))})",
            "expect_b": prices_a,
            "expect_a": {k: price_b for k in kb},
        }

    def execute(self, p: dict) -> dict:
        tracer = self.tracer
        with tracer.span("cql_write.apply", io=True):
            apply_cql_writes(self.table_a, ["key"], p["cql"])
        with tracer.span("es_write.ubq", io=True):
            resp = es_update_by_query(self.table_b, p["es_query"],
                                      script=p["es_script"])
        with tracer.span("engine.cycle"):
            shipped = self.engine.incremental_cycle()
        with tracer.span("acid.read"):
            b = self.b.read()
        rows_b = collect(tracer, "es_query",
                         lambda: es_search(b, p["read_b"])
                         .select("key", "price"))
        with tracer.span("acid.read"):
            a = self.a.read()
        rows_a = collect(tracer, "cql_query",
                         lambda: cql_select(a, p["read_a"]), cql=p["read_a"])
        return {"updated": resp["updated"], "shipped": shipped,
                "rows_a": rows_a, "rows_b": rows_b}

    def check(self, i: int, p: dict, out: dict) -> list[str]:
        errors = []
        if out["updated"] != ES_KEYS:
            errors.append(f"_update_by_query updated {out['updated']} "
                          f"docs, expected {ES_KEYS}")
        if out["shipped"] != CQL_KEYS + ES_KEYS:
            errors.append(f"cycle shipped {out['shipped']} rows, expected "
                          f"{CQL_KEYS + ES_KEYS}")
        for side, want in (("b", p["expect_b"]), ("a", p["expect_a"])):
            got = {r["key"]: r["price"] for r in out[f"rows_{side}"]}
            if got != want:
                errors.append(f"read-your-write on {side.upper()}: got "
                              f"{got}, expected {want}")
        return errors

    def finish(self) -> list[tuple[int | None, str]]:
        """The end check: a quiet cycle ships nothing, then the two
        stores hold the same rows."""
        errors = []
        n = self.engine.incremental_cycle()
        if n:
            errors.append((None, f"quiet cycle shipped {n} rows, expected 0"))
        if not self.engine.in_sync():
            errors.append((None, "stores differ after the quiet cycle"))
        return errors
