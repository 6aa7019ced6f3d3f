"""``client_reads``: read requests against the two stores' read paths.

Requests cycle through four types over the seeded ``orders`` and
``lineitem`` (via ``readers.es_index``/``readers.cassandra_table``),
each with seeded parameters whose selectivity varies from a handful of
rows to tens of thousands:

- an ES ``search_after`` page (``es_search_page``);
- an ES terms + avg aggregation over a date range (``es_aggregate``);
- a CQL single-partition read with a clustering range (``cql_select``);
- a CQL ``IN`` + ``GROUP BY`` over lineitem partitions (``cql_select``).

A request's latency runs from building the request to having its rows.
Results are checked after the timed phase against DuckDB running the
same request as SQL over the same parquet files.
"""

from __future__ import annotations

import datetime as dt
import math
import os
import random
from dataclasses import dataclass

from cassandra_elasticsearch_sync_spark.sources.cql_query import cql_select
from cassandra_elasticsearch_sync_spark.sources.es_query import (
    es_aggregate,
    es_search,
    es_search_page,
)
from cassandra_elasticsearch_sync_spark.sources.readers import (
    cassandra_table,
    es_index,
)

import data
from spans import Tracer, collect


@dataclass
class Request:
    kind: str
    layer: str
    build: object          # tables -> DataFrame
    sql: str               # the same request for DuckDB
    ordered: bool          # whether row order is part of the answer
    cql: str | None = None


def _day(offset: int) -> str:
    return (data.DATE_LO + dt.timedelta(days=offset)).strftime("%Y-%m-%d")


def search_page(rng: random.Random) -> Request:
    status = rng.choice("FOP")
    width = rng.choice([10_000.0, 60_000.0, 250_000.0])
    lo = round(rng.uniform(1000.0, 500_000.0 - width), 2)
    hi = round(lo + width, 2)
    cursor = round(lo + width * rng.uniform(0.3, 1.0), 2)
    size = rng.choice([10, 50, 200])
    query = {"bool": {"must": [
        {"term": {"o_orderstatus": status}},
        {"range": {"o_totalprice": {"gte": lo, "lt": hi}}}]}}
    cols = "o_orderkey, o_orderpriority, o_totalprice"
    return Request(
        "es_search_page", "es_query",
        lambda t: es_search_page(
            t["orders"], query,
            sort=[("o_totalprice", "desc"), ("o_orderkey", "asc")],
            search_after=[cursor, 0], size=size).select(*cols.split(", ")),
        f"SELECT {cols} FROM orders WHERE o_orderstatus = '{status}' "
        f"AND o_totalprice >= {lo!r} AND o_totalprice < {hi!r} "
        f"AND (o_totalprice < {cursor!r} OR (o_totalprice = {cursor!r} "
        f"AND o_orderkey > 0)) "
        f"ORDER BY o_totalprice DESC, o_orderkey ASC LIMIT {size}",
        ordered=True)


def terms_avg(rng: random.Random) -> Request:
    days = rng.choice([30, 180, 720])
    start = rng.randrange(0, data.DATE_DAYS - days)
    d1, d2 = _day(start), _day(start + days)
    aggs = {"by_priority": {
        "terms": {"field": "o_orderpriority", "size": 5},
        "aggs": {"avg_price": {"avg": {"field": "o_totalprice"}}}}}
    return Request(
        "es_aggregate", "es_query",
        lambda t: es_aggregate(
            es_search(t["orders"],
                      {"range": {"o_orderdate": {"gte": d1, "lt": d2}}}),
            aggs),
        "SELECT o_orderpriority AS key, COUNT(*) AS doc_count, "
        "ROUND(CAST(CAST(SUM(CAST(o_totalprice AS DECIMAL(38,10))) "
        "AS DECIMAL(38,4)) AS DOUBLE) / COUNT(o_totalprice), 6) "
        "AS avg_price FROM orders "
        f"WHERE o_orderdate >= TIMESTAMP '{d1}' "
        f"AND o_orderdate < TIMESTAMP '{d2}' "
        "GROUP BY o_orderpriority ORDER BY doc_count DESC, key LIMIT 5",
        ordered=True)


def partition_slice(rng: random.Random) -> Request:
    cust = rng.randrange(0, data.ORDERS_ROWS // 10)
    since = _day(rng.choice([0, 3 * 365, 6 * 365]))
    where = (f"o_custkey = {cust} "
             f"AND o_orderdate >= '{since} 00:00:00'")
    cql = (f"SELECT o_orderkey, o_orderdate, o_totalprice FROM orders "
           f"WHERE {where}")
    return Request(
        "cql_partition", "cql_query",
        lambda t: cql_select(t["orders"], cql),
        f"SELECT o_orderkey, o_orderdate, o_totalprice FROM orders "
        f"WHERE o_custkey = {cust} AND o_orderdate >= TIMESTAMP '{since}'",
        ordered=False, cql=cql)


def in_group_by(rng: random.Random) -> Request:
    keys = ", ".join(map(str, sorted(rng.sample(
        range(data.ORDERS_ROWS), rng.choice([4, 32, 256])))))
    select = ("SELECT l_orderkey, count(*) AS n_items, "
              "sum(l_quantity) AS total_qty, "
              "max(l_extendedprice) AS max_price FROM lineitem ")
    cql = f"{select}WHERE l_orderkey IN ({keys}) GROUP BY l_orderkey"
    return Request(
        "cql_in_group_by", "cql_query",
        lambda t: cql_select(t["lineitem"], cql),
        cql, ordered=False, cql=cql)


MIX = (search_page, terms_avg, partition_slice, in_group_by)


def _same(a, b) -> bool:
    if isinstance(a, float) and isinstance(b, float):
        return math.isclose(a, b, rel_tol=1e-12, abs_tol=2e-6)
    return a == b


def rows_match(got: list, want: list, ordered: bool) -> bool:
    got = [tuple(r) for r in got]
    want = [tuple(r) for r in want]
    if not ordered:
        got, want = sorted(got), sorted(want)
    return len(got) == len(want) and all(
        len(g) == len(w) and all(_same(x, y) for x, y in zip(g, w))
        for g, w in zip(got, want))


class ClientReads:
    name = "client_reads"
    ops_per_round = len(MIX)
    # The first round pays planner and codegen warm-up (up to 5x the
    # settled latency); from the fourth round on latency stays within
    # the round-to-round spread.
    warmup_rounds = 4
    end_checks = 0

    def __init__(self, spark, work: str, seed: int, tracer: Tracer):
        self.spark = spark
        self.work = work
        self.seed = seed
        self.rng = random.Random(seed)
        self.tracer = tracer
        self.roots: list[str] = []
        self.answered: list[tuple[int, Request, list]] = []

    def setup(self) -> None:
        self.corpus = os.path.join(self.work, "corpus")
        data.write_corpus(self.corpus, self.seed)
        with self.tracer.span("readers.load"):
            self.tables = {
                "orders": es_index(self.spark, self.corpus, "orders"),
                "lineitem": cassandra_table(self.spark, self.corpus,
                                            "lineitem"),
            }

    def prepare(self, i: int) -> Request:
        return MIX[i % len(MIX)](self.rng)

    def execute(self, req: Request) -> dict:
        return {"rows": collect(self.tracer, req.layer,
                                lambda: req.build(self.tables), req.cql)}

    def check(self, i: int, req: Request, out: dict) -> list[str]:
        # DuckDB runs after the timed phase, so it never shares the
        # CPU with a timed request.
        self.answered.append((i, req, out["rows"]))
        return []

    def finish(self) -> list[tuple[int | None, str]]:
        """Each answered request against DuckDB over the same files."""
        import duckdb

        con = duckdb.connect()
        try:
            for t in ("orders", "lineitem"):
                path = os.path.join(self.corpus, f"{t}.parquet")
                con.execute(f"CREATE VIEW {t} AS "
                            f"SELECT * FROM read_parquet('{path}')")
            errors = []
            for i, req, rows in self.answered:
                want = con.execute(req.sql).fetchall()
                if not rows_match(rows, want, req.ordered):
                    errors.append((i, f"{req.kind}: {len(rows)} rows differ "
                                      f"from DuckDB's {len(want)} for: "
                                      f"{req.sql}"))
            return errors
        finally:
            con.close()
