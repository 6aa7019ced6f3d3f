"""The two plans of a read request that needs a distribution
(``es_aggregate``, and ``cql_select``'s DISTINCT, aggregate, PER
PARTITION LIMIT and unlimited ORDER BY branches). When the request's
input already reads as one split and fits
``spark.sql.maxSinglePartitionBytes`` (``localdata.single_split``),
it runs in that one partition: one Spark job with AQE on, no exchange.
An input of several splits keeps the shuffled plan: a map stage that
AQE runs as a job of its own, then the result stage.

A table written as one part file reads as one split; the same rows
written as three part files read as three."""

from __future__ import annotations

import pytest

from cassandra_elasticsearch_sync_spark.catalog import load_table
from cassandra_elasticsearch_sync_spark.sources import cql_query
from cassandra_elasticsearch_sync_spark.sources.cql_query import cql_select
from cassandra_elasticsearch_sync_spark.sources.es_query import (
    es_aggregate,
    es_search,
)

from conftest import SF_DIR

_TERMS_AVG = {"by_priority": {
    "terms": {"field": "o_orderpriority", "size": 5},
    "aggs": {"avg_price": {"avg": {"field": "o_totalprice"}}}}}
_GROUP_BY = ("SELECT l_orderkey, count(*) AS n_items, "
             "sum(l_quantity) AS total_qty FROM lineitem "
             "GROUP BY l_orderkey")
_DISTINCT = "SELECT DISTINCT o_custkey FROM orders LIMIT 20"
_CQL = [("lineitem", _GROUP_BY), ("orders", _DISTINCT)]


@pytest.fixture()
def tables(spark, tmp_path):
    """``tables(name, parts)`` -> the corpus table ``name`` as one
    split (``parts=1``, the corpus file itself), or the same rows
    written as ``parts`` part files."""
    def table(name, parts):
        df = load_table(spark, SF_DIR, name)
        if parts == 1:
            return df
        df.repartition(parts).write.parquet(str(tmp_path / f"{name}.parquet"))
        return load_table(spark, str(tmp_path), name)
    return table


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


def _terms_avg(orders):
    return es_aggregate(
        es_search(orders, {"range": {"o_orderdate": {
            "gte": "1993-01-01", "lt": "1996-01-01"}}}), _TERMS_AVG)


def test_es_aggregate_over_one_split_is_one_job(tables, shipped_cost):
    """terms + avg over a one-split index: the filter, both aggregate
    steps and the top 5 run in one task of one job."""
    out = _terms_avg(tables("orders", 1))
    assert "Coalesce" in _plan(out)
    assert "Exchange" not in _plan(out)
    assert shipped_cost(out.collect) == (1, 1)


def test_es_aggregate_over_several_splits_keeps_shuffled_plan(
        tables, shipped_cost):
    """The same request over an index of three part files keeps the
    hash exchange: its map stage is a job of its own, 2 in all, and
    it answers what the one-split plan answers."""
    one, three = _terms_avg(tables("orders", 1)), _terms_avg(
        tables("orders", 3))
    assert "Coalesce" not in _plan(three)
    assert "Exchange" in _plan(three)
    assert shipped_cost(three.collect)[0] == 2
    assert _rows(three) == _rows(one)


def test_es_aggregate_background_counts_toward_the_split_rule(
        tables, shipped_cost):
    """A ``global`` agg reads ``background``: a one-split ``df`` with
    a three-split background keeps the shuffled plan."""
    one = tables("orders", 1)
    aggs = {"all": {"global": {}, "aggs": {
        "avg_price": {"avg": {"field": "o_totalprice"}}}}}
    assert "Coalesce" in _plan(es_aggregate(one, aggs, background=one))
    assert "Coalesce" not in _plan(
        es_aggregate(one, aggs, background=tables("orders", 3)))


@pytest.mark.parametrize("name, stmt", _CQL, ids=["group_by", "distinct"])
def test_cql_distribution_over_one_split_is_one_job(tables, shipped_cost,
                                                    name, stmt):
    """GROUP BY and SELECT DISTINCT over a one-split table run in its
    one partition: 1 job, no exchange."""
    out = cql_select(tables(name, 1), stmt)
    assert "Exchange" not in _plan(out)
    assert shipped_cost(out.collect)[0] == 1


@pytest.mark.parametrize("name, stmt", _CQL, ids=["group_by", "distinct"])
def test_cql_distribution_over_several_splits_keeps_shuffled_plan(
        tables, shipped_cost, name, stmt):
    """The same statements over three part files keep the exchange
    and its map job, and answer the same rows."""
    one, three = (cql_select(tables(name, 1), stmt),
                  cql_select(tables(name, 3), stmt))
    assert "Coalesce" not in _plan(three)
    assert "Exchange" in _plan(three)
    assert shipped_cost(three.collect)[0] == 2
    assert _rows(three) == _rows(one)


def test_cql_in_lookup_plan_is_untouched(tables, monkeypatch):
    """A filter-and-projection read (the read-your-write lookup's
    shape) never asks the split rule and plans no coalesce, even over
    a one-split table."""
    def refuse(*dfs):
        raise AssertionError("single_split consulted for a plain read")

    monkeypatch.setattr(cql_query, "single_split", refuse)
    out = cql_select(tables("lineitem", 1),
                     "SELECT l_orderkey, l_quantity FROM lineitem "
                     "WHERE l_orderkey IN (1, 2, 3)")
    assert "Coalesce" not in _plan(out)
    assert out.count() > 0
