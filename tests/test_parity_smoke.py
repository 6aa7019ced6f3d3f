"""Fast-tier oracle-parity smoke (round 13).

The FULL 556-query sweep lives in test_oracle_parity.py and is marked
``slow`` (the driver's plain-pytest budget could not finish it -
VERIFY_r12); this file keeps one representative query per tier in the
fast tier so a plain ``pytest tests/`` still proves the Spark/DuckDB
semantics bridge end to end: relational star joins, window top-k,
as-of union-window, LWW merge, ACID MERGE and its maintenance,
branch and clone commits, CQL and ES compilers, the CQL/ES write
paths and the sync cycle on the ACID store, and the
LLM-pipeline dedup/text/similarity/sketch operators.
"""

from __future__ import annotations

import os

import pytest

from cassandra_elasticsearch_sync_spark.registry import all_specs
from tests.oracle_harness import compare, duck_connection

SF_DIR = os.environ.get("PARITY_SF_DIR", "/root/testdata/sf0.001")

SMOKE = [
    "flagship_pricing_summary",    # relational agg core
    "q5_local_supplier_volume",    # 6-way star join
    "e4_topk_per_group",           # window top-k
    "c8_asof_join",                # as-of union+window
    "d10_pivot",                   # events pivot
    "d4b_hll_sketch_exact",        # from-scratch sketch
    "l1_snapshot_diff",            # sync diff (full-outer)
    "l3_lww_merge",                # LWW resolution
    "l14_acid_merge_upsert",       # ACID MERGE commit path
    "a2m_cql_group_by_aggregate",  # CQL compiler
    "a2r_cql_write_path",          # CQL DML write path
    "a3dy_es_update_by_query",     # ES update-by-query write path
    "a3dz_es_delete_by_query",     # ES delete-by-query write path
    "l26_sync_cycle_on_acid",      # sync cycle on the ACID store
    "l27_acid_replace_where",      # ACID replaceWhere rewrite commit
    "l28_acid_compact_small",      # ACID bin-packing compaction
    "l19_acid_mor_delete",         # ACID merge-on-read delete + compact
    "l35_merge_not_matched_by_source",  # MERGE NOT MATCHED BY SOURCE
    "l23_acid_wap_publish",        # ACID branch write-audit-publish
    "l39_acid_deep_clone",         # ACID deep clone
    "a3g_es_composite_agg",        # ES DSL compiler
    "a3x_es_field_collapse",       # ES search features
    "k1_exact_dedup",              # pipeline dedup
    "k2_minhash_lsh_pairs",        # MinHash-LSH
    "k3_cosine_topk",              # similarity search
    "k4_tfidf",                    # text stats
    "k5_keyword_score",            # lexicon scoring
]


@pytest.fixture(scope="module")
def duck():
    con = duck_connection(SF_DIR)
    yield con
    con.close()


@pytest.mark.parametrize("name", SMOKE)
def test_parity_smoke(spark, duck, name):
    spec = all_specs()[name]
    assert spec.oracle is not None, f"{name} lost its oracle"
    df = spec.fn(spark, SF_DIR)
    res = compare(name, df, duck, spec.oracle)
    assert res.ok, str(res)
