"""Catalog-wide oracle test: every declared query must hash-match its DuckDB
oracle at sf0.001 (the driver gate runs sf0.01 — same comparison, more rows).
"""

from __future__ import annotations

import duckdb
import pytest

from thymeflow_back_spark import queries as catalog
from thymeflow_back_spark.tables import TABLE_NAMES

import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))
from tools.check import compare  # noqa: E402
from tests.conftest import SF_SMOKE  # noqa: E402


@pytest.fixture(scope="module")
def oracle_con():
    con = duckdb.connect()
    for t in TABLE_NAMES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{SF_SMOKE}/{t}.parquet'")
    return con


@pytest.mark.parametrize("name", sorted(catalog.QUERIES))
def test_query_matches_oracle(name, spark, oracle_con):
    from thymeflow_back_spark.operators.cachereg import release_pinned

    q = catalog.QUERIES[name]
    try:
        spark_pd = q.spark(spark, SF_SMOKE).toPandas()
    finally:
        release_pinned()  # operator/store pins are per-query state
    if q.oracle is None:
        assert spark_pd is not None  # rows-only check
        return
    oracle_pd = oracle_con.execute(q.oracle).fetchdf()
    problems = compare(name, spark_pd, oracle_pd)
    assert not problems, problems


def test_entry_runs(spark):
    sys.path.insert(0, str(Path(__file__).resolve().parent.parent))
    import __spark_entry__ as entry_mod

    df = entry_mod.entry(spark)
    assert df.count() >= 0
    qs, oracles = entry_mod.queries(), entry_mod.oracle_sql()
    assert set(oracles) <= set(qs)
    assert len(qs) >= 10


def test_driver_priority_names_exist():
    """A typo in _DRIVER_PRIORITY silently deprioritizes a query in the
    driver's 50-row rotation window — fail loudly instead."""
    from thymeflow_back_spark.queries.catalog import _DRIVER_PRIORITY, QUERIES

    missing = [n for n in _DRIVER_PRIORITY if n not in QUERIES]
    assert not missing, f"unknown names in _DRIVER_PRIORITY: {missing}"
    assert len(set(_DRIVER_PRIORITY)) == len(_DRIVER_PRIORITY)


def test_query_map_order_leads_with_unverified():
    """queries() must present optimization-touched-but-unverified rows
    first (round-11 VERDICT item 1): the 29 rows whose semantics-critical
    code round 11 changed AFTER their last driver check, then the bench
    rows round 12's optimizations touch, so the driver's 50-row window
    converts the builder's self-certified equivalence claims into driver
    ground truth. The invariant is that the map's head IS the priority
    list, verbatim — a fixed window assertion went stale every time the
    new-row block grew."""
    from thymeflow_back_spark.queries.catalog import _DRIVER_PRIORITY, query_map

    order = list(query_map())
    assert order[: len(_DRIVER_PRIORITY)] == list(_DRIVER_PRIORITY)
    # the r11-touched and r12-touched rows stay inside the driver's
    # 50-row correctness window
    head50 = order[:50]
    assert order[0] == "q_semantic_dedup"
    for name in ("q_quality_classifier", "q_owl_closure",
                 "q_rdf_rdfs_closure", "q_dedup_simhash",
                 "q_dedup_prefix_filter", "q_embedding_near_dup_ann",
                 "q_similarity_pq_rerank", "q_kcenter_sample",
                 "q_streaming_ivf_upsert", "q_components_star",
                 "q_semantic_components", "q_label_propagation",
                 "q_dedup_minhash_lsh", "q_bpe_encode", "q_pagerank"):
        assert name in head50, (name, head50)
