"""Query registry: name -> (spark impl, oracle SQL, bench flag).

Conventions (driver compare is column-name-sorted value hashing):
- Alias every computed column identically in Spark and oracle SQL.
- Monetary/quantity aggregates go through exact decimal arithmetic and are
  cast back to double only at the end, so Spark and DuckDB produce bit-equal
  values regardless of float summation order (see ``dec``/``dsum``).
- Every query must be fully deterministic: total ordering inside any window,
  explicit tie-breaks for any top-k.
"""

from __future__ import annotations

from collections.abc import Callable
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession

SparkQuery = Callable[[SparkSession, str], DataFrame]


@dataclass(frozen=True)
class Query:
    name: str
    spark: SparkQuery
    oracle: str | None  # DuckDB SQL; None => driver does rows-only check
    bench: bool = False  # include in bench.py headline set
    doc: str = ""


QUERIES: dict[str, Query] = {}


def query(name: str, oracle: str | None, bench: bool = False, doc: str = ""):
    """Decorator registering a query implementation."""

    def wrap(fn: SparkQuery) -> SparkQuery:
        if name in QUERIES:
            raise ValueError(f"duplicate query name {name!r}")
        QUERIES[name] = Query(name=name, spark=fn, oracle=oracle, bench=bench, doc=doc or (fn.__doc__ or ""))
        return fn

    return wrap


# The driver's per-round correctness file caps at 50 rows taken in
# queries() order. Every catalog row has appeared green in SOME
# CORRECTNESS_r*.json; to keep that record fresh under rotation, rows
# whose LAST driver check is oldest lead the map — EXCEPT that queries
# whose semantics-critical code was touched by an optimization round
# outrank stale-but-untouched rows (round-11 VERDICT item 1: 30 of the
# 38 queries touched by round-11 optimizations were last
# driver-verified BEFORE those changes; their post-change correctness
# must become driver ground truth before anything else rotates in).
# Current window: the CC rows below lead, then the memo-site rows, the
# round-11-touched but unverified rows, the round-12-touched bench rows,
# and the stalest r8-fresh rows alphabetically; rows past slot 50 roll to
# the next round.
_DRIVER_PRIORITY = [
    # min-label CC consumers unverified since the round-12 loop
    # change, then the CC rows whose fixpoint rounds moved to a cloned
    # loop session:
    "q_semantic_dedup",
    "q_agent_name_weights",
    "q_components_star",
    "q_semantic_components",
    "q_primary_facet",
    "q_rdf_sameas_components",
    "q_dedup_clusters",
    # rows whose shingle / PQ / BPE artifact moved behind the one
    # cross-query memo (operators/cachereg.memo):
    "q_dedup_ngram_jaccard",
    "q_dedup_minhash_lsh",
    "q_contamination_lsh",
    "q_similarity_pq",
    "q_similarity_pq_rerank",
    "q_similarity_ivfpq",
    "q_bpe_train",
    "q_bpe_encode",
    "q_bpe_bytelevel",
    # touched by round-11 optimization items 6/8/9/11/12/13/14/16/17/18
    # but last driver-verified on the PRE-change code (r10 or earlier):
    "q_langid_nb",
    "q_langid_holdout",
    "q_langid_agreement",
    "q_ccnet_filter",
    "q_quality_classifier",
    "q_classifier_bernoulli",
    "q_streaming_nb_train",
    "q_doremi_weights",
    "q_score_drift_psi",
    "q_streaming_drift_psi",
    "q_owl_closure",
    "q_rdf_rdfs_closure",
    "q_rdf_ifp_sameas",
    "q_dedup_simhash",
    "q_dedup_prefix_filter",
    "q_embedding_near_dup_ann",
    "q_similarity_ivf",
    "q_similarity_jl",
    "q_similarity_jl_rerank",
    "q_kcenter_sample",
    "q_cluster_quota",
    "q_streaming_ivf_upsert",
    # queries whose operators round 12 touches (fixpoint partition
    # sizing, minhash signature sharing, BPE merge batching, remaining
    # Column-tree builders) — their post-change correctness needs
    # driver verification this round:
    "q_streaming_components",
    "q_label_propagation",
    "q_lsh_param_select",
    "q_similarity_sq8",
    "q_pagerank",
    "q_kmeans_clusters",
    # last driver-verified in round 8, alphabetical (continuing the
    # r11 rotation where its 50-row window left off; overflow past
    # slot 50 rolls to round 13):
    "q_lsh_recall_curve",
    "q_multimodal_audio",
    "q_multimodal_features",
    "q_orders_rollup",
    "q_outlier_mad",
    "q_parts_by_brand",
    "q_pipeline_end2end",
    "q_priority_discounted_orders",
    "q_quantile_sketch",
    "q_rdf_group_concat",
    "q_rdf_grouped_path",
    "q_rdf_negated_pathset",
    "q_salted_agg",
    "q_salted_join",
    "q_sample_weighted",
    "q_search_ndcg",
    "q_spatial_pairs",
    "q_split_leakage_safe",
    "q_streaming_heavy_hitters",
    "q_streaming_near_dup",
    "q_streaming_quality_profile",
    "q_streaming_sessions",
    "q_streaming_upsert_dedup",
    "q_token_budget_mixture",
    "q_tokenizer_fertility",
    "q_vocab_growth",
]


def _ordered() -> list[str]:
    lead = [n for n in _DRIVER_PRIORITY if n in QUERIES]
    rest = [n for n in QUERIES if n not in set(lead)]
    return lead + rest


def query_map() -> dict[str, SparkQuery]:
    return {name: QUERIES[name].spark for name in _ordered()}


def oracle_sql_map() -> dict[str, str]:
    return {
        name: QUERIES[name].oracle
        for name in _ordered()
        if QUERIES[name].oracle is not None
    }
