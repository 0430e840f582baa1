"""Physical-plan invariants for the whole catalog — the 100 TB regression net.

Correctness rows prove the small-SF answers; these assertions prove the
PLANS stay scale-shaped: no accidental cartesian product anywhere in the
catalog (the one labeled all-pairs oracle baseline excepted), dimension
chains broadcast instead of shuffling the fact table, and predicate/column
pruning reaching the parquet scans. A refactor that silently turns a
blocked join into an all-pairs join, or un-broadcasts a dim, fails here
even though the sf0.001 answers stay byte-identical.
"""

from __future__ import annotations

import pytest

from thymeflow_back_spark.queries import catalog

SF = "/root/testdata/sf0.001"

# the exact-oracle baseline is the ONE sanctioned all-pairs plan
# (queries/similarity.py — kept only to hash-check the ANN paths against)
CARTESIAN_OK = {"q_embedding_near_dup"}

# sanctioned broadcast-cross plans: the broadcast side is BOUNDED BY
# CONSTRUCTION (a fixed probe set / single-row spec), so corpus × small
# is the intended scale shape, not an accident
BNLJ_CROSS_OK = {
    "q_cosine_topk",  # corpus streams against a broadcast fixed probe set
    "q_hard_negatives",  # same probe-set cross, mined into triplets
    "q_similarity_sq8",  # same probe-set shape over the SQ8 codes
    "q_similarity_jl",  # same probe-set shape over the JL projections
    "q_similarity_jl_rerank",  # JL probe-set shortlist + broadcast rerank side
    "q_similarity_pq",  # corpus codes × broadcast query-id list (ADC probe set)
    "q_similarity_pq_rerank",  # same ADC shape + broadcast shortlist rerank
    "q_ann_recall",  # composes q_cosine_topk's exact baseline (same probe set)
    "q_search_ndcg",  # same exact-baseline probe-set cross as q_ann_recall
    # one-row broadcast centroid/codebook relations (data-not-literals —
    # pq.codebook_row) + the probe-set shape of the exact comparisons
    "q_similarity_ivfpq",
    "q_dataset_mixture",  # every row × one broadcast mixture-spec row
    "q_fts_bm25",  # postings × one broadcast corpus-stats row (N, avgdl)
    "q_zorder_layout",  # rows × one broadcast min/max-stats row
    # theta-join runs on the counters, never the data: <= n_buckets
    # cumulative rows x the fixed quantile list (both sketch-sized)
    "q_quantile_sketch",
    "q_heavy_hitters",  # candidate counts × one broadcast total-count row
    "q_tfidf_keywords",  # term df relation × one broadcast n_docs row
    "q_knn_classify",  # composes q_cosine_topk's probe-set cross shape
    "q_hybrid_rrf",  # BM25 stats row + the cosine probe-set cross shape
    "q_similarity_filtered",  # probe-set cross over the label-filtered scan
    "q_quality_pr_curve",  # score groups × one broadcast total-positives row
    "q_dsir_logratio",  # bucket counts × one broadcast corpus-totals row
    # per-lang token counts × one broadcast min-tokens row (the
    # q_dataset_mixture shape with real-token budgets)
    "q_token_budget_mixture",
    # d^2 Gram rows × one broadcast n_vecs row (operators/pca.py)
    "q_embedding_gram",
    # doc-rank relation × one broadcast corpus-count row
    "q_vocab_growth",
    # NB classifier: bucket counts × one broadcast class-totals row, and
    # the scoring scan × one broadcast prior/unseen row (both single-row
    # by construction — operators/quality_nb.py)
    "q_quality_classifier",
    "q_classifier_holdout",  # same shapes over the train/test split
    # per-lang token counts × one broadcast min-tokens row (the
    # q_token_budget_mixture shape with a temperature-quantized rate)
    "q_temperature_mixture",
    # 24 grid rows × one broadcast min-priority-key row (argmin without
    # an unpartitioned window — queries/dedup.py q_lsh_param_select)
    "q_lsh_param_select",
    "q_classifier_bernoulli",  # NB one-row broadcast crosses (doc counts, C)
    # eval positions × one broadcast lnq(N+1) totals row (backoff_lm.py)
    "q_lm_backoff_score",
    "q_ppl_buckets",  # same backoff_lm totals-row cross downstream
    # composes the backoff_lm totals-row cross AND the langid K-row
    # class-table cross (both bounded by construction)
    "q_ccnet_filter",
    # NB one-row broadcast crosses + the domain relation x one-row
    # corpus-totals / normalizer crosses (all single-row by construction)
    "q_doremi_weights",
    # per-doc feature counts × the broadcast K-row class table (K =
    # #languages, bounded by construction — operators/langid_nb.py)
    "q_langid_nb",
    "q_langid_holdout",
    "q_langid_agreement",  # same class cross + one broadcast total row
    # piece-usage relation × one broadcast vocab-total row (both
    # vocabulary-sized by construction — operators/unigram_lm.py)
    "q_unigram_hard_em",
    # NB one-row crosses + scores × the broadcast (n_bins−1)-edge
    # relation + the one-row totals cross (evalcurves.score_drift_psi)
    "q_score_drift_psi",
}

# queries whose construction executes jobs eagerly (iterative closures,
# stateful streaming replays) — plan introspection would re-run them for
# little signal; their scale stories are asserted in their own tests
SKIP = {
    "q_streaming_near_dup",  # drives a real foreachBatch stream
    "q_streaming_window_counts",
    "q_streaming_sessions",
    "q_streaming_quality_profile",
    "q_streaming_heavy_hitters",
    "q_streaming_upsert_dedup",
    "q_streaming_nb_train",
    "q_streaming_decontamination",
    "q_streaming_langid_train",
    "q_streaming_ivf_upsert",
    "q_streaming_drift_psi",
}


# global (unpartitioned) Window nodes whose input is BOUNDED BY
# CONSTRUCTION, so the single-task sort touches sketch-sized data only:
# - distributed_prefix_sum's offset pass windows over #partitions rows
#   (operators/packing.py) — q_token_packing, q_quantile_sketch
# - q_quantile_sketch's cumulative walk runs over <= n_buckets=256 counters
# - rank-after-limit: row_number over rows that already passed a
#   TakeOrderedAndProject / WindowGroupLimit (<= k rows) —
#   q_vocab_topk (queries/pipeline.py), q_fts_bm25 (operators/fts.py)
GLOBAL_WINDOW_OK = {
    "q_token_packing",
    "q_quantile_sketch",
    "q_vocab_topk",
    "q_fts_bm25",
    # grouped_rank (operators/robust.py): the prefix-sum offset pass
    # (#partitions rows) plus the group-start pass (#groups rows)
    "q_outlier_mad",
    "q_value_percentiles",
    "q_distinct_kmv_by_group",
    # rank-after-limit (rrf_fuse: fused_rank over the top-n rows only)
    "q_hybrid_rrf",
    # distributed_prefix_sum offset passes over the score-group summary
    "q_quality_pr_curve",
    "q_score_auc",
    "q_balanced_bins",
    # SNM global ranks: one prefix-sum offset pass per sort pass
    # (#partitions rows each — operators/snm.py)
    "q_dedup_sorted_neighborhood",
    # prefix-sum offset pass + the cumulative walk over <= 10 decile rows
    "q_vocab_growth",
    # grouped_rank (evalcurves.grouped_score_tertiles): prefix-sum offset
    # pass (#partitions rows) + group-start pass (#languages rows)
    "q_ppl_buckets",
    "q_ccnet_filter",
    # grouped_rank over the reference cohort (evalcurves.score_drift_psi)
    "q_score_drift_psi",
}

_PLAN_CACHE: dict[str, str] = {}
_SCAN_CACHE: dict[str, int] = {}


def _physical_plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def _plan(spark, name: str) -> str:
    if name not in _PLAN_CACHE:
        import sys
        from pathlib import Path

        sys.path.insert(0, str(Path(__file__).resolve().parent.parent))
        from tools.plan_audit import _tree_nodes

        df = catalog.QUERIES[name].spark(spark, SF)
        _PLAN_CACHE[name] = _physical_plan(df)
        # source-scan count from the cache-deduplicated TREE walk (one
        # descent per persisted relation — the printed plan repeats them)
        _SCAN_CACHE[name] = sum(
            1 for n, _ in _tree_nodes(df) if n.startswith("Scan parquet")
        )
    return _PLAN_CACHE[name]


def _global_window_lines(plan: str) -> list[str]:
    """Lines with a Window whose windowspecdefinition has no partition
    columns (partition columns print bare; order columns carry ASC/DESC) —
    the 'Moving all data to a single partition' shape."""
    import re

    out = []
    for ln in plan.splitlines():
        m = re.search(r"windowspecdefinition\(", ln)
        if m is None:
            continue
        i, depth, start = m.end(), 1, m.end()
        while i < len(ln) and depth:
            if ln[i] == "(":
                depth += 1
            elif ln[i] == ")":
                depth -= 1
            i += 1
        args, depth, cur = [], 0, []
        for ch in ln[start : i - 1]:
            if ch == "," and depth == 0:
                args.append("".join(cur).strip())
                cur = []
            else:
                if ch == "(":
                    depth += 1
                elif ch == ")":
                    depth -= 1
                cur.append(ch)
        if cur:
            args.append("".join(cur).strip())
        args = [a for a in args if not a.startswith("specifiedwindowframe")]
        if all(" ASC" in a or " DESC" in a for a in args):
            out.append(ln.strip())
    return out


@pytest.mark.parametrize(
    "name", [q for q in catalog.QUERIES if q not in SKIP]
)
def test_no_unsanctioned_cartesian(spark, name):
    plan = _plan(spark, name)
    if name in CARTESIAN_OK:
        return
    assert "CartesianProduct" not in plan, (
        f"{name}: CartesianProduct in physical plan — an all-pairs join "
        f"slipped into a catalog query (only {sorted(CARTESIAN_OK)} may)"
    )
    if name in BNLJ_CROSS_OK:
        return
    # Spark prints the build side between operator and join type
    # ("BroadcastNestedLoopJoin BuildRight, Cross"), so match per line
    # rather than as one substring.
    for ln in plan.splitlines():
        assert not ("BroadcastNestedLoopJoin" in ln and "Cross" in ln), (
            f"{name}: broadcast cross join in physical plan — only "
            f"{sorted(BNLJ_CROSS_OK)} have a bounded broadcast side: {ln}"
        )


@pytest.mark.parametrize(
    "name", [q for q in catalog.QUERIES if q not in SKIP]
)
def test_no_unpartitioned_window(spark, name):
    """No catalog query may run a Window over an UNBOUNDED unpartitioned
    relation — that moves the whole relation to one task (the WindowExec
    single-partition warning), the exact scale failure the two-phase
    prefix sum in operators/packing.py exists to avoid. The whitelisted
    queries' global windows run over sketch-/limit-bounded inputs only."""
    plan = _plan(spark, name)
    bad = _global_window_lines(plan)
    if name in GLOBAL_WINDOW_OK:
        return
    assert not bad, (
        f"{name}: unpartitioned Window in physical plan — use "
        f"distributed_prefix_sum (operators/packing.py) or partition the "
        f"window; only {sorted(GLOBAL_WINDOW_OK)} have bounded inputs:\n"
        + "\n".join(bad)
    )


def test_dim_chain_broadcasts(spark):
    """q_regional_revenue: the region->nation->customer dim chain must
    broadcast against the orders/lineitem fact side — at 100 TB a
    shuffled dim join would move the fact table for a 25-row dimension."""
    plan = _physical_plan(catalog.QUERIES["q_regional_revenue"].spark(spark, SF))
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan


def test_scan_pushdown(spark):
    """q_parts_by_brand: the p_size IN (...) filter must reach the parquet
    scan as a PushedFilter and the scan must not read every part column."""
    df = catalog.QUERIES["q_parts_by_brand"].spark(spark, SF)
    plan = _physical_plan(df)
    scans = [ln for ln in plan.splitlines() if "FileScan parquet" in ln]
    part_scan = next(ln for ln in scans if "part.parquet" in ln)
    assert "PushedFilters: [In(p_size" in part_scan, part_scan
    # column pruning: the 9-column part table reads only what the query uses
    schema = part_scan.split("ReadSchema: ", 1)[1]
    assert schema.count(":") <= 4, schema


def test_time_partition_pruning(spark):
    """q_time_pruned_revenue: the two-year month range must prune at the
    DIRECTORY level (PartitionFilters), with no residual DataFilters and a
    one-column ReadSchema — the derived-layout answer to timestamp_ntz
    predicates never reaching parquet as PushedFilters (round-6 finding)."""
    plan = _physical_plan(catalog.QUERIES["q_time_pruned_revenue"].spark(spark, SF))
    scan = next(
        ln for ln in plan.splitlines() if "FileScan parquet" in ln
    )
    pf = scan.split("PartitionFilters: [", 1)[1].split("]", 1)[0]
    assert "o_month" in pf and ">=" in pf and "<=" in pf, scan
    assert "DataFilters: []" in scan, scan
    schema = scan.split("ReadSchema: ", 1)[1]
    assert schema.count(":") <= 1, schema


@pytest.mark.parametrize(
    "name", [q for q in catalog.QUERIES if q not in SKIP]
)
def test_plan_size_bounded(spark, name):
    """Optimized-plan strings stay KB-sized. The IVF-PQ regression this
    guards: joining on a derived column makes the optimizer push inferred
    IsNotNull filters down by SUBSTITUTING alias definitions, and
    literal-unrolled arithmetic multiplies under that substitution — the
    first IVF-PQ cut planned at 119 MB (260 MB task binaries, codegen
    compile failures) while producing correct sf0.01 answers. Data-anchored
    codebooks (pq.codebook_row) keep the same query ~67 KB. 2 MB is ~20×
    headroom over today's largest plan yet 50× under the failure mode."""
    df = catalog.QUERIES[name].spark(spark, SF)
    size = len(df._jdf.queryExecution().optimizedPlan().toString())
    assert size < 2_000_000, (
        f"{name}: optimized plan is {size/1e6:.1f} MB — expression trees are "
        f"being multiplied by optimizer substitution (see pq.codebook_row); "
        f"anchor large constants as one-row broadcast relations"
    )


# --- source-scan budget -------------------------------------------------------

# Every query gets a default budget of source scans (distinct parquet reads
# in the deduplicated plan tree). A multi-consumer subtree left unpersisted
# re-derives its upstream per consumer — the disease that had
# q_rdf_rdfs_closure at ~30 base scans and q_rdf_facet_rank at 42 before
# the store/enricher pins — and a regression lands HERE before it lands at
# 100 TB. Queries legitimately above the default (unions of many narrow
# reads by construction) carry explicit budgets.
SCAN_BUDGET_DEFAULT = 10
# The tpch quad encoding is a union of 11 narrow per-property projections
# by construction (rdf/tpch.py) — pinned, it appears ONCE per plan, so
# every store-backed RDF query measures 11. The two IFP-derived stores
# (facet_rank, primary_facet) pin the base∪sameas union as a second
# cache whose build re-counts the encoding — 22, still one actual
# encoding pass at runtime (the inner reads come from the tpch cache).
SCAN_BUDGET = {
    "q_rdf_bgp_region": 12,
    "q_rdf_ifp_sameas": 12,
    "q_rdf_describe_nations": 12,
    "q_rdf_construct_euro": 12,
    "q_rdf_grouped_path": 12,
    "q_rdf_negated_pathset": 12,
    "q_rdf_group_concat": 12,
    "q_rdf_rdfs_closure": 14,  # encoding + enricher/final union legs
    "q_rdf_facet_rank": 24,
    "q_primary_facet": 24,
    # the OWL enricher's null-safe "already stored?" anti-join reads the
    # pinned base∪schema store, whose build re-counts the encoding
    "q_owl_closure": 22,
    # brute-force oracle side reads raw vectors per ANN stage comparison
    "q_embedding_near_dup_ann": 12,
    # the same SRP band/verify pipeline (pinned ε-NN edges appear once)
    # plus the star-CC node inventory and the documents quality join
    "q_semantic_components": 12,
}


@pytest.mark.parametrize(
    "name", [q for q in catalog.QUERIES if q not in SKIP]
)
def test_source_scan_budget(spark, name):
    _plan(spark, name)  # populates _SCAN_CACHE
    budget = SCAN_BUDGET.get(name, SCAN_BUDGET_DEFAULT)
    n = _SCAN_CACHE[name]
    assert n <= budget, (
        f"{name}: {n} source scans in the deduplicated plan tree "
        f"(budget {budget}) — a multi-consumer subtree is probably "
        f"re-deriving its upstream per consumer; pin it (operators/cachereg) "
        f"or raise the budget here with a justification"
    )


def test_filtered_search_pushes_label_predicate(spark):
    """q_similarity_filtered: the label predicate must reach the parquet
    scan (the corpus side skips non-matching row groups BEFORE any vector
    math) — the point of filtered vector search at scale."""
    df = catalog.QUERIES["q_similarity_filtered"].spark(spark, SF)
    plan = _physical_plan(df)
    scans = [ln for ln in plan.splitlines() if "FileScan parquet" in ln]
    assert any("EqualTo(label,1)" in ln for ln in scans), "\n".join(scans)
