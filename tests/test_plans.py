"""Physical-plan quality gate for every registered query.

The 100 TB posture is a property of the PLAN, not the result: no
row-at-a-time Python anywhere, Arrow-batched Python only where a kernel
genuinely needs it, dims broadcast, filters pushed to the scan, top-K as
TakeOrderedAndProject. This test locks those properties so a regression
(a lost broadcast hint, an accidental Python UDF) fails CI, not the
cluster bill.
"""

from __future__ import annotations

import pytest

SF = "/root/testdata/sf0.001"

# r2: the streaming wrappers now return LAZY reads over their sinks
# (no driver collect anywhere in a registered query body), so every
# registered query has an inspectable plan and none is exempt
_MATERIALIZED: set[str] = set()

# Arrow-batched Python is the intended engine for these kernels:
# the image feature kernel, and (r4) the dense-regime similarity plans —
# ann_topk_cosine runs the block-gemm exact ANN, embedding_neardup_pairs
# auto-dispatches to block gemm on this corpus (LSH blocking degenerates
# at threshold 0.4 on near-uniform vectors; see similarity/dispatch.py).
# r10: ann_topk_ivf and embedding_suite carry the vectorized Arrow cell
# assignment (ivf._nearest_cell_arrow — HOFs never codegen, measured
# ×0.26 at sf1) and embedding_suite the blocked-BLAS pair stage
# (gemm.blocked_pair_edges) — all deliberate Arrow, never row Python.
_ARROW_OK = {
    "mm_image_features",
    "ann_topk_cosine",
    "embedding_neardup_pairs",
    "ann_topk_ivf",
    "embedding_suite",
}


def _all_queries():
    """The registry plus the text components that sit outside it, so
    doc_chunks / text_pii_scrub keep their plan gates."""
    import __spark_entry__ as e
    from etl_school_spark.workload import textops

    return {**e.queries(), **textops.COMPONENTS}


@pytest.fixture(scope="module")
def plans(spark):
    out = {}
    for name, fn in _all_queries().items():
        if name in _MATERIALIZED:
            continue
        df = fn(spark, SF)
        out[name] = df._jdf.queryExecution().executedPlan().toString()
    return out


def test_no_row_python_anywhere(plans):
    offenders = [n for n, p in plans.items() if "BatchEvalPython" in p]
    assert offenders == [], f"row-at-a-time Python UDFs in: {offenders}"


def test_arrow_python_only_where_intended(plans):
    offenders = [
        n
        for n, p in plans.items()
        if ("ArrowEvalPython" in p or "MapInPandas" in p or "mapInPandas" in p)
        and n not in _ARROW_OK
    ]
    assert offenders == [], f"unexpected Python stages in: {offenders}"


def test_dim_joins_broadcast(plans):
    # suite plans contain their components' joins as Union branches —
    # the broadcast property must survive consolidation
    for name in ("join_agg_suite", "star_revenue_suite", "stats_alert_suite"):
        assert "BroadcastHashJoin" in plans[name], f"{name} lost its broadcast join"


def test_topk_uses_take_ordered(plans):
    assert "TakeOrderedAndProject" in plans["topk_customers_by_spend"]


def test_filters_reach_the_scan(plans):
    # base-column predicates must push into the parquet scan (HAVING-style
    # aggregate filters legitimately cannot)
    for name in ("filter_predicate_suite", "join_shape_suite"):
        p = plans[name]
        assert "PushedFilters: [" in p, f"{name}: no pushed filters section"
        pushed = [
            seg.split("]")[0]
            for seg in p.split("PushedFilters: [")[1:]
        ]
        assert any(s.strip() for s in pushed), f"{name}: pushed-filter list is empty"


def test_scans_prune_columns(plans):
    # pricing_summary reads 7 of 16 lineitem columns; the scan schema must
    # not contain columns the query never touches
    p = plans["pricing_summary"]
    assert "l_comment" not in p, "column pruning lost: scan reads l_comment"
    assert "l_shipinstruct" not in p


def test_no_cartesian_products_except_intended(plans):
    # scalar-stats cross joins are 1-row broadcasts, and the dense-series
    # axis is an intended tiny cross product; anything else is a bug
    # embedding_neardup_pairs is deliberately NOT allowed: its r2 rewrite
    # is the LSH-bucketed equi-join pipeline, and a reappearing cross
    # join there is exactly the regression this gate exists to catch
    # r4: ann_topk_cosine no longer appears here — its broadcast
    # crossJoin baseline was replaced by the block-gemm MapInPandas plan
    allowed = {
        "stats_alert_suite",  # outliers_3sigma branch: 1-row stats broadcast
        "scalar_mask_suite",  # scalar_function_suite branch
        "timeseries_suite",  # dense-series axis: tiny intended cross product
        "tfidf_top_terms",  # 1-row n_docs scalar broadcast
    }
    offenders = [
        n
        for n, p in plans.items()
        if ("CartesianProduct" in p or "BroadcastNestedLoopJoin" in p) and n not in allowed
    ]
    assert offenders == [], f"unexpected cartesian/nested-loop joins in: {offenders}"


# r11: row-proportional registered outputs carry the unordered contract
# (_suite.unordered_output) — no total-order tail. This locks the two
# funnel shapes out of their plans: a narrowing repartition(1)
# (RoundRobinPartitioning(1) — the sorted_single tail, single-task sort
# of a corpus-proportional result) and a range-sort tail
# (rangepartitioning — its bound sampling re-executes the upstream
# plan). Scalar 1-row aggregates (SinglePartition) remain legitimate.
_UNORDERED_CONTRACT = {
    "dedup_ngram_jaccard", "dedup_minhash_lsh", "dedup_simhash",
    "dedup_clusters", "incremental_dedup_accepted",
    "benchmark_contamination", "embedding_neardup_pairs",
    "embedding_suite", "text_token_stats", "text_quality_scores",
    "text_lang_id", "dedup_exact_groups", "doc_fingerprints",
    "tfidf_top_terms", "mm_image_features", "mm_audio_features",
    "mm_frame_sample", "asof_user_tier", "range_join_event_windows",
    "session_window_rollup", "sample_documents_10pct",
    # r14 (optimization round): the r1–r2-era row-proportional tails —
    # their orderBy was determinism-only (driver compare is order-
    # insensitive); the range exchange re-ran the plan tail for bound
    # sampling and would range-sort the full output at 100 TB
    "filter_predicate_suite", "group_agg_suite", "scalar_mask_suite",
    "per_user_event_profile", "join_shape_suite", "event_window_suite",
    "sql_surface_latest_big_order", "text_pii_scrub", "doc_chunks",
    "fuzzy_name_matches",
}


def test_row_proportional_outputs_have_no_sort_funnel(plans):
    offenders = {
        n: [t for t in ("RoundRobinPartitioning(1)", "rangepartitioning") if t in plans[n]]
        for n in _UNORDERED_CONTRACT
    }
    offenders = {n: ts for n, ts in offenders.items() if ts}
    assert offenders == {}, f"total-order funnel reappeared: {offenders}"


def test_quotient_rep_selection_has_no_set_key_window(spark):
    """r12 (VERDICT item 1 gate): the three *_dup_groups quotients must
    select their clique representatives with groupBy + join-back, never
    a Window over the signature/set key — a window partition cannot be
    split, so a hot duplicate clique (the exact regime the quotient
    targets) would funnel through one task. The set-key window's
    fingerprint is a Window operator computing min(doc…); the only
    legitimate Window in these plans is ngram's per-doc row_number
    prefix ranking inside the PPJoin."""
    from etl_school_spark.dedup.minhash import minhash_dup_groups
    from etl_school_spark.dedup.ngram import ngram_dup_groups
    from etl_school_spark.dedup.simhash import simhash_dup_groups

    from etl_school_spark.tables import load_table

    docs = load_table(spark, SF, "documents")
    plans = {
        "ngram_dup_groups": ngram_dup_groups(docs),
        "minhash_dup_groups": minhash_dup_groups(docs),
        "simhash_dup_groups": simhash_dup_groups(docs),
    }
    offenders = {}
    for name, df in plans.items():
        plan = df._jdf.queryExecution().executedPlan().toString()
        bad = [
            ln.strip()[:120]
            for ln in plan.splitlines()
            if "Window [" in ln and "min(doc" in ln
        ]
        if bad:
            offenders[name] = bad
    assert offenders == {}, f"set-key rep-selection Window reappeared: {offenders}"


def test_dump_query_plans_round_directory():
    """The plan dumper files a tag under its round: "rNN_<suffix>" and a
    bare "rNN" both land in plans/rNN/."""
    from tools.dump_query_plans import plan_location

    assert plan_location("r16_before") == ("r16", "before")
    assert plan_location("r16") == ("r16", None)
    assert plan_location("adhoc") == ("r14", "adhoc")
