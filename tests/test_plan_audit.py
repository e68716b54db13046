"""Physical-plan audit across the whole declared query surface.

Guards the 100-TB properties the queries were designed around: no
accidental cartesian/nested-loop joins (the brute-force ANN baseline is
the single documented exception), scans prune to the referenced columns,
and no query plan collects to the driver.
"""

from __future__ import annotations

import re

import pytest

from beacon_indexer_spark.plans.queries import QUERIES

# brute-force cosine is the *documented* exact-baseline cross join
# (the broadcast query side makes it a map-side scan, not a shuffle);
# its int8-quantized variant shares the same documented plan shape;
# tfidf attaches the corpus count N by cross-joining a broadcast ONE-ROW
# aggregate — a constant attach, not a pair expansion
_ALLOWED_CROSS = {
    "similarity_bruteforce", "similarity_quantized", "doc_tfidf_top_terms",
    "doc_mixture_plan",  # broadcast ONE-ROW source-count attach
    "token_pmi_top",  # broadcast ONE-ROW unigram/bigram totals attach
    "events_funnel",  # broadcast ONE-ROW stage-1 count attach
    "similarity_pq",  # ADC scan: broadcast query side, corpus as codes
    "doc_unigram_logprob",  # broadcast ONE-ROW corpus-total attach
    "users_retained_intersect",  # broadcast ONE-ROW time-bounds attach
    "corpus_dedup_summary",  # cross-join of three ONE-ROW aggregates
    "corpus_term_drift",  # broadcast ONE-ROW totals/vocab attach
    "doc_mixture_temperature",  # broadcast ONE-ROW total + Z attach
    "doc_bm25_topk",  # broadcast ONE-ROW N/avgdl attach
    "doc_shard_plan",  # broadcast ONE-ROW mean-shard-tokens attach
    "source_ngram_kl",  # broadcast ONE-ROW vocab-size/total attach
    "embedding_hard_negatives",  # broadcast QUERY-SIDE scan (bruteforce shape)
    "events_cooccurrence_lift",  # broadcast ONE-ROW group-total attach
    "corpus_ngram_coverage",  # ONE-ROW total x ONE-ROW head-sum attach
    "embedding_ann_recall",  # broadcast QUERY-SIDE scan (bruteforce side)
    "embedding_ivf_balance",  # broadcast ONE-ROW mean attach
    "events_hour_dow_profile",  # broadcast ONE-ROW total attach
    "events_daily_volume_anomaly",  # broadcast ONE-ROW median/MAD attaches
    "embedding_norm_profile",  # broadcast ONE-ROW total attach
    "customer_pareto_coverage",  # broadcast ONE-ROW N/T totals attach
    "orders_interarrival_dist",  # broadcast ONE-ROW gap-total attach
    "events_funnel_conversion_lag",  # broadcast ONE-ROW total attach
    "embedding_intrinsic_dim",  # broadcast QUERY-SIDE scan (bruteforce shape)
    "source_js_divergence",  # |sources|×|vocab| grid — dimension-bounded
    "corpus_bigram_cond_entropy",  # cross of four ONE-ROW aggregates
    "embedding_knn_label_agreement",  # broadcast QUERY-SIDE scan (bruteforce)
    "events_session_depth_dist",  # broadcast ONE-ROW total attach
    "corpus_head_coverage_curve",  # broadcast ONE-ROW total attach
    "user_value_deciles",  # broadcast ONE-ROW N/T totals attach
    "embedding_mean_pairwise_cosine",  # broadcast ONE-ROW n attach
    "doc_length_lognormal_fit",  # ONE-ROW moments × ONE-ROW median attach
    "events_value_hour_anova",  # broadcast ONE-ROW totals attach
    "doc_lang_length_chisq",  # broadcast ONE-ROW grand-total attach
    "events_repeat_purchase_curve",  # broadcast ONE-ROW purchaser-count attach
    "source_signature_terms",  # broadcast ONE-ROW corpus-total/vocab attach
    "embedding_knn_confusion",  # broadcast QUERY-SIDE scan (bruteforce)
    "customer_sales_opportunity",  # broadcast ONE-ROW mean-balance attach
    "part_basket_pairs",  # broadcast ONE-ROW order-total attach
    "events_hill_tail_index",  # broadcast ONE-ROW threshold attach
    "embedding_silhouette",  # broadcast SAMPLE-SIDE scan (bruteforce shape)
    "embedding_knn_radius",  # broadcast SAMPLE-SIDE scan (bruteforce shape)
    "events_value_cusum",  # broadcast ONE-ROW total attach
    "events_props_key_profile",  # broadcast ONE-ROW total attach
    "embedding_knn_purity_sweep",  # broadcast SAMPLE scan + 3-ROW k attach
    "customer_value_quadrants",  # broadcast ONE-ROW median/total attaches
    "events_value_ks_test",  # broadcast ONE-ROW totals attach
    "corpus_source_token_hhi",  # broadcast ONE-ROW total attach
    "lineitem_return_rate_by_discount",  # broadcast ONE-ROW base-rate attach
    "doc_ingestion_drift_deciles",  # broadcast ONE-ROW id-range attach
    "customer_spend_migration",  # broadcast ONE-ROW midpoint/median attaches
    "events_value_equidepth_hist",  # broadcast ONE-ROW total + 10-ROW deciles
    "corpus_df_truncation_impact",  # broadcast ONE-ROW totals + 3-ROW sweep
    "events_user_type_entropy_profile",  # broadcast ONE-ROW total attach
    "events_session_concurrency_peak",  # broadcast ONE-ROW session count
    "events_km_conversion_survival",  # broadcast ONE-ROW total/count attaches
    "events_value_bootstrap_ci",  # broadcast ONE-ROW bootstrap-CI attach
    "orders_join_skew_audit",  # broadcast ONE-ROW mean-load attach
    "lineitem_bloom_join_planner",  # cross of three ONE-ROW counts
    "events_converter_type_enrichment",  # broadcast ONE-ROW totals attach
    "lineitem_simpsons_check",  # broadcast ONE-ROW aggregate-gap attach
    "events_neyman_allocation",  # broadcast ONE-ROW normalizer attach
    "events_daily_runs_test",  # broadcast ONE-ROW median/changes attaches
    "events_dow_seasonality_strength",  # broadcast ONE-ROW moments attach
    "embedding_label_auc",  # broadcast ONE-ROW dominant-label attach
    "events_value_expected_shortfall",  # broadcast ONE-ROW VaR/total attaches
    "embedding_top_component",  # broadcast ONE-ROW count attach (d² Gramian)
    "corpus_lang_source_nmi",  # broadcast ONE-ROW total/entropy attaches
    "doc_text_embedding_agreement",  # broadcast ONE-ROW Gram-baseline attach
    "events_markov_stationary",  # broadcast ONE-ROW state-list/total attaches
    "doc_length_psi_drift",  # broadcast ONE-ROW midpoint/totals + 10-ROW bins
    "embedding_ingestion_drift",  # broadcast ONE-ROW id-range attach
    "part_brand_type_cramers_v",  # broadcast ONE-ROW totals attach
    "dedup_fingerprint_ladder",  # cross of four ONE-ROW dup counts
    "events_value_spc_xbar",  # broadcast ONE-ROW control-limits attach
    "events_value_max_drawdown",  # |days|² pair grid — dimension-bounded
    "embedding_knn_reciprocity",  # bruteforce sample scan + ONE-ROW attach
    "orders_revenue_trend_robust",  # |months|² pair grid — dimension-bounded
    "dup_graph_triangles",  # cross of three ONE-ROW graph aggregates
    "supplier_latency_outliers",  # broadcast ONE-ROW global-p90 attach
    "corpus_split_half_jsd",  # 2×|vocab| grid — dimension-bounded
    "doc_token_length_profile",  # broadcast ONE-ROW total attach
    "part_type_price_premium",  # broadcast ONE-ROW grand-mean attach
    "events_heavy_hitters_mg",  # broadcast ONE-ROW eviction-threshold attach
    "customer_untapped_balance",  # broadcast ONE-ROW avg-balance threshold
    "events_user_hll",  # broadcast ONE-ROW exact-count attach
    "doc_hybrid_retrieval_rrf",  # ≤20-row rank self-joins + ONE-ROW query vector
    "embedding_mmr_rerank",  # ≤10-row pair grid + ONE-ROW query vector
    "events_value_quantile_sketch",  # ONE-ROW total + 9-row decile literals
    "events_k_anonymity",  # 4-row threshold literal fan-out
    "embedding_ann_ndcg",  # brute-force arm's broadcast query side
    "partsupp_value_concentration",  # broadcast ONE-ROW global-total attach
    "domain_temperature_sampling",  # broadcast ONE-ROW totals attach
    "source_epoch_allocation",  # broadcast ONE-ROW totals attach (same shape)
    "embedding_stream_recall",  # exact-control arm's broadcast sampled queries
    "source_shingle_kmv_jaccard",  # broadcast ONE-ROW exact-audit attach
}

# iterative operator: executes during plan construction; its final plan is
# a checkpoint scan, so there is nothing to audit statically
_ITERATIVE = {
    "dedup_clusters", "doc_keep_list", "doc_keep_best", "semantic_dedup",
    # CurationRun stages clusters + decon spans at construction time
    "doc_curation_decision",
}


@pytest.fixture(scope="module")
def plans(spark):
    out = {}
    for name, fn in QUERIES.items():
        if name in _ITERATIVE:
            continue
        df = fn(spark, "/root/testdata/sf0.001")
        out[name] = df._jdf.queryExecution().executedPlan().toString()
    return out


def test_no_unintended_nested_loop_joins(plans):
    bad = {}
    for name, plan in plans.items():
        if name in _ALLOWED_CROSS:
            continue
        hits = re.findall(r"CartesianProduct|BroadcastNestedLoopJoin", plan)
        if hits:
            bad[name] = hits
    assert not bad, f"nested-loop joins crept into: {bad}"


def test_brute_force_cross_join_broadcasts_query_side(plans):
    plan = plans["similarity_bruteforce"]
    assert "BroadcastNestedLoopJoin" in plan or "CartesianProduct" in plan
    assert "BroadcastExchange" in plan  # the small query side ships once


def test_scans_prune_columns(plans):
    # pruned_scan_topk projects 5 lineitem columns; the parquet scan's
    # output column list must not include the unreferenced wide columns
    plan = plans["pruned_scan_topk"]
    m = re.search(r"FileScan parquet \[([^\]]*)\]", plan)
    assert m, "no FileScan in plan"
    cols = {c.split("#")[0] for c in m.group(1).split(",") if c}
    assert len(cols) <= 6, f"scan reads too many columns: {cols}"
    # the slot/date range predicate reached the parquet reader
    assert "PushedFilters: [I" in plan or "PushedFilters: [G" in plan


def test_no_unpartitioned_windows(plans):
    # A window with no PARTITION BY funnels the whole input through one
    # task — the textbook 100-TB scale-killer. In the executed-plan text an
    # unpartitioned window's windowspecdefinition starts directly with an
    # ordering expression ("col#1L ASC NULLS ..."), while a partitioned one
    # starts with the partition columns. None are allowed anywhere in the
    # declared surface (doc_pack_sequences uses the bounded-fan-in
    # recursive prefix sum; doc_length_quantiles windows over a value
    # histogram — both fully partitioned).
    unpart = re.compile(
        r"windowspecdefinition\([^,()]+ (?:ASC|DESC) NULLS"
    )
    bad = {n: unpart.findall(p) for n, p in plans.items() if unpart.search(p)}
    assert not bad, f"unpartitioned windows in: {bad}"


def test_quantiles_window_runs_over_histogram(plans):
    # doc_length_quantiles must rank a per-language VALUE HISTOGRAM, not
    # per-document rows: the Window's input subtree must aggregate before
    # the scan (groupBy(lang, n_chars)) so the window row count is bounded
    # by distinct lengths, never corpus size.
    plan = plans["doc_length_quantiles"]
    lines = plan.splitlines()
    win_idx = [i for i, l in enumerate(lines) if re.search(r"\bWindow\b", l)]
    assert win_idx, "no Window in quantiles plan"
    below = "\n".join(lines[win_idx[0]:])
    assert "HashAggregate" in below, (
        "quantiles window does not sit above the histogram aggregate"
    )


def test_nearest_join_single_window_pass(plans):
    # nearest_join's design claim: backward last + forward first share ONE
    # partition sort — the executed plan must contain exactly one Window
    # node (two would mean a second sort/shuffle pass over the union)
    plan = plans["events_nearest_event"]
    n_windows = len(re.findall(r"\bWindow\b", plan))
    assert n_windows == 1, f"nearest_join plan has {n_windows} Window nodes"


def test_no_driver_collect_in_query_plans():
    # queries must return lazy DataFrames; the only driver-side collect in
    # the surface is the IVF centroid sample (k rows, documented) and the
    # iterative clustering loop. Grep the source for stray .collect()
    # calls outside those.
    import inspect

    from beacon_indexer_spark.plans import queries as Q

    src = inspect.getsource(Q)
    hits = [
        line.strip()
        for line in src.splitlines()
        if ".collect()" in line and "#" not in line.split(".collect()")[0]
    ]
    assert hits == [], f"driver collect in query surface: {hits}"


def test_capped_lsh_overflow_pairs_by_equi_join(spark):
    """A bucket above ``max_bucket`` pairs through the overflow branch,
    and that branch is an EQUI-join on the bucket key, never a cartesian
    product; its pairs equal the uncapped in-row expansion's."""
    from beacon_indexer_spark.operators.dedup import minhash_lsh_candidates

    # three groups of four identical docs: their band buckets hold 4 ids
    docs = spark.createDataFrame(
        [(i, "words shared across documents number %d" % (i % 3))
         for i in range(12)],
        "doc_id long, text string",
    )
    capped = minhash_lsh_candidates(docs, "doc_id", "text", max_bucket=3)
    plan = capped._jdf.queryExecution().executedPlan().toString()
    assert re.search(r"(SortMerge|BroadcastHash|ShuffledHash)Join \[band#\d+, key#\d+\]",
                     plan), plan
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    uncapped = minhash_lsh_candidates(docs, "doc_id", "text", max_bucket=None)
    assert sorted(capped.collect()) == sorted(uncapped.collect())


def test_substring_dedup_two_shuffle_design(plans):
    # substring_dup_spans' scale claim (r11 form): occurrence counting is a
    # partial-aggregated groupBy(gram).count() equi-joined back on gram —
    # map-side combine shrinks the count shuffle and AQE skew-split applies
    # to the join, unlike the r10 gram-partitioned window (one task per hot
    # gram, no defense). Plus ONE per-doc sessionize. Nothing else wide.
    plan = plans["corpus_substring_spans"]
    n_ex = len(re.findall(r"Exchange hashpartitioning", plan))
    assert n_ex <= 3, f"substring spans plan grew to {n_ex} exchanges"
    assert "CartesianProduct" not in plan
    # the partial (map-side) count must exist: the gram count shuffle
    # carries distinct grams, never every occurrence
    assert "partial_count" in plan, "gram count lost its partial aggregate"
    # and no gram-partitioned window survives anywhere in the marking path
    assert not re.search(r"windowspecdefinition\(gram", plan), (
        "gram-partitioned window crept back into substring marking"
    )


def test_q9_broadcasts_dimensions(plans):
    # nation_product_profit: part filter and supplier→nation must ship as
    # broadcasts, never shuffle the fact table against a dim
    plan = plans["nation_product_profit"]
    assert len(re.findall(r"BroadcastHashJoin", plan)) >= 2
    assert "CartesianProduct" not in plan


def test_decontamination_test_side_aggregates_before_join(plans):
    # the test corpus must reduce to DISTINCT grams before meeting the
    # train side (an aggregate below the join), never pair train docs
    # against raw test rows
    plan = plans["corpus_decontamination_spans"]
    assert "HashAggregate" in plan
    assert "CartesianProduct" not in plan


def test_set_op_family_never_row_wise_intersects(plans):
    # r12 TPC-DS set-op family: the scalable rewrite folds channel
    # presence with ONE groupBy — a physical Intersect/Except (two extra
    # full-frame shuffles per set op) must never appear, even though the
    # ORACLES run the literal set-op chains
    for name in (
        "events_channel_intersect_counts",
        "part_cross_priority_revenue",
    ):
        plan = plans[name]
        assert "Intersect" not in plan and "Except" not in plan, name
        assert "CartesianProduct" not in plan, name


def test_bulk_tickets_aggregates_before_joins(plans):
    # Q34/Q73 shape: the ticket-grain count + HAVING must sit BELOW both
    # joins (partial agg on lineitem, then the filtered survivors join
    # orders -> customer), so the join inputs are the rare bulk tickets
    plan = plans["customer_bulk_order_tickets"]
    agg_pos = plan.find("HashAggregate")
    join_pos = min(
        p for p in (plan.find("BroadcastHashJoin"), plan.find("SortMergeJoin"))
        if p >= 0
    )
    # executedPlan prints top-down: the join must appear BEFORE (above)
    # the aggregate that feeds it
    assert 0 <= join_pos < agg_pos, (join_pos, agg_pos)
    assert "partial_count" in plan, "ticket count lost its partial aggregate"
