"""Registry-wide physical-plan linter — the permanent form of the
anti-pattern sweep that was previously a manual grep per round.

Every registered query's physical plan is asserted free of the three
scale-killer node types:

- ``CartesianProduct`` — an un-broadcast cross join; O(n·m) row pairs
  shipped through a shuffle. Never acceptable in OUR plans; the sole
  exemptions in ``CARTESIAN_ALLOWED`` are LIBRARY-internal blocked
  cross-products (MLlib's recommendForAllUsers crosses user-factor
  blocks with item-factor blocks by design — that IS the all-pairs
  top-k computation, executed blockwise with per-block pruning).
- ``BatchEvalPython`` — a row-at-a-time Python UDF in the plan; the
  engine's UDF policy (SURVEY.md §2.11) allows only Arrow-batched
  ``ArrowEvalPython``/``MapInPandas`` at the pickle/codec boundaries.
- ``BroadcastNestedLoopJoin`` — acceptable ONLY for an intentional
  ``crossJoin(F.broadcast(tiny))`` where the build side is a
  model/aggregate-sized relation (kilobytes by construction). Those
  are enumerated in ``BNLJ_ALLOWED`` with the tiny side named; any
  other query growing a BNLJ fails the lint until it is either
  rewritten or explicitly justified here.
- **Unpartitioned ``Window`` over unbounded input** (round 6) — a
  window with an empty partition spec funnels its whole input through
  one task (the ``WindowExec: No Partition Defined`` warning). A
  window whose direct input chain ends in a limit
  (``TakeOrderedAndProject``/``GlobalLimit``/``CollectLimit``) is
  auto-allowed — the post-limit rank pattern is bounded by
  construction, as is an unpartitioned ``WindowGroupLimit`` (its
  Final step sees at most k rows per upstream partition). Anything
  else must be enumerated in ``WINDOW_ALLOWED`` with its bounded
  grain named, mirroring ``BNLJ_ALLOWED``.

Plans are linted at sf0.001 — node types don't depend on fixture
scale (AQE can only *downgrade* a shuffle join to broadcast-hash,
never introduce one of the forbidden nodes at larger scale).
"""

from __future__ import annotations

import io
import re
import tokenize
from pathlib import Path

import pytest

import crime_spark_ml_spark
from crime_spark_ml_spark.plans.registry import load_all_plans

from conftest import SF_SMOKE

# query name -> the broadcast-tiny build side that makes the BNLJ a
# deliberate scalar/model fan-out instead of a quadratic join
BNLJ_ALLOWED = {
    "dp_ann_bruteforce": "query vectors (nq rows) broadcast over the corpus",
    "dp_rank_fusion_rrf": "one-row query vector broadcast over the corpus (dense channel)",
    "dp_ann_ivf": "query x centroid probe table (nq*k_cells rows)",
    "dp_ann_pq": "per-query LUTs (nq rows, m*k doubles each)",
    "dp_bigram_pmi": "single-row corpus token total N",
    "dp_woe_binning": "single-row (g_tot, b_tot) label totals broadcast over 10 bins",
    "ev_seasonality_dow": "single-row (tot_events, tot_days) scalars broadcast over 7 weekday rows",
    "ev_burst_hysteresis": "one-row global (min, max) hour bounds fanned over the 5 event types",
    "ev_watermark_tuning": "six-row literal watermark grid fanned over per-event lateness",
    "ev_power_analysis": "one-row integer-moments aggregate fanned over the 5-row effect-size grid",
    "dp_embedding_drift": "one-row odd-cohort count fanned over the 64 per-dimension sums",
    "dp_vocab_coverage_curve": "six-row k grid range-joined onto the vocabulary-sized ranked relation",
    "j_spatial_hotspots": "one-row total-count scalar fanned over the <=432 grid cells",
    "dp_psi_drift": "one-row (ref, cur) totals fanned over the <=10 PSI bins",
    "dp_benford_screen": "single-row digit-total scalar broadcast over 9 digit rows",
    "dp_wellformed_audit": "five 1-row x 1-row count crossJoins (raw vs well-formed totals per table)",
    "dp_heaps_law": "4-row literal prefix grid and 10-row repeat-source text broadcast over documents; 2-row beta fanned back",
    "dp_cost_threshold_curve": "9-row literal threshold grid fanned over the corpus; one-row min-cost scalar fanned back",
    "dp_geometric_median": "two one-row distance scalars crossJoined onto the one-row poison count",
    "ev_ljung_box": "single-row series-mean scalar broadcast over the 30-row daily series",
    "ev_pacf_durbin": "8-row literal geometric kernel crossJoined over the 30-row daily series",
    "ev_interrupted_time_series": "single-row step-size scalar broadcast over the 30-row daily series",
    "dp_training_data_funnel": "one-row pack-stats aggregate crossJoined onto the one-row counter aggregate",
    "dp_dedup_pipeline": "one-row funnel aggregate crossJoined onto the one-row planted-recall count (r9 lazy form)",
    "dp_graph_triangles": "one-row (nodes, edges, wedges, triangles) global aggregate fanned over the top-10 node rows",
    "dp_conformal_coverage": "one-row (slope, intercept) model and one-row q_hat broadcast over the calibration/test splits",
    "dp_calibration_ece": "one-row (n_total, ece) aggregate fanned over the <=10 reliability bins",
    "dp_simpson_audit": "one-row pooled/MH anchors and one-row disagree count fanned over the <=25 stratum rows",
    "dp_mmr_diversify": "query vectors (5 rows) broadcast over the corpus for candidate generation (brute-force-topk pattern)",
    "ev_did_estimator": "one-row (did, placebo) anchors fanned over the 2x2 cells",
    "ev_cuped_adjustment": "one-row pooled (theta, mean_x) aggregate fanned over the 2 arm-moment rows",
    "ev_changepoint_cusum": "three one-row relations (planted argmax, null argmax, level sums) crossJoined into the summary row",
    "ev_theil_sen_trend": "day-sized (~30 row) all-pairs slope self-join plus the one-row OLS aggregate",
    "dp_bpe_merge_learn": "one-row argmax-pair and one-row symbol-count relations fanned over the <=200-type vocabulary each round",
    "ev_kaplan_meier": "5-row survival grid range-joined onto the ~100-row per-hour factor relation",
    "ev_attribution_ushape": "one-row distinct-purchase total fanned over the 4 position-class rows",
    "dp_coreset_kcenter": "<=5-row selected set broadcast over the corpus each greedy round (Gonzalez k-center)",
    "ev_position_bias_coec": "one-row pooled CTR and one-row deviation means fanned over the 15 item rows",
    "ev_dau_wau_stickiness": "day-grid (~30 rows) trailing-window range-join onto the distinct (user, day) relation",
    "dp_keyness_log_odds": "one-row corpus token totals broadcast over the vocabulary counts",
    "dp_quantile_normalization": "one-row distinct-count diagnostic fanned over the 20 source rows",
    "ev_markov_attribution": "one-row transition matrix and start/full-conversion scalars fanned over the 5 scenario rows",
    "dp_consistent_hash_rebalance": "144-row literal vnode ring broadcast over the key relation (clockwise-successor min_by)",
    "dp_interleaving_eval": "literal 8-query grid; one-row win-count summary fanned over the 8 per-query rows",
    "ev_did_event_study": "one-row cohort sizes and one-row baseline folds fanned over the 21 relative-day rows",
    "dp_constraint_repair": "one-row summary and one-row residual certificate fanned over the 5 segment rows",
    "dp_poststratified_estimate": "one-row truth and naive aggregates crossJoined into the one-row weighted fold",
    "ml_classification_report": "5-row class grid broadcast for the confusion pivot; one-row micro accuracy fanned back",
    "dp_max_coverage_select": "one-row covered-vocabulary array broadcast over the corpus each greedy round",
    "ev_retention_halflife": "9-row age grid fanned over users; one-row OLS fit fanned back over the 9 rate rows",
    "ev_uplift_qini": "one-row cross-model AUUC summary fanned over the 20 decile rows",
    "dp_randomized_response": "one-row total-count scalar fanned over the 5 language rows",
    "ev_seasonal_decompose": "one-row (reduction, amplitude) anchors fanned over the ~24 day rows",
    "dp_skyline_pareto": "one-row (n_skyline, n_total) anchors fanned over the handful of skyline points",
    "dp_hll_intersection": "three one-row sketch/exact aggregates crossJoined into the single summary row",
    "dp_ndcg_eval": "literal 8-query x 20-candidate judgment grid (two spark.range frames, 160 rows total)",
    "dp_key_balance": "single-row total-count scalar",
    "dp_privacy_audit_ldiv": "category-sized QI-group x source-domain grid (30 x 20) plus the one-row total",
    "dp_bm25_rank": "single-row (N, avgdl) corpus scalars",
    "dp_chisq_independence": "single-row (n, r-1, c-1) grand totals",
    "dp_cluster_invariants": "single-row aggregate anchors",
    "dp_source_divergence": "single-row corpus token total",
    "dp_simhash_selfcheck": "single-row aggregate anchors",
    "dp_tfidf_top_terms": "single-row corpus doc-count",
    "dp_epoch_shuffle": "two-row epoch relation fanned over documents",
    "e6_zscore": "per-column mean/std aggregate (one row)",
    "ev_gap_fill": "global min/max bucket bounds (one row)",
    "ml_target_encoding": "global target mean (one row)",
    "q22_global_sales_opportunity": "global avg acctbal (one row)",
    "sql_collation_suite": "one-row collated distinct-count aggregate "
    "fanned over the 5-row grouped slice",
    "ev_lagged_crosscorrelation": "seven-row lag grid fanned over the "
    "per-day rollup (|days| rows)",
    "ev_shapley_attribution": "8-row coalition-mask table x 3-row "
    "channel literal (non-equi bitmask join) plus one-row "
    "efficiency/anchor scalars fanned over the 3 channel rows",
    "ev_propensity_matching": "one-row population totals crossJoined "
    "into the one-row matched-ATT aggregate",
    "ml_word2vec_synonyms": "one-row synonym-list aggregate crossJoined "
    "into the one-row vector-table aggregate",
    "ev_littles_law": "one-row sweep-line integral crossJoined into the "
    "one-row session totals",
    "dp_label_noise_centroid": "5-row noisy-class prototype table "
    "broadcast over the corpus; one-row n_planted scalar fanned over "
    "the margin table",
    "dp_empirical_bayes_ctr": "one-row (alpha, beta) method-of-moments "
    "prior fanned over the ~100-item rate table",
    "dp_raking_ipf": "one-row population-count and max-error scalars "
    "crossJoined into the one-row ESS aggregate",
    "ev_group_sequential_obf": "2-row experiment literal fanned over "
    "the event scan; one-row total-count window feeding the look index",
    "dp_maxsim_late_interaction": "8-row query-token table broadcast "
    "over the corpus token explode (brute-force-topk pattern)",
    "ev_metric_decomposition": "one-row period totals crossJoined "
    "into the 5-row per-segment cell table",
    "ev_bayesian_ab_posterior": "one-row per-arm count scalars "
    "crossJoined into the one-row grid-integral numerator",
    "dp_fairness_audit": "one-row English-reference rates broadcast "
    "over the 5 language-group rows",
    "dp_learning_curve": "4-row budget literal fanned over the training "
    "pool; 4-row (budget x class) centroid model broadcast over the "
    "test split",
    "ev_fdr_bh": "one-row step-up kmax scalar fanned over the 20-row "
    "ranked z table",
    "ev_bot_regularity": "one-row corpus-start min(ts_us) scalar fanned "
    "over the 60-row synthetic bot grid",
}

# query name -> the library-internal blocked cross-product that makes
# a CartesianProduct node legitimate (never our own DataFrame code)
CARTESIAN_ALLOWED = {
    "ml_als_implicit": "MLlib ALSModel.recommendForAllUsers blocked "
    "user-factor x item-factor top-k (upstream implementation)",
}

FORBIDDEN = ("CartesianProduct", "BatchEvalPython")

# query name -> the bounded grain that makes an unpartitioned Window
# acceptable (post-limit windows are auto-detected and need no entry)
WINDOW_ALLOWED: dict[str, str] = {
    "ev_littles_law": "days-grain offset chain (#calendar-days rows, "
    "one row per day of corpus span)",
    "dp_skyline_pareto": "distinct-price relation (price-domain-"
    "bounded: ~100k cent values max, independent of row count)",
    "dp_vocab_coverage_curve": "vocabulary-sized ranked term relation "
    "(type-space-bounded, same grain its BNLJ entry names)",
    "ev_allen_intervals": "13-row Allen-relation aggregate (fixed "
    "relation taxonomy)",
    "ev_changepoint_cusum": "daily series (#calendar-days rows)",
    "ev_cumulative_distinct_users": "daily first-seen series "
    "(#calendar-days rows)",
    "ev_fdr_bh": "20-row ranked z-score grid (fixed hypothesis count)",
    "ev_meta_analysis": "per-experiment effect relation "
    "(#experiments rows, exp_id-domain-bounded)",
    "ev_metric_decomposition": "5-row per-segment cell table "
    "(the grain its BNLJ entry names)",
    "ev_forecast_backtest": "daily series (#calendar-days rows)",
    "ev_granger_causality": "daily series (#calendar-days rows)",
    "ev_interrupted_time_series": "daily series (#calendar-days rows)",
    "ev_kaplan_meier": "per-hour survival factors (hours-grain, "
    "#distinct-hours rows)",
    "ev_ljung_box": "daily series (#calendar-days rows)",
    "ev_pacf_durbin": "daily series (#calendar-days rows)",
    "ev_seasonal_decompose": "daily series (#calendar-days rows)",
    "ev_theil_sen_trend": "day-pair slope relation (#days^2 rows, "
    "calendar-span-bounded)",
    "fn_approx_top_k": "exploded approx_top_k sketch result "
    "(<= k=100 rows)",
    "j_hierarchy_share": "(region, nation) rollup (<= 25 rows, "
    "dimension-domain-bounded)",
    "ml_bradley_terry": "model-count-sized strength relation "
    "(6 models)",
    "w_dense_rank_nations": "25-row nation aggregate "
    "(nationkey domain)",
}

# unary nodes a window's input chain may pass through while we search
# for the bounding limit underneath
_CHAIN_NODES = ("Sort", "Exchange", "Project", "Filter", "Coalesce",
                "ColumnarToRow", "InputAdapter", "WholeStageCodegen")
_LIMIT_NODES = ("TakeOrderedAndProject", "GlobalLimit", "CollectLimit")
_TREE_PREFIX = re.compile(r"^[\s:+|-]*(\*\(\d+\)\s*)?")


def _node_name(line: str) -> str:
    """Physical-plan node name with tree-drawing/codegen prefixes
    stripped: '   +- *(3) Project [...]' -> 'Project'."""
    s = _TREE_PREFIX.sub("", line)
    return s.split(" ", 1)[0].split("(", 1)[0]


def _top_level_groups(s: str) -> list[str]:
    groups, depth, start = [], 0, 0
    for i, ch in enumerate(s):
        if ch == "[":
            if depth == 0:
                start = i
            depth += 1
        elif ch == "]":
            depth -= 1
            if depth == 0:
                groups.append(s[start + 1 : i])
    return groups


_ORDER_MARK = re.compile(r"\b(ASC|DESC) NULLS")


def unpartitioned_unbounded_windows(plan: str) -> list[str]:
    """Window nodes with an EMPTY partition spec whose input chain does
    not end in a limit. Print formats: a fully-specified Window shows
    three top-level bracket groups ([exprs], [partition], [order]);
    ``over(partitionBy(k))`` shows two with NO sort markers in the
    last ([exprs], [partition]); ``over(orderBy(x))`` shows two WITH
    sort markers ([exprs], [order]); bare ``over()`` shows one. Only
    the last two forms are single-partition. The input walk follows
    the unary chain below the node and accepts it only if a limit
    bounds it."""
    lines = plan.splitlines()
    offenders = []
    for i, line in enumerate(lines):
        name = _node_name(line)
        if name not in ("Window", "WindowInPandas"):
            continue
        body = _TREE_PREFIX.sub("", line)[len(name) + 1 :]
        groups = _top_level_groups(body)
        if len(groups) >= 3:
            continue  # [exprs], [partition], [order]
        if len(groups) == 2 and not _ORDER_MARK.search(groups[-1]):
            continue  # [exprs], [partition] — partitioned, unordered
        bounded = False
        for child in lines[i + 1 :]:
            cname = _node_name(child)
            if cname in _LIMIT_NODES:
                bounded = True
                break
            if cname not in _CHAIN_NODES:
                break
        if not bounded:
            offenders.append(line.strip())
    return offenders


_SPECS = load_all_plans()

# ---------------------------------------------------------------------------
# Plan-BUILD-time action inventory (r06 verdict item 5): a registered
# plan function should return a LAZY DataFrame; every Python-level
# collect/first/count it runs while building is an extra job per query
# at scale. The 77 builds that do act are enumerated here with the
# reason the action is constitutive rather than avoidable; anything
# new fails the lint until folded into the plan (the ev_bot_regularity
# broadcast-one-row-aggregate pattern) or justified. Generated from
# tools/inventory_preactions.py (caller-attributed).
_RANK = (
    "rank.py prefix-sum: collects <= #partitions ints to broadcast "
    "global-rank offsets (the distributed alternative to a "
    "single-partition window — by design)"
)
_QUANT = (
    "bounded-sample quantizer/selection fit: driver-side codebooks/"
    "centroids are the model (kilobytes by construction)"
)
_SELFCHK = (
    "cross-engine recall selfcheck: collects bounded top-k sets to "
    "compare approximate vs exact — the comparison IS the query"
)
_ITER = (
    "iterative algorithm: per-round driver-side convergence/frontier "
    "scalar (rounds bounded by design: O(log diameter) / fixed "
    "iteration cap)"
)
_MLFIT = (
    "MLlib fit + model-sized driver-side extraction — the training "
    "run is the operator under test"
)
_STREAM = (
    "availableNow streaming run: the micro-batch execution is the "
    "operator; its bounded final state is collected"
)
_IO = (
    "write-then-read-back contract: the filesystem side effect "
    "(store/compaction/footer/evolved schema) is the operator"
)
_ANCHOR = (
    "bounded scalar anchor(s) — one row / a handful of values — "
    "collected to derive a literal threshold or grid the plan is "
    "built around. Grid-sizing anchors (spark.range extents) must be "
    "driver-side; filter-threshold anchors COULD fold into the plan "
    "as a broadcast one-row aggregate (the ev_bot_regularity "
    "pattern), trading one scheduler round-trip for a BNLJ — "
    "deliberately retained where the anchor yields a simpler plan "
    "and the extra job is a scalar-sized aggregate scan"
)
PREACTION_ALLOWED = {
    **dict.fromkeys(
        [
            "dp_equidepth_hist2d", "dp_gini_concentration", "dp_heaps_law",
            "dp_label_noise_centroid", "dp_woe_binning", "e1_label_encode",
            "e2_label_encode_multi", "ev_group_sequential_obf",
            "ev_sprt_sequential", "ev_uplift_qini", "j_rfm_segmentation",
        ],
        _RANK,
    ),
    **dict.fromkeys(
        ["dp_ann_ivf", "dp_ann_ivfpq", "dp_ann_pq", "dp_semdedup",
         "dp_coreset_kcenter", "dp_bloom_ingest_dedup"],
        _QUANT,
    ),
    **dict.fromkeys(
        ["dp_ann_selfcheck", "dp_ann_refine_selfcheck",
         "dp_minhash_estimate_selfcheck"],
        _SELFCHK,
    ),
    **dict.fromkeys(
        [
            "dp_association_rules", "dp_cluster_invariants",
            "dp_dedup_pipeline", "dp_dup_clusters", "dp_gaussian_mixture_em",
            "dp_geometric_median", "dp_graph_modularity",
            "dp_kcore_decomposition", "dp_pagerank_authority",
        ],
        _ITER,
    ),
    **dict.fromkeys(
        [
            "ml_aft_survival", "ml_corr_matrix_full", "ml_crime_pipeline",
            "ml_feature_importance_planted", "ml_fpgrowth_itemsets",
            "ml_gbt_binary_auc", "ml_gbt_multiclass", "ml_gmm_clusters",
            "ml_isotonic_calibration", "ml_kmeans_elbow", "ml_lda_topics",
            "ml_logreg_accuracy", "ml_prefixspan_sequences",
        ],
        _MLFIT,
    ),
    **dict.fromkeys(
        ["stream_cdc_upsert", "stream_incremental_rollup",
         "stream_wire_roundtrip"],
        _STREAM,
    ),
    **dict.fromkeys(
        [
            "dp_codec_roundtrip", "dp_compact_small_files",
            "dp_csv_roundtrip", "dp_format_roundtrip", "dp_jsonl_roundtrip",
            "dp_parquet_footer_stats", "dp_schema_evolution_read",
            "j_dynamic_partition_pruning",
        ],
        _IO,
    ),
    **dict.fromkeys(
        [
            "dp_bigram_lm_score", "dp_conformal_coverage",
            "dp_dedup_threshold_sweep", "dp_gdpr_forget",
            "dp_heavy_hitters_sketch", "dp_k_anonymity_suppression",
            "dp_negative_sampling", "dp_observe_metrics",
            "dp_three_way_split", "ev_abtest_lift", "ev_changepoint_cusum",
            "ev_churn_training_set", "ev_cuped_adjustment",
            "ev_dau_wau_stickiness", "ev_did_estimator",
            "ev_did_event_study", "ev_gap_survival", "ev_growth_accounting",
            "ev_kaplan_meier", "ev_logrank_test", "ev_retention_halflife",
            "ev_slo_burn_rate", "ev_theil_sen_trend",
            "fn_null_semantics_suite",
        ],
        _ANCHOR,
    ),
}


def lint_plan(
    name: str,
    plan: str,
    bnlj: dict = BNLJ_ALLOWED,
    cartesian: dict = CARTESIAN_ALLOWED,
    windows: dict = WINDOW_ALLOWED,
) -> list[str]:
    """All lint violations for one query's physical plan — both
    directions: a forbidden node without a justification AND a stale
    justification whose node no longer occurs (an allow-list entry must
    stay LOAD-BEARING, otherwise a rewrite that removes the node leaves
    a standing exemption a future regression could silently hide
    under)."""
    problems = []
    for node in FORBIDDEN:
        if node == "CartesianProduct" and name in cartesian:
            continue
        if node in plan:
            problems.append(f"forbidden {node} in physical plan")
    if name in cartesian and "CartesianProduct" not in plan:
        problems.append(
            "stale CARTESIAN_ALLOWED entry — plan no longer builds a "
            "CartesianProduct; delete the justification"
        )
    if "BroadcastNestedLoopJoin" in plan:
        if name not in bnlj:
            problems.append(
                "BroadcastNestedLoopJoin not in the allow-list — "
                "broadcast a tiny side deliberately and justify it in "
                "BNLJ_ALLOWED, or rewrite the join"
            )
    elif name in bnlj:
        problems.append(
            "stale BNLJ_ALLOWED entry — plan no longer builds a "
            "BroadcastNestedLoopJoin; delete the justification"
        )
    offenders = unpartitioned_unbounded_windows(plan)
    if offenders:
        if name not in windows:
            problems.append(
                "unpartitioned Window over unbounded input — partition "
                "it, rewrite as orderBy().limit(k) + post-limit rank, "
                "use operators/rank.global_row_number, or justify the "
                f"bounded grain in WINDOW_ALLOWED: {offenders}"
            )
    elif name in windows:
        problems.append(
            "stale WINDOW_ALLOWED entry — plan no longer builds an "
            "unpartitioned unbounded Window; delete the justification"
        )
    return problems


@pytest.mark.parametrize("name", sorted(_SPECS))
def test_no_scale_killer_nodes(spark, name):
    from tools.inventory_preactions import action_recorder

    with action_recorder() as acted:
        df = _SPECS[name].fn(spark, SF_SMOKE)
    plan = df._jdf.queryExecution().executedPlan().toString()
    problems = lint_plan(name, plan)
    if acted and name not in PREACTION_ALLOWED:
        problems.append(
            f"plan-build-time actions {sorted(acted)} — fold into the "
            "plan (broadcast one-row aggregate, the ev_bot_regularity "
            "pattern) or justify in PREACTION_ALLOWED"
        )
    elif not acted and name in PREACTION_ALLOWED:
        problems.append(
            "stale PREACTION_ALLOWED entry — build no longer runs an "
            "action; delete the justification"
        )
    assert not problems, f"{name}: " + "; ".join(problems)


def test_bnlj_allowlist_is_tight():
    """Every allow-list entry names a registered query, so renames/
    deletions can't leave stale justifications behind."""
    unknown = (
        set(BNLJ_ALLOWED)
        | set(CARTESIAN_ALLOWED)
        | set(WINDOW_ALLOWED)
        | set(PREACTION_ALLOWED)
    ) - set(_SPECS)
    assert not unknown, f"allow-list entries for unregistered queries: {unknown}"


def test_lint_flags_fabricated_stale_entries(spark):
    """An allow-list entry whose node no longer occurs must FAIL the
    lint (load-bearing check), and a justified plan must pass — pinned
    on fabricated plans so the direction of every branch is tested."""
    from pyspark.sql import functions as F

    def plan(d):
        return d._jdf.queryExecution().executedPlan().toString()

    plain = plan(spark.range(10).select((F.col("id") + 1).alias("v")))
    assert "BroadcastNestedLoopJoin" not in plain
    # stale entries of every kind flag on a node-free plan
    probs = lint_plan(
        "fake", plain,
        bnlj={"fake": "reason"}, cartesian={"fake": "reason"},
        windows={"fake": "reason"},
    )
    assert len(probs) == 3 and all("stale" in p for p in probs), probs
    # a real BNLJ plan: justified passes, unjustified flags
    tiny = spark.range(1).select(F.lit(7).alias("k"))
    bnlj_plan = plan(spark.range(50).crossJoin(F.broadcast(tiny)))
    assert "BroadcastNestedLoopJoin" in bnlj_plan
    assert not lint_plan("fake", bnlj_plan, bnlj={"fake": "reason"},
                         cartesian={}, windows={})
    assert lint_plan("fake", bnlj_plan, bnlj={}, cartesian={}, windows={})


def test_window_detector_flags_regression(spark):
    """The detector itself: a global row_number over an unbounded scan
    must flag; a partitioned window and the post-limit rank pattern
    must not."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    df = spark.range(100).select("id", (F.col("id") % 5).alias("k"))

    def plan(d):
        return d._jdf.queryExecution().executedPlan().toString()

    bad = df.withColumn("r", F.row_number().over(Window.orderBy("id")))
    assert unpartitioned_unbounded_windows(plan(bad)), (
        "deliberately-regressed global window not flagged"
    )
    good = df.withColumn(
        "r", F.row_number().over(Window.partitionBy("k").orderBy("id"))
    )
    assert not unpartitioned_unbounded_windows(plan(good))
    postlimit = (
        df.orderBy("id")
        .limit(5)
        .withColumn("r", F.row_number().over(Window.orderBy("id")))
    )
    assert not unpartitioned_unbounded_windows(plan(postlimit))
    # partitioned-but-unordered prints only two bracket groups — must
    # NOT flag; bare over() prints one group — MUST flag
    part_noorder = df.withColumn(
        "n", F.count("*").over(Window.partitionBy("k"))
    )
    assert not unpartitioned_unbounded_windows(plan(part_noorder))
    bare = df.withColumn("n", F.count("*").over(Window.partitionBy()))
    assert unpartitioned_unbounded_windows(plan(bare))
    # a limit BELOW a join/agg does not bound the window input
    joined = bad.join(df.limit(5).withColumnRenamed("id", "id2"), "k")
    assert unpartitioned_unbounded_windows(plan(joined))


# vector columns cross into numpy through the one Arrow decoder
# (functions/vectors._decode_vec_column), never through pandas
PANDAS_BRIDGE = {"pandas_udf", "mapInPandas", "_np_rows"}


def pandas_bridge_names(source: str) -> list[str]:
    """``line: name`` of each code identifier in PANDAS_BRIDGE;
    comments and strings do not count."""
    toks = tokenize.generate_tokens(io.StringIO(source).readline)
    return [
        f"{t.start[0]}: {t.string}"
        for t in toks
        if t.type == tokenize.NAME and t.string in PANDAS_BRIDGE
    ]


def test_vector_paths_have_no_pandas_bridge():
    pkg = Path(crime_spark_ml_spark.__file__).parent
    files = [pkg / "functions/vectors.py", pkg / "operators/similarity.py"]
    files += sorted((pkg / "ml").glob("*.py"))
    found = {f.name: h for f in files if (h := pandas_bridge_names(f.read_text()))}
    assert not found, found


def test_pandas_bridge_lint_flags_fabricated_source():
    bad = "from m import pandas_udf\ndf.mapInPandas(f)  # mapInPandas\n'_np_rows'\nq._np_rows(b)\n"
    assert pandas_bridge_names(bad) == ["1: pandas_udf", "2: mapInPandas", "4: _np_rows"]
