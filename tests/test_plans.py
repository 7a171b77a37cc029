"""Physical-plan assertions: the properties that make these queries
scale must survive refactors — filters pushed to the parquet scan,
dimension joins broadcast, no accidental cartesian products, top-k as
TakeOrderedAndProject. (`bench.py` measures; these tests pin WHY the
numbers hold.)"""

from __future__ import annotations

import io
from contextlib import redirect_stdout

import pytest

from crime_spark_ml_spark.plans.registry import load_all_plans


def _plan(spark, sf_dir, name: str, mode: str = "formatted") -> str:
    df = load_all_plans()[name].fn(spark, sf_dir)
    buf = io.StringIO()
    with redirect_stdout(buf):
        df.explain(mode)
    return buf.getvalue()


def test_missing_plan_module_raises(monkeypatch):
    """A plan module that fails to import takes its whole query family
    with it, so load_all_plans raises instead of skipping it."""
    from crime_spark_ml_spark.plans import registry

    missing = "crime_spark_ml_spark.plans.no_such_plans"
    monkeypatch.setattr(
        registry, "_PLAN_MODULES", (*registry._PLAN_MODULES, missing)
    )
    with pytest.raises(ModuleNotFoundError, match="no_such_plans"):
        registry.load_all_plans()


def test_q6_filters_pushed_to_scan(spark, sf_dir):
    plan = _plan(spark, sf_dir, "q6_forecast_revenue")
    assert "PushedFilters: [" in plan
    # the range predicates reach the parquet reader
    assert "l_shipdate" in plan.split("PushedFilters", 1)[1][:400]


def test_q5_broadcasts_dimensions(spark, sf_dir):
    plan = _plan(spark, sf_dir, "q5_local_supplier_volume")
    assert plan.count("BroadcastHashJoin") >= 4  # supplier/customer/nation/region
    assert "CartesianProduct" not in plan


def test_q3_no_cartesian_and_topk(spark, sf_dir):
    plan = _plan(spark, sf_dir, "q3_shipping_priority")
    assert "CartesianProduct" not in plan
    assert "TakeOrderedAndProject" in plan


def test_a7_topk_is_take_ordered(spark, sf_dir):
    plan = _plan(spark, sf_dir, "a7_topk")
    assert "TakeOrderedAndProject" in plan


def test_projection_pruned_at_scan(spark, sf_dir):
    """2-column projection must not read all 5 customer columns."""
    plan = _plan(spark, sf_dir, "p_project_filter_rename")
    scan = plan.split("ReadSchema", 1)[1][:250]
    assert "c_custkey" in scan and "c_acctbal" in scan
    assert "c_nationkey" not in scan


def test_whole_stage_codegen_active(spark, sf_dir):
    """AQE finalizes the plan only on execution — inspect the executed
    plan, where the agg pipeline must sit inside codegen stages."""
    df = load_all_plans()["q1_pricing_summary"].fn(spark, sf_dir)
    df.collect()
    plan = df._jdf.queryExecution().executedPlan().toString()
    # '*(n)' prefixes mark WholeStageCodegen stages in the final plan
    assert "*(1)" in plan or "*(2)" in plan, plan[:500]


def test_label_encode_joins_are_broadcast(spark, sf_dir):
    plan = _plan(spark, sf_dir, "e1_label_encode")
    assert "BroadcastHashJoin" in plan


def test_zscore_has_no_global_window(spark, sf_dir):
    """E6 must be agg+broadcast, not a Window over the whole table."""
    plan = _plan(spark, sf_dir, "e6_zscore", mode="simple")
    assert "Window" not in plan
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastExchange" in plan


def test_flagship_pivot_shuffles_only_aggregates(spark, sf_dir):
    """Pivot with explicit values: the canonical two-phase plan
    (partial count per pair → pivotfirst per key), every exchange fed
    by a partial aggregate — and no distinct-discovery job for the
    pivot values."""
    plan = _plan(spark, sf_dir, "flagship_district_pivot", mode="simple")
    assert plan.count("Exchange hashpartitioning") <= 2
    # every hash exchange is fed by a partial aggregate, not raw rows
    for seg in plan.split("Exchange hashpartitioning")[1:]:
        assert "partial_" in seg.split("FileScan")[0]


def test_chunking_has_no_shuffle(spark, sf_dir):
    """Chunking is row-local (split → explode → slice): any Exchange
    would mean it stopped being embarrassingly parallel."""
    plan = _plan(spark, sf_dir, "dp_chunk_documents", mode="simple")
    body = plan.split("Sort", 1)[-1]  # ignore the result-ordering sort
    assert "Exchange hashpartitioning" not in body
    assert "Generate explode" in plan or "Generate posexplode" in plan


def test_tfidf_df_join_is_broadcast(spark, sf_dir):
    """The df/N sides are vocabulary-sized: they must broadcast onto
    the doc-scale tf aggregate, never sort-merge it."""
    plan = _plan(spark, sf_dir, "dp_tfidf_top_terms")
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_q11_broadcasts_dims_and_pushes_filter(spark, sf_dir):
    plan = _plan(spark, sf_dir, "q11_important_stock")
    assert plan.count("BroadcastHashJoin") >= 2  # supplier, nation
    assert "CartesianProduct" not in plan
    assert "EqualTo(n_name,NATION_3)" in plan  # pushed to the nation scan


def test_text_pipeline_scans_prune_columns(spark, sf_dir):
    """dp_hash_sample projects (doc_id, text): the scan must not read
    the other document columns."""
    plan = _plan(spark, sf_dir, "dp_hash_sample")
    scan = plan.split("ReadSchema", 1)[1][:250]
    assert "doc_id" in scan and "text" in scan
    assert "n_chars" not in scan and "lang" not in scan


def test_range_join_is_broadcast_equi_join_not_bnlj(spark, sf_dir):
    """The bucketized range join must plan as an equi-join on the
    bucket key with the tiny exploded interval side broadcast — never
    the quadratic BroadcastNestedLoopJoin a raw theta join produces."""
    plan = _plan(spark, sf_dir, "ev_range_join")
    assert "BroadcastHashJoin" in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan


def test_latest_snapshot_single_shuffle_before_window(spark, sf_dir):
    """Latest-wins compaction: one hash exchange on the dedup key
    feeds the row_number window; no extra exchange in between."""
    plan = _plan(spark, sf_dir, "dp_latest_snapshot", mode="simple")
    before_sort = plan.split("Window", 1)[1] if "Window" in plan else plan
    assert "hashpartitioning(user_id" in before_sort


def test_runtime_bloom_filter_injected(spark, sf_dir):
    """j_runtime_bloom_join: with runtime bloom filters enabled and
    broadcast off (forcing the shuffle-join shape the optimization
    exists for), Catalyst plants a bloom_filter_agg over the filtered
    o_orderkey set under the lineitem scan — and the result is
    identical to the default-conf plan (bloom false positives only
    reach the exact join, never the output)."""
    name = "j_runtime_bloom_join"
    fn = load_all_plans()[name].fn
    baseline = sorted(map(tuple, fn(spark, sf_dir).collect()))
    confs = {
        "spark.sql.optimizer.runtime.bloomFilter.enabled": "true",
        "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold": "10GB",
        "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold": "0",
        "spark.sql.autoBroadcastJoinThreshold": "-1",
    }
    saved = {k: spark.conf.get(k, None) for k in confs}
    try:
        for k, v in confs.items():
            spark.conf.set(k, v)
        df = fn(spark, sf_dir)
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "bloom_filter_agg" in plan, "runtime bloom filter not injected"
        assert sorted(map(tuple, df.collect())) == baseline
    finally:
        for k, v in saved.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def test_strategy_hints_bind(spark, sf_dir):
    """j_strategy_hints: each hinted arm plans its named physical join
    even with broadcast auto-detection off (the hint, not the size
    estimate, must decide)."""
    saved = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        plan = _plan(spark, sf_dir, "j_strategy_hints", mode="simple")
        assert "BroadcastHashJoin" in plan
        assert "SortMergeJoin" in plan
        assert "ShuffledHashJoin" in plan
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", saved)
