"""Physical-plan assertions (SURVEY.md §4): the plans we ship must be the
plans we designed — broadcast joins for small dims, pushed-down filters,
and zero Python evaluation nodes in the relational query surface."""

from __future__ import annotations

import pytest

from topn_clashroyal_etl_sql_snapshot_spark.plans import testdata_queries
import topn_clashroyal_etl_sql_snapshot_spark.plans.llm_queries  # noqa: F401

SF = "/root/testdata/sf0.001"


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_broadcast_joins_in_join_queries(spark):
    # f1 is unregistered (its driver-checked twin is cr_f1 on the domain
    # fixture) but stays the plan-shape exemplar for broadcast joins
    for fn in (
        testdata_queries.f1_top_parts_overall,
        # q3 rotated out of the registry in r8 (oracle bar lives in
        # test_rotated_rows) — still the 3-table broadcast exemplar
        testdata_queries.q3_shipping_priority,
        testdata_queries.queries()["q5_region_order_volume"],
    ):
        plan = _plan(fn(spark, SF))
        assert "BroadcastHashJoin" in plan or "BroadcastNestedLoopJoin" in plan, (
            f"expected a broadcast join\n{plan}"
        )


def test_filter_pushdown_reaches_parquet_scan(spark):
    # q1 rotated out of the registry r14; its pushdown bar stays here
    plan = _plan(testdata_queries.q1_pricing_summary(spark, SF))
    assert "PushedFilters: [IsNotNull(l_shipdate), LessThanOrEqual(l_shipdate" in plan, plan


def test_column_pruning(spark):
    plan = _plan(testdata_queries.f1_top_parts_overall(spark, SF))
    # lineitem scan must read only the join key, not all 11 columns
    assert "ReadSchema: struct<l_partkey:bigint>" in plan, plan


def test_no_python_eval_in_relational_surface(spark):
    # every registered query (incl. dedup/similarity/text) is pure column
    # algebra — Python evaluation nodes would break codegen and 100 TB
    # viability; only the multimodal operators are allowed Pandas UDFs
    qs = testdata_queries.queries()
    for name, fn in qs.items():
        plan = _plan(fn(spark, SF))
        assert "BatchEvalPython" not in plan, f"{name} has a Python UDF\n{plan}"
        assert "ArrowEvalPython" not in plan, f"{name} has a Pandas UDF\n{plan}"


def test_partial_aggregation_present(spark):
    # E-family groupBys must be partial+final hash aggregates (map-side
    # combine before the shuffle)
    plan = _plan(testdata_queries.f2_top_priority_classes(spark, SF))
    assert plan.count("HashAggregate") >= 2, plan


def test_derived_caches_follow_rewritten_documents(spark, tmp_path):
    """The session token and Jaccard-pair caches are derived from
    documents.parquet: once the file is rewritten, read_testdata
    re-reads it, and the derived entries must be rebuilt too instead
    of serving the old corpus — dedup_components after the rewrite
    equals a cold-cache run over the new file."""
    import shutil

    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    from topn_clashroyal_etl_sql_snapshot_spark.plans import llm_queries

    sf = str(tmp_path)
    path = f"{sf}/documents.parquet"
    shutil.copyfile(f"{SF}/documents.parquet", path)

    def components():
        return [tuple(r) for r in llm_queries.dedup_components(spark, sf).collect()]

    before = components()
    table = pq.read_table(path)
    pq.write_table(table.filter(pc.less(table["doc_id"], 250)), path)
    after = components()
    for cache in (llm_queries._PAIRS_CACHE, llm_queries._TOKS_CACHE):
        cache.get(spark, {}).pop(sf, None)
    assert after == components()
    assert after != before and all(r[0] < 250 for r in after)


def test_query_layer_cc_fast_path_engages(spark):
    """r16: the shared pair cache carries its observed row count and
    the component consumers hand it to connected_components, whose
    small-relation driver fast path must ENGAGE at driver-corpus pair
    volumes (the iterative loop's per-round jobs were the profiled
    fixed cost) — and must produce the loop's exact labels, which the
    oracle hash re-checks end to end."""
    from topn_clashroyal_etl_sql_snapshot_spark.operators import dedup
    from topn_clashroyal_etl_sql_snapshot_spark.plans import llm_queries

    llm_queries._PAIRS_CACHE.pop(spark, None)
    pairs, n = llm_queries._jaccard_pairs_counted(spark, SF)
    assert isinstance(n, int) and n == pairs.count()

    engaged = {"n": 0}
    orig = dedup._components_local

    def spy(*a, **kw):
        out = orig(*a, **kw)
        if out is not None:
            engaged["n"] += 1
        return out

    dedup._components_local = spy
    try:
        llm_queries.dedup_components(spark, SF).collect()
    finally:
        dedup._components_local = orig
    assert engaged["n"] == 1
