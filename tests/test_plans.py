"""Physical-plan shape assertions — the 100 TB design contract.

Correct results aren't enough: these tests pin the plan properties that
make each operator survive a 1000-executor scale-up (broadcasts where a
dim table is small, pushdown into the scan, no nested-loop joins on the
big-data paths, partial aggregation before every shuffle).
"""

from __future__ import annotations

import pytest

from aws_kinesis_data_streams_replicator_spark.plans.queries import QUERIES


def plan_of(spark, sf_dir, name) -> str:
    return QUERIES[name](spark, sf_dir)._jdf.queryExecution().executedPlan().toString()


def test_gate_is_a_filter_without_join(spark, sf_dir):
    """Op 5: the config is resolved on the driver (Handler does one tiny
    Query per batch), so the gate is an IN filter on the stream side:
    no join of any strategy, and no shuffle beyond the per-stream
    aggregation's one."""
    plan = plan_of(spark, sf_dir, "kr_active_region_gate")
    for join in ("BroadcastHashJoin", "SortMergeJoin", "ShuffledHashJoin"):
        assert join not in plan
    assert " IN (kds-click,kds-view)" in plan
    assert plan.count("Exchange") == 1


def test_q5_all_dim_joins_broadcast(spark, sf_dir):
    """TPC-H Q5 shape: lineitem must reach its aggregation without a
    single sort-merge join — every dim side broadcasts."""
    plan = plan_of(spark, sf_dir, "tpch_q5_revenue_by_nation")
    assert plan.count("BroadcastHashJoin") >= 4
    assert "SortMergeJoin" not in plan
    assert "CartesianProduct" not in plan


def test_q1_filter_pushed_to_scan(spark, sf_dir):
    plan = plan_of(spark, sf_dir, "tpch_q1_pricing_summary")
    assert "PushedFilters: [IsNotNull(l_shipdate), LessThanOrEqual(l_shipdate" in plan


def test_q1_partial_aggregation_before_shuffle(spark, sf_dir):
    """Map-side combine: two HashAggregates around a single exchange."""
    plan = plan_of(spark, sf_dir, "tpch_q1_pricing_summary")
    assert plan.count("HashAggregate") >= 2
    assert plan.count("Exchange") == 1


def test_scan_prunes_columns(spark, sf_dir):
    """kr_checkpoint projects 2 of 5 envelope source columns; the events
    scan must not read value/props-independent columns it doesn't need."""
    plan = plan_of(spark, sf_dir, "kr_checkpoint")
    assert "value" not in plan.split("ReadSchema")[1].split("\n")[0]


def test_asof_join_has_no_pair_explosion(spark, sf_dir):
    """The as-of join must be window-based: no join operator at all."""
    plan = plan_of(spark, sf_dir, "evt_asof_join_signup")
    for bad in ("CartesianProduct", "BroadcastNestedLoopJoin", "SortMergeJoin"):
        assert bad not in plan
    assert "RunningWindowFunction" in plan or "Window" in plan


def test_range_join_is_equi_join(spark, sf_dir):
    """Bucketing must turn the range predicate into a hash-joinable key."""
    plan = plan_of(spark, sf_dir, "evt_range_count_5m")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert ("BroadcastHashJoin" in plan) or ("SortMergeJoin" in plan) or (
        "ShuffledHashJoin" in plan
    )


def test_topk_uses_take_ordered_not_global_sort(spark, sf_dir):
    """ORDER BY + LIMIT must compile to TakeOrderedAndProject (per-
    partition top-k + merge), never a full range-partitioned sort."""
    plan = plan_of(spark, sf_dir, "tpch_q3_top_orders")
    assert "TakeOrderedAndProject" in plan
    assert "rangepartitioning" not in plan.lower()


def test_multires_rollup_scans_raw_once(spark, sf_dir):
    """The hierarchical rollup must not re-scan raw events per grain."""
    plan = plan_of(spark, sf_dir, "evt_multires_rollup")
    assert plan.count("Scan parquet") == 1


def test_minhash_pairs_join_on_bucket(spark, sf_dir):
    """LSH candidate generation must equi-join on the band bucket."""
    plan = plan_of(spark, sf_dir, "doc_minhash_lsh_pairs")
    assert "CartesianProduct" not in plan


@pytest.mark.parametrize(
    "name",
    ["kr_replicated_records", "kr_payload_decode", "evt_tumbling_hourly"],
)
def test_narrow_queries_stay_jvm_side(spark, sf_dir, name):
    """No joins, no shuffles beyond the agg, and crucially no Python in
    the row path (BatchEvalPython = row-at-a-time UDF, the banned slow
    path; Arrow* = pandas UDFs, allowed only where declared)."""
    plan = plan_of(spark, sf_dir, name)
    assert "CartesianProduct" not in plan
    assert "BatchEvalPython" not in plan
    assert "ArrowEvalPython" not in plan


def test_approx_count_distinct_within_tolerance(spark, sf_dir):
    """agg_approx_distinct emits the HLL-vs-exact tolerance claim as
    boolean columns (raw sketch values can't hash-match a DuckDB
    oracle); every group must report the estimate within 5%."""
    from aws_kinesis_data_streams_replicator_spark.plans.queries import QUERIES

    for r in QUERIES["agg_approx_distinct"](spark, sf_dir).collect():
        assert r.approx_users_within_5pct
        assert r.approx_events_within_5pct
        assert r.exact_users > 0 and r.n_rows >= r.exact_users


def test_supplier_scorecard_has_no_expand(spark, sf_dir):
    """Round-5 rewrite contract: the two fan-out distincts run as
    separate single-distinct aggregations, so Catalyst's Expand rewrite
    (3x rows through the shuffle for multi-distinct aggs) must never
    reappear in this plan."""
    plan = plan_of(spark, sf_dir, "tpch_supplier_scorecard")
    assert "Expand" not in plan


def _window_exec_groups(plan: str):
    """Parse each WindowExec line's top-level bracket groups.

    Spark prints ``Window [functions], [partitionSpec], [orderSpec]``
    for a partitioned window and ``Window [functions], [orderSpec]``
    (just TWO groups) for an unpartitioned one — so the group COUNT,
    not the first windowspecdefinition argument, is the reliable
    partitioned/global discriminator."""
    out = []
    for ln in plan.splitlines():
        stripped = ln.strip().lstrip(":+- ")
        if not stripped.startswith("Window "):
            continue
        groups, depth, cur = [], 0, []
        for ch in stripped:
            if ch == "[":
                depth += 1
                if depth == 1:
                    cur = []
                    continue
            elif ch == "]":
                depth -= 1
                if depth == 0:
                    groups.append("".join(cur))
                    continue
            if depth >= 1:
                cur.append(ch)
        out.append(groups)
    return out


def test_peak_concurrency_has_no_global_window(spark, sf_dir):
    """Round-5 rewrite contract: the running concurrency sum is a
    two-phase prefix (per-day windows + a bounded day-offset rollup).
    The only unpartitioned window allowed is the |days|-row offset
    prefix ordered by day_n; the delta stream itself must never funnel
    through a single-partition WindowExec.  Asserted on the WindowExec
    partition-spec bracket group (round-6 ADVICE fix — the previous
    windowspecdefinition-arg heuristic could miss a global window
    ordered by (day_n, t)).  NOTE: this plan shape depends on the
    query's lazy localCheckpoint truncating the upstream per-user
    session windows out of the optimized plan — if that checkpoint is
    removed, extra (partitioned) WindowExecs reappear here and the
    per-exec assertions below still apply to each of them."""
    plan = plan_of(spark, sf_dir, "evt_peak_concurrency")
    windows = _window_exec_groups(plan)
    assert windows, plan
    globals_ = [g for g in windows if len(g) == 2]
    partitioned = [g for g in windows if len(g) == 3]
    # the within-day prefix must be partitioned BY day_n
    assert any("day_n" in g[1] for g in partitioned), windows
    # exactly one global window: the bounded |days|-row offset prefix,
    # ordered by day_n alone (never by the event-level timestamp t)
    assert len(globals_) == 1, windows
    order_cols = globals_[0][1]
    assert "day_n" in order_cols and "t#" not in order_cols, windows


def test_winnowing_fuses_maxpos_into_one_window(spark, sf_dir):
    """Round-5 rewrite contract: the per-doc max position rides the
    SAME WindowExec as the winnowing min-selection (a second frame over
    identical partitioning) — no join anywhere in the fingerprint
    plan."""
    plan = plan_of(spark, sf_dir, "doc_winnowing_fingerprints")
    for bad in ("Join", "CartesianProduct"):
        assert bad not in plan, plan
    assert plan.count("Window") >= 1
