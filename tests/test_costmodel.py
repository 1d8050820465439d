"""Sketch-driven join planning (operators/costmodel.py): the CMS
join-size family consumed as a cost model.

What must hold: the grid's side cardinalities are EXACT (each key adds
1 to every row), the output bound is one-sided, the broadcast decision
follows the documented rule, and the eager ``plan_equijoin`` actually
plants the hint — a BroadcastHashJoin in the physical plan when the
build side is proven small, and a result identical to the plain join
either way."""

from __future__ import annotations

import pytest

from pyspark.sql import functions as F

from aws_kinesis_data_streams_replicator_spark.operators import costmodel
from aws_kinesis_data_streams_replicator_spark.sources.tables import load_table


@pytest.fixture(scope="module")
def orders(spark, sf_dir):
    return load_table(spark, sf_dir, "orders")


@pytest.fixture(scope="module")
def customer(spark, sf_dir):
    return load_table(spark, sf_dir, "customer")


def test_grid_side_cardinality_is_exact(spark, orders):
    g = costmodel.key_cms_grid(orders, "o_custkey")
    per_row = (
        g.groupBy("r").agg(F.sum("cnt").alias("n")).collect()
    )
    n = orders.count()
    assert len(per_row) == costmodel.CMS_DEPTH
    assert all(r["n"] == n for r in per_row)


def test_join_size_bound_is_one_sided(spark, orders, customer):
    pos = customer.where(F.col("c_acctbal") > 0)
    ga = costmodel.key_cms_grid(orders, "o_custkey")
    gb = costmodel.key_cms_grid(pos, "c_custkey")
    stats = costmodel.join_plan_stats(ga, gb, 5000).first()
    true_size = orders.join(
        pos, orders["o_custkey"] == pos["c_custkey"]
    ).count()
    assert stats["join_size_bound"] >= true_size
    assert stats["rows_a"] == orders.count()
    assert stats["rows_b"] == pos.count()


def test_plan_equijoin_broadcasts_proven_small_side(
    spark, orders, customer
):
    joined, stats = costmodel.plan_equijoin(
        orders, customer, "o_custkey", "c_custkey",
        broadcast_threshold_rows=100_000,
    )
    assert stats["broadcast_smaller"]
    assert stats["smaller_side"] == "b"  # customer < orders
    plan = joined._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan
    assert joined.count() == orders.join(
        customer, orders["o_custkey"] == customer["c_custkey"]
    ).count()


def test_weighted_grid_equals_grid_of_unrolled_relation(spark, orders):
    """Σw cells from a (key, weight) rollup must be cell-wise identical
    to counting the unrolled fact rows — the property that lets a grid
    be built from catalog stats instead of the fact."""
    rollup = orders.groupBy("o_custkey").agg(
        F.count(F.lit(1)).alias("w")
    )
    gw = costmodel.key_cms_grid(rollup, "o_custkey", weight="w")
    gu = costmodel.key_cms_grid(orders, "o_custkey")
    mismatches = (
        gw.withColumnsRenamed({"cnt": "cnt_w"})
        .join(gu, ["r", "bucket"], "full")
        .where(
            F.coalesce("cnt_w", F.lit(-1)) != F.coalesce("cnt", F.lit(-1))
        )
        .count()
    )
    assert mismatches == 0


def test_weighted_join_size_bound_is_one_sided(spark, orders):
    """Inner product of two weighted grids bounds the unrolled join
    size Σ_k wA(k)·wB(k) from above — nonnegative weights mean
    collisions only add cross terms."""
    wa = (
        orders.where(F.col("o_orderstatus") == "O")
        .groupBy("o_custkey")
        .agg(F.count(F.lit(1)).alias("w"))
    )
    wb = (
        orders.where(F.col("o_orderstatus") == "F")
        .groupBy("o_custkey")
        .agg(F.count(F.lit(1)).alias("w"))
    )
    ga = costmodel.key_cms_grid(wa, "o_custkey", weight="w")
    gb = costmodel.key_cms_grid(wb, "o_custkey", weight="w")
    stats = costmodel.join_plan_stats(ga, gb, 5000).first()
    true_size = (
        wa.join(
            wb.withColumnsRenamed({"w": "w_b"}), "o_custkey"
        )
        .agg(F.coalesce(F.sum(F.col("w") * F.col("w_b")), F.lit(0)))
        .first()[0]
    )
    assert stats["join_size_bound"] >= true_size > 0
    # side cardinalities read as UNROLLED row counts
    assert stats["rows_a"] == orders.where(
        F.col("o_orderstatus") == "O"
    ).count()


def test_plan_equijoin_withholds_hint_over_threshold(
    spark, orders, customer
):
    joined, stats = costmodel.plan_equijoin(
        orders, customer, "o_custkey", "c_custkey",
        broadcast_threshold_rows=1,
    )
    assert not stats["broadcast_smaller"]
    # strategy is left to AQE (no hint), but the RESULT is identical
    assert joined.count() == orders.join(
        customer, orders["o_custkey"] == customer["c_custkey"]
    ).count()


def test_sketch_catalog_roundtrip_and_delta_fold(spark, orders, tmp_path):
    """Persisted grid reads back cell-wise identical to a fresh one;
    appending only the NEW rows' grid keeps the catalog exact — the
    incremental-maintenance contract (one pass over the fresh
    partition, never the historical fact)."""
    cat = str(tmp_path / "catalog")
    base = orders.where(F.col("o_orderkey") % 4 != 0)
    delta = orders.where(F.col("o_orderkey") % 4 == 0)
    costmodel.write_key_sketch(base, "o_custkey", cat, "orders")
    costmodel.write_key_sketch(
        delta, "o_custkey", cat, "orders", mode="append"
    )
    folded = costmodel.read_key_sketch(spark, cat, "orders", "o_custkey")
    fresh = costmodel.key_cms_grid(orders, "o_custkey")
    mismatches = (
        folded.withColumnsRenamed({"cnt": "cnt_f"})
        .join(fresh, ["r", "bucket"], "full")
        .where(
            F.coalesce("cnt_f", F.lit(-1)) != F.coalesce("cnt", F.lit(-1))
        )
        .count()
    )
    assert mismatches == 0


def test_sketch_catalog_rejects_convention_mismatch(
    spark, orders, tmp_path
):
    cat = str(tmp_path / "catalog")
    costmodel.write_key_sketch(
        orders, "o_custkey", cat, "orders", depth=2, width=64
    )
    with pytest.raises(ValueError, match="convention mismatch"):
        costmodel.read_key_sketch(spark, cat, "orders", "o_custkey")


def test_plan_from_catalog_caches_on_miss_then_reads_stats(
    spark, orders, customer, tmp_path
):
    """First call builds+persists both sketches; the decision matches
    plan_equijoin.  Second call must read the CATALOG, not the
    relations: plant a deliberately inflated sketch for customer and
    assert the planner believes the catalog (rows_b = the inflated
    unrolled count), proving warm-path stats never touch the fact."""
    cat = str(tmp_path / "catalog")
    joined, stats = costmodel.plan_equijoin_from_catalog(
        orders, customer, "o_custkey", "c_custkey", cat,
        "orders", "customer", broadcast_threshold_rows=100_000,
    )
    assert stats["broadcast_smaller"] and stats["smaller_side"] == "b"
    plan = joined._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan
    # overwrite customer's catalog entry with a 10x-weighted grid
    ten = customer.groupBy("c_custkey").agg(
        (F.count(F.lit(1)) * 10_000_000).alias("w")
    )
    costmodel.write_key_sketch(
        ten, "c_custkey", cat, "customer", weight="w"
    )
    _, stats2 = costmodel.plan_equijoin_from_catalog(
        orders, customer, "o_custkey", "c_custkey", cat,
        "orders", "customer", broadcast_threshold_rows=100_000,
    )
    assert stats2["rows_b"] == customer.count() * 10_000_000
    # the smaller side flipped to orders — the decision tracked the
    # CATALOG numbers, not the live relations
    assert stats2["smaller_side"] == "a"


def test_cold_catalog_reads_each_sketch_once(
    spark, orders, customer, tmp_path, monkeypatch
):
    """A catalog miss is found by checking the sketch path, not by a
    failed read: cold planning builds each side's sketch and reads it
    exactly once."""
    cat = str(tmp_path / "catalog")
    reads = []
    orig = costmodel.read_key_sketch

    def counting(spark_, catalog_dir, relation, *a, **kw):
        reads.append(relation)
        return orig(spark_, catalog_dir, relation, *a, **kw)

    monkeypatch.setattr(costmodel, "read_key_sketch", counting)
    costmodel.plan_equijoin_from_catalog(
        orders, customer, "o_custkey", "c_custkey", cat,
        "orders", "customer", broadcast_threshold_rows=100_000,
    )
    assert sorted(reads) == ["customer", "orders"]


def test_grid_drops_null_keys(spark, orders):
    """NULL keys can never match an equi-join, so they must not count
    toward the 'exact side cardinality' — a NULL-heavy side would
    otherwise overstate its size, flip smaller_side, and suppress an
    otherwise valid broadcast (ADVICE r8)."""
    with_nulls = orders.select(
        F.when(F.col("o_orderkey") % 2 == 0, F.col("o_custkey")).alias("k")
    )
    n_nonnull = with_nulls.where(F.col("k").isNotNull()).count()
    g = costmodel.key_cms_grid(with_nulls, "k")
    per_row = g.groupBy("r").agg(F.sum("cnt").alias("n")).collect()
    assert {int(r.n) for r in per_row} == {n_nonnull}


def test_catalog_planning_stats_are_memoized(
    spark, orders, customer, tmp_path, monkeypatch
):
    """Re-planning the same catalog join in one session must not re-run
    the 1-row stats job (the catalog entry is immutable per path);
    an in-process sketch write invalidates the memo."""
    cat = str(tmp_path / "catalog")
    calls = []
    orig = costmodel.join_plan_stats

    def counting(*a, **kw):
        calls.append(1)
        return orig(*a, **kw)

    monkeypatch.setattr(costmodel, "join_plan_stats", counting)
    args = (orders, customer, "o_custkey", "c_custkey", cat,
            "orders", "customer")
    _, s1 = costmodel.plan_equijoin_from_catalog(*args)
    _, s2 = costmodel.plan_equijoin_from_catalog(*args)
    assert len(calls) == 1 and s1 == s2
    costmodel.write_key_sketch(customer, "c_custkey", cat, "customer")
    _, s3 = costmodel.plan_equijoin_from_catalog(*args)
    assert len(calls) == 2, "a catalog write must invalidate the memo"
