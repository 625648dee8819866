"""Bucketed co-located joins (plan-level: no Exchange) and deterministic
sampling invariants (layout-independence, nested subsets, rate bounds)."""

from __future__ import annotations

from pyspark.sql import functions as F

from data_ingestion_bra_spark.operators.bucketing import colocated_join, write_bucketed
from data_ingestion_bra_spark.operators.sampling import deterministic_sample, stratified_sample
from data_ingestion_bra_spark.sources.tables import load_table
from tests.conftest import SF_SMOKE, sql_conf


def _executed_plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_bucketed_join_has_no_exchange(spark):
    orders = load_table(spark, SF_SMOKE, "orders")
    customer = load_table(spark, SF_SMOKE, "customer")
    write_bucketed(orders, "b_orders", "o_custkey", 4)
    write_bucketed(
        customer.withColumnRenamed("c_custkey", "o_custkey"), "b_customer", "o_custkey", 4
    )
    try:
        # Force a non-broadcast join so co-location is what removes the
        # shuffle (a broadcast would hide it behind a BroadcastExchange).
        with sql_conf(spark, {"spark.sql.autoBroadcastJoinThreshold": "-1"}):
            joined = colocated_join(spark, "b_orders", "b_customer", "o_custkey")
            joined.collect()
            plan = _executed_plan(joined)
            assert "Exchange" not in plan, plan
            # and the result matches the plain (shuffling) join
            plain = orders.join(
                customer, orders.o_custkey == customer.c_custkey
            ).count()
            assert joined.count() == plain
            # path-based reads of the same files DO shuffle — the catalog
            # carries the bucketing metadata, the path does not
            loc = spark.sql("DESCRIBE FORMATTED b_orders").filter(
                F.col("col_name") == "Location"
            ).first()["data_type"]
            path_df = spark.read.parquet(loc).join(
                spark.table("b_customer"), "o_custkey"
            )
            path_df.collect()
            assert "Exchange" in _executed_plan(path_df)
    finally:
        spark.sql("DROP TABLE IF EXISTS b_orders")
        spark.sql("DROP TABLE IF EXISTS b_customer")


def test_deterministic_sample_layout_invariant(spark):
    orders = load_table(spark, SF_SMOKE, "orders")
    a = deterministic_sample(orders, ["o_orderkey"], 0.1)
    keys1 = {r[0] for r in a.select("o_orderkey").collect()}
    # same data, radically different physical layout
    reshuffled = orders.repartition(13, "o_orderstatus")
    keys2 = {
        r[0]
        for r in deterministic_sample(reshuffled, ["o_orderkey"], 0.1)
        .select("o_orderkey")
        .collect()
    }
    assert keys1 == keys2
    n = orders.count()
    assert 0.07 * n < len(keys1) < 0.13 * n  # ~10% within loose bounds


def test_deterministic_sample_nested_subsets(spark):
    orders = load_table(spark, SF_SMOKE, "orders")
    small = {r[0] for r in deterministic_sample(orders, ["o_orderkey"], 0.05).select("o_orderkey").collect()}
    big = {r[0] for r in deterministic_sample(orders, ["o_orderkey"], 0.20).select("o_orderkey").collect()}
    assert small <= big
    full = deterministic_sample(orders, ["o_orderkey"], 1.0).count()
    assert full == orders.count()


def test_stratified_sample_rates_and_drop(spark):
    orders = load_table(spark, SF_SMOKE, "orders")
    s = stratified_sample(orders, "o_orderstatus", {"F": 0.5}, key_cols=["o_orderkey"])
    got = {r["o_orderstatus"] for r in s.select("o_orderstatus").distinct().collect()}
    assert got == {"F"}  # unlisted strata dropped
    n_f = orders.filter(F.col("o_orderstatus") == "F").count()
    assert 0.4 * n_f < s.count() < 0.6 * n_f
