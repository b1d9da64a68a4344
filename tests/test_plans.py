"""Plan-shape assertions: the scale properties the engine promises must be
visible in the physical plan — filters pushed to the scan, columns pruned,
dimension joins broadcast, Q1 aggregation partial+final."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from mini_etl_spark import operators as ops
from mini_etl_spark import plans
from mini_etl_spark.sources import read_parquet

from tests.conftest import SF_SMALL


@pytest.fixture(scope="module")
def lineitem(spark):
    return read_parquet(f"{SF_SMALL}/lineitem.parquet")(spark)


def test_filter_pushes_down_to_parquet(spark, lineitem):
    df = ops.filter_rows("l_quantity < 10")(lineitem).select("l_orderkey")
    plans.assert_pushed_filter(df, "l_quantity")


def test_projection_prunes_scan(spark, lineitem):
    df = ops.select_columns(["l_orderkey", "l_quantity"])(lineitem)
    plans.assert_read_schema_only(df, {"l_orderkey", "l_quantity"})


def test_operator_chain_still_prunes(spark, lineitem):
    # filter + rename + projection: the scan must read only the 3 columns involved
    df = ops.filter_rows("l_discount > 0.05")(lineitem)
    df = ops.rename_columns({"l_extendedprice": "price"})(df)
    df = ops.select_columns(["l_orderkey", "price"])(df)
    plans.assert_read_schema_only(df, {"l_orderkey", "l_extendedprice", "l_discount"})
    plans.assert_pushed_filter(df, "l_discount")


def test_dim_join_broadcasts(spark):
    customer = read_parquet(f"{SF_SMALL}/customer.parquet")(spark)
    nation = read_parquet(f"{SF_SMALL}/nation.parquet")(spark)
    df = ops.join(
        nation.withColumnRenamed("n_nationkey", "c_nationkey"),
        on="c_nationkey",
        broadcast=True,
    )(customer)
    sig = plans.signature(df)
    assert sig["BroadcastHashJoin"] and not sig["CartesianProduct"], sig


def test_group_agg_is_partial_final(spark, lineitem):
    df = ops.group_agg("l_returnflag", {"l_quantity": "sum"})(lineitem)
    # partial (map-side) + final aggregate around one exchange
    sig = plans.signature(df)
    assert sig["HashAggregate"] == 2 and sig["Exchange"] == 1, sig


def test_summary_counts_each_exchange_once(spark):
    # the formatted plan prints every node twice: in the tree and in the
    # details below it
    df = spark.range(100).selectExpr("id % 3 AS g").groupBy("g").count()
    assert plans.summarize(df).exchanges == 1


def test_signature_on_small_frames(spark, lineitem):
    from pyspark.sql import Window

    df = spark.range(10).selectExpr("id", "id % 3 AS g")
    # a cached relation that already ran lists its final adaptive plan,
    # query stages included: the stage wrappers are not operators
    cached = df.groupBy("g").count().cache()
    cached.count()
    joined = cached.join(df, "g")
    assert "ShuffleQueryStage" in plans.physical_plan(joined)
    sig = plans.signature(joined)
    assert not [op for op in sig if op.endswith("QueryStage")], sig
    # each node counts once, though the plan text names it twice
    assert sig["BroadcastHashJoin"] == 1 and sig["InMemoryRelation"] == 1, sig
    cached.unpersist()
    # a window with no partition spec is the single-partition funnel
    w_global = Window.orderBy("id").rowsBetween(Window.unboundedPreceding, 0)
    w_part = Window.partitionBy("g").orderBy("id").rowsBetween(
        Window.unboundedPreceding, 0
    )
    assert plans.signature(df.withColumn("c", F.sum("id").over(w_global)))[
        "global_windows"] == 1
    assert plans.signature(df.withColumn("c", F.sum("id").over(w_part)))[
        "global_windows"] == 0
    # a scan counts once its PushedFilters list is non-empty
    assert plans.signature(lineitem)["pushed_filter_scans"] == 0
    filtered = lineitem.filter("l_quantity < 10")
    assert plans.signature(filtered)["pushed_filter_scans"] == 1


def test_orderby_limit_is_top_k(spark):
    customer = read_parquet(f"{SF_SMALL}/customer.parquet")(spark)
    df = customer.orderBy(F.col("c_acctbal").desc()).limit(5)
    assert "TakeOrderedAndProject" in plans.physical_plan(df)


def test_summary_renders(spark, lineitem):
    s = plans.explain_summary(ops.filter_rows("l_quantity < 5")(lineitem))
    assert "pushed_filters" in s


def test_dynamic_partition_pruning_fires(spark, tmp_path):
    """A hive-partitioned fact joined to a filtered dimension on the
    partition column must scan only the partitions the dimension filter
    selects — Catalyst's dynamic partition pruning, the mechanism that
    turns a 100 TB date-partitioned fact scan into a few partitions'
    worth. Visible as a dynamicpruning expression in the fact scan's
    PartitionFilters."""
    from mini_etl_spark.sinks import to_parquet

    fact_path = str(tmp_path / "fact_part")
    lineitem = read_parquet(f"{SF_SMALL}/lineitem.parquet")(spark)
    to_parquet(fact_path, mode="overwrite", partition_by=["l_returnflag"])(lineitem)

    fact = spark.read.parquet(fact_path)
    dim = spark.createDataFrame(
        [("A", "keep")], "flag string, label string"
    )
    joined = fact.join(
        dim.filter(F.col("label") == "keep"),
        fact.l_returnflag == dim.flag,
    ).select("l_orderkey", "flag")
    plan = joined._jdf.queryExecution().executedPlan().toString()
    assert "dynamicpruning" in plan.lower(), plan[:2000]
    # and the join result is the pruned partition's rows only
    want = lineitem.filter("l_returnflag = 'A'").count()
    assert joined.count() == want > 0


def test_runtime_bloom_filter_join_pruning(spark):
    """Runtime row-level filtering: a selective filter on one side of a
    shuffle join injects a bloom_filter_agg on that side and a might_contain
    probe into the other side's scan — rows that cannot join are dropped
    before the shuffle. At 100 TB this fires on default thresholds (the
    application side must be scan-heavy); at test size we lower the
    thresholds to prove the optimizer wiring."""
    old_bc = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")  # force SMJ
        spark.conf.set(
            "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold", "0"
        )
        li = read_parquet(f"{SF_SMALL}/lineitem.parquet")(spark)
        orders = read_parquet(f"{SF_SMALL}/orders.parquet")(spark).filter(
            "o_totalprice > 400000"
        )
        j = li.join(orders, li.l_orderkey == orders.o_orderkey).select(
            "l_orderkey", "o_totalprice"
        )
        plan = j._jdf.queryExecution().executedPlan().toString()
        assert "bloom_filter_agg" in plan, plan[:2000]
        assert "might_contain" in plan, plan[:2000]
        assert j.count() > 0
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old_bc)
        spark.conf.unset(
            "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold"
        )
