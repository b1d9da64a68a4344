"""Scale tools: bucketed tables join without a shuffle; salted joins match
plain join results while spreading hot keys."""

from __future__ import annotations

import pandas as pd
import pytest
from pyspark.sql import functions as F

from mini_etl_spark import plans
from mini_etl_spark.operators.skew import salted_join
from mini_etl_spark.sinks import to_parquet_bucketed
from mini_etl_spark.sources import read_parquet

from tests.conftest import SF_SMALL


def _drop(spark, *tables):
    import shutil

    warehouse = spark.conf.get("spark.sql.warehouse.dir").removeprefix("file:")
    for t in tables:
        spark.sql(f"DROP TABLE IF EXISTS {t}")
        shutil.rmtree(f"{warehouse}/{t}", ignore_errors=True)


def test_bucketed_join_has_no_shuffle(spark, tmp_path):
    spark.conf.set("spark.sql.sources.bucketing.enabled", "true")
    _drop(spark, "bt_orders", "bt_customer")
    orders = read_parquet(f"{SF_SMALL}/orders.parquet")(spark)
    customer = read_parquet(f"{SF_SMALL}/customer.parquet")(spark)
    to_parquet_bucketed("bt_orders", "o_custkey", num_buckets=8)(orders)
    to_parquet_bucketed("bt_customer", "o_custkey", num_buckets=8)(
        customer.withColumnRenamed("c_custkey", "o_custkey")
    )
    try:
        a = spark.table("bt_orders")
        b = spark.table("bt_customer")
        # disable broadcast so the only shuffle-free option is bucketing
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        joined = a.join(b, "o_custkey", "inner")
        sig = plans.signature(joined)
        assert not sig["Exchange"], sig
        assert joined.count() > 0
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "10485760")
        _drop(spark, "bt_orders", "bt_customer")


def test_bucketed_agg_skips_exchange(spark):
    _drop(spark, "bt_agg")
    orders = read_parquet(f"{SF_SMALL}/orders.parquet")(spark)
    to_parquet_bucketed("bt_agg", "o_custkey", num_buckets=8)(orders)
    try:
        t = spark.table("bt_agg")
        agg = t.groupBy("o_custkey").agg(F.sum("o_totalprice").alias("s"))
        sig = plans.signature(agg)
        assert not sig["Exchange"], sig
    finally:
        _drop(spark, "bt_agg")


def test_salted_join_matches_plain_join(spark):
    # skewed fact: key 1 holds 80% of rows
    fact_pdf = pd.DataFrame(
        {"k": [1] * 800 + list(range(2, 202)), "v": range(1000)}
    )
    dim_pdf = pd.DataFrame({"k": range(1, 202), "name": [f"d{i}" for i in range(1, 202)]})
    fact = spark.createDataFrame(fact_pdf)
    dim = spark.createDataFrame(dim_pdf)
    plain = fact.join(dim, "k", "inner").select("k", "v", "name")
    salted = salted_join(fact, dim, "k", "inner", salt=4).select("k", "v", "name")
    assert salted.count() == plain.count() == 1000
    assert salted.exceptAll(plain).count() == 0
    assert plain.exceptAll(salted).count() == 0


def test_salted_left_join_keeps_unmatched(spark):
    fact = spark.createDataFrame(pd.DataFrame({"k": [1, 2, 99], "v": [10, 20, 30]}))
    dim = spark.createDataFrame(pd.DataFrame({"k": [1, 2], "name": ["a", "b"]}))
    out = salted_join(fact, dim, "k", "left", salt=3).orderBy("k").collect()
    assert [(r.k, r.name) for r in out] == [(1, "a"), (2, "b"), (99, None)]


def test_salted_join_validation():
    with pytest.raises(ValueError):
        salted_join(None, None, "k", "outer")
    with pytest.raises(ValueError):
        salted_join(None, None, "k", salt=1)


def test_aqe_skew_join_split_fires(spark):
    """AQE's runtime skew-join splitting — the mechanism SCALE.md leans on
    for moderate skew — must actually fire on a forced-skew sort-merge
    join: the FINAL adaptive plan carries `skew=true` and the job still
    returns exact results. Thresholds are lowered so test-sized data
    reproduces the 100 TB condition (one partition far beyond median)."""
    conf_saved = {
        k: spark.conf.get(k, None)
        for k in (
            "spark.sql.autoBroadcastJoinThreshold",
            "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes",
            "spark.sql.adaptive.advisoryPartitionSizeInBytes",
            "spark.sql.adaptive.skewJoin.skewedPartitionFactor",
            "spark.sql.adaptive.coalescePartitions.enabled",
        )
    }
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        spark.conf.set(
            "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes",
            "100KB",
        )
        spark.conf.set(
            "spark.sql.adaptive.advisoryPartitionSizeInBytes", "50KB"
        )
        spark.conf.set(
            "spark.sql.adaptive.skewJoin.skewedPartitionFactor", "2"
        )
        # partition coalescing can merge small partitions and mask the
        # median comparison — keep the skew geometry intact
        spark.conf.set(
            "spark.sql.adaptive.coalescePartitions.enabled", "false"
        )
        # key 0 owns ~95% of the fact side, with a fat payload so the hot
        # shuffle partition dwarfs both thresholds
        fact = (
            spark.range(0, 100_000)
            .select(
                F.when(F.col("id") % 20 != 0, F.lit(0))
                .otherwise(F.col("id"))
                .alias("k"),
                F.concat(F.lit("x" * 120), F.col("id")).alias("payload"),
            )
        )
        # range(0, 100000, 20) already contains key 0 and every multiple
        # of 20 — distinct by construction, so the dim side stays a bare
        # Sort(ShuffleQueryStage) under the join (an aggregate in between
        # would break OptimizeSkewedJoin's pattern match)
        dim = spark.range(0, 100_000, 20).select(
            F.col("id").alias("k"), F.lit("d").alias("name")
        )
        joined = fact.join(dim, "k", "inner")
        # execute THIS DataFrame's queryExecution (count() would plan a
        # different query and leave the adaptive plan un-finalized)
        assert len(joined.collect()) == 100_000
        final_plan = joined._jdf.queryExecution().executedPlan().toString()
        assert "skew=true" in final_plan, final_plan[:4000]
    finally:
        for k, v in conf_saved.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)
