"""The maintenance operators (mini_etl_spark/maintenance.py): the
exact-percentile size guard, and the plan shape of ``robust_outliers``
(its per-group median frame is computed once, at construction)."""

from __future__ import annotations

import pytest

from mini_etl_spark import plans


def test_robust_outliers_materializes_median_once(spark, sample_df):
    import re

    from pyspark.sql import functions as F

    from mini_etl_spark.maintenance import robust_outliers

    df = sample_df.select("category", F.col("value").cast("double").alias("v"))
    out = robust_outliers(df, "v", group_col="category", k=3.0)
    plan = plans.physical_plan(out)
    # r13: the median frame is localCheckpoint'd (eager) — it computed
    # exactly ONCE at construction and the returned plan references it as
    # checkpointed data, so the raw-median percentile aggregate must be
    # absent from the plan entirely (pre-r12 it re-planned under each
    # broadcast build: 2 median aggregates, 4 base scans).
    assert "percentile(__v" not in plan, plan
    assert "Scan ExistingRDD" in plan, plan
    # the MAD percentile aggregate runs once (partial+final, each printed
    # in the tree and the details section → at most 4 textual hits); a
    # regression that re-inlines the subtree per broadcast consumer
    # doubles this
    assert len(re.findall(r"percentile\(abs", plan)) <= 4, plan


def test_exact_percentile_guard_falls_back_loudly(spark, monkeypatch):
    from pyspark.sql import functions as F

    from mini_etl_spark import maintenance as mt

    df = spark.range(1000).select(
        (F.col("id") % 7).alias("g"), (F.col("id") * 1.5).alias("v")
    )
    monkeypatch.setenv("MINI_ETL_EXACT_PERCENTILE_LIMIT_BYTES", "1")
    with pytest.warns(UserWarning, match="falling back to percentile_approx"):
        out = mt.quantile_buckets(df, "v", buckets=4)
    assert "qbucket" in out.columns
    with pytest.warns(UserWarning, match="falling back to percentile_approx"):
        mt.robust_outliers(df, "v", group_col="g").collect()


def test_exact_percentile_guard_stays_exact_below_limit(spark, monkeypatch):
    import warnings

    from pyspark.sql import functions as F

    from mini_etl_spark import maintenance as mt

    df = spark.range(1000).select((F.col("id") * 1.5).alias("v"))
    monkeypatch.delenv("MINI_ETL_EXACT_PERCENTILE_LIMIT_BYTES", raising=False)
    with warnings.catch_warnings():
        warnings.simplefilter("error")
        out = mt.quantile_buckets(df, "v", buckets=4)
    # exact quartile boundaries of 0, 1.5, ..., 1498.5 at scale=100:
    # deterministic check that the exact branch ran
    import collections

    counts = collections.Counter(r["qbucket"] for r in out.collect())
    assert counts == {0: 250, 1: 250, 2: 250, 3: 250}, counts
