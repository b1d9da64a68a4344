"""Shared fixtures.

Mirrors the reference's fixture strategy (tests/conftest.py:14-170): a
100-row sample frame (id 1..100, category A-E, value 100..199, name item_i),
a small frame, a frame with nulls — plus the driver-provided TPC-H-ish
parquet dirs for differential tests.
"""

from __future__ import annotations

import os

import pandas as pd
import pytest

from mini_etl_spark.session import get_spark

SF_SMALL = os.environ.get("SPARK_GRAFT_SF_SMALL", "/root/testdata/sf0.001")
SF_ORACLE = os.environ.get("SPARK_GRAFT_SF_ORACLE", "/root/testdata/sf0.01")


@pytest.fixture(scope="session")
def spark():
    session = get_spark("mini-etl-spark-tests", shuffle_partitions=8)
    yield session


# The whole suite shares ONE JVM. unpersist/clearCache drop *references*,
# but broadcast pieces, localCheckpoint blocks and shuffle files are only
# physically freed once a driver GC lets the ContextCleaner see the weak
# references die — and on a 32 GB heap full GCs essentially never fire on
# their own, so across ~1000 tests the block manager fills with dead state
# and LATE tests run 2-10× slower (the same backlog bench.py's
# drain_session_state() fixed for the query battery in r12: e.g.
# near_dup_groups_star measured 51 s at suite position ~600 vs ~5 s
# isolated). One System.gc() every few tests keeps every position running
# like a fresh session; it only fires when a session already exists, so
# Spark-free tests pay nothing.
_GC_EVERY = 5
_test_counter = {"n": 0}


@pytest.fixture(autouse=True)
def _drain_jvm_state_periodically():
    yield
    _test_counter["n"] += 1
    if _test_counter["n"] % _GC_EVERY:
        return
    from pyspark.sql import SparkSession

    active = SparkSession.getActiveSession()
    if active is not None:
        active.sparkContext._jvm.System.gc()


@pytest.fixture(scope="session")
def sample_pdf() -> pd.DataFrame:
    """⇐ reference sample_df (tests/conftest.py:14-22)."""
    return pd.DataFrame(
        {
            "id": range(1, 101),
            "category": [["A", "B", "C", "D", "E"][i % 5] for i in range(100)],
            "value": range(100, 200),
            "name": [f"item_{i}" for i in range(1, 101)],
        }
    )


@pytest.fixture(scope="session")
def sample_df(spark, sample_pdf):
    return spark.createDataFrame(sample_pdf)


@pytest.fixture(scope="session")
def nulls_df(spark):
    """⇐ reference df_with_nulls (tests/conftest.py:35-42)."""
    pdf = pd.DataFrame(
        {
            "id": [1.0, 2.0, None, 4.0, 5.0],
            "value": [10.0, None, 30.0, None, 50.0],
            "name": ["a", "b", None, "d", "e"],
        }
    )
    return spark.createDataFrame(pdf)


def record_dataframe_calls(monkeypatch, method: str) -> list:
    """Wrap ``DataFrame.<method>`` for one test: every call appends its
    DataFrame to the returned list, then runs the real method.
    Spark 4's ``pyspark.sql.DataFrame`` is a facade; classic sessions run
    instances of the classic subclass, so that is the class patched."""
    from pyspark.sql.classic.dataframe import DataFrame

    calls: list = []
    orig = getattr(DataFrame, method)

    def wrapper(self, *args, **kwargs):
        calls.append(self)
        return orig(self, *args, **kwargs)

    monkeypatch.setattr(DataFrame, method, wrapper)
    return calls
