"""DAG tests (⇐ reference tests for core/dag.py): validation, cycle check,
topo sort, concat/join/union merges, branch routing, persist on fan-out."""

from __future__ import annotations

import pandas as pd
import pytest

from mini_etl_spark import operators as ops
from mini_etl_spark.dag import MergeStrategy, PipelineDAG
from mini_etl_spark.sinks import null_sink


@pytest.fixture
def two_frames(spark):
    a = spark.createDataFrame(pd.DataFrame({"k": [1, 2], "v": [10.0, 20.0]}))
    b = spark.createDataFrame(pd.DataFrame({"k": [2, 3], "w": [200.0, 300.0]}))
    return a, b


def test_concat(spark, two_frames):
    a, b = two_frames
    dag = (
        PipelineDAG("c")
        .add_source("a", a)
        .add_source("b", b)
        .add_merge("m", MergeStrategy.CONCAT)
        .add_sink("out", null_sink())
        .add_edge("a", "m").add_edge("b", "m").add_edge("m", "out")
    )
    outputs = dag.build(spark)
    got = outputs["m"]
    assert got.count() == 4
    assert set(got.columns) == {"k", "v", "w"}  # aligned by name, missing → null


def test_join_outer(spark, two_frames):
    a, b = two_frames
    dag = (
        PipelineDAG("j")
        .add_source("a", a)
        .add_source("b", b)
        .add_merge("m", "join", join_keys=["k"])
        .add_sink("out", null_sink())
        .add_edge("a", "m").add_edge("b", "m").add_edge("m", "out")
    )
    got = dag.build(spark)["m"]
    rows = {r.k: (r.v, r.w) for r in got.collect()}
    assert rows == {1: (10.0, None), 2: (20.0, 200.0), 3: (None, 300.0)}


def test_union_dedups(spark):
    a = spark.createDataFrame(pd.DataFrame({"k": [1, 2]}))
    b = spark.createDataFrame(pd.DataFrame({"k": [2, 3]}))
    dag = (
        PipelineDAG("u")
        .add_source("a", a).add_source("b", b)
        .add_merge("m", "union")
        .add_sink("out", null_sink())
        .add_edge("a", "m").add_edge("b", "m").add_edge("m", "out")
    )
    assert dag.build(spark)["m"].count() == 3


def test_branch_routes_both_sides(spark, two_frames):
    a, _ = two_frames
    dag = (
        PipelineDAG("b")
        .add_source("a", a)
        .add_branch("split", "v > 15")
        .add_transform("hi", ops.with_expression("tier = 'high'"))
        .add_transform("lo", ops.with_expression("tier = 'low'"))
        .add_sink("out_hi", null_sink())
        .add_sink("out_lo", null_sink())
        .add_edge("a", "split")
        .add_edge("split", "hi", port="match")
        .add_edge("split", "lo", port="nomatch")
        .add_edge("hi", "out_hi")
        .add_edge("lo", "out_lo")
    )
    outputs = dag.build(spark)
    assert [r.k for r in outputs["hi"].collect()] == [2]
    assert [r.k for r in outputs["lo"].collect()] == [1]
    stats = dag.run(spark)
    assert stats["sinks"] == 2


def test_cycle_detected(spark, two_frames):
    a, _ = two_frames
    dag = (
        PipelineDAG("cyc")
        .add_source("a", a)
        .add_transform("t1", lambda df: df)
        .add_transform("t2", lambda df: df)
    )
    dag.add_edge("a", "t1")
    dag.edges["t1"].append("t2")
    dag.in_edges["t2"].append("t1")
    dag.edges["t2"].append("t1")
    dag.in_edges["t1"].append("t2")
    assert any("cycle" in e for e in dag.validate())


def test_validation_rules(spark, two_frames):
    a, b = two_frames
    dag = PipelineDAG("v").add_source("a", a).add_merge("m", "join")
    dag.add_edge("a", "m")
    errors = dag.validate()
    assert any("at least two inputs" in e for e in errors)
    assert any("join_keys" in e for e in errors)

    dag2 = PipelineDAG("v2").add_sink("s", null_sink())
    assert any("no input" in e for e in dag2.validate())


def test_duplicate_node_rejected(spark, two_frames):
    a, _ = two_frames
    dag = PipelineDAG("d").add_source("a", a)
    with pytest.raises(ValueError, match="duplicate"):
        dag.add_source("a", a)


def test_topo_and_visualize(spark, two_frames):
    a, b = two_frames
    dag = (
        PipelineDAG("t")
        .add_source("a", a).add_source("b", b)
        .add_merge("m", "concat")
        .add_sink("out", null_sink())
        .add_edge("a", "m").add_edge("b", "m").add_edge("m", "out")
    )
    order = dag.topological_sort()
    assert order.index("m") > max(order.index("a"), order.index("b"))
    assert order.index("out") > order.index("m")
    viz = dag.visualize()
    assert "[source" in viz and "m -> out" in viz


def test_run_keeps_a_persisted_source_cached(spark, two_frames):
    """``run`` releases only the caches the DAG made: a source frame the
    caller persisted stays cached after a one-sink run."""
    from pyspark import StorageLevel

    a, _ = two_frames
    src = a.filter("k > 0").persist(StorageLevel.MEMORY_AND_DISK)
    try:
        dag = (
            PipelineDAG("keep_src")
            .add_source("src", src)
            .add_sink("out", null_sink())
            .add_edge("src", "out")
        )
        dag.run(spark)
        assert src.storageLevel == StorageLevel.MEMORY_AND_DISK
    finally:
        src.unpersist()


def test_run_keeps_a_persisted_branch_input_cached(spark, two_frames):
    """A branch's input that the caller persisted keeps its cache entry,
    while the fan-out cache the DAG made itself is released."""
    from pyspark import StorageLevel

    a, _ = two_frames
    src = a.filter("k > 0").persist(StorageLevel.MEMORY_AND_DISK)
    fanout = src.withColumn("x", src.v * 2)
    try:
        dag = (
            PipelineDAG("keep_branch")
            .add_source("src", src)
            .add_branch("split", "v > 15")
            .add_sink("hi", null_sink())
            .add_sink("lo", null_sink())
            .add_edge("src", "split")
            .add_edge("split", "hi", port="match")
            .add_edge("split", "lo", port="nomatch")
        )
        dag.run(spark)
        assert src.storageLevel == StorageLevel.MEMORY_AND_DISK

        mine = (
            PipelineDAG("own_cache")
            .add_source("fan", fanout)
            .add_sink("s1", null_sink())
            .add_sink("s2", null_sink())
            .add_edge("fan", "s1").add_edge("fan", "s2")
        )
        mine.run(spark)
        assert fanout.storageLevel == StorageLevel.NONE
        assert src.storageLevel == StorageLevel.MEMORY_AND_DISK
    finally:
        src.unpersist()
