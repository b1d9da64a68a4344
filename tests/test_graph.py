"""Graph analytics (functions.graph): degrees, PageRank against a local
power-iteration reference, triangle counting on known graphs."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from mini_etl_spark import plans
from mini_etl_spark.functions.graph import degree_stats, pagerank, triangle_count
from tests.conftest import record_dataframe_calls


def _edges(spark, pairs):
    return spark.createDataFrame(pairs, "src int, dst int")


def test_degree_stats(spark):
    e = _edges(spark, [(1, 2), (1, 3), (2, 3), (4, 1)])
    got = {r["node"]: (r["out_degree"], r["in_degree"])
           for r in degree_stats(e).collect()}
    assert got == {1: (2, 1), 2: (1, 1), 3: (0, 2), 4: (1, 0)}


def test_pagerank_cycle_is_uniform(spark):
    # 3-cycle: by symmetry every node keeps rank exactly 1.0 every round
    e = _edges(spark, [(1, 2), (2, 3), (3, 1)])
    ranks = {r["node"]: r["rank"] for r in pagerank(e, iterations=5).collect()}
    assert all(abs(v - 1.0) < 1e-12 for v in ranks.values())


def _reference_pagerank(pairs, iterations, damping=0.85):
    nodes = sorted({n for p in pairs for n in p})
    out = {n: 0 for n in nodes}
    for s, _ in pairs:
        out[s] += 1
    rank = {n: 1.0 for n in nodes}
    for _ in range(iterations):
        contrib = {n: 0.0 for n in nodes}
        for s, d in pairs:
            contrib[d] += rank[s] / out[s]
        rank = {n: (1 - damping) + damping * contrib[n] for n in nodes}
    return rank


def test_pagerank_matches_reference_power_iteration(spark):
    pairs = [(1, 2), (1, 3), (2, 3), (3, 1), (4, 3), (4, 1), (2, 1)]
    got = {r["node"]: r["rank"]
           for r in pagerank(_edges(spark, pairs), iterations=7).collect()}
    want = _reference_pagerank(pairs, iterations=7)
    assert set(got) == set(want)
    assert all(abs(got[n] - want[n]) < 1e-9 for n in want)
    # the hub of in-links outranks the node nobody points at
    assert got[3] > got[4]
    assert got[4] == pytest.approx(0.15)  # no in-edges → teleport floor


def test_triangle_count_known_graphs(spark):
    tri = lambda pairs: triangle_count(_edges(spark, pairs)).first()["triangles"]
    assert tri([(1, 2), (2, 3), (3, 1)]) == 1
    # K4 has 4 triangles; reversed/duplicate/self edges must not change it
    k4 = [(1, 2), (1, 3), (1, 4), (2, 3), (2, 4), (3, 4)]
    assert tri(k4) == 4
    assert tri(k4 + [(2, 1), (3, 3), (1, 2)]) == 4
    # a 4-cycle has none
    assert tri([(1, 2), (2, 3), (3, 4), (4, 1)]) == 0


def test_triangles_closure_stays_broadcast_semi(spark):
    from mini_etl_spark.functions import graph

    edges = spark.createDataFrame(
        [(i, j) for i in range(30) for j in range(i + 1, 30) if (i + j) % 3]
        , ["src", "dst"]
    )
    df = graph.triangle_count(edges)
    sig = plans.signature(df)
    assert not sig["SortMergeJoin"], sig
    assert sig["BroadcastHashJoin"] >= 2, sig
    assert "LeftSemi" in plans.physical_plan(df)


def test_pagerank_counts_nodes_only_where_used(spark, monkeypatch):
    """The node count N is one job; only the modes whose float chain
    uses N run it (redistribute spreads sink mass over N nodes), so
    the default teleport mode runs no count at all."""
    counts = record_dataframe_calls(monkeypatch, "count")
    e = _edges(spark, [(1, 2), (2, 3), (3, 1), (3, 4)])
    pagerank(e, iterations=3).collect()
    assert len(counts) == 0
    pagerank(e, iterations=3, dangling="redistribute").collect()
    assert len(counts) == 1


def _reference_pagerank_redistribute(pairs, iterations, damping=0.85):
    nodes = sorted({n for p in pairs for n in p})
    out = {n: 0 for n in nodes}
    for s, _ in pairs:
        out[s] += 1
    rank = {n: 1.0 for n in nodes}
    for _ in range(iterations):
        contrib = {n: 0.0 for n in nodes}
        for s, d in pairs:
            contrib[d] += rank[s] / out[s]
        dang = sum(rank[n] for n in nodes if out[n] == 0)
        rank = {
            n: (1 - damping) + damping * (contrib[n] + dang / len(nodes))
            for n in nodes
        }
    return rank


def test_pagerank_redistribute_conserves_mass(spark):
    """With dangling='redistribute', total rank is invariant (= N) at
    every iteration count, even with sinks; per-node values match the
    local power-iteration reference."""
    # node 3 and node 5 are sinks
    pairs = [(1, 2), (1, 3), (2, 3), (4, 1), (4, 5), (2, 5)]
    for iters in (1, 3, 7):
        got = {
            r["node"]: r["rank"]
            for r in pagerank(
                _edges(spark, pairs), iterations=iters, dangling="redistribute"
            ).collect()
        }
        want = _reference_pagerank_redistribute(pairs, iterations=iters)
        assert set(got) == set(want)
        assert all(abs(got[n] - want[n]) < 1e-9 for n in want)
        assert sum(got.values()) == pytest.approx(len(got), abs=1e-9)
    # the teleport mode LOSES the sinks' mass on the same graph
    leak = {
        r["node"]: r["rank"]
        for r in pagerank(_edges(spark, pairs), iterations=3).collect()
    }
    assert sum(leak.values()) < len(leak) - 0.1


def test_pagerank_redistribute_no_sinks_equals_teleport(spark):
    # with no dangling nodes the two modes are identical arithmetic
    pairs = [(1, 2), (2, 3), (3, 1), (2, 1)]
    a = {r["node"]: r["rank"]
         for r in pagerank(_edges(spark, pairs), iterations=4).collect()}
    b = {r["node"]: r["rank"]
         for r in pagerank(
             _edges(spark, pairs), iterations=4, dangling="redistribute"
         ).collect()}
    assert a == b


def test_pagerank_validates_iterations(spark):
    with pytest.raises(ValueError):
        pagerank(_edges(spark, [(1, 2)]), iterations=0)
    with pytest.raises(ValueError):
        pagerank(_edges(spark, [(1, 2)]), dangling="drop")


def test_personalized_pagerank_properties(spark):
    """PPR: seeds absorb the teleport mass (rank concentrates near the
    seed set); with dangling redistribution the total mass is conserved
    at ~N; non-seed source-less nodes rank 0."""
    from mini_etl_spark.functions.graph import pagerank

    # star around seed 1 plus a detached pair 10 -> 11
    edges = spark.createDataFrame(
        [(1, 2), (2, 1), (1, 3), (3, 1), (10, 11)], ["src", "dst"]
    )
    r = {x.node: x["rank"] for x in
         pagerank(edges, iterations=20, personalized=[1]).collect()}
    # 1 holds the teleport mass + returns from 2/3; detached 10 gets none
    assert r[1] > r[2] > 0 and abs(r[2] - r[3]) < 1e-9
    assert r[10] == 0.0          # no teleport, no in-edges
    assert r[11] < 1e-6          # only decayed trickle from 10
    rr = {x.node: x["rank"] for x in
          pagerank(edges, iterations=20, personalized=[1],
                   dangling="redistribute").collect()}
    assert abs(sum(rr.values()) - 5.0) < 1e-6  # mass conserved at N
    import pytest as _p
    with _p.raises(ValueError, match="seed list is empty"):
        pagerank(edges, personalized=[])
