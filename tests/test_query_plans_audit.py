"""Fleet-wide plan audit: every declared query's physical plan must be free
of accidental scale hazards — no CartesianProduct anywhere, and nested-loop
joins only where a theta-join is the documented intent (cosine_pairs, the
exact pair-join baseline whose scale path is LSH bucketing) — and must
keep the plan signature (``plans.signature``) its key has in the ledger
``plans/signatures.json``, so a plan that gains or loses an operator
fails here with the operators that moved.

After an intended plan change, rewrite the ledger and review its diff:
    python tests/test_query_plans_audit.py
"""

from __future__ import annotations

import json
import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import __spark_entry__ as entrymod  # noqa: E402

from mini_etl_spark import plans  # noqa: E402

from tests.conftest import SF_SMALL  # noqa: E402

LEDGER = os.path.join(os.path.dirname(entrymod.__file__), "plans", "signatures.json")

INTENTIONAL_THETA_JOINS = {"cosine_pairs"}

# Queries that broadcast a ONE-ROW scalar aggregate (N, avgdl, thresholds…)
# or a CLASS-COUNT-sized table (domain_score: the k-row NB class stats
# fanned over the token stream) into the stream side. Spark plans these as
# BroadcastNestedLoopJoin because a literal equi-key would constant-fold
# away; with a single-digit build side the "nested loop" is k comparisons
# per stream row — the scalar-subquery shape, not a scale hazard.
SCALAR_BROADCAST_JOINS = {
    "bm25_topk", "line_hygiene", "lm_score", "lm_perplexity", "key_skew",
    "domain_score",
    # suffix-aware domain blocklist: endswith() on a broadcast
    # vocabulary-sized list — k string compares per row, never a shuffle
    "url_blocklist",
    # 1-row grand-total broadcast (digit shares need the scalar sum)
    "benford",
    # 1-row epoch-totals broadcast (PSI fractions need both scalar counts)
    "column_drift",
    # same 1-row totals broadcast over the bounded (top_k+1)-row report
    "category_drift",
}


# Queries whose plan contains a window with NO partition spec — allowed
# only when the windowed frame is provably BOUNDED (vocabulary-, source-,
# bucket-, or partition-count-sized), never the row-scaled corpus. Each
# entry names the bounded frame.
GLOBAL_WINDOW_OK = {
    # per-source quota table (#sources rows): cumulative weight chain
    "temperature_mix",
}


def _signature(spark, key):
    # operators leave frames cached, and a cached frame replaces the
    # matching subplan of every later query
    spark.catalog.clearCache()
    return plans.signature(entrymod.queries()[key](spark, SF_SMALL))


@pytest.fixture(scope="module")
def ledger():
    with open(LEDGER) as fh:
        return json.load(fh)


@pytest.mark.parametrize("key", sorted(entrymod.queries().keys()))
def test_no_scale_hazards_in_plan(spark, ledger, key):
    sig = _signature(spark, key)
    assert not sig["CartesianProduct"], f"{key}: cartesian product in plan"
    if key not in INTENTIONAL_THETA_JOINS | SCALAR_BROADCAST_JOINS:
        assert not sig["BroadcastNestedLoopJoin"], (
            f"{key}: unexpected nested-loop join"
        )
    if key not in GLOBAL_WINDOW_OK:
        assert not sig["global_windows"], (
            f"{key}: window with no partition spec (single-partition "
            "funnel) — repartition-safe forms exist for every global "
            "cumsum/rank in this codebase"
        )
    want = ledger.get(key, {})
    diff = {
        op: (want.get(op, 0), sig[op])
        for op in sorted(set(want) | set(sig))
        if want.get(op, 0) != sig[op]
    }
    assert not diff, (
        f"{key}: plan signature differs from plans/signatures.json, "
        f"{{operator: (ledger, now)}}: {diff}. If the new plan is "
        "intended, rewrite the ledger: `python tests/test_query_plans_audit.py`"
    )


def test_codegen_present_in_simple_agg(spark):
    df = entrymod.queries()["group_agg"](spark, SF_SMALL)
    assert plans.executed_codegen_stages(df) >= 2  # partial + final agg stages


if __name__ == "__main__":
    from mini_etl_spark.session import get_spark

    session = get_spark("plan-signatures", shuffle_partitions=8)  # as conftest
    lines = [
        f"{json.dumps(key)}: {json.dumps(_signature(session, key), sort_keys=True)}"
        for key in sorted(entrymod.queries())
    ]
    with open(LEDGER, "w") as fh:
        fh.write("{\n" + ",\n".join(lines) + "\n}\n")
