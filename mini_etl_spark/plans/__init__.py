"""Physical-plan inspection utilities.

The engine's scale guarantees are *plan properties*: filters reach the
parquet scan (PushedFilters), projections prune the read schema, small
dimension joins broadcast, hot expressions stay inside WholeStageCodegen.
These helpers turn those properties into assertions — used by the test
suite (tests/test_plans.py; tests/test_query_plans_audit.py pins every
declared query's ``signature`` in the ledger plans/signatures.json) and
available to users for their own pipelines (`explain_summary(df)` for a
one-line audit).

This replaces nothing in the reference (it has no plans to inspect —
SURVEY §4.1); it is how this engine keeps itself honest about Catalyst
actually applying the optimizations the reference did by hand.
"""

from __future__ import annotations

import re
from collections import Counter
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession


def physical_plan(df: DataFrame, mode: str = "formatted") -> str:
    """The physical plan as a string (what ``df.explain`` prints)."""
    return df._sc._jvm.PythonSQLUtils.explainString(  # type: ignore[attr-defined]
        df._jdf.queryExecution(), mode
    )


# "(n) Name [codegen id : k]": the detail header each node prints once
# (the tree above the details prints every node a second time)
_HEADER = re.compile(
    r"^\((\d+)\) ([^\[\n]+?)(?: \[codegen id : (\d+)\])?(?: \[.*\])? *$", re.M
)
# a window spec lists its partition columns before the first "col ASC/DESC
# NULLS ..." order entry, so a spec that opens with an order entry is global
_GLOBAL_WINDOW = re.compile(r"windowspecdefinition\([^(),]+ (?:ASC|DESC) NULLS")


def _nodes(plan: str) -> list[tuple[str, str | None, str]]:
    """``(name, codegen id, detail text)`` for each node of a formatted
    plan, once each, without AQE's runtime wrappers (``AQEShuffleRead``,
    ``*QueryStage``), which a cached relation that already ran lists in
    its final plan."""
    heads = list(_HEADER.finditer(plan))
    return [
        (m.group(2), m.group(3), plan[m.end():nxt.start() if nxt else len(plan)])
        for m, nxt in zip(heads, heads[1:] + [None])
        if m.group(2) != "AQEShuffleRead" and not m.group(2).endswith("QueryStage")
    ]


def _signature(nodes: list[tuple[str, str | None, str]]) -> Counter:
    sig: Counter = Counter(name for name, _, _ in nodes)
    for _, _, detail in nodes:
        if re.search(r"PushedFilters: \[[^\]]", detail):
            sig["pushed_filter_scans"] += 1
        if _GLOBAL_WINDOW.search(detail):
            sig["global_windows"] += 1
    return sig


def signature(df: DataFrame) -> Counter:
    """Operator-name counts of ``df``'s static physical plan, one per node
    (``Exchange``, ``BroadcastHashJoin``, ``Expand``, ``Scan parquet``,
    ...), plus ``pushed_filter_scans`` (scans with a non-empty
    PushedFilters) and ``global_windows`` (nodes computing a window with
    no partition spec: the single-partition funnel). Counts of absent
    operators read 0.

    The plan takes in every relation the session has cached that matches
    a subplan, and a cached relation that already ran adds its final
    adaptive plan: compare signatures of frames built on a cleared cache
    (``spark.catalog.clearCache()``)."""
    return _signature(_nodes(physical_plan(df)))


@dataclass
class PlanSummary:
    pushed_filters: list[str]
    read_schemas: list[str]
    joins: list[str]
    exchanges: int
    codegen_stages: int
    aqe: bool

    def __str__(self) -> str:  # human-oriented one-screen audit
        return (
            f"pushed_filters={self.pushed_filters}\n"
            f"read_schemas={self.read_schemas}\n"
            f"joins={self.joins}\n"
            f"exchanges={self.exchanges} codegen_stages={self.codegen_stages} "
            f"aqe={self.aqe}"
        )


def summarize(df: DataFrame) -> PlanSummary:
    nodes = _nodes(physical_plan(df))
    sig = _signature(nodes)
    details = "".join(detail for _, _, detail in nodes)
    pushed = re.findall(r"PushedFilters: \[([^\]]*)\]", details)
    return PlanSummary(
        pushed_filters=[p for p in pushed if p.strip()],
        read_schemas=re.findall(r"ReadSchema: (\S+)", details),
        joins=sorted(n for n in sig if n.endswith("Join")),
        exchanges=sig["Exchange"],
        codegen_stages=len({cg for _, cg, _ in nodes if cg}),
        aqe=sig["AdaptiveSparkPlan"] > 0,
    )


def executed_codegen_stages(df: DataFrame) -> int:
    """Number of WholeStageCodegen stages in the FINAL (post-AQE) plan.

    Runs ``collect()``: AQE finalizes (and annotates codegen) only after an
    action runs on *this exact* Dataset — a write spawns a separate
    execution and would leave this one un-finalized. Diagnostic use on
    small/aggregated frames only; don't call on a huge result."""
    df.collect()
    final = df._jdf.queryExecution().executedPlan().toString()  # type: ignore[attr-defined]
    return len(set(re.findall(r"\*\((\d+)\)", final)))


def last_execution_id(spark: SparkSession) -> int:
    """Id of the newest SQL execution the session has recorded (-1 if
    none): the ``after`` bound for :func:`executed_joins`."""
    execs = spark._jsparkSession.sharedState().statusStore().executionsList()
    return execs.apply(execs.size() - 1).executionId() if execs.size() else -1


def executed_joins(
    spark: SparkSession, after: int = -1
) -> list[tuple[int, str, list[str]]]:
    """The join strategies that actually ran: ``(execution id,
    description, join operator names)`` for every SQL execution with id
    above ``after``, read from each execution's plan graph in the
    session's status store. Under AQE that graph is the final plan (a
    sort-merge join demoted at run time shows as BroadcastHashJoin), and
    it includes the plan of every cached relation the execution scanned.
    The store keeps the newest ``spark.sql.ui.retainedExecutions``
    executions (1000 by default)."""
    # the store is fed by the asynchronous listener bus: drain it so the
    # finished executions and their final plans are all recorded
    spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()
    store = spark._jsparkSession.sharedState().statusStore()
    execs = store.executionsList()
    out = []
    for i in range(execs.size()):
        ex = execs.apply(i)
        if ex.executionId() <= after:
            continue
        nodes = store.planGraph(ex.executionId()).allNodes()
        names = (nodes.apply(j).name() for j in range(nodes.size()))
        out.append((
            ex.executionId(),
            ex.description(),
            [n for n in names if n.endswith("Join") or n == "CartesianProduct"],
        ))
    return out


def explain_summary(df: DataFrame) -> str:
    """One-line-per-property audit of a DataFrame's physical plan."""
    return str(summarize(df))


def assert_pushed_filter(df: DataFrame, fragment: str) -> None:
    """Assert some predicate containing ``fragment`` reached the scan."""
    s = summarize(df)
    if not any(fragment in p for p in s.pushed_filters):
        raise AssertionError(
            f"no pushed filter contains {fragment!r}; pushed={s.pushed_filters}"
        )


def assert_read_schema_only(df: DataFrame, columns: set[str]) -> None:
    """Assert every scan in the plan reads no columns beyond ``columns``
    (column pruning happened)."""
    s = summarize(df)
    for schema in s.read_schemas:
        read_cols = set(re.findall(r"(\w+):", schema))
        extra = read_cols - columns
        if extra:
            raise AssertionError(
                f"scan reads unpruned columns {sorted(extra)} (schema {schema})"
            )

