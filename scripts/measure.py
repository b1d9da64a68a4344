#!/usr/bin/env python
"""Per-query measurement harness.

For each requested query key: one untimed warm pass (codegen), then N timed
noop-sink passes (same protocol as bench.py extensions), plus the key's
plan signature (``plans.signature``).

Usage:
    python scripts/measure.py --keys set_jaccard,pagerank --tag before
    python scripts/measure.py --all --tag before          # every key
    python scripts/measure.py --keys ... --runs 3

Prints one JSON line: {"timings": {key: best_sec}, "cold": {...},
"compiles": {key: n}, "joins": {key: {operator: n}},
"signatures": {key: {operator: n}}, "tag": ...}.
``compiles`` counts the classes Spark's code generator compiled during a
key's timed passes (``CodegenMetrics``): above 0, the key's generated code
does not stay in the codegen cache between passes and each pass pays
Janino and the JIT again. ``joins`` counts the join operators
(BroadcastHashJoin, SortMergeJoin, ...) in the final, post-AQE plans of
the key's timed passes (``plans.executed_joins``): the strategy that ran,
not the one the static plan chose. A cached relation's plan is counted in
every execution that scans it. ``signatures`` are the static plans at this
scale factor; the ledger ``plans/signatures.json`` holds them at the test
scale factor (``python tests/test_query_plans_audit.py`` rewrites it).
Timings are measurement artifacts only — nothing here is on any
query path, and nothing caches across runs (same clear_cached_state rule
as bench.py).
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time
from collections import Counter

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--keys", default="")
    ap.add_argument("--all", action="store_true")
    ap.add_argument("--tag", default="before")
    ap.add_argument("--runs", type=int, default=2)
    ap.add_argument(
        "--gc",
        action="store_true",
        help="System.gc() between keys (drains ContextCleaner backlog of "
        "broadcast/checkpoint blocks that otherwise inflates late-session "
        "timings ~2x; outside every timed region)",
    )
    args = ap.parse_args()

    import __spark_entry__ as entry
    from mini_etl_spark import plans
    from mini_etl_spark.session import get_spark

    spark = get_spark("measure")
    spark.sparkContext.setLogLevel("ERROR")
    queries = entry.queries()
    if args.all:
        keys = list(queries)
    else:
        keys = [k.strip() for k in args.keys.split(",") if k.strip()]
    unknown = [k for k in keys if k not in queries]
    if unknown:
        raise SystemExit(f"unknown keys: {unknown}")

    compilations = spark.sparkContext._jvm.org.apache.spark.metrics.source \
        .CodegenMetrics.METRIC_COMPILATION_TIME()

    # codegen/scheduler warm-up, untimed
    spark.read.parquet(f"{SF_DIR}/lineitem.parquet").count()

    def clear_cached_state() -> None:
        spark.catalog.clearCache()
        for rdd in spark.sparkContext._jsc.getPersistentRDDs().values():
            rdd.unpersist()

    def drain_session_state() -> None:
        # Between KEYS only (never between timed passes of one key):
        # broadcast pieces and checkpoint blocks are freed by the
        # ContextCleaner only after the driver GCs their references — on a
        # 32g heap full GCs are rare, so blocks pile up across a 161-query
        # session and late keys measure ~2x slow from storage/GC pressure.
        if args.gc:
            spark.sparkContext._jvm.System.gc()
            time.sleep(0.2)

    timings: dict[str, float] = {}
    cold: dict[str, float] = {}
    compiles: dict[str, int] = {}
    joins: dict[str, dict[str, int]] = {}
    signatures: dict[str, dict[str, int]] = {}
    for key in keys:
        fn = queries[key]
        spark.sparkContext.setJobDescription(f"measure:{key}")
        df = fn(spark, SF_DIR)
        signatures[key] = dict(sorted(plans.signature(df).items()))
        t0 = time.monotonic()
        df.write.format("noop").mode("overwrite").save()
        cold[key] = round(time.monotonic() - t0, 3)
        clear_cached_state()
        best = float("inf")
        compiled_before = compilations.getCount()
        executed_before = plans.last_execution_id(spark)
        for _ in range(args.runs):
            # bench.py parity: the timed region covers CONSTRUCTION + action
            # (construction includes any driver-side scalar jobs and eager
            # checkpoints an iterative operator performs)
            t0 = time.monotonic()
            df = fn(spark, SF_DIR)
            df.write.format("noop").mode("overwrite").save()
            best = min(best, time.monotonic() - t0)
            clear_cached_state()
        timings[key] = round(best, 3)
        compiles[key] = compilations.getCount() - compiled_before
        joins[key] = dict(sorted(Counter(
            j for _, _, js in plans.executed_joins(spark, executed_before)
            for j in js
        ).items()))
        spark.sparkContext.setJobDescription(None)
        drain_session_state()
        print(f"# {key}: warm {timings[key]} cold {cold[key]} "
              f"compiles {compiles[key]}", file=sys.stderr)

    print(json.dumps({
        "tag": args.tag,
        "sf": SF_DIR,
        "timings": timings,
        "total": round(sum(timings.values()), 3),
        "cold": cold,
        "compiles": compiles,
        "joins": joins,
        "signatures": signatures,
    }))


if __name__ == "__main__":
    main()
