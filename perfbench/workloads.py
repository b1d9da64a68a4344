"""The two workloads. Each drives the engine only through its public
functions and checks every output it produces.

A workload has ``prepare`` (generate its inputs, untimed) and
``warmup(spark)`` (the job that ends set-up). A closed-loop workload lists
one round's ``operations`` as (name, input rows, callable) and checks a
round's outputs with ``check_round``, which returns the names of the
operations whose output is wrong. The open-loop workload has ``run`` (the
timed region), ``latencies`` and ``check``.
"""

from __future__ import annotations

import ast
import glob
import json
import os
import re
import subprocess
import sys
import time
from datetime import datetime

import duckdb

import gen

HERE = os.path.dirname(os.path.abspath(__file__))


def _q(path: str) -> str:
    return path.replace("'", "''")


def _duck_files(path: str, fmt: str = "parquet") -> str:
    pattern = os.path.join(path, f"*.{fmt}") if os.path.isdir(path) else path
    if fmt == "csv":
        return f"read_csv('{_q(pattern)}', header=true, all_varchar=true)"
    return f"read_parquet('{_q(pattern)}')"


def _digest(con, relation: str, exact: list[str], approx: list[str], key: list[str]):
    """Row count, an order-insensitive hash of the ``exact`` expressions,
    and the ``approx`` (floating-point aggregate) expressions keyed by
    ``key`` for a tolerance comparison."""
    h = "sum(hash(" + ", ".join(exact) + ")::HUGEINT)"
    n, digest = con.execute(f"SELECT count(*), {h} FROM {relation}").fetchone()
    floats = {}
    if approx:
        rows = con.execute(
            f"SELECT {', '.join(key)}, {', '.join(approx)} FROM {relation}").fetchall()
        floats = {tuple(r[:len(key)]): r[len(key):] for r in rows}
    return n, int(digest or 0), floats


def _same(a, b) -> bool:
    if a[0] != b[0] or a[1] != b[1] or a[2].keys() != b[2].keys():
        return False
    for k, va in a[2].items():
        for x, y in zip(va, b[2][k]):
            if (x is None) != (y is None):
                return False
            if x is not None and abs(x - y) > 1e-9 * max(abs(x), abs(y), 1.0):
                return False
    return True


class Ctx:
    """What a run hands a workload: the session, the tracer, the run's
    scratch directory, the run length and the CPU/RSS sampler."""

    def __init__(self, spark, tracer, work: str, seconds: float, sampler):
        self.spark, self.tracer, self.work = spark, tracer, work
        self.seconds, self.sampler = seconds, sampler


# ---------------------------------------------------------------------------
# etl_batch
# ---------------------------------------------------------------------------

class EtlBatch:
    """The reference's transformer set plus corpus cleaning as a closed
    loop: one client runs six pipelines and ``clean_corpus`` after one
    another, round after round."""

    name = "etl_batch"
    closed_loop = True
    #: untimed rounds before timing: the first runs ~2.5x as long as later
    #: ones (class loading, code generation, JIT), the second still ~20 %
    #: longer than the third; later rounds get a few percent faster each
    #: while the JIT settles
    warm_rounds = 2

    def prepare(self, cache: str, seed: int, scale: str, seconds: float) -> None:
        self.data = os.path.join(cache, f"tpch-{gen.LINEITEM_ROWS[scale]}")
        self.counts = gen.tpch_tables(self.data, seed, scale)
        corpus = os.path.join(cache, f"corpus-{gen.CORPUS_DOCS[scale]}")
        self.counts.update(gen.corpus(corpus, seed, scale))
        self.docs = os.path.join(corpus, "documents.parquet")
        self._expected = None
        self._expected_clean = None

    def warmup(self, spark) -> None:
        from mini_etl_spark.sources import read_parquet

        read_parquet(os.path.join(self.data, "orders.parquet"))(spark).count()

    def operations(self, ctx, out: str):
        """(name, input rows, callable) for one round; operation ``name``
        writes to ``out/name``."""
        from mini_etl_spark import Pipeline
        from mini_etl_spark import operators as ops
        from mini_etl_spark.config import ConfigLoader
        from mini_etl_spark.dag import PipelineDAG
        from mini_etl_spark.functions.corpus import clean_corpus
        from mini_etl_spark.sinks import to_csv, to_parquet
        from mini_etl_spark.sources import read_csv, read_parquet

        t, spark, d, c = ctx.tracer, ctx.spark, self.data, self.counts
        li = os.path.join(d, "lineitem.parquet")
        od = os.path.join(d, "orders.parquet")
        parquet_out = lambda name: to_parquet(os.path.join(out, name), mode="overwrite")  # noqa: E731

        def pipeline(name, source, transforms, sink):
            p = Pipeline(name).set_source(t.wrap("sources", source, f"{name}.source"))
            for fn in transforms:
                p.add_transformer(t.wrap("operators", fn, f"{name}.operators"))
            p.set_sink(t.wrap("sinks", sink, f"{name}.sink"))

            def go():
                with t.span("pipeline", name):
                    return p.run(spark)
            return go

        def b4():
            orders = t.wrap("sources", read_parquet(od), "b4.orders")
            dag = (
                PipelineDAG("b4_dag", spark=spark)
                .add_source("o1", orders)
                .add_source("o2", orders)
                .add_merge("all_orders", "concat")
                .add_transform("per_cust", t.wrap("operators", ops.group_agg(
                    "o_custkey", {"o_totalprice": "sum", "o_orderkey": "count"}),
                    "b4.group_agg"))
                .add_source("cust", t.wrap("sources", read_parquet(
                    os.path.join(d, "customer.parquet")), "b4.customer"))
                .add_transform("cust_keyed", t.wrap("operators", ops.rename_columns(
                    {"c_custkey": "o_custkey"}), "b4.rename"))
                .add_merge("joined", "join", join_keys=["o_custkey"], join_how="outer")
                .add_sink("out", t.wrap("sinks", parquet_out("b4_dag_concat_agg_join"),
                                        "b4.sink"))
                .add_edge("o1", "all_orders").add_edge("o2", "all_orders")
                .add_edge("all_orders", "per_cust").add_edge("per_cust", "joined")
                .add_edge("cust", "cust_keyed").add_edge("cust_keyed", "joined")
                .add_edge("joined", "out")
            )
            with t.span("dag", "b4_dag"):
                return dag.run(spark)

        def b6():
            os.environ["PERFBENCH_LINEITEM"] = li
            os.environ["PERFBENCH_OUT"] = os.path.join(out, "b6_yaml_agg_sort")
            with t.span("config", "etl_pipeline.yaml"):
                loader = ConfigLoader()
                cfg = loader.load(os.path.join(HERE, "etl_pipeline.yaml"))
                p = loader.build_pipeline(cfg)
            trace_built(t, p, cfg)
            with t.span("pipeline", cfg.name):
                return p.run(spark)

        def b7():
            docs = t.wrap("sources", read_parquet(self.docs), "b7.source")(spark)
            cleaned = t.wrap("functions", clean_corpus, "b7.clean_corpus")(docs)
            t.wrap("sinks", parquet_out("b7_clean_corpus"), "b7.sink")(cleaned)

        n_li, n_ord = c["lineitem"], c["orders"]
        return [
            ("b1_filter_project", n_li, pipeline(
                "b1_filter_project", read_parquet(li),
                [ops.filter_rows("l_discount >= 0.05 and l_quantity < 30"),
                 ops.select_columns(["l_orderkey", "l_partkey", "l_quantity",
                                     "l_extendedprice"])],
                parquet_out("b1_filter_project"))),
            ("b2_group_agg", n_li, pipeline(
                "b2_group_agg", read_parquet(li),
                [ops.group_agg(["l_returnflag", "l_linestatus"],
                               {"l_quantity": ["sum", "mean"], "l_extendedprice": "sum",
                                "l_orderkey": "count"})],
                parquet_out("b2_group_agg"))),
            ("b3_dedup_sort", n_ord, pipeline(
                "b3_dedup_sort", read_parquet(od),
                [ops.deduplicate(["o_custkey"], keep="first", order_by="o_orderkey"),
                 ops.sort_rows(["o_totalprice"], ascending=False)],
                parquet_out("b3_dedup_sort"))),
            ("b4_dag_concat_agg_join", 2 * n_ord + c["customer"], b4),
            ("b5_csv_cast_fillna", n_li, pipeline(
                "b5_csv_cast_fillna",
                read_csv(os.path.join(d, "lineitem_csv"), infer_schema=False),
                [ops.cast_types({"l_orderkey": "long", "l_quantity": "double",
                                 "l_extendedprice": "double"}),
                 ops.fill_na(0.0, columns=["l_quantity", "l_extendedprice"])],
                to_csv(os.path.join(out, "b5_csv_cast_fillna"), mode="overwrite"))),
            ("b6_yaml_agg_sort", n_li, b6),
            ("b7_clean_corpus", c["documents"], b7),
        ]

    # -- correctness --------------------------------------------------------
    def _expected_digests(self):
        if self._expected is not None:
            return self._expected
        path = os.path.join(self.data, "expected.json")
        if os.path.exists(path):
            with open(path) as fh:
                self._expected = {k: (v[0], v[1], {tuple(json.loads(kk)): vv
                                                   for kk, vv in v[2].items()})
                                  for k, v in json.load(fh).items()}
            return self._expected
        d = self.data
        li = _duck_files(os.path.join(d, "lineitem.parquet"))
        od = _duck_files(os.path.join(d, "orders.parquet"))
        cu = _duck_files(os.path.join(d, "customer.parquet"))
        csv = (f"read_csv('{_q(os.path.join(d, 'lineitem_csv', '*.csv'))}', "
               "header=true, all_varchar=true)")
        con = duckdb.connect()
        exp = {}
        for key, (sql, _) in self._specs().items():
            src = sql.format(li=li, od=od, cu=cu, csv=csv)
            exp[key] = _digest(con, f"({src})", *self._cols(key))
        con.close()
        with open(path, "w") as fh:
            json.dump({k: [v[0], v[1], {json.dumps(list(kk)): vv for kk, vv in v[2].items()}]
                       for k, v in exp.items()}, fh)
        self._expected = exp
        return exp

    @staticmethod
    def _specs():
        """DuckDB twin of each pipeline (over the inputs) and the format
        of its output."""
        return {
            "b1_filter_project": ("SELECT l_orderkey, l_partkey, l_quantity, l_extendedprice FROM {li} "
                   "WHERE l_discount >= 0.05 AND l_quantity < 30", "parquet"),
            "b2_group_agg": ("SELECT l_returnflag, l_linestatus, sum(l_quantity) AS l_quantity_sum, "
                   "avg(l_quantity) AS l_quantity_mean, "
                   "sum(l_extendedprice) AS l_extendedprice_sum, "
                   "count(l_orderkey) AS l_orderkey_count FROM {li} "
                   "GROUP BY l_returnflag, l_linestatus", "parquet"),
            "b3_dedup_sort": ("SELECT * FROM {od} QUALIFY row_number() OVER "
                   "(PARTITION BY o_custkey ORDER BY o_orderkey) = 1", "parquet"),
            "b4_dag_concat_agg_join": ("SELECT coalesce(p.o_custkey, c.c_custkey) AS o_custkey, "
                   "p.o_totalprice_sum, p.o_orderkey_count, c.c_name, c.c_nationkey, "
                   "c.c_acctbal, c.c_mktsegment FROM (SELECT o_custkey, "
                   "sum(o_totalprice) AS o_totalprice_sum, count(o_orderkey) AS "
                   "o_orderkey_count FROM (SELECT * FROM {od} UNION ALL SELECT * FROM {od}) "
                   "GROUP BY o_custkey) p FULL OUTER JOIN {cu} c ON p.o_custkey = c.c_custkey",
                   "parquet"),
            "b5_csv_cast_fillna": ("SELECT TRY_CAST(l_orderkey AS BIGINT) AS l_orderkey, "
                   "coalesce(TRY_CAST(l_quantity AS DOUBLE), 0.0) AS l_quantity, "
                   "coalesce(TRY_CAST(l_extendedprice AS DOUBLE), 0.0) AS l_extendedprice, "
                   "l_returnflag FROM {csv}", "csv"),
            "b6_yaml_agg_sort": ("SELECT l_suppkey, sum(l_extendedprice * (1 - l_discount)) AS revenue_sum, "
                   "count(l_orderkey) AS l_orderkey_count FROM {li} "
                   "WHERE l_shipdate >= TIMESTAMP '1994-01-01 00:00:00' GROUP BY l_suppkey",
                   "parquet"),
        }

    @staticmethod
    def _cols(key: str):
        """(exact hash expressions, float aggregate expressions, key)."""
        return {
            "b1_filter_project": (["CAST(l_orderkey AS BIGINT)", "CAST(l_partkey AS BIGINT)",
                    "CAST(l_quantity AS DOUBLE)", "CAST(l_extendedprice AS DOUBLE)"], [], []),
            "b2_group_agg": (["l_returnflag", "l_linestatus", "CAST(l_orderkey_count AS BIGINT)"],
                   ["l_quantity_sum", "l_quantity_mean", "l_extendedprice_sum"],
                   ["l_returnflag", "l_linestatus"]),
            "b3_dedup_sort": (["CAST(o_orderkey AS BIGINT)", "CAST(o_custkey AS BIGINT)", "o_orderstatus",
                    "CAST(o_totalprice AS DOUBLE)", "epoch_us(CAST(o_orderdate AS TIMESTAMP))",
                    "o_orderpriority"], [], []),
            "b4_dag_concat_agg_join": (["CAST(o_custkey AS BIGINT)", "CAST(o_orderkey_count AS BIGINT)", "c_name",
                    "CAST(c_nationkey AS INTEGER)", "CAST(c_acctbal AS DOUBLE)", "c_mktsegment"],
                   ["o_totalprice_sum"], ["CAST(o_custkey AS BIGINT)"]),
            "b5_csv_cast_fillna": (["CAST(l_orderkey AS BIGINT)", "CAST(l_quantity AS DOUBLE)",
                    "CAST(l_extendedprice AS DOUBLE)", "l_returnflag"], [], []),
            "b6_yaml_agg_sort": (["CAST(l_suppkey AS BIGINT)", "CAST(l_orderkey_count AS BIGINT)"],
                   ["revenue_sum"], ["CAST(l_suppkey AS BIGINT)"]),
        }[key]

    def _expected_clean_digest(self):
        """``clean_corpus``'s DuckDB twin, ``oracle_sql()["corpus_clean"]``."""
        if self._expected_clean is None:
            sys.path.insert(0, os.path.dirname(HERE))
            import __spark_entry__ as entry

            con = duckdb.connect()
            con.execute(f"CREATE VIEW documents AS SELECT * FROM read_parquet('{_q(self.docs)}')")
            # the oracle's CTEs are referenced several times; materializing
            # them makes DuckDB evaluate each once (same query, same rows)
            sql = re.sub(r"(?m)^(\s*)(feats|kept|s|base|edges|dropped) AS \(",
                         r"\1\2 AS MATERIALIZED (", entry.oracle_sql()["corpus_clean"])
            self._expected_clean = _digest(con, f"({sql})", *self._clean_cols())
            con.close()
        return self._expected_clean

    @staticmethod
    def _clean_cols():
        return (["CAST(doc_id AS BIGINT)", "lang_id", "CAST(quality AS DOUBLE)"], [], [])

    def check_round(self, out: str) -> list[str]:
        """Names of the outputs under ``out`` that differ from DuckDB."""
        expected = self._expected_digests()
        checks = [(key, _duck_files(os.path.join(out, key), fmt), self._cols(key), expected[key])
                  for key, (_, fmt) in self._specs().items()]
        checks.append(("b7_clean_corpus", _duck_files(os.path.join(out, "b7_clean_corpus")),
                       self._clean_cols(), self._expected_clean_digest()))
        con = duckdb.connect()
        bad = []
        for key, rel, cols, want in checks:
            try:
                got = _digest(con, rel, *cols)
            except duckdb.Error:
                got = None
            if got is None or not _same(got, want):
                bad.append(key)
        con.close()
        return bad


def trace_built(tracer, pipeline, cfg) -> None:
    """Wrap the stages of a ConfigLoader-built pipeline in spans. The
    pipeline's stages are only reachable through its private fields, so
    this touches them in traced runs only."""
    if not tracer.enabled:
        return
    ops_types = {"filter", "rename", "select", "drop", "cast", "fillna", "expression",
                 "aggregate", "group", "dedup", "sort", "limit", "explode"}
    pipeline._source = tracer.wrap("sources", pipeline._source, f"{cfg.name}.source")
    pipeline._transforms = [
        tracer.wrap("operators" if spec.type in ops_types else "functions", fn,
                    f"{cfg.name}.{spec.type}")
        for spec, fn in zip(cfg.transformers, pipeline._transforms)
    ]
    pipeline._sink = tracer.wrap("sinks", pipeline._sink, f"{cfg.name}.sink")


# ---------------------------------------------------------------------------
# stream_ingest
# ---------------------------------------------------------------------------

#: seconds between offered files; with EVENT_ROWS rows per file this sets
#: the offered rate, kept below the rate the query sustains on 4 cores
FEED_INTERVAL = 0.1
#: untimed seconds of the schedule before the timed ones. A fresh JVM's
#: micro-batches get ~35 % faster over the first ~20 s of a stream while
#: the JIT compiles them, so timing from the first file measures how far
#: the JIT got rather than the query
WARM_SECONDS = {"tiny": 1.0, "full": 20.0}
#: the dedup watermark; 90 s covers the generator's 60 s of disorder, and
#: the state stops growing once event time is 2 x 90 s past the first
#: file (180 files, inside the warm-up)
WATERMARK = "90 seconds"


class StreamIngest:
    """Open loop: a separate generator process offers event files on a
    fixed schedule; one continuously running query deduplicates them into
    a checkpointed parquet sink. The schedule's first WARM_SECONDS are
    untimed; its last ``seconds`` are timed."""

    name = "stream_ingest"
    closed_loop = False

    def prepare(self, cache: str, seed: int, scale: str, seconds: float) -> None:
        self.n_warm = round(WARM_SECONDS[scale] / FEED_INTERVAL)
        n_files = self.n_warm + max(1, round(seconds / FEED_INTERVAL))
        self.staging = os.path.join(cache, f"events-{n_files}x{gen.EVENT_ROWS[scale]}")
        self.counts = gen.event_files(self.staging, seed, scale, n_files)
        self.rows_per_file = gen.EVENT_ROWS[scale]

    def warmup(self, spark) -> None:
        from mini_etl_spark.sources import read_parquet

        read_parquet(os.path.join(self.staging, "ev-000000.parquet"))(spark).count()

    def run(self, ctx) -> dict:
        """Start the query on the warm-up file, then offer every file on
        schedule and wait until all are committed. CPU and peak RSS cover
        the timed files' part of the schedule."""
        from mini_etl_spark.streaming.events import (
            read_events_stream, stream_to_files, streaming_dedup)

        t, spark = ctx.tracer, ctx.spark
        inbox = os.path.join(ctx.work, "inbox")
        self.out = os.path.join(ctx.work, "events_out")
        ckpt = os.path.join(ctx.work, "checkpoint")
        os.makedirs(inbox)
        os.link(os.path.join(self.staging, "ev-000000.parquet"),
                os.path.join(inbox, "ev-000000-warmup.parquet"))
        events = t.wrap("streaming", read_events_stream, "read_events_stream")(spark, inbox)
        deduped = t.wrap("streaming", streaming_dedup, "streaming_dedup")(
            events, ["event_id"], WATERMARK)
        query = t.wrap("sinks", stream_to_files, "stream_to_files")(
            deduped, self.out, ckpt, available_now=False)
        with t.span("streaming", "query"):
            t.adopt_group(str(query.runId))
            self._await_rows(query, self.rows_per_file, 30)  # the warm-up file
            n_files = self.counts["files"]
            log = os.path.join(ctx.work, "feed.jsonl")
            start = time.time() + 0.2
            timed = start + self.n_warm * FEED_INTERVAL  # due time of the first timed file
            cpu0 = None
            feeder = subprocess.Popen(
                [sys.executable, os.path.join(HERE, "gen.py"), "feed",
                 "--staging", self.staging, "--inbox", inbox, "--start", repr(start),
                 "--interval", repr(FEED_INTERVAL), "--files", str(n_files), "--log", log])
            try:
                while feeder.poll() is None:
                    if query.exception() is not None:
                        break
                    if cpu0 is None and time.time() >= timed:
                        cpu0 = ctx.sampler.cpu_s()
                        ctx.sampler.reset_peak()
                    wait = 0.1 if cpu0 is not None else min(0.1, max(0.0, timed - time.time()))
                    time.sleep(wait)
            finally:
                if feeder.poll() is None:
                    feeder.kill()
                feeder.wait()
            self._await_rows(query, self.counts["rows"], 30)
            cpu = ctx.sampler.cpu_s() - (cpu0 if cpu0 is not None else 0.0)
            peak = ctx.sampler.peak_mb()
            progress = list(query.recentProgress)
            failed = query.exception() is not None
            query.stop()
        with open(log) as fh:
            fed = [json.loads(line) for line in fh]
        return {"progress": progress, "fed": fed[self.n_warm:], "cpu_s": cpu,
                "peak_rss_mb": peak, "query_failed": failed, "checkpoint": ckpt,
                "start": timed}

    @staticmethod
    def _await_rows(query, rows: int, timeout: float) -> None:
        deadline = time.time() + timeout
        while time.time() < deadline and query.exception() is None:
            done = sum(p["numInputRows"] for p in query.recentProgress)
            if done >= rows and not query.status["isTriggerActive"]:
                return
            time.sleep(0.05)

    def latencies(self, res: dict) -> tuple[list[float], float, int]:
        """Per timed file, the time from its due time to the commit of the
        micro-batch that contained it; the last such commit time; the rows
        of the timed files that were committed."""
        src = os.path.join(res["checkpoint"], "sources", "0")
        file_batch = {}
        for path in glob.glob(os.path.join(src, "*")):
            with open(path) as fh:
                for line in fh:
                    line = line.strip()
                    if line.startswith("{"):
                        e = json.loads(line)
                        name = os.path.basename(e["path"])
                        file_batch[name.split("-due")[0]] = int(e["batchId"])
        commit_of = {}
        for p in res["progress"]:
            end = p["sources"][0].get("endOffset") if p["sources"] else None
            start = p["sources"][0].get("startOffset") if p["sources"] else None
            if not end or p["numInputRows"] == 0:
                continue
            ts = datetime.strptime(p["timestamp"], "%Y-%m-%dT%H:%M:%S.%fZ")
            t0 = (ts - datetime(1970, 1, 1)).total_seconds()
            commit = t0 + p["durationMs"]["triggerExecution"] / 1e3
            lo, hi = _log_offset(start), _log_offset(end)
            for off in range(-1 if lo is None else lo, hi + 1):
                if off == lo:
                    continue
                commit_of[off] = commit
        lat, last_commit = [], 0.0
        for f in res["fed"]:
            batch = file_batch.get(f"ev-{f['i']:06d}")
            if batch in commit_of:
                lat.append(commit_of[batch] - f["due"])
                last_commit = max(last_commit, commit_of[batch])
        return lat, last_commit, len(lat) * self.rows_per_file

    def check(self, spark) -> tuple[bool, dict]:
        """Every distinct generated event id appears exactly once. Also
        returns what the sink committed: rows, files and bytes."""
        from mini_etl_spark.sources import read_parquet

        out = read_parquet(self.out)(spark)
        n, distinct = out.selectExpr("count(*)", "count(DISTINCT event_id)").first()
        files = out.inputFiles()
        size = sum(os.path.getsize(f.removeprefix("file:")) for f in files)
        return n == distinct == self.counts["distinct"], {
            "sinks.rows_written": float(n), "sinks.files_written": float(len(files)),
            "sinks.bytes_written": float(size)}


def _log_offset(offset) -> int | None:
    """The file source's log offset from a progress offset, which PySpark
    hands over as the text of a dict ("{'logOffset': 3}", "None")."""
    if isinstance(offset, str):
        offset = ast.literal_eval(offset)
    return offset.get("logOffset") if isinstance(offset, dict) else offset


WORKLOADS = {w.name: w for w in (EtlBatch, StreamIngest)}
