"""Spans around calls into the engine's layers, and the Spark status-store
readings attributed to them.

A span is recorded from the benchmark's own code around each call into a
layer (``session``, ``config``, ``pipeline``, ``dag``, ``sources``,
``operators``, ``functions``, ``sinks``, ``streaming``): name, layer,
start, end, parent and run id. Spans stay in memory and are written out
when the run ends.

Spark work is attributed as follows:

- Jobs, stages, tasks and executor run / CPU / GC time go to the innermost
  span open when the job was submitted. Each span tags its jobs with a
  Spark job group; a streaming query tags its own jobs with its run id,
  which :meth:`Tracer.adopt_group` maps to the span that waits on it.
- SQL-operator metrics go to the layer that owns the operator kind: scans
  to ``sources``; exchanges, aggregates, sorts and joins to ``operators``
  (to ``functions`` when the execution ran inside a ``functions`` call);
  Python evaluation to ``functions``; file writes to ``sinks``.

The status store keeps 1,000 jobs, stages and executions, so it is read
incrementally at every span exit, not once at the end.
"""

from __future__ import annotations

import re
import time
from collections import defaultdict
from contextlib import contextmanager

LAYERS = ("session", "config", "pipeline", "dag", "sources", "operators",
          "functions", "sinks", "streaming")

_SIZE = {"B": 1, "KiB": 2**10, "MiB": 2**20, "GiB": 2**30, "TiB": 2**40}
_TIME = {"ns": 1e-6, "ms": 1.0, "s": 1e3, "m": 6e4, "h": 3.6e6}
_VALUE = re.compile(r"^(-?[\d,]+(?:\.\d+)?)\s*([A-Za-z]*)")


def metric_value(text: str) -> float:
    """Total of a formatted SQL metric ("1,234", "12.5 MiB", "3 ms", or the
    multi-line "total (min, med, max ...)\\n<total> (...)" form), in rows,
    bytes or milliseconds."""
    line = text.split("\n")[-1] if "\n" in text else text
    m = _VALUE.match(line.strip())
    if not m:
        return 0.0
    num, unit = float(m.group(1).replace(",", "")), m.group(2)
    return num * _SIZE.get(unit, _TIME.get(unit, 1.0))


class _StatusReader:
    """Incremental reader of the driver's job, stage and SQL stores."""

    def __init__(self, spark):
        self._sc = spark.sparkContext
        self._store = self._sc._jsc.sc().statusStore()
        self._sql = spark._jsparkSession.sharedState().statusStore()
        self._next_job = self._count_jobs()
        # execution ids are JVM-wide and keep counting across sessions, so
        # executions are read by position in this session's store
        self._read_execs = int(self._sql.executionsCount())
        self._seen_stages: set[int] = set()

    def _count_jobs(self) -> int:
        ids = self._sc.statusTracker().getJobIdsForGroup(None)
        return max(ids) + 1 if ids else 0

    def _option(self, opt):
        return opt.get() if opt.isDefined() else None

    def new_jobs(self) -> list[dict]:
        """Finished jobs submitted since the last call, with the metrics of
        their not-yet-seen stages. Stops at the first unfinished job."""
        out = []
        while True:
            try:
                jd = self._store.job(self._next_job)
            except Exception:  # noqa: BLE001 - NoSuchElementException: no such job yet
                break
            if str(jd.status().toString()) == "RUNNING":
                break
            group = self._option(jd.jobGroup())
            stages = []
            ids = jd.stageIds()
            for k in range(ids.size()):
                sid = int(ids.apply(k))
                if sid in self._seen_stages:
                    continue
                try:
                    sd = self._store.lastStageAttempt(sid)
                except Exception:  # noqa: BLE001 - stage evicted or never run
                    continue
                if str(sd.status().toString()) != "COMPLETE":
                    continue
                self._seen_stages.add(sid)
                stages.append({
                    "tasks": int(sd.numCompleteTasks()),
                    "exec_ms": float(sd.executorRunTime()),
                    "cpu_ms": float(sd.executorCpuTime()) / 1e6,
                    "gc_ms": float(sd.jvmGcTime()),
                })
            out.append({"id": self._next_job, "group": group, "stages": stages})
            self._next_job += 1
        return out

    def new_executions(self) -> list[dict]:
        """Finished SQL executions since the last call: their job ids, and
        per plan node (id, name, join condition, metric totals) plus the
        node's children. Stops at the first unfinished execution."""
        out = []
        total = int(self._sql.executionsCount())
        if total <= self._read_execs:
            return out
        batch = self._sql.executionsList(self._read_execs, total - self._read_execs)
        for b in range(batch.size()):
            ex = batch.apply(b)
            if not ex.completionTime().isDefined():
                break
            self._read_execs += 1
            eid = int(ex.executionId())
            keys = ex.jobs().keys().toSeq()
            jobs = [int(keys.apply(k)) for k in range(keys.size())]
            values = self._sql.executionMetrics(eid)
            graph = self._sql.planGraph(eid)
            nodes = graph.allNodes()
            ops = []
            for i in range(nodes.size()):
                node = nodes.apply(i)
                name = str(node.name())
                metrics = node.metrics()
                vals = {}
                for j in range(metrics.size()):
                    m = metrics.apply(j)
                    v = values.get(m.accumulatorId())
                    if v.isDefined():
                        vals[str(m.name())] = metric_value(str(v.get()))
                desc = str(node.desc()) if "Join" in name else ""
                ops.append((int(node.id()), name, desc, vals))
            edges = graph.edges()
            children = defaultdict(list)
            for i in range(edges.size()):
                e = edges.apply(i)
                children[int(e.toId())].append(int(e.fromId()))
            out.append({"id": eid, "jobs": jobs, "ops": ops, "children": dict(children)})
        return out


class Tracer:
    """Span recorder. With ``enabled=False`` every method is a no-op and
    :meth:`wrap` returns the callable unchanged, so untraced runs execute
    exactly the calls a user would make."""

    def __init__(self, enabled: bool, run_id: str):
        self.enabled = enabled
        self.run_id = run_id
        self.spans: list[dict] = []
        self.jobs: list[dict] = []
        self.executions: list[dict] = []
        self._stack: list[int] = []
        self._sc = None
        self._reader = None
        self._groups: dict[str, int] = {}

    def attach(self, spark) -> None:
        """Start reading the status store of ``spark`` (call after every
        session start; reading begins at the session's next job)."""
        if self.enabled:
            self._sc = spark.sparkContext
            self._reader = _StatusReader(spark)

    def adopt_group(self, group: str) -> None:
        """Attribute jobs tagged with ``group`` (a streaming query's run id)
        to the innermost open span."""
        if self.enabled and self._stack:
            self._groups[group] = self._stack[-1]

    @contextmanager
    def span(self, layer: str, name: str):
        if not self.enabled:
            yield
            return
        sid = len(self.spans)
        parent = self._stack[-1] if self._stack else None
        rec = {"id": sid, "run": self.run_id, "layer": layer, "name": name,
               "parent": parent, "start": time.perf_counter(), "end": None}
        self.spans.append(rec)
        self._stack.append(sid)
        self._set_group(sid)
        try:
            yield
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()
            self._set_group(self._stack[-1] if self._stack else None)
            self.collect()

    @contextmanager
    def paused(self):
        """Run untraced: no spans, and the jobs started here are dropped."""
        enabled, self.enabled = self.enabled, False
        try:
            yield
        finally:
            self.enabled = enabled

    def wrap(self, layer: str, fn, name: str | None = None):
        if not self.enabled:
            return fn
        label = name or getattr(fn, "__qualname__", repr(fn))

        def traced(*args, **kwargs):
            with self.span(layer, label):
                return fn(*args, **kwargs)

        return traced

    def _set_group(self, sid: int | None) -> None:
        if self._sc is None:
            return
        gid = None if sid is None else f"perfbench-{self.run_id}-{sid}"
        if gid is not None:
            self._groups[gid] = sid
        self._sc.setLocalProperty("spark.jobGroup.id", gid)

    def collect(self) -> None:
        """Read finished jobs and executions into the trace."""
        if self._reader is None:
            return
        self.jobs.extend(self._reader.new_jobs())
        self.executions.extend(self._reader.new_executions())

    def detach(self) -> None:
        """Final read before the session stops."""
        self.collect()
        self._reader = None
        self._sc = None

    def span_of_job(self, job: dict) -> int | None:
        return self._groups.get(job["group"]) if job["group"] else None

    # -- summaries ----------------------------------------------------------
    def self_times(self) -> list[float]:
        """Per span: duration minus the part its children cover."""
        child = defaultdict(float)
        for s in self.spans:
            if s["parent"] is not None and s["end"] is not None:
                child[s["parent"]] += s["end"] - s["start"]
        return [max(0.0, (s["end"] - s["start"]) - child[s["id"]])
                if s["end"] is not None else 0.0 for s in self.spans]

    def layer_metrics(self) -> dict[str, float]:
        """Per-layer totals over the whole run (see module docstring)."""
        out: dict[str, float] = defaultdict(float)
        selfs = self.self_times()
        for s, st in zip(self.spans, selfs):
            out[f"{s['layer']}.self_s"] += st
            if s["parent"] is None or self.spans[s["parent"]]["layer"] != s["layer"]:
                out[f"{s['layer']}.total_s"] += s["end"] - s["start"]
        job_layer = {}
        for job in self.jobs:
            sid = self.span_of_job(job)
            if sid is None:  # started outside every span (a paused region)
                continue
            layer = self.spans[sid]["layer"]
            job_layer[job["id"]] = layer
            out[f"{layer}.jobs"] += 1
            for st in job["stages"]:
                out[f"{layer}.stages"] += 1
                for k in ("tasks", "exec_ms", "cpu_ms", "gc_ms"):
                    out[f"{layer}.{k}"] += st[k]
        candidates = kept = 0.0
        for ex in self.executions:
            if not any(j in job_layer for j in ex["jobs"]):
                continue
            in_functions = any(job_layer.get(j) == "functions" for j in ex["jobs"])
            mover = "functions" if in_functions else "operators"
            for _, name, _, m in ex["ops"]:
                _operator_metrics(out, name, m, mover)
            k, c = _pair_counts(ex)
            kept, candidates = kept + k, candidates + c
        out["functions.pair_yield"] = kept / candidates if candidates else 0.0
        return dict(out)


def _operator_metrics(out: dict, name: str, m: dict, mover: str) -> None:
    if name.startswith("Scan") or "Scan " in name or name.startswith("BatchScan"):
        out["sources.scan_rows"] += m.get("number of output rows", 0.0)
        out["sources.scan_bytes"] += m.get("size of files read", 0.0)
        out["sources.scan_ms"] += m.get("scan time", 0.0)
    elif name in ("Exchange", "ShuffleExchange"):
        out[f"{mover}.shuffle_write_bytes"] += m.get("shuffle bytes written", 0.0)
        out["operators.fetch_wait_ms"] += m.get("fetch wait time", 0.0)
    elif name.endswith("Aggregate"):
        out["operators.agg_ms"] += m.get("time in aggregation build", 0.0)
    elif name == "Sort":
        out["operators.sort_ms"] += m.get("sort time", 0.0)
    elif "Join" in name or name == "BroadcastExchange":
        out["operators.join_build_ms"] += (m.get("time to build hash map", 0.0)
                                           + m.get("time to build", 0.0))
    elif "Python" in name or "Arrow" in name or "InPandas" in name:
        out["functions.python_rows"] += m.get("number of output rows", 0.0)
        out["functions.python_bytes"] += (m.get("data sent to Python workers", 0.0)
                                          + m.get("data returned from Python workers", 0.0))
    if "number of written files" in m:
        out["sinks.rows_written"] += m.get("number of output rows", 0.0)
        out["sinks.bytes_written"] += m.get("written output", 0.0)
        out["sinks.files_written"] += m.get("number of written files", 0.0)
        out["sinks.commit_ms"] += m.get("job commit time", 0.0) + m.get("task commit time", 0.0)
    out["operators.spill_bytes"] += m.get("spill size", 0.0)
    out["operators.peak_mem_bytes"] = max(out["operators.peak_mem_bytes"],
                                          m.get("peak memory", 0.0))


def _pair_counts(ex: dict) -> tuple[float, float]:
    """(pairs kept, candidate pairs) of the Jaccard threshold join: the
    join whose condition tests the shared-shingle ratio keeps the pairs;
    the first counted node below it on its streamed (non-broadcast) side
    produced the candidates."""
    by_id = {op[0]: op for op in ex["ops"]}
    kept = cand = 0.0
    for nid, name, desc, m in ex["ops"]:
        if "Join" not in name or "__shared" not in desc or ">=" not in desc:
            continue
        kept += m.get("number of output rows", 0.0)
        todo = [c for c in ex["children"].get(nid, [])
                if by_id.get(c, (0, ""))[1] != "BroadcastExchange"]
        while todo:
            child = by_id.get(todo.pop(0))
            if child is None:
                continue
            if "number of output rows" in child[3]:
                cand += child[3]["number of output rows"]
                break
            todo.extend(c for c in ex["children"].get(child[0], [])
                        if by_id.get(c, (0, ""))[1] != "BroadcastExchange")
    return kept, cand
