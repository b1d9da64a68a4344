#!/usr/bin/env python3
"""Benchmark of the mini_etl_spark engine: one workload per run.

    python3 perfbench/run.py --workload etl_batch --seed 1 --seconds 10 --trace 0

Workloads: ``etl_batch``, ``stream_ingest`` (or ``all``, which runs both
in turn). The run generates its inputs from ``--seed`` (cached under
``.perfbench/cache``), sets the session up five times, warms up untimed
(two rounds of the closed loop; the first 20 s of the stream's schedule),
measures for ``--seconds`` (the closed loop: at least three rounds),
checks every output, stops every
process it started and prints as its last line one JSON object:
``{"correct", "attempted", "failed", "metrics"}``. With ``--trace 0`` the
metrics are the end-to-end ones; with ``--trace 1`` the per-layer ones
(see ``perfbench/README.md``). A full record, with the spans of a traced
run, goes to ``.perfbench/records/``.

It must run from a checkout of the repository: it exits non-zero without
printing a result when the engine's sources are not next to it.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import threading
import time
import traceback

import workloads
from spans import LAYERS, Tracer

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOAD_NAMES = ("etl_batch", "stream_ingest")
SETUPS = 5
#: a closed loop times at least this many rounds, so that its medians
#: leave out one round slowed by the host
MIN_ROUNDS = 3

END_TO_END = {"setup_s": "s", "run_s": "s", "rows_per_s": "1/s", "cpu_s": "s"}
#: printed and recorded, not in BENCHMARK.json: error_rate is 0 on a
#: correct tree; peak RSS follows the JVM's heap growth, which varies by up
#: to 2x between runs of the same work; the latencies track the host's CPU
#: steal, and in an hour with 2-10 % steal the quartile spread of the
#: stream's latencies over ten runs reached 38-42 % of the median, past any
#: bound a check allows
REPORTED = {"latency_p50_s": "s", "latency_p90_s": "s", "peak_rss_mb": "MB",
            "error_rate": "ratio"}

#: layer metrics read from the trace (see spans.Tracer.layer_metrics);
#: the per-layer job/stage/task/executor metrics are added below
PER_LAYER = {
    "session.start_s": "s", "config.build_s": "s",
    "pipeline.run_s": "s", "pipeline.overhead_s": "s", "dag.run_s": "s",
    "sources.call_s": "s", "sources.scan_rows": "count", "sources.scan_bytes": "B",
    "sources.scan_ms": "ms",
    "operators.call_s": "s", "operators.shuffle_write_bytes": "B",
    "operators.fetch_wait_ms": "ms", "operators.agg_ms": "ms", "operators.sort_ms": "ms",
    "operators.join_build_ms": "ms", "operators.spill_bytes": "B",
    "operators.peak_mem_bytes": "B",
    "functions.call_s": "s", "functions.eager_jobs": "count",
    "functions.python_rows": "count", "functions.python_bytes": "B",
    "functions.shuffle_write_bytes": "B", "functions.pair_yield": "ratio",
    "sinks.call_s": "s", "sinks.rows_written": "count", "sinks.bytes_written": "B",
    "sinks.files_written": "count", "sinks.commit_ms": "ms",
    "streaming.call_s": "s", "streaming.batches": "count",
    "streaming.trigger_ms_p50": "ms", "streaming.add_batch_ms_p50": "ms",
    "streaming.latest_offset_ms_p50": "ms", "streaming.wal_commit_ms_p50": "ms",
    "streaming.commit_offsets_ms_p50": "ms", "streaming.state_rows": "count",
    "streaming.state_bytes": "B",
    "traced.run_s": "s", "traced.spans": "count",
}


def per_layer_units() -> dict[str, str]:
    units = dict(PER_LAYER)
    for layer in LAYERS:
        units.update({f"{layer}.jobs": "count", f"{layer}.stages": "count",
                      f"{layer}.tasks": "count", f"{layer}.exec_ms": "ms",
                      f"{layer}.cpu_ms": "ms", f"{layer}.gc_ms": "ms"})
    return units


# ---------------------------------------------------------------------------
# environment
# ---------------------------------------------------------------------------

def _fail(msg: str) -> None:
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def pin_environment(work: str) -> dict:
    """Pin the session to this machine through the variables the engine
    already reads, and keep every scratch file inside ``work``."""
    cores = len(os.sched_getaffinity(0))
    with open("/proc/meminfo") as fh:
        mem_kb = int(next(line for line in fh if line.startswith("MemTotal")).split()[1])
    heap_gb = max(1, min(4, mem_kb // (4 * 1024 * 1024)))
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["SPARK_GRAFT_CPUS"] = str(cores)
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = f"{heap_gb}g"
    os.environ["SPARK_LOCAL_DIRS"] = tmp
    os.environ["TMPDIR"] = tmp
    os.environ["PYSPARK_PYTHON"] = sys.executable
    # no hsperfdata files in the system temp dir, which the JVM uses for
    # them whatever java.io.tmpdir says
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    import tempfile

    tempfile.tempdir = tmp
    return {"cores": cores, "heap": f"{heap_gb}g", "mem_total_mb": mem_kb // 1024}


class Sampler:
    """CPU and RSS of the engine's processes: the JVM and its descendants
    (the Python workers). A thread samples RSS every 0.5 s: each sample
    reads every process's stat file while holding the GIL, which the
    driver's own calls into the engine also need."""

    def __init__(self, jvm_pid: int):
        self.pid = jvm_pid
        self._tick = os.sysconf("SC_CLK_TCK")
        self._page = os.sysconf("SC_PAGE_SIZE")
        self._peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)
        self._thread.start()

    def tree(self) -> list[int]:
        children: dict[int, list[int]] = {}
        for entry in os.listdir("/proc"):
            if not entry.isdigit():
                continue
            try:
                with open(f"/proc/{entry}/stat") as fh:
                    ppid = int(fh.read().rsplit(")", 1)[1].split()[1])
            except (OSError, IndexError, ValueError):
                continue
            children.setdefault(ppid, []).append(int(entry))
        out, todo = [], [self.pid]
        while todo:
            p = todo.pop()
            out.append(p)
            todo.extend(children.get(p, []))
        return out

    def _read(self, pid: int, fields: tuple[int, ...]) -> list[int]:
        try:
            with open(f"/proc/{pid}/stat") as fh:
                parts = fh.read().rsplit(")", 1)[1].split()
            return [int(parts[i]) for i in fields]
        except (OSError, IndexError, ValueError):
            return [0] * len(fields)

    def cpu_s(self) -> float:
        # utime, stime, cutime, cstime (fields 14-17 of stat; index 11-14 here)
        return sum(sum(self._read(p, (11, 12, 13, 14))) for p in self.tree()) / self._tick

    def rss_mb(self) -> float:
        return sum(self._read(p, (21,))[0] for p in self.tree()) * self._page / 2**20

    def _loop(self) -> None:
        while not self._stop.wait(0.5):
            self._peak = max(self._peak, self.rss_mb())

    def reset_peak(self) -> None:
        self._peak = self.rss_mb()

    def peak_mb(self) -> float:
        return max(self._peak, self.rss_mb())

    def close(self) -> None:
        self._stop.set()
        self._thread.join()


def quantile(values: list[float], q: float) -> float:
    """Linear-interpolated quantile (``statistics.quantiles`` inclusive)."""
    if len(values) == 1:
        return values[0]
    cuts = statistics.quantiles(values, n=100, method="inclusive")
    return cuts[round(q * 100) - 1]


# ---------------------------------------------------------------------------
# session lifecycle
# ---------------------------------------------------------------------------

def start_session(tracer, workload, label: str):
    """Session start plus the first warm-up job: (spark, start_s, setup_s)."""
    from mini_etl_spark import get_spark

    with tracer.span("session", label):
        t0 = time.perf_counter()
        spark = get_spark("perfbench", extra_conf={"spark.ui.showConsoleProgress": "false"})
        t1 = time.perf_counter()
        spark.sparkContext.setLogLevel("ERROR")
        tracer.attach(spark)
        workload.warmup(spark)
        t2 = time.perf_counter()
    return spark, t1 - t0, t2 - t0


def stop_engine(spark, sampler) -> None:
    """Stop the session, then the JVM, and wait for both and every
    process they started."""
    from pyspark import SparkContext

    pids = sampler.tree() if sampler else []
    spark.stop()
    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    if gateway is not None:
        try:
            gateway.shutdown()
        except Exception:  # noqa: BLE001 - the JVM may already be gone
            pass
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    deadline = time.time() + 15
    for pid in pids:
        while os.path.exists(f"/proc/{pid}") and time.time() < deadline:
            time.sleep(0.05)
        if os.path.exists(f"/proc/{pid}"):
            try:
                os.kill(pid, 9)
            except OSError:
                pass
    SparkContext._gateway = None
    SparkContext._jvm = None


# ---------------------------------------------------------------------------
# one run
# ---------------------------------------------------------------------------

def run_closed_loop(workload, ctx) -> dict:
    """Rounds of the workload's operations until ``seconds`` have passed
    and MIN_ROUNDS are done (always whole rounds). Per round: wall time,
    CPU, input rows."""
    rounds, ops, warm = [], [], []
    with ctx.tracer.paused():
        for k in range(workload.warm_rounds):
            warm.append(_round(workload, ctx, f"warm{k}", ops))
    t_start = time.perf_counter()
    ctx.sampler.reset_peak()
    while len(rounds) < MIN_ROUNDS or time.perf_counter() - t_start < ctx.seconds:
        rounds.append(_round(workload, ctx, len(rounds), ops))
    return {"warm": warm, "rounds": rounds, "ops": ops, "peak_rss_mb": ctx.sampler.peak_mb()}


def _round(workload, ctx, k, ops: list) -> dict:
    """One round of the workload's operations, appended to ``ops``."""
    out = os.path.join(ctx.work, "out", f"r{k}")
    cpu0, r0, rows = ctx.sampler.cpu_s(), time.perf_counter(), 0
    for name, n_rows, fn in workload.operations(ctx, out):
        o0 = time.perf_counter()
        try:
            fn()
            ok = True
        except Exception:  # noqa: BLE001 - a failed operation is counted, not fatal
            traceback.print_exc(file=sys.stderr)
            ok = False
        ops.append({"round": k, "name": name, "latency_s": time.perf_counter() - o0,
                    "ok": ok})
        rows += n_rows
    return {"round": k, "out": out, "wall_s": time.perf_counter() - r0,
            "cpu_s": ctx.sampler.cpu_s() - cpu0, "rows": rows}


def closed_loop_result(workload, res: dict) -> tuple[dict, int, int]:
    for r in res["warm"] + res["rounds"]:
        bad = workload.check_round(r["out"])
        for op in res["ops"]:
            if op["round"] == r["round"] and op["name"] in bad:
                op["ok"] = False
    lat: dict[int, list[float]] = {}
    for op in res["ops"]:
        if isinstance(op["round"], int):
            lat.setdefault(op["round"], []).append(op["latency_s"])
    e2e = {
        "run_s": statistics.median(r["wall_s"] for r in res["rounds"]),
        "rows_per_s": statistics.median(r["rows"] / r["wall_s"] for r in res["rounds"]),
        "latency_p50_s": statistics.median(quantile(v, 0.5) for v in lat.values()),
        "latency_p90_s": statistics.median(quantile(v, 0.9) for v in lat.values()),
        "cpu_s": statistics.median(r["cpu_s"] for r in res["rounds"]),
        "peak_rss_mb": res["peak_rss_mb"],
    }
    return e2e, len(res["ops"]), sum(not op["ok"] for op in res["ops"])


def stream_result(workload, res: dict, spark) -> tuple[dict, int, int]:
    lat, last_commit, rows = workload.latencies(res)
    offered = len(res["fed"])
    missing = offered - len(lat)
    exact, res["sink"] = workload.check(spark)
    run_s = last_commit - res["start"] if last_commit else float("nan")
    e2e = {
        "run_s": run_s,
        "rows_per_s": rows / run_s if last_commit else 0.0,
        "latency_p50_s": quantile(lat, 0.5) if lat else float("nan"),
        "latency_p90_s": quantile(lat, 0.9) if lat else float("nan"),
        "cpu_s": res["cpu_s"],
        "peak_rss_mb": res["peak_rss_mb"],
    }
    lateness = [f["moved"] - f["due"] for f in res["fed"]]
    res["generator_late_s_max"] = max(lateness) if lateness else 0.0
    res["latencies_s"] = lat
    failed = missing + (0 if exact else 1) + (1 if res["query_failed"] else 0)
    return e2e, offered + 1, failed


def streaming_layer(progress: list[dict]) -> dict[str, float]:
    batches = [p for p in progress if p.get("numInputRows", 0) > 0]
    out = {"streaming.batches": float(len(batches))}
    for key, name in (("triggerExecution", "trigger"), ("addBatch", "add_batch"),
                      ("latestOffset", "latest_offset"), ("walCommit", "wal_commit"),
                      ("commitOffsets", "commit_offsets")):
        vals = [p["durationMs"].get(key, 0) for p in batches]
        out[f"streaming.{name}_ms_p50"] = float(statistics.median(vals)) if vals else 0.0
    last = progress[-1]["stateOperators"] if progress else []
    out["streaming.state_rows"] = float(sum(s.get("numRowsTotal", 0) for s in last))
    out["streaming.state_bytes"] = float(sum(s.get("memoryUsedBytes", 0) for s in last))
    return out


def layer_result(tracer, e2e: dict, session_start: list[float], res: dict) -> dict:
    m = tracer.layer_metrics()
    out = {name: m.get(name, 0.0) for name in per_layer_units()}
    for layer in ("sources", "operators", "functions", "sinks", "streaming"):
        out[f"{layer}.call_s"] = m.get(f"{layer}.self_s", 0.0)
    out["session.start_s"] = statistics.median(session_start)
    out["config.build_s"] = m.get("config.total_s", 0.0)
    out["pipeline.run_s"] = m.get("pipeline.total_s", 0.0)
    out["pipeline.overhead_s"] = m.get("pipeline.self_s", 0.0)
    out["dag.run_s"] = m.get("dag.total_s", 0.0)
    out["functions.eager_jobs"] = m.get("functions.jobs", 0.0)
    if "progress" in res:
        # a streaming file sink has no write node in the plan: read what it
        # committed from its output instead
        out.update(streaming_layer(res["progress"]))
        out.update(res["sink"])
    out["traced.run_s"] = e2e["run_s"]
    out["traced.spans"] = float(len(tracer.spans))
    return out


def contention(before: dict | None, after: dict | None) -> dict:
    from bench import _contention_verdict

    if not before or not after:
        return {"verdict": "unknown"}
    total = sum(after.values()) - sum(before.values())
    frac = {k: (after[k] - before[k]) / total for k in after} if total > 0 else {}
    return {"fractions": frac, "verdict": _contention_verdict(frac)}


def run_one(args) -> int:
    from bench import _cpu_jiffies

    work_root = os.path.join(ROOT, ".perfbench")
    run_id = f"{args.workload}-s{args.seed}-t{args.trace}-{os.getpid()}"
    work = os.path.join(work_root, "runs", run_id)
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    env = pin_environment(work)
    cache = os.path.join(work_root, "cache", f"{args.scale}-seed{args.seed}")
    _prune_cache(os.path.join(work_root, "cache"), keep=cache)

    workload = workloads.WORKLOADS[args.workload]()
    g0 = time.perf_counter()
    workload.prepare(cache, args.seed, args.scale, args.seconds)
    gen_s = time.perf_counter() - g0

    tracer = Tracer(bool(args.trace), run_id)
    starts, setups = [], []
    spark, sampler = None, None
    try:
        for i in range(SETUPS):
            if spark is not None:
                tracer.detach()
                spark.stop()
            spark, start_s, setup_s = start_session(tracer, workload, f"setup{i}")
            starts.append(start_s)
            setups.append(setup_s)
        sc = spark.sparkContext
        sampler = Sampler(sc._gateway.proc.pid)
        ctx = workloads.Ctx(spark, tracer, work, args.seconds, sampler)
        jiffies0 = _cpu_jiffies()
        if workload.closed_loop:
            res = run_closed_loop(workload, ctx)
        else:
            res = workload.run(ctx)
        host = contention(jiffies0, _cpu_jiffies())
        tracer.detach()
        c0 = time.perf_counter()
        if workload.closed_loop:
            e2e, attempted, failed = closed_loop_result(workload, res)
        else:
            e2e, attempted, failed = stream_result(workload, res, spark)
        check_s = time.perf_counter() - c0
        e2e["setup_s"] = statistics.median(setups)
        e2e["error_rate"] = failed / attempted
        parallelism = sc.defaultParallelism
    finally:
        if sampler is not None:
            sampler.close()
        if spark is not None:
            stop_engine(spark, sampler)
        shutil.rmtree(work, ignore_errors=True)

    if args.trace:
        metrics = layer_result(tracer, e2e, starts, res)
        units = per_layer_units()
    else:
        metrics, units = {k: e2e[k] for k in END_TO_END}, END_TO_END
    record = {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
        "scale": args.scale, "trace": args.trace, "cores": env["cores"],
        "heap": env["heap"], "default_parallelism": parallelism,
        "mem_total_mb": env["mem_total_mb"], "host": host, "gen_s": gen_s, "check_s": check_s,
        "setups_s": setups, "session_starts_s": starts, "end_to_end": e2e,
        "attempted": attempted, "failed": failed, "metrics": metrics,
    }
    if workload.closed_loop:
        record["rounds"] = [{k: v for k, v in r.items() if k != "out"}
                            for r in res["warm"] + res["rounds"]]
        record["operations"] = res["ops"]
    else:
        record["generator_late_s_max"] = res["generator_late_s_max"]
        record["files_warm"] = workload.n_warm
        record["files_offered"] = len(res["fed"])
        record["latencies_s"] = res["latencies_s"]
    if args.trace:
        selfs = tracer.self_times()
        t0 = min((s["start"] for s in tracer.spans), default=0.0)
        record["spans"] = [dict(s, start=s["start"] - t0, end=s["end"] - t0, self_s=st)
                           for s, st in zip(tracer.spans, selfs)]
        record["trace_wall_s"] = max((s["end"] for s in tracer.spans), default=t0) - t0
    os.makedirs(os.path.join(work_root, "records"), exist_ok=True)
    record_path = os.path.join(work_root, "records", f"{run_id}.json")
    with open(record_path, "w") as fh:
        json.dump(record, fh, indent=1, default=str)

    print(f"record {record_path}")
    for name, value in metrics.items():
        print(f"{name} {value!r} {units[name]}")
    for name, unit in REPORTED.items():
        print(f"{name} {e2e[name]!r} {unit}")
    print(f"host {host['verdict']}  cores {env['cores']}  heap {env['heap']}  "
          f"parallelism {parallelism}")
    print(json.dumps({
        "correct": failed == 0, "attempted": attempted, "failed": failed,
        "metrics": {k: {"value": v, "unit": units[k]} for k, v in metrics.items()},
    }))
    return 0


def _prune_cache(cache_root: str, keep: str, max_entries: int = 4) -> None:
    """Keep the inputs of the last few seeds only."""
    if not os.path.isdir(cache_root):
        return
    entries = sorted((os.path.join(cache_root, e) for e in os.listdir(cache_root)),
                     key=os.path.getmtime)
    for path in entries[:-max_entries]:
        if path != keep:
            shutil.rmtree(path, ignore_errors=True)


def run_all(args) -> int:
    """Each workload in its own process; the last line sums them up."""
    total = {"correct": True, "attempted": 0, "failed": 0, "metrics": {}}
    for name in WORKLOAD_NAMES:
        cmd = [sys.executable, os.path.abspath(__file__), "--workload", name,
               "--seed", str(args.seed), "--seconds", repr(args.seconds),
               "--trace", str(args.trace), "--scale", args.scale]
        proc = subprocess.run(cmd, stdout=subprocess.PIPE, text=True)
        sys.stdout.write(proc.stdout)
        if proc.returncode != 0:
            return proc.returncode
        last = json.loads(proc.stdout.strip().splitlines()[-1])
        total["correct"] &= last["correct"]
        total["attempted"] += last["attempted"]
        total["failed"] += last["failed"]
        total["metrics"].update({f"{name}.{k}": v for k, v in last["metrics"].items()})
    print(json.dumps(total))
    return 0


def main(argv: list[str]) -> int:
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True, choices=WORKLOAD_NAMES + ("all",))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--scale", choices=("full", "tiny"), default="full",
                   help="input size; 'tiny' is for the self-test")
    args = p.parse_args(argv)
    if not os.path.isfile(os.path.join(ROOT, "mini_etl_spark", "__init__.py")) \
            or not os.path.isfile(os.path.join(ROOT, "bench.py")):
        _fail(f"no engine checkout around {HERE}: mini_etl_spark/ and bench.py are missing")
    sys.path[:0] = [HERE, ROOT]
    if args.workload == "all":
        return run_all(args)
    return run_one(args)


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
