#!/usr/bin/env python3
"""Self-test of the benchmark at a tiny input size.

    python3 perfbench/selftest.py

Checks that one command runs both workloads and prints every
end-to-end metric of BENCHMARK.json with its unit, that the traced run
emits every per-layer metric, that the span self-times of each traced run
sum to no more than its wall time, and that the benchmark exits non-zero
without a result when only BENCHMARK.json and perfbench/ are present.
Exits 0 when every check passes.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOADS = ("etl_batch", "stream_ingest")


def run(trace: int) -> tuple[dict, list[str]]:
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", "all", "--seed", "1",
           "--seconds", "3", "--trace", str(trace), "--scale", "tiny"]
    proc = subprocess.run(cmd, cwd=ROOT, stdout=subprocess.PIPE, text=True, timeout=900)
    if proc.returncode != 0:
        raise SystemExit(f"FAIL: {' '.join(cmd)} exited {proc.returncode}")
    lines = proc.stdout.strip().splitlines()
    records = [line.split(" ", 1)[1] for line in lines if line.startswith("record ")]
    return json.loads(lines[-1]), records


def main() -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    errors: list[str] = []

    for trace, key in ((0, "end_to_end"), (1, "per_layer")):
        result, records = run(trace)
        if not result["correct"] or result["failed"]:
            errors.append(f"trace {trace}: {result['failed']} of {result['attempted']} failed")
        for w in WORKLOADS:
            for m in spec[key]:
                got = result["metrics"].get(f"{w}.{m['name']}")
                if got is None or got["unit"] != m["unit"]:
                    errors.append(f"trace {trace}: {w} lacks {m['name']} [{m['unit']}]")
        for path in records if trace else []:
            with open(path) as fh:
                rec = json.load(fh)
            total = sum(s["self_s"] for s in rec["spans"])
            if total > rec["trace_wall_s"] + 1e-6:
                errors.append(f"{rec['workload']}: span self-times {total:.3f} s exceed "
                              f"the wall time {rec['trace_wall_s']:.3f} s")

    # without the engine next to it the benchmark must refuse to run
    bare = os.path.join(ROOT, ".perfbench", "bare")
    shutil.rmtree(bare, ignore_errors=True)
    os.makedirs(bare)
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), bare)
    shutil.copytree(HERE, os.path.join(bare, "perfbench"),
                    ignore=shutil.ignore_patterns("__pycache__"))
    proc = subprocess.run(spec["command"] + ["--workload", "etl_batch", "--seed", "1",
                                             "--seconds", "1", "--trace", "0"],
                          cwd=bare, stdout=subprocess.PIPE, stderr=subprocess.DEVNULL,
                          text=True, timeout=180)
    shutil.rmtree(bare, ignore_errors=True)
    if proc.returncode == 0 or proc.stdout.strip():
        errors.append("a bare copy of the benchmark did not fail cleanly")

    for e in errors:
        print("FAIL:", e)
    print("selftest:", "ok" if not errors else f"{len(errors)} failures")
    return 1 if errors else 0


if __name__ == "__main__":
    sys.exit(main())
