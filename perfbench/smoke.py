#!/usr/bin/env python3
"""Smoke test of the benchmark at scale 0.001.

    python3 perfbench/smoke.py

For every workload (the two in BENCHMARK.json and the by-hand
``diff_reconcile`` and ``query_mix_short``):

1. a short untraced run must end with ``correct`` true and zero failed
   ops, and report every end-to-end metric of BENCHMARK.json;
2. a traced run must report every per-layer metric;
3. a run with ``--inject-fault`` (each op's output, or for
   ``diff_cdc_write`` its written parquet, perturbed before the check)
   must count every op as failed and report ``correct`` false.

Last, the benchmark copied alone (BENCHMARK.json plus perfbench/) into
an empty directory must exit non-zero without printing a result.
Exits non-zero on the first failure.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys
import tempfile

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

from run import WORKLOADS  # noqa: E402


def _run(cwd: str, workload: str, *extra: str) -> tuple[int, dict | None]:
    cmd = [sys.executable, "perfbench/run.py", "--workload", workload,
           "--seed", "5", "--seconds", "1", "--scale", "0.001", *extra]
    p = subprocess.run(cmd, cwd=cwd, stdout=subprocess.PIPE,
                       stderr=subprocess.DEVNULL, text=True, timeout=300)
    lines = p.stdout.strip().splitlines()
    try:
        return p.returncode, json.loads(lines[-1]) if lines else None
    except json.JSONDecodeError:
        return p.returncode, None


def main() -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    e2e = {m["name"] for m in bench["end_to_end"]}
    layers = {m["name"] for m in bench["per_layer"]}
    problems = []

    def expect(cond: bool, what: str) -> None:
        print(f"{'ok  ' if cond else 'FAIL'} {what}", flush=True)
        if not cond:
            problems.append(what)

    for w in WORKLOADS:
        code, r = _run(ROOT, w)
        expect(code == 0 and r is not None and r["correct"] and r["failed"] == 0
               and r["attempted"] >= 2 and set(r["metrics"]) == e2e,
               f"{w}: clean run {r and {k: r[k] for k in ('correct', 'attempted', 'failed')}}")
        code, r = _run(ROOT, w, "--trace", "1")
        expect(code == 0 and r is not None and r["failed"] == 0
               and set(r["metrics"]) == layers, f"{w}: traced run reports every per-layer metric")
        code, r = _run(ROOT, w, "--inject-fault")
        expect(code == 0 and r is not None and not r["correct"]
               and r["failed"] == r["attempted"] >= 2,
               f"{w}: injected faults all counted as failed "
               f"{r and {k: r[k] for k in ('correct', 'attempted', 'failed')}}")

    os.makedirs(os.path.join(ROOT, ".perfbench_out"), exist_ok=True)
    bare = tempfile.mkdtemp(prefix="bare-", dir=os.path.join(ROOT, ".perfbench_out"))
    try:
        shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), bare)
        shutil.copytree(HERE, os.path.join(bare, "perfbench"),
                        ignore=shutil.ignore_patterns("__pycache__"))
        code, r = _run(bare, WORKLOADS[0])
        expect(code != 0 and r is None, "benchmark alone exits non-zero without a result")
    finally:
        shutil.rmtree(bare, ignore_errors=True)

    print("smoke: " + ("PASS" if not problems else f"{len(problems)} FAILED"))
    return 1 if problems else 0


if __name__ == "__main__":
    raise SystemExit(main())
