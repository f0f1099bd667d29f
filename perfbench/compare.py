#!/usr/bin/env python3
"""Run two sets of benchmark runs of one commit and judge them against
the bounds in BENCHMARK.json.

    python3 perfbench/compare.py --runs 10

Set A uses seeds 1..N, set B seeds 1001..1000+N; each run is one
``run.py`` process with ``--trace 0`` and the benchmark's
``run_seconds``. Per workload and end-to-end metric it prints each set's
median, first and third quartile (``statistics.quantiles(n=4)``) and
spread (IQR / median), and whether the sets agree:

- each set's spread is within the metric's bound;
- the two medians differ, in either direction, by at most the bound
  (as a share of set A's median);
- the share of failed ops is the same in both sets.

A spread above a third of its bound is flagged ``wide``: the benchmark
is meant to stay well inside its bounds, not at their edge. Raw results
are written to ``.perfbench_out/compare.json`` after every run, so an
interrupted comparison keeps what it measured.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def load_bench() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def one_run(bench: dict, workload: str, seed: int) -> dict:
    cmd = [*bench["command"], "--workload", workload, "--seed", str(seed),
           "--seconds", str(bench["run_seconds"]), "--trace", "0"]
    t0 = time.perf_counter()
    p = subprocess.run(cmd, cwd=ROOT, stdout=subprocess.PIPE,
                       stderr=subprocess.DEVNULL, text=True)
    wall = time.perf_counter() - t0
    lines = p.stdout.strip().splitlines()
    if p.returncode != 0 or not lines:
        return {"seed": seed, "exit": p.returncode, "wall_s": wall}
    return {"seed": seed, "exit": 0, "wall_s": wall, **json.loads(lines[-1])}


def stats(values: list[float]) -> dict:
    q1, med, q3 = statistics.quantiles(values, n=4)
    return {"median": med, "q1": q1, "q3": q3, "spread": (q3 - q1) / med if med else 0.0}


def judge(bench: dict, sets: dict[str, dict[str, list]]) -> bool:
    ok_all = True
    for workload, by_set in sets.items():
        a, b = by_set["A"], by_set["B"]
        bad_runs = [r for r in a + b if r.get("exit") != 0]
        shares = [
            sum(r["failed"] for r in s) / max(1, sum(r["attempted"] for r in s))
            for s in (a, b)
        ]
        print(f"\n== {workload}: runs A={len(a)} B={len(b)}, "
              f"failed share A={shares[0]:.4f} B={shares[1]:.4f}, "
              f"run wall median {statistics.median(r['wall_s'] for r in a + b):.1f} s")
        if bad_runs or len(a) < 2 or len(b) < 2:
            print(f"   cannot judge: {len(bad_runs)} runs exited non-zero")
            ok_all = False
            continue
        ok_all &= shares[0] == shares[1]
        ok_all &= all(r["correct"] for r in a + b)
        print(f"   {'metric':22s} {'A median [q1, q3] spread':44s} "
              f"{'B median [q1, q3] spread':44s} drift   bound  verdict")
        for m in bench["end_to_end"]:
            name, bound = m["name"], m["bound"]
            sa = stats([r["metrics"][name]["value"] for r in a])
            sb = stats([r["metrics"][name]["value"] for r in b])
            drift = (sb["median"] - sa["median"]) / sa["median"]
            ok = abs(drift) <= bound
            ok &= sa["spread"] <= bound and sb["spread"] <= bound
            wide = max(sa["spread"], sb["spread"]) > bound / 3
            verdict = ("ok" if ok else "FAIL") + (" wide" if ok and wide else "")
            ok_all &= ok
            fmt = lambda s: (f"{s['median']:.4g} [{s['q1']:.4g}, {s['q3']:.4g}] "  # noqa: E731
                             f"{100 * s['spread']:.1f}%")
            print(f"   {name:22s} {fmt(sa):44s} {fmt(sb):44s} "
                  f"{100 * drift:+5.1f}%  {bound:.2f}  {verdict}")
    print(f"\noverall: {'AGREE' if ok_all else 'DISAGREE'}")
    return ok_all


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--runs", type=int, default=10)
    args = ap.parse_args()
    bench = load_bench()

    names = [w["name"] for w in bench["workloads"]]
    sets: dict = {w: {"A": [], "B": []} for w in names}
    out = os.path.join(ROOT, ".perfbench_out", "compare.json")
    os.makedirs(os.path.dirname(out), exist_ok=True)
    for w in names:
        for label, base in (("A", 1), ("B", 1001)):
            for i in range(args.runs):
                r = one_run(bench, w, base + i)
                sets[w][label].append(r)
                with open(out, "w") as f:
                    json.dump(sets, f, indent=1)
                print(f"{w} {label} seed={r['seed']} exit={r['exit']} "
                      f"wall={r['wall_s']:.1f}s", file=sys.stderr, flush=True)
    return 0 if judge(bench, sets) else 1


if __name__ == "__main__":
    raise SystemExit(main())
