#!/usr/bin/env python3
"""Round-12 same-session A/B: time one query under two env toggle
settings, interleaved in ABBA order (A B, B A, A B, ...) so a monotonic
drift of the host's speed weighs on both arms alike.

Usage:
  python3 scripts/r12_ab.py <query> <ENV_VAR> <valA> <valB> [reps]

Each arm: warm-up once, then `reps` timed runs interleaved with the
other arm's runs (noop sink, quiesce between every run — the bench
methodology). Reports per-arm min/median. ``ENV_VAR`` is restored to
its previous value (or removed) on exit.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CPUS = os.environ.get("SPARK_GRAFT_CPUS", "32")


def main() -> None:
    query, var, val_a, val_b = sys.argv[1:5]
    reps = int(sys.argv[5]) if len(sys.argv) > 5 else 3

    from pyspark_datacol_diff_spark import get_spark, quiesce_session
    import __spark_entry__ as entry

    spark = get_spark(
        app_name="r12_ab",
        master=f"local[{CPUS}]",
        shuffle_partitions=int(CPUS),
    )
    qs = entry.queries()
    fn = qs[query]

    def run_once() -> float:
        t0 = time.perf_counter()
        fn(spark, SF_DIR).write.format("noop").mode("overwrite").save()
        dt = time.perf_counter() - t0
        quiesce_session(spark)
        return dt

    saved = os.environ.get(var)
    samples: dict[str, list[float]] = {val_a: [], val_b: []}
    try:
        # warm both arms (JIT for both plan shapes)
        for v in (val_a, val_b):
            os.environ[var] = v
            run_once()
        for rep in range(reps):
            order = (val_a, val_b) if rep % 2 == 0 else (val_b, val_a)
            for v in order:
                os.environ[var] = v
                spark.sparkContext.setJobDescription(f"ab:{query}:{var}={v}")
                samples[v].append(run_once())
    finally:
        if saved is None:
            os.environ.pop(var, None)
        else:
            os.environ[var] = saved

    out = {}
    for v, ss in samples.items():
        ss.sort()
        out[v] = {
            "min": round(ss[0], 3),
            "median": round(ss[len(ss) // 2], 3),
            "max": round(ss[-1], 3),
        }
        print(f"{query} {var}={v}: {out[v]}", file=sys.stderr)
    print(json.dumps({query: out}))


if __name__ == "__main__":
    main()
