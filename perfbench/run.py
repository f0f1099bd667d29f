#!/usr/bin/env python3
"""Benchmark of the pyspark_datacol_diff_spark engine, one workload per run.

    python3 perfbench/run.py --workload diff_cdc_write --seed 1 --seconds 24 --trace 0

Run from the root of a checkout. One run:

1. a child process (oracle.py) writes the seeded input tables into a
   temporary directory under the checkout and computes the expected
   outputs with DuckDB;
2. the timer for ``setup_s`` starts: the engine is imported, a
   ``local[N]`` session starts (N = usable cores) and the workload's
   warm-up ops run, each followed by ``quiesce_session``;
3. whole ops run one after another in this one process (a closed loop)
   until ``--seconds`` have passed, at least three; every op's output is
   checked against the oracle, outside the op's time, and
   ``quiesce_session`` runs between ops;
4. the session and its JVM stop, the temporary directory is removed and
   the last line of standard output is one JSON object: ``correct``,
   ``attempted``, ``failed`` and ``metrics``.

``--trace 0`` reports the end-to-end metrics; ``--trace 1`` wraps the
engine's public functions in spans, reads per-op AppStatusStore and
Catalyst figures, writes every span and op record to one JSON file
(``.perfbench_out/trace-<workload>-<seed>.json``) and reports per-layer
medians. ``--inject-fault`` perturbs every op's output before the check
(the checker's negative test: every op must then count as failed).
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import tempfile
import time
import traceback

import probes

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

WORKLOADS = ["diff_reconcile", "diff_cdc_write", "query_mix_short", "dedup_graph"]
# Input scale per workload. With --seconds 24 one run of a benchmarked
# workload takes ~50-65 s on a 4-core machine (set-up 20-32 s, of which
# ~6-7 s session start), so the 4 + 22 x 2 runs of a full benchmark pass
# take ~2,650 s.
DEFAULT_SCALE = {
    "diff_reconcile": 0.05,
    "diff_cdc_write": 0.1,
    "query_mix_short": 0.01,
    "dedup_graph": 0.01,
}
# The timed loop runs whole ops until --seconds have passed, at least
# MIN_OPS. The host's speed drifts in phases of ~10 s (a fixed Python loop
# timed 0.12-0.21 s within one idle minute), so a run's median is only
# steady when its timed window spans several such phases; a fixed op count
# made a slow host's runs longer but no steadier.
MIN_OPS = 3
# Warm-up ops per run, counted into setup_s. The first op of a JVM takes
# 4-6x a warm op (class loading, JIT, codegen) and the second ~1.5x; from
# the third on, op times move with the host's phases more than with the
# op count.
WARMUP_OPS = {
    "diff_reconcile": 3,
    "diff_cdc_write": 3,
    "query_mix_short": 2,
    "dedup_graph": 2,
}
DRIVER_MEM = "1g"


def parse_args(argv=None):
    ap = argparse.ArgumentParser(description="pyspark_datacol_diff_spark benchmark")
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--scale", type=float, default=None,
                    help="input scale factor (default: per workload)")
    ap.add_argument("--inject-fault", action="store_true",
                    help="perturb every op's output before it is checked")
    return ap.parse_args(argv)


def usable_cores() -> int:
    return len(os.sched_getaffinity(0))


def _engine_present() -> bool:
    return all(
        os.path.isfile(os.path.join(ROOT, p))
        for p in ("pyspark_datacol_diff_spark/__init__.py", "__spark_entry__.py",
                  "scripts/parity.py")
    )


def _oracle(args: list[str]) -> str:
    r = subprocess.run([sys.executable, os.path.join(HERE, "oracle.py"), *args],
                       stdout=subprocess.PIPE, text=True, check=True)
    return r.stdout


def _stop_spark(spark) -> None:
    from pyspark import SparkContext

    gw = SparkContext._gateway
    spark.stop()
    if gw is None:
        return
    proc = gw.proc
    gw.shutdown()
    if proc is not None:
        proc.stdin.close()  # the JVM exits when its stdin closes
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def main(argv=None) -> int:
    args = parse_args(argv)
    # a terminated run still stops its JVM and removes its temp dir
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    if not _engine_present():
        print(f"engine sources not found under {ROOT}", file=sys.stderr)
        return 2
    scale = args.scale if args.scale is not None else DEFAULT_SCALE[args.workload]
    tmp_root = os.path.join(ROOT, ".perfbench_tmp")
    os.makedirs(tmp_root, exist_ok=True)
    tmp = tempfile.mkdtemp(prefix=f"{args.workload}-", dir=tmp_root)
    try:
        result = run(args, scale, tmp)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
        try:
            os.rmdir(tmp_root)
        except OSError:
            pass
    print(json.dumps(result))
    return 0


def run(args, scale: float, tmp: str) -> dict:
    cores = usable_cores()
    data, out = os.path.join(tmp, "data"), os.path.join(tmp, "out")
    for d in ("spark-local", "jvm-tmp", "py-tmp", "out"):
        os.makedirs(os.path.join(tmp, d), exist_ok=True)

    expect_path = os.path.join(tmp, "expect.json")
    _oracle(["prepare", "--workload", args.workload, "--seed", str(args.seed),
             "--scale", str(scale), "--data", data, "--out", expect_path,
             "--threads", str(cores)])
    with open(expect_path) as f:
        expect = json.load(f)

    # every scratch file of Spark, its JVM and PySpark goes under tmp
    os.environ["TMPDIR"] = os.path.join(tmp, "py-tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(tmp, "spark-local")
    os.environ["SPARK_DRIVER_MEM"] = DRIVER_MEM
    tempfile.tempdir = None

    t_setup = time.perf_counter()
    sys.path.insert(0, ROOT)
    sys.path.insert(0, os.path.join(ROOT, "scripts"))
    sys.path.insert(0, HERE)
    from pyspark_datacol_diff_spark import get_spark

    spark = get_spark(
        app_name="perfbench",
        master=f"local[{cores}]",
        shuffle_partitions=cores,
        extra_conf={
            "spark.ui.showConsoleProgress": "false",
            "spark.sql.warehouse.dir": os.path.join(tmp, "warehouse"),
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={os.path.join(tmp, 'jvm-tmp')}",
            "spark.ui.retainedJobs": "100000",
            "spark.ui.retainedStages": "100000",
        },
    )
    session_start_s = time.perf_counter() - t_setup
    try:
        return _measure(args, spark, expect, data, out, cores, t_setup, session_start_s)
    finally:
        _stop_spark(spark)


def _measure(args, spark, expect, data, out, cores, t_setup, session_start_s) -> dict:
    import workloads
    from pyspark_datacol_diff_spark import quiesce_session

    sc = spark.sparkContext
    store = probes.StatusStore(sc)
    tracer = _Tracer(spark, store) if args.trace else None
    action = tracer.action if tracer else (lambda fn: fn())
    w = workloads.WORKLOADS[args.workload](spark, data, out, expect, args.seed, action)
    if tracer:
        tracer.instrument(w)

    # warm-up: JIT, codegen and lazy session state land in setup_s
    warm_times = []
    for i in range(WARMUP_OPS[args.workload]):
        t0 = time.perf_counter()
        w.op(-1 - i)
        warm_times.append(time.perf_counter() - t0)
        quiesce_session(spark)
    setup_s = time.perf_counter() - t_setup

    mark = store.mark()
    op_times: list[float] = []
    failed = wrong = n_ops = 0
    t_loop = time.perf_counter()
    while n_ops < MIN_OPS or time.perf_counter() - t_loop < args.seconds:
        i, n_ops = n_ops, n_ops + 1
        if tracer:
            tracer.begin_op(i)
        t0 = time.perf_counter()
        try:
            res = w.op(i)
            op_times.append(time.perf_counter() - t0)
            if args.inject_fault:
                res = w.perturb(res)
            ok = w.check(res)
        except Exception:
            traceback.print_exc()
            failed += 1
            ok = None
        if ok is False:
            failed += 1
            wrong += 1
        if tracer:
            tracer.end_op(i, time.perf_counter() - t0)
        tq = time.perf_counter()
        quiesce_session(spark)
        if tracer:
            tracer.quiesce_s.append(time.perf_counter() - tq)

    print(f"{args.workload}: setup {setup_s:.3f} s (session {session_start_s:.3f} s), "
          "warm-up ops " + " ".join(f"{t:.3f}" for t in warm_times)
          + ", timed ops " + " ".join(f"{t:.3f}" for t in op_times), file=sys.stderr)
    loop_stages = store.stages_since(mark)
    java_pid = sc._gateway.proc.pid
    rss = probes.vm_hwm_mb(os.getpid()), probes.vm_hwm_mb(java_pid)
    peak_rss_mb = sum(rss)
    print(f"{args.workload}: peak rss python {rss[0]:.0f} MB, jvm {rss[1]:.0f} MB",
          file=sys.stderr)

    if w.written is not None:
        oks = json.loads(_oracle(["verify", "--data", data, "--threads", str(cores),
                                  *w.written]))
        bad = sum(1 for ok in oks if not ok)
        failed += bad
        wrong += bad

    result = {"correct": wrong == 0 and bool(op_times), "attempted": n_ops,
              "failed": failed}
    if tracer:
        layers = tracer.summary(w, session_start_s)
        tracer.write(args, layers, op_times)
        result["metrics"] = layers
        return result

    rows = expect["op_rows"] * len(op_times)
    totals = probes.stage_totals(loop_stages)
    mrows = rows / 1e6
    result["metrics"] = {
        "setup_s": {"value": setup_s, "unit": "s"},
        "op_p50_s": {"value": statistics.median(op_times), "unit": "s"},
        "rows_per_s": {"value": expect["op_rows"] / statistics.median(op_times),
                       "unit": "rows/s"},
        "cpu_s_per_mrow": {"value": totals["executor_cpu_s"] / mrows, "unit": "s"},
        "shuffle_mb_per_mrow": {"value": totals["shuffle_write_mb"] / mrows, "unit": "MB"},
        "peak_rss_mb": {"value": peak_rss_mb, "unit": "MB"},
    }
    return result


PER_LAYER_UNITS = {
    "session.start_s": "s",
    "session.quiesce_s": "s",
    "sources.read_calls": "count",
    "sources.read_s": "s",
    "sources.read_jobs": "count",
    "sources.write_s": "s",
    "sources.write_mb": "MB",
    "operators.diff.build_s": "s",
    "operators.diff.action_s": "s",
    "operators.dedup.build_s": "s",
    "operators.cluster.build_s": "s",
    "operators.cluster.build_jobs": "count",
    "operators.cluster.rounds": "count",
    "operators.cluster.persisted_mb": "MB",
    "entry.query_build_s": "s",
    "catalyst.analysis_s": "s",
    "catalyst.optimization_s": "s",
    "catalyst.planning_s": "s",
    "spark.jobs": "count",
    "spark.stages": "count",
    "spark.stages_skipped": "count",
    "spark.skipped_stage_share": "ratio",
    "spark.tasks": "count",
    "spark.executor_run_s": "s",
    "spark.executor_cpu_s": "s",
    "spark.gc_s": "s",
    "spark.shuffle_read_mb": "MB",
    "spark.shuffle_write_mb": "MB",
    "spark.spill_mb": "MB",
}


class _Tracer:
    """Spans around the engine's public functions plus per-op Spark and
    Catalyst deltas. Only a traced run builds one."""

    def __init__(self, spark, store):
        self.spark = spark
        self.store = store
        self.spans = probes.Spans()
        self.catalyst = probes.CatalystPhases(spark)
        self.ops: list[dict] = []
        self.quiesce_s: list[float] = []
        self._mark = None

    def action(self, fn):
        with self.spans.span("action"):
            return fn()

    def instrument(self, w) -> None:
        from pyspark_datacol_diff_spark import sources as SRC
        from pyspark_datacol_diff_spark.operators import cluster as CC
        from pyspark_datacol_diff_spark.operators import dedup as DD
        from pyspark_datacol_diff_spark.operators import diff as DIFF

        sc, wrap = self.spark.sparkContext, self.spans.wrap

        def written_mb(rec, args, kwargs, result):
            rec["mb"] = probes.dir_mb(args[1])

        def persisted(rec, args, kwargs, result):
            rec["persisted_mb"] = probes.persisted_mb(sc)

        wrap(SRC, "read_parquet_table", "sources.read")
        wrap(SRC, "write_parquet", "sources.write", after=written_mb)
        wrap(DIFF, "diff", "operators.diff.build")
        wrap(DIFF, "apply_diff", "operators.diff.build")
        wrap(DIFF, "compute_dataframe_diff", "operators.diff.compute")
        wrap(DD, "ngram_jaccard_pairs", "operators.dedup.build")
        wrap(CC, "connected_components", "operators.cluster.build", after=persisted)
        wrap(CC, "pagerank_exact", "operators.cluster.build", after=persisted)
        for attr in ("query", "pagerank"):  # __spark_entry__ query callables
            if hasattr(w, attr):
                wrap(w, attr, "entry.query")

    def begin_op(self, i: int) -> None:
        self._mark = self.store.mark()
        self.catalyst.drain()
        self.spans.op = i
        self._op_span = self.spans.span("op")
        self._op_span.__enter__()

    def end_op(self, i: int, wall_s: float) -> None:
        self._op_span.__exit__(None, None, None)
        self.spans.op = None
        jobs = self.store.jobs_since(self._mark)
        stages = self.store.stages_since(self._mark)
        self.spans.attribute_jobs([s for s in self.spans.spans if s["op"] == i], jobs)
        self.ops.append({
            "op": i,
            "wall_s": wall_s,
            "jobs": len(jobs),
            "stage_totals": probes.stage_totals(stages),
            "catalyst": self.catalyst.drain(),
            "persisted_mb_after_action": probes.persisted_mb(self.spark.sparkContext),
        })

    def _per_op(self, op: dict, spans: list[dict], rounds: int | None) -> dict:
        by_id = {s["id"]: s for s in spans}

        def named(n):
            return [s for s in spans if s["name"] == n]

        def subtree_jobs(root):
            ids, total = {root["id"]}, 0
            for s in spans:  # spans are in start order: parents come first
                if s["id"] in ids or s["parent"] in ids:
                    ids.add(s["id"])
                    total += s.get("jobs", 0)
            return total

        def dur(ss):
            return sum(s["dur_s"] for s in ss)

        diff_spans = named("operators.diff.build") + named("operators.diff.compute")
        top_actions = [s for s in named("action") + named("sources.write")
                       if by_id.get(s["parent"], {}).get("name") == "op"]
        cluster = named("operators.cluster.build")
        st, cat = op["stage_totals"], op["catalyst"]
        return {
            "sources.read_calls": len(named("sources.read")),
            "sources.read_s": dur(named("sources.read")),
            "sources.read_jobs": sum(subtree_jobs(s) for s in named("sources.read")),
            "sources.write_s": dur(named("sources.write")),
            "sources.write_mb": sum(s.get("mb", 0.0) for s in named("sources.write")),
            "operators.diff.build_s": dur(named("operators.diff.build")),
            "operators.diff.action_s": (
                sum(s["self_s"] for s in named("operators.diff.compute"))
                + (dur(top_actions) if diff_spans else 0.0)
            ),
            "operators.dedup.build_s": dur(named("operators.dedup.build")),
            "operators.cluster.build_s": dur(cluster),
            "operators.cluster.build_jobs": sum(subtree_jobs(s) for s in cluster),
            "operators.cluster.rounds": rounds or 0,
            "operators.cluster.persisted_mb": max(
                [s.get("persisted_mb", 0.0) for s in cluster]
                + [op["persisted_mb_after_action"]]
            ),
            "entry.query_build_s": sum(s["self_s"] for s in named("entry.query")),
            "catalyst.analysis_s": cat["analysis"],
            "catalyst.optimization_s": cat["optimization"],
            "catalyst.planning_s": cat["planning"],
            "spark.jobs": op["jobs"],
            **{f"spark.{k}": v for k, v in st.items()},
        }

    def summary(self, w, session_start_s: float) -> dict:
        self.catalyst.close()
        self.spans.finish()
        rounds = getattr(w, "rounds", None)
        per_op = []
        for op in self.ops:
            spans = [s for s in self.spans.spans if s["op"] == op["op"]]
            r = rounds[op["op"] + WARMUP_OPS[w.name]] if rounds else None  # warm-ups come first
            per_op.append(self._per_op(op, spans, r))
        self.per_op = per_op
        out = {}
        for name, unit in PER_LAYER_UNITS.items():
            if name == "session.start_s":
                v = session_start_s
            elif name == "session.quiesce_s":
                v = statistics.median(self.quiesce_s)
            else:
                v = statistics.median(p[name] for p in per_op)
            out[name] = {"value": v, "unit": unit}
        return out

    def write(self, args, layers: dict, op_times: list[float]) -> None:
        path = os.path.join(ROOT, ".perfbench_out",
                            f"trace-{args.workload}-{args.seed}.json")
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            json.dump({
                "workload": args.workload,
                "seed": args.seed,
                "op_p50_s_traced": statistics.median(op_times) if op_times else None,
                "per_layer_median": layers,
                "per_op": self.per_op,
                "ops": self.ops,
                "spans": self.spans.spans,
            }, f, indent=1)
        print(f"trace written to {path}", file=sys.stderr)


if __name__ == "__main__":
    sys.exit(main())
