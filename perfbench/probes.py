"""Measurement probes: Spark's AppStatusStore, Catalyst phase times, the
resident set of the driver and JVM, and the span recorder of a traced
run. All of them read state the engine already keeps; none changes a
plan or an engine module file.
"""

from __future__ import annotations

import contextlib
import functools
import os
import time

MB = 1_000_000


def _listener_bus_flush(sc) -> None:
    # stage and job metrics reach the status store through the async
    # listener bus; wait until the events of finished jobs are applied
    sc._jsc.sc().listenerBus().waitUntilEmpty()


def _opt_ms(jopt) -> int | None:
    return jopt.get().getTime() if jopt.isDefined() else None


class StatusStore:
    """Job and stage records newer than a mark, from the AppStatusStore
    (works with ``spark.ui.enabled=false``)."""

    def __init__(self, sc):
        self.sc = sc
        self.store = sc._jsc.sc().statusStore()
        gw = sc._gateway
        self._no_quantiles = gw.new_array(gw.jvm.double, 0)

    def mark(self) -> tuple[int, int]:
        _listener_bus_flush(self.sc)
        jobs = self.store.jobsList(None)
        stages = self.store.stageList(None, False, False, self._no_quantiles, None)
        max_job = max((jobs.apply(i).jobId() for i in range(jobs.size())), default=-1)
        max_stage = max(
            (stages.apply(i).stageId() for i in range(stages.size())), default=-1
        )
        return max_job, max_stage

    def jobs_since(self, mark: tuple[int, int]) -> list[dict]:
        _listener_bus_flush(self.sc)
        jobs = self.store.jobsList(None)
        out = []
        for i in range(jobs.size()):
            j = jobs.apply(i)
            if j.jobId() > mark[0]:
                ids = j.stageIds()
                out.append({
                    "job": j.jobId(),
                    "submitted_ms": _opt_ms(j.submissionTime()),
                    "stages": [ids.apply(k) for k in range(ids.size())],
                })
        return out

    def stages_since(self, mark: tuple[int, int]) -> list[dict]:
        _listener_bus_flush(self.sc)
        stages = self.store.stageList(None, False, False, self._no_quantiles, None)
        out = []
        for i in range(stages.size()):
            s = stages.apply(i)
            if s.stageId() <= mark[1]:
                continue
            out.append({
                "stage": s.stageId(),
                "attempt": s.attemptId(),
                "status": s.status().toString(),
                "tasks": s.numTasks(),
                "run_ms": s.executorRunTime(),
                "cpu_ns": s.executorCpuTime(),
                "gc_ms": s.jvmGcTime(),
                "shuffle_write_b": s.shuffleWriteBytes(),
                "shuffle_read_b": s.shuffleReadBytes(),
                "spill_b": s.memoryBytesSpilled() + s.diskBytesSpilled(),
            })
        return out


def stage_totals(stages: list[dict]) -> dict:
    ran = [s for s in stages if s["status"] != "SKIPPED"]
    n = len(stages)
    skipped = n - len(ran)
    return {
        "stages": n,
        "stages_skipped": skipped,
        "skipped_stage_share": skipped / n if n else 0.0,
        "tasks": sum(s["tasks"] for s in ran),
        "executor_run_s": sum(s["run_ms"] for s in ran) / 1e3,
        "executor_cpu_s": sum(s["cpu_ns"] for s in ran) / 1e9,
        "gc_s": sum(s["gc_ms"] for s in ran) / 1e3,
        "shuffle_read_mb": sum(s["shuffle_read_b"] for s in ran) / MB,
        "shuffle_write_mb": sum(s["shuffle_write_b"] for s in ran) / MB,
        "spill_mb": sum(s["spill_b"] for s in ran) / MB,
    }


def persisted_mb(sc) -> float:
    """Memory plus disk bytes of every persisted RDD (localCheckpoint
    block sets included)."""
    infos = sc._jsc.sc().getRDDStorageInfo()
    return sum(i.memSize() + i.diskSize() for i in infos) / MB


def vm_hwm_mb(pid: int) -> float:
    """Peak resident set (VmHWM) of one process, in MiB."""
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError(f"no VmHWM for pid {pid}")


class CatalystPhases:
    """QueryExecutionListener (a Python object behind a py4j proxy) that
    records analysis / optimization / planning milliseconds of every
    finished query execution, writes included."""

    class Java:
        implements = ["org.apache.spark.sql.util.QueryExecutionListener"]

    def __init__(self, spark):
        from pyspark.java_gateway import ensure_callback_server_started

        self.spark = spark
        self.records: list[dict] = []
        ensure_callback_server_started(spark.sparkContext._gateway)
        spark._jsparkSession.listenerManager().register(self)

    def onSuccess(self, func_name, qe, duration_ns):  # noqa: N802 (Java API)
        phases = {}
        it = qe.tracker().phases().iterator()
        while it.hasNext():
            kv = it.next()
            phases[kv._1()] = kv._2().durationMs() / 1e3
        self.records.append({"func": func_name, "phases": phases})

    def onFailure(self, func_name, qe, exc):  # noqa: N802 (Java API)
        self.records.append({"func": func_name, "phases": {}, "failed": True})

    def drain(self) -> dict:
        _listener_bus_flush(self.spark.sparkContext)
        recs, self.records = self.records, []
        tot = {"analysis": 0.0, "optimization": 0.0, "planning": 0.0}
        for r in recs:
            for k in tot:
                tot[k] += r["phases"].get(k, 0.0)
        return {"executions": len(recs), **tot}

    def close(self) -> None:
        self.spark._jsparkSession.listenerManager().unregister(self)


class Spans:
    """In-memory span recorder: name, start, end, parent, op id. Spans
    nest by call order; self time is computed at the end."""

    def __init__(self):
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self.op: int | None = None

    @contextlib.contextmanager
    def span(self, name: str, **extra):
        rec = {
            "id": len(self.spans),
            "name": name,
            "parent": self._stack[-1] if self._stack else None,
            "op": self.op,
            "start": time.time(),
            "end": None,
            **extra,
        }
        self.spans.append(rec)
        self._stack.append(rec["id"])
        try:
            yield rec
        finally:
            self._stack.pop()
            rec["end"] = time.time()

    def wrap(self, module, attr: str, name: str, after=None) -> None:
        """Replace ``module.attr`` with a spanned wrapper; ``after(rec,
        args, kwargs, result)`` may add fields to the span."""
        fn = getattr(module, attr)

        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            with self.span(name, fn=attr) as rec:
                result = fn(*args, **kwargs)
                if after is not None:
                    after(rec, args, kwargs, result)
                return result

        setattr(module, attr, wrapper)

    def finish(self) -> None:
        child_time: dict[int, float] = {}
        for s in self.spans:
            if s["parent"] is not None:
                child_time[s["parent"]] = child_time.get(s["parent"], 0.0) + (
                    s["end"] - s["start"]
                )
        for s in self.spans:
            s["dur_s"] = s["end"] - s["start"]
            s["self_s"] = s["dur_s"] - child_time.get(s["id"], 0.0)

    @staticmethod
    def attribute_jobs(spans: list[dict], jobs: list[dict]) -> None:
        """Give every job to the innermost of ``spans`` open at its
        submission (the JVM's ms clock and ``time.time()`` both read the
        host's wall clock)."""
        for j in jobs:
            t = (j["submitted_ms"] or 0) / 1e3
            best = None
            for s in spans:
                if s["start"] - 0.001 <= t <= (s["end"] or time.time()) + 0.001:
                    if best is None or s["start"] >= best["start"]:
                        best = s
            if best is not None:
                best["jobs"] = best.get("jobs", 0) + 1


def dir_mb(path: str) -> float:
    total = 0
    for dp, _, files in os.walk(path):
        total += sum(os.path.getsize(os.path.join(dp, f)) for f in files)
    return total / MB
