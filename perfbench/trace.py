"""Per-operation tracing from outside the engine.

Around each call into an operator the tracer sets a Spark job group,
drains the listener bus, and reads the app-status store and a
``plans.runner.ShuffleMeter`` before and after. Nothing inside the
package is instrumented: every number here is what Spark's own status
store recorded for the jobs of that group.

Counters per operation (see ``OP_COUNTERS``):
  wall_s               wall time of the call
  jobs, stages, tasks  jobs in the group; stages and tasks that ran
  shuffle_*_bytes      ShuffleMeter delta, drained on both sides
  spill_bytes          memory + disk bytes spilled by the op's stages
  executor_run_s       summed task run time
  driver_idle_s        wall time in which none of the op's stages ran
  task_skew            max/p50 task run time per stage, averaged over the
                       op's stages weighted by their executor run time
  cached_bytes         storage (memory + disk) held after the call minus
                       before it
"""

from __future__ import annotations

import statistics
import time
from contextlib import contextmanager

OP_COUNTERS = (
    "wall_s", "jobs", "stages", "tasks", "shuffle_read_bytes", "shuffle_write_bytes",
    "spill_bytes", "executor_run_s", "driver_idle_s", "task_skew", "cached_bytes",
)


def _opt(o):
    return o.get() if o.isDefined() else None


def _iterate(seq):
    it = seq.iterator()
    while it.hasNext():
        yield it.next()


def idle_seconds(window: tuple[float, float], busy: list[tuple[float, float]]) -> float:
    """Length of ``window`` not covered by any ``busy`` interval."""
    lo, hi = window
    covered, cur = 0.0, lo
    for s, e in sorted(busy):
        s, e = max(s, cur), min(e, hi)
        if e > s:
            covered += e - s
            cur = e
    return max(0.0, (hi - lo) - covered)


def weighted_skew(stages: list[tuple[float, float, float]]) -> float:
    """(p50_ms, max_ms, run_ms) per stage -> run-time-weighted mean of
    max/p50; 1.0 when no stage ran a measurable task."""
    total = sum(run for _, _, run in stages)
    if total <= 0:
        return 1.0
    return sum(run * mx / max(p50, 1.0) for p50, mx, run in stages) / total


class Tracer:
    """Collects per-operation counters into ``self.ops[name]``."""

    def __init__(self, spark):
        from parallel_connected_components_spark.plans.runner import ShuffleMeter

        self.spark = spark
        self.sc = spark.sparkContext
        self.meter = ShuffleMeter()
        self.ops: dict[str, dict] = {}

    # -- status store access -------------------------------------------------
    def _drain(self) -> None:
        self.sc._jsc.sc().listenerBus().waitUntilEmpty()

    def _store(self):
        return self.sc._jsc.sc().statusStore()

    def _newest_job_id(self) -> int:
        for j in _iterate(self._store().jobsList(self.sc._jvm.java.util.ArrayList())):
            return j.jobId()
        return -1

    def _newest_stage_id(self) -> int:
        jvm, gw = self.sc._jvm, self.sc._gateway
        stages = self._store().stageList(
            jvm.java.util.ArrayList(), False, False, gw.new_array(jvm.double, 0),
            jvm.java.util.ArrayList(),
        )
        for s in _iterate(stages):
            return s.stageId()
        return -1

    def _cached_bytes(self) -> int:
        return sum(i.memSize() + i.diskSize() for i in self.sc._jsc.sc().getRDDStorageInfo())

    def _shuffle(self) -> tuple[int, int]:
        got = self.meter.totals(self.spark, drain=True)
        if got is None:
            raise RuntimeError("ShuffleMeter could not read the status store")
        return got

    # -- the span --------------------------------------------------------------
    @contextmanager
    def span(self, op: str):
        group = f"perfbench:{op}"
        self._drain()
        job0, stage0 = self._newest_job_id(), self._newest_stage_id()
        sh0, cached0 = self._shuffle(), self._cached_bytes()
        self.sc.setJobGroup(group, op)
        t0, w0 = time.perf_counter(), time.time()
        try:
            yield
        finally:
            wall = time.perf_counter() - t0
            w1 = time.time()
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            self.sc.setLocalProperty("spark.job.description", None)
            self._drain()
            sh1 = self._shuffle()
            c = self._collect(group, job0, stage0, (w0 * 1000.0, w1 * 1000.0))
            c.update(
                wall_s=wall,
                shuffle_read_bytes=sh1[0] - sh0[0],
                shuffle_write_bytes=sh1[1] - sh0[1],
                cached_bytes=self._cached_bytes() - cached0,
            )
            self.ops[op] = c

    def _collect(self, group: str, job0: int, stage0: int, window_ms) -> dict:
        store = self._store()
        jvm, gw = self.sc._jvm, self.sc._gateway
        stage_ids: set[int] = set()
        jobs = 0
        for j in _iterate(store.jobsList(jvm.java.util.ArrayList())):
            if j.jobId() <= job0:
                break  # newest first: everything older belongs to earlier ops
            if _opt(j.jobGroup()) != group:
                continue
            jobs += 1
            stage_ids.update(s for s in _iterate(j.stageIds()) if s > stage0)
        q = gw.new_array(jvm.double, 2)
        q[0], q[1] = 0.5, 1.0
        no_q = gw.new_array(jvm.double, 0)
        stages = tasks = spill = 0
        run_ms = 0.0
        busy, skew = [], []
        for sid in stage_ids:
            for s in _iterate(store.stageData(sid, False, jvm.java.util.ArrayList(), False, no_q)):
                if s.status().toString() not in ("COMPLETE", "FAILED"):
                    continue  # skipped: its shuffle output was reused
                stages += 1
                tasks += s.numCompleteTasks()
                spill += s.memoryBytesSpilled() + s.diskBytesSpilled()
                run_ms += s.executorRunTime()
                sub, done = _opt(s.submissionTime()), _opt(s.completionTime())
                if sub is not None and done is not None:
                    busy.append((float(sub.getTime()), float(done.getTime())))
                summ = _opt(store.taskSummary(sid, s.attemptId(), q))
                if summ is not None:
                    rt = summ.executorRunTime()
                    skew.append(
                        (float(rt.apply(0)), float(rt.apply(1)), float(s.executorRunTime()))
                    )
        return {
            "jobs": jobs,
            "stages": stages,
            "tasks": tasks,
            "spill_bytes": spill,
            "executor_run_s": run_ms / 1000.0,
            "driver_idle_s": idle_seconds(window_ms, busy) / 1000.0,
            "task_skew": weighted_skew(skew),
        }


def loop_metrics(iterations: list, wall_s: float) -> dict:
    """From a ``FixpointRunner``'s metrics: iterations, p50 iteration
    seconds, and the wall time the op spent outside its iterations (pin,
    vertex derivation, init, finish and snapshot writes)."""
    secs = [m.seconds for m in iterations if m.changed >= 0]
    return {
        "iterations": len(secs),
        "iter_s_p50": statistics.median(secs) if secs else 0.0,
        "outside_loop_s": wall_s - sum(m.seconds for m in iterations),
    }
