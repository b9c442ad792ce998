"""Readers for Spark's and the driver JVM's public status surfaces.

Everything here reads from outside the program: the application status
store (the data the Spark UI and REST API serve), the codegen metrics
source, the JVM's management beans, the QueryExecution planning tracker
through a registered QueryExecutionListener, and /proc for memory.
"""

from __future__ import annotations

import os
import threading
import time
from dataclasses import astuple, dataclass
from typing import Any


def vm_hwm_mb(pid: int | str = "self") -> float:
    """Peak resident set size of a process, from /proc/<pid>/status."""
    with open(f"/proc/{pid}/status", encoding="ascii") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError(f"no VmHWM for pid {pid}")


def dir_bytes(path: str) -> int:
    total = 0
    for root, _dirs, files in os.walk(path):
        for name in files:
            try:
                total += os.lstat(os.path.join(root, name)).st_size
            except FileNotFoundError:
                pass
    return total


@dataclass
class JvmCounters:
    codegen_compiles: int
    codegen_ms: float
    jit_ms: float
    gc_ms: float
    gc_count: int

    def minus(self, other: "JvmCounters") -> "JvmCounters":
        return JvmCounters(*(a - b for a, b in zip(astuple(self), astuple(other))))


@dataclass
class Job:
    job_id: int
    start: float
    end: float
    stage_ids: list[int]


@dataclass
class Stage:
    stage_id: int
    start: float
    end: float
    tasks: int
    failed_tasks: int
    run_ms: float
    cpu_ms: float
    input_bytes: int
    shuffle_read_bytes: int
    shuffle_write_bytes: int
    spill_bytes: int
    attempt: int


class SparkStats:
    """Status-store, codegen, JVM and planning-tracker readers for one
    session."""

    def __init__(self, spark) -> None:
        self.spark = spark
        self.sc = spark.sparkContext
        self.jvm = self.sc._jvm
        self.store = self.sc._jsc.sc().statusStore()
        self._codegen = self.jvm.org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME()
        self._mx = self.jvm.java.lang.management.ManagementFactory
        self._listener = None
        self.plans: list[dict[str, Any]] = []
        self._plans_lock = threading.Lock()

    @property
    def jvm_pid(self) -> int:
        return int(self.jvm.java.lang.ProcessHandle.current().pid())

    def jvm_counters(self) -> JvmCounters:
        snap = self._codegen.getSnapshot()
        count = int(self._codegen.getCount())
        values = list(snap.getValues())
        # The histogram's reservoir keeps every sample until it holds 1028;
        # past that, estimate the total from the reservoir mean.
        total = float(sum(values)) if len(values) >= count else float(snap.getMean()) * count
        gc_ms = gc_count = 0
        for bean in self._mx.getGarbageCollectorMXBeans():
            gc_ms += int(bean.getCollectionTime())
            gc_count += int(bean.getCollectionCount())
        jit = float(self._mx.getCompilationMXBean().getTotalCompilationTime())
        return JvmCounters(count, total, jit, float(gc_ms), gc_count)

    def flush(self) -> None:
        """Wait until the listener bus has delivered every event, so the
        status store and planning listener are current."""
        self.sc._jsc.sc().listenerBus().waitUntilEmpty()

    def last_job_id(self) -> int:
        jobs = self.store.jobsList(None)  # newest first
        return int(jobs.apply(0).jobId()) if jobs.size() else -1

    def jobs_after(self, job_id: int) -> list[Job]:
        out = []
        for jid in range(job_id + 1, self.last_job_id() + 1):
            try:
                j = self.store.job(jid)
            except Exception:  # evicted from the store or never registered
                continue
            sub, done = j.submissionTime(), j.completionTime()
            if not sub.isDefined():
                continue
            start = sub.get().getTime() / 1000.0
            end = done.get().getTime() / 1000.0 if done.isDefined() else time.time()
            stage_ids = [int(s) for s in _seq(j.stageIds())]
            out.append(Job(jid, start, end, stage_ids))
        return out

    def stage(self, stage_id: int) -> Stage | None:
        try:
            s = self.store.lastStageAttempt(stage_id)
        except Exception:  # skipped stages are never attempted
            return None
        sub, done = s.submissionTime(), s.completionTime()
        if not sub.isDefined():
            return None
        return Stage(
            stage_id=stage_id,
            start=sub.get().getTime() / 1000.0,
            end=done.get().getTime() / 1000.0 if done.isDefined() else time.time(),
            tasks=int(s.numTasks()),
            failed_tasks=int(s.numFailedTasks()),
            run_ms=float(s.executorRunTime()),
            cpu_ms=float(s.executorCpuTime()) / 1e6,
            input_bytes=int(s.inputBytes()),
            shuffle_read_bytes=int(s.shuffleReadBytes()),
            shuffle_write_bytes=int(s.shuffleWriteBytes()),
            spill_bytes=int(s.diskBytesSpilled()),
            attempt=int(s.attemptId()),
        )

    def task_skew(self, stage: Stage) -> float:
        """Max over median task run time of one stage."""
        q = self.sc._gateway.new_array(self.jvm.double, 2)
        q[0], q[1] = 0.5, 1.0
        summary = self.store.taskSummary(stage.stage_id, stage.attempt, q)
        if not summary.isDefined():
            return 1.0
        median, top = _seq(summary.get().executorRunTime())
        return float(top) / float(median) if median > 0 else 1.0

    def storage_held(self) -> tuple[int, float]:
        """(RDDs with cached blocks, MB they hold in memory and on disk)."""
        infos = list(self.sc._jsc.sc().getRDDStorageInfo())
        mb = sum(int(r.memSize()) + int(r.diskSize()) for r in infos) / 2**20
        return len(infos), mb

    # --- Planning phases, from each QueryExecution's tracker -------------

    def listen_plans(self) -> None:
        from pyspark.java_gateway import ensure_callback_server_started

        ensure_callback_server_started(self.sc._gateway)
        self._listener = _PlanListener(self)
        self.spark._jsparkSession.listenerManager().register(self._listener)

    def unlisten_plans(self) -> None:
        if self._listener is not None:
            self.spark._jsparkSession.listenerManager().unregister(self._listener)
            self._listener = None

    def take_plans(self) -> list[dict[str, Any]]:
        self.flush()
        with self._plans_lock:
            out, self.plans = self.plans, []
        return out


class _PlanListener:
    """py4j implementation of org.apache.spark.sql.util.QueryExecutionListener
    that records each finished query's planning-phase durations."""

    def __init__(self, stats: SparkStats) -> None:
        self.stats = stats

    def onSuccess(self, func_name, qe, duration_ns):  # noqa: N802 (Java interface)
        self._record(func_name, qe)

    def onFailure(self, func_name, qe, exception):  # noqa: N802
        self._record(func_name, qe)

    def _record(self, func_name, qe) -> None:
        phases = qe.tracker().phases()
        it = phases.keySet().iterator()
        rec: dict[str, Any] = {"func": func_name, "at": time.time()}
        while it.hasNext():
            key = it.next()
            rec[key] = float(phases.apply(key).durationMs())
        with self.stats._plans_lock:
            self.stats.plans.append(rec)

    class Java:
        implements = ["org.apache.spark.sql.util.QueryExecutionListener"]


def _seq(scala_seq) -> list:
    return [scala_seq.apply(i) for i in range(scala_seq.size())]
