"""Per-call Spark layer counters, read from Spark's own status store.

A timed public call owns every Spark job whose id is at least the
scheduler's next job id when the call began and that was submitted
before the call returned. Ownership by id window, not by job group,
counts the jobs a call launches from its own worker threads (which do
not inherit the caller's job group) — ``ingest_batch`` writes its
tiers from a thread pool.

Stage metrics come from ``statusStore().lastStageAttempt``; both
stores answer with ``spark.ui.enabled=false``. A stage that a job
reuses from an earlier call (status SKIPPED for that job, COMPLETE
from before) is counted only by the call during which it was
submitted.
"""

from __future__ import annotations

import re
import time
from dataclasses import dataclass, field

MB = 1024.0 * 1024.0

#: counters recorded for every timed call, in table order
COUNTERS = (
    "wall_s", "spark_jobs", "stages", "tasks", "task_s", "cpu_s", "gc_s",
    "offcpu_s", "driver_s", "shuffle_write_mb", "spill_mb", "input_mb",
    "output_mb",
)

_SIZE_UNITS = {"B": 1.0, "KiB": 1024.0, "MiB": MB, "GiB": MB * 1024.0,
               "TiB": MB * MB}
_SIZE_RE = re.compile(r"([0-9][0-9,]*\.?[0-9]*) (B|KiB|MiB|GiB|TiB)")
#: SQL metrics of Python-evaluating plan nodes that measure the bytes
#: crossing the JVM <-> Python worker boundary
_PYTHON_METRICS = ("data sent to Python workers",
                   "data returned from Python workers")


def _ms(opt_date) -> float | None:
    """``scala.Option[java.util.Date]`` -> epoch milliseconds."""
    return float(opt_date.get().getTime()) if opt_date.isDefined() else None


def _seq(scala_seq) -> list:
    return [scala_seq.apply(i) for i in range(scala_seq.size())]


def _union_ms(intervals: list[tuple[float, float]]) -> float:
    total, end = 0.0, float("-inf")
    for lo, hi in sorted(intervals):
        if hi <= end:
            continue
        total += hi - max(lo, end)
        end = hi
    return total


def _total_bytes(formatted: str) -> float:
    """Total of a formatted SQL size metric: either ``12.3 MiB`` or
    ``total (min, med, max ...)\\n12.3 MiB (...)`` — the first size."""
    m = _SIZE_RE.search(formatted)
    if m is None:
        return 0.0
    return float(m.group(1).replace(",", "")) * _SIZE_UNITS[m.group(2)]


@dataclass
class CallRecord:
    op: str
    position: int  # 1-based call number of this op in the session
    phase: str  # "warmup" or "timed"
    counters: dict = field(default_factory=dict)
    extra: dict = field(default_factory=dict)


class SparkMeter:
    """Collects :data:`COUNTERS` for calls made through :meth:`call`.

    ``enabled=False`` makes :meth:`call` a plain timer: the untraced
    run measures end-to-end metrics without any status-store reads."""

    def __init__(self, spark, enabled: bool):
        self.spark = spark
        self.enabled = enabled
        self._sc = spark.sparkContext._jsc.sc()
        self.records: list[CallRecord] = []
        self._positions: dict[str, int] = {}

    # ----------------------------------------------------------- windows
    def _next_job_id(self) -> int:
        return int(self._sc.dagScheduler().nextJobId())

    def drain(self) -> None:
        """Wait until the listener bus has delivered every event, so the
        last stage's metrics are in the store."""
        self._sc.listenerBus().waitUntilEmpty()

    def call(self, op: str, fn, *, phase: str = "timed", python: bool = False):
        """Run ``fn()``; returns ``(result, wall_s)`` and, when enabled,
        appends the call's :class:`CallRecord`."""
        pos = self._positions[op] = self._positions.get(op, 0) + 1
        first_job = self._next_job_id() if self.enabled else 0
        t0_ms = time.time() * 1000.0
        t0 = time.perf_counter()
        out = fn()
        wall = time.perf_counter() - t0
        t1_ms = time.time() * 1000.0
        if self.enabled:
            rec = CallRecord(op, pos, phase)
            rec.counters, job_ids = self._collect(first_job, t0_ms, t1_ms, wall)
            if python:
                rec.extra["python_mb"] = self.python_bytes(job_ids) / MB
            rec.extra["cache.disk_mb"] = self.cache_disk_bytes() / MB
            self.records.append(rec)
        return out, wall

    def _collect(self, first_job: int, t0_ms: float, t1_ms: float, wall: float):
        self.drain()
        store = self._sc.statusStore()
        job_ids, stage_ids = [], []
        for jid in range(first_job, self._next_job_id()):
            try:
                job = store.job(jid)
            except Exception:  # py4j: evicted from the store
                raise RuntimeError(
                    f"job {jid} was evicted from the status store; raise "
                    "spark.ui.retainedJobs") from None
            sub = _ms(job.submissionTime())
            if sub is not None and sub > t1_ms:
                continue  # submitted after the call returned
            job_ids.append(jid)
            stage_ids.extend(int(s) for s in _seq(job.stageIds()))
        c = dict.fromkeys(COUNTERS, 0.0)
        c["wall_s"] = wall
        c["spark_jobs"] = float(len(job_ids))
        spans = []
        for sid in sorted(set(stage_ids)):
            st = store.lastStageAttempt(sid)
            sub = _ms(st.submissionTime())
            if sub is None or sub < t0_ms - 1.0:
                continue  # skipped here, or ran for an earlier call
            done = _ms(st.completionTime()) or t1_ms
            spans.append((max(sub, t0_ms), min(done, t1_ms)))
            c["stages"] += 1
            c["tasks"] += st.numCompleteTasks() + st.numFailedTasks()
            c["task_s"] += st.executorRunTime() / 1e3
            c["cpu_s"] += st.executorCpuTime() / 1e9
            c["gc_s"] += st.jvmGcTime() / 1e3
            c["shuffle_write_mb"] += st.shuffleWriteBytes() / MB
            c["spill_mb"] += (st.memoryBytesSpilled() + st.diskBytesSpilled()) / MB
            c["input_mb"] += st.inputBytes() / MB
            c["output_mb"] += st.outputBytes() / MB
        c["offcpu_s"] = c["task_s"] - c["cpu_s"] - c["gc_s"]
        c["driver_s"] = max(0.0, wall - _union_ms(spans) / 1e3)
        return c, job_ids

    # ------------------------------------------------------------ extras
    def python_bytes(self, job_ids: list[int]) -> float:
        """Bytes sent to plus returned from Python workers by the SQL
        executions that ran ``job_ids``."""
        want = set(job_ids)
        sql = self.spark._jsparkSession.sharedState().statusStore()
        total = 0.0
        for ex in _seq(sql.executionsList()):
            if not want & {int(j) for j in _seq(ex.jobs().keys().toSeq())}:
                continue
            eid = ex.executionId()
            ids = {
                int(m.accumulatorId())
                for node in _seq(sql.planGraph(eid).allNodes())
                for m in _seq(node.metrics())
                if m.name() in _PYTHON_METRICS
            }
            values = {int(t._1()): t._2()
                      for t in _seq(sql.executionMetrics(eid).toSeq())}
            total += sum(_total_bytes(values.get(acc, "")) for acc in ids)
        return total

    def cache_disk_bytes(self) -> float:
        """Disk bytes held by cached RDDs right now (the storage list)."""
        store = self._sc.statusStore()
        return float(sum(r.diskUsed() for r in _seq(store.rddList(True))))
