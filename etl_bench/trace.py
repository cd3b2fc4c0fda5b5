"""Tracing for the traced run, built only from the benchmark's own files:

* spans the benchmark records around the engine's public functions;
* Spark's own status store (the data behind the UI and REST API): job
  groups map each span to its jobs, stages and per-stage task metrics;
* ``/proc`` for memory and for CPU per process.

With tracing off every hook is a no-op, so end-to-end numbers are measured
without it.
"""

from __future__ import annotations

import os
import time
from collections import defaultdict
from contextlib import contextmanager

_CLK = os.sysconf("SC_CLK_TCK")


def proc_children(pid: int) -> list[int]:
    """Direct children of ``pid`` (every thread's children list)."""
    kids: list[int] = []
    try:
        for tid in os.listdir(f"/proc/{pid}/task"):
            with open(f"/proc/{pid}/task/{tid}/children") as fh:
                kids.extend(int(k) for k in fh.read().split())
    except OSError:
        pass
    return kids


def proc_descendants(pid: int) -> list[int]:
    out, todo = [], [pid]
    while todo:
        for kid in proc_children(todo.pop()):
            out.append(kid)
            todo.append(kid)
    return out


def proc_cpu_s(pid: int, reaped: bool = True) -> float:
    """User + system CPU seconds of ``pid`` (plus its reaped children)."""
    try:
        with open(f"/proc/{pid}/stat") as fh:
            fields = fh.read().rsplit(")", 1)[1].split()
    except OSError:
        return 0.0
    ticks = int(fields[11]) + int(fields[12])
    if reaped:
        ticks += int(fields[13]) + int(fields[14])
    return ticks / _CLK


def proc_comm(pid: int) -> str:
    try:
        with open(f"/proc/{pid}/comm") as fh:
            return fh.read().strip()
    except OSError:
        return ""


def proc_peak_rss_mb(pid: int) -> float:
    try:
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024.0
    except OSError:
        pass
    return 0.0


def python_worker_cpu_s(jvm_pid: int) -> float:
    """CPU of the JVM's Python workers: live Python descendants, plus the
    CPU of children the JVM already reaped (its only children are Python
    workers in local mode)."""
    live = sum(
        proc_cpu_s(p) for p in proc_descendants(jvm_pid)
        if proc_comm(p).startswith("python")
    )
    return live + proc_cpu_s(jvm_pid) - proc_cpu_s(jvm_pid, reaped=False)


def tree_cpu_s(pid: int) -> float:
    """CPU seconds of ``pid`` and every process under it, live or reaped
    (a reaped child's CPU is in its parent's ``cutime``/``cstime``)."""
    return proc_cpu_s(pid) + sum(proc_cpu_s(p) for p in proc_descendants(pid))


def cpu_times() -> list[int]:
    with open("/proc/stat") as fh:
        return [int(x) for x in fh.readline().split()[1:]]


def steal_share(before: list[int], after: list[int]) -> float:
    delta = [b - a for a, b in zip(before, after)]
    return delta[7] / max(1, sum(delta[:8]))


class Tracer:
    """Spans and Spark job groups around engine calls (no-op when off)."""

    def __init__(self, spark):
        self.spark = spark
        self.enabled = False
        self.spans: dict[str, list[float]] = defaultdict(list)

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        sc = self.spark.sparkContext
        sc.setJobGroup(name, name)
        t0 = time.perf_counter()
        try:
            yield
        finally:
            self.spans[name].append(time.perf_counter() - t0)
            sc.setLocalProperty("spark.jobGroup.id", None)

    def wrap(self, module, attr: str, name: str):
        """Time every call of ``module.attr`` (driver time in the call)."""
        fn = getattr(module, attr)

        def timed(*a, **kw):
            if not self.enabled:
                return fn(*a, **kw)
            t0 = time.perf_counter()
            try:
                return fn(*a, **kw)
            finally:
                self.spans[name].append(time.perf_counter() - t0)

        setattr(module, attr, timed)

    def stage_metrics(self, group: str) -> dict[str, float]:
        """Sums over the completed stages of every job in ``group``, plus the
        task skew (max / median task run time) of its widest stage."""
        store = self.spark.sparkContext._jsc.sc().statusStore()
        gw = self.spark.sparkContext._gateway
        quant = gw.new_array(gw.jvm.double, 2)
        quant[0], quant[1] = 0.5, 1.0
        jobs = store.jobsList(None)
        stage_ids = set()
        for i in range(jobs.size()):
            job = jobs.apply(i)
            g = job.jobGroup()
            if g.isDefined() and g.get() == group:
                ids = job.stageIds()
                stage_ids.update(ids.apply(k) for k in range(ids.size()))
        out = defaultdict(float)
        widest = (0, 0.0)
        for sid in sorted(stage_ids):
            st = store.lastStageAttempt(sid)
            if str(st.status()) != "COMPLETE":
                continue
            out["stages"] += 1
            out["tasks"] += st.numTasks()
            out["shuffle_write_bytes"] += st.shuffleWriteBytes()
            out["shuffle_read_bytes"] += st.shuffleReadBytes()
            out["spill_bytes"] += st.memoryBytesSpilled() + st.diskBytesSpilled()
            out["input_rows"] += st.inputRecords()
            out["input_bytes"] += st.inputBytes()
            out["output_bytes"] += st.outputBytes()
            if st.numTasks() > widest[0]:
                summary = store.taskSummary(sid, st.attemptId(), quant)
                if summary.isDefined():
                    rt = summary.get().executorRunTime()
                    widest = (st.numTasks(), rt.apply(1) / max(1.0, rt.apply(0)))
        out["task_skew"] = widest[1]
        return dict(out)

    def jvm_gc_s(self) -> float:
        beans = self.spark.sparkContext._jvm.java.lang.management.ManagementFactory \
            .getGarbageCollectorMXBeans()
        return sum(beans.get(i).getCollectionTime() for i in range(beans.size())) / 1000.0


def progress_listener():
    """A StreamingQueryListener that collects every micro-batch's progress;
    ``terminated`` is set once a query ends, so its last progress has been
    delivered before the listener is detached."""
    import threading

    from pyspark.sql.streaming import StreamingQueryListener

    class _Listener(StreamingQueryListener):
        def __init__(self):
            self.progress: list[tuple[int, int, dict]] = []
            self.terminated = threading.Event()

        def reset(self):
            self.progress = []
            self.terminated.clear()

        def onQueryStarted(self, event):
            pass

        def onQueryProgress(self, event):
            p = event.progress
            self.progress.append((p.batchId, p.numInputRows, dict(p.durationMs)))

        def onQueryIdle(self, event):
            pass

        def onQueryTerminated(self, event):
            self.terminated.set()

    return _Listener()
