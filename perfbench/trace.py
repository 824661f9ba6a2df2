"""Spans and counters for the traced run.

A span records a layer boundary crossed by the benchmark: its name, start,
end and the span that was open when it began. Each span also carries the
delta of Spark's status-store counters over the stages that ran inside it
and the CPU time of the driver JVM plus its Python workers. Spans stay in
memory; ``Tracer.spans`` is read when the run ends.

Spark stages are sampled by id: ``DAGScheduler.nextStageId`` is read at the
span's start and end, and the status store is asked for every stage in that
range, so stage eviction (``spark.ui.retainedStages`` is raised by the
session set-up) cannot drop stages from a long span.
"""

from __future__ import annotations

import os
import statistics
import threading
import time
from contextlib import contextmanager, nullcontext

_CLK_TCK = os.sysconf("SC_CLK_TCK")


def _proc_table() -> dict[int, int]:
    """pid -> ppid for every process visible in /proc."""
    out = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        # the command name may hold spaces and parentheses: split after it
        fields = stat[stat.rfind(")") + 2 :].split()
        out[int(entry)] = int(fields[1])
    return out


def process_tree(root_pid: int) -> list[int]:
    """root_pid and all of its descendants (the JVM and its Python workers)."""
    children: dict[int, list[int]] = {}
    for pid, ppid in _proc_table().items():
        children.setdefault(ppid, []).append(pid)
    tree, todo = [], [root_pid]
    while todo:
        pid = todo.pop()
        tree.append(pid)
        todo.extend(children.get(pid, []))
    return tree


def tree_cpu_s(root_pid: int) -> float:
    """User + system CPU seconds used so far by the process tree."""
    total = 0
    for pid in process_tree(root_pid):
        try:
            with open(f"/proc/{pid}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        fields = stat[stat.rfind(")") + 2 :].split()
        total += int(fields[11]) + int(fields[12])  # utime, stime
    return total / _CLK_TCK


def tree_peak_rss_mb(root_pid: int) -> float:
    """Sum of each live process's peak resident set (VmHWM) in the tree."""
    total_kb = 0
    for pid in process_tree(root_pid):
        try:
            with open(f"/proc/{pid}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        total_kb += int(line.split()[1])
                        break
        except OSError:
            continue
    return total_kb / 1024.0


class StageCounters:
    """Reads per-stage metrics from Spark's status store (works with the UI
    disabled) for the stages whose ids fall in a range."""

    FIELDS = (
        "run_ms", "cpu_ns", "gc_ms", "shuffle_read_b", "shuffle_write_b",
        "spill_b", "output_b", "stages",
    )

    def __init__(self, spark):
        sc = spark.sparkContext
        self._gw = sc._gateway
        self._jsc = sc._jsc.sc()
        self._store = self._jsc.statusStore()

    def next_stage_id(self) -> int:
        return int(self._jsc.dagScheduler().nextStageId())

    def _settle(self) -> None:
        # stage-completion events reach the status store through the async
        # listener bus; drain it before reading
        self._jsc.listenerBus().waitUntilEmpty()

    def _stages(self, lo: int, hi: int) -> list:
        self._settle()
        seq = self._store.stageList(
            None, False, False, self._gw.new_array(self._gw.jvm.double, 0), None
        )
        return [
            s for s in (seq.apply(i) for i in range(seq.size()))
            if lo <= s.stageId() < hi
        ]

    def delta(self, lo: int, hi: int) -> dict:
        """Summed counters of stages [lo, hi), plus the task-time skew
        (max / median task run time) of the stage that ran longest."""
        out = dict.fromkeys(self.FIELDS, 0)
        heaviest = None
        for s in self._stages(lo, hi):
            out["run_ms"] += s.executorRunTime()
            out["cpu_ns"] += s.executorCpuTime()
            out["gc_ms"] += s.jvmGcTime()
            out["shuffle_read_b"] += s.shuffleReadBytes()
            out["shuffle_write_b"] += s.shuffleWriteBytes()
            out["spill_b"] += s.memoryBytesSpilled() + s.diskBytesSpilled()
            out["output_b"] += s.outputBytes()
            out["stages"] += 1
            if heaviest is None or s.executorRunTime() > heaviest.executorRunTime():
                heaviest = s
        out["task_skew"] = self._task_skew(heaviest) if heaviest is not None else 0.0
        return out

    def _task_skew(self, stage) -> float:
        tasks = self._store.taskList(stage.stageId(), stage.attemptId(), 1 << 30)
        times = []
        for i in range(tasks.size()):
            m = tasks.apply(i).taskMetrics()
            if m.isDefined():
                times.append(m.get().executorRunTime())
        med = statistics.median(times) if times else 0
        return max(times) / med if med else 1.0


class Tracer:
    """Collects spans. Thread-safe: the crawl writes its tables from a
    thread pool, so several ``catalog.stage`` spans can be open at once;
    those spans record durations only (``counters=False``), because stage
    ranges of overlapping spans would count each stage more than once."""

    def __init__(self, spark, jvm_pid: int):
        self.spans: list[dict] = []
        # wall time spent in the tracer's own bookkeeping, outside span bodies
        self.self_s = 0.0
        self._counters = StageCounters(spark)
        self._jvm_pid = jvm_pid
        self._local = threading.local()
        self._lock = threading.Lock()

    @contextmanager
    def span(self, name: str, counters: bool = True):
        t0 = time.perf_counter()
        parent = getattr(self._local, "current", None)
        rec = {"name": name, "parent": parent["name"] if parent else None}
        self._local.current = rec
        if counters:
            s0, cpu0 = self._counters.next_stage_id(), tree_cpu_s(self._jvm_pid)
        rec["start"] = time.perf_counter()
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            if counters:
                rec["cpu_s"] = tree_cpu_s(self._jvm_pid) - cpu0
                rec.update(self._counters.delta(s0, self._counters.next_stage_id()))
            self._local.current = parent
            with self._lock:
                self.spans.append(rec)
                self.self_s += (rec["start"] - t0) + (time.perf_counter() - rec["end"])

    def named(self, name: str) -> list[dict]:
        return [s for s in self.spans if s["name"] == name]

    def total(self, name: str, key: str | None = None) -> float:
        """Summed duration (or summed ``key``) of every span called name."""
        spans = self.named(name)
        if key is None:
            return sum(s["end"] - s["start"] for s in spans)
        return sum(s.get(key, 0) for s in spans)


def spark_metrics(delta: dict, wall_s: float, cores: int) -> dict:
    """The run-wide Spark counters every workload reports, from one span's
    status-store delta."""
    return {
        "spark.cpu_util": delta["cpu_ns"] / 1e9 / (wall_s * cores) if wall_s else 0.0,
        "spark.gc_s": delta["gc_ms"] / 1000.0,
        "spark.spill_mb": delta["spill_b"] / 2**20,
        "spark.shuffle_mb": delta["shuffle_write_b"] / 2**20,
    }


def maybe_span(tracer: Tracer | None, name: str):
    """``tracer.span(name)``, or nothing when the operation is untraced."""
    return nullcontext() if tracer is None else tracer.span(name)
