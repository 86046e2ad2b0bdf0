"""In-memory spans around the benchmark's calls into the engine's layers,
Spark status-store counters per span, and process-tree peak RSS.

A span records its name, start, end and parent. With tracing off,
:meth:`Tracer.span` does nothing, so the untraced passes that give the
end-to-end numbers pay no cost. Spans that run Spark jobs get their own job
group; the counters of those jobs are read from the status store after the
pass, outside the timed region.
"""

from __future__ import annotations

import os
import time
from contextlib import contextmanager
from dataclasses import dataclass, field

#: counters summed over the stages of a span's job group
SPARK_COUNTERS = (
    "tasks",
    "executor_run_s",
    "executor_cpu_s",
    "gc_s",
    "shuffle_read_mb",
    "shuffle_write_mb",
    "spill_mb",
    "input_mb",
)


@dataclass
class Span:
    name: str
    start: float
    parent: int | None
    end: float = 0.0
    group: str | None = None
    spark: dict[str, float] = field(default_factory=dict)

    @property
    def layer(self) -> str:
        return self.name.split(".", 1)[0]

    @property
    def dur(self) -> float:
        return self.end - self.start


class Tracer:
    """Collects spans while ``enabled``; a disabled tracer records nothing."""

    def __init__(self, spark):
        self.spark = spark
        self.enabled = False
        self.spans: list[Span] = []
        self._stack: list[int] = []
        self._next_group = 0

    @contextmanager
    def span(self, name: str, *, jobs: bool = False):
        """Time the enclosed block as ``name``; with ``jobs`` the Spark jobs
        it starts run under a job group of their own."""
        if not self.enabled:
            yield
            return
        sid = len(self.spans)
        sp = Span(name, time.perf_counter(), self._stack[-1] if self._stack else None)
        self.spans.append(sp)
        self._stack.append(sid)
        sc = self.spark.sparkContext if jobs else None
        if sc is not None:
            sp.group = f"perfbench-{self._next_group}"
            self._next_group += 1
            sc.setJobGroup(sp.group, name)
        try:
            yield
        finally:
            if sc is not None:
                sc.setLocalProperty("spark.jobGroup.id", None)
                sc.setLocalProperty("spark.job.description", None)
            sp.end = time.perf_counter()
            self._stack.pop()

    def collect_spark(self, spans: list[Span]) -> None:
        """Fill ``span.spark`` for every grouped span from the status store."""
        sc = self.spark.sparkContext
        sc._jsc.sc().listenerBus().waitUntilEmpty()
        store = sc._jsc.sc().statusStore()
        tracker = sc.statusTracker()
        no_status = sc._jvm.java.util.ArrayList()
        no_quantiles = sc._gateway.new_array(sc._jvm.double, 0)
        for sp in spans:
            if sp.group is None or sp.spark:
                continue
            tot = dict.fromkeys(SPARK_COUNTERS, 0.0)
            for job_id in tracker.getJobIdsForGroup(sp.group):
                info = tracker.getJobInfo(job_id)
                if info is None:
                    continue
                for stage_id in info.stageIds:
                    attempts = store.stageData(
                        stage_id, False, no_status, False, no_quantiles
                    )
                    it = attempts.iterator()
                    while it.hasNext():
                        s = it.next()
                        if str(s.status()) == "SKIPPED":
                            continue
                        tot["tasks"] += s.numCompleteTasks() + s.numFailedTasks()
                        tot["executor_run_s"] += s.executorRunTime() / 1e3
                        tot["executor_cpu_s"] += s.executorCpuTime() / 1e9
                        tot["gc_s"] += s.jvmGcTime() / 1e3
                        tot["shuffle_read_mb"] += s.shuffleReadBytes() / 1e6
                        tot["shuffle_write_mb"] += s.shuffleWriteBytes() / 1e6
                        tot["spill_mb"] += s.diskBytesSpilled() / 1e6
                        tot["input_mb"] += s.inputBytes() / 1e6
            sp.spark = tot


def self_times(spans: list[Span], first: int = 0) -> dict[str, float]:
    """Self time per layer over ``spans[first:]``: each span's duration minus
    the part its children cover (children of one span run one after
    another, never overlapping). Parents are indices into ``spans``."""
    covered: dict[int, float] = {}
    for sp in spans[first:]:
        if sp.parent is not None:
            covered[sp.parent] = covered.get(sp.parent, 0.0) + sp.dur
    out: dict[str, float] = {}
    for i, sp in enumerate(spans[first:], first):
        out[sp.layer] = out.get(sp.layer, 0.0) + sp.dur - covered.get(i, 0.0)
    return out


def spark_totals(spans: list[Span]) -> dict[str, float]:
    tot = dict.fromkeys(SPARK_COUNTERS, 0.0)
    for sp in spans:
        for k, v in sp.spark.items():
            tot[k] += v
    return tot


def span_sum(spans: list[Span], name: str) -> float:
    return sum(sp.dur for sp in spans if sp.name == name)


def _children(pid: int) -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        kids.setdefault(ppid, []).append(int(entry))
    return kids


def tree_peak_rss_mb(pid: int) -> float:
    """Sum of peak RSS (VmHWM) over ``pid`` and all its descendants: the
    driver JVM and the Python workers it forked."""
    kids = _children(pid)
    total_kb = 0
    todo = [pid]
    while todo:
        p = todo.pop()
        todo.extend(kids.get(p, []))
        try:
            with open(f"/proc/{p}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        total_kb += int(line.split()[1])
                        break
        except OSError:
            continue
    return total_kb / 1024.0
