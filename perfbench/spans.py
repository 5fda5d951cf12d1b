"""Spans and counters recorded from outside the program.

A :class:`Tracer` opens a span around each call into a layer. Every span
instance runs its Spark jobs under its own job group, so after the run
the benchmark reads Spark's application status store and attributes
task time, shuffle, spill, output bytes and failed tasks to the span
that caused them. Spans are kept in memory; nothing is written while
the workload runs.

With tracing off, :meth:`Tracer.span` only yields: no job groups, no
timestamps, no status-store reads.
"""

from __future__ import annotations

import os
import statistics
import threading
import time
from contextlib import contextmanager
from dataclasses import dataclass, field
from pathlib import Path
from typing import Dict, List, Optional

MIB = 1024.0 * 1024.0


@dataclass
class Span:
    name: str
    op: int                  # the operation (build, resume, query) it belongs to
    parent: Optional[int]    # index of the enclosing span
    group: str               # Spark job group of the span's own jobs
    start: float
    end: float = 0.0
    rows_out: int = 0
    children_s: float = 0.0

    @property
    def wall_s(self) -> float:
        return self.end - self.start

    @property
    def self_s(self) -> float:
        return self.wall_s - self.children_s


@dataclass
class Tracer:
    spark: object
    enabled: bool
    spans: List[Span] = field(default_factory=list)
    _stack: List[int] = field(default_factory=list)
    op: int = 0
    # seconds spent in tracing code, per operation
    overhead: Dict[int, float] = field(default_factory=dict)

    def charge(self, t0: float) -> None:
        """Count the time since ``t0`` as tracing overhead."""
        self.overhead[self.op] = self.overhead.get(self.op, 0.0) + time.perf_counter() - t0

    def _set_group(self, group: Optional[str]) -> None:
        sc = self.spark.sparkContext
        if group is None:
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)
        else:
            sc.setJobGroup(group, group)

    def open(self, name: str) -> Optional[Span]:
        """Start a span under the innermost open one; pair with close()."""
        if not self.enabled:
            return None
        t0 = time.perf_counter()
        idx = len(self.spans)
        parent = self._stack[-1] if self._stack else None
        sp = Span(name, self.op, parent, f"pb:{idx}:{name}", 0.0)
        self.spans.append(sp)
        self._stack.append(idx)
        self._set_group(sp.group)
        sp.start = time.perf_counter()
        self.charge(t0)
        return sp

    def close(self) -> None:
        if not self.enabled:
            return
        sp = self.spans[self._stack.pop()]
        sp.end = t0 = time.perf_counter()
        if sp.parent is not None:
            self.spans[sp.parent].children_s += sp.wall_s
            self._set_group(self.spans[sp.parent].group)
        else:
            self._set_group(None)
        self.charge(t0)

    def innermost(self) -> Optional[Span]:
        return self.spans[self._stack[-1]] if self.enabled and self._stack else None

    @contextmanager
    def span(self, name: str):
        sp = self.open(name)
        try:
            yield sp
        finally:
            self.close()

    def next_op(self) -> None:
        self.op += 1


# ------------------------------------------------------------ status store


@dataclass
class StageCounters:
    task_s: float = 0.0
    tasks: int = 0
    failed_tasks: int = 0
    shuffle_mb: float = 0.0
    spill_mb: float = 0.0
    out_mb: float = 0.0
    input_rows: int = 0
    jobs: int = 0
    skew: float = 0.0


def _opt(x):
    return x.get() if x.isDefined() else None


def read_counters(spark) -> Dict[str, StageCounters]:
    """Per-job-group totals from the status store. ``skew`` is max over
    median task run time in the group's longest stage."""
    store = spark.sparkContext._jsc.sc().statusStore()
    jvm, gw = spark._jvm, spark.sparkContext._gateway
    as_java = jvm.scala.jdk.javaapi.CollectionConverters.asJava
    stage_groups: Dict[int, str] = {}
    out: Dict[str, StageCounters] = {}
    for j in as_java(store.jobsList(None)):
        g = _opt(j.jobGroup())
        if g is None or not g.startswith("pb:"):
            continue
        c = out.setdefault(g, StageCounters())
        c.jobs += 1
        for sid in as_java(j.stageIds()):
            stage_groups.setdefault(int(sid), g)
    longest: Dict[str, tuple] = {}
    no_quantiles = gw.new_array(jvm.double, 0)
    stages = store.stageList(None, False, False, no_quantiles, jvm.java.util.ArrayList())
    for s in as_java(stages):
        g = stage_groups.get(int(s.stageId()))
        if g is None:
            continue
        c = out[g]
        run_ms = float(s.executorRunTime())
        c.task_s += run_ms / 1000.0
        c.tasks += int(s.numCompleteTasks()) + int(s.numFailedTasks())
        c.failed_tasks += int(s.numFailedTasks())
        c.shuffle_mb += (s.shuffleWriteBytes() + s.shuffleReadBytes()) / MIB
        c.spill_mb += (s.memoryBytesSpilled() + s.diskBytesSpilled()) / MIB
        c.out_mb += s.outputBytes() / MIB
        c.input_rows += int(s.inputRecords())
        if run_ms > longest.get(g, (-1.0,))[0]:
            longest[g] = (run_ms, int(s.stageId()), int(s.attemptId()))
    qs = gw.new_array(jvm.double, 2)
    qs[0], qs[1] = 0.5, 1.0
    for g, (_, sid, att) in longest.items():
        summ = _opt(store.taskSummary(sid, att, qs))
        if summ is not None:
            rt = summ.executorRunTime()
            med, mx = float(rt.apply(0)), float(rt.apply(1))
            out[g].skew = mx / med if med > 0 else 1.0
    return out


# ------------------------------------------------------------- aggregation

SPAN_FIELDS = (
    "wall_s", "task_s", "jobs", "tasks", "failed_tasks",
    "shuffle_mb", "spill_mb", "out_mb", "rows_out", "skew",
)


def span_metrics(tracer: Tracer, counters, names, ops) -> Dict[str, float]:
    """``<span>.<field>`` per span name: summed over a span's instances
    within one operation, then the median over ``ops``; ``skew`` is the
    median over instances. Names with no instance in ``ops`` read 0."""
    per_op: Dict[str, Dict[int, Dict[str, float]]] = {n: {} for n in names}
    skews: Dict[str, List[float]] = {n: [] for n in names}
    for sp in tracer.spans:
        if sp.name not in per_op or sp.op not in ops:
            continue
        c = counters.get(sp.group, StageCounters())
        acc = per_op[sp.name].setdefault(sp.op, dict.fromkeys(SPAN_FIELDS, 0.0))
        acc["wall_s"] += sp.self_s
        acc["rows_out"] += sp.rows_out
        for f in ("task_s", "jobs", "tasks", "failed_tasks", "shuffle_mb",
                  "spill_mb", "out_mb"):
            acc[f] += getattr(c, f)
        if c.skew:
            skews[sp.name].append(c.skew)
    out: Dict[str, float] = {}
    for n in names:
        for f in SPAN_FIELDS:
            vals = [acc[f] for acc in per_op[n].values()]
            if f == "skew":
                vals = skews[n]
            out[f"{n}.{f}"] = statistics.median(vals) if vals else 0.0
    return out


def input_rows(tracer: Tracer, counters, op: int) -> int:
    """Rows read by scans in every span of one operation."""
    return sum(
        counters[sp.group].input_rows
        for sp in tracer.spans
        if sp.op == op and sp.group in counters
    )


# ------------------------------------------------------------------ memory


def _proc_children() -> Dict[int, List[int]]:
    kids: Dict[int, List[int]] = {}
    for p in Path("/proc").iterdir():
        if not p.name.isdigit():
            continue
        try:
            stat = (p / "stat").read_text()
        except OSError:
            continue
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        kids.setdefault(ppid, []).append(int(p.name))
    return kids


def children(pid: int) -> List[int]:
    """The processes whose parent is ``pid``."""
    return _proc_children().get(pid, [])


_PAGE_KIB = os.sysconf("SC_PAGE_SIZE") // 1024


def _rss_kib(pid: int) -> int:
    try:
        return int(Path(f"/proc/{pid}/statm").read_text().split()[1]) * _PAGE_KIB
    except (OSError, IndexError, ValueError):
        return 0  # exited since the listing


def descendants(pid: int) -> List[int]:
    """``pid`` and every process under it."""
    kids = _proc_children()
    todo, out = [pid], []
    while todo:
        p = todo.pop()
        out.append(p)
        todo.extend(kids.get(p, ()))
    return out


class PeakRss:
    """Peak of the summed RSS of the driver JVM and every process under
    it (the Python worker daemon and its workers), sampled every
    ``every_s`` seconds by a thread between :meth:`start` and
    :meth:`stop`. Workers that exit in between count while they live."""

    def __init__(self, spark, every_s: float = 0.1):
        self.pid = int(spark._jvm.java.lang.ProcessHandle.current().pid())
        self.every_s = every_s
        self.peak_kib = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        while True:
            self.peak_kib = max(self.peak_kib,
                                sum(_rss_kib(p) for p in descendants(self.pid)))
            if self._stop.wait(self.every_s):
                return

    def start(self) -> None:
        self._thread.start()

    def stop(self) -> float:
        """Stop sampling; the peak in MiB."""
        self._stop.set()
        self._thread.join()
        return self.peak_kib / 1024.0
