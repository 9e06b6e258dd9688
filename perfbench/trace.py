"""Spans around the benchmark's calls into each engine layer.

Every layer call is wrapped in a span (name, start, end, parent), kept in
memory and written out when the run ends. Wall times, and the CPU time of
the driver process tree (the Spark JVM and its Python workers), come from
the spans in every run. A traced run (``counters=True``) also diffs Spark's status
store around each span: jobs, stages, tasks, failed tasks, shuffle bytes
and executor run time of the stages the call started. The cost of that
diffing is accumulated in ``overhead_s`` and kept out of span wall times.
"""

from __future__ import annotations

import json
import os
import time
from contextlib import contextmanager
from dataclasses import asdict, dataclass, field

from perfbench.stats import driver_share

_RAN = ("COMPLETE", "FAILED")


@dataclass
class Span:
    name: str
    start: float
    end: float = 0.0
    parent: int | None = None
    cpu_start: float = 0.0
    cpu_end: float = 0.0
    counters: dict[str, float] = field(default_factory=dict)

    @property
    def wall_s(self) -> float:
        return self.end - self.start

    @property
    def cpu_s(self) -> float:
        return self.cpu_end - self.cpu_start


class StageCounters:
    """Reads Spark's status store, which keeps working with the UI off.

    ``stageList`` returns stages newest first, so a diff walks only the
    stages started since the snapshot. The session must retain every
    stage and job (``spark.ui.retainedStages``/``retainedJobs``), so
    that none of a call's stages is evicted before it is read."""

    def __init__(self, spark):
        sc = spark.sparkContext
        self._sc = sc
        self._jsc = sc._jsc.sc()
        self._store = self._jsc.statusStore()
        self._jvm = sc._jvm
        self._no_quantiles = sc._gateway.new_array(self._jvm.double, 0)

    def _stages(self):
        jlist = self._jvm.java.util.ArrayList
        return self._store.stageList(jlist(), False, False, self._no_quantiles, jlist())

    def _jobs(self):
        return self._store.jobsList(self._jvm.java.util.ArrayList())

    def snapshot(self) -> tuple[int, int]:
        """(newest stage id, number of jobs) so far."""
        self._jsc.listenerBus().waitUntilEmpty()
        stages = self._stages()
        top_stage = stages.head().stageId() if stages.size() else -1
        return top_stage, self._jobs().size()

    def since(self, snap: tuple[int, int]) -> dict[str, float]:
        """Totals over the stages and jobs started after ``snap``."""
        self._jsc.listenerBus().waitUntilEmpty()
        top_stage, n_jobs = snap
        out = dict.fromkeys(
            ("stages", "tasks", "task_failures", "shuffle_write_mb",
             "shuffle_read_mb", "executor_run_s"), 0.0,
        )
        it = self._stages().iterator()
        while it.hasNext():
            st = it.next()
            if st.stageId() <= top_stage:
                break
            if st.status().toString() not in _RAN:
                continue  # skipped: its shuffle output was reused
            out["stages"] += 1
            out["tasks"] += st.numCompleteTasks() + st.numFailedTasks()
            out["task_failures"] += st.numFailedTasks()
            out["shuffle_write_mb"] += st.shuffleWriteBytes() / 2**20
            out["shuffle_read_mb"] += st.shuffleReadBytes() / 2**20
            out["executor_run_s"] += st.executorRunTime() / 1000.0
        # retention is unbounded, so the job count only grows
        out["jobs"] = float(self._jobs().size() - n_jobs)
        return out


class Tracer:
    def __init__(self, counters: bool, cores: int):
        self.counters = counters
        self.cores = cores
        self.spans: list[Span] = []
        self.overhead_s = 0.0
        self._open: list[int] = []
        self._stage_counters: StageCounters | None = None

    def attach(self, spark) -> None:
        """Start reading Spark counters (traced runs only)."""
        if self.counters:
            self._stage_counters = StageCounters(spark)

    @contextmanager
    def span(self, name: str):
        t0 = time.perf_counter()
        snap = self._stage_counters.snapshot() if self._stage_counters else (-1, 0)
        parent = self._open[-1] if self._open else None
        cpu = tree_cpu_s(os.getpid())
        s = Span(name, time.perf_counter(), parent=parent, cpu_start=cpu)
        self.spans.append(s)
        self._open.append(len(self.spans) - 1)
        self.overhead_s += s.start - t0
        try:
            yield s
        finally:
            s.end = time.perf_counter()
            s.cpu_end = tree_cpu_s(os.getpid())
            self._open.pop()
            # a span that attaches the counters (the session) counts from
            # the application's first stage and job: its snapshot is (-1, 0)
            if self._stage_counters is not None:
                s.counters = self._stage_counters.since(snap)
                s.counters["wall_s"] = s.wall_s
                s.counters["cpu_s"] = s.cpu_s
                s.counters["driver_share"] = driver_share(
                    s.wall_s, s.counters["executor_run_s"], self.cores
                )
            self.overhead_s += time.perf_counter() - s.end

    def children(self, root: Span) -> list[Span]:
        idx = self.spans.index(root)
        return [s for s in self.spans if s.parent == idx]

    def write(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as fh:
            json.dump([asdict(s) for s in self.spans], fh)


def peak_rss_mb(pids: list[int]) -> float:
    """Sum of the peak resident set (VmHWM) of the given processes."""
    total_kb = 0
    for pid in pids:
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith("VmHWM:"):
                    total_kb += int(line.split()[1])
    return total_kb / 1024.0


def cpu_steal() -> tuple[int, int]:
    """(stolen, total) CPU ticks of this machine so far, from /proc/stat:
    the time a hypervisor ran other guests on our virtual CPUs."""
    with open("/proc/stat") as fh:
        ticks = [int(x) for x in fh.readline().split()[1:]]
    return ticks[7], sum(ticks[:8])


_TICK = os.sysconf("SC_CLK_TCK")


def tree_cpu_s(root: int) -> float:
    """CPU seconds (user + system) used so far by ``root`` and all its
    descendants (for the driver: the Spark JVM and its Python workers),
    including exited children their parents reaped. Time the hypervisor
    gave other guests is not in it."""
    stats: dict[int, list[str]] = {}
    for d in os.listdir("/proc"):
        if d.isdigit():
            try:
                with open(f"/proc/{d}/stat") as fh:
                    stats[int(d)] = fh.read().rsplit(")", 1)[1].split()
            except OSError:
                continue
    children: dict[int, list[int]] = {}
    for pid, f in stats.items():
        children.setdefault(int(f[1]), []).append(pid)
    ticks, todo = 0, [root] if root in stats else []
    while todo:
        pid = todo.pop()
        f = stats[pid]
        # fields after the command: utime, stime, cutime, cstime at 11..14
        ticks += int(f[11]) + int(f[12]) + int(f[13]) + int(f[14])
        todo.extend(children.get(pid, []))
    return ticks / _TICK
