"""Outside-in measurement: nothing here touches the engine's code.

- :class:`ProcTree` reads CPU seconds and resident memory of the JVM and
  its Python workers from ``/proc``.
- :func:`gc_seconds` sums the JVM's garbage-collector MXBean times over
  py4j.
- :class:`Tracer` tags each span with its own Spark job group and, when
  the span ends, reads that group's jobs, stages and task counters from
  the application status store — the same store the Spark UI renders.
"""

from __future__ import annotations

import os
import time
from collections import defaultdict
from contextlib import contextmanager

from py4j.protocol import Py4JJavaError

_CLK = os.sysconf("SC_CLK_TCK")


def _stat(pid: int) -> list[str]:
    with open(f"/proc/{pid}/stat") as f:
        # the command name may hold spaces or parens: split after the last ')'
        return f.read().rsplit(")", 1)[1].split()


class ProcTree:
    """The process tree under ``root`` (the JVM in local mode runs every
    task; its ``pyspark.daemon`` subtree runs the Python/Arrow workers)."""

    def __init__(self, root: int):
        self.root = root

    def pids(self) -> list[int]:
        children: dict[int, list[int]] = defaultdict(list)
        for p in os.listdir("/proc"):
            if p.isdigit():
                try:
                    children[int(_stat(int(p))[1])].append(int(p))
                except (OSError, IndexError, ValueError):
                    pass  # exited mid-scan
        out, stack = [], [self.root]
        while stack:
            pid = stack.pop()
            out.append(pid)
            stack.extend(children.get(pid, ()))
        return out

    @staticmethod
    def _cpu(pids: list[int]) -> float:
        # utime + stime of live processes, plus cutime + cstime for the
        # already-reaped children each of them waited for
        total = 0.0
        for pid in pids:
            try:
                f = _stat(pid)
                total += sum(int(v) for v in f[11:15]) / _CLK
            except (OSError, IndexError, ValueError):
                pass
        return total

    def cpu_s(self) -> float:
        return self._cpu(self.pids())

    def worker_cpu_s(self) -> float:
        """CPU of the ``pyspark.daemon`` subtrees (pandas-UDF / Arrow work)."""
        total = 0.0
        for pid in self.pids():
            try:
                with open(f"/proc/{pid}/cmdline", "rb") as f:
                    if b"pyspark.daemon" in f.read():
                        total += ProcTree(pid).cpu_s()
            except OSError:
                pass
        return total

    def peak_rss_mb(self) -> float:
        """Sum of each member's high-water resident set (VmHWM)."""
        total_kb = 0
        for pid in self.pids():
            try:
                with open(f"/proc/{pid}/status") as f:
                    for line in f:
                        if line.startswith("VmHWM:"):
                            total_kb += int(line.split()[1])
            except OSError:
                pass
        return total_kb / 1024.0


def gc_seconds(sc) -> float:
    beans = sc._jvm.java.lang.management.ManagementFactory.getGarbageCollectorMXBeans()
    return sum(b.getCollectionTime() for b in beans) / 1000.0


class Span:
    __slots__ = ("name", "wall", "child_wall", "jobs", "tasks", "failed_tasks",
                 "run_ms", "cpu_ns", "shuffle_bytes", "spill_bytes")

    def __init__(self, name: str):
        self.name = name
        self.wall = self.child_wall = 0.0
        self.jobs = self.tasks = self.failed_tasks = 0
        self.run_ms = self.cpu_ns = self.shuffle_bytes = self.spill_bytes = 0

    @property
    def self_s(self) -> float:
        return self.wall - self.child_wall


class Tracer:
    """Nested timing spans, each with the Spark work it launched itself.

    A span's counters cover only the jobs submitted while it was the
    innermost open span (its *self* work); sum a root span's subtree for
    the whole operation.  Each stage is counted once, by the first span
    that sees it, so a skipped or re-used stage is never double counted.
    """

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.spans: list[Span] = []
        self._stack: list[tuple[Span, str]] = []
        self._seen_stages: set[int] = set()
        self._n = 0

    @contextmanager
    def span(self, name: str):
        self._n += 1
        group = f"perfbench-{self._n}"
        s = Span(name)
        self._stack.append((s, group))
        self.sc.setJobGroup(group, name)
        t0 = time.perf_counter()
        try:
            yield s
        finally:
            s.wall = time.perf_counter() - t0
            self._stack.pop()
            if self._stack:
                parent, parent_group = self._stack[-1]
                parent.child_wall += s.wall
                self.sc.setJobGroup(parent_group, parent.name)
            else:
                self.sc.setLocalProperty("spark.jobGroup.id", None)
            self._collect(s, group)
            self.spans.append(s)

    def _collect(self, s: Span, group: str) -> None:
        jsc = self.sc._jsc.sc()
        jsc.listenerBus().waitUntilEmpty()
        store = jsc.statusStore()
        tracker = self.sc.statusTracker()
        for job in tracker.getJobIdsForGroup(group):
            s.jobs += 1
            info = tracker.getJobInfo(job)
            for sid in info.stageIds if info else ():
                if sid in self._seen_stages:
                    continue
                try:
                    st = store.lastStageAttempt(sid)
                except Py4JJavaError:
                    continue  # no attempt recorded: the stage never ran
                if st.status().toString() == "SKIPPED":
                    continue
                self._seen_stages.add(sid)
                s.tasks += st.numTasks()
                s.failed_tasks += st.numFailedTasks()
                s.run_ms += st.executorRunTime()
                s.cpu_ns += st.executorCpuTime()
                s.shuffle_bytes += st.shuffleReadBytes() + st.shuffleWriteBytes()
                s.spill_bytes += st.memoryBytesSpilled() + st.diskBytesSpilled()

    def take(self) -> list[Span]:
        """Return and forget the spans closed since the last call."""
        out, self.spans = self.spans, []
        return out
