"""Spans, Spark job counts and the host record for one benchmark run.

Spans are recorded from the benchmark's own files, around each call
into an engine layer: (name, start, end, parent). They stay in memory
and are written once, when the run ends.

Job, stage and task counts come from Spark's public status tracker:
the job ids it knows before and after a call are diffed, and since the
driver is single-threaded the difference belongs to that call. Jobs run
inside a streaming ``foreachBatch`` carry the stream's run id as their
job group, so the group of the calling thread is diffed too. Stages a
job skipped (reused shuffle output) report no completed task and are
not counted, so the counts repeat exactly for the same inputs.
"""

from __future__ import annotations

import contextlib
import json
import os
import statistics
import time
from collections import defaultdict

CLK_TCK = os.sysconf("SC_CLK_TCK")


class Tracer:
    """Per-run span and counter store. With ``enabled`` false every
    method is a pass-through, so the untraced run pays one branch per
    call and never waits on Spark's listener bus."""

    def __init__(self, spark, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self.durations: dict[str, list[float]] = defaultdict(list)
        self.counts: dict[str, list[dict]] = defaultdict(list)
        self._stack: list[int] = []
        self._sc = spark.sparkContext
        self._status = self._sc.statusTracker()

    def reset(self) -> None:
        """Forget everything recorded so far (the warm-up's spans)."""
        self.spans.clear()
        self.durations.clear()
        self.counts.clear()

    # -- spans ---------------------------------------------------------------

    @contextlib.contextmanager
    def span(self, name: str, jobs: bool = False):
        """Record a span named ``name``; with ``jobs`` also the Spark
        jobs, stages and tasks the enclosed call ran."""
        if not self.enabled:
            yield
            return
        before = self._job_ids() if jobs else None
        sid = len(self.spans)
        parent = self._stack[-1] if self._stack else None
        self._stack.append(sid)
        self.spans.append({"name": name, "start": time.perf_counter(), "end": None,
                           "parent": parent})
        try:
            yield
        finally:
            end = time.perf_counter()
            self._stack.pop()
            self.spans[sid]["end"] = end
            self.durations[name].append(end - self.spans[sid]["start"])
            if before is not None:
                c = self._job_counts(before)
                self.spans[sid].update(c)
                self.counts[name].append(c)

    def _group_ids(self) -> set[int]:
        ids = set(self._status.getJobIdsForGroup())
        group = self._sc.getLocalProperty("spark.jobGroup.id")
        if group:
            ids |= set(self._status.getJobIdsForGroup(group))
        return ids

    def _flush(self) -> None:
        # the status store is fed asynchronously by the listener bus;
        # drain it so the diff sees every job the call ran, completed
        self._sc._jsc.sc().listenerBus().waitUntilEmpty()

    def _job_ids(self) -> set[int]:
        self._flush()
        return self._group_ids()

    def _job_counts(self, before: set[int]) -> dict:
        self._flush()
        jobs = sorted(self._group_ids() - before)
        stages = tasks = 0
        seen: set[int] = set()
        for j in jobs:
            info = self._status.getJobInfo(j)
            for s in (info.stageIds if info else ()):
                si = self._status.getStageInfo(s)
                if s in seen or si is None or si.numCompletedTasks == 0:
                    continue
                seen.add(s)
                stages += 1
                tasks += si.numCompletedTasks
        return {"jobs": len(jobs), "stages": stages, "tasks": tasks}

    # -- summaries -----------------------------------------------------------

    def p50(self, name: str) -> float:
        d = self.durations.get(name)
        return statistics.median(d) if d else 0.0

    def per_call(self, name: str, field: str) -> float:
        """Mean count per call of span ``name`` (exact: counts are
        integers and repeat for the same inputs)."""
        c = self.counts.get(name)
        return sum(x[field] for x in c) / len(c) if c else 0.0

    def write(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as fh:
            json.dump({"spans": self.spans}, fh)


# -- host record -------------------------------------------------------------


def steal_ticks() -> int:
    """Host-wide steal time in clock ticks (/proc/stat, all CPUs)."""
    with open("/proc/stat") as fh:
        return int(fh.readline().split()[8])


def _proc_stat(pid: str) -> tuple[int, int] | None:
    """(ppid, utime + stime + waited-for children) of a live process."""
    try:
        with open(f"/proc/{pid}/stat") as fh:
            raw = fh.read()
    except OSError:
        return None
    fields = raw[raw.rindex(")") + 2:].split()
    return int(fields[1]), sum(int(x) for x in fields[11:15])


def tree_cpu_ticks(root: int | None = None) -> int:
    """CPU ticks used so far by ``root`` (default: this process) and
    every live descendant: the Spark JVM and its Python workers."""
    root = root or os.getpid()
    stats = {}
    for pid in os.listdir("/proc"):
        if pid.isdigit():
            s = _proc_stat(pid)
            if s is not None:
                stats[int(pid)] = s
    children = defaultdict(list)
    for pid, (ppid, _) in stats.items():
        children[ppid].append(pid)
    total, todo = 0, [root]
    while todo:
        pid = todo.pop()
        if pid in stats:
            total += stats[pid][1]
        todo.extend(children.get(pid, ()))
    return total


def other_spark_jvms() -> int:
    """Spark JVMs running on the host (call before starting our own)."""
    n = 0
    for pid in os.listdir("/proc"):
        if not pid.isdigit():
            continue
        try:
            with open(f"/proc/{pid}/cmdline", "rb") as fh:
                argv = fh.read().split(b"\0")
        except OSError:
            continue
        if os.path.basename(argv[0]) == b"java" and any(
                a.startswith(b"org.apache.spark.") for a in argv):
            n += 1
    return n


def host_ref_s(repeats: int = 5) -> float:
    """Median time of a fixed single-threaded computation: the host's
    speed at that moment, so drift between runs shows next to them."""
    times = []
    for _ in range(repeats):
        t0 = time.perf_counter()
        sum(i * i for i in range(1_000_000))
        times.append(time.perf_counter() - t0)
    return statistics.median(times)


class HostMeter:
    """Steal and process-tree CPU seconds summed over timed regions."""

    def __init__(self):
        self.cpu_s = 0.0
        self.steal_s = 0.0
        self._start: tuple[int, int] | None = None

    def start(self) -> None:
        self._start = (tree_cpu_ticks(), steal_ticks())

    def stop(self) -> None:
        cpu0, steal0 = self._start
        self.cpu_s += (tree_cpu_ticks() - cpu0) / CLK_TCK
        self.steal_s += (steal_ticks() - steal0) / CLK_TCK
        self._start = None
