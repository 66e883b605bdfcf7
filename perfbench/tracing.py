"""Spans, Spark job counters and process-tree memory for the benchmark.

Spans sit only at the benchmark's own calls into the engine's layers:
each has a name, start, end, parent span and job id, is kept in memory
and written out once when the run ends. A disabled tracer records
nothing, so the untimed bookkeeping of the untraced run is a few
attribute lookups per job.
"""

from __future__ import annotations

import json
import os
import threading
import time
from contextlib import contextmanager
from dataclasses import asdict, dataclass


@dataclass
class Span:
    name: str
    start: float
    end: float
    parent: int | None
    job: str | None


class Tracer:
    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[Span] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str, job: str | None = None):
        if not self.enabled:
            yield
            return
        parent = self._stack[-1] if self._stack else None
        if job is None and parent is not None:
            job = self.spans[parent].job
        sp = Span(name, time.perf_counter(), 0.0, parent, job)
        self.spans.append(sp)
        self._stack.append(len(self.spans) - 1)
        try:
            yield
        finally:
            self._stack.pop()
            sp.end = time.perf_counter()

    def self_times(self) -> dict[str, list[float]]:
        """Per span name, each span's duration minus the part of it
        that its child spans cover (children never overlap: one thread)."""
        child = [0.0] * len(self.spans)
        for sp in self.spans:
            if sp.parent is not None:
                child[sp.parent] += sp.end - sp.start
        out: dict[str, list[float]] = {}
        for i, sp in enumerate(self.spans):
            out.setdefault(sp.name, []).append(sp.end - sp.start - child[i])
        return out

    def durations(self, name: str) -> list[float]:
        return [sp.end - sp.start for sp in self.spans if sp.name == name]

    def dump(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as fh:
            json.dump({"spans": [asdict(s) for s in self.spans],
                       "self_time_s": {k: sum(v) for k, v
                                       in self.self_times().items()}},
                      fh)


def job_counters(sc, group: str) -> tuple[int, int, int]:
    """(stages, tasks, failed tasks) of every Spark job run under
    ``group``, read from the status tracker. Skipped stages (shuffle
    output reused from an earlier job) report no info and count as
    nothing."""
    st = sc.statusTracker()
    stages = tasks = failed = 0
    for jid in st.getJobIdsForGroup(group):
        info = st.getJobInfo(jid)
        if info is None:
            continue
        for sid in info.stageIds:
            si = st.getStageInfo(sid)
            if si is None:
                continue
            stages += 1
            tasks += si.numTasks
            failed += si.numFailedTasks
    return stages, tasks, failed


def _tree_pids(root: int) -> list[int]:
    """``root`` and all its descendants: this Python process, the JVM it
    launched and the JVM's Python workers."""
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as fh:
                ppid = int(fh.read().rsplit(")", 1)[1].split()[1])
        except OSError:
            continue  # exited while listing
        children.setdefault(ppid, []).append(int(name))
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, ()))
    return out


def _peak_rss_bytes(pid: int) -> int:
    """The kernel's high-water mark of the process's resident set."""
    try:
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) * 1024
    except OSError:
        pass  # exited
    return 0


class RssSampler:
    """Polls the process tree every ``interval`` seconds on a daemon
    thread. Each poll sums the resident high-water marks of the
    processes alive at that moment; ``peak`` is the largest sum. The
    kernel tracks each mark exactly, so a spike between polls still
    counts, while processes that never coexisted are not added up."""

    def __init__(self, interval: float = 0.5):
        self.interval = interval
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _poll(self) -> None:
        self.peak = max(self.peak, sum(
            _peak_rss_bytes(pid) for pid in _tree_pids(os.getpid())))

    def _run(self) -> None:
        while not self._stop.is_set():
            self._poll()
            self._stop.wait(self.interval)

    def start(self) -> "RssSampler":
        self._thread.start()
        return self

    def stop(self) -> int:
        self._stop.set()
        self._thread.join(timeout=5)
        self._poll()
        return self.peak
