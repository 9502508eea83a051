"""Measurement helpers: in-memory spans, Spark stage metrics and the
peak resident memory of the engine's processes.

Spans are recorded only by the benchmark's own code, around its calls
into the package's layers; the package itself is not instrumented.
"""

from __future__ import annotations

import contextlib
import os
import threading
import time

_STAGE_FIELDS = (
    "numTasks",
    "numFailedTasks",
    "executorRunTime",
    "jvmGcTime",
    "inputRecords",
    "shuffleReadBytes",
    "shuffleWriteBytes",
    "diskBytesSpilled",
)


class Tracer:
    """Spans (id, parent, name, start, end) kept in memory. A disabled
    tracer records nothing, so untraced runs pay only a no-op context
    manager per call site."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextlib.contextmanager
    def span(self, name: str, **attrs):
        if not self.enabled:
            yield None
            return
        rec = {
            "id": len(self.spans),
            "parent": self._stack[-1] if self._stack else None,
            "name": name,
            "start": time.perf_counter(),
            "end": None,
            **attrs,
        }
        self.spans.append(rec)
        self._stack.append(rec["id"])
        try:
            yield rec
        finally:
            self._stack.pop()
            rec["end"] = time.perf_counter()


class StageMetrics:
    """Sums of Spark's per-stage task metrics over the jobs of one job
    group, read from the application status store (which is kept with
    the UI disabled). ``start`` tags the jobs that follow with a fresh
    group; ``read`` sums the stages those jobs ran."""

    def __init__(self, spark):
        self._sc = spark.sparkContext
        self._jsc = self._sc._jsc.sc()
        self._store = self._jsc.statusStore()
        self._groups = 0

    def start(self) -> str:
        self._groups += 1
        group = f"perfbench-{self._groups}"
        self._sc.setJobGroup(group, group)
        return group

    def read(self, group: str) -> dict[str, int]:
        from py4j.protocol import Py4JJavaError

        self._jsc.listenerBus().waitUntilEmpty()
        tracker = self._sc.statusTracker()
        stage_ids = set()
        for job_id in tracker.getJobIdsForGroup(group):
            info = tracker.getJobInfo(job_id)
            if info is not None:
                stage_ids.update(info.stageIds)
        out = dict.fromkeys(_STAGE_FIELDS, 0)
        for sid in sorted(stage_ids):
            try:
                stage = self._store.lastStageAttempt(sid)
            except Py4JJavaError:  # skipped stage: its shuffle output was reused
                continue
            for f in _STAGE_FIELDS:
                out[f] += int(getattr(stage, f)())
        return out


def _child_map() -> dict[int, list[tuple[int, str]]]:
    """ppid -> (pid, command name) of its children, from one pass over
    /proc."""
    out: dict[int, list[tuple[int, str]]] = {}
    for entry in os.listdir("/proc"):
        if entry.isdigit():
            try:
                with open(f"/proc/{entry}/stat") as f:
                    head, tail = f.read().rsplit(")", 1)
                ppid = int(tail.split()[1])
            except (OSError, ValueError, IndexError):
                continue
            out.setdefault(ppid, []).append((int(entry), head.split("(", 1)[1]))
    return out


def _vm_hwm_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


class PeakRss:
    """Polls ``VmHWM`` of the JVM and every process below it (the Python
    worker daemon and its workers) from a background thread, keeping
    each process's high-water mark; ``mb()`` is their sum. On entry the
    kernel's high-water marks are reset to the current RSS, so earlier
    work (the output check) counts only with the memory it still holds."""

    def __init__(self, jvm_pid: int, interval_s: float = 0.5):
        self._root = jvm_pid
        self._interval = interval_s
        self._peak: dict[int, int] = {}
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _tree(self) -> list[int]:
        children = _child_map()
        out, todo = [], [self._root]
        while todo:
            pid = todo.pop()
            out.append(pid)
            # A child still named "java" is the JVM's spawn of a worker
            # before its exec: it shares the JVM's memory, and counting
            # it would count the JVM twice.
            todo.extend(c for c, comm in children.get(pid, ()) if comm != "java")
        return out

    def _sample(self) -> None:
        for pid in self._tree():
            self._peak[pid] = max(self._peak.get(pid, 0), _vm_hwm_kb(pid))

    def _run(self) -> None:
        while not self._stop.wait(self._interval):
            self._sample()

    def __enter__(self):
        for pid in self._tree():
            try:
                with open(f"/proc/{pid}/clear_refs", "w") as f:
                    f.write("5")  # proc(5): reset the peak RSS
            except OSError:
                pass  # the process has exited
        self._sample()
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join()
        self._sample()

    def mb(self) -> float:
        return sum(self._peak.values()) / 1024.0
