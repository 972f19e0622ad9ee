"""Measurement helpers: in-memory spans, process-tree memory sampling
and Spark scheduler counters.

Spans are recorded by the benchmark around its calls into the engine's
public functions; the engine itself is not instrumented.
"""

from __future__ import annotations

import json
import os
import threading
import time
from contextlib import contextmanager


class Tracer:
    """Spans kept in memory: name, start, end, parent span id, op id.

    A disabled tracer records nothing, so the untraced pass pays only
    for the `with` statement."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self.op = None
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str, **attrs):
        if not self.enabled:
            yield None
            return
        rec = {"id": len(self.spans), "name": name,
               "parent": self._stack[-1] if self._stack else None,
               "op": self.op, "start": time.perf_counter(), "end": None,
               **attrs}
        self.spans.append(rec)
        self._stack.append(rec["id"])
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()

    def self_times(self) -> dict[int, float]:
        """Span id -> duration minus the time its children cover.
        Children of one span run one after another on the benchmark's
        single thread, so their durations do not overlap."""
        out = {s["id"]: s["end"] - s["start"] for s in self.spans}
        for s in self.spans:
            if s["parent"] is not None:
                out[s["parent"]] -= s["end"] - s["start"]
        return out

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps(s) + "\n")


PAGE_KIB = os.sysconf("SC_PAGE_SIZE") // 1024


def _children() -> dict[int, list[int]]:
    """Parent pid -> child pids, from /proc."""
    children: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                stat = f.read()
        except OSError:
            continue  # exited while we looked
        # field 4 (ppid) follows the parenthesised command name
        ppid = int(stat[stat.rindex(")") + 2:].split()[1])
        children.setdefault(ppid, []).append(int(d))
    return children


def descendants(root: int) -> list[int]:
    """`root` and every process below it."""
    children = _children()
    out, todo = [], [root]
    while todo:
        p = todo.pop()
        out.append(p)
        todo.extend(children.get(p, ()))
    return out


def _rss_kib(pids: list[int]) -> int:
    total = 0
    for p in pids:
        try:
            with open(f"/proc/{p}/statm") as f:
                total += int(f.read().split()[1]) * PAGE_KIB
        except (OSError, IndexError, ValueError):
            pass  # exited
    return total


class RssSampler:
    """Samples the resident memory of a process tree every `interval`
    seconds on a background thread; `peak_mib()` returns the largest sum
    seen since `reset()`. The tree is listed again every `rescan`
    seconds (a scan of all of /proc), so a sample reads only the
    members' statm and takes little of the sampled process's time."""

    def __init__(self, root_pid: int, interval: float = 0.05,
                 rescan: float = 1.0):
        self.root_pid = root_pid
        self.interval = interval
        self.rescan = rescan
        self._peak = 0
        self._lock = threading.Lock()
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def __enter__(self) -> "RssSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=5)

    def _run(self) -> None:
        pids, next_scan = [], 0.0
        while not self._stop.is_set():
            if time.monotonic() >= next_scan:
                pids = descendants(self.root_pid)
                next_scan = time.monotonic() + self.rescan
            kib = _rss_kib(pids)
            with self._lock:
                self._peak = max(self._peak, kib)
            self._stop.wait(self.interval)

    def reset(self) -> None:
        with self._lock:
            self._peak = _rss_kib(descendants(self.root_pid))

    def peak_mib(self) -> float:
        with self._lock:
            return self._peak / 1024.0


def spark_counts(sc, group: str, timeout: float = 5.0) -> dict[str, int]:
    """Jobs, stages, tasks and failed tasks that ran under job group
    `group`, from the status tracker. The tracker is fed by Spark's
    asynchronous listener bus, so wait until every job of the group
    has reached a final state."""
    st = sc.statusTracker()
    deadline = time.monotonic() + timeout
    while True:
        jobs = [st.getJobInfo(j) for j in st.getJobIdsForGroup(group)]
        if all(j is not None and j.status in ("SUCCEEDED", "FAILED")
               for j in jobs) or time.monotonic() > deadline:
            break
        time.sleep(0.05)
    stages = {sid for j in jobs if j is not None for sid in j.stageIds}
    infos = [st.getStageInfo(s) for s in stages]
    infos = [i for i in infos if i is not None]
    return {"jobs": len(jobs), "stages": len(infos),
            "tasks": sum(i.numCompletedTasks for i in infos),
            "failed_tasks": sum(i.numFailedTasks for i in infos)}
