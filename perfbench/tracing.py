"""Spans, Spark job/stage accounting and process-tree memory sampling.

Spans are recorded by the benchmark around its calls into each layer of
the program (name, start, end, parent, counts), kept in memory, and
written out as JSON when the run ends.
"""

from __future__ import annotations

import contextlib
import itertools
import os
import threading
import time


class Tracer:
    def __init__(self) -> None:
        self.spans: list[dict] = []
        self._ids = itertools.count(1)
        self._stack: list[int] = []

    @contextlib.contextmanager
    def span(self, name: str, **counts):
        sid = next(self._ids)
        rec = {"id": sid, "name": name,
               "parent": self._stack[-1] if self._stack else None,
               "start": time.monotonic(), "end": None, "counts": dict(counts)}
        self.spans.append(rec)
        self._stack.append(sid)
        try:
            yield rec["counts"]
        finally:
            self._stack.pop()
            rec["end"] = time.monotonic()

    def add(self, name: str, start: float, end: float, **counts) -> None:
        """A span timed elsewhere (inside a streaming micro-batch)."""
        self.spans.append({"id": next(self._ids), "name": name,
                           "parent": None, "start": start, "end": end,
                           "counts": dict(counts)})

    def durations(self, name: str) -> list[float]:
        return [s["end"] - s["start"] for s in self.spans
                if s["name"] == name and s["end"] is not None]

    def counts(self, name: str, key: str) -> list:
        return [s["counts"][key] for s in self.spans
                if s["name"] == name and key in s["counts"]]


def spark_group_metrics(spark, group: str) -> dict:
    """Jobs, stages and task metrics of every job run under ``group``
    (``SparkContext.setJobGroup``), from the status tracker and the
    in-process status store (no UI needed)."""
    sc = spark.sparkContext
    st = sc.statusTracker()
    jobs = st.getJobIdsForGroup(group)
    stages = sorted({s for j in jobs for s in (st.getJobInfo(j).stageIds
                                               if st.getJobInfo(j) else [])})
    store = sc._jsc.sc().statusStore()
    no_quantiles = sc._gateway.new_array(sc._gateway.jvm.double, 0)
    out = {"jobs": len(jobs), "stages": 0, "tasks": 0, "task_cpu_s": 0.0,
           "task_run_s": 0.0, "gc_s": 0.0, "shuffle_write_bytes": 0,
           "spill_bytes": 0}
    for sid in stages:
        try:
            seq = store.stageData(sid, False, None, False, no_quantiles)
        except Exception:  # stage evicted from the store: count nothing
            continue
        it = seq.iterator()
        while it.hasNext():
            d = it.next()
            if d.numCompleteTasks() == 0:  # skipped stage: nothing ran
                continue
            out["stages"] += 1
            out["tasks"] += d.numCompleteTasks() + d.numFailedTasks()
            out["task_cpu_s"] += d.executorCpuTime() / 1e9
            out["task_run_s"] += d.executorRunTime() / 1e3
            out["gc_s"] += d.jvmGcTime() / 1e3
            out["shuffle_write_bytes"] += d.shuffleWriteBytes()
            out["spill_bytes"] += d.diskBytesSpilled() + d.memoryBytesSpilled()
    return out


def children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as fh:
                stat = fh.read()
        except OSError:
            continue
        ppid = int(stat[stat.rindex(")") + 2:].split()[1])
        kids.setdefault(ppid, []).append(int(name))
    return kids


def descendants(root: int) -> list[int]:
    kids = children()
    out, todo = [], list(kids.get(root, []))
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(kids.get(pid, []))
    return out


def wait_gone(pids: list[int], timeout: float) -> None:
    """Wait until the given processes have exited; kill what is left."""
    deadline = time.monotonic() + timeout
    while True:
        alive = [p for p in pids if os.path.exists(f"/proc/{p}")]
        if not alive:
            return
        if time.monotonic() > deadline:
            for p in alive:
                try:
                    os.kill(p, 9)
                except ProcessLookupError:
                    pass
            deadline = float("inf")
        time.sleep(0.05)


def tree_rss(root: int) -> tuple[int, int]:
    """(resident bytes, process count) of ``root`` and its descendants."""
    kids = children()
    page = os.sysconf("SC_PAGE_SIZE")
    total, n, todo = 0, 0, [root]
    while todo:
        pid = todo.pop()
        todo.extend(kids.get(pid, []))
        try:
            with open(f"/proc/{pid}/statm") as fh:
                total += int(fh.read().split()[1]) * page
            n += 1
        except OSError:
            pass
    return total, n


class RssSampler:
    """Samples the resident memory of a process tree in a thread and keeps
    the peak, and the most processes seen (Python workers come and go).
    Stop it with ``stop()``; the thread ends before it returns."""

    def __init__(self, root: int, period_s: float = 0.1) -> None:
        self.root = root
        self.period_s = period_s
        self.peak = 0
        self.peak_procs = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)
        self._thread.start()

    def _run(self) -> None:
        while not self._stop.is_set():
            rss, n = tree_rss(self.root)
            self.peak = max(self.peak, rss)
            self.peak_procs = max(self.peak_procs, n)
            self._stop.wait(self.period_s)

    def stop(self) -> int:
        self._stop.set()
        self._thread.join()
        return self.peak
