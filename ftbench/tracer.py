"""Spans and Spark job counts taken from outside the engine, and the
process-tree memory sampler.

A span is (name, start, end, parent, query id), kept in memory and written
out as JSON when the run ends. With tracing off `span()` returns a shared
no-op context and no job group is set, so the untraced run pays nothing but
the call. Job, stage and task counts per query come from Spark's
StatusTracker, one job group per query.
"""

from __future__ import annotations

import contextlib
import json
import os
import threading
import time
from collections import defaultdict

_NOOP = contextlib.nullcontext()


class Tracer:
    def __init__(self, enabled: bool) -> None:
        self.enabled = enabled
        self.spans: list[dict] = []
        self.queries: list[dict] = []  # per-query records (traced runs)
        self._stack: list[int] = []
        self.qid: str | None = None
        self.overhead_s = 0.0  # time spent in tracing bookkeeping

    def span(self, name: str):
        return self._span(name) if self.enabled else _NOOP

    @contextlib.contextmanager
    def _span(self, name: str):
        rec = {
            "name": name,
            "start": time.perf_counter(),
            "end": None,
            "parent": self._stack[-1] if self._stack else None,
            "query": self.qid,
        }
        self.spans.append(rec)
        self._stack.append(len(self.spans) - 1)
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()

    # -------------------------------------------------- per-query counts --
    def begin_query(self, sc, qid: str) -> None:
        self.qid = qid
        if self.enabled:
            sc.setJobGroup(qid, qid)

    def end_query(self, sc, record: dict) -> None:
        """Attach job/stage/task counts of the query's job group to record."""
        qid, self.qid = self.qid, None
        if not self.enabled:
            return
        t0 = time.perf_counter()
        # job events reach the status store through the listener bus: drain
        # it, or a count read right after collect() can miss the last job
        sc._jsc.sc().listenerBus().waitUntilEmpty(10_000)
        st = sc.statusTracker()
        jobs = st.getJobIdsForGroup(qid)
        stages = tasks = 0
        for j in jobs:
            info = st.getJobInfo(j)
            for s in info.stageIds if info else ():
                si = st.getStageInfo(s)
                if si is not None:
                    stages += 1
                    tasks += si.numTasks
        sc.setJobGroup("ftbench-idle", "between queries")
        record.update(jobs=len(jobs), stages=stages, tasks=tasks)
        self.queries.append(record)
        self.overhead_s += time.perf_counter() - t0

    def span_sum(self, name: str, qid: str) -> float:
        return sum(s["end"] - s["start"] for s in self.spans if s["name"] == name and s["query"] == qid)

    def self_times(self) -> dict[str, float]:
        """Total self time per span name: duration minus child coverage."""
        child = defaultdict(float)
        for s in self.spans:
            if s["parent"] is not None and s["end"] is not None:
                child[s["parent"]] += s["end"] - s["start"]
        out: dict[str, float] = defaultdict(float)
        for i, s in enumerate(self.spans):
            if s["end"] is not None:
                out[s["name"]] += s["end"] - s["start"] - child[i]
        return dict(out)

    def dump(self, path: str, extra: dict) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            json.dump(
                {"spans": self.spans, "queries": self.queries, "self_s": self.self_times(), **extra},
                f,
                indent=1,
            )


def _children(pid: int) -> list[int]:
    out = []
    try:
        tasks = os.listdir(f"/proc/{pid}/task")
    except OSError:
        return out
    for t in tasks:
        try:
            with open(f"/proc/{pid}/task/{t}/children") as f:
                out.extend(int(c) for c in f.read().split())
        except OSError:
            pass
    return out


def descendants(pid: int) -> list[int]:
    out, todo = [], [pid]
    while todo:
        kids = _children(todo.pop())
        out.extend(kids)
        todo.extend(kids)
    return out


def _rss_bytes(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/statm") as f:
            return int(f.read().split()[1]) * os.sysconf("SC_PAGE_SIZE")
    except (OSError, IndexError, ValueError):
        return 0


def _is_python(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/cmdline", "rb") as f:
            return b"pyspark.daemon" in f.read()
    except OSError:
        return False


class RssSampler:
    """Peak summed RSS of this process and all its descendants (the Python
    driver, the JVM and Spark's Python workers), sampled every `period` s."""

    def __init__(self, period: float = 0.1) -> None:
        self.period = period
        self.peak = 0
        self.max_workers = 0  # Spark Python worker processes seen at once
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, name="rss-sampler", daemon=True)

    def _sample(self) -> None:
        me = os.getpid()
        kids = descendants(me)
        self.peak = max(self.peak, sum(_rss_bytes(p) for p in [me, *kids]))
        workers = sum(_is_python(p) for p in kids) - 1  # minus the daemon
        self.max_workers = max(self.max_workers, workers)

    def _loop(self) -> None:
        while not self._stop.wait(self.period):
            self._sample()

    def __enter__(self) -> "RssSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()
        self._sample()

    @property
    def peak_mb(self) -> float:
        return self.peak / 2**20
