"""Measurement helpers kept in the benchmark's own files: spans, a
streaming-progress listener, a resident-memory sampler and Spark job
counts per job group. Nothing here reaches inside the package under test.
"""

from __future__ import annotations

import json
import os
import threading
import time
from contextlib import contextmanager
from dataclasses import dataclass, field

import numpy as np
from pyspark.sql.streaming import StreamingQueryListener


def pct(values, q: float) -> float:
    """Percentile ``q`` (0-100) by linear interpolation; nan when empty."""
    if len(values) == 0:
        return float("nan")
    return float(np.percentile(np.asarray(values, dtype=np.float64), q))


@dataclass
class Span:
    sid: int
    name: str
    layer: str
    start: float
    end: float
    parent: int | None


@dataclass
class Tracer:
    """Spans in memory (name, layer, start, end, parent); written out once,
    when the run ends."""

    spans: list[Span] = field(default_factory=list)
    _stack: list[int] = field(default_factory=list)

    def add(self, name: str, layer: str, start: float, end: float, parent: int | None = None) -> int:
        sid = len(self.spans)
        self.spans.append(Span(sid, name, layer, start, end, parent))
        return sid

    @contextmanager
    def span(self, name: str, layer: str):
        parent = self._stack[-1] if self._stack else None
        sid = self.add(name, layer, time.time(), float("nan"), parent)
        self._stack.append(sid)
        try:
            yield sid
        finally:
            self._stack.pop()
            self.spans[sid].end = time.time()

    def self_times(self) -> dict[str, float]:
        """Seconds per layer: each span's duration minus the part of its
        interval that its child spans cover."""
        children: dict[int, list[Span]] = {}
        for s in self.spans:
            if s.parent is not None:
                children.setdefault(s.parent, []).append(s)
        out: dict[str, float] = {}
        for s in self.spans:
            covered, cur_start, cur_end = 0.0, None, None
            for c in sorted(children.get(s.sid, []), key=lambda c: c.start):
                a, b = max(c.start, s.start), min(c.end, s.end)
                if b <= a:
                    continue
                if cur_end is None or a > cur_end:
                    if cur_end is not None:
                        covered += cur_end - cur_start
                    cur_start, cur_end = a, b
                else:
                    cur_end = max(cur_end, b)
            if cur_end is not None:
                covered += cur_end - cur_start
            out[s.layer] = out.get(s.layer, 0.0) + (s.end - s.start) - covered
        return out

    def dump(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            json.dump([s.__dict__ for s in self.spans], f)


class ProgressLog(StreamingQueryListener):
    """Every ``StreamingQueryProgress`` as a dict, with its arrival time."""

    def __init__(self) -> None:
        self._lock = threading.Lock()
        self.events: list[tuple[float, dict]] = []

    def onQueryStarted(self, event) -> None:
        pass

    def onQueryProgress(self, event) -> None:
        p = json.loads(event.progress.json)
        with self._lock:
            self.events.append((time.time(), p))

    def onQueryIdle(self, event) -> None:
        pass

    def onQueryTerminated(self, event) -> None:
        pass

    def for_query(self, name: str) -> list[tuple[float, dict]]:
        with self._lock:
            return [e for e in self.events if e[1].get("name") == name]


def iso_ms(stamp: str) -> float:
    """Epoch milliseconds of a progress timestamp like
    ``2023-11-14T22:13:20.000Z``."""
    from datetime import datetime, timezone

    dt = datetime.strptime(stamp, "%Y-%m-%dT%H:%M:%S.%fZ").replace(tzinfo=timezone.utc)
    return dt.timestamp() * 1000.0


def _descendants(root: int) -> list[int]:
    parent: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        parent.setdefault(ppid, []).append(int(d))
    out, todo = [], [root]
    while todo:
        p = todo.pop()
        out.append(p)
        todo.extend(parent.get(p, []))
    return out


def _mem_kb(pid: int, key: str, file: str = "status") -> int:
    try:
        with open(f"/proc/{pid}/{file}") as f:
            for line in f:
                if line.startswith(key + ":"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


class RssSampler:
    """Peak resident memory of the JVM and its Python workers while the
    sampler runs: the sum of their proportional set sizes (shared pages
    split between sharers, so a forked child that still shares the JVM's
    pages adds nothing), sampled every 100 ms."""

    EVERY_S = 0.1

    def __init__(self, jvm_pid: int) -> None:
        self.jvm_pid = jvm_pid
        self.peak_kb = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        while not self._stop.is_set():
            pss = sum(_mem_kb(p, "Pss", "smaps_rollup") for p in _descendants(self.jvm_pid))
            self.peak_kb = max(self.peak_kb, pss)
            self._stop.wait(self.EVERY_S)

    def __enter__(self) -> "RssSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=10)

    @property
    def peak_mb(self) -> float:
        return self.peak_kb / 1024.0


def group_counts(spark, group: str) -> tuple[int, int]:
    """(jobs, tasks) Spark ran under job group ``group``, from the public
    status tracker."""
    st = spark.sparkContext.statusTracker()
    jobs = st.getJobIdsForGroup(group)
    tasks = 0
    for j in jobs:
        info = st.getJobInfo(j)
        for s in info.stageIds if info else []:
            si = st.getStageInfo(s)
            tasks += si.numTasks if si else 0
    return len(jobs), tasks
