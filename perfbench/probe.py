"""Measurement helpers: layer spans, process-tree RSS, Spark's REST counters.

``Tracer`` records spans around calls into the package's public functions,
from outside the package: :meth:`Tracer.wrap` replaces a module attribute
with a timing wrapper that records a span only while ``tracer.active`` is
set. Spans stay in memory and are written once, at exit.

``PeakMemorySampler`` sums resident memory (proportional set size) over this
process and its descendants (the Spark JVM and its Python workers) a few
times a second and keeps the peak. ``SparkRest`` reads job, stage, executor, SQL and storage data from
the application's status REST API on localhost.
"""

from __future__ import annotations

import functools
import json
import os
import re
import threading
import time
import urllib.request
from contextlib import contextmanager
from dataclasses import dataclass


@dataclass
class Span:
    name: str
    start: float
    end: float
    parent: int | None
    op: int | None
    sid: int


class Tracer:
    def __init__(self) -> None:
        self.active = False
        self.op: int | None = None
        self.op_span: int | None = None
        self.spans: list[Span] = []
        self._lock = threading.Lock()
        self._local = threading.local()

    def _stack(self) -> list[int]:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    @contextmanager
    def span(self, name: str):
        """Record ``name`` around the block while active; the parent is the
        enclosing span on this thread, else the current op's span."""
        if not self.active:
            yield
            return
        stack = self._stack()
        parent = stack[-1] if stack else self.op_span
        with self._lock:
            sid = len(self.spans)
            self.spans.append(Span(name, time.time(), 0.0, parent, self.op, sid))
        stack.append(sid)
        try:
            yield
        finally:
            stack.pop()
            self.spans[sid].end = time.time()

    @contextmanager
    def op_scope(self, op: int, traced: bool):
        """Make the block op ``op``: when ``traced``, record an ``op`` span
        that parents every layer span the block records."""
        self.active, self.op = traced, op
        try:
            with self.span("op"):
                if traced:
                    self.op_span = self._stack()[-1]
                yield
        finally:
            self.active, self.op, self.op_span = False, None, None

    def wrap(self, owner, attr: str, name: str) -> None:
        """Replace ``owner.attr`` (a module or dict) with a span-recording
        wrapper around the original callable."""
        get = owner.__getitem__ if isinstance(owner, dict) else functools.partial(getattr, owner)
        fn = get(attr)

        @functools.wraps(fn)
        def traced(*a, **kw):
            with self.span(name):
                return fn(*a, **kw)

        if isinstance(owner, dict):
            owner[attr] = traced
        else:
            setattr(owner, attr, traced)

    def durations(self, name: str) -> list[float]:
        return [s.end - s.start for s in self.spans if s.name == name and s.end]

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps(s.__dict__) + "\n")


def _pss_kb(pid: int) -> int:
    """Proportional set size: shared pages split among their sharers, so a
    helper the JVM forks (Hadoop's local file system shells out for
    permissions) does not count the JVM's memory twice."""
    try:
        with open(f"/proc/{pid}/smaps_rollup") as f:
            for line in f:
                if line.startswith("Pss:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def _children(pid: int) -> list[int]:
    out = []
    try:
        for tid in os.listdir(f"/proc/{pid}/task"):
            with open(f"/proc/{pid}/task/{tid}/children") as f:
                out.extend(int(c) for c in f.read().split())
    except OSError:
        pass
    return out


def tree_pss_mb(root: int) -> float:
    total, todo, seen = 0, [root], set()
    while todo:
        pid = todo.pop()
        if pid in seen:
            continue
        seen.add(pid)
        total += _pss_kb(pid)
        todo.extend(_children(pid))
    return total / 1024.0


class PeakMemorySampler:
    """Background thread keeping the peak resident memory of the process
    tree (summed proportional set size), in MB."""

    def __init__(self, interval: float = 0.2, extra=None, extra_every: int = 5) -> None:
        self.peak_mb = 0.0
        self._interval = interval
        self._extra = extra  # optional callable polled every extra_every ticks
        self._extra_every = extra_every
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _loop(self) -> None:
        pid, tick = os.getpid(), 0
        while not self._stop.is_set():
            self.peak_mb = max(self.peak_mb, tree_pss_mb(pid))
            if self._extra is not None and tick % self._extra_every == 0:
                self._extra()
            tick += 1
            self._stop.wait(self._interval)

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join()


_SIZE = re.compile(r"([\d.,]+)\s*(B|KiB|MiB|GiB|TiB)\b")
_UNIT = {"B": 1, "KiB": 1 << 10, "MiB": 1 << 20, "GiB": 1 << 30, "TiB": 1 << 40}


def parse_size(text: str) -> float:
    """First size in a Spark SQL metric string ('total (min, med, max)\\n
    12.3 KiB (...)' or '12.3 KiB') in bytes; 0 when there is none."""
    m = _SIZE.search(text.split("\n")[-1]) or _SIZE.search(text)
    return float(m.group(1).replace(",", "")) * _UNIT[m.group(2)] if m else 0.0


def spark_time(text: str) -> float:
    """REST timestamp ('2026-01-01T00:00:00.123GMT') as epoch seconds."""
    from datetime import datetime, timezone

    return datetime.strptime(text.replace("GMT", ""), "%Y-%m-%dT%H:%M:%S.%f").replace(
        tzinfo=timezone.utc
    ).timestamp()


class SparkRest:
    def __init__(self, spark) -> None:
        sc = spark.sparkContext
        self.base = f"{sc.uiWebUrl}/api/v1/applications/{sc.applicationId}"

    def get(self, path: str):
        with urllib.request.urlopen(self.base + path, timeout=30) as resp:
            return json.load(resp)

    def gc_ms(self) -> float:
        return float(sum(e.get("totalGCTime", 0) for e in self.get("/executors")))

    def cached_bytes(self) -> float:
        return float(sum(r.get("memoryUsed", 0) + r.get("diskUsed", 0) for r in self.get("/storage/rdd")))

    def counters(self, windows: list[tuple[float, float]], cores: int) -> dict[str, float]:
        """Job/stage/SQL totals for work submitted inside ``windows``
        (epoch-second intervals of the traced ops), per traced op."""
        def inside(t: float) -> bool:
            return any(a <= t <= b for a, b in windows)

        n = max(len(windows), 1)
        wall = sum(b - a for a, b in windows) or 1e-9
        jobs = [j for j in self.get("/jobs") if "submissionTime" in j and inside(spark_time(j["submissionTime"]))]
        stage_ids = {s for j in jobs for s in j.get("stageIds", [])}
        stages = [s for s in self.get("/stages") if s["stageId"] in stage_ids and s.get("status") == "COMPLETE"]
        skew = 1.0
        for s in sorted(stages, key=lambda s: -s.get("executorRunTime", 0))[:30]:
            if s.get("numTasks", 0) < 2:
                continue
            q = self.get(f"/stages/{s['stageId']}/{s['attemptId']}/taskSummary?quantiles=0.5,1.0")
            med, mx = q["executorRunTime"]
            if med >= 1:
                skew = max(skew, mx / med)
        udf_bytes = 0.0
        for ex in self.get("/sql?details=true&planDescription=false&length=100000"):
            if not inside(spark_time(ex["submissionTime"])):
                continue
            for node in ex.get("nodes", []):
                for m in node.get("metrics", []):
                    if "Python workers" in m.get("name", ""):
                        udf_bytes += parse_size(m.get("value", ""))
        return {
            "spark.jobs_per_op": len(jobs) / n,
            "spark.tasks_per_op": sum(s.get("numTasks", 0) for s in stages) / n,
            "spark.core_busy_ratio": sum(s.get("executorRunTime", 0) for s in stages) / 1000.0 / (wall * cores),
            "spark.output_bytes_per_op": sum(s.get("outputBytes", 0) for s in stages) / n,
            "spark.shuffle_bytes_per_op": sum(s.get("shuffleWriteBytes", 0) for s in stages) / n,
            "spark.spill_bytes_per_op": sum(s.get("memoryBytesSpilled", 0) + s.get("diskBytesSpilled", 0) for s in stages) / n,
            "spark.task_skew": skew,
            "spark.python_udf_bytes": udf_bytes / n,
        }
