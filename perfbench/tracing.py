"""Span tracing and Spark status-store counters, from outside the program.

Nothing in ``srag_spark`` is edited.  Eager layers are timed by swapping a
module or class attribute for a wrapper that records a span around the
original call; the swap is undone when the tracer closes.  Lazy layers
(functions that only build a DataFrame plan) are timed by the workloads
themselves, by materializing that layer's output standalone.

A span is (name, start, end, parent, trace id).  Spans stay in memory
until :meth:`Tracer.dump` writes them as JSON lines.

:class:`SparkCounters` reads Spark's own status stores for the jobs one
job group started: the job/task counts from the status tracker, and the
per-node SQL metrics (Python worker time, bytes to and from Python,
shuffle bytes, spill, files read) from the SQL status store, which is
populated with ``spark.ui.enabled=false`` too.
"""

from __future__ import annotations

import functools
import itertools
import json
import time
from collections import defaultdict


class Tracer:
    def __init__(self):
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self._patches: list[tuple[object, str, object]] = []
        self._ids = itertools.count()
        self.trace_id: str | None = None

    # -- spans ---------------------------------------------------------------
    def span(self, name: str):
        return _Span(self, name)

    def wrap(self, owner, attr: str, name: str, on_error=None) -> None:
        """Replace ``owner.attr`` by a wrapper that records a span named
        ``name`` around each call.  ``on_error(exc)`` is told about raised
        exceptions before they propagate (used to count commit retries)."""
        orig = getattr(owner, attr)
        tracer = self

        @functools.wraps(orig)
        def wrapper(*args, **kwargs):
            with tracer.span(name):
                try:
                    return orig(*args, **kwargs)
                except Exception as exc:
                    if on_error is not None:
                        on_error(exc)
                    raise

        self._patches.append((owner, attr, orig))
        setattr(owner, attr, wrapper)

    def close(self) -> None:
        for owner, attr, orig in reversed(self._patches):
            setattr(owner, attr, orig)
        self._patches.clear()

    # -- summaries ------------------------------------------------------------
    def total(self, name: str) -> float:
        return sum(s["end"] - s["start"] for s in self.spans if s["name"] == name)

    def count(self, name: str) -> int:
        return sum(1 for s in self.spans if s["name"] == name)

    def count_within(self, name: str, ancestor: str) -> int:
        """Number of ``name`` spans that have an ``ancestor`` span above them."""
        by_id = {s["id"]: s for s in self.spans}

        def under(s):
            while s["parent"] is not None:
                s = by_id[s["parent"]]
                if s["name"] == ancestor:
                    return True
            return False

        return sum(1 for s in self.spans if s["name"] == name and under(s))

    def self_time(self, name: str) -> float:
        """Summed duration of ``name`` spans minus the time their direct
        children cover."""
        child_time = defaultdict(float)
        for s in self.spans:
            if s["parent"] is not None:
                child_time[s["parent"]] += s["end"] - s["start"]
        return sum(
            s["end"] - s["start"] - child_time[s["id"]]
            for s in self.spans
            if s["name"] == name
        )

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps(s) + "\n")


class _Span:
    def __init__(self, tracer: Tracer, name: str):
        self.tracer, self.name = tracer, name

    def __enter__(self):
        t = self.tracer
        self.id = next(t._ids)
        self.parent = t._stack[-1] if t._stack else None
        t._stack.append(self.id)
        self.start = time.perf_counter()
        return self

    def __exit__(self, *exc):
        end = time.perf_counter()
        t = self.tracer
        t._stack.pop()
        t.spans.append(
            {
                "id": self.id,
                "name": self.name,
                "start": self.start,
                "end": end,
                "parent": self.parent,
                "trace_id": t.trace_id,
            }
        )
        return False


# ---------------------------------------------------------------------------
# Spark status stores
# ---------------------------------------------------------------------------
_SIZE_UNITS = {"B": 1, "KiB": 2**10, "MiB": 2**20, "GiB": 2**30, "TiB": 2**40}
_TIME_UNITS = {"ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0}

# SQL metric name → counter key
_SQL_METRICS = {
    "time to run Python workers": "python_worker_s",
    "data sent to Python workers": "bytes_to_python",
    "data returned from Python workers": "bytes_from_python",
    "shuffle bytes written": "shuffle_bytes_written",
    "spill size": "spill_bytes",
    "number of files read": "files_read",
}


def parse_metric(text: str) -> float:
    """Value of one formatted SQL metric: a plain count ("1,234"), a size
    ("978.0 KiB") or a duration ("15.6 s"), possibly after a
    "total (min, med, max ...)" header line."""
    line = text.strip().split("\n")[-1]
    parts = line.replace(",", "").split()
    value = float(parts[0])
    unit = parts[1] if len(parts) > 1 else ""
    if unit in _SIZE_UNITS:
        return value * _SIZE_UNITS[unit]
    if unit in _TIME_UNITS:
        return value * _TIME_UNITS[unit]
    return value


class SparkCounters:
    """Counters for everything one job group ran."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.tracker = self.sc.statusTracker()
        self.sql_store = spark._jsparkSession.sharedState().statusStore()
        self._groups = itertools.count()

    def run(self, label: str, fn):
        """Run ``fn()`` under a fresh job group; return (result, counters)."""
        group = f"perfbench-{label}-{next(self._groups)}"
        first_exec = int(self.sql_store.executionsCount())
        self.sc.setJobGroup(group, label, False)
        try:
            result = fn()
        finally:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            self.sc.setLocalProperty("spark.job.description", None)
        return result, self.read(group, first_exec)

    def read(self, group: str, first_exec: int) -> dict:
        jobs = set(self.tracker.getJobIdsForGroup(group))
        out = {k: 0.0 for k in _SQL_METRICS.values()}
        tasks = 0
        for j in jobs:
            info = self.tracker.getJobInfo(j)
            for sid in info.stageIds if info else ():
                st = self.tracker.getStageInfo(sid)
                tasks += st.numTasks if st else 0
        n_exec = int(self.sql_store.executionsCount()) - first_exec
        it = self.sql_store.executionsList(first_exec, n_exec).iterator() if n_exec > 0 else None
        while it is not None and it.hasNext():
            ex = it.next()
            ex_jobs = {int(x) for x in str(ex.jobs().keys().mkString(",")).split(",") if x}
            if not ex_jobs & jobs:
                continue
            values = self.sql_store.executionMetrics(ex.executionId())
            nodes = self.sql_store.planGraph(ex.executionId()).allNodes().iterator()
            while nodes.hasNext():
                metrics = nodes.next().metrics().iterator()
                while metrics.hasNext():
                    m = metrics.next()
                    key = _SQL_METRICS.get(m.name())
                    if key is None:
                        continue
                    v = values.get(m.accumulatorId())
                    if v.isDefined():
                        out[key] += parse_metric(v.get())
        out["jobs"] = len(jobs)
        out["tasks"] = tasks
        return out


def add_counters(acc: dict, c: dict) -> dict:
    """Element-wise sum of two counter records, as a new dict."""
    out = dict(acc)
    for k, v in c.items():
        out[k] = out.get(k, 0) + v
    return out
