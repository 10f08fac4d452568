"""Tracing for the traced run: spans kept in memory plus counters read
from Spark's own status stores.

Spans are recorded by the benchmark around its calls into the package
(name, start, end, parent, run id).  Counters come from

* the live application status store's ``executorList`` (task time, GC
  time, task count), read as deltas around a unit of work;
* the SQL status store's execution metrics (``scan time``, ``size of
  files read``, ``shuffle bytes written``, ``spill size``, ``time to
  run Python workers`` ...), summed over the executions a unit of work
  started;
* job groups, to count the jobs a unit of work launched.

Every read first waits for the listener bus to drain, so the stores
hold the events of the work just finished.
"""

from __future__ import annotations

import contextlib
import json
import re
import threading
import time
import uuid

_SIZE = {"B": 1, "KiB": 1 << 10, "MiB": 1 << 20, "GiB": 1 << 30, "TiB": 1 << 40}
_TIME_S = {"ns": 1e-9, "ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0}
_VALUE = re.compile(r"^\s*([0-9][0-9,]*(?:\.[0-9]+)?)\s*([A-Za-z]*)")

# SQL metric name -> (counter name, kind)
SQL_METRICS = {
    "scan time": ("scan_s", "time"),
    "size of files read": ("bytes_read", "size"),
    "number of files read": ("files_read", "count"),
    "shuffle bytes written": ("shuffle_bytes", "size"),
    "spill size": ("spill_bytes", "size"),
    "time to run Python workers": ("python_run_s", "time"),
    "time to start Python workers": ("python_start_s", "time"),
    "data sent to Python workers": ("python_bytes", "size"),
    "data returned from Python workers": ("python_bytes", "size"),
}


def parse_metric(text: str | None, kind: str) -> float:
    """Total from a formatted SQL metric value: ``'12.3 MiB'``,
    ``'450 ms'``, ``'1,234'`` or the multi-task form ``'total (min,
    med, max ...)\\n1.2 s (...)'``."""
    if not text:
        return 0.0
    line = text.split("\n")[-1]
    m = _VALUE.match(line)
    if not m:
        return 0.0
    value, unit = float(m.group(1).replace(",", "")), m.group(2)
    if kind == "size":
        return value * _SIZE.get(unit, 1)
    if kind == "time":
        return value * _TIME_S.get(unit, 1e-3)
    return value


class Tracer:
    """In-memory span log.  ``span`` is a context manager; spans carry
    the run id, their parent's id (by default the innermost open span
    of the calling thread) and free-form attributes."""

    def __init__(self):
        self.run_id = uuid.uuid4().hex[:12]
        self.spans: list[dict] = []
        self._lock = threading.Lock()
        self._ids = 0
        self._open = threading.local()

    def _stack(self) -> list[int]:
        if not hasattr(self._open, "ids"):
            self._open.ids = []
        return self._open.ids

    def _next_id(self) -> int:
        with self._lock:
            self._ids += 1
            return self._ids

    @contextlib.contextmanager
    def span(self, name: str, parent: int | None = None, **attrs):
        stack = self._stack()
        sid = self._next_id()
        if parent is None and stack:
            parent = stack[-1]
        rec = {"id": sid, "name": name, "parent": parent, "run": self.run_id, **attrs}
        rec["start"] = time.perf_counter()
        stack.append(sid)
        try:
            yield rec
        finally:
            stack.pop()
            rec["end"] = time.perf_counter()
            with self._lock:
                self.spans.append(rec)

    def add(self, name: str, start: float, end: float, parent: int | None = None, **attrs) -> int:
        """Record a span measured elsewhere (e.g. from stream progress)."""
        stack = self._stack()
        sid = self._next_id()
        if parent is None and stack:
            parent = stack[-1]
        with self._lock:
            self.spans.append(
                {"id": sid, "name": name, "parent": parent, "run": self.run_id,
                 "start": start, "end": end, **attrs}
            )
        return sid

    def dump(self, path: str) -> None:
        with open(path, "w") as fh:
            for s in sorted(self.spans, key=lambda s: s["start"]):
                fh.write(json.dumps(s, default=str) + "\n")


class SparkProbe:
    """Delta counters around a unit of work, from Spark's status stores."""

    def __init__(self, spark):
        self.spark = spark
        self.sc = spark.sparkContext
        self._jsc = self.sc._jsc.sc()

    def drain(self) -> None:
        self._jsc.listenerBus().waitUntilEmpty()

    def _executors(self) -> dict:
        tot = {"task_ms": 0, "gc_ms": 0, "tasks": 0}
        lst = self._jsc.statusStore().executorList(True)
        for i in range(lst.size()):
            e = lst.apply(i)
            tot["task_ms"] += e.totalDuration()
            tot["gc_ms"] += e.totalGCTime()
            tot["tasks"] += e.totalTasks()
        return tot

    def _sql_store(self):
        return self.spark._jsparkSession.sharedState().statusStore()

    def _max_execution_id(self) -> int:
        execs = self._sql_store().executionsList()
        return max((execs.apply(i).executionId() for i in range(execs.size())), default=-1)

    def _sql_since(self, after: int) -> dict:
        store = self._sql_store()
        execs = store.executionsList()
        out = {name: 0.0 for name, _ in SQL_METRICS.values()}
        for i in range(execs.size()):
            ex = execs.apply(i)
            eid = ex.executionId()
            if eid <= after:
                continue
            values = store.executionMetrics(eid)
            metrics = ex.metrics()
            seen = set()
            for j in range(metrics.size()):
                m = metrics.apply(j)
                spec = SQL_METRICS.get(m.name())
                acc = m.accumulatorId()
                if spec is None or acc in seen:
                    continue
                seen.add(acc)
                v = values.get(acc)
                if v.isDefined():
                    out[spec[0]] += parse_metric(v.get(), spec[1])
        return out

    def begin(self) -> dict:
        self.drain()
        return {"exec": self._executors(), "sql_after": self._max_execution_id()}

    def end(self, mark: dict, groups: tuple[str, ...] = ()) -> dict:
        """Counters accrued since ``mark``; ``jobs.<group>`` per job group."""
        self.drain()
        ex = self._executors()
        sql = self._sql_since(mark["sql_after"])
        out = {
            "task_s": (ex["task_ms"] - mark["exec"]["task_ms"]) / 1000.0,
            "gc_s": (ex["gc_ms"] - mark["exec"]["gc_ms"]) / 1000.0,
            "tasks": ex["tasks"] - mark["exec"]["tasks"],
            **sql,
        }
        tracker = self.sc.statusTracker()
        for g in groups:
            out[f"jobs.{g}"] = len(tracker.getJobIdsForGroup(g))
        return out


class ArtifactLedger:
    """Wraps ``paths.session_artifact`` to count calls, builds and
    build seconds.  Consumers import the function at call time, so
    replacing the module attribute reaches every call site."""

    def __init__(self, tracer: Tracer | None = None):
        self.tracer = tracer
        self.calls = 0
        self.builds = 0
        self.build_s = 0.0
        self._orig = None
        self._depth = 0

    def install(self) -> None:
        from am_kinesis_pay_spark import paths

        orig = self._orig = paths.session_artifact
        ledger = paths.ARTIFACT_BUILD_SECS

        def traced(spark, name, build, schema=None):
            before = dict(ledger)
            t0 = time.perf_counter()
            self._depth += 1
            try:
                df = orig(spark, name, build, schema)
            finally:
                self._depth -= 1
            self.calls += 1
            built = ledger.get(name) != before.get(name)
            if built:
                self.builds += 1
            if self.tracer is not None:
                self.tracer.add("paths.session_artifact", t0, time.perf_counter(),
                                artifact=name, built=built)
            # an artifact built inside another's build is timed by the
            # outermost call only
            if self._depth == 0 and ledger != before:
                self.build_s += time.perf_counter() - t0
            return df

        paths.session_artifact = traced

    def uninstall(self) -> None:
        if self._orig is not None:
            from am_kinesis_pay_spark import paths

            paths.session_artifact = self._orig
            self._orig = None

    def snapshot(self) -> tuple[int, int, float]:
        return self.calls, self.builds, self.build_s
