"""Tracing for the benchmark's traced run, recorded from outside the program.

Spans are opened around calls into each layer's public functions: the
benchmark's own calls (``QuerySpec.fn``, the Spark action, the result
check) and, through ``instrument``, the program's calls into
``catalog.load``, the ``operators.materialize`` checkpoints, the
``sqlext`` entry points and ``streaming.harness.run_to_completion``.
Spark's own counters come from its status tracker, its status store
and a ``StreamingQueryListener``; all of them work with the UI off.
Spans stay in memory until ``Tracer.write``.
"""

from __future__ import annotations

import contextlib
import json
import sys
import threading
import time
from collections import defaultdict


class Tracer:
    """Span recorder. A span has a name, a start, an end, its parent
    span and the id of the query execution it belongs to. Recording is
    off until ``enabled`` is set, so untraced passes run the same code
    with one attribute test per call."""

    def __init__(self) -> None:
        self.enabled = False
        self.exec_id: int | None = None
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextlib.contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield None
            return
        rec = {
            "id": len(self.spans),
            "exec": self.exec_id,
            "name": name,
            "parent": self._stack[-1] if self._stack else None,
            "start": time.perf_counter(),
            "end": None,
        }
        self.spans.append(rec)
        self._stack.append(rec["id"])
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()

    def totals(self, first: int = 0) -> dict[str, dict[str, float]]:
        """Per span name over spans[first:]: calls (outermost spans of
        that name only), total time of those, and self time — each
        span's duration minus the time its direct children cover."""
        spans = self.spans[first:]
        child_time: dict[int, float] = defaultdict(float)
        for s in spans:
            if s["parent"] is not None:
                child_time[s["parent"]] += s["end"] - s["start"]
        out: dict[str, dict[str, float]] = defaultdict(
            lambda: {"calls": 0, "total_s": 0.0, "self_s": 0.0}
        )
        by_id = {s["id"]: s for s in spans}
        for s in spans:
            dur = s["end"] - s["start"]
            t = out[s["name"]]
            t["self_s"] += dur - child_time[s["id"]]
            if self._outermost(s, by_id):
                t["calls"] += 1
                t["total_s"] += dur
        return out

    @staticmethod
    def _outermost(s: dict, by_id: dict[int, dict]) -> bool:
        p = s["parent"]
        while p is not None and p in by_id:
            if by_id[p]["name"] == s["name"]:
                return False
            p = by_id[p]["parent"]
        return True

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps(s) + "\n")


def instrument(tracer: Tracer, module, fn_name: str, span_name: str, hook=None):
    """Wrap ``module.fn_name`` in a span, in ``module`` and in every
    loaded ``nipd_spark`` module that imported it by name. ``hook``,
    when given, sees (args, result, traced) of every call."""
    orig = getattr(module, fn_name)

    def wrapped(*args, **kwargs):
        with tracer.span(span_name) as rec:
            result = orig(*args, **kwargs)
        if hook is not None:
            hook(args, result, rec is not None)
        return result

    wrapped.__wrapped__ = orig
    for mod in list(sys.modules.values()):
        name = getattr(mod, "__name__", "")
        if mod is module or name.startswith("nipd_spark"):
            for attr, val in list(vars(mod).items()):
                if val is orig:
                    setattr(mod, attr, wrapped)


class CatalogHits:
    """``catalog.load`` cache hits in traced calls, seen from outside: a
    call is a hit when it returns the very DataFrame object the previous
    call with the same (session, directory, table) returned."""

    def __init__(self) -> None:
        self._last: dict[tuple, int] = {}
        self.calls = 0
        self.hits = 0

    def __call__(self, args, result, traced: bool) -> None:
        key = (id(args[0]),) + tuple(args[1:3])
        if traced:
            self.calls += 1
            self.hits += self._last.get(key) == id(result)
        self._last[key] = id(result)


class SparkCounters:
    """Spark's counters for the jobs of a job group, read from the
    status tracker (job -> stages) and the status store (per-stage task
    metrics), plus the JVM's cumulative GC time."""

    STAGE_FIELDS = (
        "numTasks",
        "numFailedTasks",
        "executorRunTime",
        "inputBytes",
        "inputRecords",
        "shuffleReadBytes",
        "shuffleWriteBytes",
        "memoryBytesSpilled",
        "diskBytesSpilled",
    )

    def __init__(self, spark) -> None:
        self.sc = spark.sparkContext
        self.tracker = self.sc.statusTracker()
        self.store = self.sc._jsc.sc().statusStore()
        jvm = self.sc._jvm
        self._no_quantiles = self.sc._gateway.new_array(jvm.double, 0)
        self._empty = jvm.java.util.ArrayList()
        self._gc_beans = list(
            jvm.java.lang.management.ManagementFactory.getGarbageCollectorMXBeans()
        )

    def gc_s(self) -> float:
        return sum(b.getCollectionTime() for b in self._gc_beans) / 1000.0

    def group_stats(self, group: str) -> dict[str, float]:
        """Sum of STAGE_FIELDS over every stage attempt of the group's
        jobs, plus job and stage counts and the tasks of stages that
        read input files (scan tasks)."""
        out = dict.fromkeys(self.STAGE_FIELDS, 0.0)
        out.update(jobs=0.0, stages=0.0, scan_tasks=0.0)
        for job_id in self.tracker.getJobIdsForGroup(group):
            info = self.tracker.getJobInfo(job_id)
            if info is None:
                continue
            out["jobs"] += 1
            for stage_id in info.stageIds:
                attempts = self.store.stageData(
                    stage_id, False, self._empty, False, self._no_quantiles
                )
                for i in range(attempts.size()):
                    st = attempts.apply(i)
                    vals = {f: float(getattr(st, f)()) for f in self.STAGE_FIELDS}
                    for f, v in vals.items():
                        out[f] += v
                    out["stages"] += 1
                    if vals["inputBytes"] > 0:
                        out["scan_tasks"] += vals["numTasks"]
        return out


class StreamProgress:
    """Collects StreamingQueryProgress events from a session's stream
    manager (register it on the session streams are built on)."""

    def __init__(self) -> None:
        self.events: list[dict] = []
        self._lock = threading.Lock()
        self._last = time.perf_counter()

    def listener(self):
        from pyspark.sql.streaming import StreamingQueryListener

        outer = self

        class _Listener(StreamingQueryListener):
            def onQueryStarted(self, event):
                pass

            def onQueryProgress(self, event):
                p = event.progress
                rec = {
                    "duration_ms": dict(p.durationMs),
                    "state": [
                        {
                            "commit_ms": s.commitTimeMs,
                            "rows": s.numRowsTotal,
                            "partitions": s.numShufflePartitions,
                        }
                        for s in p.stateOperators
                    ],
                }
                with outer._lock:
                    outer.events.append(rec)
                    outer._last = time.perf_counter()

            def onQueryIdle(self, event):
                pass

            def onQueryTerminated(self, event):
                pass

        return _Listener()

    QUIET_S = 0.3  # progress events trail a finished query by less
    LIMIT_S = 3.0

    def drain(self) -> list[dict]:
        """Wait until no event has arrived for QUIET_S (at most LIMIT_S),
        then hand over and forget the events so far."""
        t0 = time.perf_counter()
        while time.perf_counter() < t0 + self.LIMIT_S:
            with self._lock:
                if time.perf_counter() - max(self._last, t0) >= self.QUIET_S:
                    break
            time.sleep(0.05)
        with self._lock:
            out, self.events = self.events, []
        return out
