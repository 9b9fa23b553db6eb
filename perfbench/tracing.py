"""Spans, counters and Spark job metrics for the traced run.

Spans are recorded around the calls the benchmark makes into each engine
layer (the engine itself carries no instrumentation): ``TracedTableStore``
wraps the store's public methods, ``TracedFetcher`` wraps the injected
fetcher, and every operation runs in its own Spark job group whose jobs,
stages and task metrics are read back from the SparkContext status
tracker and status store after the operation returns.

The run is single-threaded (one closed-loop client), so spans nest
strictly and a span's self time is its duration minus the union of its
children's intervals.
"""

from __future__ import annotations

import functools
import json
import time
from collections import defaultdict
from contextlib import contextmanager

from designing_data_warehouse_in_sql_server_spark.sources.table_store import TableStore

STORE_METHODS = ("merge", "append", "update", "read", "read_changes", "row_count")
SPARK_COUNTS = ("jobs", "stages", "tasks", "shuffle_write_bytes", "input_bytes",
                "input_records")


class Tracer:
    """In-memory span and counter log. Disabled, every call is a no-op, so
    the untraced run executes the same harness code."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self.counts: dict[int, dict[str, float]] = defaultdict(lambda: defaultdict(float))
        self.op_id: int | None = None
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        rec = {"name": name, "start": time.perf_counter(), "end": None,
               "parent": self._stack[-1] if self._stack else None, "op": self.op_id}
        self.spans.append(rec)
        self._stack.append(len(self.spans) - 1)
        try:
            yield
        finally:
            self._stack.pop()
            rec["end"] = time.perf_counter()

    @contextmanager
    def paused(self):
        """Record nothing inside (the output checks between operations)."""
        was, self.enabled = self.enabled, False
        try:
            yield
        finally:
            self.enabled = was

    def count(self, name: str, n: float = 1) -> None:
        if self.enabled and self.op_id is not None:
            self.counts[self.op_id][name] += n

    def self_times(self) -> list[float]:
        """Self time of every span, index-aligned with ``spans``."""
        children: dict[int, list[tuple[float, float]]] = defaultdict(list)
        for s in self.spans:
            if s["parent"] is not None:
                children[s["parent"]].append((s["start"], s["end"]))
        out = []
        for i, s in enumerate(self.spans):
            covered, reach = 0.0, s["start"]
            for a, b in sorted(children[i]):
                a, b = max(a, reach), min(b, s["end"])
                if b > a:
                    covered += b - a
                    reach = b
            out.append(s["end"] - s["start"] - covered)
        return out

    def op_layers(self, op_id: int) -> dict[str, float]:
        """Summed self time per span name within one operation."""
        out: dict[str, float] = defaultdict(float)
        for s, self_s in zip(self.spans, self.self_times()):
            if s["op"] == op_id:
                out[s["name"]] += self_s
        return out

    def dump(self, path: str) -> None:
        with open(path, "w") as fh:
            for s, self_s in zip(self.spans, self.self_times()):
                fh.write(json.dumps({**s, "self": self_s}) + "\n")
            for op, counts in sorted(self.counts.items()):
                fh.write(json.dumps({"op": op, "counts": counts}) + "\n")


def _traced(method):
    name = f"sources.table_store.{method.__name__}"

    @functools.wraps(method)
    def run(self, *args, **kwargs):
        self.tracer.count(name + "_calls")
        with self.tracer.span(name):
            return method(self, *args, **kwargs)

    return run


class TracedTableStore(TableStore):
    """A ``TableStore`` whose public read/write methods record a span and
    a call count. The store's own internal calls (a merge reading its
    target) go through the same wrappers and nest as child spans."""

    def __init__(self, spark, root: str, tracer: Tracer):
        super().__init__(spark, root)
        self.tracer = tracer

    merge = _traced(TableStore.merge)
    append = _traced(TableStore.append)
    update = _traced(TableStore.update)
    read = _traced(TableStore.read)
    read_changes = _traced(TableStore.read_changes)
    row_count = _traced(TableStore.row_count)


class TracedFetcher:
    """Wraps the injected ``Fetcher``: one span per HTTP-call analog and
    call/failure counts (``fetch_with_retry`` swallows the failures, so
    this is the only place they are visible)."""

    def __init__(self, fetcher, tracer: Tracer):
        self.fetcher = fetcher
        self.tracer = tracer

    def __call__(self, city: str, start: str, end: str) -> str:
        self.tracer.count("sources.http_api.fetch_calls")
        with self.tracer.span("sources.http_api.fetch"):
            try:
                return self.fetcher(city, start, end)
            except Exception:
                self.tracer.count("sources.http_api.fetch_failures")
                raise


class SparkJobProbe:
    """Per-operation Spark work, from the job group the operation ran in."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self._store = self.sc._jsc.sc().statusStore()
        self._bus = self.sc._jsc.sc().listenerBus()
        gw = self.sc._gateway
        self._no_status = gw.jvm.java.util.ArrayList()
        self._no_quantiles = gw.new_array(gw.jvm.double, 0)

    def begin(self, group: str) -> None:
        self.sc.setJobGroup(group, group, False)

    def end(self, group: str) -> dict[str, float]:
        """Jobs, executed stages, tasks, shuffle-write bytes, input bytes
        and records and executor run time of every job the group ran."""
        self.sc.setLocalProperty("spark.jobGroup.id", None)
        self._bus.waitUntilEmpty()  # the status store is fed asynchronously
        tracker = self.sc.statusTracker()
        jobs = tracker.getJobIdsForGroup(group)
        stage_ids = set()
        for j in jobs:
            info = tracker.getJobInfo(j)
            if info is not None:
                stage_ids.update(info.stageIds)
        out = dict.fromkeys(SPARK_COUNTS, 0.0)
        out["jobs"] = float(len(jobs))
        out["executor_run_s"] = 0.0
        for sid in stage_ids:
            attempts = self._store.stageData(sid, False, self._no_status, False, self._no_quantiles)
            it = attempts.iterator()
            while it.hasNext():
                st = it.next()
                if st.status().toString() != "COMPLETE":
                    continue  # skipped: its shuffle output was reused
                out["stages"] += 1
                out["tasks"] += st.numTasks()
                out["shuffle_write_bytes"] += st.shuffleWriteBytes()
                out["input_bytes"] += st.inputBytes()
                out["input_records"] += st.inputRecords()
                out["executor_run_s"] += st.executorRunTime() / 1000.0
        return out
