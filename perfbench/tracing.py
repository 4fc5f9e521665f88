"""Spans and Spark metrics for the traced run, measured from outside the
package.

Spans are recorded around the calls into each layer: the benchmark's own
session, builder and sink calls, plus wrappers installed on
``tables.load_table``, ``operators.dedup.persist_barrier`` and
``operators.dedup.connected_components`` before the query registry is
imported (the query modules bind those names at import). Spans live in
memory until the run ends. Spark's own metrics are read after each
top-level span, through the job group that span ran under, while the pass
clock is paused. Planning time comes from the query executions Spark runs
for the pass itself, through a ``QueryExecutionListener``, so tracing adds no
planning of its own.
"""

from __future__ import annotations

import json
import threading
import time
from collections import Counter
from contextlib import contextmanager

LAYERS = ("session", "tables", "queries", "operators", "spark", "sources")


class Tracer:
    def __init__(self) -> None:
        self.on = False
        self.spans: list[dict] = []
        self.stack: list[int] = []
        self.counts: Counter = Counter()
        self.paused_s = 0.0

    @contextmanager
    def span(self, name: str, layer: str, **attrs):
        if not self.on:
            yield None
            return
        sid = len(self.spans)
        rec = {"id": sid, "parent": self.stack[-1] if self.stack else None,
               "name": name, "layer": layer, **attrs}
        self.spans.append(rec)
        self.stack.append(sid)
        rec["start"] = time.perf_counter()
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self.stack.pop()

    @contextmanager
    def paused(self):
        """Work that is not part of the traced pass (metric reads)."""
        t0 = time.perf_counter()
        try:
            yield
        finally:
            self.paused_s += time.perf_counter() - t0

    def self_times(self, root: int) -> dict[str, float]:
        """Self time per layer over the spans under ``root``: a span's
        duration minus what its direct children cover."""
        kids: dict[int, float] = Counter()
        under = {root}
        for s in self.spans[root + 1 :]:
            if s["parent"] in under:
                under.add(s["id"])
                kids[s["parent"]] += s["end"] - s["start"]
        out: Counter = Counter()
        for s in self.spans:
            if s["id"] in under and s["layer"] in LAYERS:
                out[s["layer"]] += (s["end"] - s["start"]) - kids[s["id"]]
        return dict(out)

    def total(self, root: int, name: str) -> tuple[float, int]:
        """Inclusive seconds and call count of spans named ``name`` under
        ``root``, counting nested calls of the same name once."""
        under, inside = {root}, set()
        secs, n = 0.0, 0
        for s in self.spans[root + 1 :]:
            if s["parent"] not in under:
                continue
            under.add(s["id"])
            if s["name"] == name:
                n += 1
                if s["parent"] not in inside:
                    secs += s["end"] - s["start"]
            if s["name"] == name or s["parent"] in inside:
                inside.add(s["id"])
        return secs, n

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump(self.spans, f)


def install_wrappers(tracer: Tracer) -> None:
    """Wrap the layer entry points the query modules import by name. Must
    run before ``datapipeline_ops_spark.queries`` is imported."""
    from datapipeline_ops_spark import tables
    from datapipeline_ops_spark.operators import dedup

    load_table = tables.load_table
    persist_barrier = dedup.persist_barrier
    connected_components = dedup.connected_components

    def traced_load_table(spark, sf_dir, name):
        with tracer.span("load_table", "tables", table=name):
            return load_table(spark, sf_dir, name)

    def traced_persist_barrier(df, site):
        if not tracer.on:
            return persist_barrier(df, site)
        live = dedup._BARRIERS.get(site)
        with tracer.span("persist_barrier", "operators", site=site):
            out = persist_barrier(df, site)
        tracer.counts["barrier_calls"] += 1
        tracer.counts["barrier_hits"] += out is live
        return out

    def traced_connected_components(*args, **kwargs):
        with tracer.span("connected_components", "operators"):
            return connected_components(*args, **kwargs)

    tables.load_table = traced_load_table
    dedup.persist_barrier = traced_persist_barrier
    dedup.connected_components = traced_connected_components


# StageData getters summed over the stages of a job group
_STAGE_SUMS = {
    "run_ms": "executorRunTime",
    "cpu_ns": "executorCpuTime",
    "gc_ms": "jvmGcTime",
    "shuffle_read_bytes": "shuffleReadBytes",
    "shuffle_write_bytes": "shuffleWriteBytes",
    "spill_bytes": "diskBytesSpilled",
    "result_bytes": "resultSize",
    "output_bytes": "outputBytes",
    "output_records": "outputRecords",
    "tasks": "numCompleteTasks",
    "failed_tasks": "numFailedTasks",
}


class PlanListener:
    """A ``QueryExecutionListener`` (through the py4j callback server) that
    sums the analysis, optimization and planning phases of every query
    execution the session finishes: the sink's write command and any eager
    job a builder fires. The listener bus delivers late; read ``take_ms``
    after ``SparkProbe.group``, which drains the bus."""

    PHASES = ("analysis", "optimization", "planning")

    class Java:
        implements = ["org.apache.spark.sql.util.QueryExecutionListener"]

    def __init__(self, spark) -> None:
        self.spark = spark
        self.lock = threading.Lock()
        self.ms = 0

    def __enter__(self) -> "PlanListener":
        from pyspark.java_gateway import ensure_callback_server_started

        ensure_callback_server_started(self.spark.sparkContext._gateway)
        self.spark._jsparkSession.listenerManager().register(self)
        return self

    def __exit__(self, *exc) -> None:
        self.spark._jsparkSession.listenerManager().unregister(self)

    def _add(self, qe) -> None:
        phases = qe.tracker().phases()
        ms = 0
        for name in self.PHASES:
            summary = phases.get(name)
            if summary.isDefined():
                ms += summary.get().durationMs()
        with self.lock:
            self.ms += ms

    def onSuccess(self, func_name, qe, duration_ns) -> None:  # noqa: N802 - Java interface
        self._add(qe)

    def onFailure(self, func_name, qe, exception) -> None:  # noqa: N802 - Java interface
        self._add(qe)

    def take_ms(self) -> int:
        """Planning milliseconds since the last call."""
        with self.lock:
            ms, self.ms = self.ms, 0
        return ms


class SparkProbe:
    """Reads job and stage metrics of one job group from the status store.
    Each stage counts once per run, however many jobs reuse it."""

    def __init__(self, spark) -> None:
        self.sc = spark.sparkContext
        jsc = self.sc._jsc.sc()
        self.store = jsc.statusStore()
        self.bus = jsc.listenerBus()
        self.jsc = jsc
        self.seen: set[int] = set()

    def group(self, name: str) -> Counter:
        self.bus.waitUntilEmpty()  # the status store is fed by listener events
        out: Counter = Counter()
        tracker = self.sc.statusTracker()
        for jid in tracker.getJobIdsForGroup(name):
            job = self.store.job(jid)
            out["jobs"] += 1
            sub, done = job.submissionTime(), job.completionTime()
            if sub.isDefined() and done.isDefined():
                out["job_wall_ms"] += done.get().getTime() - sub.get().getTime()
            info = tracker.getJobInfo(jid)
            for sid in info.stageIds if info else ():
                if sid in self.seen:
                    continue
                try:
                    st = self.store.lastStageAttempt(sid)
                except Exception:  # noqa: BLE001 - stage never submitted
                    continue
                if st.status().toString() in ("SKIPPED", "PENDING"):
                    continue
                self.seen.add(sid)
                out["stages"] += 1
                for key, getter in _STAGE_SUMS.items():
                    out[key] += getattr(st, getter)()
                out["peak_exec_mem_bytes"] = max(
                    out["peak_exec_mem_bytes"], st.peakExecutionMemory()
                )
        return out

    def cached_bytes(self) -> int:
        return sum(r.memSize() + r.diskSize() for r in self.jsc.getRDDStorageInfo())
