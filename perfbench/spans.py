"""In-memory spans for the traced run, and per-layer Spark metrics read
from the driver's own status store.

Every layer call in a traced pass runs under the Spark job group
``<workload>:<layer>``. After the pass, the listener bus is drained and the
status store's jobs of that group give the layer's stages, whose task-time,
CPU-time, shuffle and spill totals are summed. The status store is kept even
with the Spark UI disabled.
"""

from __future__ import annotations

import itertools
import json
import time
from contextlib import contextmanager
from pathlib import Path

#: Per-layer metric names every Spark layer reports (``<layer>.<name>``).
SPARK_LAYER_METRICS = (
    "wall_s", "task_s", "cpu_s", "jobs", "stages", "tasks", "failed_tasks",
    "shuffle_mb", "spill_mb", "rows_out", "persisted_after",
)


class Tracer:
    """Spans kept in memory and written out once, when the run ends."""

    def __init__(self, trace_id: str):
        self.trace_id = trace_id
        self.spans: list[dict] = []
        self._ids = itertools.count(1)
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str, **attrs):
        span_id = next(self._ids)
        rec = {
            "trace_id": self.trace_id,
            "span_id": span_id,
            "parent": self._stack[-1] if self._stack else None,
            "name": name,
            "start": time.perf_counter(),
            "end": None,
            "attrs": dict(attrs),
        }
        self.spans.append(rec)
        self._stack.append(span_id)
        try:
            yield rec["attrs"]
        finally:
            self._stack.pop()
            rec["end"] = time.perf_counter()

    def duration(self, name: str) -> float:
        return sum(s["end"] - s["start"] for s in self.spans if s["name"] == name)

    def self_time(self, name: str) -> float:
        """Summed duration of the spans called ``name``, minus the part of
        each that its child spans cover. Children named ``<name>.<part>``
        are parts of the same layer and are not subtracted."""
        total = 0.0
        for s in self.spans:
            if s["name"] != name:
                continue
            kids = sum(c["end"] - c["start"] for c in self.spans
                       if c["parent"] == s["span_id"] and not c["name"].startswith(name + "."))
            total += (s["end"] - s["start"]) - kids
        return total

    def write(self, path: Path, extra: dict) -> None:
        t0 = min((s["start"] for s in self.spans), default=0.0)
        spans = [
            {**s, "start": s["start"] - t0, "end": s["end"] - t0} for s in self.spans
        ]
        path.write_text(json.dumps({**extra, "spans": spans}, indent=1))


@contextmanager
def job_group(spark, group: str):
    """Run the body's Spark jobs under ``group``; restores the enclosing
    group on exit, so groups nest."""
    sc = spark.sparkContext
    prev = sc.getLocalProperty("spark.jobGroup.id")
    sc.setJobGroup(group, group)
    try:
        yield
    finally:
        if prev is None:
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)
        else:
            sc.setJobGroup(prev, prev)


def group_metrics(spark, group: str) -> dict[str, float]:
    """Sum the status store's stage data over the jobs of one job group."""
    jsc = spark.sparkContext._jsc.sc()
    jsc.listenerBus().waitUntilEmpty(30_000)
    store = jsc.statusStore()
    gw = spark.sparkContext._gateway
    no_statuses = gw.jvm.java.util.ArrayList()
    no_quantiles = gw.new_array(gw.jvm.double, 0)

    jobs = store.jobsList(None)
    stage_ids: set[int] = set()
    n_jobs = 0
    for i in range(jobs.size()):
        job = jobs.apply(i)
        if job.jobGroup().isDefined() and job.jobGroup().get() == group:
            n_jobs += 1
            ids = job.stageIds()
            stage_ids.update(int(ids.apply(k)) for k in range(ids.size()))

    m = dict.fromkeys(("task_s", "cpu_s", "stages", "tasks", "failed_tasks",
                       "shuffle_mb", "spill_mb"), 0.0)
    for sid in sorted(stage_ids):
        attempts = store.stageData(sid, False, no_statuses, False, no_quantiles)
        for k in range(attempts.size()):
            st = attempts.apply(k)
            if st.status().toString() == "SKIPPED":
                continue
            m["stages"] += 1
            m["tasks"] += st.numCompleteTasks() + st.numFailedTasks()
            m["failed_tasks"] += st.numFailedTasks()
            m["task_s"] += st.executorRunTime() / 1e3
            m["cpu_s"] += st.executorCpuTime() / 1e9
            m["shuffle_mb"] += st.shuffleWriteBytes() / 1e6
            m["spill_mb"] += st.diskBytesSpilled() / 1e6
    m["jobs"] = float(n_jobs)
    return m


def persisted_rdds(spark) -> int:
    return int(spark.sparkContext._jsc.getPersistentRDDs().size())


class LayerRun:
    """One traced pass: each layer call is a span and a Spark job group, and
    its output is materialized (``persist`` + ``count``) at the boundary.

    ``persisted_after`` counts the RDDs the *program* keeps persisted: the
    boundary caches this class adds itself are subtracted."""

    def __init__(self, spark, tracer: Tracer, workload: str):
        self.spark = spark
        self.tracer = tracer
        self.workload = workload
        self.rows: dict[str, int] = {}
        self.persisted: dict[str, int] = {}
        self.extra: dict[str, float] = {}
        self.held: list = []

    def group(self, layer: str) -> str:
        return f"{self.workload}:{layer}"

    @contextmanager
    def layer(self, layer: str):
        """Span + job group for a layer whose outputs the body consumes
        itself (collects), rather than a DataFrame to materialize."""
        with self.tracer.span(layer), job_group(self.spark, self.group(layer)):
            yield
        self.persisted[layer] = persisted_rdds(self.spark) - len(self.held)

    def run(self, layer: str, build):
        with self.layer(layer):
            df = build()
            if not df.is_cached:
                df = df.persist()
                self.held.append(df)
            self.rows[layer] = self.rows.get(layer, 0) + df.count()
        return df

    def release(self) -> None:
        for df in self.held:
            df.unpersist()
        self.held.clear()

    def metrics(self, layers: tuple[str, ...]) -> dict[str, float]:
        """``<layer>.<metric>`` for every layer in ``layers``; layers the
        pass did not call report zeros."""
        out: dict[str, float] = {}
        for layer in layers:
            called = any(s["name"] == layer for s in self.tracer.spans)
            m = group_metrics(self.spark, self.group(layer)) if called else {}
            m["wall_s"] = self.tracer.self_time(layer)
            m["rows_out"] = float(self.rows.get(layer, 0))
            m["persisted_after"] = float(self.persisted.get(layer, 0))
            for name in SPARK_LAYER_METRICS:
                out[f"{layer}.{name}"] = float(m.get(name, 0.0))
        out.update(self.extra)
        return out
