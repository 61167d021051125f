"""Per-layer measurement for traced passes, taken from outside the engine.

Three sources, all read from the benchmark's own process:

- spans the benchmark records around calls into each layer (query
  builders and actions, ``BoundCatalog.read``/``write``,
  ``CacheStore.get``/``put``, pipeline stages);
- Spark's status store (jobs and stages, plus the SQL store for Python
  worker time), read after each traced pass; each job is attributed to a
  span by the job group the benchmark set, and jobs that carry no group
  of ours (stream micro-batches run on the stream's own thread) by the
  span whose wall-clock window holds the job's submission time;
- the progress of every streaming query started during the pass. The
  queries run in sessions the builders clone, which a listener on the
  benchmark's session would not see, so ``DataStreamWriter.start`` is
  wrapped to collect them.
"""

from __future__ import annotations

import json
import os
import re
import time
from contextlib import contextmanager

GROUP_PREFIX = "perfbench:"
PY_TIME_METRIC = "time to run Python workers"
_MB = 1e6


class Span:
    __slots__ = ("layer", "name", "t0", "t1", "group")

    def __init__(self, layer: str, name: str, t0: float, t1: float, group: str | None):
        self.layer, self.name, self.t0, self.t1, self.group = layer, name, t0, t1, group

    @property
    def dur(self) -> float:
        return self.t1 - self.t0


class Tracer:
    """Collects spans for one pass. ``enabled`` False makes every call a
    no-op, so untraced passes run the same benchmark code path.
    ``own_s`` is the time the pass spent in the tracer's own bookkeeping
    (job-group calls into the JVM, span records): the cost tracing adds
    to the pass wall."""

    def __init__(self, spark, enabled: bool):
        self.spark = spark
        self.enabled = enabled
        self.spans: list[Span] = []
        self.written: list[str] = []
        self.queries: list = []
        self.own_s = 0.0
        self._seq = 0

    def reset(self) -> None:
        self.spans, self.written, self.queries = [], [], []
        self.own_s = 0.0

    @contextmanager
    def span(self, layer: str, name: str, tag_jobs: bool = False):
        if not self.enabled:
            yield
            return
        c0 = time.perf_counter()
        sc = self.spark.sparkContext
        group = None
        if tag_jobs:
            self._seq += 1
            group = f"{GROUP_PREFIX}{self._seq}:{layer}:{name}"
            sc.setJobGroup(group, f"{name} {layer}")
        t0 = time.time()
        c1 = time.perf_counter()
        try:
            yield
        finally:
            c2 = time.perf_counter()
            self.spans.append(Span(layer, name, t0, time.time(), group))
            if tag_jobs:
                sc.setLocalProperty("spark.jobGroup.id", None)
                sc.setLocalProperty("spark.job.description", None)
            if layer != "verify":  # the output check runs outside the timed region
                self.own_s += (c1 - c0) + (time.perf_counter() - c2)


@contextmanager
def patched_layers(tracer: Tracer):
    """Wrap the catalog and cache entry points with span recorders, and
    stream starts with a query collector, for the duration of the block;
    the originals are restored afterwards."""
    from pyspark.sql.streaming.readwriter import DataStreamWriter

    from porcupine_spark.cache import CacheStore
    from porcupine_spark.catalog import BoundCatalog

    originals = []

    def wrap(cls, attr, layer, record_paths=False):
        orig = getattr(cls, attr)

        def wrapper(self, *a, **kw):
            t0 = time.time()
            out = orig(self, *a, **kw)
            c0 = time.perf_counter()
            name = "miss" if attr == "get" and out is None else attr
            tracer.spans.append(Span(layer, name, t0, time.time(), None))
            if record_paths and out:
                tracer.written.extend(out)
            tracer.own_s += time.perf_counter() - c0
            return out

        originals.append((cls, attr, orig))
        setattr(cls, attr, wrapper)

    wrap(BoundCatalog, "read", "catalog.read")
    wrap(BoundCatalog, "write", "catalog.write", record_paths=True)
    wrap(CacheStore, "get", "cache.get")
    wrap(CacheStore, "put", "cache.put")
    orig_start = DataStreamWriter.start

    def start(self, *a, **kw):
        q = orig_start(self, *a, **kw)
        tracer.queries.append(q)
        return q

    originals.append((DataStreamWriter, "start", orig_start))
    DataStreamWriter.start = start
    try:
        yield
    finally:
        for cls, attr, orig in originals:
            setattr(cls, attr, orig)


def stream_metrics(queries) -> dict[str, float]:
    """Micro-batches, addBatch time and final state-store rows of the
    streaming queries started during a pass (their progress buffers stay
    readable after ``stop``)."""
    batches, add_ms, state_rows = 0, 0, 0
    for q in queries:
        progress = q.recentProgress
        batches += len(progress)
        add_ms += sum(int(p.durationMs.get("addBatch", 0) or 0) for p in progress)
        if progress:
            state_rows += sum(int(op.numRowsTotal) for op in progress[-1].stateOperators)
    return {
        "stream.batches": batches,
        "stream.add_batch_s": add_ms / 1e3,
        "stream.state_rows": state_rows,
    }


def _jvm_json(spark, obj) -> list | dict:
    jvm = spark._jvm
    mapper = jvm.com.fasterxml.jackson.databind.ObjectMapper()
    mapper.registerModule(jvm.com.fasterxml.jackson.module.scala.DefaultScalaModule())
    return json.loads(mapper.writeValueAsString(obj))


def drain_listener_bus(spark) -> None:
    # an action returns to the caller before the scheduler posts its
    # job-end event; give the last events time to be posted, then wait
    # until the status store has consumed everything queued
    time.sleep(1.0)
    spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty(10_000)


def fetch_status(spark) -> tuple[list, dict, list]:
    """(jobs, stages by id, SQL executions) from the live status store."""
    sc = spark.sparkContext._jsc.sc()
    store = sc.statusStore()
    jobs = _jvm_json(spark, store.jobsList(None))
    stages = {}
    no_quantiles = spark.sparkContext._gateway.new_array(spark._jvm.double, 0)
    for s in _jvm_json(spark, store.stageList(None, False, False, no_quantiles, None)):
        if s.get("status") != "SKIPPED":
            stages[(s["stageId"], s["attemptId"])] = s
    sql = _jvm_json(spark, spark._jsparkSession.sharedState().statusStore().executionsList())
    return jobs, stages, sql


_DUR = re.compile(r"([\d.]+)\s*(ms|s|m|h)\b")
_UNIT_S = {"ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0}


def _metric_seconds(text: str) -> float:
    # timing metrics render as "total (min, med, max ...)\n<total> (<min>, ...)"
    # or just "<total>" for a single task
    line = text.split("\n")[-1]
    m = _DUR.search(line)
    return float(m.group(1)) * _UNIT_S[m.group(2)] if m else 0.0


def _union_seconds(intervals: list[tuple[float, float]]) -> float:
    total, end = 0.0, float("-inf")
    for a, b in sorted(intervals):
        if b <= end:
            continue
        total += b - max(a, end)
        end = b
    return total


def pass_metrics(spark, tracer: Tracer, t_start: float, t_end: float) -> dict[str, float]:
    """Aggregate one traced pass into the per-layer metrics."""
    drain_listener_bus(spark)
    jobs, stages, sql = fetch_status(spark)
    ms = 1e3
    # the output check's jobs run in the pass window but outside its
    # timed region; they are not the workload's
    checks = {s.group for s in tracer.spans if s.layer == "verify"}
    mine = [
        j for j in jobs
        if j.get("submissionTime") is not None
        and t_start * ms <= j["submissionTime"] <= t_end * ms
        and j.get("jobGroup") not in checks
    ]
    def owner_spans(job):
        sub = job["submissionTime"] / ms
        owners = [s for s in tracer.spans if s.group and s.group == job.get("jobGroup")]
        return owners + [s for s in tracer.spans if s.t0 <= sub <= s.t1 and s not in owners]

    layer_jobs: dict[str, int] = {}
    build_busy: dict[int, list] = {}
    for j in mine:
        for s in owner_spans(j):
            layer_jobs[s.layer] = layer_jobs.get(s.layer, 0) + 1
            if s.layer == "build":
                end = (j.get("completionTime") or t_end * ms) / ms
                build_busy.setdefault(id(s), []).append(
                    (max(j["submissionTime"] / ms, s.t0), min(end, s.t1))
                )

    def layer_s(layer):
        return sum(s.dur for s in tracer.spans if s.layer == layer)

    builds = [s for s in tracer.spans if s.layer == "build"]
    gap = sum(b.dur - _union_seconds(build_busy.get(id(b), [])) for b in builds)

    # a shuffle stage shared by several jobs runs once; count it once
    stage_ids = {sid for j in mine for sid in j.get("stageIds", [])}
    stage_rows = [v for (sid, _), v in stages.items() if sid in stage_ids]
    job_ids = {j["jobId"] for j in mine}
    py_s = 0.0
    for ex in sql:
        if not job_ids.intersection(int(k) for k in (ex.get("jobs") or {})):
            continue
        values = ex.get("metricValues") or {}
        for m in ex.get("metrics", []):
            if m.get("name") == PY_TIME_METRIC and str(m["accumulatorId"]) in values:
                py_s += _metric_seconds(values[str(m["accumulatorId"])])

    def stage_sum(key):
        return sum(s.get(key, 0) or 0 for s in stage_rows)

    build_s, action_s = layer_s("build"), layer_s("action")
    out = {
        "builder.s": build_s,
        "builder.jobs": layer_jobs.get("build", 0),
        "builder.share": build_s / (build_s + action_s) if build_s + action_s else 0.0,
        "driver.gap_s": gap,
        "action.s": action_s,
        "action.jobs": layer_jobs.get("action", 0),
        "spark.jobs": len(mine),
        "spark.stages": len(stage_rows),
        "spark.tasks": stage_sum("numCompleteTasks"),
        "spark.task_s": stage_sum("executorRunTime") / ms,
        "spark.gc_s": stage_sum("jvmGcTime") / ms,
        "spark.input_mb": stage_sum("inputBytes") / _MB,
        "spark.input_rows": stage_sum("inputRecords"),
        "spark.shuffle_read_mb": stage_sum("shuffleReadBytes") / _MB,
        "spark.shuffle_write_mb": stage_sum("shuffleWriteBytes") / _MB,
        "spark.spill_mb": (stage_sum("memoryBytesSpilled") + stage_sum("diskBytesSpilled")) / _MB,
        "python.udf_s": py_s,
        "catalog.read_calls": sum(1 for s in tracer.spans if s.layer == "catalog.read"),
        "catalog.read_s": layer_s("catalog.read"),
        "catalog.read_jobs": layer_jobs.get("catalog.read", 0),
        "catalog.write_s": layer_s("catalog.write"),
        "cache.hits": sum(1 for s in tracer.spans if s.layer == "cache.get" and s.name == "get"),
        "cache.get_s": layer_s("cache.get"),
        "cache.put_s": layer_s("cache.put"),
        "cache.misses": sum(1 for s in tracer.spans if s.layer == "cache.get" and s.name == "miss"),
    }
    files, size = tree_size(tracer.written)
    out.update(stream_metrics(tracer.queries))
    out["catalog.write_mb"] = size / _MB
    out["catalog.write_files"] = files
    out["tracing.overhead_s"] = tracer.own_s
    for s in tracer.spans:
        if s.layer == "task":
            key = f"task.{s.name}_s"
            out[key] = out.get(key, 0.0) + s.dur
    return out


def tree_size(paths) -> tuple[int, int]:
    """(data files, bytes) under the given files or directories; Spark's
    marker and checksum files are not data."""
    files = size = 0
    for p in paths:
        found = [p] if os.path.isfile(p) else [
            os.path.join(root, n) for root, _, names in os.walk(p) for n in names
        ]
        for f in found:
            if not os.path.basename(f).startswith(("_", ".")):
                files += 1
                size += os.path.getsize(f)
    return files, size
