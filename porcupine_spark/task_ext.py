"""Repetition-aware IO tasks and control combinators (SURVEY §2.1/§2.2).

The per-index read/write family (VirtualFileAccess.hs:89-182) and the
stream utilities (Streaming/TaskPipelineUtils.hs) — each as the Spark
construct it wants to be:

- ``load_indexed``  ≙ loadDataStream/loadDataList (:89-111): one
  occurrence of a repeated dataset per index, index recovered as a
  column. Per-index paths are unioned scans (Catalyst merges them into
  one multi-path FileScan); a partition-keyed layout instead becomes a
  single partition-pruned scan via ``load_partitioned``.
- ``try_load_indexed`` ≙ tryLoadDataStream (:114-122): per-element
  failure tolerance — missing/corrupt occurrences become error rows,
  not job failures.
- ``write_partitioned`` ≙ writeDataStream/writeDataList/writeDataFold
  (:156-182): every (idx, rows) occurrence lands in its own
  ``idx=<v>`` directory via partitionBy — one job, no driver loop.
- ``read_folder``     ≙ streamFolder (TaskPipelineUtils.hs:49-65):
  recursive listing with provenance (input_file_name).
- ``tee``             ≙ mapCopy/hoistCopy (:119-134): fan one frame out
  to N sinks, one of them transformed; frame persisted so upstream
  computes once.
- ``try_task`` / ``catch_and_log`` ≙ tryTask/catchAndLog
  (PTask.hs:66-95).

Writes follow the build-then-write model of ``task.py``: ``tee`` and
``write_partitioned`` submit through ``RunCtx.submit``, so under a
batching ``fanout``/``both`` they run in the write phase, concurrently
with the batch's other writes. A ``tee`` is ONE batch entry: it
persists its frame and builds every sink's plan at build time, then
writes its sinks in order and unpersists the frame (also on failure)
in the write phase. Its sinks are not written concurrently with each
other: every concurrent consumer of a not-yet-filled persisted frame
would plan its own materialization of it. ``try_task``,
``catch_and_log`` and ``clocked`` are barriers: they finish the
pending writes, then run their task with batching suspended, so the
errors they catch and the time they report are their task's own.
"""

from __future__ import annotations

from collections.abc import Callable, Sequence
from typing import Any

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.storagelevel import StorageLevel

from porcupine_spark.catalog import splice_vars
from porcupine_spark.task import RunCtx, Task, _resolve


def load_indexed(name: str, var: str, indices: Sequence[Any]) -> Task:
    """() -> DataFrame with an ``idx`` column; one layer-0 occurrence per
    index. All per-index paths go into ONE spark.read (single FileScan)
    when schemas agree; the index is recovered from the path."""

    def runner(ctx: RunCtx, _):
        ds = ctx.bound.catalog[_resolve(ctx, name)]
        locs = ctx.bound.locations(_resolve(ctx, name))
        if locs is None:
            raise ValueError(f"{name!r} unmapped")
        loc = locs[0]
        serial = ds.serials.for_ext(loc.ext)
        frames = []
        for idx in indices:
            path = splice_vars(loc.path, {**ctx.bound.variables, **ctx.variables, var: idx})
            df = serial.read(ctx.spark, path, ds.schema)
            frames.append(df.withColumn("idx", F.lit(idx)))
        out = frames[0]
        for f_ in frames[1:]:
            out = out.unionByName(f_)
        return out

    return Task(runner, reads=frozenset({name}), name=f"load_indexed:{name}")


def try_load_indexed(name: str, var: str, indices: Sequence[Any]) -> Task:
    """Failure-tolerant variant: returns (DataFrame, [(idx, error)])."""

    def runner(ctx: RunCtx, _):
        ds = ctx.bound.catalog[_resolve(ctx, name)]
        loc = (ctx.bound.locations(_resolve(ctx, name)) or [None])[0]
        serial = ds.serials.for_ext(loc.ext)
        frames, errors = [], []
        for idx in indices:
            path = splice_vars(loc.path, {**ctx.bound.variables, **ctx.variables, var: idx})
            try:
                df = serial.read(ctx.spark, path, ds.schema)
                df.schema  # force analysis so missing paths raise here
                frames.append(df.withColumn("idx", F.lit(idx)))
            except Exception as e:  # noqa: BLE001
                errors.append((idx, f"{type(e).__name__}: {e}"))
        out = None
        if frames:
            out = frames[0]
            for f_ in frames[1:]:
                out = out.unionByName(f_)
        return out, errors

    return Task(runner, reads=frozenset({name}), name=f"try_load_indexed:{name}")


def write_partitioned(name: str, idx_col: str, mode: str = "overwrite") -> Task:
    """DataFrame -> written paths; one physical dir per index value
    (…/idx=v/part-*.parquet) in a single distributed job."""

    def runner(ctx: RunCtx, df: DataFrame):
        resolved = _resolve(ctx, name)
        ds = ctx.bound.catalog[resolved]
        paths = ctx.bound.write_paths(resolved, variables=ctx.variables)
        targets = []
        for loc, path in zip(ctx.bound.locations(resolved) or [], paths):
            serial = ds.serials.for_ext(loc.ext)
            targets.append((serial.pre_write(df) if serial.pre_write else df, serial, path))

        def write_all():
            for out, serial, path in targets:
                (
                    out.write.format(serial.format)
                    .mode(mode)
                    .partitionBy(idx_col)
                    .options(**serial.options)
                    .save(path)
                )

        ctx.submit(write_all, paths)
        return paths

    return Task(runner, writes=frozenset({name}), name=f"write_partitioned:{name}")


def load_partitioned(name: str, idx_col: str, indices: Sequence[Any] | None = None) -> Task:
    """Partition-pruned read-back of a partitioned layout; with indices
    given, the filter prunes directories at planning time."""

    def runner(ctx: RunCtx, _):
        df = ctx.bound.read(ctx.spark, _resolve(ctx, name), variables=ctx.variables)
        if indices is not None:
            df = df.filter(F.col(idx_col).isin(list(indices)))
        return df

    return Task(runner, reads=frozenset({name}), name=f"load_partitioned:{name}")


def read_folder(
    spark: SparkSession, path: str, fmt: str = "parquet", recursive: bool = True, **options
) -> DataFrame:
    """streamFolder: recursive scan with file provenance column."""
    reader = spark.read.format(fmt).option("recursiveFileLookup", str(recursive).lower())
    for k, v in options.items():
        reader = reader.option(k, v)
    return reader.load(path).withColumn("source_file", F.input_file_name())


def tee(*sinks: tuple[str, Callable[[DataFrame], DataFrame] | None]) -> Task:
    """mapCopy: persist the input frame, write it to every (sink,
    transform) pair in order, unpersist. Upstream computes ONCE.
    Returns {sink: paths}."""

    def runner(ctx: RunCtx, df: DataFrame):
        df = df.persist(StorageLevel.MEMORY_AND_DISK)
        outs, written = [], {}
        try:
            for sink_name, transform in sinks:
                resolved = _resolve(ctx, sink_name)
                outs.append((resolved, transform(df) if transform else df))
                written[sink_name] = ctx.bound.write_paths(resolved, variables=ctx.variables)
        except BaseException:
            df.unpersist()
            raise

        def write_all():
            try:
                for resolved, out in outs:
                    ctx.bound.write(out, resolved, variables=ctx.variables)
            finally:
                df.unpersist()

        ctx.submit(write_all, [p for paths in written.values() for p in paths])
        return written

    return Task(
        runner, writes=frozenset(s for s, _ in sinks), name=f"tee:{','.join(s for s, _ in sinks)}"
    )


def try_task(task: Task) -> Task:
    """tryTask (PTask.hs:66-70): a -> ('ok', b) | ('err', exception).
    A barrier (see the module docstring)."""

    def runner(ctx: RunCtx, x):
        ctx = ctx.barrier()
        try:
            return ("ok", task.run(ctx, x))
        except Exception as e:  # noqa: BLE001
            return ("err", e)

    return Task(runner, task.reads, task.writes, name=f"try:{task.name}")


def catch_and_log(task: Task, default: Any = None) -> Task:
    """catchAndLog (PTask.hs:84-95): log the error, continue with default.
    A barrier (see the module docstring)."""
    import logging

    def runner(ctx: RunCtx, x):
        ctx = ctx.barrier()
        try:
            return task.run(ctx, x)
        except Exception:  # noqa: BLE001
            logging.getLogger("porcupine_spark").exception(
                "task %s failed; continuing with default", task.name
            )
            return default

    return Task(runner, task.reads, task.writes, name=f"catch:{task.name}")


def partition_by_predicate(df: DataFrame, cond) -> tuple[DataFrame, DataFrame]:
    """S.partition / S.partitionEithers (Streaming/TaskPipelineUtils.hs:
    71-114): one frame split into (matching, non-matching). Both halves
    share the parent plan; persist the parent first if both sides are
    expensive to recompute."""
    return df.filter(cond), df.filter(~cond)


def with_context(task: Task, **context) -> Task:
    """addStaticContextToTask (PTask.hs:155-170): attach structured
    key=values to every log record emitted under this task."""
    import logging

    class _Ctx(logging.Filter):
        def filter(self, record):
            record.task_context = context
            return True

    def runner(ctx: RunCtx, x):
        log = logging.getLogger("porcupine_spark")
        f = _Ctx()
        log.addFilter(f)
        try:
            return task.run(ctx, x)
        finally:
            log.removeFilter(f)

    return Task(runner, task.reads, task.writes, name=task.name)


def clocked(task: Task) -> Task:
    """clockTask (PTask.hs:112-126): a -> (result, wall_seconds).
    A barrier (see the module docstring): the time includes the task's
    writes and nothing written before it."""
    import time as _time

    def runner(ctx: RunCtx, x):
        ctx = ctx.barrier()
        t0 = _time.perf_counter()
        out = task.run(ctx, x)
        return out, _time.perf_counter() - t0

    return Task(runner, task.reads, task.writes, name=f"clocked:{task.name}")
