"""Composable tasks with *statically accumulated* requirements.

The reference's ``PTask`` is an arrow that writes its resource
requirements into a ``VirtualTree`` while composing (PTask/Internal.hs:
113-119) and deliberately has no ArrowChoice so the requirement set is
known before execution (:120-130). Here a ``Task`` carries (a) the set
of dataset names it may read/write and (b) a runner ``(RunCtx, input)
-> output``; composition (``>>`` / ``then_``, ``both``, ``fanout``)
unions requirements — a data-dependent resource acquisition is
impossible to express, exactly as in the reference.

Execution model: build, then write.

- The runner manipulates lazy DataFrames: "running" a pipeline builds
  Spark plans. Reads, cache hits and puts, and any eager action an
  operator takes (checkpoints, collects) happen as the runner reaches
  them, on the calling thread, in composition order — the *build
  phase*.
- Every sink write goes through ``RunCtx.submit``. Outside a batch it
  runs at once. Inside a batch it is deferred to the batch's *write
  phase*, and the task returns the paths it will write.
- ``fanout`` / ``both`` open a batch when their static requirements
  say the branches are independent: the combined reads do not overlap
  the combined writes, and the two branches do not write the same
  dataset. The outermost such combinator owns the batch; nested ones
  add their writes to it. When its build phase ends, the batch's
  writes run concurrently (``functions/concurrent.run_concurrently``),
  so independent sinks share the cores instead of queueing. A fanout
  whose branches depend on each other (one loads what the other
  writes) runs sequentially with immediate writes, as a plain
  sequence would.
- A write to a path that already has a pending write first finishes
  the batch, so repeated writes to one dataset keep their order.
- Barriers: ``io_task`` (and ``task_ext``'s ``try_task``,
  ``catch_and_log`` and ``clocked``) first finish every pending write,
  then run their body with batching suspended, so driver-side effects
  see the data written before them, and caught errors and timings
  cover exactly the body.
- Failure: if a deferred write fails, the other writes of the batch
  still finish, then the first error (in submission order) is raised
  from ``run_pipeline``. If the build phase itself fails, the writes
  it already submitted still run — as they would have in sequence —
  and the build error is raised.
- ``named`` times the build of its task; deferred writes are not in
  that figure.

Unmapped sinks are skipped (the reference's dead-sink pruning becomes
Spark laziness + the explicit unmapped-sink skip in BoundCatalog.write).
"""

from __future__ import annotations

import logging
import time
from collections.abc import Callable
from dataclasses import dataclass, field, replace
from typing import Any

from pyspark.sql import SparkSession

from porcupine_spark.catalog import BoundCatalog
from porcupine_spark.functions.concurrent import run_concurrently

logger = logging.getLogger("porcupine_spark")


@dataclass
class RunCtx:
    """The reader environment (PTaskState analog, PTask/Internal.hs:84-88):
    session + bound catalog + logging namespace + repetition variables.
    ``pending`` is the open batch's deferred writes, shared by every
    context derived inside it; ``None`` means writes run at once."""

    spark: SparkSession
    bound: BoundCatalog
    namespace: tuple[str, ...] = ()
    variables: dict[str, Any] = field(default_factory=dict)
    cache: Any = None  # optional cache.CacheStore
    pending: list | None = None  # [(target paths, write thunk)]

    def scoped(self, name: str) -> "RunCtx":
        return replace(self, namespace=(*self.namespace, name), variables=dict(self.variables))

    def with_vars(self, **vs) -> "RunCtx":
        return replace(self, variables={**self.variables, **vs})

    def submit(self, write: Callable[[], Any], targets: list[str]) -> None:
        """The one path of every sink write: run ``write`` now, or defer
        it to the open batch's write phase. ``targets`` are the paths it
        writes; a pending write to any of them is finished first."""
        if self.pending is None:
            write()
            return
        targets = frozenset(targets)
        if any(t & targets for t, _ in self.pending):
            self.flush()
        self.pending.append((targets, write))

    def flush(self) -> None:
        """Run the pending writes concurrently and empty the batch. All
        of them finish before the first failure is raised."""
        if self.pending:
            writes = [w for _, w in self.pending]
            self.pending.clear()
            run_concurrently(*writes)

    def barrier(self) -> "RunCtx":
        """Finish the pending writes; the returned context writes at once."""
        self.flush()
        return replace(self, pending=None)


@dataclass(frozen=True)
class Task:
    """An arrow from input to output with static requirements."""

    run: Callable[[RunCtx, Any], Any]
    reads: frozenset = frozenset()
    writes: frozenset = frozenset()
    name: str = ""

    @property
    def requirements(self) -> frozenset:
        return self.reads | self.writes

    # ---- composition (Category/Arrow instances) ----
    def then_(self, other: "Task") -> "Task":
        """(>>>): sequential composition; requirements union."""
        def runner(ctx: RunCtx, x):
            return other.run(ctx, self.run(ctx, x))

        return Task(
            runner,
            self.reads | other.reads,
            self.writes | other.writes,
            name=f"{self.name}>>{other.name}",
        )

    __rshift__ = then_

    def _pairwise(self, other: "Task", run_pair, name: str) -> "Task":
        """Shared body of (***) and (&&&): batch the branches' writes when
        their static requirements show them independent."""
        reads, writes = self.reads | other.reads, self.writes | other.writes
        independent = not (reads & writes) and not (self.writes & other.writes)

        def runner(ctx: RunCtx, x):
            if not independent or ctx.pending is not None:
                return run_pair(ctx, x)
            batch = replace(ctx, pending=[])
            try:
                out = run_pair(batch, x)
            except BaseException:
                try:
                    batch.flush()
                except Exception:  # noqa: BLE001 — the build error is the one raised
                    logger.exception("deferred writes failed after a build error")
                raise
            batch.flush()
            return out

        return Task(runner, reads, writes, name=name)

    def both(self, other: "Task") -> "Task":
        """(***): pairwise parallel — ((a,b)) -> (c,d)."""
        return self._pairwise(
            other, lambda ctx, pair: (self.run(ctx, pair[0]), other.run(ctx, pair[1])),
            f"({self.name}***{other.name})",
        )

    def fanout(self, other: "Task") -> "Task":
        """(&&&): same input to both — a -> (c,d)."""
        return self._pairwise(
            other, lambda ctx, x: (self.run(ctx, x), other.run(ctx, x)),
            f"({self.name}&&&{other.name})",
        )

    def named(self, name: str) -> "Task":
        """nameTask (PTask.hs:129-207): log duration under a namespace."""
        def runner(ctx: RunCtx, x):
            scoped = ctx.scoped(name)
            t0 = time.perf_counter()
            out = self.run(scoped, x)
            logger.info(
                "Finished task '%s' in %.3fs", ".".join(scoped.namespace),
                time.perf_counter() - t0,
            )
            return out

        return Task(runner, self.reads, self.writes, name=name)

    def in_subtree(self, prefix: str) -> "Task":
        """taskInSubtree (PTask.hs:214-219): re-root requirements under a
        namespace prefix; dataset accesses inside resolve with it too."""
        def runner(ctx: RunCtx, x):
            # the bound catalog is looked up with prefixed names by the
            # load/write tasks below via ctx.variables['__prefix']
            sub = ctx.with_vars(__prefix=f"{prefix}/{ctx.variables.get('__prefix', '')}".strip("/"))
            return self.run(sub, x)

        return Task(
            runner,
            frozenset(f"{prefix}/{r}" for r in self.reads),
            frozenset(f"{prefix}/{w}" for w in self.writes),
            name=self.name,
        )


def _resolve(ctx: RunCtx, name: str) -> str:
    prefix = ctx.variables.get("__prefix", "")
    return f"{prefix}/{name}" if prefix else name


def arr(f: Callable[[Any], Any], name: str = "arr") -> Task:
    """Lift a pure function (Arrow ``arr``)."""
    return Task(lambda ctx, x: f(x), name=name)


def io_task(f: Callable[[RunCtx, Any], Any], name: str = "io") -> Task:
    """toTask/ioTask (PTask.hs:100-109,62-64): effectful driver-side step.
    A barrier: pending writes finish before ``f`` runs."""
    return Task(lambda ctx, x: f(ctx.barrier(), x), name=name)


def load(name: str) -> Task:
    """loadData (VirtualFileAccess.hs:73-83): () -> DataFrame."""
    return Task(
        lambda ctx, _:
            ctx.bound.read(ctx.spark, _resolve(ctx, name), variables=ctx.variables),
        reads=frozenset({name}),
        name=f"load:{name}",
    )


def load_merged(name: str, key: str) -> Task:
    """loadData with keyed layered merge (§1.4)."""
    return Task(
        lambda ctx, _:
            ctx.bound.read_merged(ctx.spark, _resolve(ctx, name), key, variables=ctx.variables),
        reads=frozenset({name}),
        name=f"load_merged:{name}",
    )


def _submit_write(ctx: RunCtx, df, resolved: str, mode: str) -> list[str]:
    paths = ctx.bound.write_paths(resolved, variables=ctx.variables)
    ctx.submit(
        lambda: ctx.bound.write(df, resolved, mode=mode, variables=ctx.variables), paths
    )
    return paths


def write(name: str, mode: str = "overwrite") -> Task:
    """writeData (VirtualFileAccess.hs:126-136): DataFrame -> list[path]."""
    return Task(
        lambda ctx, df: _submit_write(ctx, df, _resolve(ctx, name), mode),
        writes=frozenset({name}),
        name=f"write:{name}",
    )


def write_eff(name: str, thunk_producer: Callable[[RunCtx], Any], mode: str = "overwrite") -> Task:
    """writeEffData (VirtualFileAccess.hs:141-148): skip *computing* the
    value when the sink is unmapped. The producer runs at build time;
    only the write is deferred."""
    def runner(ctx: RunCtx, _):
        resolved = _resolve(ctx, name)
        if not ctx.bound.is_mapped(resolved):
            return []
        return _submit_write(ctx, thunk_producer(ctx), resolved, mode)

    return Task(runner, writes=frozenset({name}), name=f"write_eff:{name}")


def void() -> Task:
    """voidTask = arr (const ()) (PTask.hs:59-60)."""
    return arr(lambda _: None, name="void")


def cached(
    task: "Task",
    ident: str,
    params=None,
    name: str = "",
) -> "Task":
    """toTask' with cache Properties (PTask.hs:107-109; Caching.hs:52-122):
    wrap a DataFrame-producing task so its result is checkpointed in
    the content-addressed store. Key = (ident, params, resolved
    locations of every dataset the task reads) — re-binding an input
    re-triggers the step (PorcupineTree.hs:118-129). No-op (straight
    compute) when the run has no cache configured."""

    def runner(ctx: RunCtx, x):
        if ctx.cache is None:
            return task.run(ctx, x)
        locs: list[str] = []
        for ds_name in sorted(task.reads):
            ds_locs = ctx.bound.locations(ds_name)
            locs.extend(loc.path for loc in (ds_locs or []))
        return ctx.cache.cached(
            ident, params, locs, lambda: task.run(ctx, x)
        )

    return Task(runner, task.reads, task.writes, name=name or f"cached:{task.name}")
