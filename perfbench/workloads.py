"""The benchmark's workloads and the output check.

Each workload is a closed loop with one client: the driver process runs
its items one after another, and a pass is one run over all of them.

- ``driver_rounds``: query builders whose time is spent in driver-side
  job rounds (eager checkpoints, convergence counts, stream
  ``processAllAvailable``). Data size barely moves them, so they run on
  a small table set.
- ``pipeline``: one ``run_pipeline`` over a ``Catalog`` built from the
  public task API, run cold (empty content-addressed store) and then
  warm (cache hit) in every pass.
"""

from __future__ import annotations

import os
import shutil
import sys
import time

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

DRIVER_ROUNDS = ["dedup_clusters", "stream_stateful_user_stats"]

_P = 1_000_000_007


def _digest_row(df: DataFrame) -> DataFrame:
    cols = [
        F.to_json(F.col(f"`{f.name}`")) if f.dataType.typeName() == "map" else F.col(f"`{f.name}`")
        for f in df.schema.fields
    ]
    h = F.pmod(F.xxhash64(*cols), F.lit(_P))
    return df.agg(F.count(F.lit(1)).alias("n"), F.coalesce(F.sum(h), F.lit(0)).alias("s"))


def digest(df: DataFrame) -> str:
    """Order-insensitive digest over every column: row count plus the sum
    of per-row xxhash64 values reduced mod a prime (the reduction keeps
    the sum inside a long)."""
    n, s = _digest_row(df).first()
    return f"{n}:{s}"


def digests(dfs: dict[str, DataFrame]) -> dict[str, str]:
    """``digest`` of each frame, all taken by one job."""
    names = list(dfs)
    rows = [_digest_row(dfs[k]).select(F.lit(i).alias("i"), "n", "s") for i, k in enumerate(names)]
    union = rows[0]
    for r in rows[1:]:
        union = union.unionByName(r)
    return {names[i]: f"{n}:{s}" for i, n, s in union.collect()}


class Outcome:
    __slots__ = ("item", "ok", "digest", "error")

    def __init__(self, item, ok=True, digest=None, error=None):
        self.item, self.ok, self.digest, self.error = item, ok, digest, error


class QueryWorkload:
    """Registered query builders, each built then materialized with the
    ``noop`` sink so every output column is computed."""

    def __init__(self, items: list[str], sf_dir: str):
        from porcupine_spark.plans.registry import load_all_plans

        specs = load_all_plans()
        self.items = items
        self.specs = {n: specs[n] for n in items}
        self.sf_dir = sf_dir

    def run_pass(self, spark, tracer, order, verify: bool):
        from porcupine_spark.functions.metrics import drop_session_residue

        wall = 0.0
        outcomes = []
        for name in order:
            t0 = time.perf_counter()
            df = None
            try:
                with tracer.span("build", name, tag_jobs=True):
                    df = self.specs[name].builder(spark, self.sf_dir)
                with tracer.span("action", name, tag_jobs=True):
                    df.write.format("noop").mode("overwrite").save()
                wall += time.perf_counter() - t0
                d = None
                if verify:
                    with tracer.span("verify", name, tag_jobs=True):
                        d = digest(df)
                outcomes.append(Outcome(name, digest=d))
            except Exception as e:  # noqa: BLE001 — one failing item must not end the run
                wall += time.perf_counter() - t0
                outcomes.append(Outcome(name, ok=False, error=f"{type(e).__name__}: {e}"[:300]))
            df = None
            drop_session_residue(spark)
        return wall, {}, outcomes

    def warm_pass(self, spark, tracer, order):
        return self.run_pass(spark, tracer, order, verify=False)


class PipelineWorkload:
    """Curation chain (cached), a tee to a parquet and a JSON sink,
    lineitem joined with orders written whole plus a monthly fold, and
    the documents written partitioned by source."""

    def __init__(self, sf_dir: str, work_dir: str):
        from porcupine_spark.catalog import Catalog, Dataset
        from porcupine_spark.serials import SerialSet, json_serial, parquet_serial

        self.sf_dir = sf_dir
        self.work_dir = work_dir
        self.items = ["pipeline"]
        examples = os.path.join(os.getcwd(), "examples")
        if examples not in sys.path:
            sys.path.insert(0, examples)
        pq = SerialSet(parquet_serial())
        self.catalog = Catalog([
            Dataset.source("docs/raw", pq),
            Dataset.source("sales/lineitem", pq),
            Dataset.source("sales/orders", pq),
            Dataset.sink("docs/curated", pq),
            Dataset.sink("docs/audit", SerialSet(json_serial())),
            Dataset.sink("sales/joined", pq),
            Dataset.sink("sales/monthly", pq),
            Dataset.sink("docs/by_source", pq),
        ])

    def _task(self, tracer):
        import example_curation as ex

        from porcupine_spark.folds import Fold, run_fold_grouped
        from porcupine_spark.task import Task, arr, cached, load
        from porcupine_spark.task_ext import tee, write_partitioned

        def stage(task, name):
            def runner(ctx, x):
                with tracer.span("task", name):
                    return task.run(ctx, x)

            return Task(runner, task.reads, task.writes, name=name)

        def join(pair):
            li, od = pair
            return li.join(od, li.l_orderkey == od.o_orderkey)

        monthly = (
            Fold.length("n_lines")
            & Fold.sum_("l_extendedprice", "revenue")
            & Fold.max_("l_quantity", "max_qty")
        )

        def by_month(df):
            keyed = df.withColumn("month", F.date_trunc("month", "o_orderdate"))
            return run_fold_grouped(keyed, ["month"], monthly)

        curate = cached(
            load("docs/raw") >> arr(ex.quality_gate) >> arr(ex.drop_segment_spam)
            >> arr(ex.drop_near_dups),
            ident="perfbench.curate",
        )
        docs = stage(curate, "curate") >> stage(
            tee(("docs/curated", None), ("docs/audit", ex.audit)), "publish"
        )
        sales = stage(
            load("sales/lineitem").fanout(load("sales/orders")) >> arr(join)
            >> tee(("sales/joined", None), ("sales/monthly", by_month)),
            "sales",
        )
        part = stage(load("docs/raw") >> write_partitioned("docs/by_source", "source"), "partition")
        return docs.fanout(sales).fanout(part)

    def sink_paths(self, out_dir):
        return {
            "docs/curated": os.path.join(out_dir, "curated.parquet"),
            "docs/audit": os.path.join(out_dir, "audit.json"),
            "sales/joined": os.path.join(out_dir, "joined.parquet"),
            "sales/monthly": os.path.join(out_dir, "monthly.parquet"),
            "docs/by_source": os.path.join(out_dir, "by_source.parquet"),
        }

    def _sinks(self, spark, out_dir):
        return {
            name: spark.read.format("json" if path.endswith(".json") else "parquet").load(path)
            for name, path in self.sink_paths(out_dir).items()
        }

    def run_pass(self, spark, tracer, order, verify: bool, cold: bool = True):
        """A cold run against an empty store, then a cache-hit run; with
        ``cold`` False, only a cache-hit run against the store the last
        cold pass left."""
        from porcupine_spark.functions.metrics import drop_session_residue
        from porcupine_spark.run import run_pipeline
        from porcupine_spark.tables import table_path

        task = self._task(tracer)
        store = os.path.join(self.work_dir, "store")
        if cold:
            shutil.rmtree(self.work_dir, ignore_errors=True)
        mappings = {
            "docs/raw": table_path(self.sf_dir, "documents"),
            "sales/lineitem": table_path(self.sf_dir, "lineitem"),
            "sales/orders": table_path(self.sf_dir, "orders"),
        }
        times, outcomes = [], []
        for run in ("cold", "warm") if cold else ("warm",):
            out_dir = os.path.join(self.work_dir, run)
            shutil.rmtree(out_dir, ignore_errors=True)
            t0 = time.perf_counter()
            try:
                with tracer.span("action", f"pipeline:{run}", tag_jobs=True):
                    run_pipeline(task, self.catalog, spark, root=out_dir,
                                 mappings={**mappings, **self.sink_paths(out_dir)},
                                 cache_dir=store)
                times.append(time.perf_counter() - t0)
                outcomes.append(Outcome(f"pipeline:{run}"))
            except Exception as e:  # noqa: BLE001 — a failed run is counted, not fatal
                times.append(time.perf_counter() - t0)
                outcomes.append(Outcome(f"pipeline:{run}", ok=False,
                                        error=f"{type(e).__name__}: {e}"[:300]))
            drop_session_residue(spark)
        # the sinks are read back once every run has ended, outside the
        # timed runs
        checked = [o for o in outcomes if verify and o.ok]
        if checked:
            frames = {
                (o.item, sink): df for o in checked
                for sink, df in self._sinks(spark, os.path.join(self.work_dir, o.item.split(":")[1])).items()
            }
            with tracer.span("verify", "pipeline", tag_jobs=True):
                got = digests(frames)
            for o in checked:
                o.digest = {sink: d for (item, sink), d in got.items() if item == o.item}
        extra = {"warm_s": times[-1], "store_mb": _dir_mb(store)}
        return sum(times), extra, outcomes

    def warm_pass(self, spark, tracer, order):
        return self.run_pass(spark, tracer, order, verify=False, cold=False)


def _dir_mb(path: str) -> float:
    from layers import tree_size

    return tree_size([path])[1] / 1e6 if os.path.isdir(path) else 0.0
