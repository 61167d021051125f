"""Layered benchmark for porcupine_spark.

Run from the root of a checkout:

    python3 perfbench/run.py --workload {driver_rounds,pipeline}
        --seed N --seconds S --trace {0,1} [--smoke] [--record]

One driver process on ``local[<cpus>]`` sets the session up ``SETUPS``
times, each in a freshly launched driver JVM (launch, session start, one
job that runs a Python UDF into a shuffle), and keeps the last. The
first pass of the workload after that is the one a pipeline run in a
fresh session makes: JIT-cold, its generated code not yet compiled. It
is timed (``wall_s``), and outside its timed region it checks every
output against the digests stored in ``reference.json``. Warm passes
follow (``warm_s``); their number
follows from ``--seconds`` and the workload's nominal pass times, not
from the clock. Item order is drawn from ``--seed``. The input tables
are the engine's test tables, copied unchanged into ``data/``.

``--trace 0`` prints the end-to-end metrics. ``--trace 1`` sets up once
and traces the first pass, then prints the per-layer metrics (see
``layers.py``); job counts that differ from the stored ones count as a
failure.
``--smoke`` runs on the smallest table set. ``--record`` stores the
observed digests (and, traced, the exact job counts) in
``reference.json`` instead of checking them.

The last line of stdout is one JSON object:
``{"correct", "attempted", "failed", "metrics": {name: {"value", "unit"}}}``.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import random
import shutil
import statistics
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.getcwd()
STATE = os.path.join(ROOT, ".perfbench")
DATA = os.path.join(HERE, "data")
REFERENCE = os.path.join(HERE, "reference.json")

# Table set per workload: a directory under data/ holding the engine's
# test tables, copied unchanged. driver_rounds time is job-round latency,
# flat in data size; the pipeline writes every sink whole.
SCALE = {"driver_rounds": "sf0.01", "pipeline": "sf0.01"}
SMOKE_SCALE = "sf0.001"
# Nominal (first pass, warm pass) seconds per workload on a 4-core host.
# A warm pipeline pass is one cache-hit run against the store the first
# pass filled; a warm driver_rounds pass runs every item again.
NOMINAL = {"driver_rounds": (13.0, 5.0), "pipeline": (19.0, 3.0)}
# Each setup launches its own JVM (about 14 s on 4 cores); two keep a
# whole run near 50 s.
SETUPS = 2
# Job counts that repeat exactly pass to pass; checked on traced runs.
COUNT_KEYS = ("builder.jobs", "action.jobs", "catalog.read_jobs")

# Host sizing. The engine's default driver heap (48g) exceeds small
# hosts; Spark's scratch and the JVM/Python temp dirs stay inside the
# checkout. Python workers import the engine from the working directory,
# which is why the benchmark must run from the checkout root.
DRIVER_MEM = "4g"


def host_env() -> dict[str, str]:
    tmp = os.path.join(STATE, "tmp")
    return {
        "SPARK_GRAFT_DRIVER_MEM": DRIVER_MEM,
        "SPARK_GRAFT_CPUS": str(len(os.sched_getaffinity(0))),
        "SPARK_LOCAL_DIRS": os.path.join(STATE, "spark-local"),
        "TMPDIR": tmp,
        "JDK_JAVA_OPTIONS": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
    }


def vm_hwm_mb(pid: int | str) -> float:
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    return 0.0


def stop_jvm(spark) -> None:
    """Stop the session and wait for the driver JVM (and with it the
    Python workers it forked) to exit; it quits when its stdin closes.
    The next session start launches a new JVM."""
    from pyspark import SparkContext

    gateway = spark.sparkContext._gateway
    proc = gateway.proc
    spark.stop()
    gateway.shutdown()
    proc.stdin.close()
    proc.wait(timeout=60)
    SparkContext._gateway = None
    SparkContext._jvm = None


def setup_session(get_spark):
    """Launch the driver JVM and start the session, then run one job that
    feeds a Python UDF into a shuffle: it loads the SQL, codegen and
    shuffle classes and starts the Python worker pool that the workloads
    need. Returns (session, start seconds, warm-up seconds)."""
    from pyspark.sql import functions as F

    t0 = time.perf_counter()
    spark = get_spark("perfbench")
    t1 = time.perf_counter()
    plus_one = F.udf(lambda x: x + 1, "long")
    (spark.range(0, 1_000, 1, 1).select(plus_one("id").alias("y"))
     .groupBy((F.col("y") % 101).alias("k")).count().collect())
    return spark, t1 - t0, time.perf_counter() - t1


def check(outcomes, ref_digests: dict, count_only: list, record: bool):
    """Count failures: an exception, or a digest that differs from the
    stored one (row count only for the items listed as varying)."""
    failed, notes = 0, []
    for o in outcomes:
        if not o.ok:
            failed += 1
            notes.append(f"{o.item}: {o.error}")
            continue
        if o.digest is None:
            continue
        if record:
            ref_digests[o.item] = o.digest
            continue
        want = ref_digests.get(o.item)
        got = o.digest
        if o.item in count_only:
            want = _counts(want)
            got = _counts(got)
        if want != got:
            failed += 1
            notes.append(f"{o.item}: digest {got} != reference {want}")
    return failed, notes


def _counts(d):
    if isinstance(d, dict):
        return {k: _counts(v) for k, v in d.items()}
    return None if d is None else d.split(":")[0]


def run_pass(wl, spark, tracer, order, first: bool):
    """One pass in the given item order; the first also checks outputs.
    Returns its wall, extras, item outcomes and, traced, its layer row."""
    import layers

    tracer.reset()
    ts0 = time.time()
    if first:
        wall, extra, outs = wl.run_pass(spark, tracer, order, verify=True)
    else:
        wall, extra, outs = wl.warm_pass(spark, tracer, order)
    ts1 = time.time()
    print(f"perfbench: pass {wall:.3f}s traced={tracer.enabled} {extra}", file=sys.stderr)
    row = None
    if tracer.enabled:
        row = layers.pass_metrics(spark, tracer, ts0, ts1)
        row["cache.store_mb"] = extra.get("store_mb", 0.0)
    return wall, extra, outs, row


def check_counts(row, ref_counts: dict | None) -> list[str]:
    """A note if the traced pass's exact job counts differ from the stored ones."""
    counts = {k: int(row.get(k, 0)) for k in COUNT_KEYS}
    if ref_counts is None or counts != ref_counts:
        return [f"job counts {counts} != reference {ref_counts}"]
    return []


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(SCALE))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--smoke", action="store_true")
    ap.add_argument("--record", action="store_true")
    args = ap.parse_args(argv)

    if not os.path.isdir(os.path.join(ROOT, "porcupine_spark")):
        print("perfbench: run from the root of a porcupine_spark checkout", file=sys.stderr)
        return 2
    env = host_env()
    os.environ.update(env)
    for d in (env["TMPDIR"], env["SPARK_LOCAL_DIRS"]):
        shutil.rmtree(d, ignore_errors=True)
        os.makedirs(d)
    sys.path[:0] = [ROOT, HERE]

    import layers
    from workloads import DRIVER_ROUNDS, PipelineWorkload, QueryWorkload

    from porcupine_spark.session import get_spark

    key = SMOKE_SCALE if args.smoke else SCALE[args.workload]
    sf_dir = os.path.join(DATA, key)
    with open(REFERENCE) as fh:
        reference = json.load(fh)

    starts, warms, totals = [], [], []
    spark = None
    # setup_s is a bounded end-to-end metric only on untraced runs
    for _ in range(1 if args.trace else SETUPS):
        if spark is not None:
            stop_jvm(spark)
        spark, s, w = setup_session(get_spark)
        starts.append(s)
        warms.append(w)
        totals.append(s + w)

    if args.workload == "pipeline":
        wl = PipelineWorkload(sf_dir, os.path.join(STATE, "work", "pipeline"))
    else:
        wl = QueryWorkload(DRIVER_ROUNDS, sf_dir)

    rng = random.Random(args.seed)

    def order():
        items = list(wl.items)
        rng.shuffle(items)
        return items

    tracer = layers.Tracer(spark, bool(args.trace))
    with layers.patched_layers(tracer) if args.trace else contextlib.nullcontext():
        wall, extra, outcomes, row = run_pass(wl, spark, tracer, order(), True)
    # the pipeline's warm figure is its cache-hit runs, the first pass's
    # included; the query workload's is its warm passes
    hits = [extra["warm_s"]] if "warm_s" in extra else []
    if not args.trace:
        first_s, warm_s = NOMINAL[args.workload]
        for _ in range(max(1 - len(hits), int((args.seconds - first_s) / warm_s))):
            w, e, outs, _ = run_pass(wl, spark, tracer, order(), False)
            hits.append(e.get("warm_s", w))
            outcomes.extend(outs)

    ref_digests = reference.setdefault("digests", {}).setdefault(key, {})
    failed, notes = check(outcomes, ref_digests, reference.get("row_count_only", []), args.record)
    attempted = len(outcomes)

    med = statistics.median
    if args.trace:
        layer = dict(row)
        jvm_pid = spark.sparkContext._gateway.proc.pid
        layer["driver.peak_rss_mb"] = vm_hwm_mb(jvm_pid) + vm_hwm_mb("self")
        layer["session.start_s"] = starts[0]
        layer["session.warmup_s"] = warms[0]
        units = {m["name"]: m["unit"] for m in _bench_spec()["per_layer"]}
        # layers a workload never enters (the pipeline stages on
        # driver_rounds) read 0
        metrics = {k: (float(layer.get(k, 0.0)), units[k]) for k in units}
        ref_counts = reference.setdefault("counts", {}).setdefault(key, {})
        if args.record:
            ref_counts[args.workload] = {k: int(layer[k]) for k in COUNT_KEYS}
        else:
            count_notes = check_counts(layer, ref_counts.get(args.workload))
            failed += len(count_notes)
            attempted += 1
            notes.extend(count_notes)
    else:
        metrics = {
            "setup_s": (med(totals), "s"),
            "wall_s": (wall, "s"),
            "warm_s": (med(hits), "s"),
            "success_rate": ((attempted - failed) / attempted, "ratio"),
        }
    for n in notes:
        print(f"perfbench: FAILED {n}", file=sys.stderr)
    stop_jvm(spark)

    if args.record:
        with open(REFERENCE, "w") as fh:
            json.dump(reference, fh, indent=2, sort_keys=True)
            fh.write("\n")
    print(json.dumps({
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }))
    return 0


def _bench_spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return json.load(fh)


if __name__ == "__main__":
    sys.exit(main())
