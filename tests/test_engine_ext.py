"""Engine extension surfaces beyond the registered query corpus:
Python UDTFs, Arrow-native grouped maps (applyInArrow), and the
cogroup attribution operator's per-group edge cases.

These APIs are deliberately NOT on any registered query's hot path —
UDTFs execute row-at-a-time Python (the documented slow path; the
corpus keeps zero row-Python in registered plans) — but a user porting
a pipeline needs them available and proven."""

import pyarrow as pa
import pytest
from pyspark.sql import Row, functions as F
from pyspark.sql.functions import udtf


class TestUDTF:
    def test_json_kv_flatten_udtf(self, spark):
        @udtf(returnType="k string, v string")
        class JsonKV:
            def eval(self, s: str):
                import json

                if s is None:
                    return
                for k, v in json.loads(s).items():
                    yield k, str(v)

        spark.udtf.register("json_kv", JsonKV)
        df = spark.createDataFrame(
            [Row(id=1, j='{"a": 1, "b": "x"}'), Row(id=2, j='{"a": 2}')]
        )
        df.createOrReplaceTempView("jt")
        out = spark.sql(
            "SELECT id, k, v FROM jt, LATERAL json_kv(j) ORDER BY id, k"
        ).collect()
        assert [(r.id, r.k, r.v) for r in out] == [
            (1, "a", "1"), (1, "b", "x"), (2, "a", "2")]

    def test_udtf_terminate_emits_summary(self, spark):
        # terminate() runs once per partition slice — the UDTF
        # aggregation hook (here: count rows seen)
        @udtf(returnType="tag string, n bigint")
        class CountRows:
            def __init__(self):
                self.n = 0

            def eval(self, x: int):
                self.n += 1

            def terminate(self):
                yield "seen", self.n

        spark.udtf.register("count_rows", CountRows)
        df = spark.range(7).coalesce(1)
        df.createOrReplaceTempView("rng")
        rows = spark.sql(
            "SELECT * FROM count_rows(TABLE(rng))"
        ).collect()
        assert [(r.tag, r.n) for r in rows] == [("seen", 7)]


class TestApplyInArrow:
    def test_grouped_arrow_sum_matches_sql(self, spark, sf_dir):
        from porcupine_spark.tables import load_table

        ev = load_table(spark, sf_dir, "events").select("event_type", "user_id")

        def counts(table: pa.Table) -> pa.Table:
            et = table.column("event_type")[0].as_py()
            return pa.table(
                {"event_type": [et], "n": [table.num_rows]},
                schema=pa.schema(
                    [("event_type", pa.string()), ("n", pa.int64())]
                ),
            )

        got = {
            r.event_type: r.n
            for r in ev.groupBy("event_type")
            .applyInArrow(counts, schema="event_type string, n long")
            .collect()
        }
        want = {
            r.event_type: r.n
            for r in ev.groupBy("event_type")
            .agg(F.count(F.lit(1)).alias("n"))
            .collect()
        }
        assert got == want


class TestCogroupEdges:
    def _run(self, spark, monkeypatch, rows):
        from porcupine_spark.operators import asof as A

        df = spark.createDataFrame(
            [Row(event_id=i, ts=ts, user_id=u, event_type=et, value=0.0,
                 props="{}")
             for i, (u, et, ts) in enumerate(rows)]
        )
        monkeypatch.setattr(A, "load_table", lambda *a, **k: df)
        return {
            r.user_id: r
            for r in A.cogroup_purchase_view_attribution(spark, "x").collect()
        }

    def test_no_views_user(self, spark, monkeypatch):
        import datetime as dt

        t0 = dt.datetime(2024, 1, 1)
        out = self._run(spark, monkeypatch, [
            (1, "purchase", t0),
            (2, "purchase", t0),
            (2, "view", t0 - dt.timedelta(seconds=10)),
        ])
        assert out[1].n_views == 0 and out[1].n_attributed == 0
        assert out[2].n_attributed == 1

    def test_window_boundary_inclusive(self, spark, monkeypatch):
        import datetime as dt
        from porcupine_spark.operators.asof import ATTRIB_WINDOW_S

        t0 = dt.datetime(2024, 1, 1, 12, 0, 0)
        out = self._run(spark, monkeypatch, [
            (1, "purchase", t0),
            (1, "view", t0 - dt.timedelta(seconds=ATTRIB_WINDOW_S)),  # on edge
            (2, "purchase", t0),
            (2, "view", t0 - dt.timedelta(seconds=ATTRIB_WINDOW_S, microseconds=1)),
        ])
        assert out[1].n_attributed == 1  # boundary inclusive
        assert out[2].n_attributed == 0  # one us past

    def test_view_only_user_emits_nothing(self, spark, monkeypatch):
        import datetime as dt

        out = self._run(spark, monkeypatch, [
            (9, "view", dt.datetime(2024, 1, 1)),
        ])
        assert 9 not in out  # no purchases -> no attribution row


class TestIntervalOverlap:
    def test_overlap_semantics_handbuilt(self, spark, monkeypatch):
        import datetime as dt
        from porcupine_spark.operators import sessionize as S

        t0 = dt.datetime(2024, 1, 1, 12, 0, 0)

        def ev(i, u, et, off_s):
            return Row(event_id=i, ts=t0 + dt.timedelta(seconds=off_s),
                       user_id=u, event_type=et, value=0.0, props="{}")

        rows = (
            # incident: 5 error events 0..400s (gaps < 300s)
            [ev(100 + i, 99, "error", i * 100) for i in range(5)]
            # user 1: session fully inside the incident [100s, 200s]
            + [ev(1, 1, "view", 100), ev(2, 1, "view", 200)]
            # user 2: session entirely after incident end (>400s)
            + [ev(3, 2, "view", 500), ev(4, 2, "view", 600)]
            # four lone errors on another day: below MIN_EVENTS, no incident
            + [ev(200 + i, 98, "error", 86400 + i * 10) for i in range(4)]
            # user 3 next day: would only overlap the non-incident
            + [ev(5, 3, "view", 86400 + 15)]
        )
        df = spark.createDataFrame(rows)
        monkeypatch.setattr(S, "load_table", lambda *a, **k: df)
        out = {(r.user_id, r.session_id): r
               for r in S.session_incident_overlap(spark, "x").collect()}
        # user 1 overlaps exactly its own span (+1us half-open)
        assert (1, 1) in out
        assert out[(1, 1)].n_incidents == 1
        assert out[(1, 1)].overlap_us == 100 * 1_000_000 + 1
        # user 2's session starts 100s after the incident closed
        assert (2, 1) not in out
        # user 3: the 4-error burst is below the qualification floor
        assert (3, 1) not in out
        # the error-user's own session overlaps the incident too
        assert (99, 1) in out

    def test_bucket_dedup_no_double_count(self, spark, monkeypatch):
        import datetime as dt
        from porcupine_spark.operators import sessionize as S

        t0 = dt.datetime(2024, 1, 1, 0, 30, 0)

        def ev(i, u, et, off_s):
            return Row(event_id=i, ts=t0 + dt.timedelta(seconds=off_s),
                       user_id=u, event_type=et, value=0.0, props="{}")

        # one session and one incident both spanning 3 hour-buckets:
        # the pair collides in 3 buckets but must count ONCE
        rows = (
            [ev(100 + i, 99, "error", i * 250) for i in range(40)]  # ~2.7h
            + [ev(1, 1, "view", 0), ev(2, 1, "view", 9000)]  # 2.5h session
        )
        df = spark.createDataFrame(rows)
        monkeypatch.setattr(S, "load_table", lambda *a, **k: df)
        out = {(r.user_id, r.session_id): r
               for r in S.session_incident_overlap(spark, "x").collect()}
        # session gap is 9000s > 1800s -> actually TWO single-event
        # sessions for user 1; each overlaps the one incident once
        assert out[(1, 1)].n_incidents == 1
        assert out[(1, 1)].overlap_us == 1  # [t, t+1) inside incident


class TestTransformWithState:
    def test_transform_with_state_counts(self, spark, sf_dir):
        """Spark 4's arbitrary-state API (transformWithStateInPandas,
        the applyInPandasWithState successor with timers/TTL). Its
        Python worker needs google.protobuf, which this container does
        not ship (no pip installs) — gate on the import so the test
        runs wherever the dependency exists; streaming/stateful.py's
        applyInPandasWithState coverage is the proven path here."""
        pytest.importorskip("google.protobuf.descriptor")
        import pandas as pd
        from pyspark.sql.streaming.stateful_processor import (
            StatefulProcessor, StatefulProcessorHandle)
        from pyspark.sql.types import LongType, StructField, StructType
        from porcupine_spark.tables import load_events_stream, load_table

        class CountProc(StatefulProcessor):
            def init(self, handle: StatefulProcessorHandle):
                self.count = handle.getValueState(
                    "count", StructType([StructField("n", LongType())]))

            def handleInputRows(self, key, rows, timerValues):
                n = self.count.get()[0] if self.count.exists() else 0
                for pdf in rows:
                    n += len(pdf)
                self.count.update((n,))
                yield pd.DataFrame({"user_id": [key[0]], "n": [n]})

            def close(self):
                pass

        ns = spark.newSession()
        ns.conf.set("spark.sql.shuffle.partitions", "8")
        stream = load_events_stream(ns, sf_dir)
        out = stream.groupBy("user_id").transformWithStateInPandas(
            CountProc(), outputStructType="user_id long, n long",
            outputMode="Update", timeMode="None")
        q = (out.writeStream.format("memory").queryName("tws_counts")
             .outputMode("update").start())
        try:
            q.processAllAvailable()
        finally:
            q.stop()
        latest = {}
        for r in ns.table("tws_counts").collect():
            latest[r.user_id] = max(latest.get(r.user_id, 0), r.n)
        want = {r.user_id: r.n for r in
                load_table(ns, sf_dir, "events").groupBy("user_id")
                .agg(F.count(F.lit(1)).alias("n")).collect()}
        assert latest == want


class TestCogroupAPI:
    def test_cogroup_align_matches_window_builder(self, spark, sf_dir):
        """The cogroup grouped API stays exercised (optimization r7
        moved the registered attribution query to the merged-timeline
        window form): the former per-group searchsorted align, run here
        through cogroup+applyInPandas, must emit exactly what the
        registered window builder emits — pinning the rewrite's
        equivalence AND the cogroup surface in one place."""
        import numpy as np
        import pandas as pd

        from porcupine_spark.operators.asof import (
            ATTRIB_WINDOW_S,
            cogroup_purchase_view_attribution,
        )
        from porcupine_spark.tables import load_table

        ev = load_table(spark, sf_dir, "events")
        purchases = ev.filter(F.col("event_type") == "purchase").select(
            "user_id", F.unix_micros("ts").alias("ptsu")
        )
        views = ev.filter(F.col("event_type") == "view").select(
            "user_id", F.unix_micros("ts").alias("vtsu")
        )
        win_us = ATTRIB_WINDOW_S * 1_000_000

        def align(key, pdf_p: pd.DataFrame, pdf_v: pd.DataFrame) -> pd.DataFrame:
            (user_id,) = key
            pt = np.sort(pdf_p["ptsu"].to_numpy()) if len(pdf_p) else np.array([], "i8")
            vt = np.sort(pdf_v["vtsu"].to_numpy()) if len(pdf_v) else np.array([], "i8")
            if len(pt) == 0:
                return pd.DataFrame(
                    columns=["user_id", "n_purchases", "n_views", "n_attributed"]
                )
            if len(vt) == 0:
                attributed = 0
            else:
                idx = np.searchsorted(vt, pt, side="right") - 1
                ok = idx >= 0
                attributed = int(np.sum(ok & (pt - vt[np.clip(idx, 0, None)] <= win_us)))
            return pd.DataFrame(
                {
                    "user_id": [user_id],
                    "n_purchases": [len(pt)],
                    "n_views": [len(vt)],
                    "n_attributed": [attributed],
                }
            )

        via_cogroup = {
            r.user_id: (r.n_purchases, r.n_views, r.n_attributed)
            for r in purchases.groupBy("user_id")
            .cogroup(views.groupBy("user_id"))
            .applyInPandas(
                align,
                schema="user_id long, n_purchases long, n_views long, n_attributed long",
            )
            .collect()
        }
        via_window = {
            r.user_id: (r.n_purchases, r.n_views, r.n_attributed)
            for r in cogroup_purchase_view_attribution(spark, sf_dir).collect()
        }
        assert via_cogroup == via_window


_UDF_QUERY_SCRIPT = """
import sys
sys.path.insert(0, sys.argv[1])
from porcupine_spark.plans.registry import load_all_plans
from porcupine_spark.session import get_spark
spark = get_spark("udf_cwd", **{"spark.sql.shuffle.partitions": "4"})
print("rows", load_all_plans()["cosine_topk"].builder(spark, sys.argv[2]).count())
"""


def test_python_udf_query_runs_from_another_cwd(sf_dir, tmp_path):
    """Python workers import porcupine_spark when the driver runs from a
    directory that does not hold the package (and no PYTHONPATH names
    it): get_spark puts the package's parent on the workers' path."""
    import os
    import subprocess
    import sys

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    env.setdefault("SPARK_GRAFT_DRIVER_MEM", "2g")
    env.setdefault("SPARK_GRAFT_CPUS", "2")
    proc = subprocess.run(
        [sys.executable, "-c", _UDF_QUERY_SCRIPT, repo, os.path.abspath(sf_dir)],
        cwd=tmp_path, env=env, capture_output=True, text=True, timeout=600,
    )
    assert proc.returncode == 0, proc.stderr[-2000:]
    assert "ModuleNotFoundError" not in proc.stderr
    assert int(proc.stdout.split("rows")[-1]) > 0
