"""The benchmark's two workloads.

Each workload is driven through the engine's public functions only:

- ``kiln_batch``: ``plans.kiln_pipeline.run_pipeline`` over the kiln
  tables, written to the ``noop`` sink.
- ``live_refresh``: one simulated day delivered, then
  ``plans.incremental.incremental_refresh``, a
  ``streaming.jobs.threshold_alerts`` drain, a ``finalize`` read-back of
  the refreshed days, and the eight ``plans.serving`` views collected over
  the refreshed data.

A workload builds its inputs in ``setup`` (called several times; the last
build is used), then the runner calls ``op`` in a closed loop, the first
calls untimed. Every operation keeps what ``check`` compares after the
loop. ``probe`` runs after a traced operation, outside its
timing, for per-layer numbers that need extra work.
"""

from __future__ import annotations

import os
import shutil
import time

import pandas as pd
import pyarrow.parquet as pq
from pyspark.sql import Observation
from pyspark.sql import functions as F
from pyspark.sql import types as T

from perfbench import checks, gen
from perfbench.tracing import Tracer, median
from timeseries_data_analysis_spark.plans import incremental as INC
from timeseries_data_analysis_spark.plans import kiln_pipeline as KP
from timeseries_data_analysis_spark.plans import serving
from timeseries_data_analysis_spark.sources import schemas
from timeseries_data_analysis_spark.streaming import jobs as SJ

KILN_DAYS = 30


def write_parquet(df: pd.DataFrame, path: str) -> None:
    """pandas → parquet with UTC microsecond timestamps (Spark's unit)."""
    df = df.copy()
    for c in df.columns:
        if str(df[c].dtype).startswith("datetime64"):
            df[c] = df[c].dt.tz_localize("UTC").astype("datetime64[us, UTC]")
    df.to_parquet(path, index=False)


def noop_write(df) -> None:
    df.write.format("noop").mode("overwrite").save()


class Workload:
    def __init__(self, spark, work_dir: str, seed: int) -> None:
        self.spark = spark
        self.work = work_dir
        self.seed = seed
        self.inputs: dict[str, int] = {}
        self.extra: dict[str, list[float]] = {}

    def fresh_dir(self, name: str) -> str:
        path = os.path.join(self.work, name)
        shutil.rmtree(path, ignore_errors=True)
        os.makedirs(path)
        return path

    def record(self, key: str, value: float) -> None:
        self.extra.setdefault(key, []).append(value)

    def probe(self, tracer: Tracer, op_id: int) -> None:
        pass


class KilnTables(Workload):
    """Shared set-up: seeded kiln tables written as parquet and read back
    with the engine's pinned schemas."""

    def setup(self, rep: int) -> None:
        self.tables = gen.kiln_tables(self.seed, KILN_DAYS)
        self.inputs = gen.row_counts(self.tables)
        d = self.fresh_dir(f"kiln{rep}")
        self.dfs = {}
        for name, pdf in self.tables.items():
            path = os.path.join(d, f"{name}.parquet")
            write_parquet(pdf, path)
            self.dfs[name] = self.spark.read.schema(
                schemas.KILN_SCHEMAS[name]).parquet(path)


class KilnBatch(KilnTables):
    """One operation is the whole preprocessing job."""

    name = "kiln_batch"

    def __init__(self, *args) -> None:
        super().__init__(*args)
        self.fingerprints: list[dict] = []

    def op(self, tracer: Tracer, op_id: int) -> None:
        with tracer.span("kiln_pipeline.plan", op_id):
            out, _ = KP.run_pipeline(self.spark, self.dfs, max_features=500)
        with tracer.span("kiln_pipeline.execute", op_id):
            obs = Observation(f"kiln{len(self.fingerprints)}")
            noop_write(out.observe(obs, *checks.kiln_fingerprint_exprs()))
        self.fingerprints.append(dict(obs.get, out_cols=len(out.columns)))
        if tracer.enabled:
            self.record("out_rows", self.fingerprints[-1]["rows"])
            self.record("out_cols", len(out.columns))

    def probe(self, tracer: Tracer, op_id: int) -> None:
        with tracer.span("sources.scan", op_id):
            for df in self.dfs.values():
                noop_write(df)
        # each prefix of the plan, materialised on its own; the differences
        # between consecutive prefixes are the stage self times
        stages = [("build_long", KP.build_long_sensor_table, "long_rows"),
                  ("align_fill", KP.align_and_fill, "aligned_rows"),
                  ("window_features", KP.window_features, "feature_rows")]
        df = self.dfs
        for tag, fn, rows in stages:
            with tracer.span(f"kiln_pipeline.prefix.{tag}", op_id):
                df = fn(df)
                obs = Observation(f"{tag}{op_id}")
                noop_write(df.observe(obs, F.count(F.lit(1)).alias("rows")))
            self.record(rows, obs.get["rows"])

    def check(self) -> list[str]:
        want = checks.kiln_fingerprint(self.tables)
        bad = []
        for i, got in enumerate(self.fingerprints):
            bad += [f"kiln operation {i}: {b}" for b in checks.fingerprints_match(got, want)]
        return bad

    def layer_metrics(self, tracer: Tracer) -> dict[str, float]:
        d = {n: median(tracer.durations(f"kiln_pipeline.prefix.{n}"))
             for n in ("build_long", "align_fill", "window_features")}
        execute = median(tracer.durations("kiln_pipeline.execute"))
        m = {
            "sources.scan_s": median(tracer.durations("sources.scan")),
            "kiln_pipeline.plan_s": median(tracer.durations("kiln_pipeline.plan")),
            "kiln_pipeline.build_long_s": d["build_long"],
            "kiln_pipeline.align_fill_self_s": d["align_fill"] - d["build_long"],
            "kiln_pipeline.window_features_self_s": d["window_features"] - d["align_fill"],
            "kiln_pipeline.pivot_project_self_s": execute - d["window_features"],
        }
        for k in ("long_rows", "aligned_rows", "out_rows", "out_cols"):
            m[f"kiln_pipeline.{k}"] = median(self.extra.get(k, []))
        counts = tracer.spark_counts({"kiln_pipeline.plan", "kiln_pipeline.execute"})
        m["kiln_pipeline.jobs"] = median([c.jobs for c in counts.values()])
        m["kiln_pipeline.tasks"] = median([c.tasks for c in counts.values()])
        m["trace.layer_sum_s"] = (m["kiln_pipeline.plan_s"] + execute)
        return m


ALERT_THRESHOLD = 800.0
ALERT_MIN_SERIES = 3
WATERMARK = "2 hours"
HISTORY_DAYS = 60
LONG_SCHEMA = T.StructType([
    T.StructField("ts", T.TimestampType()),
    T.StructField("series", T.StringType()),
    T.StructField("value", T.DoubleType()),
])
class LiveRefresh(KilnTables):
    """One operation is one refresh of the live system: the producer hands
    in the next day, the rollup and the alert stream take it in, and the
    dashboard re-serves its views over the refreshed data. Its latency is
    the time from a day handed in to that day on the dashboard."""

    name = "live_refresh"
    stride = 10

    def setup(self, rep: int) -> None:
        super().setup(rep)
        for name in ("mis_report", "shell_temperature", "accretion_events"):
            self.dfs[name].createOrReplaceTempView(name)
        self.history = gen.rollup_history(self.seed, HISTORY_DAYS)
        self.inputs.update(rollup_history_rows=len(self.history),
                           rows_per_day=gen.READINGS_PER_DAY * gen.N_ZONES)
        base = self.fresh_dir(f"live{rep}")
        self.rollup = os.path.join(base, "rollup")
        self.landing = os.path.join(base, "landing")
        self.alerts = os.path.join(base, "alerts")
        self.checkpoint = os.path.join(base, "checkpoint")
        os.makedirs(self.landing)
        # the stored rollup as earlier daily loads left it: one
        # ``day=YYYY-MM-DD`` directory per day, one file each
        for day, part in self.history.groupby("day"):
            d = os.path.join(self.rollup, f"day={day}")
            os.makedirs(d)
            part.drop(columns="day").to_parquet(
                os.path.join(d, "part-0.parquet"), index=False)
        # replaced by the landed readings in every operation
        (self.spark.createDataFrame([], LONG_SCHEMA)
         .createOrReplaceTempView("zone_temperature_long"))
        # the dashboard's trend window opens a week before the first delivery
        self.start = gen.START + pd.Timedelta(days=HISTORY_DAYS - 7)
        self.views = serving.register_views(
            self.spark, start=str(self.start), stride=self.stride)
        self.deliveries: list[pd.DataFrame] = []
        self.ticks: list[tuple[int, dict[str, pd.DataFrame]]] = []
        self.next_day = HISTORY_DAYS

    def deliver(self) -> tuple[str, list]:
        """Lands the next simulated day as one parquet file (the producer's
        side, not timed) and returns its path and the days it touches."""
        rows = gen.day_delivery(self.seed, self.next_day)
        path = os.path.join(self.landing, f"day{self.next_day:05d}.parquet")
        write_parquet(rows, path)
        self.next_day += 1
        self.deliveries.append(rows)
        return path, sorted(set(rows["ts"].dt.date))

    def op(self, tracer: Tracer, op_id: int) -> None:
        path, days = self.deliver()
        with tracer.span("incremental.refresh", op_id):
            new = self.spark.read.schema(LONG_SCHEMA).parquet(path)
            INC.incremental_refresh(self.spark, self.rollup, new, ["series"])
        self.drain_started = time.time()
        with tracer.span("streaming.drain", op_id):
            src = SJ.stream_source(self.spark, self.landing, LONG_SCHEMA)
            alerts = SJ.threshold_alerts(
                src, threshold=ALERT_THRESHOLD, min_series=ALERT_MIN_SERIES,
                key_col="series", watermark=WATERMARK)
            q = (alerts.writeStream.format("parquet")
                 .option("path", self.alerts)
                 .option("checkpointLocation", self.checkpoint)
                 .outputMode("append").trigger(availableNow=True).start())
            q.awaitTermination()
        with tracer.span("incremental.readback", op_id):
            back = INC.finalize(self.spark.read.parquet(self.rollup)
                                .filter(F.col("day").isin(days))).toPandas()
        if len(back) != len(days) * gen.N_ZONES:
            raise RuntimeError(f"read back {len(back)} rows for days {days}")
        # the serving tier re-opens the landed readings, then every chart
        # view runs and is collected as a dashboard callback would
        (self.spark.read.schema(LONG_SCHEMA).parquet(self.landing)
         .createOrReplaceTempView("zone_temperature_long"))
        tick = {}
        for v in self.views:
            with tracer.span(f"serving.{v}", op_id):
                with tracer.span("serving.plan", op_id):
                    df = self.spark.sql(f"SELECT * FROM {v}")
                tick[v] = df.toPandas()
        self.ticks.append((len(self.deliveries), tick))
        self.last_query = q
        self.last_days = days

    def probe(self, tracer: Tracer, op_id: int) -> None:
        progress = self.last_query.recentProgress
        dur = [p["durationMs"] for p in progress]
        for key, field in (("trigger_ms", "triggerExecution"),
                           ("planning_ms", "queryPlanning"),
                           ("addbatch_ms", "addBatch")):
            self.record(key, sum(d.get(field, 0) for d in dur))
        ops = progress[-1]["stateOperators"] if progress else []
        self.record("state_rows", sum(o["numRowsTotal"] for o in ops))
        self.record("state_bytes", sum(o["memoryUsedBytes"] for o in ops))
        self.record("alerts_emitted", sum(
            pq.read_metadata(p).num_rows
            for p in (os.path.join(self.alerts, f) for f in os.listdir(self.alerts))
            if p.endswith(".parquet") and os.path.getmtime(p) >= self.drain_started))
        self.record("partitions_total", sum(
            1 for e in os.listdir(self.rollup) if e.startswith("day=")))
        self.record("partitions_written", len(self.last_days))
        self.record("rows_returned", sum(len(p) for p in self.ticks[-1][1].values()))

    def check(self) -> list[str]:
        bad = []
        got = INC.finalize(self.spark.read.parquet(self.rollup)).toPandas()
        want = checks.expected_rollup(self.history, self.deliveries)
        bad += checks.frames_match("rollup", got, want)
        got = self.spark.read.parquet(self.alerts).toPandas()
        want = checks.expected_alerts(self.deliveries, ALERT_THRESHOLD,
                                      ALERT_MIN_SERIES, pd.Timedelta(WATERMARK))
        bad += checks.frames_match("alerts", got, want)
        for n, tick in self.ticks:
            long = pd.concat(self.deliveries[:n], ignore_index=True)
            want = checks.serving_views(self.tables, long, self.start, self.stride)
            for v in self.views:
                bad += checks.frames_match(f"tick {n}: {v}", tick[v], want[v])
        return bad

    def layer_metrics(self, tracer: Tracer) -> dict[str, float]:
        m = {f"serving.{v}_s": median(tracer.durations(f"serving.{v}"))
             for v in self.views}
        plan_per_op: dict[int, float] = {}
        for s in tracer.spans:
            if s.name == "serving.plan":
                plan_per_op[s.op] = plan_per_op.get(s.op, 0.0) + s.dur
        m["serving.plan_s"] = median(list(plan_per_op.values()))
        m["serving.rows_returned"] = median(self.extra.get("rows_returned", []))
        serving_spans = {f"serving.{v}" for v in self.views} | {"serving.plan"}
        m["serving.tasks"] = median([c.tasks for c in tracer.spark_counts(serving_spans).values()])
        m["incremental.refresh_s"] = median(tracer.durations("incremental.refresh"))
        m["incremental.readback_s"] = median(tracer.durations("incremental.readback"))
        m["incremental.tasks"] = median([c.tasks for c in tracer.spark_counts(
            {"incremental.refresh", "incremental.readback"}).values()])
        m["streaming.drain_s"] = median(tracer.durations("streaming.drain"))
        for k in ("partitions_total", "partitions_written"):
            m[f"incremental.{k}"] = median(self.extra.get(k, []))
        for k in ("trigger_ms", "planning_ms", "addbatch_ms", "state_rows",
                  "state_bytes", "alerts_emitted"):
            m[f"streaming.{k}"] = median(self.extra.get(k, []))
        m["trace.layer_sum_s"] = (m["incremental.refresh_s"] + m["streaming.drain_s"]
                                  + m["incremental.readback_s"]
                                  + sum(m[f"serving.{v}_s"] for v in self.views))
        return m


WORKLOADS = {w.name: w for w in (KilnBatch, LiveRefresh)}
