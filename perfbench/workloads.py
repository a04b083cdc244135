"""The workloads.  Each returns a :class:`Result`.

``query_suite``   closed loop over a stratified registry subset
``monitor_live``  open-loop file arrivals at the default trigger, with one
                  closed-loop dashboard client on the growing table
"""

from __future__ import annotations

import math
import os
import threading
import time
from dataclasses import dataclass, field

from pyspark.sql import functions as F
from pyspark.sql import types as T

import checks
import datagen
import loadgen
import stats
import tracing as trace
from etl_based_real_time_air_quality_monitoring_system_spark.functions.banding import aqi_band
from etl_based_real_time_air_quality_monitoring_system_spark.plans import serving
from etl_based_real_time_air_quality_monitoring_system_spark.schemas import AIR_QUALITY_SCHEMA
from etl_based_real_time_air_quality_monitoring_system_spark.sources.readers import (
    TESTDATA_TABLES,
    read_parquet,
)
from etl_based_real_time_air_quality_monitoring_system_spark.streaming.pipeline import (
    DEFAULT_TRIGGER,
    dead_letter_split,
    enrich,
    run_to_partitioned_parquet,
    stream_json_records,
)

#: query_suite: a fixed subset of ``bench.HEADLINE`` that keeps every
#: operator family and keeps a run within the time budget on 4 cores
SUITE = {
    "joins/TPC-H": ["tpch_q1", "tpch_q5"],
    "aggregates/windows/timeseries": ["running_user_value"],
    "text": ["text_stats"],
    "dedup/similarity": ["line_dedup"],
    "retrieval/multimodal": ["embedding_topk", "multimodal_frames"],
    "sinks": ["sink_partitioned_roundtrip"],
    "streaming gates": ["streaming_to_table_roundtrip"],
}
PASS_S = 5  # one timed pass per this many seconds of --seconds (at least 3)

#: monitor_live: one 500-record file every 0.5 s (1,000 records/s)
LIVE_ROWS, LIVE_PERIOD = 500, 0.5
LIVE_WARM_FILES = 4  # backlog that seeds the table before the live window
LIVE_WARM_REFRESHES = 2  # unscored dashboard refreshes before the live window
BACKLOG_DUE = 1_767_225_600.0  # creation stamps of backlog files (2026-01-01 UTC)
LIVE_FILES_PER_TRIGGER = 1_000  # never the limit at this rate
DASHBOARD_K, DASHBOARD_CSV = 50, 1_000

PAYLOAD_SCHEMA = T.StructType(
    [f for f in AIR_QUALITY_SCHEMA.fields if f.name not in
     ("processed_timestamp", "kafka_offset", "kafka_partition")]
)
ENVELOPE_SCHEMA = T.StructType(
    [
        T.StructField("event_id", T.LongType(), True),
        T.StructField("created_at", T.DoubleType(), True),
        T.StructField("payload", T.StringType(), True),
    ]
)


@dataclass
class Context:
    spark: object
    entry: object  # the imported __spark_entry__ module
    tracer: trace.Tracer
    listener: trace.ProgressListener
    work: str
    seed: int
    seconds: int


@dataclass
class Result:
    #: the workload's own metrics, by name: name -> (value, unit)
    named: dict
    #: the workload-neutral end-to-end metrics BENCHMARK.json lists
    work_s: float
    tail_s: float
    attempted: int
    failed: int
    problems: list = field(default_factory=list)
    layers: dict = field(default_factory=dict)
    #: requests whose Spark jobs the end-to-end metrics time
    timed: set = field(default_factory=set)
    #: (start, end) epoch seconds of the timed part, for streaming progress
    window: tuple = (0.0, 0.0)


# ------------------------------------------------------------ query_suite


def query_suite(ctx: Context) -> Result:
    spark, tracer = ctx.spark, ctx.tracer
    data_dir = datagen.write_tables(os.path.join(ctx.work, "tables"), ctx.seed)
    qs, oracles = ctx.entry.queries(), ctx.entry.oracle_sql()
    con = checks.duck_views(data_dir, TESTDATA_TABLES)
    family_of = {q: fam for fam, names in SUITE.items() for q in names}
    per_query = {q: {"family": f, "build_s": [], "cold_s": []} for q, f in family_of.items()}
    problems, failed, passed = [], 0, []
    for name in family_of:
        trace.describe(spark, f"check {name}")
        t0 = time.perf_counter()
        try:
            errs = checks.query_vs_oracle(name, qs[name](spark, data_dir).toPandas(), con,
                                          oracles.get(name))
        except Exception as exc:  # a query that raises counts as failed
            errs = [f"{name}: {type(exc).__name__}: {exc}"[:300]]
        per_query[name]["check_s"] = time.perf_counter() - t0
        failed += bool(errs)
        problems += errs
        if not errs:
            passed.append(name)
    con.close()
    window_start = time.time()
    n_passes = max(3, ctx.seconds // PASS_S)
    for i in range(n_passes):
        for name in passed:
            rec = per_query[name]
            trace.describe(spark, name)
            with tracer.span("query", "query", name):
                t0 = time.perf_counter()
                with tracer.span(f"queries()[{name}]", "__spark_entry__", name):
                    df = qs[name](spark, data_dir)
                t1 = time.perf_counter()
                with tracer.span("noop write", "action", name):
                    df.write.format("noop").mode("overwrite").save()
                t2 = time.perf_counter()
            rec["build_s"].append(t1 - t0)
            rec["cold_s"].append(t2 - t1)
            if tracer.enabled and i == n_passes - 1:
                trace.describe(spark, f"warm {name}")
                t3 = time.perf_counter()
                df.write.format("noop").mode("overwrite").save()
                rec["warm_s"] = time.perf_counter() - t3
            del df
    window_end = time.time()
    # The suite time sums each query's median over the passes, so neither
    # the first pass, which still meets JIT compilation, nor one that meets
    # a GC pause moves it; p50 and tail are taken over every timed call.
    build = {q: stats.median(per_query[q]["build_s"]) for q in passed}
    cold = {q: stats.median(per_query[q]["cold_s"]) for q in passed}
    suite_s = sum(build[q] + cold[q] for q in passed)
    s = stats.summary([b + c for q in passed
                       for b, c in zip(per_query[q]["build_s"], per_query[q]["cold_s"])])
    layers = {"queries": per_query, "latency": s, "passes": n_passes,
              "entry.build_s": sum(build.values()), "action.cold_s": sum(cold.values())}
    for fam, names in SUITE.items():
        layers[f"operators.{fam}.s"] = sum(build[q] + cold[q] for q in names if q in build)
    if tracer.enabled:
        layers["action.warm_s"] = sum(per_query[q]["warm_s"] for q in passed)
        layers["action.codegen_s"] = layers["action.cold_s"] - layers["action.warm_s"]
    return Result(
        named={
            "query_suite_s": (suite_s, "s"),
            "query_p50_s": (s["p50"], "s"),
            "query_tail_s": (s["tail"], "s"),
        },
        # query_p50_s is printed but kept out of the JSON metrics: the
        # median of a mixture of nine queries moved with the machine by
        # more than any allowed bound (see BENCHMARK.md).
        work_s=suite_s, tail_s=s["tail"],
        attempted=len(family_of), failed=failed, problems=problems, layers=layers,
        timed=set(passed), window=(window_start, window_end),
    )


# ------------------------------------------------------------ streaming


def _start_chain(
    ctx: Context, src: str, out: str, files_per_trigger: int, available_now: bool, tag: str = ""
):
    """The chain under test: file stream -> dead-letter split -> enrich
    -> partitioned table, plus the dead-letter sink.  Returns both
    queries, fact table first."""
    raw = stream_json_records(ctx.spark, src, ENVELOPE_SCHEMA, files_per_trigger)
    good, bad = dead_letter_split(raw, "payload", PAYLOAD_SCHEMA)
    table = run_to_partitioned_parquet(
        enrich(good), os.path.join(out, "table"), os.path.join(out, f"ck_table{tag}"),
        partition_cols=("location",), trigger=DEFAULT_TRIGGER, available_now=available_now,
    )
    dead = run_to_partitioned_parquet(
        bad, os.path.join(out, "dead"), os.path.join(out, f"ck_dead{tag}"),
        trigger=DEFAULT_TRIGGER, available_now=available_now,
    )
    return table, dead


def _landed(ctx: Context, out: str):
    """(event_id, created_at, processed_timestamp seconds) of the table
    rows, and the dead-lettered event ids."""
    spark = ctx.spark
    trace.describe(spark, "check landed")
    rows = (
        spark.read.parquet(os.path.join(out, "table"))
        .select("event_id", "created_at", F.unix_micros("processed_timestamp").alias("pt"))
        .toPandas()
    )
    dead_dir = os.path.join(out, "dead")
    dead = (
        spark.read.parquet(dead_dir).select("event_id").toPandas()["event_id"].tolist()
        if checks.files_and_bytes(dead_dir)[0]
        else []
    )
    return rows, dead


def _landing_times(ctx: Context, query_id: str, rows) -> tuple[list, dict]:
    """Commit time of each row's epoch, found by joining its
    processed_timestamp (the batch timestamp) to the listener's
    progress events, which arrive asynchronously."""
    stamps = sorted(set(rows["pt"].tolist()))
    deadline = time.time() + 10
    while True:
        commits = trace.epoch_commits(ctx.listener.batches(query_id))
        try:
            matched = trace.match_epochs([s / 1e6 for s in stamps], commits)
            break
        except ValueError:
            if time.time() > deadline:
                raise
            time.sleep(0.1)
    commit_of = {s: matched[s / 1e6][1] for s in stamps}
    return [commit_of[s] for s in rows["pt"].tolist()], matched


def _stream_layers(batches, n_rows, table_dir, files_before: int = 0, bytes_before: int = 0) -> dict:
    files, size = checks.files_and_bytes(table_dir)
    files, size = files - files_before, size - bytes_before
    with_rows = [b for b in batches if b["numInputRows"] > 0]
    return {
        "streaming.batches": len(with_rows),
        "streaming.rows_per_batch": n_rows / max(1, len(with_rows)),
        "streaming.processed_rows_per_s": stats.median(
            [b["processedRowsPerSecond"] for b in with_rows]
        ) if with_rows else 0.0,
        "streaming.phase_p50_ms": trace.phase_p50_ms(with_rows),
        "sources.files_per_epoch": files / max(1, len(with_rows)),
        "sources.bytes_written_per_row": size / max(1, n_rows),
    }


# ------------------------------------------------------------ monitor_live


class DashboardClient(threading.Thread):
    """One closed-loop client on the table as it grows: a refresh calls
    the five widgets back to back, and the next refresh starts when the
    last one ends, from ``start_at`` until ``until``."""

    WIDGETS = ("dashboard_tiles", "aqi_distribution", "current_readings",
               "explore_top_k", "download_csv")

    def __init__(self, ctx: Context, table_dir: str, members, locations):
        super().__init__(name="dashboard-client", daemon=True)
        self.ctx, self.table_dir = ctx, table_dir
        self.members, self.locations = members, locations
        self.start_at = self.until = 0.0
        self.calls: list[dict] = []
        self.problems: list[str] = []
        self.error: BaseException | None = None
        self.abort = threading.Event()
        self._last_count = -1

    def call(self, name: str):
        df = read_parquet(self.ctx.spark, self.table_dir)
        if name == "dashboard_tiles":
            return serving.dashboard_tiles(df, key="location", metrics=("temp_c", "pm2_5", "humidity")).collect()
        if name == "aqi_distribution":
            return serving.aqi_distribution(df.withColumn("air_quality_index", aqi_band("pm2_5"))).collect()
        if name == "current_readings":
            return serving.current_readings(df, key="location", ts="timestamp", tie_break="event_id").collect()
        if name == "explore_top_k":
            return serving.explore_top_k(df, "location", self.members, "pm2_5", k=DASHBOARD_K,
                                         tie_break="event_id").collect()
        return serving.download_csv(df, limit=DASHBOARD_CSV)

    def refresh(self, scored: bool) -> None:
        for name in self.WIDGETS:
            n = len(self.calls)
            request = f"dashboard {n}" if scored else f"dashboard warm-up {n}"
            files = checks.files_and_bytes(self.table_dir)[0]
            trace.describe(self.ctx.spark, request)
            with self.ctx.tracer.span(name, "plans.serving", request):
                t0 = time.perf_counter()
                try:
                    out, err = self.call(name), None
                except Exception as exc:  # a call that raises counts as failed
                    out, err = None, f"{name}: {type(exc).__name__}: {exc}"[:300]
                dt = time.perf_counter() - t0
            errs = [err] if err else checks.widget_sanity(
                name, out, self.members, self.locations, DASHBOARD_K, DASHBOARD_CSV)
            if name == "dashboard_tiles" and out:
                count = out[0]["record_count"]
                if count < self._last_count:
                    errs.append(f"record_count fell from {self._last_count} to {count}")
                self._last_count = count
            self.problems += errs
            self.calls.append({"widget": name, "s": dt, "files": files, "request": request,
                               "scored": scored, "failed": bool(errs)})

    def run(self) -> None:
        try:
            if self.abort.wait(max(0.0, self.start_at - time.time())):
                return
            while time.time() < self.until and not self.abort.is_set():
                self.refresh(scored=True)
        except Exception as exc:  # re-raised by the caller after join
            self.error = exc


def _final_widgets(client: DashboardClient) -> dict:
    tiles = client.call("dashboard_tiles")[0].asDict()
    return {
        "tiles": tiles,
        "aqi": {r["air_quality_index"]: r["count"] for r in client.call("aqi_distribution")},
        "current": {r["location"]: r["event_id"] for r in client.call("current_readings")},
        "top": [r["event_id"] for r in client.call("explore_top_k")],
    }


def monitor_live(ctx: Context) -> Result:
    spark = ctx.spark
    out = os.path.join(ctx.work, "live")
    table_dir = os.path.join(out, "table")
    load = loadgen.AirQualityLoad(ctx.seed, LIVE_ROWS)
    members = load.locations[:3]
    # Warm-up, unscored: a small backlog lands through the same chain,
    # seeding the table the dashboard reads, then refreshes compile and
    # warm every widget.
    warm_src = os.path.join(ctx.work, "warm_src")
    os.makedirs(warm_src)
    warm = [load.publish(warm_src, i, BACKLOG_DUE + i) for i in range(LIVE_WARM_FILES)]
    trace.describe(spark, "warm-up stream")
    for q in _start_chain(ctx, warm_src, out, LIVE_FILES_PER_TRIGGER, True, "_warm"):
        q.awaitTermination()
    warm_files, warm_bytes = checks.files_and_bytes(table_dir)
    src = os.path.join(ctx.work, "src")
    os.makedirs(src)
    trace.describe(spark, "live stream")  # inherited by the streaming threads
    table_q, dead_q = _start_chain(ctx, src, out, LIVE_FILES_PER_TRIGGER, available_now=False)
    client = DashboardClient(ctx, table_dir, members, load.locations)
    for _ in range(LIVE_WARM_REFRESHES):
        client.refresh(scored=False)
    # Processing-time triggers fire on multiples of the interval since the
    # epoch.  The generator publishes half a period off that grid, which
    # keeps every file a fixed distance from the trigger that picks it up.
    # The window ends on a trigger instant, so the last files land in
    # that batch.
    interval = float(DEFAULT_TRIGGER.split()[0])
    first = math.ceil((time.time() + 0.3) / interval) * interval
    t_end = first + math.ceil(ctx.seconds / interval) * interval
    client.start_at, client.until = first, t_end
    gen = loadgen.OpenLoopPublisher(load, src, first + LIVE_PERIOD / 2, LIVE_PERIOD, t_end,
                                    first_index=LIVE_WARM_FILES)
    gen.start()
    client.start()
    try:
        gen.join(t_end - time.time() + 30)
        client.join(max(0.0, t_end - time.time()) + 60)
        if gen.is_alive() or client.is_alive():
            raise RuntimeError("load generator or dashboard client did not finish")
        for exc in (gen.error, client.error):
            if exc:
                raise exc
        for q in (table_q, dead_q):
            q.processAllAvailable()
        window_end = time.time()
    finally:
        gen.abort.set()
        client.abort.set()
        for q in (table_q, dead_q):
            q.stop()

    rows, dead = _landed(ctx, out)
    live = rows[rows["event_id"] >= LIVE_WARM_FILES * LIVE_ROWS]
    landed, matched = _landing_times(ctx, table_q.id, live)
    fresh = [c - s for c, s in zip(landed, live["created_at"].tolist())]
    files = warm + gen.files
    failed, problems = checks.ingest_accounting(files, rows["event_id"].tolist(), dead)
    good_records = [r for f in files for r in f.records]
    want = checks.expected_dashboard(good_records, members, DASHBOARD_K)
    final_errs = checks.final_dashboard(_final_widgets(client), want)
    problems += client.problems + final_errs
    calls = [c for c in client.calls if c["scored"]]
    dash = stats.summary([c["s"] for c in calls])
    fr = stats.summary(fresh)
    # One refresh's latency: each widget's median call, summed.  A call
    # that overlaps a micro-batch takes up to three times as long; they
    # are a minority (a batch holds the cores for ~1 s of every 5 s),
    # which a per-widget median passes over.  The median of all calls
    # instead lands on whichever widget sits in the middle.
    serving_p50 = {w: stats.median([c["s"] for c in calls if c["widget"] == w])
                   for w in DashboardClient.WIDGETS}
    refresh_s = sum(serving_p50.values())

    batches = ctx.listener.batches(table_q.id)
    dur_of = {b["batchId"]: b["durationMs"]["triggerExecution"] / 1000.0 for b in batches}
    waits = [f - dur_of[matched[pt / 1e6][0]] for f, pt in zip(fresh, live["pt"].tolist())]
    read_by_end = sum(
        b["numInputRows"] for b in batches
        if trace.parse_ts(b["timestamp"]) + b["durationMs"]["triggerExecution"] / 1000.0 <= t_end
    )
    layers = _stream_layers(batches, len(live), table_dir, warm_files, warm_bytes)
    layers.update({
        "freshness": fr,
        "dashboard": dash,
        "streaming.trigger_wait_s": stats.median(waits),
        "streaming.backlog_files_end": len(gen.files) - read_by_end / LIVE_ROWS,
        "streaming.dead_letter_rows": len(dead),
        "sources.table_files_at_read": stats.summary([c["files"] for c in calls]),
        "serving": serving_p50,
        "load.generator_late_s": max(gen.lateness),
        "load.files": len(gen.files),
        "dashboard_calls": client.calls,
    })
    return Result(
        named={"freshness_p50_s": (fr["p50"], "s"), "freshness_tail_s": (fr["tail"], "s"),
               "dashboard_refresh_s": (refresh_s, "s"),
               "dashboard_p50_s": (dash["p50"], "s"), "dashboard_tail_s": (dash["tail"], "s")},
        # The dashboard latencies are printed but kept out of the JSON
        # metrics: on a shared 4-core host they moved with the machine by
        # more than any allowed bound (see BENCHMARK.md).
        work_s=fr["p50"], tail_s=fr["tail"],
        attempted=len(files) * LIVE_ROWS + len(client.calls) + 4,
        failed=failed + sum(c["failed"] for c in client.calls) + len(final_errs),
        problems=problems, layers=layers,
        timed={"live stream"} | {c["request"] for c in calls}, window=(first, window_end),
    )


WORKLOADS = {
    "query_suite": query_suite,
    "monitor_live": monitor_live,
}
