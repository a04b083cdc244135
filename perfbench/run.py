"""Benchmark of the whole monitoring loop.

    python3 perfbench/run.py --workload query_suite --seed 1 --seconds 10 --trace 0

Runs one workload (see ``workloads.py`` and ``BENCHMARK.md``) against
the engine's public functions, checks the outputs, and prints the
metrics: one ``name value unit`` line per metric, then, as the last
line, one JSON object.  ``--trace 0`` reports the end-to-end metrics;
``--trace 1`` is the separate traced run: it records spans and Spark's
event log and reports the per-layer metrics, also written in full to
``perfbench/_work/<workload>/per_layer.json``.  The exit code is 1 when
an output check fails.

Spark runs at ``local[nproc]``.  Everything the run writes stays under
the checkout: ``perfbench/_work/`` and the engine's ``spark-warehouse/``.
"""

from __future__ import annotations

import argparse
import importlib
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
#: set-ups per run; the median is reported as setup_s
SETUPS = 2
DRIVER_MEMORY = "3g"
#: a run that has not finished by then is aborted (runs must end within 180 s)
RUN_LIMIT_S = 150


def parse_args(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True,
                    choices=["query_suite", "monitor_live"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    return ap.parse_args(argv)


def configure_env(work: str, traced: bool) -> str | None:
    """Spark settings that must exist before the JVM starts.  The event
    log is switched on from outside the engine, so ``get_session`` runs
    unchanged."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    os.environ["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))
    os.environ.setdefault("SPARK_DRIVER_MEMORY", DRIVER_MEMORY)
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["TMPDIR"] = tmp
    args = [
        "--conf", "spark.ui.showConsoleProgress=false",
        # no hsperfdata files under the system /tmp
        "--driver-java-options", f"'-Djava.io.tmpdir={tmp} -XX:-UsePerfData'",
    ]
    log_dir = None
    if traced:
        log_dir = os.path.join(work, "eventlog")
        os.makedirs(log_dir)
        args += [
            "--conf", "spark.eventLog.enabled=true",
            "--conf", f"spark.eventLog.dir=file://{log_dir}",
            "--conf", "spark.eventLog.compress=false",
            "--conf", "spark.eventLog.rolling.enabled=false",
        ]
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join(args + ["pyspark-shell"])
    return log_dir


def stop_engine(spark=None) -> None:
    """Stop the session and the JVM it runs in, and wait for the JVM."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    if spark is not None:
        spark.stop()
    if gateway is not None:
        proc = gateway.proc
        gateway.shutdown()
        proc.stdin.close()
        try:
            proc.wait(20)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    SparkContext._gateway = None
    SparkContext._jvm = None


def set_up(tracer, i: int):
    """One cold engine set-up: JVM + ``get_session``, the
    ``__spark_entry__`` import, and a warm-up action."""
    from etl_based_real_time_air_quality_monitoring_system_spark.session import get_session

    from tracing import describe

    times = {}
    with tracer.span("setup", "setup", f"setup {i}"):
        t0 = time.perf_counter()
        with tracer.span("get_session", "session", f"setup {i}"):
            spark = get_session("perfbench")
        t1 = time.perf_counter()
        sys.modules.pop("__spark_entry__", None)
        with tracer.span("import __spark_entry__", "__spark_entry__", f"setup {i}"):
            entry = importlib.import_module("__spark_entry__")
        t2 = time.perf_counter()
        describe(spark, f"setup {i}")
        with tracer.span("warm-up action", "action", f"setup {i}"):
            spark.range(0, 100_000, 1, 8).selectExpr("sum(id)").collect()
        t3 = time.perf_counter()
    times.update(get_session_s=t1 - t0, import_s=t2 - t1, warmup_s=t3 - t2, setup_s=t3 - t0)
    return spark, entry, times


def peak_rss_mb(pid: int) -> float:
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError("VmHWM not reported")


def main(argv=None) -> int:
    args = parse_args(argv)

    def too_long(signum, frame):
        raise TimeoutError(f"run exceeded {RUN_LIMIT_S} s")

    signal.signal(signal.SIGALRM, too_long)
    signal.alarm(RUN_LIMIT_S)
    work = os.path.join(HERE, "_work", args.workload)
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    log_dir = configure_env(work, bool(args.trace))
    sys.path.insert(0, ROOT)

    from pyspark import SparkContext

    import stats
    import tracing as trace
    import workloads

    tracer = trace.Tracer() if args.trace else trace.NullTracer()
    setups, spark = [], None
    try:
        for i in range(SETUPS):
            if spark is not None:
                stop_engine(spark)
            spark, entry, times = set_up(tracer, i)
            setups.append(times)
        jvm_pid = SparkContext._gateway.proc.pid
        listener = trace.ProgressListener(tracer)
        spark.streams.addListener(listener)
        ctx = workloads.Context(spark, entry, tracer, listener, work, args.seed, args.seconds)
        t_run = time.perf_counter()
        result = workloads.WORKLOADS[args.workload](ctx)
        layers = dict(result.layers)
        rss = peak_rss_mb(jvm_pid)
        run_s = time.perf_counter() - t_run
    finally:
        stop_engine(spark)
    signal.alarm(0)

    setup_s = stats.median([s["setup_s"] for s in setups])
    named = {"setup_s": (setup_s, "s"), **result.named,
             "failed_frac": (result.failed / result.attempted, "1")}
    for name, (value, unit) in named.items():
        print(f"{args.workload} {name} {value:.6g} {unit}")
    for p in result.problems[:20]:
        print(f"{args.workload} CHECK FAILED: {p}")

    if args.trace:
        layers.update({
            "session.get_session_s": stats.median([s["get_session_s"] for s in setups]),
            "entry.import_s": stats.median([s["import_s"] for s in setups]),
            "setup.warmup_action_s": stats.median([s["warmup_s"] for s in setups]),
            "jvm.peak_rss_mb": rss,
            "streaming.timed": streaming_totals(listener, result.window),
            "self_time_s": tracer.self_times(),
            "exec": trace.parse_event_log(log_dir),
        })
        metrics = per_layer_metrics(layers, result.timed)
        report = {"workload": args.workload, "seed": args.seed, "seconds": args.seconds,
                  "run_s": run_s, "end_to_end_traced": {k: v for k, (v, _) in named.items()},
                  "tracing_overhead": overhead(work, named), "metrics": metrics,
                  "timed_requests": sorted(result.timed),
                  "layers": layers, "spans": tracer.dump()}
        with open(os.path.join(work, "per_layer.json"), "w") as fh:
            json.dump(report, fh, indent=1, default=str)
    else:
        metrics = {
            "setup_s": {"value": setup_s, "unit": "s"},
            "work_s": {"value": result.work_s, "unit": "s"},
            "tail_s": {"value": result.tail_s, "unit": "s"},
        }
        with open(os.path.join(HERE, "_work", f"untraced_{args.workload}.json"), "w") as fh:
            json.dump({k: v for k, (v, _) in named.items()}, fh)
        with open(os.path.join(work, "layers.json"), "w") as fh:
            json.dump(layers, fh, indent=1, default=str)
    correct = result.failed == 0 and not result.problems
    print(json.dumps({"correct": correct, "attempted": result.attempted,
                      "failed": result.failed, "metrics": metrics}))
    return 0 if correct else 1


def overhead(work: str, named: dict) -> dict:
    """Traced minus untraced end-to-end values, against the last
    untraced run of this workload in the checkout."""
    path = os.path.join(os.path.dirname(work), f"untraced_{os.path.basename(work)}.json")
    if not os.path.exists(path):
        return {"note": "no untraced run of this workload in this checkout yet"}
    with open(path) as fh:
        base = json.load(fh)
    return {k: named[k][0] - v for k, v in base.items() if k in named}


def streaming_totals(listener, window: tuple) -> dict:
    """Batches with input that started in the workload's timed window,
    over every streaming query (the query_suite's streaming gates
    included), and their phase medians."""
    import tracing as trace

    lo, hi = window
    batches = [p for q in listener.progress for p in listener.batches(q)
               if p["numInputRows"] and lo <= trace.parse_ts(p["timestamp"]) <= hi]
    return {"batches": len(batches), "phase_p50_ms": trace.phase_p50_ms(batches)}


def per_layer_metrics(layers: dict, timed: set) -> dict:
    """The per_layer metrics BENCHMARK.json lists: the ones every
    workload measures.  ``exec.*`` adds up the requests the end-to-end
    metrics time; per_layer.json keeps every request's own figures."""
    ex = layers["exec"]
    total = lambda key: sum(ex.get(r, {}).get(key, 0.0) for r in timed)  # noqa: E731
    streaming = layers["streaming.timed"]
    out = {
        "session.get_session_s": (layers["session.get_session_s"], "s"),
        "entry.import_s": (layers["entry.import_s"], "s"),
        "setup.warmup_action_s": (layers["setup.warmup_action_s"], "s"),
        "exec.stages": (total("stages"), "count"),
        "exec.tasks": (total("tasks"), "count"),
        "exec.executor_run_ms": (total("executor_run_ms"), "ms"),
        "exec.executor_cpu_ms": (total("executor_cpu_ms"), "ms"),
        "exec.shuffle_write_bytes": (total("shuffle_write_bytes"), "bytes"),
        "streaming.batches": (streaming["batches"], "count"),
        "streaming.addBatch_ms": (streaming["phase_p50_ms"].get("addBatch", 0.0), "ms"),
        "streaming.triggerExecution_ms": (
            streaming["phase_p50_ms"].get("triggerExecution", 0.0), "ms"),
        "jvm.peak_rss_mb": (layers["jvm.peak_rss_mb"], "MB"),
    }
    return {k: {"value": v, "unit": u} for k, (v, u) in out.items()}


if __name__ == "__main__":
    sys.exit(main())
