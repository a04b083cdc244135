"""Spans, streaming progress and the Spark event-log parser.

Spans are kept in memory and written out when the run ends.  Each one
covers one call from the benchmark into a layer's public function and
carries its name, layer, start, end, parent span and request id.  The
untraced run uses :class:`NullTracer`, which records nothing.
"""

from __future__ import annotations

import contextlib
import datetime as dt
import glob
import json
import os
import threading
import time
from collections import defaultdict
from dataclasses import asdict, dataclass

from pyspark.sql.streaming import StreamingQueryListener

from stats import median

#: durationMs phases of one trigger, in the order Spark runs them
PHASES = (
    "latestOffset", "getBatch", "queryPlanning", "addBatch",
    "walCommit", "commitOffsets", "triggerExecution",
)
#: job-description prefix that ties Spark jobs to benchmark requests
JOB_PREFIX = "perfbench:"
#: local property naming a job's request; threads started under a request
#: (a streaming query's) inherit it, unlike the job description
REQUEST_KEY = "perfbench.request"
#: plan nodes whose timing metrics are Python-worker time
PYTHON_NODES = ("ArrowEvalPython", "BatchEvalPython", "MapInPandas", "MapInArrow",
                "FlatMapGroupsInPandas", "FlatMapCoGroupsInPandas", "AggregateInPandas",
                "WindowInPandas")


@dataclass
class Span:
    name: str
    layer: str
    request: str
    start: float
    end: float
    id: int
    parent: int | None


class Tracer:
    """In-memory spans; parents follow the calling thread's open spans."""

    enabled = True

    def __init__(self):
        self.spans: list[Span] = []
        self._lock = threading.Lock()
        self._local = threading.local()

    @contextlib.contextmanager
    def span(self, name: str, layer: str, request: str = ""):
        stack = self._local.__dict__.setdefault("stack", [])
        with self._lock:
            sid = len(self.spans)
            self.spans.append(Span(name, layer, request, time.time(), 0.0, sid,
                                   stack[-1] if stack else None))
        stack.append(sid)
        try:
            yield
        finally:
            stack.pop()
            self.spans[sid].end = time.time()

    def add(self, name: str, layer: str, request: str, start: float, end: float) -> None:
        """A finished root span measured elsewhere (a streaming trigger)."""
        with self._lock:
            self.spans.append(Span(name, layer, request, start, end, len(self.spans), None))

    def self_times(self) -> dict[str, float]:
        """Seconds per layer: each span's duration minus the part of it
        that its child spans cover."""
        children = defaultdict(list)
        for s in self.spans:
            if s.parent is not None:
                children[s.parent].append(s)
        out: dict[str, float] = defaultdict(float)
        for s in self.spans:
            covered, cursor = 0.0, s.start
            for c in sorted(children[s.id], key=lambda c: c.start):
                lo, hi = max(c.start, cursor), min(c.end, s.end)
                if hi > lo:
                    covered += hi - lo
                    cursor = hi
            out[s.layer] += (s.end - s.start) - covered
        return dict(out)

    def dump(self) -> list[dict]:
        return [asdict(s) for s in self.spans]


class NullTracer(Tracer):
    enabled = False

    @contextlib.contextmanager
    def span(self, name: str, layer: str, request: str = ""):
        yield

    def add(self, *args) -> None:
        pass


def describe(spark, request: str) -> None:
    """Tag the Spark jobs the calling thread runs next with ``request``."""
    sc = spark.sparkContext
    sc.setJobDescription(f"{JOB_PREFIX}{request}")
    sc.setLocalProperty(REQUEST_KEY, request)


def parse_ts(text: str) -> float:
    """Epoch seconds of a progress event's ISO-8601 UTC timestamp."""
    return dt.datetime.strptime(text, "%Y-%m-%dT%H:%M:%S.%fZ").replace(
        tzinfo=dt.timezone.utc
    ).timestamp()


class ProgressListener(StreamingQueryListener):
    """Keeps every trigger's progress, keyed by query id; with a tracer,
    each trigger also becomes a span (request id = epoch id)."""

    def __init__(self, tracer: Tracer):
        self.tracer = tracer
        self.progress: dict[str, list[dict]] = defaultdict(list)
        self._lock = threading.Lock()

    def onQueryStarted(self, event) -> None:
        pass

    def onQueryProgress(self, event) -> None:
        p = json.loads(event.progress.json)
        with self._lock:
            self.progress[p["id"]].append(p)
        start = parse_ts(p["timestamp"])
        dur = p["durationMs"].get("triggerExecution", 0) / 1000.0
        self.tracer.add("trigger", "streaming.pipeline", f"epoch {p['batchId']}",
                        start, start + dur)

    def onQueryIdle(self, event) -> None:
        pass

    def onQueryTerminated(self, event) -> None:
        pass

    def batches(self, query_id: str) -> list[dict]:
        """Progress of the triggers that ran a batch (input rows or not)."""
        with self._lock:
            return [p for p in self.progress[query_id] if "addBatch" in p["durationMs"]]


def epoch_commits(batches: list[dict]) -> list[tuple[float, float, int]]:
    """(trigger start, commit time, epoch id) per batch: the trigger
    starts at the progress ``timestamp`` and its epoch is committed when
    ``triggerExecution`` ends."""
    out = []
    for p in batches:
        start = parse_ts(p["timestamp"])
        out.append((start, start + p["durationMs"]["triggerExecution"] / 1000.0, p["batchId"]))
    return sorted(out)


def match_epochs(batch_stamps, commits) -> dict[float, tuple[int, float]]:
    """Map each distinct ``processed_timestamp`` (epoch seconds, the
    batch timestamp Spark fixes while planning the batch) to the (epoch
    id, commit time) of the trigger whose run contains it.  Raises when
    a stamp falls in no trigger, so a wrong join cannot pass silently."""
    out = {}
    for ts in batch_stamps:
        hits = [(eid, end) for start, end, eid in commits if start - 0.001 <= ts <= end]
        if len(hits) != 1:
            raise ValueError(f"batch timestamp {ts} matches {len(hits)} triggers")
        out[ts] = hits[0]
    return out


def phase_p50_ms(batches: list[dict]) -> dict[str, float]:
    out = {}
    for phase in PHASES:
        vals = [p["durationMs"][phase] for p in batches if phase in p["durationMs"]]
        if vals:
            out[phase] = median(vals)
    return out


# ------------------------------------------------------------ event log


def _task_metrics(ev: dict) -> dict:
    m = ev.get("Task Metrics") or {}
    sr = m.get("Shuffle Read Metrics") or {}
    sw = m.get("Shuffle Write Metrics") or {}
    return {
        "tasks": 1,
        "executor_run_ms": m.get("Executor Run Time", 0),
        "executor_cpu_ms": m.get("Executor CPU Time", 0) / 1e6,
        "shuffle_read_bytes": sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0),
        "shuffle_write_bytes": sw.get("Shuffle Bytes Written", 0),
        "spill_bytes": m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0),
    }


def _walk_plan(node: dict, acc: dict) -> None:
    name = node.get("nodeName", "")
    if "Exchange" in name:
        acc["exchanges"] += 1
    if name.startswith(PYTHON_NODES):
        for metric in node.get("metrics", []):
            if metric["name"] == "time to run Python workers":
                acc["python_timers"][metric["accumulatorId"]] = metric["metricType"]
    for child in node.get("children", []):
        _walk_plan(child, acc)


def _parse_one_log(path: str, out: dict) -> None:
    stage_desc: dict[int, str] = {}
    exec_desc: dict[int, str] = {}
    final_plan: dict[int, dict] = {}
    updates: dict[int, float] = defaultdict(float)
    with open(path) as fh:
        for line in fh:
            ev = json.loads(line)
            kind = ev["Event"]
            if kind == "SparkListenerJobStart":
                props = ev.get("Properties") or {}
                desc = props.get(REQUEST_KEY) or (
                    "streaming" if "sql.streaming.queryId" in props else "other")
                for sid in ev.get("Stage IDs", []):
                    stage_desc[sid] = desc
                if "spark.sql.execution.id" in props:
                    exec_desc.setdefault(int(props["spark.sql.execution.id"]), desc)
            elif kind == "SparkListenerStageCompleted":
                info = ev["Stage Info"]
                if info.get("Completion Time") and not info.get("Failure Reason"):
                    out[stage_desc.get(info["Stage ID"], "other")]["stages"] += 1
            elif kind == "SparkListenerTaskEnd":
                acc = out[stage_desc.get(ev["Stage ID"], "other")]
                for k, v in _task_metrics(ev).items():
                    acc[k] += v
                for a in (ev.get("Task Info") or {}).get("Accumulables", []):
                    if a.get("Metadata") == "sql" and "Update" in a:
                        updates[a["ID"]] += float(a["Update"])
            elif kind.endswith(("SQLExecutionStart", "SQLAdaptiveExecutionUpdate")):
                final_plan[ev["executionId"]] = ev["sparkPlanInfo"]
    for ex, plan in final_plan.items():
        acc = {"exchanges": 0, "python_timers": {}}
        _walk_plan(plan, acc)
        desc = out[exec_desc.get(ex, "other")]
        desc["final_plan_exchanges"] += acc["exchanges"]
        for mid, unit in acc["python_timers"].items():
            desc["python_udf_ms"] += updates.get(mid, 0.0) / (1e6 if unit == "nsTiming" else 1.0)


def parse_event_log(log_dir: str) -> dict[str, dict]:
    """Per request (the job's ``REQUEST_KEY`` property): executed stages,
    tasks, executor run/CPU time, shuffle bytes, spill and Python-worker
    time.

    Stages are the ones that completed (AQE's re-planned shape, skipped
    stages excluded).  ``final_plan_exchanges`` counts exchanges in each
    SQL execution's last plan (post-AQE when AQE re-planned it), and
    ``python_udf_ms`` sums the "time to run Python workers" metric of
    its Python nodes (ArrowEvalPython, MapInPandas, ...).  Jobs without
    a request are grouped under ``streaming`` when Structured Streaming
    ran them, else ``other``.
    """
    out: dict[str, dict] = defaultdict(lambda: defaultdict(float))
    # one log per SparkContext; stage and execution ids restart in each
    for path in sorted(glob.glob(os.path.join(log_dir, "*"))):
        _parse_one_log(path, out)
    return {k: dict(v) for k, v in out.items()}
