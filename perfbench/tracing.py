"""Traced runs: spans around calls into each library layer, attributed to
Spark's own event log.

Each public function and method of the layer modules is wrapped in a span
(layer, name, start, end, parent). The innermost open span id is set as a
Spark local property, so every job, stage and task Spark runs while the span
is open carries it into the event log; streaming micro-batch jobs are
attributed by their query id. Spans stay in memory until the run ends."""

from __future__ import annotations

import functools
import glob
import inspect
import itertools
import json
import sys
import threading
import time
from collections import defaultdict
from contextlib import contextmanager

import pyarrow as pa

from common import median

LAYERS = ("context", "collection", "pair", "operators", "functions", "streaming", "sources")
SPAN_PROPERTY = "perfbench.span"
STREAM_PROPERTY = "sql.streaming.queryId"
#: One span record; times are ``time.perf_counter()`` seconds.
SPAN_FIELDS = ("id", "parent", "layer", "name", "start_s", "end_s", "failed")


def layer_of(module: str) -> str | None:
    parts = module.split(".")
    if parts[0] != "scio_spark" or len(parts) < 2:
        return None
    return parts[1] if parts[1] in LAYERS else None


class Tracer:
    def __init__(self, spark):
        self._jsc = spark.sparkContext._jsc
        self._ids = itertools.count(1)
        self._local = threading.local()
        self._lock = threading.Lock()
        self.active = True
        self.spans: list[list] = []  # records of SPAN_FIELDS

    def reset(self):
        with self._lock:
            self.spans = []

    @contextmanager
    def span(self, layer: str, name: str):
        stack = self._local.__dict__.setdefault("stack", [])
        parent = stack[-1][0] if stack else None
        rec = [next(self._ids), parent, layer, name, time.perf_counter(), None, False]
        stack.append(rec)
        self._jsc.setLocalProperty(SPAN_PROPERTY, str(rec[0]))
        try:
            yield
        except BaseException:
            rec[6] = True
            raise
        finally:
            rec[5] = time.perf_counter()
            stack.pop()
            self._jsc.setLocalProperty(SPAN_PROPERTY, str(parent) if parent else None)
            with self._lock:
                self.spans.append(rec)


def instrument(tracer: Tracer) -> int:
    """Wrap every public function and method defined in a loaded layer
    module, and rebind every loaded reference to them. Returns the count."""
    originals: dict[int, object] = {}

    def wrap(fn, layer):
        name = f"{fn.__module__}.{fn.__qualname__}"

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            if not tracer.active:
                return fn(*args, **kwargs)
            with tracer.span(layer, name):
                return fn(*args, **kwargs)

        return traced

    mods = [m for n, m in list(sys.modules.items()) if m is not None and layer_of(n)]
    for mod in mods:
        layer = layer_of(mod.__name__)
        for attr, obj in list(vars(mod).items()):
            if attr.startswith("_"):
                continue
            if inspect.isfunction(obj) and obj.__module__ == mod.__name__:
                originals[id(obj)] = wrap(obj, layer)
            elif inspect.isclass(obj) and obj.__module__ == mod.__name__:
                for mname, meth in list(vars(obj).items()):
                    if (mname == "__init__" or not mname.startswith("_")) and inspect.isfunction(meth):
                        setattr(obj, mname, wrap(meth, layer))
    users = [
        m for n, m in list(sys.modules.items())
        if m is not None and (n.startswith("scio_spark") or n == "__spark_entry__")
    ]
    for mod in users:
        for attr, obj in list(vars(mod).items()):
            if id(obj) in originals and callable(obj):
                setattr(mod, attr, originals[id(obj)])
    return len(originals)


# ---------------------------------------------------------------- event log

def read_event_log(log_dir) -> list[dict]:
    events = []
    for path in sorted(glob.glob(f"{log_dir}/eventlog_v2_*/events_*")):
        with pa.input_stream(path, compression="zstd") as f:
            text = f.read().decode()
        for line in text.splitlines():
            if line.strip():
                events.append(json.loads(line))
    return events


def _walk_plan(info: dict, out: dict) -> None:
    for m in info.get("metrics", []):
        out[m["accumulatorId"]] = (info.get("nodeName", ""), m["name"])
    for child in info.get("children", []):
        _walk_plan(child, out)


def _union_ms(intervals) -> float:
    total, end = 0.0, None
    for a, b in sorted(intervals):
        if end is None or a > end:
            total += b - a
            end = b
        elif b > end:
            total += b - end
            end = b
    return total


def summarize(events: list[dict], spans: list[list], window_ms: tuple[float, float]) -> dict:
    """Per-layer and Spark-phase metrics for the jobs submitted inside
    ``window_ms`` (epoch milliseconds) and the spans recorded by the tracer."""
    lo, hi = window_ms
    span_layer = {s[0]: s[2] for s in spans}
    jobs, job_of_stage, stages = {}, {}, {}
    task_stats = defaultdict(list)
    acc_names: dict[int, tuple[str, str]] = {}
    driver_acc = defaultdict(list)
    m = defaultdict(float)
    for e in events:
        kind = e["Event"]
        if kind == "SparkListenerJobStart":
            if not lo <= e["Submission Time"] <= hi:
                continue
            props = e.get("Properties") or {}
            if props.get(STREAM_PROPERTY):
                layer = "streaming"
            else:
                sid = props.get(SPAN_PROPERTY)
                layer = span_layer.get(int(sid)) if sid else None
            jobs[e["Job ID"]] = {
                "start": e["Submission Time"], "end": None, "layer": layer,
                "exec": props.get("spark.sql.execution.id"), "stages": e["Stage IDs"],
            }
            for st in e["Stage IDs"]:
                job_of_stage.setdefault(st, e["Job ID"])
        elif kind == "SparkListenerJobEnd" and e["Job ID"] in jobs:
            jobs[e["Job ID"]]["end"] = e["Completion Time"]
        elif kind == "SparkListenerStageCompleted":
            info = e["Stage Info"]
            if info["Stage ID"] in job_of_stage and "Submission Time" in info:
                stages[info["Stage ID"]] = (info["Submission Time"], info["Completion Time"])
        elif kind == "SparkListenerTaskEnd":
            st = e["Stage ID"]
            if st not in job_of_stage:
                continue
            tm = e.get("Task Metrics") or {}
            run_ms = tm.get("Executor Run Time", 0)
            task_stats[st].append(run_ms)
            m["spark.tasks"] += 1
            m["exec_ms"] += run_ms
            m["cpu_ns"] += tm.get("Executor CPU Time", 0)
            m["gc_ms"] += tm.get("JVM GC Time", 0)
            m["result_bytes"] += tm.get("Result Size", 0)
            m["scan_bytes"] += (tm.get("Input Metrics") or {}).get("Bytes Read", 0)
            sr = tm.get("Shuffle Read Metrics") or {}
            m["shuffle_read_bytes"] += sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
            m["fetch_wait_ms"] += sr.get("Fetch Wait Time", 0)
            sw = tm.get("Shuffle Write Metrics") or {}
            m["shuffle_write_bytes"] += sw.get("Shuffle Bytes Written", 0)
            m["shuffle_write_ns"] += sw.get("Shuffle Write Time", 0)
            layer = jobs[job_of_stage[st]]["layer"]
            m[f"{layer}.exec_ms"] += run_ms
            for acc in (e.get("Task Info") or {}).get("Accumulables", []):
                name, upd = acc.get("Name"), acc.get("Update")
                if name == "scan time":
                    m["scan_ms"] += float(upd)
                elif name == "time to run Python workers":
                    m["python_ms"] += float(upd)
                elif name == "data sent to Python workers":
                    m["python_out"] += float(upd)
                elif name == "data returned from Python workers":
                    m["python_in"] += float(upd)
        elif kind.endswith("SQLExecutionStart") or kind.endswith("SQLAdaptiveExecutionUpdate"):
            _walk_plan(e.get("sparkPlanInfo") or {}, acc_names)
        elif kind.endswith("SparkListenerDriverAccumUpdates"):
            driver_acc[str(e["executionId"])].extend(e.get("accumUpdates") or [])

    execs = {j["exec"] for j in jobs.values() if j["exec"] is not None}
    for ex in execs:
        for acc_id, value in driver_acc.get(ex, []):
            node, name = acc_names.get(acc_id, ("", ""))
            if node != "BroadcastExchange":
                continue
            if name in ("time to collect", "time to build", "time to broadcast"):
                m["broadcast_ms"] += value
            elif name == "data size":
                m["broadcast_bytes"] += value

    driver_ms = job_ms = 0.0
    for j in jobs.values():
        if j["end"] is None:
            continue
        ran = [stages[s] for s in j["stages"] if s in stages]
        job_ms += j["end"] - j["start"]
        driver_ms += max(0.0, (j["end"] - j["start"]) - _union_ms(ran))
        m[f"{j['layer']}.jobs"] += 1

    skew_num = skew_den = 0.0
    for times in task_stats.values():
        if len(times) >= 2 and median(times) > 0:
            skew_num += max(times) / median(times) * sum(times)
            skew_den += sum(times)

    out = {
        "spark.jobs": float(len(jobs)),
        "spark.stages": float(len(stages)),
        "spark.tasks": m["spark.tasks"],
        "spark.exec_s": m["exec_ms"] / 1e3,
        "spark.exec_cpu_s": m["cpu_ns"] / 1e9,
        "spark.gc_s": m["gc_ms"] / 1e3,
        "spark.scan_s": m["scan_ms"] / 1e3,
        "spark.scan_bytes": m["scan_bytes"],
        "spark.shuffle_write_bytes": m["shuffle_write_bytes"],
        "spark.shuffle_write_s": m["shuffle_write_ns"] / 1e9,
        "spark.shuffle_read_bytes": m["shuffle_read_bytes"],
        "spark.shuffle_fetch_wait_s": m["fetch_wait_ms"] / 1e3,
        "spark.task_skew": skew_num / skew_den if skew_den else 1.0,
        "spark.python_s": m["python_ms"] / 1e3,
        "spark.python_bytes_out": m["python_out"],
        "spark.python_bytes_in": m["python_in"],
        "spark.broadcast_s": m["broadcast_ms"] / 1e3,
        "spark.broadcast_bytes": m["broadcast_bytes"],
        "spark.result_bytes": m["result_bytes"],
        "spark.driver_s": driver_ms / 1e3,
    }
    exec_s = out["spark.exec_s"] or 1.0
    out["spark.scan_shuffle_share"] = (
        out["spark.scan_s"] + out["spark.shuffle_write_s"] + out["spark.shuffle_fetch_wait_s"]
    ) / exec_s
    out["spark.python_share"] = out["spark.python_s"] / exec_s
    out["spark.driver_share"] = driver_ms / job_ms if job_ms else 0.0

    children = defaultdict(float)
    for s in spans:
        if s[1] is not None:
            children[s[1]] += s[5] - s[4]
    for layer in LAYERS:
        mine = [s for s in spans if s[2] == layer]
        out[f"{layer}.calls"] = float(len(mine))
        out[f"{layer}.self_s"] = sum(max(0.0, s[5] - s[4] - children[s[0]]) for s in mine)
        out[f"{layer}.jobs"] = m[f"{layer}.jobs"]
        out[f"{layer}.exec_s"] = m[f"{layer}.exec_ms"] / 1e3
        out[f"{layer}.failed"] = float(sum(1 for s in mine if s[6]))
    out["streaming.exec_share"] = out["streaming.exec_s"] / exec_s
    return out
