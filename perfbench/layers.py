"""Per-layer tracing from the benchmark's side of each call.

Spans are recorded around every call the benchmark makes into a layer of
the package (name, layer, start, end, parent, pass, run id), kept in memory
and written once when the run ends. Each step phase also runs under a Spark
job group ``<workload>/<step>/<phase>``, and the run's Spark jobs, stages
and tasks are read back from the event log after the session stops. The
program itself is not changed.
"""

from __future__ import annotations

import functools
import json
import os
import statistics
import threading
import time
from contextlib import contextmanager

from sensordatapipelines_spark import Pipeline

OPERATOR_MODULES = ("spatial", "temporal", "interpolate", "dedup", "similarity", "graph", "text")


def layer_of(fn) -> str:
    """Layer of a package function, from the module it is defined in."""
    mod = getattr(fn, "__module__", "") or ""
    parts = mod.split(".")
    if "operators" in parts:
        return "operators." + parts[-1]
    if parts[-1] == "sinks":
        return "sinks"
    if "sources" in parts:
        return "sources"
    if "streaming" in parts:
        return "streaming"
    return parts[-1] or "other"


class Tracer:
    """Span recorder. When ``enabled`` is false every method is a plain call,
    so the untraced run pays nothing for it."""

    def __init__(self, run_id: str, enabled: bool):
        self.run_id = run_id
        self.enabled = enabled
        self.spans: list[dict] = []
        self.pass_no: int | None = None
        self.spark = None
        self._stack: list[int] = []
        self._main = threading.get_ident()

    @contextmanager
    def span(self, name: str, layer: str):
        if not self.enabled:
            yield
            return
        rec = {
            "name": name,
            "layer": layer,
            "start": time.time(),
            "end": None,
            # callbacks from streaming threads nest under the main thread's
            # open span (the main thread is blocked awaiting that stream)
            "parent": self._stack[-1] if self._stack else None,
            "pass": self.pass_no,
            "run": self.run_id,
        }
        idx = len(self.spans)
        self.spans.append(rec)
        on_main = threading.get_ident() == self._main
        if on_main:
            self._stack.append(idx)
        try:
            yield
        finally:
            rec["end"] = time.time()
            if on_main:
                self._stack.pop()

    def call(self, fn, /, *args, **kwargs):
        """Call ``fn`` inside a span credited to the layer it belongs to."""
        return self.call_in(layer_of(fn), fn, *args, **kwargs)

    def call_in(self, layer: str, fn, /, *args, **kwargs):
        """Call ``fn`` inside a span credited to ``layer``."""
        if not self.enabled:
            return fn(*args, **kwargs)
        with self.span(fn.__name__, layer):
            return fn(*args, **kwargs)

    def wrap(self, fn, layer: str | None = None):
        layer = layer or layer_of(fn)

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            return self.call_in(layer, fn, *args, **kwargs)

        return traced

    @contextmanager
    def phase(self, workload: str, step: str, phase: str, layer: str):
        """One step phase (``build`` or ``run``) under its own job group."""
        if not self.enabled:
            yield
            return
        sc = self.spark.sparkContext
        sc.setJobGroup(f"{workload}/{step}/{phase}", f"pass {self.pass_no}")
        try:
            with self.span(f"{step}/{phase}", f"{phase}:{layer}"):
                yield
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)

    def dump(self, path: str, record: dict) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            json.dump({"record": record, "spans": self.spans}, f)


class TracedPipeline(Pipeline):
    """``Pipeline`` whose op calls and fold are spans when a tracer is set."""

    tracer: Tracer | None = None

    def get_args(self, op):
        fn, args, kwargs = super().get_args(op)
        if self.tracer is not None and self.tracer.enabled:
            fn = self.tracer.wrap(fn)
        return fn, args, kwargs

    def process(self, df, *args, **kwargs):
        if self.tracer is None:
            return super().process(df, *args, **kwargs)
        with self.tracer.span(self.name, "pipeline"):
            return super().process(df, *args, **kwargs)

    def process_generator(self, df, *args, **kwargs):
        if self.tracer is None:
            return super().process_generator(df, *args, **kwargs)
        with self.tracer.span(self.name + ".sweep", "pipeline"):
            return super().process_generator(df, *args, **kwargs)


# ---------------------------------------------------------------------------
# Spark event log
# ---------------------------------------------------------------------------


def read_event_log(path: str) -> dict:
    """Jobs, completed stages and finished tasks of one application."""
    jobs: dict[int, dict] = {}
    stages: dict[tuple[int, int], dict] = {}
    tasks: list[dict] = []
    with open(path) as f:
        for line in f:
            ev = json.loads(line)
            kind = ev.get("Event")
            if kind == "SparkListenerJobStart":
                props = ev.get("Properties") or {}
                jobs[ev["Job ID"]] = {
                    "submit": ev["Submission Time"] / 1000.0,
                    "end": None,
                    "group": props.get("spark.jobGroup.id"),
                    "stages": ev.get("Stage IDs", []),
                }
            elif kind == "SparkListenerJobEnd":
                if ev["Job ID"] in jobs:
                    jobs[ev["Job ID"]]["end"] = ev["Completion Time"] / 1000.0
            elif kind == "SparkListenerStageCompleted":
                info = ev["Stage Info"]
                stages[(info["Stage ID"], info["Stage Attempt ID"])] = {
                    "tasks": info["Number of Tasks"],
                    "failed": "Failure Reason" in info,
                }
            elif kind == "SparkListenerTaskEnd":
                m = ev.get("Task Metrics") or {}
                sr = m.get("Shuffle Read Metrics") or {}
                sw = m.get("Shuffle Write Metrics") or {}
                info = ev.get("Task Info") or {}
                tasks.append(
                    {
                        "stage": (ev["Stage ID"], ev["Stage Attempt ID"]),
                        "run_ms": m.get("Executor Run Time", 0),
                        "cpu_ns": m.get("Executor CPU Time", 0),
                        "gc_ms": m.get("JVM GC Time", 0),
                        "shuffle_read": sr.get("Remote Bytes Read", 0)
                        + sr.get("Local Bytes Read", 0),
                        "shuffle_write": sw.get("Shuffle Bytes Written", 0),
                        "spill": m.get("Disk Bytes Spilled", 0),
                        "failed": bool(info.get("Failed"))
                        or (ev.get("Task End Reason") or {}).get("Reason") != "Success",
                    }
                )
    return {"jobs": jobs, "stages": stages, "tasks": tasks}


def find_event_log(log_dir: str, app_id: str) -> str:
    for name in os.listdir(log_dir):
        if name.startswith(app_id):
            return os.path.join(log_dir, name)
    raise FileNotFoundError(f"no event log for {app_id} in {log_dir}")


def _union_length(intervals: list[tuple[float, float]]) -> float:
    total = 0.0
    cur_s = cur_e = None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def spark_pass_metrics(log: dict, start: float, end: float, cores: int) -> dict:
    """The Spark layer's counts for the jobs submitted in [start, end]."""
    jobs = [j for j in log["jobs"].values() if start <= j["submit"] <= end]
    stage_ids = {s for j in jobs for s in j["stages"]}
    stages = {k: v for k, v in log["stages"].items() if k[0] in stage_ids}
    tasks = [t for t in log["tasks"] if t["stage"] in stages]
    wall = end - start
    spans = [(j["submit"], min(j["end"] or end, end)) for j in jobs]
    exec_s = sum(t["run_ms"] for t in tasks) / 1000.0
    per_stage: dict = {}
    for t in tasks:
        per_stage[t["stage"]] = per_stage.get(t["stage"], 0) + t["run_ms"]
    heavy = max(per_stage, key=per_stage.get) if per_stage else None
    failed = sum(t["failed"] for t in tasks)
    return {
        "spark.jobs": len(jobs),
        "spark.stages": len(stages),
        "spark.driver_gap_s": wall - _union_length(spans),
        "spark.tasks": len(tasks),
        "spark.exec_task_s": exec_s,
        "spark.exec_cpu_s": sum(t["cpu_ns"] for t in tasks) / 1e9,
        "spark.gc_s": sum(t["gc_ms"] for t in tasks) / 1000.0,
        "spark.busy_ratio": exec_s / (wall * cores) if wall > 0 else 0.0,
        "spark.shuffle_read_bytes": sum(t["shuffle_read"] for t in tasks),
        "spark.shuffle_write_bytes": sum(t["shuffle_write"] for t in tasks),
        "spark.spill_bytes": sum(t["spill"] for t in tasks),
        "spark.min_tasks_heavy_stage": stages[heavy]["tasks"] if heavy else 0,
        "spark.failed_tasks": failed,
        "spark.task_success_ratio": (len(tasks) - failed) / len(tasks) if tasks else 1.0,
    }


# ---------------------------------------------------------------------------
# Span arithmetic
# ---------------------------------------------------------------------------


def self_times(spans: list[dict]) -> list[float]:
    """Each span's duration minus the part of it its child spans cover."""
    children: dict[int, list[tuple[float, float]]] = {}
    for s in spans:
        if s["parent"] is not None:
            children.setdefault(s["parent"], []).append((s["start"], s["end"]))
    out = []
    for i, s in enumerate(spans):
        covered = _union_length(
            [(max(a, s["start"]), min(b, s["end"])) for a, b in children.get(i, [])]
        )
        out.append((s["end"] - s["start"]) - covered)
    return out


def span_pass_metrics(spans: list[dict], pass_no: int, log: dict | None) -> dict:
    """Layer self times and call counts of one traced pass."""
    own = self_times(spans)
    m: dict[str, float] = {"pipeline.build_s": 0.0, "pipeline.ops": 0}
    for mod in OPERATOR_MODULES:
        m.update(
            {
                f"operators.{mod}.build_s": 0.0,
                f"operators.{mod}.build_jobs": 0,
                f"operators.{mod}.run_s": 0.0,
            }
        )
    m.update({"sources.read_s": 0.0, "sinks.write_s": 0.0})
    op_spans: dict[str, list[tuple[float, float]]] = {}
    for i, s in enumerate(spans):
        if s["pass"] != pass_no:
            continue
        layer = s["layer"]
        parent = spans[s["parent"]] if s["parent"] is not None else None
        if layer == "pipeline":
            m["pipeline.build_s"] += own[i]
        elif layer.startswith("operators."):
            mod = layer.split(".", 1)[1]
            if mod in OPERATOR_MODULES:
                m[f"operators.{mod}.build_s"] += own[i]
                op_spans.setdefault(mod, []).append((s["start"], s["end"]))
            if parent is not None and parent["layer"] == "pipeline":
                m["pipeline.ops"] += 1
        elif layer == "sources":
            m["sources.read_s"] += own[i]
        elif layer == "sinks":
            m["sinks.write_s"] += own[i]
        elif layer.startswith("run:operators."):
            mod = layer.split(".", 1)[1]
            if mod in OPERATOR_MODULES:
                m[f"operators.{mod}.run_s"] += s["end"] - s["start"]
    if log is not None:
        for j in log["jobs"].values():
            for mod, ivs in op_spans.items():
                if any(a <= j["submit"] <= b for a, b in ivs):
                    m[f"operators.{mod}.build_jobs"] += 1
    return m


def median_of(records: list[dict]) -> dict:
    keys = records[0].keys()
    return {k: statistics.median(r[k] for r in records) for k in keys}
