"""Traced runs: spans around the engine's public functions, one Spark
job group per innermost span, and a reader that folds Spark's event log
into per-layer metrics.

A *layer* is a package module (``LAYERS``). ``Tracer.install`` replaces
every public function of those modules with a wrapper that records a
span, at the module and at every loaded module that imported the
function by name. While a span is innermost, its id is the job group
(``spark.jobGroup.id``) of the jobs the driver thread starts, so the
event log ties each job to exactly one span. Spans stay in memory; the
fold runs after the session has stopped and the log is complete.

Suffixes (per layer, per execution, median over the steady executions):

* ``calls``: spans of the layer;
* ``self_s``: span time minus the time of child spans;
* ``jobs``: Spark jobs started while a span of the layer was innermost;
* ``exec_cpu_s``, ``gc_s``: executor CPU and JVM GC time of those jobs' tasks;
* ``shuffle_write_mb``, ``spill_mb`` (disk): bytes of those tasks;
* ``python_s``: the Python-worker SQL metrics (boot + init + run time);
* ``driver_gap_s``: self time during which no task was running.
"""

from __future__ import annotations

import bisect
import contextlib
import functools
import importlib
import inspect
import itertools
import json
import statistics
import sys
import time
from pathlib import Path

LAYERS = {
    "hive_scripts_spark.session": "session",
    "hive_scripts_spark.pipeline": "pipeline",
    "hive_scripts_spark.sources.readers": "sources.readers",
    "hive_scripts_spark.sources.sinks": "sources.sinks",
    "hive_scripts_spark.operators.reconcile": "operators.reconcile",
    "hive_scripts_spark.operators.fingerprint": "operators.fingerprint",
    "hive_scripts_spark.operators.profile": "operators.profile",
    "hive_scripts_spark.operators.curation": "operators.curation",
    "hive_scripts_spark.operators.textstats": "operators.textstats",
    "hive_scripts_spark.operators.dedup": "operators.dedup",
    "hive_scripts_spark.operators.similarity": "operators.similarity",
    "hive_scripts_spark.operators.cluster": "operators.cluster",
    "hive_scripts_spark.functions.canonical": "functions.canonical",
}
# __main__ holds the CLI; only its entry point is a span ("main")
MAIN_MODULE = "hive_scripts_spark.__main__"

BUILDER_LAYERS = (
    "sources.readers", "operators.reconcile", "operators.fingerprint",
    "operators.profile", "operators.curation", "operators.textstats",
    "operators.dedup", "functions.canonical",
)
JOB_LAYERS = ("main", "pipeline", "sources.sinks", "operators.similarity", "operators.cluster")
BUILDER_SUFFIXES = {"calls": "count", "self_s": "s"}
JOB_SUFFIXES = {
    "self_s": "s", "jobs": "count", "exec_cpu_s": "s", "gc_s": "s",
    "shuffle_write_mb": "MB", "spill_mb": "MB", "python_s": "s", "driver_gap_s": "s",
}
TASK_KEYS = ("exec_cpu_s", "gc_s", "shuffle_write_mb", "spill_mb", "python_s", "input_mb", "output_mb")
PYTHON_METRICS = {
    "time to start Python workers",
    "time to initialize Python workers",
    "time to run Python workers",
}


def per_layer_metrics() -> dict[str, str]:
    """Every per-layer metric a traced run reports, with its unit."""
    out = {"session.launch_s": "s"}
    for layer in BUILDER_LAYERS:
        out.update({f"{layer}.{s}": u for s, u in BUILDER_SUFFIXES.items()})
    for layer in JOB_LAYERS:
        out.update({f"{layer}.{s}": u for s, u in JOB_SUFFIXES.items()})
    out.update({
        "sources.readers.input_mb": "MB",
        "sources.sinks.output_mb": "MB",
        "trace.wall_s": "s",
        "trace.jobs": "count",
        "trace.unattributed_jobs": "count",
    })
    return out


class Tracer:
    def __init__(self):
        self.spans: list[dict] = []
        self._stack: list[dict] = []
        self._ids = itertools.count()

    @contextlib.contextmanager
    def span(self, name: str, layer: str):
        rec = {
            "id": f"perfbench-{next(self._ids)}",
            "layer": layer,
            "name": name,
            "parent": self._stack[-1]["id"] if self._stack else None,
            "t0": time.time(),
        }
        self._stack.append(rec)
        self._set_group(rec["id"])
        try:
            yield rec
        finally:
            rec["t1"] = time.time()
            self._stack.pop()
            self.spans.append(rec)
            self._set_group(self._stack[-1]["id"] if self._stack else None)

    @staticmethod
    def _set_group(group: str | None):
        from pyspark import SparkContext

        sc = SparkContext._active_spark_context
        if sc is not None:
            sc.setLocalProperty("spark.jobGroup.id", group)

    def attach(self):
        """Apply the innermost span's job group once a session exists."""
        self._set_group(self._stack[-1]["id"] if self._stack else None)

    def _wrap(self, fn, layer: str):
        @functools.wraps(fn)
        def traced(*args, **kwargs):
            with self.span(fn.__name__, layer):
                return fn(*args, **kwargs)

        return traced

    def install(self):
        """Wrap the layers' public functions wherever they are bound."""
        wrapped = {}
        for mod_name, layer in LAYERS.items():
            mod = importlib.import_module(mod_name)
            for name, fn in vars(mod).items():
                if (inspect.isfunction(fn) and fn.__module__ == mod_name
                        and not name.startswith("_") and not inspect.isgeneratorfunction(fn)):
                    wrapped[fn] = self._wrap(fn, layer)
        main_mod = importlib.import_module(MAIN_MODULE)
        wrapped[main_mod.main] = self._wrap(main_mod.main, "main")
        for mod_name, mod in list(sys.modules.items()):
            if mod_name.startswith("hive_scripts_spark") and mod is not None:
                for name, value in list(vars(mod).items()):
                    if inspect.isfunction(value) and value in wrapped:
                        setattr(mod, name, wrapped[value])

    def report(self, log_dir: Path, execs: list[dict], launch_s: float) -> dict:
        """Fold the event log over the steady executions' spans."""
        roots = {s["name"]: s["id"] for s in self.spans if s["layer"] == "bench"}
        steady = [i for i, e in enumerate(execs) if e["phase"] == "steady"]
        folded = fold(read_events(log_dir), self.spans, [roots[f"exec{i}"] for i in steady])
        metrics = layer_metrics(folded, launch_s, [execs[i]["wall_s"] for i in steady])
        return {"metrics": metrics, "jobs": folded["jobs"], "spans": len(self.spans),
                "unattributed_jobs": folded["unattributed_jobs"],
                "executions": folded["executions"]}


# --- event log ------------------------------------------------------------


def read_events(log_dir: Path) -> list[dict]:
    """All events of the one application logged under ``log_dir``, from
    a plain file or a rolling ``eventlog_v2_*`` directory."""
    files = [p for p in sorted(log_dir.rglob("*")) if p.is_file() and not p.name.startswith(("appstatus", "."))]
    if not files:
        raise FileNotFoundError(f"no event log under {log_dir}")

    def order(p: Path):  # events_<n>_<app>: roll index n
        parts = p.name.split("_")
        return (str(p.parent), int(parts[1]) if len(parts) > 2 and parts[1].isdigit() else 0)

    events = []
    for p in sorted(files, key=order):
        with p.open() as f:
            events.extend(json.loads(line) for line in f if line.strip())
    return events


def _plan_metric_types(node: dict, out: dict):
    for m in node.get("metrics", ()):
        out[m["accumulatorId"]] = m["metricType"]
    for child in node.get("children", ()):
        _plan_metric_types(child, out)


def _merge(intervals):
    merged = []
    for a, b in sorted(intervals):
        if merged and a <= merged[-1][1]:
            merged[-1][1] = max(merged[-1][1], b)
        else:
            merged.append([a, b])
    return merged


def _covered(merged, starts, a: float, b: float) -> float:
    """Length of [a, b] covered by the merged, sorted intervals."""
    total = 0.0
    i = max(bisect.bisect_right(starts, a) - 1, 0)
    while i < len(merged) and merged[i][0] < b:
        lo, hi = max(a, merged[i][0]), min(b, merged[i][1])
        total += max(0.0, hi - lo)
        i += 1
    return total


def fold(events: list[dict], spans: list[dict], roots: list[str]) -> dict:
    """Per-layer numbers for each execution span id in ``roots``.

    Returns ``{"executions": [{metric: value}...], "unattributed_jobs": n,
    "jobs": total}``; every job whose group is not a recorded span id is
    unattributed.
    """
    span_ids = {s["id"] for s in spans}
    children: dict[str, list[dict]] = {}
    for s in spans:
        if s["parent"]:
            children.setdefault(s["parent"], []).append(s)

    metric_types: dict[int, str] = {}
    job_group: dict[int, str | None] = {}
    stage_job: dict[int, int] = {}
    for e in events:
        kind = e.get("Event", "")
        if kind == "SparkListenerJobStart":
            job_group[e["Job ID"]] = (e.get("Properties") or {}).get("spark.jobGroup.id")
            for sid in e.get("Stage IDs", ()):
                stage_job.setdefault(sid, e["Job ID"])
        elif kind.endswith("SQLExecutionStart") or kind.endswith("SQLAdaptiveExecutionUpdate"):
            _plan_metric_types(e.get("sparkPlanInfo", {}), metric_types)

    per_span: dict[str, dict] = {}
    task_iv = []
    for e in events:
        if e.get("Event") != "SparkListenerTaskEnd":
            continue
        info, m = e.get("Task Info", {}), e.get("Task Metrics") or {}
        task_iv.append((info["Launch Time"] / 1e3, info["Finish Time"] / 1e3))
        group = job_group.get(stage_job.get(e["Stage ID"]))
        acc = per_span.setdefault(group, dict.fromkeys(TASK_KEYS, 0.0))
        acc["exec_cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
        acc["gc_s"] += m.get("JVM GC Time", 0) / 1e3
        acc["shuffle_write_mb"] += (m.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0) / 1e6
        acc["spill_mb"] += m.get("Disk Bytes Spilled", 0) / 1e6
        acc["input_mb"] += (m.get("Input Metrics") or {}).get("Bytes Read", 0) / 1e6
        acc["output_mb"] += (m.get("Output Metrics") or {}).get("Bytes Written", 0) / 1e6
        for a in info.get("Accumulables", ()):
            if a.get("Name") in PYTHON_METRICS:
                scale = 1e9 if metric_types.get(a["ID"]) == "nsTiming" else 1e3
                acc["python_s"] += float(a.get("Update") or 0) / scale
    merged = _merge(task_iv)
    starts = [iv[0] for iv in merged]

    jobs_of: dict[str | None, int] = {}
    for group in job_group.values():
        jobs_of[group] = jobs_of.get(group, 0) + 1
    unattributed = sum(n for g, n in jobs_of.items() if g not in span_ids)

    executions = []
    for root in roots:
        layers: dict[str, dict] = {}
        todo = list(children.get(root, ()))
        while todo:
            s = todo.pop()
            kids = children.get(s["id"], [])
            todo.extend(kids)
            own = [[s["t0"], s["t1"]]]
            for k in sorted(kids, key=lambda k: k["t0"]):
                a, b = own[-1]
                own[-1:] = [[a, max(a, k["t0"])], [min(b, k["t1"]), b]]
            self_s = sum(b - a for a, b in own if b > a)
            gap = sum((b - a) - _covered(merged, starts, a, b) for a, b in own if b > a)
            lay = layers.setdefault(s["layer"], dict.fromkeys(
                ("calls", "self_s", "jobs", "driver_gap_s") + TASK_KEYS, 0.0))
            lay["calls"] += 1
            lay["self_s"] += self_s
            lay["driver_gap_s"] += gap
            lay["jobs"] += jobs_of.get(s["id"], 0)
            for k, v in per_span.get(s["id"], {}).items():
                lay[k] += v
        flat = {f"{layer}.{k}": v for layer, d in layers.items() for k, v in d.items()}
        flat["input_mb"] = sum(d["input_mb"] for d in layers.values())
        flat["output_mb"] = sum(d["output_mb"] for d in layers.values())
        flat["jobs"] = sum(d["jobs"] for d in layers.values())
        executions.append(flat)
    return {"executions": executions, "unattributed_jobs": unattributed, "jobs": len(job_group)}


def layer_metrics(folded: dict, launch_s: float, walls: list[float]) -> dict[str, tuple[float, str]]:
    """The reported per-layer metrics: medians over the executions folded,
    0 for a layer the workload never entered."""
    execs = folded["executions"]

    def med(key):
        return statistics.median(e.get(key, 0.0) for e in execs) if execs else 0.0

    out = {}
    for name, unit in per_layer_metrics().items():
        if name == "session.launch_s":
            value = launch_s
        elif name == "sources.readers.input_mb":
            value = med("input_mb")
        elif name == "sources.sinks.output_mb":
            value = med("output_mb")
        elif name == "trace.wall_s":
            value = statistics.median(walls) if walls else 0.0
        elif name == "trace.jobs":
            value = med("jobs")
        elif name == "trace.unattributed_jobs":
            value = folded["unattributed_jobs"]
        else:
            value = med(name)
        out[name] = (value, unit)
    return out
