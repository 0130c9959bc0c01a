"""Spans around the engine's public functions, and Spark job statistics.

The engine is traced from outside: `install` wraps the public functions
of the layers below and rebinds every module attribute that referred to
an original, so callers that imported a function by name (`from
..catalog import load_table`) go through the wrapper too. Spans stay in
memory; `layer_metrics` turns them, with the Spark jobs that ran inside
them, into the per-layer metrics.

Job statistics come from the driver's status store
(`statusStore().jobsList` / `lastStageAttempt`), which is populated with
the UI disabled.
"""

from __future__ import annotations

import functools
import importlib
import inspect
import sys
import threading
import time
from contextlib import contextmanager

from py4j.protocol import Py4JJavaError

PACKAGE = "etl_pipeline_mini_project_01_spark"

#: Modules whose every public function gets a span named
#: `<module path below the package>.<function>`.
TRACED_MODULES = (
    "catalog",
    "operators.kmeans", "operators.semdedup", "operators.decontaminate",
    "operators.mix",
    "sources.io", "sources.ddl", "sources.resilience",
    "streaming.windows",
    "pipeline",
)
#: Called per row and per column; a span there would only measure the span.
UNTRACED = {"catalog.steps_frame", "catalog.register_scratch"}

OPERATOR_MODULES = ("kmeans", "semdedup", "decontaminate", "mix")


class Tracer:
    """Collects spans: name, start, end, parent span, operation, run id."""

    def __init__(self, run_id: str):
        self.run_id = run_id
        self.enabled = False
        self.op: str | None = None
        self.spans: list[dict] = []
        self._local = threading.local()
        self._lock = threading.Lock()

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        stack = self._local.__dict__.setdefault("stack", [])
        rec = {"name": name, "start": time.time(), "end": None,
               "parent": stack[-1] if stack else None, "op": self.op,
               "run_id": self.run_id, "error": False}
        with self._lock:
            rec["id"] = len(self.spans)
            self.spans.append(rec)
        stack.append(rec["id"])
        try:
            yield
        except BaseException:
            rec["error"] = True
            raise
        finally:
            stack.pop()
            rec["end"] = time.time()

    def wrap(self, name: str, fn):
        @functools.wraps(fn)
        def traced(*args, **kwargs):
            with self.span(name):
                return fn(*args, **kwargs)
        return traced


def install(tracer: Tracer) -> None:
    """Wrap every public function of TRACED_MODULES and each registered
    query builder."""
    from etl_pipeline_mini_project_01_spark.plans import registry

    originals: dict[int, tuple] = {}
    for short in TRACED_MODULES:
        mod = importlib.import_module(f"{PACKAGE}.{short}")
        for attr, fn in list(vars(mod).items()):
            name = f"{short}.{attr}"
            if (inspect.isfunction(fn) and fn.__module__ == mod.__name__
                    and not attr.startswith("_") and name not in UNTRACED):
                originals[id(fn)] = (fn, tracer.wrap(name, fn))
    for mod_name, mod in list(sys.modules.items()):
        if mod is None or not mod_name.startswith(PACKAGE):
            continue
        for attr, val in list(vars(mod).items()):
            hit = originals.get(id(val))
            if hit is not None and hit[0] is val:
                setattr(mod, attr, hit[1])
    for qname, fn in list(registry.QUERIES.items()):
        registry.QUERIES[qname] = tracer.wrap("plans.build", fn)


class JobStats:
    """New Spark jobs since the last call, with their stage metrics."""

    def __init__(self, spark):
        self._store = spark.sparkContext._jsc.sc().statusStore()
        # Scala collections -> java.util.List, which py4j iterates.
        self._as_java = spark.sparkContext._jvm.scala.jdk.javaapi \
            .CollectionConverters.asJava
        self._seen = {jd.jobId() for jd in self._as_java(
            self._store.jobsList(None))}

    def _new_jobs(self) -> list[dict]:
        out = []
        for jd in self._as_java(self._store.jobsList(None)):
            if jd.jobId() in self._seen:
                continue
            sub, done = jd.submissionTime(), jd.completionTime()
            out.append({
                "job_id": jd.jobId(),
                "submit": sub.get().getTime() / 1000 if sub.isDefined() else None,
                "end": done.get().getTime() / 1000 if done.isDefined() else None,
                "stage_ids": list(self._as_java(jd.stageIds())),
                "skipped_stages": jd.numSkippedStages(),
            })
        return out

    def take_new(self) -> list[dict]:
        new = self._new_jobs()
        for job in new:
            self._seen.add(job["job_id"])
            stages = []
            for sid in job["stage_ids"]:
                try:
                    sd = self._store.lastStageAttempt(sid)
                except Py4JJavaError:  # stage evicted or never attempted
                    continue
                if sd.status().toString() == "SKIPPED":
                    continue
                stages.append({
                    "tasks": sd.numTasks(),
                    "run_s": sd.executorRunTime() / 1000,
                    "cpu_s": sd.executorCpuTime() / 1e9,
                    "gc_s": sd.jvmGcTime() / 1000,
                    "input_bytes": sd.inputBytes(),
                    "shuffle_read_bytes": sd.shuffleReadBytes(),
                    "shuffle_write_bytes": sd.shuffleWriteBytes(),
                    "spill_bytes": sd.memoryBytesSpilled() + sd.diskBytesSpilled(),
                })
            job["stages"] = stages
        return new


def self_times(spans: list[dict]) -> dict[int, float]:
    """Span id -> duration minus the part of it its children cover."""
    children: dict[int, list[tuple[float, float]]] = {}
    for s in spans:
        if s["parent"] is not None:
            children.setdefault(s["parent"], []).append((s["start"], s["end"]))
    return {s["id"]: (s["end"] - s["start"])
            - _covered(children.get(s["id"], []), s["start"], s["end"])
            for s in spans}


def _covered(intervals, lo: float, hi: float) -> float:
    total, cur_lo, cur_hi = 0.0, None, None
    for a, b in sorted((max(a, lo), min(b, hi)) for a, b in intervals):
        if b <= a:
            continue
        if cur_hi is None or a > cur_hi:
            if cur_hi is not None:
                total += cur_hi - cur_lo
            cur_lo, cur_hi = a, b
        else:
            cur_hi = max(cur_hi, b)
    if cur_hi is not None:
        total += cur_hi - cur_lo
    return total


def _jobs_within(jobs: list[dict], intervals) -> list[dict]:
    return [j for j in jobs if j["submit"] is not None
            and any(a <= j["submit"] <= b for a, b in intervals)]


def layer_metrics(spans: list[dict], jobs: list[dict], op_windows,
                  n_passes: int, cores: int) -> dict[str, float]:
    """Per-layer metrics per traced warm pass.

    `spans` and `jobs` cover the traced warm passes only; `op_windows`
    are the (start, end) wall intervals of the operations in them."""
    per = 1.0 / max(1, n_passes)
    selft = self_times(spans)
    op_wall = sum(b - a for a, b in op_windows)
    m: dict[str, float] = {}

    def spans_of(key: str) -> list[dict]:
        """Spans named `key`, or under it when `key` ends with a dot."""
        return [s for s in spans if s["name"] == key
                or (key.endswith(".") and s["name"].startswith(key))]

    def self_time_of(key: str) -> float:
        return sum(selft[s["id"]] for s in spans_of(key)) * per

    def time_of(key: str) -> float:
        """Wall time inside the matched calls, callees included, nested
        calls counted once."""
        iv = [(s["start"], s["end"]) for s in spans_of(key)]
        return _covered(iv, float("-inf"), float("inf")) * per

    def share_of(key: str, timer=time_of) -> float:
        return timer(key) / (op_wall * per) if op_wall else 0.0

    def calls_of(key: str) -> float:
        return len(spans_of(key)) * per

    def jobs_in(key: str) -> float:
        iv = [(s["start"], s["end"]) for s in spans_of(key)]
        return len(_jobs_within(jobs, iv)) * per

    m["catalog.load_table.calls"] = calls_of("catalog.load_table")
    m["catalog.load_table.s"] = time_of("catalog.load_table")

    stages = [st for j in jobs for st in j["stages"]]
    n_stages = sum(len(j["stage_ids"]) for j in jobs)
    m["plans.build_s"] = self_time_of("plans.build")
    m["plans.exec_s"] = self_time_of("plans.exec")
    m["plans.jobs"] = len(jobs) * per
    m["plans.stages"] = n_stages * per
    m["plans.tasks"] = sum(st["tasks"] for st in stages) * per
    for key in ("input_bytes", "shuffle_read_bytes", "shuffle_write_bytes",
                "spill_bytes"):
        m[f"plans.{key}"] = sum(st[key] for st in stages) * per
    job_iv = [(j["submit"], j["end"]) for j in jobs
              if j["submit"] is not None and j["end"] is not None]
    gap = sum((b - a) - _covered(job_iv, a, b) for a, b in op_windows)
    m["plans.driver_gap_s"] = gap * per
    run_s = sum(st["run_s"] for st in stages)
    m["plans.executor_run_s"] = run_s * per
    m["plans.executor_cpu_s"] = sum(st["cpu_s"] for st in stages) * per
    m["plans.executor_gc_ratio"] = (
        sum(st["gc_s"] for st in stages) / run_s if run_s else 0.0)
    m["plans.core_utilization"] = run_s / (op_wall * cores) if op_wall else 0.0
    skipped = sum(j["skipped_stages"] for j in jobs)
    m["plans.skipped_stage_ratio"] = skipped / n_stages if n_stages else 0.0

    for op in OPERATOR_MODULES:
        key = f"operators.{op}."
        m[f"operators.{op}.calls"] = calls_of(key)
        m[f"operators.{op}.share"] = share_of(key, self_time_of)
        m[f"operators.{op}.jobs"] = jobs_in(key)

    m["sources.io.atomic_overwrite.calls"] = calls_of("sources.io.atomic_overwrite")
    for key in ("sources.io.atomic_overwrite", "sources.ddl.execute_ddl_scripts",
                "sources.resilience.refresh_views",
                "streaming.windows.run_to_completion"):
        m[f"{key}.share"] = share_of(key)

    phases = _pipeline_phases(spans)
    for phase in ("bronze", "silver", "gold"):
        iv = phases[phase]
        m[f"pipeline.{phase}.share"] = (
            sum(b - a for a, b in iv) / op_wall if op_wall else 0.0)
        m[f"pipeline.{phase}_jobs"] = len(_jobs_within(jobs, iv)) * per
    return m


def _pipeline_phases(spans: list[dict]) -> dict[str, list[tuple[float, float]]]:
    """bronze = build_bronze start -> build_silver start; silver = that ->
    refresh_views start; gold = the refresh_views span (one run_pipeline
    call each)."""
    out: dict[str, list[tuple[float, float]]] = {
        "bronze": [], "silver": [], "gold": []}
    for run in (s for s in spans if s["name"] == "pipeline.run_pipeline"):
        inside = {s["name"]: s for s in spans
                  if run["start"] <= s["start"] and s["end"] <= run["end"]}
        b = inside.get("pipeline.build_bronze")
        s = inside.get("pipeline.build_silver")
        g = inside.get("sources.resilience.refresh_views")
        if b and s and g:
            out["bronze"].append((b["start"], s["start"]))
            out["silver"].append((s["start"], g["start"]))
            out["gold"].append((g["start"], g["end"]))
    return out
