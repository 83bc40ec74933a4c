"""Spans around the package's public calls, and the Spark event log.

``Tracer.install`` wraps, at run time and from this file only, the
boundaries the per-layer metrics are read at: ``run_pipeline``,
``CheckpointStore.run_stage``, ``build_candidates``, ``verify_edges``,
``connected_components`` (and each round of its star loop) and
``prepare_probe_index``; the workloads
open the spans around each ``QUERIES[name]`` call (with its collect)
and around the streaming query themselves, and add its epochs as spans
from ``recentProgress``. Each wrapper records a span (name, scope,
start, end, parent) and sets the Spark job group to the span's scope,
so the event log's tasks can be summed per scope. ``uninstall`` puts
the originals back. Spans stay in memory until ``dump``.

``spark_scopes`` parses ``SparkListenerJobStart`` / ``TaskEnd`` events
of an uncompressed event log into per-scope task CPU, run time, GC,
shuffle, spill and skew. A job whose thread carried no group (the
streaming source's own jobs) is placed by its submission time in the
innermost span that covers it.
"""

from __future__ import annotations

import functools
import json
import os
import statistics
import time

from addresses_importer_spark.operators import components
from addresses_importer_spark.plans import driver_queries, pipeline
from addresses_importer_spark.sources.checkpoint import CheckpointStore
from addresses_importer_spark.streaming import dedup_probe

from .metrics import PIPELINE_STAGES, SPARK_SCOPES as SCOPES

_GROUP = "spark.jobGroup.id"


class Tracer:
    def __init__(self, spark):
        self.spark = spark
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self._saved: list[tuple] = []
        #: seconds spent in the spans' own bookkeeping, outside the calls
        self.overhead_s = 0.0

    # -- spans ------------------------------------------------------------
    def span(self, name: str, scope: str | None, fn, *args, **kwargs):
        """Run ``fn`` inside a span; ``scope`` (if given) becomes the
        job group of every Spark job the call submits."""
        t_in = time.perf_counter()
        sc = self.spark.sparkContext
        rec = {"name": name, "scope": scope,
               "parent": self._stack[-1] if self._stack else None,
               "start": time.time()}
        self.spans.append(rec)
        self._stack.append(len(self.spans) - 1)
        prev = sc.getLocalProperty(_GROUP)
        if scope is not None:
            sc.setJobGroup(scope, name)
        t_call = time.perf_counter()
        try:
            return fn(*args, **kwargs)
        finally:
            t_ret = time.perf_counter()
            rec["end"] = time.time()
            self._stack.pop()
            if scope is not None:
                sc.setLocalProperty(_GROUP, prev)
            self.overhead_s += (t_call - t_in) + (time.perf_counter() - t_ret)

    def _wrap(self, owner, attr: str, name_of, scope_of):
        orig = getattr(owner, attr)
        self._saved.append((owner, attr, orig))

        @functools.wraps(orig)
        def wrapper(*args, **kwargs):
            return self.span(name_of(args, kwargs), scope_of(args, kwargs),
                             orig, *args, **kwargs)
        setattr(owner, attr, wrapper)

    def install(self) -> None:
        const = lambda v: (lambda a, k: v)  # noqa: E731
        self._wrap(pipeline, "run_pipeline", const("run_pipeline"),
                   const(None))
        # run_stage(self, spark, stage, ...): the stage name is args[2]
        self._wrap(CheckpointStore, "run_stage",
                   lambda a, k: f"run_stage:{a[2]}", lambda a, k: a[2])
        for mod in (pipeline, driver_queries):
            self._wrap(mod, "build_candidates", const("build_candidates"),
                       const(None))
            self._wrap(mod, "verify_edges", const("verify_edges"),
                       const(None))
            self._wrap(mod, "connected_components",
                       const("connected_components"), const(None))
        self._wrap(dedup_probe, "prepare_probe_index",
                   const("prepare_probe_index"), const("probe"))
        # one span per round of connected_components' large-star/small-star
        # loop, which runs only above its driver union-find's edge bound
        self._wrap(components, "_large_star", const("large_star"), const(None))

    def uninstall(self) -> None:
        while self._saved:
            setattr(*self._saved.pop())

    def add_epochs(self, progress: list[dict]) -> None:
        """Streaming epochs as spans, from ``query.recentProgress``."""
        for p in progress:
            end = _iso_to_epoch(p["timestamp"]) + p["batchDuration"] / 1000
            self.spans.append({
                "name": f"epoch:{p['batchId']}", "scope": "probe",
                "parent": None, "start": end - p["batchDuration"] / 1000,
                "end": end,
            })

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump(self.spans, f)


class NullTracer:
    """Tracing off: calls run bare, nothing is recorded."""
    spans: list = []

    def span(self, name, scope, fn, *args, **kwargs):
        return fn(*args, **kwargs)

    def add_epochs(self, progress) -> None:
        pass


def span_s(spans: list[dict], name: str) -> float:
    """Seconds spent in the finished spans called ``name``."""
    return sum(s["end"] - s["start"] for s in spans
               if s["name"] == name and "end" in s)


def _iso_to_epoch(ts: str) -> float:
    from datetime import datetime
    return datetime.fromisoformat(ts.replace("Z", "+00:00")).timestamp()


# ---------------------------------------------------------------------------
# event log
# ---------------------------------------------------------------------------

def event_log_conf(log_dir: str) -> dict[str, str]:
    """Session confs that write an uncompressed event log (the zstd
    default needs a Python module the parser would not have)."""
    os.makedirs(log_dir, exist_ok=True)
    return {
        "spark.eventLog.enabled": "true",
        "spark.eventLog.dir": log_dir,
        "spark.eventLog.compress": "false",
    }


def _events(log_dir: str):
    for dirpath, _dirs, files in os.walk(log_dir):
        for fn in sorted(files):
            with open(os.path.join(dirpath, fn)) as f:
                for line in f:
                    if line.startswith("{"):
                        yield json.loads(line)


def _scope_at(spans: list[dict], t: float) -> str | None:
    best = None
    for s in spans:
        if s.get("scope") and s["start"] <= t <= s.get("end", t):
            if best is None or s["start"] >= best["start"]:
                best = s
    return best["scope"] if best else None


def spark_scopes(log_dir: str, spans: list[dict]) -> dict[str, dict]:
    """Per scope and per traced repetition of that scope (the spans
    named ``rep``):
    task_cpu_s, task_run_s, gc_s, shuffle_mb (written), spill_mb
    (memory + disk), skew (max / median task run time of the scope's
    heaviest stage). Jobs submitted outside a traced repetition are
    left out."""
    reps = [s for s in spans if s["name"] == "rep"]
    stage_scope: dict[int, str] = {}
    tasks: dict[str, dict[int, list]] = {}
    for ev in _events(log_dir):
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            t = ev["Submission Time"] / 1000
            if not any(r["start"] <= t <= r["end"] for r in reps):
                continue
            scope = (ev.get("Properties") or {}).get(_GROUP)
            if scope not in SCOPES:
                scope = _scope_at(spans, t)
            if scope in SCOPES:
                for sid in ev["Stage IDs"]:
                    stage_scope.setdefault(sid, scope)
        elif kind == "SparkListenerTaskEnd":
            scope = stage_scope.get(ev["Stage ID"])
            m = ev.get("Task Metrics")
            if scope is None or not m:
                continue
            tasks.setdefault(scope, {}).setdefault(ev["Stage ID"], []).append(m)
    out = {}
    for scope in SCOPES:
        # pipeline repetitions carry no scope of their own
        own = None if scope in PIPELINE_STAGES else scope
        n = max(sum(1 for r in reps if r["scope"] == own), 1)
        stages = tasks.get(scope, {})
        ms = [m for ts in stages.values() for m in ts]
        run = [m["Executor Run Time"] for m in ms]
        heavy = max(stages.values(),
                    key=lambda ts: sum(m["Executor Run Time"] for m in ts),
                    default=[])
        heavy_run = [m["Executor Run Time"] for m in heavy]
        out[scope] = {
            "task_cpu_s": sum(m["Executor CPU Time"] for m in ms) / 1e9 / n,
            "task_run_s": sum(run) / 1e3 / n,
            "gc_s": sum(m["JVM GC Time"] for m in ms) / 1e3 / n,
            "shuffle_mb": sum(
                m.get("Shuffle Write Metrics", {}).get("Shuffle Bytes Written", 0)
                for m in ms) / 2**20 / n,
            "spill_mb": sum(m.get("Memory Bytes Spilled", 0)
                            + m.get("Disk Bytes Spilled", 0)
                            for m in ms) / 2**20 / n,
            "skew": (max(heavy_run) / max(statistics.median(heavy_run), 1)
                     if heavy_run else 0.0),
        }
    return out


def percentile(values: list[float], q: float) -> float:
    """Nearest-rank percentile (q in 0..100) of a non-empty list."""
    s = sorted(values)
    k = max(0, min(len(s) - 1, int(round(q / 100 * len(s) + 0.5)) - 1))
    return s[k]
