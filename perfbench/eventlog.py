"""Per-layer roll-up of Spark's own task and SQL metrics.

The traced run labels every call into a layer with `setJobGroup(<layer>)`
and writes Spark's event log. Here the log is read back and each task is
attributed to a layer through job group -> job -> stage -> task. Nothing
inside the program is instrumented.
"""

from __future__ import annotations

import json
import os
import statistics
import time
from contextlib import contextmanager

# Spark SQL metric names (as printed in the SQL tab) for the Python boundary
PY_RUN_TIME = "time to run Python workers"
PY_BYTES = ("data sent to Python workers", "data returned from Python workers")
_SQL_TIME_SCALE = {"timing": 1e-3, "nsTiming": 1e-9}

# per-layer metric -> unit
LAYER_FIELDS = {
    "wall_s": "s", "jobs": "count", "run_s": "s", "cpu_s": "s", "gc_s": "s",
    "python_s": "s", "python_bytes": "bytes", "shuffle_write_bytes": "bytes",
    "spill_bytes": "bytes", "peak_exec_mem_mb": "MB", "busy_frac": "ratio",
    "task_skew": "ratio",
}


def read_events(log_dir: str):
    """Yield every event of every (uncompressed) event-log file under
    `log_dir`."""
    for root, _, files in os.walk(log_dir):
        for name in sorted(files):
            if name.startswith(".") or name.endswith(".inprogress"):
                continue
            with open(os.path.join(root, name)) as f:
                for line in f:
                    if line.strip():
                        yield json.loads(line)


def _walk_plan(plan: dict, types: dict) -> None:
    for m in plan.get("metrics", ()):
        types[m["accumulatorId"]] = m["metricType"]
    for child in plan.get("children", ()):
        _walk_plan(child, types)


def rollup(events, walls: dict[str, float], cores: int) -> dict[str, dict]:
    """Per job group in `walls` (group -> measured wall seconds): the
    LAYER_FIELDS metrics summed (or maxed) over the group's tasks."""
    stage_group: dict[int, str] = {}
    jobs: dict[str, int] = {g: 0 for g in walls}
    metric_type: dict[int, str] = {}
    tasks: dict[str, list[dict]] = {g: [] for g in walls}
    for e in events:
        kind = e.get("Event", "")
        if kind == "SparkListenerJobStart":
            group = (e.get("Properties") or {}).get("spark.jobGroup.id")
            if group in jobs:
                jobs[group] += 1
                for sid in e.get("Stage IDs", ()):
                    stage_group.setdefault(sid, group)
        elif kind.endswith(("SQLExecutionStart", "SQLAdaptiveExecutionUpdate")):
            _walk_plan(e.get("sparkPlanInfo") or {}, metric_type)
        elif kind == "SparkListenerTaskEnd":
            group = stage_group.get(e.get("Stage ID"))
            if group is not None:
                tasks[group].append(e)
    out = {}
    for group, wall in walls.items():
        out[group] = _layer_row(tasks[group], jobs[group], wall, cores,
                                metric_type)
    return out


def _layer_row(tasks: list[dict], n_jobs: int, wall: float, cores: int,
               metric_type: dict[int, str]) -> dict:
    run_ms, cpu_ns, gc_ms, shuffle_w, spill, peak = [], 0, 0, 0, 0, 0
    py_s, py_bytes = 0.0, 0
    for t in tasks:
        m = t.get("Task Metrics") or {}
        run_ms.append(m.get("Executor Run Time", 0))
        cpu_ns += m.get("Executor CPU Time", 0)
        gc_ms += m.get("JVM GC Time", 0)
        shuffle_w += (m.get("Shuffle Write Metrics") or {}).get(
            "Shuffle Bytes Written", 0)
        spill += m.get("Disk Bytes Spilled", 0)
        peak = max(peak, m.get("Peak Execution Memory", 0))
        for acc in (t.get("Task Info") or {}).get("Accumulables", ()):
            name, update = acc.get("Name"), acc.get("Update")
            if update is None:
                continue
            if name == PY_RUN_TIME:
                scale = _SQL_TIME_SCALE.get(metric_type.get(acc.get("ID")),
                                            1e-3)
                py_s += float(update) * scale
            elif name in PY_BYTES:
                py_bytes += int(update)
    run_s = sum(run_ms) / 1e3
    median_ms = statistics.median(run_ms) if run_ms else 0
    return {
        "tasks": len(tasks),
        "wall_s": wall,
        "jobs": n_jobs,
        "run_s": run_s,
        "cpu_s": cpu_ns / 1e9,
        "gc_s": gc_ms / 1e3,
        "python_s": py_s,
        "python_bytes": py_bytes,
        "shuffle_write_bytes": shuffle_w,
        "spill_bytes": spill,
        "peak_exec_mem_mb": peak / 2 ** 20,
        "busy_frac": run_s / (wall * cores) if wall > 0 else 0.0,
        "task_skew": max(run_ms) / max(median_ms, 1) if run_ms else 0.0,
    }


LAYERS = ("nodes", "blocking", "train.u", "train.em", "vectors", "score",
          "cluster", "plans", "linker.find_matches", "realtime")


class Tracer:
    """Times each call into a layer and labels its Spark jobs with the
    layer's job group. Repeated calls into one layer accumulate."""

    def __init__(self, sc):
        self._sc = sc
        self.walls = {layer: 0.0 for layer in LAYERS}

    @contextmanager
    def layer(self, name: str):
        self._sc.setJobGroup(name, name)
        t0 = time.perf_counter()
        try:
            yield
        finally:
            self.walls[name] += time.perf_counter() - t0
            self._sc.setLocalProperty("spark.jobGroup.id", None)


class NullTracer:
    """Same calls as Tracer with no labels and no timing: the untraced
    reference run of a traced sequence."""

    @contextmanager
    def layer(self, name: str):
        yield
