"""Spans around layer calls, and the fold of Spark's event log into
per-layer rows.

A span records name, start, end, parent and the run id.  While a span is
open its id is the SparkContext job group, so every Spark job the layer
call starts is tagged with it; after the session stops, the uncompressed
event log is folded by job group into task, CPU, shuffle, spill and row
counters.  A layer's row is inclusive of its child spans, except
``self_s``, which is its wall minus the time its children cover.  Layers
called several times in a run (one merge per delta) report per-call means.
"""

from __future__ import annotations

import json
import os
import statistics
import time
import uuid
from contextlib import contextmanager

CORES = 4

LAYERS = (
    "session",
    "pipeline",
    "sources.extract",
    "sources.extract.nt_columnar",
    "sources.extract.py_formats",
    "lineage",
    "operators.canonicalize",
    "plans.validate",
    "operators.incremental.merge",
    "operators.incremental.read",
    "operators.incremental.compact",
)
FIELDS = (
    "wall_s", "self_s", "jobs", "tasks", "cpu_util", "executor_cpu_s",
    "python_gap_s", "shuffle_mb", "spill_mb", "task_skew", "rows_out",
)
RATIOS = (
    "sources.extract.triples_per_cpu_s",
    "operators.canonicalize.dedup_ratio",
    "operators.canonicalize.files_per_dir",
    "plans.validate.scan_ratio",
    "operators.incremental.merge.write_amp",
    "operators.incremental.read.read_amp",
    "trace.overhead_ratio",
)
UNITS = {
    "wall_s": "s", "self_s": "s", "jobs": "count", "tasks": "count",
    "cpu_util": "ratio", "executor_cpu_s": "s", "python_gap_s": "s",
    "shuffle_mb": "MB", "spill_mb": "MB", "task_skew": "ratio", "rows_out": "count",
    "triples_per_cpu_s": "triples/s", "dedup_ratio": "ratio",
    "files_per_dir": "ratio", "scan_ratio": "ratio", "write_amp": "ratio",
    "read_amp": "ratio", "overhead_ratio": "ratio",
}


def per_layer_names() -> list[str]:
    return [f"{layer}.{f}" for layer in LAYERS for f in FIELDS] + list(RATIOS)


class Tracer:
    def __init__(self):
        self.run_id = uuid.uuid4().hex[:12]
        self.spans: list[dict] = []
        self._stack: list[dict] = []
        self.sc = None  # set once the session exists

    @contextmanager
    def span(self, name: str):
        parent = self._stack[-1] if self._stack else None
        s = {
            "id": f"{self.run_id}-{len(self.spans)}",
            "name": name,
            "parent": parent["id"] if parent else None,
            "run_id": self.run_id,
            "start": time.perf_counter(),
        }
        self.spans.append(s)
        self._stack.append(s)
        self._set_group(s["id"], name)
        try:
            yield s
        finally:
            s["end"] = time.perf_counter()
            self._stack.pop()
            if parent is not None:
                self._set_group(parent["id"], parent["name"])
            else:  # jobs between top-level spans belong to no layer
                self._set_group(f"{self.run_id}-untraced", "untraced")

    def _set_group(self, gid: str, name: str) -> None:
        if self.sc is not None:
            self.sc.setJobGroup(gid, name)

    def descendants(self, span_id: str) -> set[str]:
        out, frontier = {span_id}, [span_id]
        while frontier:
            cur = frontier.pop()
            for s in self.spans:
                if s["parent"] == cur and s["id"] not in out:
                    out.add(s["id"])
                    frontier.append(s["id"])
        return out

    def write(self, path: str) -> None:
        with open(path, "w") as fh:
            for s in self.spans:
                fh.write(json.dumps(s) + "\n")


def _group_tasks(event_log: str) -> dict[str, dict]:
    """job group → {'jobs': n, 'tasks': [task metric dicts]} from one
    uncompressed event log."""
    stage_group: dict[int, str] = {}
    groups: dict[str, dict] = {}
    with open(event_log) as fh:
        for line in fh:
            ev = json.loads(line)
            kind = ev.get("Event")
            if kind == "SparkListenerJobStart":
                gid = (ev.get("Properties") or {}).get("spark.jobGroup.id")
                if gid is None:
                    continue
                groups.setdefault(gid, {"jobs": 0, "tasks": []})["jobs"] += 1
                for sid in ev.get("Stage IDs", []):
                    stage_group.setdefault(sid, gid)
            elif kind == "SparkListenerStageSubmitted":
                gid = (ev.get("Properties") or {}).get("spark.jobGroup.id")
                if gid is not None:
                    stage_group[ev["Stage Info"]["Stage ID"]] = gid
            elif kind == "SparkListenerTaskEnd":
                gid = stage_group.get(ev.get("Stage ID"))
                m = ev.get("Task Metrics")
                if gid is None or not m:
                    continue
                groups.setdefault(gid, {"jobs": 0, "tasks": []})["tasks"].append(m)
    return groups


def _fold_tasks(tasks: list[dict]) -> dict:
    run = [t.get("Executor Run Time", 0) / 1000.0 for t in tasks]
    cpu = [t.get("Executor CPU Time", 0) / 1e9 for t in tasks]
    return {
        "tasks": len(tasks),
        "run_s": sum(run),
        "executor_cpu_s": sum(cpu),
        "shuffle_mb": sum(
            (t.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0) for t in tasks
        ) / 1e6,
        "spill_mb": sum(t.get("Disk Bytes Spilled", 0) for t in tasks) / 1e6,
        "rows_in": sum((t.get("Input Metrics") or {}).get("Records Read", 0) for t in tasks),
        "rows_out": sum((t.get("Output Metrics") or {}).get("Records Written", 0) for t in tasks),
        "bytes_out": sum((t.get("Output Metrics") or {}).get("Bytes Written", 0) for t in tasks),
        "task_skew": (max(run) / statistics.median(run)) if run and statistics.median(run) > 0 else 0.0,
    }


def _covered(intervals: list[tuple[float, float]]) -> float:
    total, cur_lo, cur_hi = 0.0, None, None
    for lo, hi in sorted(intervals):
        if cur_hi is None or lo > cur_hi:
            if cur_hi is not None:
                total += cur_hi - cur_lo
            cur_lo, cur_hi = lo, hi
        else:
            cur_hi = max(cur_hi, hi)
    if cur_hi is not None:
        total += cur_hi - cur_lo
    return total


def fold(tracer: Tracer, event_log: str) -> dict[str, dict]:
    """layer name → per-call row of the FIELDS counters plus raw sums
    (rows_in, bytes_out, run_s) the ratio metrics need."""
    groups = _group_tasks(event_log)
    rows: dict[str, dict] = {}
    for layer in LAYERS:
        calls = [s for s in tracer.spans if s["name"] == layer]
        if not calls:
            rows[layer] = {f: 0.0 for f in FIELDS} | {"calls": 0, "rows_in": 0, "bytes_out": 0, "run_s": 0.0}
            continue
        tasks, jobs, wall, self_s = [], 0, 0.0, 0.0
        for s in calls:
            for gid in tracer.descendants(s["id"]):
                g = groups.get(gid)
                if g:
                    jobs += g["jobs"]
                    tasks.extend(g["tasks"])
            w = s["end"] - s["start"]
            kids = [(c["start"], c["end"]) for c in tracer.spans if c["parent"] == s["id"]]
            wall += w
            self_s += w - _covered(kids)
        t = _fold_tasks(tasks)
        n = len(calls)
        rows[layer] = {
            "wall_s": wall / n,
            "self_s": self_s / n,
            "jobs": jobs / n,
            "tasks": t["tasks"] / n,
            "cpu_util": t["run_s"] / (wall * CORES) if wall > 0 else 0.0,
            "executor_cpu_s": t["executor_cpu_s"] / n,
            "python_gap_s": max(t["run_s"] - t["executor_cpu_s"], 0.0) / n,
            "shuffle_mb": t["shuffle_mb"] / n,
            "spill_mb": t["spill_mb"] / n,
            "task_skew": t["task_skew"],
            "rows_out": t["rows_out"] / n,
            "calls": n,
            "rows_in": t["rows_in"],
            "bytes_out": t["bytes_out"],
            "run_s": t["run_s"],
        }
    return rows


def latest_event_log(log_dir: str) -> str:
    """The event log of the last (traced) SparkContext; it must be closed."""
    logs = [os.path.join(log_dir, f) for f in os.listdir(log_dir) if not f.startswith(".")]
    last = max(logs, key=os.path.getmtime)
    if last.endswith(".inprogress"):
        raise RuntimeError(f"event log still open: {last}")
    return last
