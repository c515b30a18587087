"""Spans around the engine's public calls, and per-layer metrics.

A span is recorded in memory as ``(id, name, phase, parent, start,
end)``. While a span is open the Spark job group of the calling thread
is ``<name>:<phase>``, so every job the call starts is attributed to
it. After the session stops, the Spark event log is read (the way
``tools/stage_audit.py`` reads it) and job and task metrics are summed
per span name.

Phases: ``construct`` covers building a DataFrame (any job it fires is
an eager job); ``action`` covers running one. An action's time splits
into ``exec_s`` (some job of the span was running) and ``plan_s`` (the
driver worked with no job running: planning, metastore calls, commits).
"""

from __future__ import annotations

import contextlib
import glob
import json
import os
import time

#: Spans whose calls build DataFrames.
CONSTRUCT_SPANS = (
    "sources.tables.load_tables",
    "catalog.list_tables",
    "operators.profile.profile_data",
    "operators.profile.schema_information",
)
#: Spans that run work: the writer calls, and in ``query_mix`` the
#: module of each query's operator.
ACTION_SPANS = (
    "operators.writer.upsert_into",
    "operators.writer.optimize_clustered",
    "operators.profile",
    "operators.writer",
    "ext.dedup",
    "ext.similarity",
    "ext.text",
    "entry.tpch",
)
CONSTRUCT_METRICS = (("calls", "count"), ("construct_s", "s"), ("eager_jobs", "count"))
ACTION_METRICS = CONSTRUCT_METRICS + (
    ("plan_s", "s"),
    ("exec_s", "s"),
    ("jobs", "count"),
    ("tasks", "count"),
    ("task_cpu_s", "s"),
    ("gc_s", "s"),
    ("shuffle_write_mb", "MB"),
    ("spill_mb", "MB"),
    ("input_mb", "MB"),
    ("output_mb", "MB"),
)
OTHER_METRICS = (
    ("session.start_s", "s"),
    ("operators.profile.profile_data.distinct_ratio", "ratio"),
    ("operators.writer.upsert_into.rewrite_ratio", "ratio"),
    ("trace.wall_s", "s"),
    ("trace.self_cover", "ratio"),
)


def layer_metric_names() -> list[tuple[str, str]]:
    """Every per-layer metric ``(name, unit)``, in a fixed order."""
    out = [(f"{s}.{m}", u) for s in CONSTRUCT_SPANS for m, u in CONSTRUCT_METRICS]
    out += [(f"{s}.{m}", u) for s in ACTION_SPANS for m, u in ACTION_METRICS]
    return out + list(OTHER_METRICS)


class Tracer:
    """Records spans while ``active``; a disabled tracer records
    nothing and touches no Spark state."""

    def __init__(self, sc):
        self.sc = sc
        self.active = False
        self.spans: list[dict] = []
        self._stack: list[dict] = []

    @contextlib.contextmanager
    def span(self, name: str, phase: str = "construct"):
        if not self.active:
            yield
            return
        parent = self._stack[-1] if self._stack else None
        rec = {
            "id": len(self.spans),
            "name": name,
            "phase": phase,
            "parent": parent["id"] if parent else None,
            "start": time.time(),
            "end": None,
        }
        self.spans.append(rec)
        self._stack.append(rec)
        self.sc.setLocalProperty("spark.jobGroup.id", f"{name}:{phase}")
        try:
            yield
        finally:
            rec["end"] = time.time()
            self._stack.pop()
            self.sc.setLocalProperty(
                "spark.jobGroup.id",
                f"{parent['name']}:{parent['phase']}" if parent else None,
            )

    def self_times(self) -> dict[int, float]:
        """Span duration minus the part its children cover."""
        kids: dict[int, list[dict]] = {}
        for s in self.spans:
            if s["parent"] is not None:
                kids.setdefault(s["parent"], []).append(s)
        return {
            s["id"]: (s["end"] - s["start"])
            - _cover([(k["start"], k["end"]) for k in kids.get(s["id"], [])], s["start"], s["end"])
            for s in self.spans
        }

    def dump(self, path: str, stamp: dict) -> None:
        selfs = self.self_times()
        with open(path, "w") as fh:
            json.dump(
                {"env": stamp, "spans": [dict(s, self_s=selfs[s["id"]]) for s in self.spans]},
                fh,
            )


def _cover(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to ``[lo, hi]``."""
    total, cur_a, cur_b = 0.0, None, None
    for a, b in sorted((max(a, lo), min(b, hi)) for a, b in intervals):
        if b <= a:
            continue
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                total += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        total += cur_b - cur_a
    return total


def read_event_log(log_dir: str) -> tuple[dict, dict]:
    """``(jobs, stages)`` from every event file under ``log_dir``:
    ``jobs[group]`` is a list of ``(start_s, end_s)``, ``stages[group]``
    the summed task metrics of the group's stages."""
    job_group: dict[int, str] = {}
    job_start: dict[int, float] = {}
    jobs: dict[str, list] = {}
    stage_group: dict[int, str] = {}
    stages: dict[str, dict] = {}
    files = [
        p
        for p in glob.glob(os.path.join(log_dir, "**", "*"), recursive=True)
        if os.path.isfile(p) and "appstatus" not in os.path.basename(p)
    ]
    for f in files:
        with open(f) as fh:
            for line in fh:
                try:
                    ev = json.loads(line)
                except ValueError:
                    continue
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    group = (ev.get("Properties") or {}).get("spark.jobGroup.id")
                    if group:
                        job_group[ev["Job ID"]] = group
                        job_start[ev["Job ID"]] = ev["Submission Time"] / 1e3
                elif kind == "SparkListenerJobEnd":
                    jid = ev["Job ID"]
                    if jid in job_group:
                        jobs.setdefault(job_group[jid], []).append(
                            (job_start[jid], ev["Completion Time"] / 1e3)
                        )
                elif kind == "SparkListenerStageSubmitted":
                    group = (ev.get("Properties") or {}).get("spark.jobGroup.id")
                    if group:
                        stage_group[ev["Stage Info"]["Stage ID"]] = group
                elif kind == "SparkListenerTaskEnd":
                    group = stage_group.get(ev.get("Stage ID"))
                    if group is None:
                        continue
                    m = ev.get("Task Metrics") or {}
                    s = stages.setdefault(group, dict.fromkeys(_TASK_KEYS, 0.0))
                    s["tasks"] += 1
                    s["task_cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
                    s["gc_s"] += m.get("JVM GC Time", 0) / 1e3
                    s["shuffle_write_mb"] += (m.get("Shuffle Write Metrics") or {}).get(
                        "Shuffle Bytes Written", 0
                    ) / 1e6
                    s["spill_mb"] += m.get("Disk Bytes Spilled", 0) / 1e6
                    s["input_mb"] += (m.get("Input Metrics") or {}).get("Bytes Read", 0) / 1e6
                    out = m.get("Output Metrics") or {}
                    s["output_mb"] += out.get("Bytes Written", 0) / 1e6
                    s["rows_written"] += out.get("Records Written", 0)
    return jobs, stages


_TASK_KEYS = (
    "tasks",
    "task_cpu_s",
    "gc_s",
    "shuffle_write_mb",
    "spill_mb",
    "input_mb",
    "output_mb",
    "rows_written",
)


def layer_metrics(tracer: Tracer, log_dir: str) -> dict[str, float]:
    """Per-call means of every span metric (``calls`` is a total);
    span names with no calls report zeros."""
    jobs, stages = read_event_log(log_dir)
    out: dict[str, float] = {}
    for name in CONSTRUCT_SPANS + ACTION_SPANS:
        by_phase = {
            p: [s for s in tracer.spans if s["name"] == name and s["phase"] == p]
            for p in ("construct", "action")
        }
        calls = max(len(by_phase["construct"]), len(by_phase["action"]))
        per = 1.0 / calls if calls else 0.0
        out[f"{name}.calls"] = float(calls)
        out[f"{name}.construct_s"] = per * sum(s["end"] - s["start"] for s in by_phase["construct"])
        out[f"{name}.eager_jobs"] = per * len(jobs.get(f"{name}:construct", []))
        if name not in ACTION_SPANS:
            continue
        act = jobs.get(f"{name}:action", [])
        exec_s = sum(_cover(act, s["start"], s["end"]) for s in by_phase["action"])
        wall = sum(s["end"] - s["start"] for s in by_phase["action"])
        out[f"{name}.plan_s"] = per * (wall - exec_s)
        out[f"{name}.exec_s"] = per * exec_s
        out[f"{name}.jobs"] = per * len(act)
        agg = dict.fromkeys(_TASK_KEYS, 0.0)
        for p in ("construct", "action"):
            for k, v in stages.get(f"{name}:{p}", {}).items():
                agg[k] += v
        for k in _TASK_KEYS[:-1]:
            out[f"{name}.{k}"] = per * agg[k]
        if name == "operators.writer.upsert_into":
            out["_upsert_rows_written"] = agg["rows_written"]
    return out
