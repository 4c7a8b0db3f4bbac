"""Spans around the library's public calls, joined with Spark's event log.

A span is recorded in memory (name, start, end, parent, op id) and its
Spark jobs are tagged with ``setJobGroup(span_id)``, so stage and task
metrics from the event log land in the span that launched them. Spans
are written out, and the log is parsed, only after the traced phase.
"""

from __future__ import annotations

import contextlib
import glob
import json
import os
import time
from collections import defaultdict
from dataclasses import dataclass

# counters every span reports, per call
SPAN_COUNTERS = ("wall_s", "self_s", "driver_s", "tasks", "cpu_s",
                 "shuffle_bytes", "spill_bytes")
IDLE_GROUP = "perfbench-idle"


@dataclass
class Span:
    id: str
    name: str
    start: float
    end: float
    parent: str | None
    op: int


def covered(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to [lo, hi]."""
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


class Tracer:
    """Records spans and tags Spark jobs. ``Tracer(None)`` records
    nothing and touches no Spark state: the untraced runs use it."""

    def __init__(self, sc=None):
        self.sc = sc
        self.spans: list[Span] = []
        self._stack: list[str] = []
        self.op = -1
        if sc is not None:
            sc.setJobGroup(IDLE_GROUP, IDLE_GROUP)

    @property
    def enabled(self) -> bool:
        return self.sc is not None

    @contextlib.contextmanager
    def span(self, name: str):
        if self.sc is None:
            yield
            return
        sid = f"s{len(self.spans)}"
        parent = self._stack[-1] if self._stack else None
        rec = Span(sid, name, time.time(), 0.0, parent, self.op)
        self.spans.append(rec)
        self._stack.append(sid)
        self.sc.setJobGroup(sid, name)
        try:
            yield
        finally:
            rec.end = time.time()
            self._stack.pop()
            self.sc.setJobGroup(self._stack[-1] if self._stack else IDLE_GROUP,
                                name)

    def dump(self, path: str) -> None:
        with open(path, "w") as fh:
            for s in self.spans:
                fh.write(json.dumps(s.__dict__) + "\n")


@dataclass
class Job:
    group: str | None
    stages: list[int]


class EventLog:
    """What the traced phase needs from one Spark event log: job →
    group, stage intervals, per-stage task totals, and SQL metric
    values keyed by (node name, metric name) per job group."""

    def __init__(self, log_dir: str):
        files = [f for f in sorted(glob.glob(os.path.join(log_dir, "*")))
                 if os.path.isfile(f) and not f.endswith(".inprogress")]
        if not files:
            raise FileNotFoundError(f"no Spark event log under {log_dir}")
        self.jobs: dict[int, Job] = {}
        self.stage_span: dict[int, tuple[float, float]] = {}
        self.stage_tasks: dict[int, dict[str, float]] = defaultdict(
            lambda: defaultdict(float))
        self.exec_group: dict[int, str | None] = {}
        self.accum_name: dict[int, tuple[str, str]] = {}
        self.stage_accum: dict[int, dict[int, float]] = defaultdict(
            lambda: defaultdict(float))
        self.driver_accum: dict[int, dict[int, float]] = defaultdict(
            lambda: defaultdict(float))
        for fn in files:
            with open(fn) as fh:
                for line in fh:
                    self._event(json.loads(line))

    def _plan(self, node: dict) -> None:
        for m in node.get("metrics", []):
            self.accum_name[m["accumulatorId"]] = (node["nodeName"].strip(), m["name"])
        for child in node.get("children", []):
            self._plan(child)

    def _event(self, e: dict) -> None:
        kind = e["Event"].rsplit(".", 1)[-1]
        if kind == "SparkListenerJobStart":
            props = e.get("Properties") or {}
            self.jobs[e["Job ID"]] = Job(props.get("spark.jobGroup.id"), list(e["Stage IDs"]))
        elif kind == "SparkListenerStageCompleted":
            info = e["Stage Info"]
            if "Submission Time" in info and "Completion Time" in info:
                self.stage_span[info["Stage ID"]] = (
                    info["Submission Time"] / 1000.0,
                    info["Completion Time"] / 1000.0)
        elif kind == "SparkListenerTaskEnd":
            sid, tm = e["Stage ID"], e.get("Task Metrics") or {}
            acc = self.stage_tasks[sid]
            acc["tasks"] += 1
            acc["cpu_s"] += tm.get("Executor CPU Time", 0) / 1e9
            acc["shuffle_bytes"] += (tm.get("Shuffle Write Metrics") or {}).get(
                "Shuffle Bytes Written", 0)
            acc["spill_bytes"] += tm.get("Disk Bytes Spilled", 0) + tm.get(
                "Memory Bytes Spilled", 0)
            for a in (e.get("Task Info") or {}).get("Accumulables", []):
                if a.get("Metadata") == "sql":
                    self.stage_accum[sid][a["ID"]] += float(a.get("Update") or 0)
        elif kind == "SparkListenerSQLExecutionStart":
            self.exec_group[e["executionId"]] = e.get("jobGroupId")
            self._plan(e["sparkPlanInfo"])
        elif kind == "SparkListenerSQLAdaptiveExecutionUpdate":
            self._plan(e["sparkPlanInfo"])
        elif kind == "SparkListenerDriverAccumUpdates":
            for aid, val in e["accumUpdates"]:
                self.driver_accum[e["executionId"]][aid] += float(val)

    def group_stats(self) -> dict[str, dict]:
        """Per job group: job count, stage intervals, task totals and
        SQL metric sums keyed by (node name, metric name)."""
        out: dict[str, dict] = defaultdict(lambda: {
            "jobs": 0, "stages": [], "totals": defaultdict(float),
            "sql": defaultdict(float)})
        for job in self.jobs.values():
            g = out[job.group or IDLE_GROUP]
            g["jobs"] += 1
            for s in job.stages:
                if s in self.stage_span:
                    g["stages"].append(self.stage_span[s])
                for k, v in self.stage_tasks.get(s, {}).items():
                    g["totals"][k] += v
                for aid, v in self.stage_accum.get(s, {}).items():
                    if aid in self.accum_name:
                        g["sql"][self.accum_name[aid]] += v
        for ex, accs in self.driver_accum.items():
            g = out[self.exec_group.get(ex) or IDLE_GROUP]
            for aid, v in accs.items():
                if aid in self.accum_name:
                    g["sql"][self.accum_name[aid]] += v
        return out


def span_metrics(spans: list[Span], groups: dict[str, dict]) -> dict[str, dict]:
    """Per span name: call count and the mean per call of every
    counter in SPAN_COUNTERS, plus summed SQL metrics and job counts.
    Task counters cover the span's own jobs and those of its child
    spans (a lazy call's sink runs as a child)."""
    children: dict[str, list[Span]] = defaultdict(list)
    for s in spans:
        if s.parent is not None:
            children[s.parent].append(s)

    def subtree(s: Span) -> list[Span]:
        out = [s]
        for c in children[s.id]:
            out.extend(subtree(c))
        return out

    acc: dict[str, dict] = {}
    for s in spans:
        a = acc.setdefault(s.name, {"calls": 0, "jobs": 0,
                                    "sql": defaultdict(float),
                                    **{k: 0.0 for k in SPAN_COUNTERS}})
        wall = s.end - s.start
        a["calls"] += 1
        a["wall_s"] += wall
        a["self_s"] += wall - covered(
            [(c.start, c.end) for c in children[s.id]], s.start, s.end)
        stage_iv = []
        for t in subtree(s):
            g = groups.get(t.id)
            if g is None:
                continue
            a["jobs"] += g["jobs"]
            stage_iv.extend(g["stages"])
            for k in ("tasks", "cpu_s", "shuffle_bytes", "spill_bytes"):
                a[k] += g["totals"].get(k, 0.0)
            for k, v in g["sql"].items():
                a["sql"][k] += v
        a["driver_s"] += wall - covered(stage_iv, s.start, s.end)
    for a in acc.values():
        for k in SPAN_COUNTERS:
            a[k] /= a["calls"]
    return acc
