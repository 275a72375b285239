"""Spans around the benchmark's calls into the engine, and the digest of
Spark's event log into per-span counters.

A span has a name, start, end, parent and trace id. Spans stay in memory
and are written once, when the run ends. In a traced run every span sets
its own Spark job group, so the event log says which span launched each
job; jobs submitted from threads the engine starts itself carry no group
and are given to the innermost span open at their submission time.
"""

from __future__ import annotations

import contextlib
import glob
import itertools
import json
import os
import time
from typing import Dict, List, Optional


class Tracer:
    """Records spans when enabled; a disabled tracer is a no-op, so the
    untraced run sets no job groups and keeps no spans."""

    def __init__(self, trace_id: str, enabled: bool):
        self.trace_id = trace_id
        self.enabled = enabled
        self.spans: List[dict] = []
        self._stack: List[dict] = []
        self._ids = itertools.count(1)
        self.sc = None  # the live SparkContext; replaced on session restart

    @contextlib.contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield None
            return
        parent = self._stack[-1] if self._stack else None
        sp = {
            "id": f"{self.trace_id}:{next(self._ids)}",
            "name": name,
            "parent": parent["id"] if parent else None,
            "trace": self.trace_id,
            "start": time.time(),
            "end": None,
            "attrs": {},  # facts about the op, added by the workload
        }
        self.spans.append(sp)
        self._stack.append(sp)
        self._set_group(sp)
        try:
            yield sp
        finally:
            sp["end"] = time.time()
            self._stack.pop()
            self._set_group(self._stack[-1] if self._stack else None)

    def _set_group(self, sp: Optional[dict]) -> None:
        if self.sc is None:
            return
        if sp is None:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            self.sc.setLocalProperty("spark.job.description", None)
        else:
            self.sc.setJobGroup(sp["id"], sp["name"])

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump({"trace": self.trace_id, "spans": self.spans}, f)


# ---------------------------------------------------------------------------
# event-log digest

COUNTERS = ("jobs", "stages", "tasks", "executor_run_ms", "gc_ms", "shuffle_read_bytes",
            "shuffle_write_bytes", "shuffle_records", "spill_bytes",
            "input_bytes", "input_rows", "output_bytes", "files_read")

_SQL = "org.apache.spark.sql.execution.ui."


def read_event_log(log_dir: str) -> dict:
    """Jobs (with group, submit/complete times and task counters) and SQL
    executions (with scan file counts) from every application log in
    ``log_dir``. Job ids restart per application, so keys carry the file."""
    jobs: Dict[tuple, dict] = {}
    stage_job: Dict[tuple, tuple] = {}
    execs: Dict[tuple, dict] = {}
    files_acc: Dict[tuple, set] = {}
    for path in sorted(glob.glob(os.path.join(log_dir, "*"))):
        app = os.path.basename(path)
        with open(path) as f:
            for line in f:
                e = json.loads(line)
                ev = e["Event"]
                if ev == "SparkListenerJobStart":
                    props = e.get("Properties") or {}
                    key = (app, e["Job ID"])
                    exe = props.get("spark.sql.execution.id")
                    jobs[key] = dict(
                        {c: 0 for c in COUNTERS},
                        group=props.get("spark.jobGroup.id"),
                        submit=e["Submission Time"] / 1000.0, complete=None,
                        execution=(app, int(exe)) if exe is not None else None,
                        jobs=1, stages=len(e.get("Stage IDs", [])))
                    for sid in e.get("Stage IDs", []):
                        stage_job[(app, sid)] = key
                elif ev == "SparkListenerJobEnd":
                    job = jobs.get((app, e["Job ID"]))
                    if job is not None:
                        job["complete"] = e["Completion Time"] / 1000.0
                elif ev == "SparkListenerTaskEnd":
                    key = stage_job.get((app, e["Stage ID"]))
                    m = e.get("Task Metrics")
                    if key is None or m is None:
                        continue
                    job = jobs[key]
                    sr = m.get("Shuffle Read Metrics", {})
                    sw = m.get("Shuffle Write Metrics", {})
                    job["tasks"] += 1
                    job["executor_run_ms"] += m.get("Executor Run Time", 0)
                    job["gc_ms"] += m.get("JVM GC Time", 0)
                    job["shuffle_read_bytes"] += (sr.get("Remote Bytes Read", 0)
                                                  + sr.get("Local Bytes Read", 0))
                    job["shuffle_write_bytes"] += sw.get("Shuffle Bytes Written", 0)
                    job["shuffle_records"] += sw.get("Shuffle Records Written", 0)
                    job["spill_bytes"] += (m.get("Memory Bytes Spilled", 0)
                                           + m.get("Disk Bytes Spilled", 0))
                    job["input_bytes"] += m.get("Input Metrics", {}).get("Bytes Read", 0)
                    job["input_rows"] += m.get("Input Metrics", {}).get("Records Read", 0)
                    job["output_bytes"] += m.get("Output Metrics", {}).get("Bytes Written", 0)
                elif ev in (_SQL + "SparkListenerSQLExecutionStart",
                            _SQL + "SparkListenerSQLAdaptiveExecutionUpdate"):
                    key = (app, e["executionId"])
                    if ev.endswith("Start"):
                        execs[key] = {"time": e["time"] / 1000.0, "files_read": 0}
                    files_acc.setdefault(key, set()).update(
                        _metric_ids(e.get("sparkPlanInfo") or {}, "number of files read"))
                elif ev == _SQL + "SparkListenerDriverAccumUpdates":
                    key = (app, e["executionId"])
                    if key in execs:
                        ids = files_acc.get(key, set())
                        execs[key]["files_read"] += sum(
                            v for acc, v in e["accumUpdates"] if acc in ids)
    return {"jobs": jobs, "execs": execs}


def _metric_ids(node: dict, name: str) -> set:
    out = {m["accumulatorId"] for m in node.get("metrics", []) if m.get("name") == name}
    for child in node.get("children", []):
        out |= _metric_ids(child, name)
    return out


def jobs_for_group(log: dict, group: str) -> int:
    """Jobs the event log attributes to one job group."""
    return sum(1 for j in log["jobs"].values() if j["group"] == group)


def digest(spans: List[dict], log: dict) -> Dict[str, dict]:
    """Per-span counters, each span including its descendants: the
    COUNTERS above plus ``wall_ms`` and ``driver_gap_ms`` (span wall time
    during which none of its jobs was running)."""
    by_id = {s["id"]: s for s in spans}
    children: Dict[Optional[str], list] = {}
    for s in spans:
        children.setdefault(s["parent"], []).append(s["id"])
    own: Dict[str, List[dict]] = {s["id"]: [] for s in spans}
    for job in log["jobs"].values():
        sid = job["group"] if job["group"] in by_id else _innermost(spans, job["submit"])
        if sid is not None:
            own[sid].append(job)
    own_execs: Dict[str, int] = {s["id"]: 0 for s in spans}
    for ex in log["execs"].values():
        sid = _innermost(spans, ex["time"])
        if sid is not None:
            own_execs[sid] += ex["files_read"]

    out: Dict[str, dict] = {}

    def collect(sid: str):
        jobs = list(own[sid])
        files = own_execs[sid]
        for c in children.get(sid, []):
            cj, cf = collect(c)
            jobs += cj
            files += cf
        sp = by_id[sid]
        row = {c: sum(j[c] for j in jobs) for c in COUNTERS if c != "files_read"}
        row["files_read"] = files
        row["wall_ms"] = (sp["end"] - sp["start"]) * 1000.0
        row["driver_gap_ms"] = row["wall_ms"] - 1000.0 * _covered(
            [(j["submit"], j["complete"] or sp["end"]) for j in jobs],
            sp["start"], sp["end"])
        out[sid] = row
        return jobs, files

    for root in children.get(None, []):
        collect(root)
    return out


def _innermost(spans: List[dict], t: float) -> Optional[str]:
    best = None
    for s in spans:
        if s["start"] <= t <= (s["end"] or t):
            if best is None or s["start"] >= best["start"]:
                best = s
    return best["id"] if best else None


def _covered(intervals, lo: float, hi: float) -> float:
    """Length of the union of intervals, clipped to [lo, hi]."""
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
