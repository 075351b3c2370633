"""Spans around the benchmark's calls into each layer, plus Spark stage
metrics from the event log, attached to the span that caused them.

Spans stay in memory and are written out once, when the run ends. A
disabled :class:`Tracer` records nothing and touches no Spark state, so
the measured (untraced) runs pay only a context-manager call per span.
"""

from __future__ import annotations

import functools
import glob
import json
import os
import statistics
import threading
import time
from collections import defaultdict
from contextlib import contextmanager


class Tracer:
    """In-memory spans of one run; each span names its parent (the span
    open on the same thread, else the one open on the main thread)."""

    def __init__(self, enabled: bool, run_id: str):
        self.enabled = enabled
        self.run_id = run_id
        self.spans: list[dict] = []
        self.spark = None
        self._local = threading.local()
        self._main_stack: list[int] = []
        self._main_thread = threading.get_ident()
        self._lock = threading.Lock()

    def _stack(self) -> list[int]:
        if threading.get_ident() == self._main_thread:
            return self._main_stack
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    @contextmanager
    def span(self, name: str, **attrs):
        if not self.enabled:
            yield
            return
        stack = self._stack()
        # spans opened on a callback thread (a streaming micro-batch)
        # hang under whatever the main thread is doing at the time
        parent = stack[-1] if stack else (
            self._main_stack[-1] if self._main_stack else None
        )
        with self._lock:
            span_id = len(self.spans)
            rec = {"run_id": self.run_id, "id": span_id, "parent": parent,
                   "name": name, "start": time.time(), "end": None,
                   "thread": threading.get_ident(), "attrs": attrs}
            self.spans.append(rec)
        stack.append(span_id)
        # job groups only from the main thread: a micro-batch callback
        # runs where the streaming engine keeps its own job group, and
        # its jobs are attached by time instead
        on_main = threading.get_ident() == self._main_thread
        sc = (
            self.spark.sparkContext
            if on_main and self.spark is not None else None
        )
        prev = sc.getLocalProperty("spark.jobGroup.id") if sc else None
        if sc is not None:
            sc.setJobGroup(f"span-{span_id}", name)
        try:
            yield
        finally:
            rec["end"] = time.time()
            stack.pop()
            if sc is not None:
                sc.setLocalProperty("spark.jobGroup.id", prev)

    def wrap(self, module, name: str):
        """Replace ``module.name`` by a spanned version; returns a function
        that restores the original."""
        orig = getattr(module, name)
        label = f"{module.__name__.rsplit('.', 1)[-1]}.{name}"

        @functools.wraps(orig)
        def traced(*args, **kwargs):
            with self.span(label, batch_id=args[1] if len(args) > 1 else None):
                return orig(*args, **kwargs)

        setattr(module, name, traced)
        return lambda: setattr(module, name, orig)

    def by_name(self, name: str) -> list[dict]:
        return [s for s in self.spans if s["name"] == name and s["end"]]


def durations(spans: list[dict]) -> list[float]:
    return [s["end"] - s["start"] for s in spans]


def self_times(spans: list[dict]) -> dict[int, float]:
    """Each span's duration minus the part of it its children cover."""
    children = defaultdict(list)
    for s in spans:
        if s["parent"] is not None and s["end"]:
            children[s["parent"]].append((s["start"], s["end"]))
    out = {}
    for s in spans:
        if not s["end"]:
            continue
        covered, cur_lo, cur_hi = 0.0, None, None
        for lo, hi in sorted(children.get(s["id"], [])):
            lo, hi = max(lo, s["start"]), min(hi, s["end"])
            if hi <= lo:
                continue
            if cur_hi is None or lo > cur_hi:
                if cur_hi is not None:
                    covered += cur_hi - cur_lo
                cur_lo, cur_hi = lo, hi
            else:
                cur_hi = max(cur_hi, hi)
        if cur_hi is not None:
            covered += cur_hi - cur_lo
        out[s["id"]] = s["end"] - s["start"] - covered
    return out


# --------------------------------------------------------------------------
# Spark event log

_STAGE_KEYS = ("run_ms", "cpu_ns", "gc_ms", "shuffle_read", "shuffle_write",
               "spill", "input", "output", "tasks")


def read_event_logs(log_dir: str) -> dict:
    """Jobs, per-stage task totals and per-SQL-execution scan metrics
    from every event log under ``log_dir``."""
    jobs, stages, execs = [], {}, {}
    scan_acc: dict[int, str] = {}
    for path in sorted(glob.glob(os.path.join(log_dir, "**"), recursive=True)):
        if not os.path.isfile(path) or "appstatus" in os.path.basename(path):
            continue
        app = os.path.relpath(path, log_dir)
        with open(path) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event", "")
                if kind == "SparkListenerJobStart":
                    props = ev.get("Properties") or {}
                    jobs.append({
                        "submit": ev["Submission Time"] / 1000.0,
                        "stages": [(app, s) for s in ev["Stage IDs"]],
                        "group": props.get("spark.jobGroup.id"),
                    })
                elif kind == "SparkListenerTaskEnd":
                    m = ev.get("Task Metrics") or {}
                    st = stages.setdefault(
                        (app, ev["Stage ID"]),
                        {**dict.fromkeys(_STAGE_KEYS, 0), "task_ms": []},
                    )
                    sr = m.get("Shuffle Read Metrics") or {}
                    sw = m.get("Shuffle Write Metrics") or {}
                    st["run_ms"] += m.get("Executor Run Time", 0)
                    st["cpu_ns"] += m.get("Executor CPU Time", 0)
                    st["gc_ms"] += m.get("JVM GC Time", 0)
                    st["shuffle_read"] += sr.get("Remote Bytes Read", 0) + sr.get(
                        "Local Bytes Read", 0)
                    st["shuffle_write"] += sw.get("Shuffle Bytes Written", 0)
                    st["spill"] += m.get("Memory Bytes Spilled", 0) + m.get(
                        "Disk Bytes Spilled", 0)
                    st["input"] += (m.get("Input Metrics") or {}).get("Bytes Read", 0)
                    st["output"] += (m.get("Output Metrics") or {}).get(
                        "Bytes Written", 0)
                    st["tasks"] += 1
                    st["task_ms"].append(m.get("Executor Run Time", 0))
                elif kind.endswith("SparkListenerSQLExecutionStart"):
                    _collect_scan_metrics(ev.get("sparkPlanInfo") or {}, scan_acc)
                    execs[(app, ev["executionId"])] = {
                        "start": ev["time"] / 1000.0, "files": 0, "bytes": 0}
                elif kind.endswith("SparkListenerDriverAccumUpdates"):
                    ex = execs.get((app, ev["executionId"]))
                    for acc_id, value in ev.get("accumUpdates", []):
                        which = scan_acc.get(acc_id)
                        if ex is not None and which:
                            ex[which] += value
    return {"jobs": jobs, "stages": stages, "execs": list(execs.values())}


def _collect_scan_metrics(info: dict, out: dict) -> None:
    for m in info.get("metrics", []):
        if m.get("name") == "number of files read":
            out[m["accumulatorId"]] = "files"
        elif m.get("name") == "size of files read":
            out[m["accumulatorId"]] = "bytes"
    for child in info.get("children", []):
        _collect_scan_metrics(child, out)


def _owner(spans: list[dict], t: float, group: str | None) -> int | None:
    """The span a job or execution belongs to: the one named by its job
    group, else the innermost span (latest start) open at time ``t``."""
    if group and group.startswith("span-"):
        return int(group[5:])
    best = None
    for s in spans:
        if s["end"] and s["start"] <= t <= s["end"]:
            if best is None or s["start"] >= best["start"]:
                best = s
    return best["id"] if best else None


def attach_stage_metrics(spans: list[dict], log: dict) -> dict[int, dict]:
    """Per-span totals of the stage and scan metrics its jobs caused."""
    per_span: dict[int, dict] = defaultdict(
        lambda: {**dict.fromkeys(_STAGE_KEYS, 0), "skew": [],
                 "files_scanned": 0, "bytes_scanned": 0})
    for job in log["jobs"]:
        owner = _owner(spans, job["submit"], job["group"])
        if owner is None:
            continue
        acc = per_span[owner]
        for key in job["stages"]:
            st = log["stages"].get(key)
            if not st:
                continue
            for k in _STAGE_KEYS:
                acc[k] += st[k]
            ts = st["task_ms"]
            if len(ts) >= 4 and statistics.median(ts) > 0:
                acc["skew"].append(max(ts) / statistics.median(ts))
    for ex in log["execs"]:
        owner = _owner(spans, ex["start"], None)
        if owner is not None:
            per_span[owner]["files_scanned"] += ex["files"]
            per_span[owner]["bytes_scanned"] += ex["bytes"]
    return per_span


def descendants(spans: list[dict], root_id: int) -> set[int]:
    kids = defaultdict(list)
    for s in spans:
        if s["parent"] is not None:
            kids[s["parent"]].append(s["id"])
    out, todo = set(), [root_id]
    while todo:
        cur = todo.pop()
        out.add(cur)
        todo.extend(kids[cur])
    return out


def report_lines(spans: list[dict], per_span: dict[int, dict]) -> list[str]:
    """One line per span name: calls, total and self seconds, and the
    Spark work attached to those spans."""
    selfs = self_times(spans)
    rows = defaultdict(lambda: {"calls": 0, "total": 0.0, "self": 0.0,
                                "tasks": 0, "run_ms": 0, "cpu_ns": 0})
    for s in spans:
        if not s["end"]:
            continue
        r = rows[s["name"]]
        r["calls"] += 1
        r["total"] += s["end"] - s["start"]
        r["self"] += selfs[s["id"]]
        m = per_span.get(s["id"])
        if m:
            r["tasks"] += m["tasks"]
            r["run_ms"] += m["run_ms"]
            r["cpu_ns"] += m["cpu_ns"]
    out = [f"{'span':34s} {'calls':>6s} {'total_s':>9s} {'self_s':>9s} "
           f"{'tasks':>7s} {'exec_run_s':>10s} {'exec_cpu_s':>10s}"]
    for name, r in sorted(rows.items(), key=lambda kv: -kv[1]["total"]):
        out.append(
            f"{name:34s} {r['calls']:6d} {r['total']:9.3f} {r['self']:9.3f} "
            f"{r['tasks']:7d} {r['run_ms'] / 1e3:10.3f} {r['cpu_ns'] / 1e9:10.3f}"
        )
    return out
