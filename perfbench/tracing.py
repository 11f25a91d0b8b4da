"""Traced-run tooling: an in-memory span recorder and a parser for
Spark's uncompressed JSON event log that joins every stage to the span
open when the stage was submitted.

Span names are ``<layer>.<call>``; the layer is the package module the
call enters (``sources``, ``operators``, ``streaming`` ...), or
``bench`` for the benchmark's own per-iteration root span.
"""

from __future__ import annotations

import json
import threading
import time
import uuid
from contextlib import contextmanager


class Tracer:
    """Records (name, start, end, parent, run id) spans around calls made
    from the benchmark's main thread. Disabled tracers record nothing."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.run_id = uuid.uuid4().hex[:12]
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self._owner = threading.get_ident()

    @contextmanager
    def span(self, name: str):
        if not self.enabled or threading.get_ident() != self._owner:
            yield
            return
        rec = {
            "name": name,
            "start": time.time(),
            "end": None,
            "parent": self._stack[-1] if self._stack else None,
            "run": self.run_id,
        }
        self._stack.append(len(self.spans))
        self.spans.append(rec)
        try:
            yield
        finally:
            rec["end"] = time.time()
            self._stack.pop()

    def call(self, name: str, fn, *args, **kwargs):
        with self.span(name):
            return fn(*args, **kwargs)

    def self_times(self, keep=lambda span: True) -> dict[str, list[float]]:
        """Self time (duration minus child spans) of every span for which
        ``keep(span)`` holds, by name."""
        child = [0.0] * len(self.spans)
        for s in self.spans:
            if s["parent"] is not None and s["end"] is not None:
                child[s["parent"]] += s["end"] - s["start"]
        out: dict[str, list[float]] = {}
        for i, s in enumerate(self.spans):
            if s["end"] is not None and keep(s):
                out.setdefault(s["name"], []).append(s["end"] - s["start"] - child[i])
        return out

    def span_at(self, t: float) -> dict | None:
        """Innermost span open at wall time ``t`` (seconds)."""
        best = None
        for s in self.spans:
            end = s["end"] if s["end"] is not None else float("inf")
            if s["start"] <= t <= end and (best is None or s["start"] >= best["start"]):
                best = s
        return best


# --------------------------------------------------------------- event log
_PY_METRICS = {
    "data sent to Python workers": "py_bytes_to",
    "data returned from Python workers": "py_bytes_from",
    "time to start Python workers": "py_start",
    "time to initialize Python workers": "py_init",
    "time to run Python workers": "py_run",
    "number of output rows": "rows_out",
}
_TIME_SCALE = {"timing": 1e-3, "nsTiming": 1e-9}
_MERGE_NODES = ("FlatMapGroupsInPandas", "FlatMapCoGroupsInPandas", "AggregateInPandas")


def _walk_plan(node: dict, meta: dict) -> None:
    name = node.get("nodeName", "")
    for m in node.get("metrics", []):
        meta[int(m["accumulatorId"])] = (name, m["name"], m.get("metricType", "sum"))
    for c in node.get("children", []):
        _walk_plan(c, meta)


def _new_stage() -> dict:
    return {
        "submit": None, "tasks": 0, "failed_tasks": 0, "run_s": 0.0, "cpu_s": 0.0,
        "gc_s": 0.0, "input_bytes": 0, "shuffle_read_bytes": 0,
        "shuffle_write_bytes": 0, "spill_bytes": 0, "accums": {},
    }


def parse_event_log(path: str) -> tuple[list[dict], list[tuple[float, float]]]:
    """Returns (stages, job (start, end) intervals in seconds). Each
    stage carries task-summed counters plus the Python-UDF SQL metrics
    found in its accumulables, split into partial-build and merge nodes."""
    meta: dict[int, tuple] = {}
    stages: dict[tuple, dict] = {}
    job_start: dict[int, float] = {}
    jobs: list[tuple[float, float]] = []
    with open(path) as f:
        for line in f:
            ev = json.loads(line)
            kind = ev.get("Event", "")
            if kind.endswith("SparkListenerSQLExecutionStart") or kind.endswith(
                "SparkListenerSQLAdaptiveExecutionUpdate"
            ):
                _walk_plan(ev.get("sparkPlanInfo", {}), meta)
            elif kind == "SparkListenerJobStart":
                job_start[ev["Job ID"]] = ev["Submission Time"] / 1000.0
            elif kind == "SparkListenerJobEnd" and ev["Job ID"] in job_start:
                jobs.append((job_start.pop(ev["Job ID"]), ev["Completion Time"] / 1000.0))
            elif kind == "SparkListenerStageSubmitted":
                info = ev["Stage Info"]
                st = stages.setdefault((info["Stage ID"], info["Stage Attempt ID"]), _new_stage())
                st["submit"] = info.get("Submission Time", 0) / 1000.0
            elif kind == "SparkListenerStageCompleted":
                info = ev["Stage Info"]
                st = stages.setdefault((info["Stage ID"], info["Stage Attempt ID"]), _new_stage())
                if st["submit"] is None and info.get("Submission Time"):
                    st["submit"] = info["Submission Time"] / 1000.0
                for a in info.get("Accumulables", []):
                    try:
                        st["accums"][int(a["ID"])] = float(a["Value"])
                    except (KeyError, TypeError, ValueError):
                        pass
            elif kind == "SparkListenerTaskEnd":
                st = stages.setdefault((ev["Stage ID"], ev["Stage Attempt ID"]), _new_stage())
                st["tasks"] += 1
                if ev.get("Task End Reason", {}).get("Reason") != "Success":
                    st["failed_tasks"] += 1
                tm = ev.get("Task Metrics") or {}
                st["run_s"] += tm.get("Executor Run Time", 0) / 1e3
                st["cpu_s"] += tm.get("Executor CPU Time", 0) / 1e9
                st["gc_s"] += tm.get("JVM GC Time", 0) / 1e3
                st["input_bytes"] += (tm.get("Input Metrics") or {}).get("Bytes Read", 0)
                sr = tm.get("Shuffle Read Metrics") or {}
                st["shuffle_read_bytes"] += sr.get("Remote Bytes Read", 0) + sr.get(
                    "Local Bytes Read", 0
                )
                sw = tm.get("Shuffle Write Metrics") or {}
                st["shuffle_write_bytes"] += sw.get("Shuffle Bytes Written", 0)
                st["spill_bytes"] += tm.get("Memory Bytes Spilled", 0) + tm.get(
                    "Disk Bytes Spilled", 0
                )
    out = []
    for st in stages.values():
        py = {"partial": {}, "merge": {}}
        for aid, val in st.pop("accums").items():
            if aid not in meta:
                continue
            node, mname, mtype = meta[aid]
            key = _PY_METRICS.get(mname)
            if key is None or "Python" not in node and "Pandas" not in node and "Arrow" not in node:
                continue
            side = "merge" if node.startswith(_MERGE_NODES) else "partial"
            val *= _TIME_SCALE.get(mtype, 1.0)
            py[side][key] = py[side].get(key, 0.0) + val
        st["py"] = py
        out.append(st)
    return out, jobs


def covered(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of [lo, hi] covered by the union of ``intervals``."""
    total, cur = 0.0, lo
    for a, b in sorted(intervals):
        a, b = max(a, cur), min(b, hi)
        if b > a:
            total += b - a
            cur = b
    return total


def attribute_stages(stages: list[dict], tracer: Tracer) -> dict[str, list[dict]]:
    """Group stages by the name of the innermost span open at their
    submission time; stages outside every span go under ``untraced``."""
    by: dict[str, list[dict]] = {}
    for st in stages:
        sp = tracer.span_at(st["submit"]) if st["submit"] else None
        by.setdefault(sp["name"] if sp else "untraced", []).append(st)
    return by
