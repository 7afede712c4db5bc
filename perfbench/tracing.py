"""Spans at the program's layer boundaries, and Spark work attributed to them.

A traced run wraps each call the benchmark makes into a layer's public
function in a span (name, start, end, parent). Spans stay in memory;
after the session stops, the Spark event log is parsed and every job is
given to the innermost span whose interval holds its submission time.
Job groups are per thread, so they miss eager arms that a query builds
on driver threads; submission time does not.
"""

from __future__ import annotations

import contextlib
import glob
import json
import os
import re
import threading
import time
from collections import defaultdict

# Layer of each per-layer metric, and the end-to-end metric and workload
# it is expected to move ("flat" names a workload where it should not).
_D = "dashboard"
_L = "lakehouse_writes"
PER_LAYER = {
    "tables.load_calls": ("tables", f"read_geomean_ms, pass_s on {_D}; flat on {_L}"),
    "tables.load_ms": ("tables", f"read_geomean_ms, pass_s on {_D}; flat on {_L}"),
    "tables.jobs": ("tables", f"read_geomean_ms, pass_s on {_D}; flat on {_L}"),
    "registry.build_ms": ("registry", f"read_geomean_ms, pass_s on {_D}; flat on {_L}"),
    "registry.build_jobs": ("registry", f"read_geomean_ms, pass_s on {_D}; flat on {_L}"),
    "plan.analysis_ms": ("planning", f"read_geomean_ms on {_D}, by a small amount"),
    "plan.optimization_ms": ("planning", f"read_geomean_ms on {_D}, by a small amount"),
    "plan.planning_ms": ("planning", f"read_geomean_ms on {_D}, by a small amount"),
    "plan.exchanges": ("planning", f"pass_s on {_D}"),
    "plan.python_nodes": ("planning", f"pass_s on {_D}"),
    "plan.nested_loop_joins": ("planning", f"pass_s on {_D}"),
    "exec.ms": ("execution", f"pass_s on {_D}; flat on {_L}"),
    "exec.jobs": ("execution", f"pass_s on {_D}"),
    "exec.stages": ("execution", f"pass_s on {_D}"),
    "exec.tasks": ("execution", f"pass_s on {_D}"),
    "exec.task_busy_ms": ("execution", f"pass_s on {_D}"),
    "exec.task_cpu_ms": ("execution", f"pass_s on {_D}"),
    "exec.offcpu_ms": ("execution", f"pass_s on {_D}"),
    "exec.gc_ms": ("execution", f"pass_s on {_D}"),
    "exec.shuffle_read_bytes": ("execution", f"pass_s on {_D}"),
    "exec.shuffle_write_bytes": ("execution", f"pass_s on {_D}"),
    "exec.spill_bytes": ("execution", f"pass_s on {_D}"),
    "exec.task_skew": ("execution", f"pass_s on {_D}"),
    "exec.slot_util": ("execution", f"pass_s on {_D}"),
    "session.release_ms": ("session", f"read_geomean_ms on {_D}"),
    "session.released": ("session", f"session.peak_rss_mb on {_D}"),
    "session.leaked_rdds": ("session", f"session.peak_rss_mb on {_D}"),
    "session.peak_rss_mb": ("session", "none: driver Python plus JVM peak RSS in the window"),
    "versioned.merge_ms": ("operators.versioned", f"pass_s on {_L}; flat on {_D}"),
    "versioned.update_ms": ("operators.versioned", f"pass_s on {_L}; flat on {_D}"),
    "versioned.delete_ms": ("operators.versioned", f"pass_s on {_L}; flat on {_D}"),
    "versioned.append_ms": ("operators.versioned", f"pass_s on {_L}; flat on {_D}"),
    "versioned.optimize_ms": ("operators.versioned", f"pass_s on {_L}; flat on {_D}"),
    "versioned.read_ms": ("operators.versioned", f"read_geomean_ms on {_L}; flat on {_D}"),
    "versioned.read_pruned_ms": ("operators.versioned", f"read_geomean_ms on {_L}; flat on {_D}"),
    "versioned.commit_p50_ms": ("operators.versioned", f"pass_s on {_L}"),
    "versioned.jobs_per_commit": ("operators.versioned", f"pass_s on {_L}"),
    "versioned.files_written": ("operators.versioned", f"pass_s on {_L}"),
    "versioned.files_rewritten_ratio": ("operators.versioned", f"pass_s on {_L}"),
    "versioned.manifest_bytes": ("operators.versioned", f"pass_s on {_L}"),
    "versioned.files_scanned_ratio": ("operators.versioned", f"read_geomean_ms on {_L}"),
    "versioned.write_amp": ("operators.versioned", f"pass_s on {_L}"),
    "versioned.space_amp": ("operators.versioned", f"read_geomean_ms on {_L}"),
    "trace.coverage": ("all", "none: least share of an op's wall time the layers' self times cover"),
    "trace.overhead_pct": ("all", "none: traced over untraced pass_s, in percent"),
}

_PYTHON_NODES = re.compile(
    r"\b(BatchEvalPython|ArrowEvalPython|MapInArrow|MapInPandas|"
    r"FlatMapGroupsInPandas|FlatMapCoGroupsInPandas|AggregateInPandas|"
    r"WindowInPandas|PythonMapInArrow|BatchEvalPythonUDTF|ArrowEvalPythonUDTF)\b"
)
_NESTED_LOOP = re.compile(r"\b(BroadcastNestedLoopJoin|CartesianProduct)\b")
_EXCHANGE = re.compile(r"\b(Exchange|BroadcastExchange)\b")


class Tracer:
    """Span recorder; every method is a no-op when ``enabled`` is false."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self._local = threading.local()
        self._main_stack: list[int] = []
        self._lock = threading.Lock()

    def _stack(self) -> list[int]:
        if threading.current_thread() is threading.main_thread():
            return self._main_stack
        st = getattr(self._local, "stack", None)
        if st is None:
            st = self._local.stack = []
        return st

    def span(self, name: str, **attrs):
        if not self.enabled:
            return contextlib.nullcontext({})
        return self._span(name, attrs)

    @contextlib.contextmanager
    def _span(self, name: str, attrs: dict):
        stack = self._stack()
        # A span opened on a driver thread hangs under whatever the main
        # thread is inside: the query build that started the thread.
        parent = stack[-1] if stack else (
            self._main_stack[-1] if self._main_stack else None
        )
        rec = {"name": name, "parent": parent, "t0": time.time(), "t1": None}
        rec.update(attrs)
        with self._lock:
            rec["id"] = len(self.spans)
            self.spans.append(rec)
        stack.append(rec["id"])
        try:
            yield rec
        finally:
            rec["t1"] = time.time()
            stack.pop()

    def wrap(self, name: str, fn):
        """``fn`` with every call recorded as a span named ``name``."""

        def traced(*args, **kwargs):
            with self.span(name):
                return fn(*args, **kwargs)

        return traced


def plan_counters(df) -> dict:
    """Force the physical plan of ``df`` and read its planning phases."""
    qe = df._jdf.queryExecution()
    text = qe.executedPlan().toString()
    phases = qe.tracker().phases()
    out = {}
    for phase in ("analysis", "optimization", "planning"):
        out[f"plan.{phase}_ms"] = (
            phases.apply(phase).durationMs() if phases.contains(phase) else 0
        )
    out["plan.exchanges"] = len(_EXCHANGE.findall(text))
    out["plan.python_nodes"] = len(_PYTHON_NODES.findall(text))
    out["plan.nested_loop_joins"] = len(_NESTED_LOOP.findall(text))
    return out


def event_log_conf(log_dir: str) -> dict[str, str]:
    return {
        "spark.eventLog.enabled": "true",
        "spark.eventLog.dir": "file://" + os.path.abspath(log_dir),
        "spark.eventLog.compress": "false",
    }


def read_event_log(log_dir: str) -> tuple[list[dict], dict[int, list[dict]]]:
    """Jobs (id, submission time in s, stage ids) and, per stage id, the
    metrics of its finished tasks, from every event log under
    ``log_dir``. Call after the session has stopped so the log is
    complete."""
    jobs: list[dict] = []
    tasks: dict[int, list[dict]] = defaultdict(list)
    paths = [
        p for p in glob.glob(os.path.join(log_dir, "**", "*"), recursive=True)
        if os.path.isfile(p) and not p.endswith(".crc")
    ]
    for path in sorted(paths):
        with open(path) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    jobs.append({
                        "id": ev["Job ID"],
                        "t": ev["Submission Time"] / 1000.0,
                        "stages": ev["Stage IDs"],
                    })
                elif kind == "SparkListenerTaskEnd":
                    info, m = ev["Task Info"], ev.get("Task Metrics") or {}
                    sr = m.get("Shuffle Read Metrics") or {}
                    sw = m.get("Shuffle Write Metrics") or {}
                    tasks[ev["Stage ID"]].append({
                        "busy_ms": info["Finish Time"] - info["Launch Time"],
                        "cpu_ms": m.get("Executor CPU Time", 0) / 1e6,
                        "gc_ms": m.get("JVM GC Time", 0),
                        "spill": m.get("Disk Bytes Spilled", 0)
                        + m.get("Memory Bytes Spilled", 0),
                        "sh_read": sr.get("Remote Bytes Read", 0)
                        + sr.get("Local Bytes Read", 0),
                        "sh_write": sw.get("Shuffle Bytes Written", 0),
                    })
    return jobs, tasks


def assign_jobs(spans: list[dict], jobs: list[dict]) -> None:
    """Give each job to the innermost span whose interval holds its
    submission; the span's ``jobs`` list collects them."""
    for s in spans:
        s["jobs"] = []
    ordered = sorted(spans, key=lambda s: s["t0"])
    for job in jobs:
        owner = None
        for s in ordered:
            if s["t0"] > job["t"]:
                break
            if s["t1"] is not None and job["t"] <= s["t1"]:
                owner = s  # later start = nested deeper
        if owner is not None:
            owner["jobs"].append(job)


def _union_ms(intervals: list[tuple[float, float]]) -> float:
    total, end = 0.0, float("-inf")
    for a, b in sorted(intervals):
        if b <= end:
            continue
        total += b - max(a, end)
        end = b
    return total * 1000.0


def self_ms(span: dict, children: list[dict]) -> float:
    """Span duration minus the part of it its children cover."""
    lo, hi = span["t0"], span["t1"]
    covered = _union_ms(
        [(max(c["t0"], lo), min(c["t1"], hi)) for c in children if c["t1"] > lo and c["t0"] < hi]
    )
    return (hi - lo) * 1000.0 - covered


def exec_counters(jobs: list[dict], tasks: dict[int, list[dict]], wall_ms: float, cores: int) -> dict:
    stages = [s for j in jobs for s in j["stages"] if tasks.get(s)]
    ts = [t for s in stages for t in tasks[s]]
    busy = sum(t["busy_ms"] for t in ts)
    cpu = sum(t["cpu_ms"] for t in ts)
    skew = 1.0
    for s in stages:
        d = sorted(t["busy_ms"] for t in tasks[s])
        if len(d) > 1:
            skew = max(skew, d[-1] / max(d[len(d) // 2], 1.0))
    return {
        "exec.ms": wall_ms,
        "exec.jobs": len(jobs),
        "exec.stages": len(stages),
        "exec.tasks": len(ts),
        "exec.task_busy_ms": busy,
        "exec.task_cpu_ms": cpu,
        "exec.offcpu_ms": max(busy - cpu, 0.0),
        "exec.gc_ms": sum(t["gc_ms"] for t in ts),
        "exec.shuffle_read_bytes": sum(t["sh_read"] for t in ts),
        "exec.shuffle_write_bytes": sum(t["sh_write"] for t in ts),
        "exec.spill_bytes": sum(t["spill"] for t in ts),
        "exec.task_skew": skew,
        "exec.slot_util": busy / max(wall_ms * cores, 1.0),
    }
