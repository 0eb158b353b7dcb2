"""Spans around calls into the engine's layers, with Spark counters.

A traced call opens a root span in the benchmark and, while the tracer is
installed, every call into a patched layer function opens a child span.
Patching rebinds the attribute the caller looks up (a class method, or a
module-level name such as ``plans.task.merge_source``), so the engine
itself is unchanged. Each span runs its Spark jobs in its own job group;
after the call, the jobs, stages, tasks, shuffle bytes, input rows and
executor CPU of each group are read from ``sc.statusTracker()`` and the
status store, which work with the UI disabled.

A lazy function's span holds only its plan-building time: the job it feeds
runs later and is counted in the span that triggers it.
"""

from __future__ import annotations

import contextlib
import functools
import time
from typing import Any, Callable, Dict, List, Optional

COUNTERS = (
    "jobs", "stages", "tasks", "shuffle_read_bytes", "shuffle_write_bytes",
    "shuffle_read_records", "shuffle_write_records", "input_rows", "input_bytes",
    "output_bytes", "output_rows", "executor_cpu_s", "executor_run_s", "scan_cpu_s",
)


class Tracer:
    def __init__(self, spark) -> None:
        self.sc = spark.sparkContext
        self.spans: List[Dict[str, Any]] = []
        self._stack: List[Dict[str, Any]] = []
        self._next_id = 0
        self._patches: List[tuple] = []

    # -- spans ---------------------------------------------------------------
    @contextlib.contextmanager
    def span(self, name: str, **attrs: Any):
        sid = self._next_id
        self._next_id += 1
        parent = self._stack[-1] if self._stack else None
        rec: Dict[str, Any] = {
            "id": sid, "name": name, "parent": parent["id"] if parent else None,
            "group": f"perfbench-span-{sid}", "attrs": dict(attrs),
        }
        self.sc.setJobGroup(rec["group"], name)
        self._stack.append(rec)
        rec["start"] = time.perf_counter()
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()
            if parent is not None:
                self.sc.setJobGroup(parent["group"], parent["name"])
            else:
                self.sc._jsc.clearJobGroup()
            self.spans.append(rec)

    # -- patching ------------------------------------------------------------
    def patch(self, owner: Any, attr: str, name: str,
              after: Optional[Callable[[dict, tuple, Any], None]] = None) -> None:
        """Rebind ``owner.attr`` to open span ``name`` around each call;
        ``after(span, args, result)`` may add attributes to the span."""
        orig = getattr(owner, attr)

        @functools.wraps(orig)
        def traced(*args, **kwargs):
            with self.span(name) as rec:
                out = orig(*args, **kwargs)
                if after is not None:
                    after(rec, args, out)
                return out

        self.replace(owner, attr, traced)

    def replace(self, owner: Any, attr: str, value: Any) -> None:
        """Rebind ``owner.attr`` until :meth:`unpatch`."""
        self._patches.append((owner, attr, owner.__dict__.get(attr)))
        setattr(owner, attr, value)

    def unpatch(self) -> None:
        for owner, attr, orig in reversed(self._patches):
            if orig is None:
                delattr(owner, attr)
            else:
                setattr(owner, attr, orig)
        self._patches.clear()

    # -- counters ------------------------------------------------------------
    def collect(self, spans: List[Dict[str, Any]]) -> None:
        """Attach ``self`` counters (the span's own job group) and
        ``incl`` counters (self plus all descendants) to each span."""
        jsc = self.sc._jsc.sc()
        jsc.listenerBus().waitUntilEmpty()
        tracker = self.sc.statusTracker()
        store = jsc.statusStore()
        for rec in spans:
            c = dict.fromkeys(COUNTERS, 0)
            stages = []
            jobs = sorted(tracker.getJobIdsForGroup(rec["group"]))
            c["jobs"] = len(jobs)
            for job in jobs:
                info = tracker.getJobInfo(job)
                for sid in sorted(info.stageIds) if info is not None else ():
                    try:
                        sd = store.lastStageAttempt(sid)
                    except Exception:
                        continue
                    done = sd.numCompleteTasks()
                    if done == 0:  # skipped: its output was reused
                        continue
                    st = {
                        "job": job, "stage": sid, "tasks": done,
                        "shuffle_read_bytes": sd.shuffleReadBytes(),
                        "shuffle_write_bytes": sd.shuffleWriteBytes(),
                        "shuffle_read_records": sd.shuffleReadRecords(),
                        "shuffle_write_records": sd.shuffleWriteRecords(),
                        "input_rows": sd.inputRecords(),
                        "input_bytes": sd.inputBytes(),
                        "output_bytes": sd.outputBytes(),
                        "output_rows": sd.outputRecords(),
                        "executor_cpu_s": sd.executorCpuTime() / 1e9,
                        "executor_run_s": sd.executorRunTime() / 1e3,
                    }
                    stages.append(st)
                    c["stages"] += 1
                    for k, v in st.items():
                        if k in c:
                            c[k] += v
                    if st["input_rows"] > 0:
                        c["scan_cpu_s"] += st["executor_cpu_s"]
            rec["self"] = c
            rec["stages"] = stages
        by_id = {r["id"]: r for r in spans}
        for rec in sorted(spans, key=lambda r: -r["id"]):  # children first
            rec.setdefault("incl", dict(rec["self"]))
            parent = by_id.get(rec["parent"])
            if parent is not None:
                acc = parent.setdefault("incl", dict(parent["self"]))
                for k in COUNTERS:
                    acc[k] += rec["incl"][k]


def self_time(rec: Dict[str, Any], spans: List[Dict[str, Any]]) -> float:
    """Span duration minus the time its direct children cover."""
    kids = sum(s["end"] - s["start"] for s in spans if s["parent"] == rec["id"])
    return (rec["end"] - rec["start"]) - kids
