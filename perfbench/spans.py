"""Traced run: spans around the engine's public entry points, and a
fold of Spark's own event log into per-span job/stage statistics.

Nothing inside the package is instrumented. ``Recorder.wrap`` replaces
a module or class attribute with a timing wrapper for the duration of
the traced phase and ``Recorder.unwrap`` restores it. Each span sets
two local properties (``perfbench.rid`` and ``perfbench.span``) on the
calling thread, so every Spark job that thread submits carries them in
its ``SparkListenerJobStart`` properties. Jobs submitted from the
engine's own pool threads carry no properties; the fold attributes
them to the innermost span open over their submission time when only
one request runs at a time, and counts them as unattributed otherwise.
"""

from __future__ import annotations

import functools
import itertools
import json
import os
import threading
import time
from contextlib import contextmanager

RID, SPAN = "perfbench.rid", "perfbench.span"


class Recorder:
    """In-memory span store; spans are plain dicts written out at exit."""

    def __init__(self, sc):
        self.sc = sc
        self.spans: list[dict] = []
        self._ids = itertools.count(1)
        self._local = threading.local()
        self._lock = threading.Lock()
        self._undo: list[tuple] = []

    def _stack(self) -> list[dict]:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    def _props(self, rid, name) -> None:
        self.sc.setLocalProperty(RID, rid)
        self.sc.setLocalProperty(SPAN, name)

    @contextmanager
    def span(self, name: str, rid: str | None = None):
        stack = self._stack()
        parent = stack[-1] if stack else None
        if rid is None and parent is not None:
            rid = parent["rid"]
        s = {"id": next(self._ids), "name": name, "rid": rid,
             "parent": parent["id"] if parent else None,
             "start": time.time(), "end": None}
        stack.append(s)
        self._props(rid, name)
        try:
            yield s
        finally:
            s["end"] = time.time()
            stack.pop()
            if stack:
                self._props(stack[-1]["rid"], stack[-1]["name"])
            else:
                self._props(None, None)
            with self._lock:
                self.spans.append(s)

    def wrap(self, owner, attr: str, name: str, on_result=None) -> None:
        """Time every call of ``owner.attr`` as a span called ``name``;
        ``on_result(span, args, result)`` may add counts to the span."""
        orig = getattr(owner, attr)

        @functools.wraps(orig)
        def traced(*args, **kwargs):
            with self.span(name) as s:
                out = orig(*args, **kwargs)
                if on_result is not None:
                    on_result(s, args, out)
                return out

        setattr(owner, attr, traced)
        self._undo.append((owner, attr, orig))

    def unwrap(self) -> None:
        while self._undo:
            owner, attr, orig = self._undo.pop()
            setattr(owner, attr, orig)


def self_times(spans: list[dict]) -> dict[int, float]:
    """Span duration minus the part of it covered by its child spans."""
    kids: dict[int, list[tuple[float, float]]] = {}
    for s in spans:
        if s["parent"] is not None:
            kids.setdefault(s["parent"], []).append((s["start"], s["end"]))
    return {s["id"]: (s["end"] - s["start"])
            - covered(kids.get(s["id"], []), s["start"], s["end"])
            for s in spans}


def covered(intervals, lo: float, hi: float) -> float:
    """Length of [lo, hi] covered by the union of intervals."""
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


# ---------------------------------------------------------------------------
# event log
# ---------------------------------------------------------------------------

_ACC = {
    "internal.metrics.executorRunTime": "executor_run_ms",
    "internal.metrics.executorCpuTime": "executor_cpu_ns",
    "internal.metrics.jvmGCTime": "gc_ms",
    "internal.metrics.resultSize": "result_bytes",
    "internal.metrics.memoryBytesSpilled": "spill_bytes",
    "internal.metrics.diskBytesSpilled": "spill_bytes",
    "internal.metrics.shuffle.read.remoteBytesRead": "shuffle_read_bytes",
    "internal.metrics.shuffle.read.localBytesRead": "shuffle_read_bytes",
    "internal.metrics.shuffle.write.bytesWritten": "shuffle_write_bytes",
}
STAGE_KEYS = ("tasks", "tasks_failed", "executor_run_ms", "executor_cpu_ns",
              "gc_ms", "result_bytes", "spill_bytes", "shuffle_read_bytes",
              "shuffle_write_bytes")


def read_event_log(log_dir: str) -> list[dict]:
    """Jobs from every uncompressed event log under ``log_dir``: one
    dict per job with submit/end times (epoch s), its properties and
    the summed metrics of the stages it ran."""
    jobs: dict[int, dict] = {}
    stage_job: dict[int, int] = {}
    stages: dict[int, dict] = {}
    failed: dict[int, int] = {}
    # Spark 4 rolls logs into eventlog_v2_<app>/events_<n>_<app> files
    # beside an empty appstatus marker and .crc side files
    files = sorted(os.path.join(d, f) for d, _, fs in os.walk(log_dir)
                   for f in fs if not f.startswith((".", "appstatus")))
    for path in files:
        with open(path) as fh:
            for line in fh:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    jid = ev["Job ID"]
                    jobs[jid] = {"job": jid,
                                 "start": ev["Submission Time"] / 1000,
                                 "end": None,
                                 "props": ev.get("Properties") or {},
                                 **{k: 0 for k in STAGE_KEYS}}
                    for sid in ev.get("Stage IDs", []):
                        stage_job.setdefault(sid, jid)
                elif kind == "SparkListenerJobEnd":
                    if ev["Job ID"] in jobs:
                        jobs[ev["Job ID"]]["end"] = ev["Completion Time"] / 1000
                elif kind == "SparkListenerStageCompleted":
                    info = ev["Stage Info"]
                    st = {k: 0 for k in STAGE_KEYS}
                    st["tasks"] = info.get("Number of Tasks", 0)
                    for acc in info.get("Accumulables", []):
                        key = _ACC.get(acc.get("Name"))
                        if key is not None:
                            st[key] += int(acc.get("Value") or 0)
                    stages[info["Stage ID"]] = st
                elif kind == "SparkListenerTaskEnd":
                    reason = (ev.get("Task End Reason") or {}).get("Reason")
                    if reason not in (None, "Success"):
                        failed[ev["Stage ID"]] = failed.get(ev["Stage ID"], 0) + 1
    for sid, st in stages.items():
        job = jobs.get(stage_job.get(sid))
        if job is None:
            continue
        st["tasks_failed"] = failed.get(sid, 0)
        for k in STAGE_KEYS:
            job[k] += st[k]
    out = [j for j in jobs.values() if j["end"] is not None]
    return sorted(out, key=lambda j: j["start"])


def attribute(jobs: list[dict], spans: list[dict],
              serial: list[tuple[float, float]]) -> None:
    """Set ``job["rid"]``/``job["span_id"]``: from the job's properties
    when its thread was inside a span, else, for a job submitted inside
    one of the ``serial`` windows (one request at a time), from the
    innermost span open at its submission time."""
    by_key: dict[tuple, list[dict]] = {}
    for s in spans:
        by_key.setdefault((s["rid"], s["name"]), []).append(s)
    ordered = sorted(spans, key=lambda s: s["start"])
    for j in jobs:
        j["rid"], j["span_id"] = None, None
        rid, name = j["props"].get(RID), j["props"].get(SPAN)
        if rid is not None and name is not None:
            cands = [s for s in by_key.get((rid, name), [])
                     if s["start"] - 0.05 <= j["start"] <= s["end"] + 0.05]
            if cands:
                best = max(cands, key=lambda s: s["start"])
                j["rid"], j["span_id"] = rid, best["id"]
                continue
        if any(lo <= j["start"] <= hi for lo, hi in serial):
            open_ = [s for s in ordered if s["start"] <= j["start"] <= s["end"]]
            if open_:
                best = max(open_, key=lambda s: s["start"])
                j["rid"], j["span_id"] = best["rid"], best["id"]
