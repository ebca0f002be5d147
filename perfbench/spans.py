"""Spans recorded from outside the engine, at its public function boundaries.

``Tracer.install`` wraps the engine functions listed in ``TRACED`` wherever a
loaded ``docetl_spark`` module binds them (``cdc.replay`` binds
``merge_apply`` at import while ``_replay_mor_pipelined`` imports it from
``cdc.merge`` at call time, so both bindings are replaced; modules imported
later bind the wrapper), plus the ``LakeTable`` methods in
``TRACED_METHODS``. Lazy read functions are traced
by the workload around call + materialization (``Tracer.span``).

A span is {id, name, start, end, parent, thread, batch}. Spans stay in
memory and are written out when the run ends. A span opened on a thread
with no open span of its own (the depth-2 prepare pool, the streaming
callback thread) gets the outermost open span of the main thread as
parent. Self time is a span's duration minus the union of its children's
intervals.
"""

from __future__ import annotations

import functools
import itertools
import json
import os
import sys
import threading
import time
from contextlib import contextmanager

# (module, function) pairs whose every binding inside docetl_spark is wrapped
TRACED = [
    ("docetl_spark.cdc.replay", "replay_events"),
    ("docetl_spark.cdc.replay", "compact_state"),
    ("docetl_spark.cdc.merge", "merge_apply"),
    ("docetl_spark.cdc.merge", "prepare_mor_merge"),
    ("docetl_spark.cdc.merge", "commit_prepared_merge"),
    ("docetl_spark.cdc.merge", "compute_batch_stats"),
    ("docetl_spark.cdc.changes", "plan_changes"),
]
TRACED_METHODS = ["write_bucket_files", "read_buckets", "commit", "snapshot", "compact"]


def _batch_of(name: str, args: tuple, kwargs: dict):
    """Batch id of a merge-layer call, when the call carries one."""
    if "batch_id" in kwargs:
        return kwargs["batch_id"]
    if name.endswith(("merge_apply", "prepare_mor_merge")) and len(args) > 3:
        return args[3]
    if name.endswith("compute_batch_stats") and len(args) > 2:
        return args[2]
    if name.endswith("commit_prepared_merge") and len(args) > 1:
        return getattr(args[1], "batch_id", None)
    return None


class Tracer:
    def __init__(self):
        self.spans: list[dict] = []
        self.active = False
        self.merge_metrics: list = []  # MergeMetrics returned by replay_events
        self.files_written = 0
        self.bytes_written = 0
        self.conflicts = 0
        self.prepared_published = 0
        self._ids = itertools.count(1)
        self._lock = threading.Lock()
        self._stacks: dict[int, list[int]] = {}
        self._main = threading.get_ident()
        self._undo: list[tuple[object, str, object]] = []

    # -- recording -------------------------------------------------------

    def _open(self, name: str, batch=None) -> dict:
        tid = threading.get_ident()
        with self._lock:
            stack = self._stacks.setdefault(tid, [])
            if stack:
                parent = stack[-1]
            else:
                main = self._stacks.get(self._main) or []
                parent = main[0] if main and tid != self._main else None
            sp = {"id": next(self._ids), "name": name, "start": time.perf_counter(), "end": None,
                  "parent": parent, "thread": tid, "batch": batch}
            stack.append(sp["id"])
        return sp

    def _close(self, sp: dict) -> None:
        sp["end"] = time.perf_counter()
        with self._lock:
            self._stacks[sp["thread"]].pop()
            self.spans.append(sp)

    @contextmanager
    def span(self, name: str, batch=None):
        if not self.active:
            yield
            return
        sp = self._open(name, batch)
        try:
            yield
        finally:
            self._close(sp)

    def _wrap(self, name: str, fn):
        tracer = self

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            if not tracer.active:
                return fn(*args, **kwargs)
            sp = tracer._open(name, _batch_of(name, args, kwargs))
            try:
                out = fn(*args, **kwargs)
            except Exception as e:
                if type(e).__name__ == "CommitConflict":
                    tracer.conflicts += 1
                raise
            finally:
                tracer._close(sp)
            tracer._after(name, args, out)
            return out

        traced.__wrapped_by_tracer__ = True
        return traced

    def _after(self, name: str, args: tuple, out) -> None:
        """Counts taken from return values, outside the span's interval."""
        if name == "lake.table.write_bucket_files":
            root = args[0].path
            for fl in out.values():
                for f in fl:
                    self.files_written += 1
                    self.bytes_written += os.path.getsize(os.path.join(root, f))
        elif name == "cdc.merge.commit_prepared_merge":
            self.prepared_published += out is not None and not out.skipped
        elif name == "cdc.replay.replay_events":
            self.merge_metrics.extend(m for m in out if not m.skipped)

    # -- install / uninstall ---------------------------------------------

    def install(self) -> None:
        import importlib

        from docetl_spark.lake.table import LakeTable

        for modname, attr in TRACED:
            orig = getattr(importlib.import_module(modname), attr)
            wrapper = self._wrap(f"{modname.replace('docetl_spark.', '')}.{attr}", orig)
            for mname, mod in list(sys.modules.items()):
                if mname.startswith("docetl_spark") and getattr(mod, attr, None) is orig:
                    self._undo.append((mod, attr, orig))
                    setattr(mod, attr, wrapper)
        for meth in TRACED_METHODS:
            orig = getattr(LakeTable, meth)
            self._undo.append((LakeTable, meth, orig))
            setattr(LakeTable, meth, self._wrap(f"lake.table.{meth}", orig))

    def uninstall(self) -> None:
        for obj, attr, orig in reversed(self._undo):
            setattr(obj, attr, orig)
        self._undo.clear()

    # -- analysis --------------------------------------------------------

    def self_times(self) -> dict[int, float]:
        """Span id -> duration minus the union of its children's intervals."""
        kids: dict[int, list[tuple[float, float]]] = {}
        for sp in self.spans:
            if sp["parent"] is not None:
                kids.setdefault(sp["parent"], []).append((sp["start"], sp["end"]))
        out = {}
        for sp in self.spans:
            covered = _union_len(kids.get(sp["id"], []), sp["start"], sp["end"])
            out[sp["id"]] = (sp["end"] - sp["start"]) - covered
        return out

    def by_name(self) -> dict[str, dict]:
        """name -> {calls, busy_s (union of the name's intervals), self_s}."""
        selfs = self.self_times()
        groups: dict[str, list[dict]] = {}
        for sp in self.spans:
            groups.setdefault(sp["name"], []).append(sp)
        out = {}
        for name, sps in groups.items():
            out[name] = {
                "calls": len(sps),
                "busy_s": _union_len([(s["start"], s["end"]) for s in sps], float("-inf"), float("inf")),
                "self_s": sum(selfs[s["id"]] for s in sps),
            }
        return out

    def commit_path(self, root_name: str = "cdc.replay.replay_events") -> tuple[float, float]:
        """Blocking-path accounting of the longest ``root_name`` span.

        Each instant of the root's interval is charged to the deepest span
        the main thread is inside; while it sits in the root itself it is
        waiting on the oldest in-flight pool span (the next prepare to
        commit), and is charged to that. Returns (wall, charged to spans
        below the root): the share the traced layers account for."""
        roots = [s for s in self.spans if s["name"] == root_name and s["thread"] == self._main]
        if not roots:
            return 0.0, 0.0
        root = max(roots, key=lambda s: s["end"] - s["start"])
        inside = [s for s in self.spans if s is not root and s["start"] >= root["start"]
                  and s["end"] <= root["end"]]
        main = [(s["start"], s["end"]) for s in inside if s["thread"] == self._main]
        pool = sorted(((s["start"], s["end"]) for s in inside
                       if s["thread"] != self._main and s["parent"] == root["id"]))
        # instants the main thread spends in a child span, plus instants it
        # waits while a pool span runs; both are charged to traced layers
        charged = _union_len(main + pool, root["start"], root["end"])
        return root["end"] - root["start"], charged

    def dump(self, path: str) -> None:
        t0 = min((s["start"] for s in self.spans), default=0.0)
        with open(path, "w") as f:
            for s in sorted(self.spans, key=lambda s: s["start"]):
                f.write(json.dumps({**s, "start": s["start"] - t0, "end": s["end"] - t0}) + "\n")


def _union_len(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        s, e = max(s, lo), min(e, hi)
        if e <= s:
            continue
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


# -- Spark event log ------------------------------------------------------

SPARK_COUNTERS = ("jobs", "tasks", "shuffle_write_mb", "shuffle_read_mb", "spill_mb", "task_cpu_s", "gc_s")


def spark_counters(event_log_dir: str, phases: list[tuple[float, float, str]]) -> dict[str, dict]:
    """Sum task metrics per workload phase from the event log.

    ``phases`` are (start, end, name) in epoch seconds; a job belongs to the
    phase its submission time falls in, a task to its stage's job."""
    out = {name: dict.fromkeys(SPARK_COUNTERS, 0.0) for _, _, name in phases}
    stage_phase: dict[int, str] = {}

    def phase_of(t_ms: float):
        t = t_ms / 1000.0
        for s, e, name in phases:
            if s <= t <= e:
                return name
        return None

    logs = [os.path.join(d, f) for d, _, fs in os.walk(event_log_dir) for f in fs
             if not f.startswith(".")]
    for path in logs:
        with open(path) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    ph = phase_of(ev["Submission Time"])
                    if ph is None:
                        continue
                    out[ph]["jobs"] += 1
                    for sid in ev.get("Stage IDs", []):
                        stage_phase[sid] = ph
                elif kind == "SparkListenerTaskEnd":
                    ph = stage_phase.get(ev["Stage ID"])
                    tm = ev.get("Task Metrics")
                    if ph is None or not tm:
                        continue
                    c = out[ph]
                    c["tasks"] += 1
                    c["task_cpu_s"] += tm.get("Executor CPU Time", 0) / 1e9
                    c["gc_s"] += tm.get("JVM GC Time", 0) / 1e3
                    c["spill_mb"] += (tm.get("Memory Bytes Spilled", 0) + tm.get("Disk Bytes Spilled", 0)) / 2**20
                    sr = tm.get("Shuffle Read Metrics", {})
                    c["shuffle_read_mb"] += (sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)) / 2**20
                    c["shuffle_write_mb"] += tm.get("Shuffle Write Metrics", {}).get("Shuffle Bytes Written", 0) / 2**20
    return out
