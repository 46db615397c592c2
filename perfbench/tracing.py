"""Driver-side spans and Spark event-log stage metrics.

Spans wrap the benchmark's calls into each layer (and, in a traced run,
the layer calls ``make_geocube`` makes internally, by wrapping the
module attributes it looks up). Every span tags the Spark jobs it
triggers with ``setJobGroup``, so each stage in the event log can be
charged to the innermost span that caused it.
"""

from __future__ import annotations

import functools
import glob
import json
import os
import time
from contextlib import contextmanager


class Tracer:
    """Spans kept in memory: name, start, end, parent, run id, job."""

    def __init__(self, run_id: str):
        self.run_id = run_id
        self.enabled = False
        self.spans: list[dict] = []
        self.job = None          # index of the timed job being run
        self.sc = None
        self._stack: list[int] = []
        self._patched: list[tuple] = []

    def _set_group(self, sid):
        if self.sc is None:
            return
        if sid is None:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            self.sc.setLocalProperty("spark.job.description", None)
        else:
            self.sc.setJobGroup(f"pb-{sid}", self.spans[sid]["name"])

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        sid = len(self.spans)
        self.spans.append({
            "id": sid, "name": name, "run": self.run_id, "job": self.job,
            "parent": self._stack[-1] if self._stack else None,
            "start": time.perf_counter(), "end": None,
        })
        self._stack.append(sid)
        self._set_group(sid)
        try:
            yield
        finally:
            self.spans[sid]["end"] = time.perf_counter()
            self._stack.pop()
            self._set_group(self._stack[-1] if self._stack else None)

    def wrap(self, owner, attr: str, name: str) -> None:
        """Replace ``owner.attr`` by a wrapper that runs it in a span."""
        orig = getattr(owner, attr)

        @functools.wraps(orig)
        def traced(*args, **kwargs):
            with self.span(name):
                return orig(*args, **kwargs)

        setattr(owner, attr, traced)
        self._patched.append((owner, attr, orig))

    def unwrap_all(self) -> None:
        for owner, attr, orig in reversed(self._patched):
            setattr(owner, attr, orig)
        self._patched.clear()

    # -- derived numbers ---------------------------------------------------
    def durations(self, name: str) -> list[float]:
        return [s["end"] - s["start"] for s in self.spans
                if s["name"] == name]

    def self_times(self) -> dict:
        """Span-name -> summed self time (duration minus children)."""
        child = {}
        for s in self.spans:
            if s["parent"] is not None:
                child[s["parent"]] = (child.get(s["parent"], 0.0)
                                      + s["end"] - s["start"])
        out = {}
        for s in self.spans:
            own = s["end"] - s["start"] - child.get(s["id"], 0.0)
            out[s["name"]] = out.get(s["name"], 0.0) + own
        return out

    def top_level_time(self, job) -> float:
        return sum(s["end"] - s["start"] for s in self.spans
                   if s["job"] == job and s["parent"] is None)

    def layer_of_group(self, group: str | None):
        """(layer name, span record) for a ``pb-<id>`` job group."""
        if not group or not group.startswith("pb-"):
            return None, None
        s = self.spans[int(group[3:])]
        return s["name"].split(".", 1)[0], s

    def dump(self, path: str) -> None:
        with open(path, "w") as fh:
            json.dump({"run": self.run_id, "spans": self.spans}, fh)


# ---------------------------------------------------------------------------
# event log
# ---------------------------------------------------------------------------

# a task's Python-worker wall time; it includes the worker's start and
# initialization, which Spark also reports separately
_PY_TIMES = ("time to run Python workers",)


def read_stages(event_dir: str, app_id: str) -> list[dict]:
    """Per completed stage: job group, plan node names, task run times
    and the summed task metrics the per-layer numbers are built from."""
    files = sorted(
        glob.glob(os.path.join(event_dir, f"*{app_id}*", "events_*"))
        or glob.glob(os.path.join(event_dir, f"*{app_id}*")),
        key=lambda p: int(os.path.basename(p).split("_")[1])
        if os.path.basename(p).startswith("events_") else 0,
    )
    group_of_stage, stages, tasks = {}, {}, {}
    for path in files:
        if os.path.isdir(path):
            continue
        with open(path) as fh:
            for line in fh:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    g = (ev.get("Properties") or {}).get("spark.jobGroup.id")
                    for sid in ev.get("Stage IDs", []):
                        group_of_stage[sid] = g
                elif kind == "SparkListenerTaskEnd":
                    m = dict(ev.get("Task Metrics") or {})
                    # stage-level accumulables are running totals of the
                    # plan node; the task's own share is its "Update"
                    m["python_ms"] = sum(
                        float(a.get("Update") or 0)
                        for a in (ev.get("Task Info") or {})
                        .get("Accumulables", [])
                        if a.get("Name") in _PY_TIMES
                    )
                    tasks.setdefault(ev["Stage ID"], []).append(m)
                elif kind == "SparkListenerStageCompleted":
                    info = ev["Stage Info"]
                    scopes = set()
                    for r in info.get("RDD Info", []):
                        if r.get("Scope"):
                            scopes.add(json.loads(r["Scope"]).get("name", ""))
                    stages[info["Stage ID"]] = {
                        "stage": info["Stage ID"],
                        "scopes": sorted(scopes),
                        "wall_s": (info.get("Completion Time", 0)
                                   - info.get("Submission Time", 0)) / 1e3,
                    }
    out = []
    for sid, st in stages.items():
        ms = tasks.get(sid, [])
        run = [m.get("Executor Run Time", 0) / 1e3 for m in ms]
        sr = [m.get("Shuffle Read Metrics", {}) for m in ms]
        sw = [m.get("Shuffle Write Metrics", {}) for m in ms]
        st.update({
            "group": group_of_stage.get(sid),
            "task_run_s": run,
            "task_s": sum(run),
            "python_s": sum(m["python_ms"] for m in ms) / 1e3,
            "cpu_s": sum(m.get("Executor CPU Time", 0) for m in ms) / 1e9,
            "gc_s": sum(m.get("JVM GC Time", 0) for m in ms) / 1e3,
            "spill_bytes": sum(m.get("Disk Bytes Spilled", 0) for m in ms),
            "shuffle_read_bytes": sum(r.get("Local Bytes Read", 0)
                                      + r.get("Remote Bytes Read", 0)
                                      for r in sr),
            "shuffle_write_bytes": sum(w.get("Shuffle Bytes Written", 0)
                                       for w in sw),
            "input_records": sum((m.get("Input Metrics") or {})
                                 .get("Records Read", 0) for m in ms),
        })
        # a stage's plan scopes also name the nodes of cached parents, so
        # "Python ran here" is read from the task metrics, not the scopes
        st["python"] = st["python_s"] > 0
        out.append(st)
    return sorted(out, key=lambda s: s["stage"])
