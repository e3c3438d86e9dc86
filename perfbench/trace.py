"""Tracing for the benchmark's traced run.

Spans are recorded from the benchmark's own files: the traced run wraps
public functions of the package at runtime (and restores them afterwards),
keeps every span in memory, and writes them out once, next to the Spark
stages folded from the session's uncompressed event log. Jobs from the
event log become spans of the ``spark`` layer under the innermost program
span that covers them, so a layer's self time is the time it spent on the
driver outside Spark jobs and outside the layers it called.
"""

from __future__ import annotations

import functools
import glob
import json
import os
import statistics
import threading
import time


class Tracer:
    """In-memory span recorder with runtime function wrapping."""

    def __init__(self, spark=None):
        self.spark = spark
        self.spans: list[dict] = []
        self._lock = threading.Lock()
        self._local = threading.local()
        self._main = threading.main_thread()
        self._main_stack: list[int] = []
        self._patches: list[tuple] = []
        self._group: list[str] = []

    # -- spans ---------------------------------------------------------------

    def _stack(self) -> list[int]:
        if threading.current_thread() is self._main:
            return self._main_stack
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    def open(self, name: str, layer: str, **attrs) -> int:
        stack = self._stack()
        # a callback thread (streaming foreachBatch) works on behalf of the
        # main-thread call that is blocked waiting for it
        parent = stack[-1] if stack else (self._main_stack[-1] if self._main_stack else None)
        with self._lock:
            sid = len(self.spans)
            trace = self.spans[parent]["trace"] if parent is not None else sid
            self.spans.append(
                {
                    "id": sid, "name": name, "layer": layer, "parent": parent,
                    "trace": trace, "start": time.time(), "end": None,
                    "thread": threading.current_thread().name, "attrs": attrs,
                }
            )
        stack.append(sid)
        return sid

    def close(self, sid: int, **attrs) -> None:
        self.spans[sid]["end"] = time.time()
        self.spans[sid]["attrs"].update(attrs)
        stack = self._stack()
        if stack and stack[-1] == sid:
            stack.pop()

    # -- job groups ----------------------------------------------------------

    def push_group(self, group: str) -> None:
        if self.spark is not None:
            self.spark.sparkContext.setJobGroup(group, group)
        self._group.append(group)

    def pop_group(self) -> None:
        self._group.pop()
        if self.spark is not None:
            if self._group:
                self.spark.sparkContext.setJobGroup(self._group[-1], self._group[-1])
            else:
                self.spark.sparkContext.setLocalProperty("spark.jobGroup.id", None)
                self.spark.sparkContext.setLocalProperty("spark.job.description", None)

    def group(self) -> str:
        return self._group[-1] if self._group else ""

    # -- wrapping ------------------------------------------------------------

    def wrap(self, owner, attr: str, name: str, layer: str, on_call=None, on_result=None):
        """Replace ``owner.attr`` by a span-recording wrapper.

        ``on_call(args, kwargs) -> dict`` adds span attributes before the
        call (and may push a job group, returning ``{"_group": ...}``);
        ``on_result(args, result) -> dict`` adds attributes after it."""
        orig = owner.__dict__[attr] if isinstance(owner, type) else getattr(owner, attr)
        tracer = self

        @functools.wraps(orig)
        def wrapper(*args, **kwargs):
            attrs = on_call(args, kwargs) if on_call else {}
            group = attrs.pop("_group", None)
            if group is not None and threading.current_thread() is tracer._main:
                tracer.push_group(group)
            else:
                group = None
            sid = tracer.open(name, layer, **attrs)
            err = None
            try:
                result = orig(*args, **kwargs)
            except BaseException as e:
                err = type(e).__name__
                raise
            finally:
                tracer.close(sid, error=err)
                if group is not None:
                    tracer.pop_group()
            if on_result:
                tracer.spans[sid]["attrs"].update(on_result(args, result) or {})
            return result

        setattr(owner, attr, wrapper)
        self._patches.append((owner, attr, orig))

    def unwrap_all(self) -> None:
        for owner, attr, orig in reversed(self._patches):
            setattr(owner, attr, orig)
        self._patches.clear()

    # -- analysis ------------------------------------------------------------

    def add_job_spans(self, jobs: list[dict], root: int) -> None:
        """Attach each event-log job as a ``spark`` span under the deepest
        program span whose interval covers it (1 ms clock slack: the event
        log has millisecond timestamps)."""
        program = [s for s in self.spans if s["end"] is not None]

        def depth(s):
            d = 0
            while s["parent"] is not None:
                s = self.spans[s["parent"]]
                d += 1
            return d

        depths = {s["id"]: depth(s) for s in program}
        for j in jobs:
            st, en = j["start"], j["end"]
            best, best_d = root, -1
            for s in program:
                if s["start"] - 0.002 <= st and en <= s["end"] + 0.002 and depths[s["id"]] > best_d:
                    best, best_d = s["id"], depths[s["id"]]
            sid = len(self.spans)
            self.spans.append(
                {
                    "id": sid, "name": f"spark.job{j['job']}", "layer": "spark",
                    "parent": best, "trace": self.spans[best]["trace"],
                    "start": st, "end": en, "thread": "spark",
                    "attrs": {"group": j["group"], "stages": j["stages"]},
                }
            )

    def self_times(self) -> dict[int, float]:
        """Span duration minus the part of its interval its children cover."""
        kids: dict[int, list] = {}
        for s in self.spans:
            if s["parent"] is not None and s["end"] is not None:
                kids.setdefault(s["parent"], []).append((s["start"], s["end"]))
        out = {}
        for s in self.spans:
            if s["end"] is None:
                continue
            covered = _union_len(
                [(max(a, s["start"]), min(b, s["end"])) for a, b in kids.get(s["id"], [])]
            )
            out[s["id"]] = max(0.0, (s["end"] - s["start"]) - covered)
        return out

    def layer_self(self, within: int) -> dict[str, float]:
        """Self time per layer over the subtree rooted at ``within``. Spark
        runs some jobs concurrently, so the ``spark`` layer counts the union
        of its jobs' intervals under each parent, not their sum."""
        st = self.self_times()
        out: dict[str, float] = {}
        jobs: dict[int, list] = {}
        for s in self.spans:
            if s["id"] not in st or not self.in_subtree(s["id"], within):
                continue
            if s["layer"] == "spark":
                jobs.setdefault(s["parent"], []).append((s["start"], s["end"]))
            else:
                out[s["layer"]] = out.get(s["layer"], 0.0) + st[s["id"]]
        if jobs:
            out["spark"] = sum(_union_len(iv) for iv in jobs.values())
        return out

    def in_subtree(self, sid: int, root: int) -> bool:
        while sid is not None:
            if sid == root:
                return True
            sid = self.spans[sid]["parent"]
        return False

    def named(self, name: str, within: int | None = None) -> list[dict]:
        return [
            s for s in self.spans
            if s["name"] == name and s["end"] is not None
            and (within is None or self.in_subtree(s["id"], within))
        ]

    def bench_call(self, s: dict) -> str:
        """Name of the benchmark call (``bench`` span) a span ran under."""
        p = s["parent"]
        while p is not None and self.spans[p]["layer"] != "bench":
            p = self.spans[p]["parent"]
        return self.spans[p]["name"] if p is not None else ""

    def has_ancestor_layer(self, s: dict, layer: str) -> bool:
        p = s["parent"]
        while p is not None:
            if self.spans[p]["layer"] == layer:
                return True
            p = self.spans[p]["parent"]
        return False


def _union_len(intervals) -> float:
    total, cur_a, cur_b = 0.0, None, None
    for a, b in sorted(i for i in intervals if i[1] > i[0]):
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                total += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        total += cur_b - cur_a
    return total


# -- event log ---------------------------------------------------------------

def drain_listener_bus(spark) -> None:
    """Wait until every queued listener event reached the event log."""
    spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty(30_000)


def read_event_log(log_dir: str) -> list[dict]:
    # rolling layout: <log_dir>/eventlog_v2_<app>/events_<n>_<app>
    files = sorted(
        glob.glob(os.path.join(log_dir, "*", "events_*")),
        key=lambda p: int(os.path.basename(p).split("_")[1]),
    )
    events = []
    for path in files:
        with open(path) as f:
            for line in f:
                line = line.strip()
                if line:
                    try:
                        events.append(json.loads(line))
                    except json.JSONDecodeError:
                        pass  # a line still being written
    return events


def fold_event_log(events: list[dict], t_from: float, t_to: float) -> dict:
    """Jobs submitted in [t_from, t_to], their stages and task metrics."""
    jobs, stage_job, stage_scopes, stage_names = {}, {}, {}, {}
    for e in events:
        ev = e.get("Event")
        if ev == "SparkListenerJobStart":
            t = e["Submission Time"] / 1000.0
            if not (t_from - 0.002 <= t <= t_to + 0.002):
                continue
            props = e.get("Properties") or {}
            jobs[e["Job ID"]] = {
                "job": e["Job ID"], "start": t, "end": t,
                "group": props.get("spark.jobGroup.id") or "",
                "stages": list(e.get("Stage IDs", [])),
            }
            for s in e.get("Stage IDs", []):
                stage_job[s] = e["Job ID"]
        elif ev == "SparkListenerJobEnd" and e["Job ID"] in jobs:
            jobs[e["Job ID"]]["end"] = e["Completion Time"] / 1000.0
        elif ev in ("SparkListenerStageSubmitted", "SparkListenerStageCompleted"):
            si = e["Stage Info"]
            scopes = set()
            for r in si.get("RDD Info", []):
                try:
                    scopes.add(json.loads(r.get("Scope") or "{}").get("name", ""))
                except json.JSONDecodeError:
                    pass
            stage_scopes.setdefault(si["Stage ID"], set()).update(scopes)
            stage_names[si["Stage ID"]] = si.get("Stage Name", "")
    tasks = []
    for e in events:
        if e.get("Event") != "SparkListenerTaskEnd" or e.get("Stage ID") not in stage_job:
            continue
        info = e.get("Task Info", {})
        m = e.get("Task Metrics") or {}
        sr = m.get("Shuffle Read Metrics") or {}
        sw = m.get("Shuffle Write Metrics") or {}
        dur_ms = info.get("Finish Time", 0) - info.get("Launch Time", 0)
        run_ms = m.get("Executor Run Time", 0)
        tasks.append(
            {
                "stage": e["Stage ID"],
                "job": stage_job[e["Stage ID"]],
                "run_ms": run_ms,
                "duration_ms": dur_ms,
                "gc_ms": m.get("JVM GC Time", 0),
                "sched_delay_ms": max(
                    0,
                    dur_ms - run_ms - m.get("Executor Deserialize Time", 0)
                    - m.get("Result Serialization Time", 0),
                ),
                "shuffle_read": sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0),
                "shuffle_write": sw.get("Shuffle Bytes Written", 0),
                "spill": m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0),
            }
        )
    stages = {}
    for t in tasks:
        st = stages.setdefault(
            t["stage"],
            {
                "stage": t["stage"], "job": t["job"],
                "group": jobs[t["job"]]["group"],
                "name": stage_names.get(t["stage"], ""),
                "scopes": sorted(stage_scopes.get(t["stage"], ())),
                "task_ms": [], "shuffle_read": 0, "shuffle_write": 0,
            },
        )
        st["task_ms"].append(t["run_ms"])
        st["shuffle_read"] += t["shuffle_read"]
        st["shuffle_write"] += t["shuffle_write"]
    for st in stages.values():
        st["tasks"] = len(st["task_ms"])
        st["task_s"] = sum(st["task_ms"]) / 1000.0
        st["task_p50_ms"] = percentile(st["task_ms"], 50)
        st["task_p99_ms"] = percentile(st["task_ms"], 99)
        st["task_max_ms"] = max(st["task_ms"])
        del st["task_ms"]
    return {"jobs": sorted(jobs.values(), key=lambda j: j["job"]), "tasks": tasks, "stages": stages}


def spark_metrics(tasks: list[dict], n_jobs: int, n_stages: int) -> dict[str, float]:
    run = [t["run_ms"] for t in tasks]
    return {
        "spark.jobs": n_jobs,
        "spark.stages": n_stages,
        "spark.tasks": len(tasks),
        "spark.task_s": sum(run) / 1000.0,
        "spark.task_p50_ms": percentile(run, 50),
        "spark.task_p99_ms": percentile(run, 99),
        "spark.task_max_ms": max(run) if run else 0.0,
        "spark.shuffle_write_bytes": sum(t["shuffle_write"] for t in tasks),
        "spark.shuffle_read_bytes": sum(t["shuffle_read"] for t in tasks),
        "spark.spill_bytes": sum(t["spill"] for t in tasks),
        "spark.gc_s": sum(t["gc_ms"] for t in tasks) / 1000.0,
        "spark.scheduler_delay_s": sum(t["sched_delay_ms"] for t in tasks) / 1000.0,
    }


def percentile(values, q: float) -> float:
    """Nearest-rank percentile; 0 for an empty list."""
    if not values:
        return 0.0
    v = sorted(values)
    k = max(0, min(len(v) - 1, int(round(q / 100.0 * len(v) + 0.5)) - 1))
    return float(v[k])


def median(values) -> float:
    return float(statistics.median(values)) if values else 0.0


def tracker_phases(df) -> dict[str, float]:
    """Analysis/optimization/planning seconds of a DataFrame's
    QueryExecution, read from its QueryPlanningTracker."""
    out = {"analysis": 0.0, "optimization": 0.0, "planning": 0.0}
    try:
        phases = df._jdf.queryExecution().tracker().phases()
        it = phases.iterator()
        while it.hasNext():
            kv = it.next()
            if kv._1() in out:
                out[kv._1()] = kv._2().durationMs() / 1000.0
    except Exception:  # noqa: BLE001 - a missing tracker leaves the zeros
        pass
    return out
