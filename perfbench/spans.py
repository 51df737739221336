"""In-memory spans around calls into the program, and the Spark event log
hung under them.

A span records name, start, end, parent and run id (epoch seconds, the
clock the event log uses).  While a span is open its id is the Spark job
group, so each job the event log reports can be charged to the span whose
call started it; the job's stages and tasks follow the job.  Spans are kept
in memory and written out once, when the run ends.
"""
from __future__ import annotations

import contextlib
import functools
import glob
import json
import os
import statistics
import time

GROUP_PREFIX = "span-"
WRAPPERS = ("pass", "checkpoint_pass", "spark.collect")


class Tracer:
    def __init__(self, run_id: str, enabled: bool):
        self.run_id, self.enabled = run_id, enabled
        self.spans: list[dict] = []
        self.sc = None  # set once the session exists
        self._stack: list[int] = []
        self._patched: list[tuple[object, str, object]] = []

    @contextlib.contextmanager
    def span(self, name: str, **attrs):
        if not self.enabled:
            yield None
            return
        rec = {"id": len(self.spans), "name": name,
               "parent": self._stack[-1] if self._stack else None,
               "run": self.run_id, "start": time.time(), "end": None, **attrs}
        self.spans.append(rec)
        self._stack.append(rec["id"])
        self._set_group(rec["id"])
        try:
            yield rec
        finally:
            rec["end"] = time.time()
            self._stack.pop()
            self._set_group(self._stack[-1] if self._stack else None)

    def _set_group(self, sid: int | None) -> None:
        if self.sc is None:
            return
        if sid is None:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            self.sc.setLocalProperty("spark.job.description", None)
        else:
            self.sc.setJobGroup(f"{GROUP_PREFIX}{sid}", self.spans[sid]["name"])

    def wrap(self, owner, attr: str, name: str | None = None, attrs=None):
        """Replace ``owner.attr`` with a function that runs the original
        inside a span; ``attrs(args, kwargs, result)`` may add fields."""
        orig = getattr(owner, attr)
        label = name or attr

        @functools.wraps(orig)
        def traced(*args, **kwargs):
            with self.span(label) as rec:
                out = orig(*args, **kwargs)
                if rec is not None and attrs is not None:
                    rec.update(attrs(args, kwargs, out))
                return out

        setattr(owner, attr, traced)
        self._patched.append((owner, attr, orig))

    def unwrap_all(self) -> None:
        while self._patched:
            owner, attr, orig = self._patched.pop()
            setattr(owner, attr, orig)

    def children(self, sid: int) -> list[dict]:
        return [s for s in self.spans if s["parent"] == sid]

    def descendants(self, sid: int) -> list[dict]:
        out, todo = [], [sid]
        while todo:
            kids = self.children(todo.pop())
            out.extend(kids)
            todo.extend(k["id"] for k in kids)
        return out

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump(self.spans, f)


def _union_len(intervals: list[tuple[float, float]]) -> float:
    total, end = 0.0, float("-inf")
    for a, b in sorted(intervals):
        if b <= end:
            continue
        total += b - max(a, end)
        end = b
    return total


class EventLog:
    """Jobs, stages and tasks from a finished Spark event log directory."""

    def __init__(self, log_dir: str):
        self.jobs: dict[int, dict] = {}
        self.stages: dict[int, dict] = {}
        # Spark 4 writes one directory per application (eventlog_v2_*)
        # holding events_<n>_* files next to an empty appstatus marker
        files = sorted(glob.glob(os.path.join(log_dir, "*", "events_*")),
                       key=lambda p: int(os.path.basename(p).split("_")[1]))
        for path in files:
            with open(path) as f:
                for line in f:
                    self._event(json.loads(line))

    def _stage(self, sid: int) -> dict:
        return self.stages.setdefault(sid, {"tasks": [], "start": None,
                                            "end": None})

    def _event(self, ev: dict) -> None:
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            props = ev.get("Properties") or {}
            self.jobs[ev["Job ID"]] = {
                "group": props.get("spark.jobGroup.id"),
                "start": ev["Submission Time"] / 1000, "end": None,
                "stages": ev.get("Stage IDs", [])}
        elif kind == "SparkListenerJobEnd":
            if ev["Job ID"] in self.jobs:
                self.jobs[ev["Job ID"]]["end"] = ev["Completion Time"] / 1000
        elif kind == "SparkListenerStageCompleted":
            info = ev["Stage Info"]
            st = self._stage(info["Stage ID"])
            if info.get("Submission Time"):
                st["start"] = info["Submission Time"] / 1000
            if info.get("Completion Time"):
                st["end"] = info["Completion Time"] / 1000
        elif kind == "SparkListenerTaskEnd":
            info, m = ev["Task Info"], ev.get("Task Metrics") or {}
            sr = m.get("Shuffle Read Metrics") or {}
            sw = m.get("Shuffle Write Metrics") or {}
            self._stage(ev["Stage ID"])["tasks"].append({
                "failed": bool(info.get("Failed")),
                "run_s": m.get("Executor Run Time", 0) / 1000,
                "cpu_s": m.get("Executor CPU Time", 0) / 1e9,
                "gc_s": m.get("JVM GC Time", 0) / 1000,
                "shuffle_read": sr.get("Remote Bytes Read", 0)
                + sr.get("Local Bytes Read", 0),
                "shuffle_write": sw.get("Shuffle Bytes Written", 0),
                "spill": m.get("Memory Bytes Spilled", 0)
                + m.get("Disk Bytes Spilled", 0)})

    def jobs_of(self, span_ids: set[int]) -> list[dict]:
        groups = {f"{GROUP_PREFIX}{i}" for i in span_ids}
        return [j for j in self.jobs.values() if j["group"] in groups]

    def engine(self, span_ids: set[int]) -> dict:
        """Engine totals over the jobs the given spans started."""
        jobs = self.jobs_of(span_ids)
        stage_ids = {s for j in jobs for s in j["stages"]
                     if s in self.stages and self.stages[s]["tasks"]}
        tasks = [t for s in stage_ids for t in self.stages[s]["tasks"]]
        skew = 1.0
        if stage_ids:
            heavy = max(stage_ids, key=lambda s: sum(
                t["run_s"] for t in self.stages[s]["tasks"]))
            runs = [t["run_s"] for t in self.stages[heavy]["tasks"]]
            med = statistics.median(runs)
            skew = max(runs) / med if med > 0 else 1.0
        mb = 1 / (1024 * 1024)
        exchange = [(self.stages[s]["start"], self.stages[s]["end"])
                    for s in stage_ids
                    if self.stages[s]["start"] and self.stages[s]["end"]
                    and sum(t["shuffle_write"] for t in self.stages[s]["tasks"])]
        return {
            "jobs": len(jobs), "tasks": len(tasks),
            "task_failures": sum(t["failed"] for t in tasks),
            "task_s": sum(t["run_s"] for t in tasks),
            "cpu_s": sum(t["cpu_s"] for t in tasks),
            "gc_s": sum(t["gc_s"] for t in tasks),
            "shuffle_write_mb": sum(t["shuffle_write"] for t in tasks) * mb,
            "shuffle_read_mb": sum(t["shuffle_read"] for t in tasks) * mb,
            "spill_mb": sum(t["spill"] for t in tasks) * mb,
            "task_skew": skew,
            "exchange_s": _union_len(exchange),
        }

    def job_intervals(self, span_ids: set[int]) -> list[tuple[float, float]]:
        return [(j["start"], j["end"]) for j in self.jobs_of(span_ids)
                if j["end"] is not None]


def is_wrapper(name: str) -> bool:
    """Spans the benchmark opens around its own code: a pass, a query
    (registry call plus collect) and a result collect."""
    return name in WRAPPERS or name.startswith("query.")


def coverage(tracer: Tracer, log: EventLog, sid: int) -> float:
    """Share of span ``sid``'s wall time covered by the layer spans under
    it (calls into the program) and the Spark jobs started under it.  A
    wrapper span counts only through the layer spans and jobs inside it,
    so time that neither a layer nor a job accounts for lowers coverage."""
    root = tracer.spans[sid]
    sub = tracer.descendants(sid)
    iv = [(s["start"], s["end"]) for s in sub if not is_wrapper(s["name"])]
    iv += log.job_intervals({sid} | {s["id"] for s in sub})
    iv = [(max(a, root["start"]), min(b, root["end"])) for a, b in iv]
    iv = [(a, b) for a, b in iv if b > a]
    dur = root["end"] - root["start"]
    return _union_len(iv) / dur if dur > 0 else 0.0
