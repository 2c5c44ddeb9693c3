"""Tracing for the per-layer run: in-memory spans and a Spark event-log parser.

Spans are recorded from the benchmark's own files, around calls into the
program's public functions (``Tracer.wrap`` swaps a module attribute for a
timing wrapper and puts it back on ``close``); nothing inside the program is
edited. Spark executes lazily, so a wrapper around a function that only
builds a plan times the plan building; the work itself is attributed from the
event log, per stage.

The event-log parser duplicates, as a function, the inline accounting in
``scripts/scaling_forensics.py``; folding that script onto this parser is
left to a later change.
"""

from __future__ import annotations

import contextlib
import functools
import glob
import itertools
import json
import os
import time


class Tracer:
    """Spans (name, start, end, parent, job) kept in memory; ``write`` dumps
    them as JSON lines when the run ends. Times are ``time.time()`` seconds,
    the clock the Spark event log uses (in milliseconds)."""

    def __init__(self) -> None:
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self._ids = itertools.count()
        self._patches: list[tuple[object, str, object]] = []
        self.job: str | None = None

    @contextlib.contextmanager
    def span(self, name: str, **attrs):
        sid = next(self._ids)
        rec = {"id": sid, "name": name, "start": time.time(), "end": None,
               "parent": self._stack[-1] if self._stack else None,
               "job": self.job, **attrs}
        self.spans.append(rec)
        self._stack.append(sid)
        try:
            yield rec
        finally:
            self._stack.pop()
            rec["end"] = time.time()

    def wrap(self, owner: object, attr: str, name: str) -> None:
        """Replace ``owner.attr`` (a module function or a class method) with
        a wrapper that records a span per call."""
        fn = getattr(owner, attr)

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            with self.span(name):
                return fn(*args, **kwargs)

        self._patches.append((owner, attr, fn))
        setattr(owner, attr, traced)

    def close(self) -> None:
        for owner, attr, fn in reversed(self._patches):
            setattr(owner, attr, fn)
        self._patches.clear()

    def find(self, name: str, job: str | None = None) -> list[dict]:
        return [s for s in self.spans if s["name"] == name
                and s["end"] is not None and (job is None or s["job"] == job)]

    def total(self, name: str) -> float:
        return sum(s["end"] - s["start"] for s in self.find(name))

    def write(self, path: str) -> None:
        os.makedirs(os.path.dirname(path) or ".", exist_ok=True)
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps(s) + "\n")


# ---------------------------------------------------------------------------
# Spark event log
# ---------------------------------------------------------------------------

def _new_stage() -> dict:
    return {"tasks": 0, "run_ms": 0, "cpu_ms": 0.0, "gc_ms": 0,
            "shuffle_write_bytes": 0, "shuffle_write_records": 0,
            "shuffle_read_bytes": 0, "shuffle_read_records": 0,
            "spill_bytes": 0, "task_ms": [], "scopes": set(), "parents": [],
            "rdds": set(),
            "submit_ms": None, "complete_ms": None}


def parse_event_log(paths: list[str]) -> dict:
    """Per-stage and per-job totals from Spark event-log files.

    Returns {"stages": {stage_id: totals}, "jobs": {job_id: {"submit_ms",
    "complete_ms", "stages"}}}. Stage totals: task count, executor run time,
    CPU time (ms), JVM GC time, shuffle bytes/records written and read,
    spill (memory + disk) bytes, each task's run time (``task_ms``), the
    names of the plan operators the stage's RDDs came from (``scopes``, e.g.
    ``MapInPandas``, ``WriteFiles``, ``Exchange``), the stages whose shuffle
    output it reads (``parents``), its RDD ids (``rdds``) and its
    submit/complete times (ms)."""
    stages: dict[int, dict] = {}
    jobs: dict[int, dict] = {}
    for path in paths:
        with open(path) as f:
            for line in f:
                try:
                    e = json.loads(line)
                except json.JSONDecodeError:
                    continue  # a line still being written by a live session
                kind = e["Event"]
                if kind == "SparkListenerJobStart":
                    jobs[e["Job ID"]] = {
                        "submit_ms": e["Submission Time"],
                        "complete_ms": None,
                        "stages": [s["Stage ID"] for s in e["Stage Infos"]],
                    }
                    # stages listed here but skipped (their shuffle output
                    # already exists) are never submitted: keep their RDDs
                    # so a reader can find the stage that did run them
                    for info in e["Stage Infos"]:
                        s = stages.setdefault(info["Stage ID"], _new_stage())
                        s["parents"] = info.get("Parent IDs", [])
                        s["rdds"].update(r["RDD ID"]
                                         for r in info.get("RDD Info", []))
                elif kind == "SparkListenerJobEnd":
                    if e["Job ID"] in jobs:
                        jobs[e["Job ID"]]["complete_ms"] = e["Completion Time"]
                elif kind in ("SparkListenerStageSubmitted",
                              "SparkListenerStageCompleted"):
                    info = e["Stage Info"]
                    s = stages.setdefault(info["Stage ID"], _new_stage())
                    s["parents"] = info.get("Parent IDs", [])
                    for rdd in info.get("RDD Info", []):
                        scope = rdd.get("Scope")
                        if scope:
                            s["scopes"].add(json.loads(scope)["name"])
                    if info.get("Submission Time") is not None:
                        s["submit_ms"] = info["Submission Time"]
                    if info.get("Completion Time") is not None:
                        s["complete_ms"] = info["Completion Time"]
                elif kind == "SparkListenerTaskEnd":
                    m = e.get("Task Metrics") or {}
                    s = stages.setdefault(e["Stage ID"], _new_stage())
                    w = m.get("Shuffle Write Metrics") or {}
                    r = m.get("Shuffle Read Metrics") or {}
                    s["tasks"] += 1
                    s["run_ms"] += m.get("Executor Run Time", 0)
                    s["cpu_ms"] += m.get("Executor CPU Time", 0) / 1e6
                    s["gc_ms"] += m.get("JVM GC Time", 0)
                    s["shuffle_write_bytes"] += w.get("Shuffle Bytes Written", 0)
                    s["shuffle_write_records"] += w.get(
                        "Shuffle Records Written", 0)
                    s["shuffle_read_bytes"] += (
                        r.get("Remote Bytes Read", 0)
                        + r.get("Local Bytes Read", 0))
                    s["shuffle_read_records"] += r.get("Total Records Read", 0)
                    s["spill_bytes"] += (m.get("Memory Bytes Spilled", 0)
                                         + m.get("Disk Bytes Spilled", 0))
                    s["task_ms"].append(m.get("Executor Run Time", 0))
    return {"stages": stages, "jobs": jobs}


def event_log_files(log_dir: str) -> list[str]:
    """Event-log files under ``log_dir`` (flat files, or Spark's rolling
    ``eventlog_v2_*/events_*`` layout), skipping in-progress markers."""
    return sorted(p for p in glob.glob(os.path.join(log_dir, "**"),
                                       recursive=True)
                  if os.path.isfile(p)
                  and "appstatus" not in os.path.basename(p))


def window(log: dict, start_s: float, end_s: float) -> dict:
    """The part of a parsed log whose jobs were submitted in [start_s,
    end_s] (``time.time()`` seconds): {"jobs": {id: job}, "stages": {id:
    stage}}, the stages being every stage those jobs list, skipped ones
    (no tasks) included."""
    lo, hi = start_s * 1000.0, end_s * 1000.0
    jobs = {j: v for j, v in log["jobs"].items() if lo <= v["submit_ms"] <= hi}
    ids = {sid for v in jobs.values() for sid in v["stages"]}
    stages = {sid: s for sid, s in log["stages"].items() if sid in ids}
    return {"jobs": jobs, "stages": stages}


def producers(part: dict, stage: dict) -> list[dict]:
    """The stages of ``part`` that ran and wrote the shuffle output ``stage``
    reads. Under adaptive execution a parent is often listed as skipped in
    the consuming job, having run in an earlier job: it is matched to the
    stage that ran by shared RDD ids."""
    want = set()
    for p in stage["parents"]:
        if p in part["stages"]:
            want |= part["stages"][p]["rdds"]
    return [s for s in part["stages"].values()
            if s["tasks"] and s is not stage and s["rdds"] & want]


def totals(part: dict) -> dict:
    st = part["stages"].values()
    return {
        "jobs": len(part["jobs"]),
        "tasks": sum(s["tasks"] for s in st),
        "run_s": sum(s["run_ms"] for s in st) / 1000.0,
        "cpu_s": sum(s["cpu_ms"] for s in st) / 1000.0,
        "gc_s": sum(s["gc_ms"] for s in st) / 1000.0,
        "shuffle_write_bytes": sum(s["shuffle_write_bytes"] for s in st),
        "spill_bytes": sum(s["spill_bytes"] for s in st),
    }


def stages_with(part: dict, scope: str) -> list[dict]:
    """Stages of ``part`` whose plan operators include ``scope``."""
    return [s for _, s in sorted(part["stages"].items())
            if s["tasks"] and any(scope in name for name in s["scopes"])]


class EventLog:
    """A Spark event-log directory, re-read on each query. Spark flushes the
    log at every job end, so the jobs of a finished span are complete."""

    def __init__(self, log_dir: str) -> None:
        self.dir = log_dir

    def part(self, span: dict) -> dict:
        log = parse_event_log(event_log_files(self.dir))
        return window(log, span["start"], span["end"])

    def after_job(self, span: dict, n_cores: int) -> dict:
        """The ``spark.*`` metrics of the jobs submitted inside ``span``, and
        ``pipeline.idle_frac``: the share of the span's core-time (wall x
        cores) that no task was running."""
        t = totals(self.part(span))
        wall = span["end"] - span["start"]
        return {
            "spark.jobs": t["jobs"],
            "spark.tasks": t["tasks"],
            "spark.cpu_core_s": t["cpu_s"],
            "spark.gc_core_s": t["gc_s"],
            "spark.shuffle_write_bytes": t["shuffle_write_bytes"],
            "spark.spill_bytes": t["spill_bytes"],
            "pipeline.idle_frac": max(0.0, 1.0 - t["run_s"] / (wall * n_cores)),
        }
