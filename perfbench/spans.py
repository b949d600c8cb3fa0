"""Spans recorded around calls into the program, and per-layer counters
read from Spark's own event log.

A span is (name, start, end, parent, op id). Spark jobs are attributed
to the innermost span that covers their submit time; job-group tags
would miss jobs that the pipelines submit from their own thread pools.
"""

from __future__ import annotations

import glob
import json
import os
import time
from contextlib import contextmanager
from dataclasses import dataclass

#: layers the benchmark times from outside, around public calls
LAYERS = ("plans.bronze", "plans.silver", "plans.gold", "plans.quality",
          "plans.forecasting", "plans.crawl", "plans.corpus",
          "queries.build", "queries.exec", "api.sql")
#: counters reported for every layer: (suffix, unit, better)
LAYER_FIELDS = (("busy_s", "s", "lower"), ("jobs", "count", "lower"),
                ("tasks", "count", "lower"), ("cpu_s", "s", "lower"),
                ("core_util", "ratio", "higher"), ("input_mb", "MB", "lower"),
                ("shuffle_mb", "MB", "lower"), ("output_mb", "MB", "lower"),
                ("rows_out", "rows", "higher"))


@dataclass
class Span:
    name: str
    start: float
    end: float
    parent: int | None
    op: int | None
    depth: int


class Tracer:
    """In-memory span recorder. Spans nest per call stack of the one
    benchmark client; jobs that a call submits from worker threads fall
    inside its span because the call joins its threads before returning."""

    def __init__(self) -> None:
        self.spans: list[Span] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str, op: int | None = None):
        parent = self._stack[-1] if self._stack else None
        if op is None and parent is not None:
            op = self.spans[parent].op
        idx = len(self.spans)
        self.spans.append(Span(name, time.time(), float("nan"), parent, op,
                               len(self._stack)))
        self._stack.append(idx)
        try:
            yield
        finally:
            self._stack.pop()
            self.spans[idx].end = time.time()


def enable_event_log(log_dir: str) -> str:
    """Launch configuration that turns on Spark's event log, plain JSON
    lines in one file: Spark 4 defaults to zstd and rolling files, and
    Python's standard library has no zstd reader."""
    os.makedirs(log_dir, exist_ok=True)
    return " ".join(f"--conf {k}={v}" for k, v in (
        ("spark.eventLog.enabled", "true"),
        ("spark.eventLog.dir", "file://" + os.path.abspath(log_dir)),
        ("spark.eventLog.compress", "false"),
        ("spark.eventLog.rolling.enabled", "false")))


def read_jobs(log_dir: str) -> list[dict]:
    """Jobs from the finished event log in ``log_dir``: submit time (s)
    plus summed task metrics over the job's stages."""
    paths = [p for p in glob.glob(os.path.join(log_dir, "*"))
             if not p.endswith(".inprogress")]
    if len(paths) != 1:
        raise RuntimeError(f"expected one finished event log, found {paths}")
    jobs: dict[int, dict] = {}
    stage_job: dict[int, int] = {}
    with open(paths[0]) as fh:
        for line in fh:
            ev = json.loads(line)
            kind = ev["Event"]
            if kind == "SparkListenerJobStart":
                jid = ev["Job ID"]
                jobs[jid] = {"job": jid, "submit": ev["Submission Time"] / 1e3,
                             "tasks": 0, "run_ms": 0, "cpu_ns": 0,
                             "input_b": 0, "shuffle_b": 0, "output_b": 0,
                             "rows_out": 0}
                for sid in ev["Stage IDs"]:
                    stage_job[sid] = jid
            elif kind == "SparkListenerTaskEnd":
                job = jobs.get(stage_job.get(ev["Stage ID"]))
                tm = ev.get("Task Metrics")
                if job is None or not tm:
                    continue
                job["tasks"] += 1
                job["run_ms"] += tm["Executor Run Time"]
                job["cpu_ns"] += tm["Executor CPU Time"]
                job["input_b"] += tm["Input Metrics"]["Bytes Read"]
                job["shuffle_b"] += tm["Shuffle Write Metrics"][
                    "Shuffle Bytes Written"]
                job["output_b"] += tm["Output Metrics"]["Bytes Written"]
                job["rows_out"] += tm["Output Metrics"]["Records Written"]
    return sorted(jobs.values(), key=lambda j: j["submit"])


def attribute(jobs: list[dict], spans: list[Span]) -> dict[int, int | None]:
    """Job id -> index of the innermost span covering its submit time
    (None when no span covers it). Raises when two spans of the same
    depth both cover a job, which would make the attribution ambiguous."""
    out: dict[int, int | None] = {}
    for job in jobs:
        t = job["submit"]
        cover = [i for i, s in enumerate(spans) if s.start <= t <= s.end]
        if not cover:
            out[job["job"]] = None
            continue
        deepest = max(spans[i].depth for i in cover)
        inner = [i for i in cover if spans[i].depth == deepest]
        if len(inner) != 1:
            raise RuntimeError(f"job {job['job']} falls in spans {inner}")
        out[job["job"]] = inner[0]
    return out


def layer_metrics(jobs: list[dict], spans: list[Span], owner: dict,
                  cores: int) -> dict[str, float]:
    """Per-layer counters summed over the measured op's spans."""
    out: dict[str, float] = {}
    for layer in LAYERS:
        idx = {i for i, s in enumerate(spans)
               if s.name == layer and s.op is not None}
        busy = sum(spans[i].end - spans[i].start for i in idx)
        mine = [j for j in jobs if owner.get(j["job"]) in idx]
        run_s = sum(j["run_ms"] for j in mine) / 1e3
        out.update({
            f"{layer}.busy_s": busy,
            f"{layer}.jobs": len(mine),
            f"{layer}.tasks": sum(j["tasks"] for j in mine),
            f"{layer}.cpu_s": sum(j["cpu_ns"] for j in mine) / 1e9,
            f"{layer}.core_util": run_s / (busy * cores) if busy else 0.0,
            f"{layer}.input_mb": sum(j["input_b"] for j in mine) / 1e6,
            f"{layer}.shuffle_mb": sum(j["shuffle_b"] for j in mine) / 1e6,
            f"{layer}.output_mb": sum(j["output_b"] for j in mine) / 1e6,
            f"{layer}.rows_out": sum(j["rows_out"] for j in mine),
        })
    return out
