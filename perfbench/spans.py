"""Benchmark spans and the Spark event-log rollup that prices them.

A span is (name, start, end) in wall-clock milliseconds, recorded by the
benchmark around one call into a layer. Spark's JSON event log (enabled with
`spark.eventLog.enabled` on the traced session) holds every job and task; a
job belongs to the span that was open when it was submitted, and a task to
the job that first listed its stage. Spans of one layer never overlap each
other (the traced replay runs the layers one at a time), so a layer's self
time is the summed duration of its spans.
"""

from __future__ import annotations

import contextlib
import glob
import json
import os
import statistics
import time
from dataclasses import dataclass, field


class Spans:
    def __init__(self):
        self.spans: list[tuple[str, float, float]] = []

    @contextlib.contextmanager
    def span(self, name: str):
        t0 = time.time() * 1000
        try:
            yield
        finally:
            self.spans.append((name, t0, time.time() * 1000))

    def self_s(self, name: str) -> float:
        return sum(e - s for n, s, e in self.spans if n == name) / 1000

    def owner(self, t_ms: float) -> str | None:
        """The span open at t_ms; the benchmark never nests spans."""
        return next((n for n, s, e in self.spans if s <= t_ms <= e), None)


@dataclass
class SpanStats:
    jobs: int = 0
    run_ms: int = 0
    cpu_ns: int = 0
    shuffle_write_b: int = 0
    spill_b: int = 0
    out_b: int = 0
    task_ms: list[int] = field(default_factory=list)
    call_sites: list[str] = field(default_factory=list)

    @property
    def udf_gap_s(self) -> float:
        """Executor run time not spent on the task thread's CPU: waiting on
        Python workers across the Arrow boundary, I/O and scheduling."""
        return self.run_ms / 1000 - self.cpu_ns / 1e9

    @property
    def task_skew(self) -> float:
        if not self.task_ms:
            return 0.0
        med = statistics.median(self.task_ms)
        return max(self.task_ms) / med if med > 0 else 1.0


def read_event_log(log_dir: str) -> list[dict]:
    """Every event of every application log under log_dir (plain JSON lines;
    the traced session disables compression and rolling)."""
    events: list[dict] = []
    for path in sorted(glob.glob(os.path.join(log_dir, "*"))):
        if os.path.isfile(path) and not os.path.basename(path).startswith("."):
            with open(path) as f:
                events.extend(json.loads(line) for line in f if line.strip())
    return events


def rollup(events: list[dict], spans: Spans) -> dict[str, SpanStats]:
    """Price each span: a job belongs to the span open at its submission."""
    return rollup_by(events, lambda job: spans.owner(job["Submission Time"]))


def rollup_batches(events: list[dict], spans: Spans, name: str) -> list[SpanStats]:
    """Price each micro-batch of the stream run inside span `name`: a job
    belongs to the batch whose id Spark put in its `streaming.sql.batchId`
    property. Returns one entry per batch, in batch order."""

    def owner(job: dict) -> str | None:
        bid = job.get("Properties", {}).get("streaming.sql.batchId")
        return bid if bid is not None and spans.owner(job["Submission Time"]) == name else None

    stats = rollup_by(events, owner)
    return [stats[k] for k in sorted(stats, key=int)]


def rollup_by(events: list[dict], owner) -> dict[str, SpanStats]:
    """Sum job and task metrics per owner(job-start event); a task belongs to
    the job that first listed its stage."""
    stats: dict[str, SpanStats] = {}
    stage_owner: dict[int, str] = {}
    for ev in events:
        if ev["Event"] != "SparkListenerJobStart":
            continue
        name = owner(ev)
        if name is None:
            continue
        st = stats.setdefault(name, SpanStats())
        st.jobs += 1
        st.call_sites.append(ev.get("Properties", {}).get("callSite.short") or "")
        for sid in ev["Stage IDs"]:
            stage_owner.setdefault(sid, name)
    for ev in events:
        if ev["Event"] != "SparkListenerTaskEnd" or ev["Stage ID"] not in stage_owner:
            continue
        m = ev.get("Task Metrics") or {}
        info = ev["Task Info"]
        st = stats[stage_owner[ev["Stage ID"]]]
        st.run_ms += m.get("Executor Run Time", 0)
        st.cpu_ns += m.get("Executor CPU Time", 0)
        st.shuffle_write_b += m.get("Shuffle Write Metrics", {}).get("Shuffle Bytes Written", 0)
        st.spill_b += m.get("Disk Bytes Spilled", 0)
        st.out_b += m.get("Output Metrics", {}).get("Bytes Written", 0)
        st.task_ms.append(info["Finish Time"] - info["Launch Time"])
    return stats
