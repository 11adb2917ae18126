"""Spans around the benchmark's calls into the engine, and the
event-log fold that turns Spark's own counters into per-span numbers.

A span is opened by the benchmark around one call into a module's
public function (``load_config``, ``Pipeline.build_bronze``, a
registry query ...). Each span sets its own Spark job group, so the
jobs it submits on the calling thread carry the span's id in the
event log. Jobs submitted on other threads (a streaming query's
micro-batches, a query's helper threads) carry another group or none;
they belong to the innermost span whose wall interval contains their
submission time. Spans of one benchmark client run one after another,
so that rule is exact.

``fold`` reads ``SparkListenerJobStart``, ``SparkListenerJobEnd`` and
``SparkListenerTaskEnd`` events (the plain-JSON log written with
``spark.eventLog.compress=false`` and
``spark.eventLog.rolling.enabled=false``) and sums, per span: jobs,
tasks, executor run and CPU time, shuffle bytes written and output
bytes written. ``driver_s`` is the span's wall time minus the part of
it that its jobs cover.
"""

from __future__ import annotations

import contextlib
import json
import time
from collections import defaultdict
from dataclasses import dataclass, field

COUNTERS = ("jobs", "tasks", "executor_run_s", "executor_cpu_s",
            "shuffle_write_bytes", "output_bytes")
_EVENTS = ("SparkListenerJobStart", "SparkListenerJobEnd", "SparkListenerTaskEnd")


@dataclass
class Span:
    name: str
    op: int
    group: str
    start_ms: float
    end_ms: float = 0.0

    @property
    def s(self) -> float:
        return (self.end_ms - self.start_ms) / 1000.0


@dataclass
class SpanStats:
    counters: dict[str, float] = field(default_factory=lambda: dict.fromkeys(COUNTERS, 0))
    job_intervals: list[tuple[float, float]] = field(default_factory=list)


class Tracer:
    """Records spans for one benchmark client; ``op`` is the index of
    the op the next spans belong to."""

    def __init__(self, sc) -> None:
        self.sc = sc
        self.spans: list[Span] = []
        self.op = 0

    @contextlib.contextmanager
    def span(self, name: str):
        sp = Span(name, self.op, f"perfbench-{len(self.spans)}", time.time() * 1000.0)
        self.spans.append(sp)
        self.sc.setJobGroup(sp.group, name)
        try:
            yield sp
        finally:
            sp.end_ms = time.time() * 1000.0
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            self.sc.setLocalProperty("spark.job.description", None)


def read_events(path: str):
    """The events ``fold`` needs from one uncompressed event-log file."""
    with open(path) as f:
        for line in f:
            if any(name in line[:64] for name in _EVENTS):
                yield json.loads(line)


def _union_length(intervals: list[tuple[float, float]]) -> float:
    total, cur_lo, cur_hi = 0.0, None, None
    for lo, hi in sorted(intervals):
        if cur_hi is None or lo > cur_hi:
            if cur_hi is not None:
                total += cur_hi - cur_lo
            cur_lo, cur_hi = lo, hi
        else:
            cur_hi = max(cur_hi, hi)
    if cur_hi is not None:
        total += cur_hi - cur_lo
    return total


def fold(events, spans: list[Span]) -> list[dict[str, float]]:
    """Per span (same order as ``spans``): the event-log counters plus
    ``s`` and ``driver_s``."""
    jobs: dict[int, dict] = {}
    stage_job: dict[int, int] = {}
    tasks: dict[int, dict[str, float]] = defaultdict(lambda: defaultdict(float))
    for ev in events:
        kind = ev["Event"]
        if kind == "SparkListenerJobStart":
            jid = ev["Job ID"]
            jobs[jid] = {"submit": ev["Submission Time"], "end": ev["Submission Time"],
                         "group": (ev.get("Properties") or {}).get("spark.jobGroup.id")}
            for sid in ev["Stage IDs"]:
                # a stage listed again by a later job was reused (skipped)
                stage_job[sid] = min(stage_job.get(sid, jid), jid)
        elif kind == "SparkListenerJobEnd":
            if ev["Job ID"] in jobs:
                jobs[ev["Job ID"]]["end"] = ev["Completion Time"]
        else:
            m = ev.get("Task Metrics") or {}
            t = tasks[ev["Stage ID"]]
            t["tasks"] += 1
            t["executor_run_s"] += m.get("Executor Run Time", 0) / 1e3
            t["executor_cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
            t["shuffle_write_bytes"] += (m.get("Shuffle Write Metrics") or {}).get(
                "Shuffle Bytes Written", 0)
            t["output_bytes"] += (m.get("Output Metrics") or {}).get("Bytes Written", 0)

    by_group = {sp.group: i for i, sp in enumerate(spans)}
    # innermost = latest-starting span containing the submission time
    ordered = sorted(range(len(spans)), key=lambda i: spans[i].start_ms, reverse=True)

    def owner(job: dict) -> int | None:
        if job["group"] in by_group:
            return by_group[job["group"]]
        for i in ordered:
            if spans[i].start_ms <= job["submit"] <= spans[i].end_ms:
                return i
        return None

    stats = [SpanStats() for _ in spans]
    job_span = {jid: owner(job) for jid, job in jobs.items()}
    for jid, i in job_span.items():
        if i is None:
            continue
        stats[i].counters["jobs"] += 1
        sp, job = spans[i], jobs[jid]
        lo, hi = max(job["submit"], sp.start_ms), min(job["end"], sp.end_ms)
        if hi > lo:
            stats[i].job_intervals.append((lo, hi))
    for sid, t in tasks.items():
        i = job_span.get(stage_job.get(sid))
        if i is not None:
            for k, v in t.items():
                stats[i].counters[k] += v

    out = []
    for sp, st in zip(spans, stats):
        row = dict(st.counters)
        row["s"] = sp.s
        row["driver_s"] = max(0.0, sp.s - _union_length(st.job_intervals) / 1000.0)
        out.append(row)
    return out


def per_op_medians(spans: list[Span], rows: list[dict[str, float]], ops: list[int]
                   ) -> dict[str, dict[str, float]]:
    """``{span name: {counter: median over ``ops`` of the per-op sum}}``;
    a name with no span in an op counts 0 for that op."""
    from statistics import median

    sums: dict[str, dict[int, dict[str, float]]] = defaultdict(
        lambda: defaultdict(lambda: defaultdict(float)))
    for sp, row in zip(spans, rows):
        for k, v in row.items():
            sums[sp.name][sp.op][k] += v
    return {
        name: {k: median(per_op[op][k] if op in per_op else 0.0 for op in ops)
               for k in ("s", "driver_s") + COUNTERS}
        for name, per_op in sums.items()
    }
