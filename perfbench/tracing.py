"""Spans around the benchmark's calls into the engine, folded with the
Spark event log into per-layer numbers.

A span is (id, name, parent, start, end).  While a span is open its id is
the SparkContext job group, so every job the call starts carries the span
id in its `JobStart` properties.  After the session stops, the event log
(uncompressed, non-rolling) is read back: task metrics are summed per job,
jobs per span, and each span's driver time is its wall time not covered
by any of its jobs (driver-side construction, probes and collects).

Spans are kept in memory and folded once, when the run ends.
"""

from __future__ import annotations

import contextlib
import json
import os
import time
from collections import defaultdict
from dataclasses import dataclass, field


@dataclass
class Span:
    id: str
    name: str
    parent: str | None
    start: float  # epoch seconds, same clock as the event log's millis
    end: float = 0.0


@dataclass
class Tracer:
    """Records spans when `active`; a no-op otherwise, so the timed passes
    pay nothing for the hooks."""

    sc: object = None
    active: bool = False
    spans: list[Span] = field(default_factory=list)
    _stack: list[Span] = field(default_factory=list)

    @contextlib.contextmanager
    def span(self, name: str):
        if not self.active:
            yield None
            return
        parent = self._stack[-1] if self._stack else None
        s = Span(f"s{len(self.spans)}", name, parent.id if parent else None, time.time())
        self.spans.append(s)
        self._stack.append(s)
        self.sc.setJobGroup(s.id, name)
        try:
            yield s
        finally:
            s.end = time.time()
            self._stack.pop()
            if parent is not None:
                self.sc.setJobGroup(parent.id, parent.name)
            else:
                self.sc.setLocalProperty("spark.jobGroup.id", None)
                self.sc.setLocalProperty("spark.job.description", None)

    def materialize(self, df):
        """Traced runs only: compute a layer's lazy output inside its span,
        so the work is charged to the layer that built the plan."""
        return df.localCheckpoint(eager=True) if self.active else df


# --------------------------------------------------------------- event log


def read_event_log(log_dir: str) -> dict[str, dict]:
    """Per job group: list of job intervals and summed task metrics."""
    files = [os.path.join(log_dir, f) for f in os.listdir(log_dir)]
    if len(files) != 1:
        raise RuntimeError(f"expected one event log in {log_dir}, found {files}")
    jobs: dict[int, dict] = {}
    stage_job: dict[int, int] = {}
    with open(files[0], encoding="utf-8") as fh:
        for line in fh:
            ev = json.loads(line)
            kind = ev.get("Event")
            if kind == "SparkListenerJobStart":
                jid = ev["Job ID"]
                props = ev.get("Properties") or {}
                jobs[jid] = {
                    "group": props.get("spark.jobGroup.id"),
                    "start": ev["Submission Time"] / 1000.0,
                    "end": None,
                    "run_ms": 0,
                    "shuffle": 0,
                    "spill": 0,
                }
                for sid in ev.get("Stage IDs", []):
                    stage_job.setdefault(sid, jid)
            elif kind == "SparkListenerJobEnd":
                jobs[ev["Job ID"]]["end"] = ev["Completion Time"] / 1000.0
            elif kind == "SparkListenerTaskEnd":
                jid = stage_job.get(ev["Stage ID"])
                m = ev.get("Task Metrics")
                if jid is None or not m:
                    continue
                j = jobs[jid]
                j["run_ms"] += m.get("Executor Run Time", 0)
                j["shuffle"] += (m.get("Shuffle Write Metrics") or {}).get(
                    "Shuffle Bytes Written", 0
                )
                j["spill"] += m.get("Memory Bytes Spilled", 0) + m.get(
                    "Disk Bytes Spilled", 0
                )
    by_group: dict[str, list[dict]] = defaultdict(list)
    for j in jobs.values():
        if j["group"] is not None:
            by_group[j["group"]].append(j)
    return by_group


def _covered(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of the union of intervals, clipped to [lo, hi]."""
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


def fold_layers(spans: list[Span], jobs_by_group: dict[str, list[dict]]) -> dict:
    """Per span name: calls, wall_s, self_s (wall minus child spans), jobs,
    driver_s, executor_run_s, shuffle_bytes, spill_bytes."""
    children: dict[str, list[Span]] = defaultdict(list)
    for s in spans:
        if s.parent is not None:
            children[s.parent].append(s)
    out: dict[str, dict] = defaultdict(lambda: defaultdict(float))
    for s in spans:
        row = out[s.name]
        wall = s.end - s.start
        kids = [(c.start, c.end) for c in children[s.id]]
        own_jobs = [j for j in jobs_by_group.get(s.id, []) if j["end"] is not None]
        row["calls"] += 1
        row["wall_s"] += wall
        row["self_s"] += wall - _covered(kids, s.start, s.end)
        row["jobs"] += len(own_jobs)
        # driver time: the span's own time (children excluded) that none
        # of its own jobs covers
        busy = kids + [(j["start"], j["end"]) for j in own_jobs]
        row["driver_s"] += wall - _covered(busy, s.start, s.end)
        row["executor_run_s"] += sum(j["run_ms"] for j in own_jobs) / 1000.0
        row["shuffle_bytes"] += sum(j["shuffle"] for j in own_jobs)
        row["spill_bytes"] += sum(j["spill"] for j in own_jobs)
    return {k: dict(v) for k, v in out.items()}


def write_spans(path: str, spans: list[Span]) -> None:
    with open(path, "w", encoding="utf-8") as fh:
        for s in spans:
            fh.write(json.dumps(s.__dict__) + "\n")
