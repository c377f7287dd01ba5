"""Spans around calls into the package's layers, and the Spark event-log
fold that turns one traced run into per-layer records.

A span is recorded around each call the benchmark makes into a layer:
name, layer, start, end, parent span and request id, kept in memory and
written out at the end as part of the per-layer records. While tracing, every span also sets a Spark job
group (``<span id>``), so the jobs it caused carry its id in the event
log. Jobs started on another JVM thread (a streaming query's
micro-batches) carry no group of ours; they are attributed to the
innermost open span by submission time — the benchmark is a single
client, so nothing else runs then.
"""

from __future__ import annotations

import contextlib
import json
import time
from collections import defaultdict
from dataclasses import dataclass, field


@dataclass
class Span:
    id: int
    name: str
    layer: str
    request: str
    parent: int | None
    start: float
    end: float = 0.0
    attrs: dict = field(default_factory=dict)


class Tracer:
    """Span recorder. With ``spark=None`` (untraced runs) ``span`` only
    yields: no job groups, nothing kept."""

    def __init__(self, spark=None):
        self.spark = spark
        self.spans: list[Span] = []
        self._stack: list[Span] = []

    @property
    def on(self) -> bool:
        return self.spark is not None

    @contextlib.contextmanager
    def span(self, name: str, layer: str, request: str = ""):
        if not self.on:
            yield None
            return
        parent = self._stack[-1] if self._stack else None
        s = Span(len(self.spans), name, layer, request or (parent.request if parent else ""),
                 parent.id if parent else None, time.time())
        self.spans.append(s)
        self._stack.append(s)
        sc = self.spark.sparkContext
        sc.setJobGroup(f"span-{s.id}", f"{layer}:{name}")
        try:
            yield s
        finally:
            s.end = time.time()
            self._stack.pop()
            if self._stack:
                top = self._stack[-1]
                sc.setJobGroup(f"span-{top.id}", f"{top.layer}:{top.name}")
            else:
                sc.setLocalProperty("spark.jobGroup.id", None)
                sc.setLocalProperty("spark.job.description", None)


# --- event log ---------------------------------------------------------------

COUNTERS = ("jobs", "stages", "tasks", "executor_run_ms", "executor_cpu_ms", "gc_ms",
            "shuffle_read_bytes", "shuffle_write_bytes", "spill_bytes", "bytes_written",
            "input_bytes")


def read_event_log(path: str) -> list[dict]:
    with open(path) as f:
        return [json.loads(line) for line in f if line.strip()]


def fold_jobs(events: list[dict]) -> dict[int, dict]:
    """One record per job: its group (``""`` when none), ``submit`` and
    ``end`` (seconds), and the ``COUNTERS`` summed over its stages and
    tasks. A stage shared by several jobs counts for the first."""
    jobs: dict[int, dict] = {}
    stage_job: dict[int, int] = {}
    for e in events:
        kind = e.get("Event")
        if kind == "SparkListenerJobStart":
            jid = e["Job ID"]
            t = e["Submission Time"] / 1000.0
            jobs[jid] = {"group": (e.get("Properties") or {}).get("spark.jobGroup.id") or "",
                         "submit": t, "end": t, **{c: 0 for c in COUNTERS}, "jobs": 1}
            for sid in e.get("Stage IDs", []):
                stage_job.setdefault(sid, jid)
        elif kind == "SparkListenerJobEnd" and e["Job ID"] in jobs:
            jobs[e["Job ID"]]["end"] = e["Completion Time"] / 1000.0
        elif kind == "SparkListenerStageCompleted":
            jid = stage_job.get(e["Stage Info"]["Stage ID"])
            if jid is not None:
                jobs[jid]["stages"] += 1
        elif kind == "SparkListenerTaskEnd":
            jid = stage_job.get(e["Stage ID"])
            if jid is None:
                continue
            r, m = jobs[jid], e.get("Task Metrics") or {}
            sr = m.get("Shuffle Read Metrics") or {}
            r["tasks"] += 1
            r["executor_run_ms"] += m.get("Executor Run Time", 0)
            r["executor_cpu_ms"] += m.get("Executor CPU Time", 0) / 1e6
            r["gc_ms"] += m.get("JVM GC Time", 0)
            r["shuffle_read_bytes"] += sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
            r["shuffle_write_bytes"] += (m.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0)
            r["spill_bytes"] += m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
            r["bytes_written"] += (m.get("Output Metrics") or {}).get("Bytes Written", 0)
            r["input_bytes"] += (m.get("Input Metrics") or {}).get("Bytes Read", 0)
    return jobs


def union_length(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to [lo, hi]."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted((max(s, lo), min(e, hi)) for s, e in intervals):
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


def attribute(spans: list[Span], jobs: dict[int, dict]) -> dict[int, dict]:
    """Per-span records from ``fold_jobs`` output. Counters cover the
    span's subtree: the jobs of its own group and its descendants', plus
    jobs of no group of ours (other JVM threads) submitted while it was
    the innermost open span. Adds ``wall_ms``, ``driver_ms`` (wall minus
    the union of the subtree's job spans) and ``self_ms`` (wall minus the
    union of child spans)."""
    children: dict[int, list[Span]] = defaultdict(list)
    for s in spans:
        if s.parent is not None:
            children[s.parent].append(s)
    own = {s.id: {**{c: 0 for c in COUNTERS}, "job_spans": []} for s in spans}
    for j in jobs.values():
        sid = j["group"][5:] if j["group"].startswith("span-") else ""
        if sid.isdigit() and int(sid) in own:
            target = int(sid)
        else:
            open_ = [s for s in spans if s.start <= j["submit"] <= s.end]
            if not open_:
                continue
            target = max(open_, key=lambda s: s.start).id
        for c in COUNTERS:
            own[target][c] += j[c]
        own[target]["job_spans"].append((j["submit"], j["end"]))
    memo: dict[int, dict] = {}

    def subtree(i: int) -> dict:
        if i not in memo:
            t = {c: own[i][c] for c in COUNTERS}
            t["job_spans"] = list(own[i]["job_spans"])
            for k in children[i]:
                kt = subtree(k.id)
                for c in COUNTERS:
                    t[c] += kt[c]
                t["job_spans"] += kt["job_spans"]
            memo[i] = t
        return memo[i]

    rec: dict[int, dict] = {}
    for s in spans:
        t = dict(subtree(s.id))
        wall = s.end - s.start
        job_spans = t.pop("job_spans")
        kids = [(c.start, c.end) for c in children[s.id]]
        rec[s.id] = {
            "id": s.id, "name": s.name, "layer": s.layer, "request": s.request, "parent": s.parent,
            "start": s.start, "end": s.end,
            **t,
            "wall_ms": wall * 1000.0,
            "driver_ms": (wall - union_length(job_spans, s.start, s.end)) * 1000.0,
            "self_ms": (wall - union_length(kids, s.start, s.end)) * 1000.0,
            **s.attrs,
        }
    return rec
