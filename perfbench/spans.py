"""Spans recorded around calls into the engine's layers, and the Spark
work each span caused.

A span is (name, id, parent, request id, start, end). Spans live in
memory and are written out once, when the run ends. When tracing is
on, a span opened with ``jobs=True`` also becomes the Spark job group
of the calling thread for its duration, so every job that thread
launches — and, through the event log, every stage and task of those
jobs — is attributed to it. With tracing off, spans still time their
block (the benchmark reads some end-to-end figures from them) but set
no job group and are not kept.
"""

from __future__ import annotations

import itertools
import json
import os
import threading
import time
from contextlib import contextmanager

GROUP_PROP = "spark.jobGroup.id"


class Span:
    __slots__ = ("name", "id", "parent", "rid", "start", "end", "jobs")

    def __init__(self, name, sid, parent, rid, jobs):
        self.name = name
        self.jobs = jobs
        self.id = sid
        self.parent = parent
        self.rid = rid
        self.start = time.time()
        self.end = None

    @property
    def seconds(self) -> float:
        return self.end - self.start

    def as_dict(self) -> dict:
        return {
            "name": self.name,
            "id": self.id,
            "parent": self.parent,
            "rid": self.rid,
            "start": self.start,
            "end": self.end,
            "jobs": self.jobs,
        }


class Tracer:
    """Span recorder. ``sc`` (a SparkContext) is set once the session
    exists; until then ``jobs=True`` spans cannot set a job group."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.sc = None
        self.spans: list[Span] = []
        # one client thread drives the closed loop, so the request it
        # is serving is the request every layer below is serving
        self.rid: int | None = None
        self._ids = itertools.count(1)
        self._lock = threading.Lock()
        self._stack = threading.local()

    def _parents(self) -> list[Span]:
        if not hasattr(self._stack, "spans"):
            self._stack.spans = []
        return self._stack.spans

    def set_group(self, group: str | None) -> None:
        """Make ``group`` the Spark job group of the calling thread."""
        if self.enabled and self.sc is not None:
            self.sc.setLocalProperty(GROUP_PROP, group)

    def open(self, name: str, jobs: bool = False) -> Span:
        parents = self._parents()
        with self._lock:
            sid = f"s{next(self._ids)}"
        span = Span(name, sid, parents[-1].id if parents else None, self.rid, jobs)
        parents.append(span)
        if jobs:
            self.set_group(sid)
        return span

    def close(self, span: Span) -> None:
        span.end = time.time()
        parents = self._parents()
        parents.remove(span)
        if span.jobs:
            # hand the thread's job group back to the nearest enclosing
            # span that owns one
            owner = next((p for p in reversed(parents) if p.jobs), None)
            self.set_group(owner.id if owner else None)
        if self.enabled:
            with self._lock:
                self.spans.append(span)

    @contextmanager
    def span(self, name: str, jobs: bool = False):
        s = self.open(name, jobs=jobs)
        try:
            yield s
        finally:
            self.close(s)

    def named(self, name: str) -> list[Span]:
        return [s for s in self.spans if s.name == name]

    def write(self, path: str, attribution: dict) -> None:
        with open(path, "w") as fh:
            for s in sorted(self.spans, key=lambda s: s.start):
                rec = s.as_dict()
                work = attribution.get(s.id)
                if work is not None:
                    rec["spark"] = {
                        k: v for k, v in work.items() if k != "intervals"
                    }
                fh.write(json.dumps(rec) + "\n")


# --------------------------------------------------------- event log
_ACC = {
    "internal.metrics.executorCpuTime": "cpu_ns",
    "internal.metrics.jvmGCTime": "gc_ms",
    "internal.metrics.shuffle.write.bytesWritten": "shuffle_write_bytes",
    "internal.metrics.shuffle.read.remoteBytesRead": "shuffle_read_bytes",
    "internal.metrics.shuffle.read.localBytesRead": "shuffle_read_bytes",
    "internal.metrics.memoryBytesSpilled": "spill_bytes",
    "internal.metrics.diskBytesSpilled": "spill_bytes",
}
STAGE_FIELDS = (
    "tasks",
    "failed_tasks",
    "cpu_ns",
    "gc_ms",
    "shuffle_write_bytes",
    "shuffle_read_bytes",
    "spill_bytes",
)


def read_event_log(log_dir: str) -> list[dict]:
    events = []
    for base, _dirs, files in sorted(os.walk(log_dir)):
        for name in sorted(files):
            if name.startswith("."):
                continue  # Hadoop checksum files
            with open(os.path.join(base, name)) as fh:
                for line in fh:
                    line = line.strip()
                    if line:
                        events.append(json.loads(line))
    return events


def jobs_and_stages(events: list[dict]) -> tuple[dict, dict]:
    """Jobs {id: {group, start, end, stages}} (times in epoch seconds)
    and per-stage totals {id: {tasks, failed_tasks, cpu_ns, ...}},
    summed over stage attempts."""
    jobs: dict[int, dict] = {}
    stages: dict[int, dict] = {}

    def stage(sid: int) -> dict:
        return stages.setdefault(sid, dict.fromkeys(STAGE_FIELDS, 0))

    for ev in events:
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            props = ev.get("Properties") or {}
            jobs[ev["Job ID"]] = {
                "group": props.get(GROUP_PROP),
                "start": ev["Submission Time"] / 1000.0,
                "end": None,
                "stages": list(ev.get("Stage IDs") or []),
            }
        elif kind == "SparkListenerJobEnd":
            if ev["Job ID"] in jobs:
                jobs[ev["Job ID"]]["end"] = ev["Completion Time"] / 1000.0
        elif kind == "SparkListenerStageCompleted":
            info = ev["Stage Info"]
            st = stage(info["Stage ID"])
            st["tasks"] += int(info.get("Number of Tasks", 0))
            for acc in info.get("Accumulables") or []:
                field = _ACC.get(acc.get("Name"))
                if field is not None:
                    st[field] += int(float(acc.get("Value") or 0))
        elif kind == "SparkListenerTaskEnd":
            reason = (ev.get("Task End Reason") or {}).get("Reason")
            if reason != "Success":
                stage(ev["Stage ID"])["failed_tasks"] += 1
    return jobs, stages


def attribute(jobs: dict, stages: dict) -> dict:
    """Per job group (= span id): jobs, their intervals, and the summed
    totals of the stages those jobs ran. A stage shared by two jobs
    (a reused shuffle) counts for the job that ran it first."""
    out: dict[str, dict] = {}
    seen: set[int] = set()
    for jid in sorted(jobs):
        job = jobs[jid]
        group = job["group"]
        if group is None:
            continue
        acc = out.setdefault(
            group,
            {"jobs": 0, "intervals": [], **dict.fromkeys(STAGE_FIELDS, 0)},
        )
        acc["jobs"] += 1
        if job["end"] is not None:
            acc["intervals"].append((job["start"], job["end"]))
        for sid in job["stages"]:
            if sid in seen or sid not in stages:
                continue  # skipped (reused) stages never complete
            seen.add(sid)
            for f in STAGE_FIELDS:
                acc[f] += stages[sid][f]
    return out


def covered_seconds(
    intervals: list[tuple[float, float]], lo: float, hi: float
) -> float:
    """Length of the union of ``intervals`` clipped to [lo, hi]."""
    clipped = sorted(
        (max(a, lo), min(b, hi)) for a, b in intervals if b > lo and a < hi
    )
    total = 0.0
    cur_a = cur_b = None
    for a, b in clipped:
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                total += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        total += cur_b - cur_a
    return total


def work_of(attribution: dict, spans: list[Span], with_children: dict) -> dict:
    """Summed Spark work of ``spans`` and of the spans below them
    (``with_children``: span id → list of descendant ids)."""
    tot = {"jobs": 0, "intervals": [], **dict.fromkeys(STAGE_FIELDS, 0)}
    for s in spans:
        for sid in [s.id, *with_children.get(s.id, [])]:
            w = attribution.get(sid)
            if w is None:
                continue
            tot["jobs"] += w["jobs"]
            tot["intervals"] += w["intervals"]
            for f in STAGE_FIELDS:
                tot[f] += w[f]
    return tot


def descendants(spans: list[Span]) -> dict[str, list[str]]:
    children: dict[str, list[str]] = {}
    for s in spans:
        if s.parent is not None:
            children.setdefault(s.parent, []).append(s.id)
    out: dict[str, list[str]] = {}

    def walk(sid: str) -> list[str]:
        if sid not in out:
            acc: list[str] = []
            for c in children.get(sid, []):
                acc.append(c)
                acc.extend(walk(c))
            out[sid] = acc
        return out[sid]

    for s in spans:
        walk(s.id)
    return out
