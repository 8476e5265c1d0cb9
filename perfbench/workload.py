"""What every workload shares: its run context, its result, the
set-up stopwatch, and the per-request layer metrics of the
query → server → broker path."""

from __future__ import annotations

import os
import time
from dataclasses import dataclass, field

from spans import Tracer, covered_seconds
from stats import median


@dataclass
class Ctx:
    work: str  # per-run scratch directory inside the checkout
    seed: int
    seconds: float
    trace: bool
    tracer: Tracer

    def path(self, name: str) -> str:
        p = os.path.join(self.work, name)
        os.makedirs(p, exist_ok=True)
        return p


@dataclass
class Result:
    attempted: int = 0
    failed: int = 0
    errors: list = field(default_factory=list)
    e2e: dict = field(default_factory=dict)
    samples: dict = field(default_factory=dict)
    extra: dict = field(default_factory=dict)

    def fail(self, why: str) -> None:
        self.failed += 1
        if len(self.errors) < 20:
            self.errors.append(why)


class Stopwatch:
    """Sums the time spent inside its ``with`` blocks: the program's
    set-up, leaving out input generation and the oracle in between."""

    def __init__(self):
        self.seconds = 0.0
        self._t0 = None

    def __enter__(self):
        self._t0 = time.monotonic()
        return self

    def __exit__(self, *exc):
        self.seconds += time.monotonic() - self._t0
        return False


def _mean(xs: list[float]) -> float:
    return sum(xs) / len(xs) if xs else 0.0


def _median0(xs: list[float]) -> float:
    return median(xs) if xs else 0.0


def request_layers(tr: Tracer, attribution: dict) -> dict:
    """query / server / broker metrics over the timed requests (spans
    that carry a request id; warm-up requests carry none)."""
    empty = {"jobs": 0, "intervals": [], "tasks": 0, "shuffle_read_bytes": 0}
    timed = [s for s in tr.spans if s.rid is not None]
    plans_of: dict[str, list] = {}
    for s in timed:
        if s.name == "query.plan":
            plans_of.setdefault(s.parent, []).append(s)
    req_ms, self_ms, job_ms, plan_ms = [], [], [], []
    q_jobs, q_tasks, q_shuffle, outside = [], [], [], []
    for s in timed:
        if s.name != "server.request":
            continue
        plans = plans_of.get(s.id, [])
        qw = [attribution.get(p.id, empty) for p in plans]
        intervals = [iv for w in qw for iv in w["intervals"]]
        busy = covered_seconds(
            intervals + [(p.start, p.end) for p in plans], s.start, s.end
        )
        req_ms.append(s.seconds * 1e3)
        self_ms.append((s.seconds - busy) * 1e3)
        job_ms.append(covered_seconds(intervals, float("-inf"), float("inf")) * 1e3)
        plan_ms.extend(p.seconds * 1e3 for p in plans)
        q_jobs.append(sum(w["jobs"] for w in qw))
        q_tasks.append(sum(w["tasks"] for w in qw))
        q_shuffle.append(sum(w["shuffle_read_bytes"] for w in qw) / 1024)
        outside.append(attribution.get(s.id, empty)["jobs"])

    backends_of: dict[str, list] = {}
    for s in timed:
        if s.name == "broker.backend":
            backends_of.setdefault(s.parent, []).append(s.seconds * 1e3)
    b_search, b_sum, b_self, b_slow = [], [], [], []
    for s in timed:
        if s.name != "broker.search":
            continue
        be = backends_of.get(s.id, [0.0])
        b_search.append(s.seconds * 1e3)
        b_sum.append(sum(be))
        b_self.append(s.seconds * 1e3 - sum(be))
        b_slow.append(max(be))
    return {
        "query.plan_ms": _median0(plan_ms),
        "query.job_ms": _median0(job_ms),
        "query.jobs_per_request": _mean(q_jobs),
        "query.tasks_per_request": _mean(q_tasks),
        "query.shuffle_read_kb_per_request": _mean(q_shuffle),
        "server.request_ms": _median0(req_ms),
        "server.self_ms": _median0(self_ms),
        "server.jobs_outside_query": _mean(outside),
        "broker.search_ms": _median0(b_search),
        "broker.backend_ms_sum": _median0(b_sum),
        "broker.self_ms": _median0(b_self),
        "broker.slowest_backend_ms": _median0(b_slow),
        "broker.backend_concurrency": sum(b_sum) / sum(b_search) if b_search else 0.0,
    }
