"""Spans and Spark job intervals for the traced run.

Spans live in memory (name, start, end, parent, workload, round) and are
written out when the run ends. The traced run records them around the
benchmark's own calls into each layer and around the layer functions the
engine calls, which it wraps by patching module and class attributes at
run time (``Tracer.patch``); no source file of the package changes.

Spark jobs and stages come from the JVM status store. A span opened with
``group=True`` sets the Spark job group, and a job counts toward a span
when it was submitted inside the span's interval and carries that span's
group (or none: jobs submitted from pool threads inherit no group).
"""

from __future__ import annotations

import functools
import json
import threading
import time
from contextlib import contextmanager

_GROUP_KEY = "spark.jobGroup.id"


def union_length(intervals: list[tuple[float, float]]) -> float:
    """Total length covered by a set of possibly overlapping intervals."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
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


class Tracer:
    """In-memory span recorder. A disabled tracer records nothing and
    patches nothing, so the untraced run pays one attribute check per
    span."""

    def __init__(self, sc, workload: str, enabled: bool):
        self.sc = sc
        self.workload = workload
        self.enabled = enabled
        self.round: int | None = None
        self.spans: list[dict] = []
        self.jobs: list[dict] = []    # filled from the status store at the end
        self.rounds: list[dict] = []  # per-round accounting
        self.own_s = 0.0  # time spent in the tracer's own bookkeeping
        self._stacks: dict[int, list[int]] = {}
        self._main = threading.get_ident()
        self._lock = threading.Lock()
        self._patches: list[tuple[object, str, object]] = []

    @contextmanager
    def span(self, name: str, group: bool = False, **attrs):
        if not self.enabled:
            yield None
            return
        t_in = time.perf_counter()
        tid = threading.get_ident()
        with self._lock:
            stack = self._stacks.setdefault(tid, [])
            main = self._stacks.get(self._main) or [None]
            parent = stack[-1] if stack else main[-1]
            rec = {"id": len(self.spans), "name": name, "parent": parent,
                   "workload": self.workload, "round": self.round,
                   "group": None, **attrs}
            self.spans.append(rec)
            stack.append(rec["id"])
        prev_group = None
        if group:
            rec["group"] = f"perfbench-{rec['id']}"
            prev_group = self.sc.getLocalProperty(_GROUP_KEY)
            self.sc.setLocalProperty(_GROUP_KEY, rec["group"])
        rec["start"] = time.time()
        self.own_s += time.perf_counter() - t_in
        try:
            yield rec
        finally:
            rec["end"] = time.time()
            t_out = time.perf_counter()
            if group:
                self.sc.setLocalProperty(_GROUP_KEY, prev_group)
            with self._lock:
                self._stacks[tid].pop()
            self.own_s += time.perf_counter() - t_out

    def patch(self, owner, attr: str, name: str) -> None:
        """Replace ``owner.attr`` with a wrapper that records a span named
        ``name`` around each call; ``unpatch`` restores it."""
        if not self.enabled:
            return
        orig = getattr(owner, attr)
        tracer = self

        @functools.wraps(orig)
        def wrapper(*args, **kwargs):
            with tracer.span(name):
                return orig(*args, **kwargs)

        setattr(owner, attr, wrapper)
        self._patches.append((owner, attr, orig))

    def unpatch(self) -> None:
        while self._patches:
            owner, attr, orig = self._patches.pop()
            setattr(owner, attr, orig)


def read_jobs(sc, timeout_s: float = 10.0) -> list[dict]:
    """Every job in the status store with its interval (epoch seconds),
    group and shuffle bytes written by the stages it ran. Waits for the
    listener bus to deliver the end of every job first."""
    jvm = sc._jvm
    store = sc._jsc.sc().statusStore()
    mapper = jvm.com.fasterxml.jackson.databind.ObjectMapper()
    mapper.registerModule(jvm.com.fasterxml.jackson.module.scala.DefaultScalaModule())
    deadline = time.monotonic() + timeout_s
    while True:
        jobs = json.loads(mapper.writeValueAsString(store.jobsList(None)))
        if all(j.get("completionTime") for j in jobs) or time.monotonic() > deadline:
            break
        time.sleep(0.2)
    stages = json.loads(mapper.writeValueAsString(store.stageList(
        None, False, False,
        getattr(store, "stageList$default$4")(),
        getattr(store, "stageList$default$5")(),
    )))
    shuffle = {
        s["stageId"]: s.get("shuffleWriteBytes") or 0
        for s in stages if s.get("status") == "COMPLETE"
    }
    out = []
    for j in jobs:
        if not j.get("submissionTime"):
            continue
        end = j.get("completionTime") or j["submissionTime"]
        out.append({
            "job": j["jobId"],
            "group": j.get("jobGroup"),
            "start": j["submissionTime"] / 1000.0,
            "end": end / 1000.0,
            "stages": len(j.get("stageIds") or []),
            "shuffle_bytes": sum(shuffle.get(s, 0) for s in j.get("stageIds") or []),
        })
    return sorted(out, key=lambda j: j["start"])


class SpanIndex:
    """Spans joined with jobs: per-span children, jobs, self time and
    job-busy time."""

    def __init__(self, spans: list[dict], jobs: list[dict]):
        self.spans = spans
        self.children: dict[int, list[dict]] = {s["id"]: [] for s in spans}
        for s in spans:
            if s["parent"] is not None:
                self.children[s["parent"]].append(s)
        self._jobs = jobs

    def group_of(self, span: dict) -> str | None:
        while span is not None:
            if span.get("group"):
                return span["group"]
            span = self.spans[span["parent"]] if span["parent"] is not None else None
        return None

    def duration(self, span: dict) -> float:
        return span["end"] - span["start"]

    def jobs(self, span: dict) -> list[dict]:
        g = self.group_of(span)
        return [
            j for j in self._jobs
            if span["start"] <= j["start"] <= span["end"]
            and (j["group"] is None or j["group"] == g)
        ]

    def busy(self, span: dict) -> float:
        """Wall time inside the span during which at least one of its jobs
        ran."""
        return union_length([
            (max(j["start"], span["start"]), min(j["end"], span["end"]))
            for j in self.jobs(span)
        ])

    def self_time(self, span: dict) -> float:
        """Duration minus the part of the interval its children cover."""
        covered = union_length([
            (max(c["start"], span["start"]), min(c["end"], span["end"]))
            for c in self.children[span["id"]]
        ])
        return self.duration(span) - covered

    def named(self, name: str) -> list[dict]:
        return [s for s in self.spans if s["name"] == name]
