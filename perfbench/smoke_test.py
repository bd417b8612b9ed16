"""The benchmark's own smoke test: tiny sizes, seconds per check.

    python3 perfbench/smoke_test.py        # or: python3 -m pytest perfbench/smoke_test.py

Checks the span arithmetic on synthetic spans (no Spark), then runs each
workload traced at a tiny size and checks the trace it wrote: spans nest
inside their parents with a self time between 0 and their duration; every
job carrying a round's job group was submitted inside that round and is
counted in it, no job is counted in two rounds, and the round's jobs and
plan spans cover at least half of its wall time. Needs no network and no
data outside the checkout.
"""

from __future__ import annotations

import dataclasses
import io
import json
import math
import os
import sys
from contextlib import redirect_stdout

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from perfbench import run as bench_run  # noqa: E402
from perfbench.tracing import SpanIndex, union_length  # noqa: E402

EPS = 1e-6


def test_union_length():
    assert union_length([]) == 0
    assert union_length([(0, 1), (2, 3)]) == 2
    assert union_length([(0, 2), (1, 3), (5, 5), (4, 4.5)]) == 3.5
    assert union_length([(0, 10), (1, 2), (3, 4)]) == 10


def test_self_time_arithmetic():
    spans = [
        {"id": 0, "name": "engine.round", "parent": None, "group": "g0", "start": 0.0, "end": 10.0},
        {"id": 1, "name": "frontier.select_slice", "parent": 0, "group": None, "start": 1.0, "end": 2.0},
        {"id": 2, "name": "engine.flush", "parent": 0, "group": None, "start": 5.0, "end": 9.0},
        # two concurrent commits under one flush
        {"id": 3, "name": "catalog.commit", "parent": 2, "group": None, "start": 5.5, "end": 7.0},
        {"id": 4, "name": "catalog.commit", "parent": 2, "group": None, "start": 6.0, "end": 8.0},
    ]
    jobs = [
        {"job": 0, "group": "g0", "start": 2.5, "end": 4.0, "shuffle_bytes": 10},
        {"job": 1, "group": None, "start": 6.0, "end": 7.5, "shuffle_bytes": 5},
        {"job": 2, "group": "other", "start": 3.0, "end": 3.5, "shuffle_bytes": 99},
    ]
    idx = SpanIndex(spans, jobs)
    assert idx.self_time(spans[0]) == 10 - 1 - 4
    assert idx.self_time(spans[2]) == 4 - 2.5
    assert [j["job"] for j in idx.jobs(spans[0])] == [0, 1]
    assert [j["job"] for j in idx.jobs(spans[2])] == [1]
    assert idx.busy(spans[0]) == 1.5 + 1.5
    check_trace({"spans": spans, "jobs": jobs})


def check_trace(trace: dict) -> None:
    """Every span nests inside its parent, with a self time between 0 and
    its duration."""
    spans = trace["spans"]
    idx = SpanIndex(spans, trace["jobs"])
    for s in spans:
        assert s["start"] <= s["end"], s
        if s["parent"] is not None:
            p = spans[s["parent"]]
            assert p["start"] - EPS <= s["start"] and s["end"] <= p["end"] + EPS, (s, p)
        assert -EPS <= idx.self_time(s) <= idx.duration(s) + EPS, s


def check_rounds(trace: dict) -> None:
    """The round accounting against the status store's jobs: a job that
    carries a round's group was submitted inside the round and is counted
    in it, no job is counted in two rounds, and the round's jobs and plan
    spans cover at least half of its wall time."""
    idx = SpanIndex(trace["spans"], trace["jobs"])
    spans = idx.named("engine.round")
    assert len(spans) == len(trace["rounds"]) == bench_run.ROUNDS, trace["rounds"]
    counted: set[int] = set()
    for sp, acc in zip(spans, trace["rounds"]):
        ids = {j["job"] for j in idx.jobs(sp)}
        assert acc["jobs"] == len(ids) > 0, acc
        assert not ids & counted, (acc, ids & counted)
        counted |= ids
        grouped = [j for j in trace["jobs"] if j["group"] == sp["group"]]
        assert grouped, sp
        for j in grouped:
            assert sp["start"] <= j["start"] <= sp["end"], (j, sp)
            assert j["job"] in ids, (j, sp)
        wall = acc["wall_s"]
        assert math.isclose(wall, idx.duration(sp)), (acc, sp)
        assert acc["job_busy_s"] <= acc["busy_or_span_s"] + EPS, acc
        assert acc["span_s"] <= acc["busy_or_span_s"] + EPS, acc
        assert acc["busy_or_span_s"] <= wall + EPS, acc
        assert acc["busy_or_span_s"] >= 0.5 * wall, acc


TINY = bench_run.Workload(hosts=8, base_pages=3, hot_factor=2, bucketed=False,
                          hot_share=0.3)


def run_tiny(name: str, bucketed: bool) -> dict:
    bench_run.WORKLOADS[name] = dataclasses.replace(TINY, bucketed=bucketed)
    out = io.StringIO()
    with redirect_stdout(out):
        code = bench_run.main(["--workload", name, "--seed", "7", "--seconds", "0",
                               "--trace", "1"])
    result = json.loads(out.getvalue().strip().splitlines()[-1])
    assert code == 0 and result["correct"] and result["failed"] == 0, result
    from perfbench.layers import PER_LAYER

    assert set(result["metrics"]) == set(PER_LAYER), set(PER_LAYER) ^ set(result["metrics"])
    with open(os.path.join(bench_run.OUT_DIR, f"trace-{name}-7.json")) as f:
        trace = json.load(f)
    check_trace(trace)
    check_rounds(trace)
    return result


def test_tiny_crawl_small():
    run_tiny("crawl_small", bucketed=False)


def test_tiny_crawl_wide():
    run_tiny("crawl_wide", bucketed=True)


if __name__ == "__main__":
    for name, fn in list(globals().items()):
        if name.startswith("test_") and callable(fn):
            fn()
            print(f"ok {name}", file=sys.stderr)
