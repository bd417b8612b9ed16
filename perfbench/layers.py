"""Per-layer metrics of the traced run.

Layers are the package's modules. Crawl-time numbers come from the spans
the tracer recorded around the engine's calls into each layer, joined with
the Spark jobs of each round; plan-building calls (``*.plan_s``) return
lazy DataFrames, so their spans time driver work only and the work they
plan shows up in the round's job intervals. The URL, seen and frontier
layers are also timed standalone on the frontier batch, each stage forced
on its own over a checkpointed input.
"""

from __future__ import annotations

import os
import statistics
import time

from perfbench.phases import QUERIES
from perfbench.tracing import SpanIndex, read_jobs, union_length

PER_LAYER = {
    "engine.round_s": "s",
    "engine.round_tail_s": "s",
    "engine.jobs_per_round": "count",
    "engine.job_busy_s_per_round": "s",
    "engine.driver_gap_s_per_round": "s",
    "engine.shuffle_bytes_per_round": "bytes",
    "engine.bootstrap_s": "s",
    "engine.flush_s": "s",
    "urls.canonicalize_s": "s",
    "urls.canonicalize_rows_per_s": "1/s",
    "seen.filter_unseen_s": "s",
    "seen.fresh_ratio": "ratio",
    "seen.plan_s": "s",
    "seen.bloom_sidecar_s": "s",
    "seen.cuckoo_sidecar_s": "s",
    "frontier.select_slice_s": "s",
    "frontier.slice_rows": "count",
    "frontier.plan_s": "s",
    "frontier.scaling_eff": "ratio",
    "politeness.robots_gate_plan_s": "s",
    "politeness.denied_ratio": "ratio",
    "corpus.fetch_s": "s",
    "corpus.fetch_jobs": "count",
    "corpus.ok_ratio": "ratio",
    "parse.extract_outlinks_plan_s": "s",
    "parse.links_per_page": "count",
    "catalog.commits": "count",
    "catalog.commit_s": "s",
    "catalog.bytes_written": "bytes",
    "catalog.load_merge_s": "s",
    "trace.bookkeeping_s": "s",
}
for _q in QUERIES:
    PER_LAYER[f"query.{_q}_s"] = "s"
    PER_LAYER[f"query.{_q}.jobs"] = "count"
    PER_LAYER[f"query.{_q}.shuffle_bytes"] = "bytes"

BLOOM_BUCKETS = 16


def _mean(xs) -> float:
    xs = list(xs)
    return sum(xs) / len(xs) if xs else 0.0


def frontier_layers(r, spark, inputs, tracer, phases) -> dict:
    """The URL, seen and frontier layers forced one at a time on the
    frontier batch. Each stage reads a checkpointed input, so its time is
    its own. The Bloom and cuckoo sidecar routes must return the exact
    route's fresh count."""
    from pyspark.sql import functions as F

    from mr_crawly_spark.functions.urls import canonicalize_udf
    from mr_crawly_spark.operators import seen as seen_ops

    fi = inputs.frontier
    out = {}
    with tracer.span("urls.canonicalize", group=True):
        t = time.perf_counter()
        phases.force(fi.candidates.select(
            canonicalize_udf(F.col("base"), F.col("href")).alias("url")))
        out["urls.canonicalize_s"] = time.perf_counter() - t
    out["urls.canonicalize_rows_per_s"] = fi.n_candidates / out["urls.canonicalize_s"]

    hashed = phases.canonical_candidates(fi).localCheckpoint()
    n_cand = hashed.count()
    with tracer.span("seen.filter_unseen", group=True):
        t = time.perf_counter()
        fresh = phases.filter_unseen(hashed, fi.seen).localCheckpoint()
        out["seen.filter_unseen_s"] = time.perf_counter() - t
    n_fresh = fresh.count()
    out["seen.fresh_ratio"] = n_fresh / n_cand

    n_seen = fi.n_candidates // 2
    m_bits, k = seen_ops.bloom_params(n_seen // BLOOM_BUCKETS)
    cuckoo_rows = seen_ops.cuckoo_params(n_seen // BLOOM_BUCKETS)
    bloom_path = os.path.join(r.work, "bloom")
    cuckoo_path = os.path.join(r.work, "cuckoo")
    seen_ops.build_bloom_sidecar(fi.seen, bloom_path, BLOOM_BUCKETS, m_bits, k)
    seen_ops.build_cuckoo_sidecar(fi.seen, cuckoo_path, BLOOM_BUCKETS, cuckoo_rows)
    with tracer.span("seen.bloom_sidecar", group=True):
        t = time.perf_counter()
        n_bloom = phases.filter_unseen(
            hashed, fi.seen, n_buckets=BLOOM_BUCKETS, m_bits=m_bits, k=k,
            sidecar_path=bloom_path).count()
        out["seen.bloom_sidecar_s"] = time.perf_counter() - t
    with tracer.span("seen.cuckoo_sidecar", group=True):
        t = time.perf_counter()
        n_cuckoo = seen_ops.filter_unseen_cuckoo(
            hashed, fi.seen, None, BLOOM_BUCKETS, cuckoo_rows,
            sidecar_path=cuckoo_path).count()
        out["seen.cuckoo_sidecar_s"] = time.perf_counter() - t
    if n_bloom != n_fresh or n_cuckoo != n_fresh:
        raise RuntimeError(f"sidecar routes differ from the exact anti-join: "
                           f"bloom {n_bloom}, cuckoo {n_cuckoo}, exact {n_fresh}")

    with tracer.span("frontier.select_slice", group=True):
        t = time.perf_counter()
        n_slice = phases.slice_of(fi, fresh).count()
        out["frontier.select_slice_s"] = time.perf_counter() - t
    out["frontier.slice_rows"] = n_slice
    ready = r.samples.get("frontier_ready")
    if ready and n_slice != ready[0]:
        raise RuntimeError(f"staged slice has {n_slice} rows, the batch {ready[0]}")
    return out


def round_accounting(idx: SpanIndex) -> list[dict]:
    """Per round: wall time, job-busy time (union of job run intervals),
    time under plan spans, their union, and the driver gap (wall minus
    job-busy time)."""
    rows = []
    for sp in idx.named("engine.round"):
        wall = idx.duration(sp)
        jobs = idx.jobs(sp)
        job_iv = [(max(j["start"], sp["start"]), min(j["end"], sp["end"])) for j in jobs]
        span_iv = [(c["start"], c["end"]) for c in idx.children[sp["id"]]]
        busy = union_length(job_iv)
        rows.append({
            "round": sp["round"], "wall_s": wall, "jobs": len(jobs),
            "job_busy_s": busy, "span_s": union_length(span_iv),
            "busy_or_span_s": union_length(job_iv + span_iv),
            "driver_gap_s": wall - busy,
            "self_s": idx.self_time(sp),
            "shuffle_bytes": sum(j["shuffle_bytes"] for j in jobs),
        })
    return rows


def crawl_layers(idx: SpanIndex, rounds: list[dict], crawl: dict, links: int) -> dict:
    med = statistics.median
    walls = [x["wall_s"] for x in rounds]
    hist = crawl["history"]
    fetches = idx.named("corpus.fetch")
    flushes = [s for s in idx.named("engine.flush") if idx.jobs(s)]
    commits = idx.named("catalog.commit")
    return {
        "engine.round_s": med(walls),
        "engine.round_tail_s": max(walls),
        "engine.jobs_per_round": med(x["jobs"] for x in rounds),
        "engine.job_busy_s_per_round": med(x["job_busy_s"] for x in rounds),
        "engine.driver_gap_s_per_round": med(x["driver_gap_s"] for x in rounds),
        "engine.shuffle_bytes_per_round": med(x["shuffle_bytes"] for x in rounds),
        "engine.bootstrap_s": idx.duration(idx.named("engine.bootstrap")[0]),
        "engine.flush_s": med(idx.duration(s) for s in flushes),
        "seen.plan_s": _mean(idx.duration(s) for s in idx.named("seen.filter_unseen")
                             if s["round"] is not None),
        "frontier.plan_s": _mean(idx.duration(s) for s in idx.named("frontier.select_slice")
                                 if s["round"] is not None),
        "politeness.robots_gate_plan_s": _mean(
            idx.duration(s) for s in idx.named("politeness.robots_gate")),
        "politeness.denied_ratio": sum(h.get("denied", 0) for h in hist)
        / max(1, sum(h.get("slice", 0) for h in hist)),
        "corpus.fetch_s": _mean(idx.duration(s) for s in fetches),
        "corpus.fetch_jobs": _mean(len(idx.jobs(s)) for s in fetches),
        "corpus.ok_ratio": sum(h.get("fetched_ok", 0) for h in hist)
        / max(1, sum(h.get("processed", 0) for h in hist)),
        "parse.extract_outlinks_plan_s": _mean(
            idx.duration(s) for s in idx.named("parse.extract_outlinks")),
        "parse.links_per_page": links / crawl["pages"],
        "catalog.commits": len(commits),
        "catalog.commit_s": _mean(idx.duration(s) for s in commits),
        "catalog.bytes_written": crawl["stored_bytes"],
        "catalog.load_merge_s": _mean(idx.duration(s) for s in idx.named("catalog.load_merge")),
    }


def query_layers(idx: SpanIndex) -> dict:
    out = {}
    for q in QUERIES:
        sp = idx.named(f"query.{q}")[-1]  # the last pass, the warmest
        jobs = idx.jobs(sp)
        out[f"query.{q}_s"] = idx.duration(sp)
        out[f"query.{q}.jobs"] = len(jobs)
        out[f"query.{q}.shuffle_bytes"] = sum(j["shuffle_bytes"] for j in jobs)
    return out


def layer_metrics(r, spark, inputs, tracer, crawls, phases) -> dict:
    out = frontier_layers(r, spark, inputs, tracer, phases)
    crawl = crawls[0]
    links = crawl["engine"].table("links").count()
    tracer.jobs = read_jobs(spark.sparkContext)
    idx = SpanIndex(tracer.spans, tracer.jobs)
    tracer.rounds = round_accounting(idx)
    out.update(crawl_layers(idx, tracer.rounds, crawl, links))
    out.update(query_layers(idx))
    out["trace.bookkeeping_s"] = tracer.own_s
    return out
