"""The repo's benchmark: seeded crawl workloads against ``mr_crawly_spark``.

    python3 perfbench/run.py --workload crawl_small --seed 1 --seconds 20 --trace 0

Run it from the root of a checkout. Every run, on either workload, goes
through the same steps, so every end-to-end metric is measured on both:

1. set-up, three times at ``local[WIDTH]``: session (re)start and the
   seeded inputs (``setup_s`` is the median);
2. an untimed warm-up: the oracles;
3. one three-round crawl with a stop and resume after round 1
   (``pages_per_s``, ``round_p50_s``, ``resume_s``,
   ``stored_bytes_per_page``), with a frontier batch after each round
   (``candidates_per_s``), and a query pass (``queries_s``), then more
   frontier batches and query passes while less than ``--seconds`` of
   measured work is done;
4. with ``--trace 1``, the same steps with spans around every layer, and
   per-layer metrics in place of the end-to-end ones.

Every pass is checked against its oracle outside the timed window; a
mismatch or an exception counts as a failed pass and fails the command.
The last line of stdout is one JSON object with ``correct``,
``attempted``, ``failed`` and ``metrics``. Each run appends its record
(host probe, ``nproc``, ``local[N]`` width, raw samples) to
``.bench_build/perfbench/runs.jsonl``; a traced run also writes its spans
and jobs to ``.bench_build/perfbench/trace-<workload>-<seed>.json``.
See ``perfbench/README.md`` for the workloads and what is left out.
"""

from __future__ import annotations

import argparse
import json
import os
import resource
import shutil
import statistics
import sys
import tempfile
import time
import traceback
from dataclasses import dataclass

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
OUT_DIR = os.path.join(ROOT, ".bench_build", "perfbench")
SETUP_REPEATS = 3
# the crawl stops after round STOP_ROUND, a fresh engine resumes and runs to
# round ROUNDS. Round 1 is the first round of the JVM and pays for compiling
# every round plan, so it is in pages_per_s only; resume_s ends with round
# 2, and round_p50_s takes the rounds that follow neither bootstrap nor
# resume (round 3; a fourth round would be the engine's periodic
# checkpoint, and the run has no time for a fifth). A frontier batch runs
# after each round, ROUNDS in all.
STOP_ROUND = 1
ROUNDS = 3
FRONTIER_PARTITIONS = 8  # pinned input splits (frontier.scaling_eff)
PROBE_MAX_AGE_S = 1800
# Spark runs local[nproc // 2]: the driver JVM, the Python driver and the
# JIT and GC threads keep the other cores, so a task thread and its Python
# worker are not queued behind them. On a 4-core host, four frontier
# batches in one session spread by 28-37% at local[4] and 11-19% at
# local[2].
NPROC = len(os.sched_getaffinity(0))
WIDTH = max(1, NPROC // 2)
# buckets of the parquet corpus: the package default (64) would leave most
# buckets of a corpus this size with a handful of rows
CORPUS_BUCKETS = 8
# frontier batch: candidate urls over FRONTIER_HOSTS hosts
CANDIDATES = 40_000
FRONTIER_HOSTS = 10_000
# scale of the query tables (sf0.1 = 600k lineitem rows); a query's time
# is per-job overhead at this size and barely moves with the scale
TABLES_SF = 0.005


@dataclass(frozen=True)
class Workload:
    hosts: int            # crawl corpus: hosts, pages per host, hot host factor
    base_pages: int
    hot_factor: int
    bucketed: bool        # bucketed parquet corpus (pruned fetch) or in-memory
    hot_share: float      # frontier batch: share of candidates on one hot host


WORKLOADS = {
    # hosts in memory, broadcast fetch: every round is mostly fixed
    # per-round overhead, so engine and driver costs dominate
    "crawl_small": Workload(hosts=50, base_pages=4, hot_factor=3, bucketed=False,
                            hot_share=0.3),
    # more hosts in a bucketed parquet corpus: the only workload whose
    # fetch takes the bucketed, pruned path
    "crawl_wide": Workload(hosts=60, base_pages=6, hot_factor=2, bucketed=True,
                           hot_share=0.0),
}

END_TO_END = {
    "setup_s": "s", "pages_per_s": "1/s", "round_p50_s": "s", "resume_s": "s",
    "stored_bytes_per_page": "bytes", "candidates_per_s": "1/s",
    "queries_s": "s", "peak_rss_mb": "MB",
}


T_START = time.monotonic()


def log(msg: str) -> None:
    print(f"[perfbench {time.monotonic() - T_START:6.1f}s] {msg}",
          file=sys.stderr, flush=True)


def start_spark(width: int, tmp: str):
    from mr_crawly_spark.functions.urls import canonicalize_udf
    from mr_crawly_spark.session import get_spark

    spark = get_spark(
        app_name="perfbench",
        master=f"local[{width}]",
        extra_conf={
            "spark.ui.showConsoleProgress": "false",
            # keep every job of a run in the status store (traced run)
            "spark.ui.retainedJobs": "100000",
            "spark.ui.retainedStages": "100000",
            "spark.driver.extraJavaOptions":
                f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    # a Python UDF object caches its JVM twin, and with it the accumulator
    # server of the session it was first used in; this drops the cache so
    # the canonicalizer binds to the new session after a restart
    canonicalize_udf.asNondeterministic()
    return spark


class Inputs:
    """The seeded inputs of one set-up, bound to one Spark session. A
    bucketed corpus is written once per run, before the set-ups, and
    opened here."""

    def __init__(self, spark, cfg: Workload, seed: int, work: str, corpus,
                 corpus_path: str | None):
        from mr_crawly_spark.datagen import corpus_to_spark
        from mr_crawly_spark.sources.corpus import CorpusFetcher

        from perfbench.inputs import FrontierInputs, write_tables

        docs, self.robots, self.sitemaps, self.seeds = corpus_to_spark(spark, corpus)
        self.fetcher = (
            CorpusFetcher(spark, path=corpus_path, n_buckets=CORPUS_BUCKETS)
            if corpus_path else CorpusFetcher(spark, documents=docs)
        )
        self.frontier = FrontierInputs(spark, seed, CANDIDATES, FRONTIER_HOSTS,
                                       cfg.hot_share, FRONTIER_PARTITIONS)
        self.tables_dir = os.path.join(work, "tables")
        write_tables(self.tables_dir, seed, TABLES_SF)


def peak_rss_mb(spark) -> float:
    """Peak resident set of this Python process plus the driver JVM."""
    py_kb = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss
    jvm_pid = spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid()
    jvm_kb = 0
    with open(f"/proc/{jvm_pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                jvm_kb = int(line.split()[1])
    return (py_kb + jvm_kb) / 1024.0


def stop_jvm(spark) -> None:
    """Stop the session, then the JVM, and wait until it has exited: the
    JVM ends when its stdin closes."""
    from pyspark import SparkContext

    proc = SparkContext._gateway.proc
    spark.stop()
    proc.stdin.close()
    proc.wait(timeout=120)
    # a later session in this process launches a new JVM
    SparkContext._gateway = SparkContext._jvm = None


class Run:
    """One benchmark run: counts passes and failures, keeps raw samples."""

    def __init__(self, name: str, cfg: Workload, seed: int, seconds: float,
                 traced: bool, work: str):
        self.name, self.cfg, self.seed = name, cfg, seed
        self.seconds, self.traced, self.work = seconds, traced, work
        self.attempted = self.failed = 0
        self.errors: list[str] = []
        self.samples: dict[str, list] = {}

    def add(self, key: str, value) -> None:
        self.samples.setdefault(key, []).append(value)

    def checked(self, what: str, fn):
        """Run one pass; a raise or a failed check counts as failed."""
        self.attempted += 1
        try:
            result, error = fn()
        except Exception:  # a pass that raises is a failed pass; keep going
            result, error = None, traceback.format_exc()
        if error:
            self.failed += 1
            self.errors.append(f"{what}: {error}")
            log(f"FAILED {what}: {error}")
        return result


def run(r: Run) -> dict:
    import bench
    import __spark_entry__ as entry_mod
    from mr_crawly_spark import engine as engine_mod
    from mr_crawly_spark.datagen import corpus_to_spark
    from mr_crawly_spark.engine import CrawlEngine
    from mr_crawly_spark.operators import seen as seen_mod
    from mr_crawly_spark.plans.catalog import SnapshotCatalog
    from mr_crawly_spark.sources.corpus import CorpusFetcher, write_bucketed_corpus

    from perfbench import phases
    from perfbench.inputs import FrontierInputs, crawl_corpus
    from perfbench.layers import layer_metrics
    from perfbench.tracing import Tracer

    cfg = r.cfg
    tmp = os.path.join(r.work, "tmp")
    record = {"workload": r.name, "seed": r.seed, "trace": int(r.traced),
              "seconds": r.seconds, "nproc": NPROC, "width": f"local[{WIDTH}]",
              "host": host_probe(bench, NPROC)}
    log(f"host probe {record['host']}")

    # the JVM starts, and a bucketed corpus is written, before the timed
    # set-ups; each set-up restarts the session and builds the inputs
    corpus = crawl_corpus(r.seed, cfg.hosts, cfg.base_pages, cfg.hot_factor)
    spark = start_spark(WIDTH, tmp)
    log("JVM started")
    corpus_path = None
    if cfg.bucketed:
        corpus_path = os.path.join(r.work, "corpus")
        write_bucketed_corpus(corpus_to_spark(spark, corpus)[0], corpus_path,
                              n_buckets=CORPUS_BUCKETS)
        log("bucketed corpus written")
    for _ in range(SETUP_REPEATS):
        spark.stop()
        t = time.perf_counter()
        spark = start_spark(WIDTH, tmp)
        inputs = Inputs(spark, cfg, r.seed, r.work, corpus, corpus_path)
        r.add("setup_s", time.perf_counter() - t)
    log(f"set-up {r.samples['setup_s']}")

    queries = entry_mod.queries()
    tracer = Tracer(spark.sparkContext, r.name, r.traced)
    for owner, attr, name in (
        (engine_mod, "select_slice", "frontier.select_slice"),
        (engine_mod, "robots_gate", "politeness.robots_gate"),
        (engine_mod, "extract_outlinks", "parse.extract_outlinks"),
        (seen_mod, "filter_unseen", "seen.filter_unseen"),
        (CorpusFetcher, "fetch", "corpus.fetch"),
        (SnapshotCatalog, "commit", "catalog.commit"),
        (SnapshotCatalog, "load_merge", "catalog.load_merge"),
        (CrawlEngine, "flush", "engine.flush"),
    ):
        tracer.patch(owner, attr, name)
    try:
        oracle, twin, expected = warm_up(inputs, corpus, phases)
        log("warm-up done")
        crawls = measure(r, spark, inputs, oracle, twin, queries, expected,
                         tracer, phases)
        layers = (layer_metrics(r, spark, inputs, tracer, crawls, phases)
                  if r.traced and not r.failed else {})
    finally:
        tracer.unpatch()
    log("measuring done")

    if layers:
        # the same frontier batch, with the same pinned input splits, on
        # one core, once the JVM is warm
        spark.stop()
        spark = start_spark(1, tmp)
        fi = FrontierInputs(spark, r.seed, CANDIDATES, FRONTIER_HOSTS,
                            cfg.hot_share, FRONTIER_PARTITIONS)
        phases.start_python_workers(spark)
        t1 = phases.frontier_pass(fi)[0]
        layers["frontier.scaling_eff"] = (
            t1 / statistics.median(r.samples["frontier_s"]) / WIDTH)
    metrics = end_to_end(r)
    metrics["peak_rss_mb"] = peak_rss_mb(spark)
    stop_jvm(spark)
    log("JVM stopped")
    record.update(metrics=metrics, samples=r.samples, attempted=r.attempted,
                  failed=r.failed, errors=r.errors)
    write_record(record)
    if r.traced:
        write_trace(r, tracer, layers, metrics)
        metrics = layers
    return {
        "correct": r.failed == 0,
        "attempted": r.attempted,
        "failed": r.failed,
        "metrics": {
            k: {"value": v, "unit": unit_of(k)} for k, v in sorted(metrics.items())
        },
    }


def warm_up(inputs: Inputs, corpus, phases):
    """The untimed work before the timed window: the oracles (the
    sequential crawler, the frontier batch's JVM twin and the DuckDB query
    twins). There is no untimed crawl, frontier or query pass: the run has
    no time for them. The crawl's first round, which starts the Python
    workers and compiles the round plans, is left out of every latency
    metric instead. Returns the oracles."""
    import __spark_entry__ as entry_mod
    from oracle.crawler import OracleCrawler

    oracle = OracleCrawler(corpus, max_rounds=ROUNDS).run()
    twin = phases.twin_ready(inputs.frontier)
    expected = phases.duckdb_expected(inputs.tables_dir, entry_mod.oracle_sql())
    return oracle, twin, expected


def measure(r: Run, spark, inputs: Inputs, oracle, twin, queries, expected,
            tracer, phases) -> list[dict]:
    """The timed window: a crawl with a frontier batch after each round, a
    query pass, then more frontier batches and query passes until
    ``seconds`` of measured work is done. Interleaving spreads the crawl's
    and the frontier's samples over the same stretch of the run, so a slow
    spell of the host moves both a little rather than one a lot. The query
    pass comes last, when the JVM is warmest."""
    crawls: list[dict] = []

    def frontier():
        t, n_ready = phases.frontier_pass(inputs.frontier)
        r.add("frontier_s", t)
        r.add("frontier_ready", n_ready)
        return t, phases.check_ready(n_ready, twin)

    def query():
        times, err = phases.query_pass(spark, queries, inputs.tables_dir,
                                       expected, tracer)
        r.add("queries", times)
        return sum(times.values()), err

    def crawl():
        wh = os.path.join(r.work, f"wh{len(crawls)}")
        res = phases.crawl_pass(spark, inputs, wh, STOP_ROUND, ROUNDS, tracer,
                                between=lambda: r.checked("frontier", frontier))
        crawls.append(res)
        for key in ("crawl_wall_s", "pages", "round_s", "resume_s", "stored_bytes"):
            r.add(key, res[key.replace("crawl_", "")])
        log(f"crawl {res['wall_s']:.1f} s, checking")
        return res["wall_s"], phases.check_crawl(res["engine"], oracle)

    spent = r.checked("crawl", crawl) or 0.0
    spent += sum(r.samples.get("frontier_s", ()))
    log("crawl done")
    spent += r.checked("queries", query) or 0.0
    n = 0
    while spent < r.seconds and not r.failed:
        n += 1
        spent += r.checked(*(("queries", query) if n % 3 == 0
                             else ("frontier", frontier))) or 0.0
    return crawls


def end_to_end(r: Run) -> dict:
    s = r.samples
    med = statistics.median
    out = {}
    if s.get("setup_s"):
        out["setup_s"] = med(s["setup_s"])
    if s.get("crawl_wall_s"):
        out["pages_per_s"] = med(p / w for p, w in zip(s["pages"], s["crawl_wall_s"]))
        out["round_p50_s"] = med(t for rounds in s["round_s"] for t in rounds)
        out["resume_s"] = med(s["resume_s"])
        out["stored_bytes_per_page"] = med(
            b / p for b, p in zip(s["stored_bytes"], s["pages"]))
    if s.get("frontier_s"):
        out["candidates_per_s"] = CANDIDATES / med(s["frontier_s"])
    if s.get("queries"):
        out["queries_s"] = med(sum(q.values()) for q in s["queries"])
    return out


def unit_of(name: str) -> str:
    if name in END_TO_END:
        return END_TO_END[name]
    from perfbench.layers import PER_LAYER

    return PER_LAYER[name]


def host_probe(bench, nproc: int) -> dict:
    """``bench.host_capacity_probe()``, re-run when the last one in this
    checkout is older than PROBE_MAX_AGE_S (it takes seconds of the run
    budget); the record carries its age. Recorded only: no metric is
    rescaled by it."""
    path = os.path.join(OUT_DIR, "host_probe.json")
    now = time.time()
    try:
        with open(path) as f:
            cached = json.load(f)
        if now - cached["at"] <= PROBE_MAX_AGE_S:
            return {**cached["probe"], "age_s": round(now - cached["at"], 1)}
    except (OSError, ValueError, KeyError):
        pass
    probe = bench.host_capacity_probe(n_procs=nproc)
    os.makedirs(OUT_DIR, exist_ok=True)
    with open(path, "w") as f:
        json.dump({"at": now, "probe": probe}, f)
    return {**probe, "age_s": 0.0}


def write_record(record: dict) -> None:
    os.makedirs(OUT_DIR, exist_ok=True)
    with open(os.path.join(OUT_DIR, "runs.jsonl"), "a") as f:
        f.write(json.dumps(record) + "\n")


def untraced_record(workload: str, seed: int) -> dict | None:
    """The latest untraced run of the same workload and seed, if any."""
    path = os.path.join(OUT_DIR, "runs.jsonl")
    if not os.path.exists(path):
        return None
    last = None
    with open(path) as f:
        for line in f:
            rec = json.loads(line)
            if rec["workload"] == workload and rec["seed"] == seed and not rec["trace"]:
                last = rec
    return last


def write_trace(r: Run, tracer, layers: dict, metrics: dict) -> None:
    """Spans, jobs, per-round accounting and the tracing overhead: the
    traced minus the untraced value of each end-to-end metric, when an
    untraced run of the same workload and seed is on record."""
    base = untraced_record(r.name, r.seed)
    overhead = (
        {k: v - base["metrics"][k] for k, v in metrics.items() if k in base["metrics"]}
        if base else None
    )
    if overhead:
        log(f"tracing overhead (traced - untraced): {overhead}")
    path = os.path.join(OUT_DIR, f"trace-{r.name}-{r.seed}.json")
    with open(path, "w") as f:
        json.dump({"workload": r.name, "seed": r.seed, "layers": layers,
                   "traced_end_to_end": metrics, "overhead": overhead,
                   "bookkeeping_s": tracer.own_s,
                   "rounds": tracer.rounds, "spans": tracer.spans,
                   "jobs": tracer.jobs}, f)
    log(f"trace written to {path}")


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args(argv)

    work = os.path.join(OUT_DIR, f"work-{args.workload}-{args.seed}-{os.getpid()}")
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    # everything the run writes stays inside the checkout: Spark's local
    # dirs, temp files of Python, its Spark workers and the JVM
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    # a small heap that every run fills keeps the peak resident set steady
    os.environ["SPARK_DRIVER_MEM"] = "1g"
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p])
    sys.path.insert(0, ROOT)

    r = Run(args.workload, WORKLOADS[args.workload], args.seed, args.seconds,
            bool(args.trace), work)
    try:
        result = run(r)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(result), flush=True)
    return 0 if result["correct"] else 1


if __name__ == "__main__":
    sys.exit(main())
