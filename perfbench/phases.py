"""The three phases every benchmark run goes through, each with its
correctness gate, checked outside the timed window:

- ``crawl_pass``: bootstrap, rounds up to ``stop_round``, flush, a fresh
  engine on the same warehouse, ``resume()``, rounds up to ``rounds``,
  flush. Only rounds that follow neither bootstrap nor resume count as
  ordinary rounds (``round_s``); the round after ``resume()`` is in
  ``resume_s``. Other timed work may run after each round; it is left
  out of the crawl's wall time.
  Gate: crawl order and seen set equal ``oracle.crawler.OracleCrawler``
  on the same corpus.
- ``frontier_pass``: canonicalize -> hash -> ``filter_unseen`` ->
  ``select_slice`` over the synthetic candidate stream. Gate: ``n_ready``
  equals the count from the UDF-free JVM twin plan.
- ``query_pass``: the fixed ``__spark_entry__`` query list, each forced by
  collecting its rows. Gate: those rows equal the DuckDB ``oracle_sql()``
  twin as a multiset of rows rounded to 4 places.

Every call into the package goes through its public entry points. The
package functions are bound at import, before the traced run patches the
module attributes, so the benchmark's own calls are never double-wrapped.
"""

from __future__ import annotations

import math
import os
import time
from collections import Counter
from decimal import Decimal

from pyspark.sql import functions as F

from mr_crawly_spark.engine import CrawlConfig, CrawlEngine
from mr_crawly_spark.functions.urls import canonicalize_udf, url_hash_col
from mr_crawly_spark.operators.frontier import select_slice
from mr_crawly_spark.operators.seen import filter_unseen

# the leaves ROADMAP items 4 and the carried dedup/kmv items will move
QUERIES = ("frontier_merge", "cms", "dup_ngrams", "dsir", "dedup_e2e", "kmv",
           "kmv_sets")
QUERY_TABLES = ("documents", "lineitem", "orders", "part")


def force(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def dir_bytes(path: str) -> int:
    return sum(
        os.path.getsize(os.path.join(dp, f))
        for dp, _dn, fns in os.walk(path) for f in fns
    )


# --------------------------------------------------------------------------- #
# crawl


def crawl_pass(spark, inputs, warehouse: str, stop_round: int, rounds: int,
               tracer, between) -> dict:
    """``rounds`` crawl rounds with a stop and resume after ``stop_round``.
    ``between`` runs after each round; its time is not in ``wall_s``.
    Returns the timings and outcome counts; the oracle gate runs in
    ``check_crawl``. ``round_s`` holds the ordinary rounds only."""
    paused = 0.0

    def pause():
        nonlocal paused
        t = time.perf_counter()
        between()
        paused += time.perf_counter() - t

    def engine():
        return CrawlEngine(spark, inputs.fetcher, inputs.robots,
                           inputs.sitemaps, inputs.seeds,
                           CrawlConfig(warehouse=warehouse, max_rounds=rounds))

    round_s: list[float] = []
    history: list[dict] = []

    def one_round(eng, ordinary: bool = True):
        tracer.round = eng.round + 1
        t = time.perf_counter()
        with tracer.span("engine.round", group=True):
            history.append(eng.run_round())
        if ordinary:
            round_s.append(time.perf_counter() - t)
        tracer.round = None

    eng = engine()
    t0 = time.perf_counter()
    with tracer.span("engine.bootstrap", group=True):
        eng.bootstrap()
    while eng.round < stop_round and eng.has_pending():
        one_round(eng, ordinary=eng.round > 0)
        pause()
    with tracer.span("bench.flush", group=True):
        eng.flush()
    t_resume = time.perf_counter()
    with tracer.span("engine.resume", group=True):
        eng = engine()
        if not eng.resume():
            raise RuntimeError("resume() found no checkpoint")
    if not eng.has_pending():
        raise RuntimeError(f"crawl drained before the stop at round {stop_round}")
    one_round(eng, ordinary=False)
    resume_s = time.perf_counter() - t_resume
    pause()
    while eng.has_pending() and eng.round < rounds:
        one_round(eng)
        pause()
    if eng.round < rounds:
        raise RuntimeError(f"crawl drained at round {eng.round} of {rounds}")
    with tracer.span("bench.flush", group=True):
        eng.flush()
    return {
        "engine": eng,
        "wall_s": time.perf_counter() - t0 - paused,
        "round_s": round_s,
        "resume_s": resume_s,
        "pages": eng.visited_count,
        "history": history,
        "stored_bytes": dir_bytes(warehouse),
    }


def check_crawl(eng, oracle) -> str | None:
    """None when the engine's crawl order and seen set equal the oracle's."""
    got = [r["url"] for r in eng.crawl_order().orderBy("rank").collect()]
    if got != oracle.crawl_order:
        return f"crawl order differs: {len(got)} pages vs oracle {len(oracle.crawl_order)}"
    seen = {r["url"] for r in eng.table("seen").select("url").collect()}
    if seen != oracle.seen:
        return f"seen set differs: {len(seen)} urls vs oracle {len(oracle.seen)}"
    return None


# --------------------------------------------------------------------------- #
# frontier


def canonical_candidates(fi, canon_col=None):
    """(url, url_hash) of the deduplicated canonical candidates; the
    canonicalizer is the Arrow UDF unless the JVM twin column is given."""
    if canon_col is None:
        canon = fi.candidates.select(
            canonicalize_udf(F.col("base"), F.col("href")).alias("url")
        ).filter(F.col("url").isNotNull())
    else:
        canon = fi.candidates.select(canon_col(F.col("id")).alias("url"))
    return canon.withColumn("url_hash", url_hash_col(F.col("url"))).dropDuplicates(
        ["url_hash", "url"]
    )


def frontier_rows(fresh):
    return fresh.select(
        "url",
        "url_hash",
        F.regexp_extract("url", r"https://([^/]+)/", 1).alias("host"),
        F.lit("pending").alias("status"),
        F.lit(0.5).alias("priority"),
        F.lit(0).alias("retry_count"),
        F.lit(0.0).alias("next_attempt_at"),
        F.lit(0).alias("discovered_round"),
    )


def slice_of(fi, fresh):
    return select_slice(frontier_rows(fresh), fi.budgets, t_round=1.0,
                        budget_rows=fi.n_hosts)


def frontier_pass(fi) -> tuple[float, int]:
    """Wall time and ``n_ready`` of one canonicalize -> hash ->
    filter_unseen -> select_slice batch."""
    t0 = time.perf_counter()
    fresh = filter_unseen(canonical_candidates(fi), fi.seen)
    n_ready = slice_of(fi, fresh).count()
    return time.perf_counter() - t0, n_ready


def check_ready(n_ready: int, twin: int) -> str | None:
    return None if n_ready == twin else f"n_ready {n_ready} vs twin {twin}"


def start_python_workers(spark) -> None:
    """Start the session's Python worker with a one-row canonicalize, so
    the first timed batch does not pay for it."""
    force(spark.range(1, numPartitions=1).select(
        canonicalize_udf(F.lit("https://w.test/"), F.lit("a")).alias("url")))


def twin_ready(fi) -> int:
    """``n_ready`` of the same pipeline with the JVM canonical twin in
    place of the Arrow UDF."""
    fresh = filter_unseen(canonical_candidates(fi, fi.canonical_col), fi.seen)
    return slice_of(fi, fresh).count()


# --------------------------------------------------------------------------- #
# queries


def query_pass(spark, queries: dict, tables_dir: str, expected: dict,
               tracer) -> tuple[dict[str, float], str | None]:
    """Run the query list, each query forced by collecting its rows, and
    check the rows against the DuckDB twins outside the timed window."""
    times, error = {}, None
    for name in QUERIES:
        t = time.perf_counter()
        with tracer.span(f"query.{name}", group=True):
            df = queries[name](spark, tables_dir)
            rows = df.collect()
        times[name] = time.perf_counter() - t
        if error is None and name in expected:
            error = check_rows(name, df.columns, rows, expected[name])
    return times, error


def _norm(v):
    if v is None:
        return None
    if isinstance(v, float):
        return "nan" if math.isnan(v) else round(v, 4)
    if isinstance(v, Decimal):
        return round(float(v), 4)
    if hasattr(v, "isoformat"):
        return v.isoformat()
    return v


def _rows(cols, records) -> Counter:
    idx = sorted(range(len(cols)), key=lambda i: cols[i])
    return Counter(tuple(_norm(rec[i]) for i in idx) for rec in records)


def duckdb_expected(tables_dir: str, oracles: dict) -> dict[str, tuple]:
    """(sorted column names, row multiset) of each query's DuckDB twin over
    the same parquet files."""
    import duckdb

    con = duckdb.connect()
    try:
        for t in QUERY_TABLES:
            path = os.path.join(tables_dir, f"{t}.parquet")
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')")
        out = {}
        for name in QUERIES:
            if name in oracles:
                res = con.execute(oracles[name])
                cols = [d[0] for d in res.description]
                out[name] = (sorted(cols), _rows(cols, res.fetchall()))
        return out
    finally:
        con.close()


def check_rows(name: str, columns: list[str], rows, expected: tuple) -> str | None:
    cols, want = expected
    if sorted(columns) != cols:
        return f"{name}: columns {sorted(columns)} vs duckdb {cols}"
    got = _rows(columns, [tuple(r) for r in rows])
    if got != want:
        return (f"{name}: {sum(got.values())} rows differ from duckdb's "
                f"{sum(want.values())}")
    return None
