"""Seeded inputs for the benchmark.

Everything the package receives is generated here from the workload seed,
so the same seed always gives the same inputs:

- ``crawl_corpus``: a synthetic web (``datagen.Corpus``) with seeded host
  names, page counts, link picks, robots rules and sitemaps. One object
  feeds both the engine and the sequential oracle.
- ``FrontierInputs``: the ``frontier_throughput`` candidate stream (six
  href forms, one hot host) with a seeded id offset and hot-host choice,
  plus the JVM-only canonical twin used as its correctness gate.
- ``write_tables``: TPC-H-ish ``documents`` / ``lineitem`` / ``orders`` /
  ``part`` parquet files shaped like the sf fixtures, one row group each.
"""

from __future__ import annotations

import os
import random

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import functions as F

from mr_crawly_spark.datagen import Corpus
from mr_crawly_spark.functions.urls import url_hash_col

WORDS = (
    "batch part spark line column order small sort fast value scan hash slow "
    "group agg filter query big key window row table stream merge data a "
    "vector index join shuffle task stage page link host crawl seen fetch"
).split()
ROBOTS_DELAYS = (5.0, 15.0, 30.0)


def _spans(rng: random.Random, url: str, host: str, hosts: list[str],
           page_urls: list[str]) -> list[dict]:
    """Text / link / media spans of one page. Links take the six href forms
    the canonicalizer must handle: root-relative, dot-segments, default
    port plus fragment, absolute, cross-domain and percent-escaped query."""
    spans: list[dict] = []

    def add(kind: str, text: str | None, media_ref: str | None) -> None:
        spans.append({"kind": kind, "text": text, "media_ref": media_ref,
                      "offset": len(spans)})

    add("text", f"intro {rng.choice(WORDS)} {url}", None)
    first_href = None
    # the next two pages of the host come first, so discovery runs ahead of
    # the politeness budget whatever the seed; the rest are random picks
    i = page_urls.index(url)
    ahead = [page_urls[(i + d) % len(page_urls)] for d in (1, 2)]
    for li in range(rng.randint(3, 6)):
        target = ahead[li] if li < 2 else rng.choice(page_urls)
        tpath = target.split(host + "/", 1)[1]
        form = rng.randrange(6)
        if form == 0:
            href = "/" + tpath
        elif form == 1:
            href = "../" + tpath if tpath else "."
        elif form == 2:
            href = f"https://{host}:443/{tpath}#frag"
        elif form == 3:
            href = target
        elif form == 4 and li >= 2:
            href = f"https://{rng.choice(hosts)}/p/1"
        else:
            href = "/" + tpath + "?a=%7e"
        if first_href is None and form != 4:
            first_href = href
        add("link", href, None)
        if rng.random() < 0.3:
            add("text", f"between {li} {rng.choice(WORDS)}", None)
        if rng.random() < 0.25:
            add("media", None, f"img://{host}/{rng.randrange(1000)}.png")
    if first_href is not None and rng.random() < 0.3:
        add("link", first_href, None)  # in-page duplicate
    add("text", f"footer {rng.choice(WORDS)}", None)
    return spans


def crawl_corpus(seed: int, n_hosts: int, base_pages: int,
                 hot_factor: int) -> Corpus:
    """A Zipf-shaped synthetic web of ``n_hosts`` hosts. One seeded hot
    host holds ``base_pages * hot_factor`` pages; every host is a seed."""
    rng = random.Random(f"corpus:{seed}")
    tag = f"{rng.getrandbits(20):05x}"
    c = Corpus()
    c.hosts = [f"{rng.choice(WORDS)}{i}-{tag}.test" for i in range(n_hosts)]
    ranks = list(range(1, n_hosts + 1))
    rng.shuffle(ranks)
    pages: dict[str, list[str]] = {}
    for host, rank in zip(c.hosts, ranks):
        n = base_pages * hot_factor if rank == 1 else max(3, int(base_pages / rank**0.8))
        pages[host] = (
            [f"https://{host}/"]
            + [f"https://{host}/p/{j}" for j in range(1, n + 1)]
            + [f"https://{host}/private/{j}" for j in range(1, max(1, n // 10) + 1)]
        )
    for host in c.hosts:
        for url in pages[host]:
            c.documents.append(
                {"doc_id": url, "spans": _spans(rng, url, host, c.hosts, pages[host])}
            )
    # robots rules and sitemap layout follow each host's size rank, so every
    # seed crawls the same shape; the seed moves names, ranks and links
    for host, rank in zip(c.hosts, ranks):
        # the hot host has the shortest delay (8 pages a round); every other
        # even rank has rules, the rest default allow and delay
        if rank == 1 or rank % 2 == 0:
            delay = ROBOTS_DELAYS[0 if rank == 1 else rank % 3]
            c.robots.append({"host": host, "rule_order": 0, "allow": False,
                             "path_prefix": "/private/", "crawl_delay": delay})
            c.robots.append({"host": host, "rule_order": 1, "allow": True,
                             "path_prefix": "/", "crawl_delay": delay})
    for host, rank in zip(c.hosts, ranks):
        urls = pages[host]
        kind = rank % 3
        if kind == 0:  # sitemap index -> two leaves
            leaves = [f"https://{host}/sitemap-a.xml", f"https://{host}/sitemap-b.xml"]
            c.sitemaps_raw.append(
                {"url": f"https://{host}/sitemap-index.xml", "host": host,
                 "is_index": True, "locs": leaves, "first_loc": None,
                 "first_priority": None, "first_changefreq": None,
                 "first_lastmod": None})
            for k, leaf in enumerate(leaves):
                # the hot host announces one page that was never generated
                floc = (f"https://{host}/missing/{k}" if rank == 1 and k == 1
                        else rng.choice(urls))
                c.sitemaps_raw.append(
                    {"url": leaf, "host": host, "is_index": False,
                     "locs": [floc], "first_loc": floc,
                     "first_priority": round(0.9 - 0.2 * k, 1),
                     "first_changefreq": "weekly",
                     "first_lastmod": f"2025-01-0{k + 1}"})
        elif kind == 1:  # a single /sitemap.xml
            floc = rng.choice(urls)
            c.sitemaps_raw.append(
                {"url": f"https://{host}/sitemap.xml", "host": host,
                 "is_index": False, "locs": [floc], "first_loc": floc,
                 "first_priority": 0.8, "first_changefreq": "daily",
                 "first_lastmod": "2025-02-01"})
        # kind 2: no sitemap -> the seed url itself enters the frontier
    c.seeds = [
        {"seed_url_id": i + 1, "domain": h, "url": f"https://{h}/",
         "description": f"seed {i}"}
        for i, h in enumerate(c.hosts)
    ]
    return c


class FrontierInputs:
    """The frontier_throughput candidate stream over ``n_hosts`` hosts,
    ``hot_share`` of it on one hot host, with ids starting at a seeded
    offset. ``seen`` holds the canonical forms of the first half's
    targets, served like the engine's flush base (hash-partitioned,
    sorted, checkpointed); ``budgets`` gives every host ``k_host``."""

    def __init__(self, spark, seed: int, n_candidates: int, n_hosts: int,
                 hot_share: float, partitions: int, k_host: int = 64):
        rng = random.Random(f"frontier:{seed}")
        self.n_candidates = n_candidates
        self.n_hosts = n_hosts
        self.offset = rng.randrange(1 << 32)
        self.hot_pct = int(round(hot_share * 100))
        self.hot_host = rng.randrange(n_hosts)
        self.tag = f"{rng.getrandbits(20):05x}"
        self.n_targets = max(n_candidates // 4, 1)
        ids = spark.range(self.offset, self.offset + n_candidates,
                          numPartitions=partitions)
        host = self.host_col(F.col("id"))
        self.candidates = ids.select(
            F.concat(F.lit("https://"), host, F.lit("/p/"),
                     F.col("id").cast("string")).alias("base"),
            self.href_col(F.col("id"), host).alias("href"),
            F.col("id"),
        )
        n_parts = int(spark.conf.get("spark.sql.shuffle.partitions"))
        seen_ids = spark.range(self.offset, self.offset + n_candidates // 2,
                               numPartitions=partitions)
        seen_plan = (
            seen_ids.select(self.canonical_col(F.col("id")).alias("url"))
            .withColumn("url_hash", url_hash_col(F.col("url")))
            .repartition(n_parts, F.col("url_hash"), F.col("url"))
            .sortWithinPartitions("url_hash", "url")
        )
        prev_aqe = spark.conf.get("spark.sql.adaptive.enabled")
        spark.conf.set("spark.sql.adaptive.enabled", "false")
        try:
            self.seen = seen_plan.localCheckpoint()
        finally:
            spark.conf.set("spark.sql.adaptive.enabled", prev_aqe)
        self.budgets = spark.range(n_hosts).select(
            self._host_name(F.col("id")).alias("host"),
            F.lit(k_host).alias("k_host"),
        ).localCheckpoint()

    def _host_name(self, k):
        return F.concat(F.lit("h"), k.cast("string"), F.lit(f"-{self.tag}.test"))

    def host_col(self, id_col):
        k = F.pmod(F.xxhash64(id_col), F.lit(self.n_hosts))
        if self.hot_pct:
            k = F.when(F.pmod(id_col, F.lit(100)) < self.hot_pct,
                       F.lit(self.hot_host).cast("long")).otherwise(k)
        return self._host_name(k)

    def _target(self, id_col):
        return F.pmod(id_col * 7 + 1, F.lit(self.n_targets)).cast("string")

    def href_col(self, id_col, host):
        t = self._target(id_col)
        form = F.pmod(id_col, F.lit(6))
        return (
            F.when(form == 0, F.concat(F.lit("../p/"), t))
            .when(form == 1, F.concat(F.lit("/p/"), t))
            .when(form == 2, F.concat(F.lit("https://"), host, F.lit(":443/p/"), t, F.lit("#frag")))
            .when(form == 3, F.concat(F.lit("https://"), host, F.lit("/p/"), t))
            .when(form == 4, F.concat(F.lit("../p/"), t, F.lit("?x=%7e")))
            .otherwise(F.concat(F.lit("/p/"), t, F.lit("#s")))
        )

    def canonical_col(self, id_col):
        """JVM-side twin of canonicalize_url over the six href forms: only
        form 4 keeps a query; ports, fragments and dot-segments go."""
        suffix = F.when(F.pmod(id_col, F.lit(6)) == 4, F.lit("?x=~")).otherwise(F.lit(""))
        return F.concat(F.lit("https://"), self.host_col(id_col), F.lit("/p/"),
                        self._target(id_col), suffix)


def _ts(rng: np.random.Generator, n: int) -> pa.Array:
    days = rng.integers(0, 365 * 10, n).astype("timedelta64[D]")
    return pa.array((np.datetime64("1992-01-01") + days).astype("datetime64[us]"))


def write_tables(out_dir: str, seed: int, sf: float) -> None:
    """Seeded sf-shaped tables, one parquet file (one row group) each:
    ``documents`` 50k*sf rows, ``lineitem`` 6M*sf, ``orders`` 1.5M*sf,
    ``part`` 200k*sf."""
    rng = np.random.default_rng(seed)
    os.makedirs(out_dir, exist_ok=True)
    n_docs, n_li = int(50_000 * sf), int(6_000_000 * sf)
    n_orders, n_part = int(1_500_000 * sf), int(200_000 * sf)
    vocab = np.array(WORDS)
    lens = rng.integers(5, 60, n_docs)
    texts = [" ".join(vocab[rng.integers(0, len(vocab), n)]) for n in lens]
    langs = np.array(["en", "de", "fr", "es", "zh", "ja"])
    tables = {
        "documents": pa.table({
            "doc_id": pa.array(np.arange(n_docs, dtype=np.int64)),
            "text": pa.array(texts),
            "lang": pa.array(langs[rng.integers(0, len(langs), n_docs)]),
            "source": pa.array([f"src{k}" for k in rng.integers(0, 5, n_docs)]),
            "n_chars": pa.array([len(t) for t in texts], type=pa.int64()),
        }),
        "lineitem": pa.table({
            "l_orderkey": pa.array(rng.integers(0, n_orders, n_li), type=pa.int64()),
            "l_partkey": pa.array(rng.integers(0, n_part, n_li), type=pa.int64()),
            "l_suppkey": pa.array(rng.integers(0, max(1, n_part // 20), n_li), type=pa.int64()),
            "l_linenumber": pa.array(rng.integers(1, 8, n_li), type=pa.int32()),
            "l_quantity": pa.array(rng.integers(1, 51, n_li).astype(np.float64)),
            "l_extendedprice": pa.array(np.round(rng.uniform(900, 100_000, n_li), 2)),
            "l_discount": pa.array(rng.integers(0, 11, n_li) / 100.0),
            "l_tax": pa.array(rng.integers(0, 9, n_li) / 100.0),
            "l_returnflag": pa.array(np.array(["A", "N", "R"])[rng.integers(0, 3, n_li)]),
            "l_linestatus": pa.array(np.array(["F", "O"])[rng.integers(0, 2, n_li)]),
            "l_shipdate": _ts(rng, n_li),
        }),
        "orders": pa.table({
            "o_orderkey": pa.array(np.arange(n_orders, dtype=np.int64)),
            "o_custkey": pa.array(rng.integers(0, max(1, n_orders // 10), n_orders), type=pa.int64()),
            "o_orderstatus": pa.array(np.array(["F", "O", "P"])[rng.integers(0, 3, n_orders)]),
            "o_totalprice": pa.array(np.round(rng.uniform(900, 500_000, n_orders), 2)),
            "o_orderdate": _ts(rng, n_orders),
            "o_orderpriority": pa.array(
                np.array(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"])[
                    rng.integers(0, 5, n_orders)]),
        }),
        "part": pa.table({
            "p_partkey": pa.array(np.arange(n_part, dtype=np.int64)),
            "p_name": pa.array([f"{WORDS[a]} {WORDS[b]}" for a, b in
                                rng.integers(0, len(WORDS), (n_part, 2))]),
            "p_brand": pa.array([f"Brand#{k}" for k in rng.integers(1, 26, n_part)]),
            "p_type": pa.array(np.array(["LARGE", "SMALL", "ECONOMY", "STANDARD"])[
                rng.integers(0, 4, n_part)]),
            "p_size": pa.array(rng.integers(1, 51, n_part), type=pa.int32()),
            "p_retailprice": pa.array(np.round(rng.uniform(900, 2000, n_part), 1)),
        }),
    }
    for name, table in tables.items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"),
                       row_group_size=1 << 30)
