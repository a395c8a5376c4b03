"""`crawl`: a multi-round frontier crawl over a skewed pages corpus.

30 % of the pages sit on one heavy host; a politeness table gives each
host a budget of 4-10 fetches per round and robots rules block one host
and throttle another; a round schedules ~1k URLs. bloom_min_seen is
low, so round 0 runs the exact seen anti-join and round 1 the bloom
probe. One step is one whole crawl: CrawlScheduler.init_from_seeds,
then ROUNDS × run_round, each round writing its four snapshot tables
and a 64-bucket seen delta. The single-threaded OracleScheduler runs
the same crawl once at set-up, untimed; every round's fetch order is
checked against it after the timed section.
"""

from __future__ import annotations

import glob
import json
import os
import statistics
import time

from pyspark.sql import functions as F

from go_htmldate_spark.operators.extract import extract_dates
from go_htmldate_spark.options import Options
from go_htmldate_spark.plans.bloom import probe_blooms
from go_htmldate_spark.plans.canonical import (
    canonicalize_url,
    canonicalize_url_py,
    url_hash,
    url_host,
)
from go_htmldate_spark.plans.oracle import OracleScheduler
from go_htmldate_spark.plans.scheduler import CrawlConfig, CrawlScheduler, fetch_join
from go_htmldate_spark.sources.pages import synth_pages

N_PAGES = 20_000
N_HOSTS = 200
SEEDS_PER_HOST = 8
BUDGETS = (4, 6, 8, 10)  # host h fetches at most BUDGETS[h % 4] URLs a round
ROUNDS = 2
MIN_STEPS = 1  # one crawl outlasts --seconds
# bench.py's bloom sizing and the default 64 seen buckets; bloom_min_seen
# low enough that rounds after the first probe the bloom filter
CONFIG = CrawlConfig(bloom_min_seen=100, n_bloom_partitions=8, bloom_bits=1 << 18)
ROBOTS = [  # host, [(path prefix, allow)], crawl_delay
    ("site0.example.org", [("/posts/article-1", False), ("/posts/article-12", True)], None),
    ("site3.example.org", [("/", False)], None),
    ("site2.example.org", [], 25.0),
]
ROBOTS_SCHEMA = (
    "host string, rules array<struct<path_prefix:string, allow:boolean>>, "
    "crawl_delay double"
)


def _budgets() -> list[tuple[str, float]]:
    return [(f"site{h}.example.org", float(BUDGETS[h % len(BUDGETS)]))
            for h in range(N_HOSTS)]


def setup(spark, data: str, seed: int) -> dict:
    path = os.path.join(data, "pages")
    synth_pages(
        spark, N_PAGES, seed=seed, n_hosts=N_HOSTS, heavy_host_share=30
    ).write.mode("overwrite").parquet(path)
    robots = spark.createDataFrame(
        [(h, [{"path_prefix": p, "allow": a} for p, a in rules], d)
         for h, rules, d in ROBOTS],
        ROBOTS_SCHEMA,
    )
    budgets = spark.createDataFrame(_budgets(), "host string, politeness_budget double")
    return {"path": path, "data": data, "robots": robots, "budgets": budgets,
            "crawls": []}


def _expected_date(stage: str, planted: str) -> str:
    """The date the crawl's extraction (skip_extensive_search=True) finds:
    the planted one, except that a bare copyright year needs the
    extensive search."""
    return "" if stage == "copyright" else planted


def prepare_oracle(spark, state: dict) -> None:
    """Seeds and the oracle's fetch log, from the generated corpus. Runs
    once, untimed."""
    rows = spark.read.parquet(state["path"]).select(
        "url", "host", "planted_stage", "expected_date", "outlinks"
    ).collect()
    by_host: dict[str, list[str]] = {}
    for r in rows:
        by_host.setdefault(r["host"], []).append(r["url"])
    seeds = [
        (u, 1.0 + (i % 3) * 0.5)
        for host in sorted(by_host)
        for i, u in enumerate(sorted(by_host[host])[:SEEDS_PER_HOST])
    ]
    oracle = OracleScheduler(
        pages={
            canonicalize_url_py(r["url"]): (
                _expected_date(r["planted_stage"], r["expected_date"]),
                list(r["outlinks"]),
            )
            for r in rows
        },
        robots={h: rules for h, rules, _ in ROBOTS},
        budgets=dict(_budgets()),
        delays={h: d for h, _, d in ROBOTS if d is not None},
        round_seconds=CONFIG.round_seconds,
    )
    oracle.init_from_seeds(seeds)
    state["oracle_log"] = oracle.run(ROUNDS)
    state["seeds"] = spark.createDataFrame(seeds, "url string, priority double")


def step(spark, state: dict, tracer) -> dict:
    d = os.path.join(state["data"], f"crawl_{len(state['crawls'])}")
    state["crawls"].append(d)
    pages = spark.read.parquet(state["path"])
    rounds, manifests = [], []
    with tracer.span("crawl"):
        t0 = time.perf_counter()
        sched = CrawlScheduler(
            spark, pages, state["robots"], state["budgets"], d, CONFIG
        )
        sched.init_from_seeds(state["seeds"])
        for _ in range(ROUNDS):
            with tracer.span("crawl.round"):
                tr = time.perf_counter()
                manifests.append(sched.run_round())
                rounds.append(time.perf_counter() - tr)
        wall = time.perf_counter() - t0
    return {
        "wall": wall,
        "rounds": rounds,
        "items": sum(m["n_fetched"] for m in manifests),
        "scheduled": [m["n_scheduled"] for m in manifests],
    }


def summarize(steps: list[dict]) -> dict:
    rounds = [w for s in steps for w in s["rounds"]]
    return {
        "throughput_per_s": statistics.median(s["items"] / s["wall"] for s in steps),
        "step_p50_s": statistics.median(rounds),
        "step_max_s": max(rounds),
    }


REPORT = {
    "crawl_urls_per_s": ("throughput_per_s", "urls/s"),
    "crawl_round_p50_s": ("step_p50_s", "s"),
    "crawl_round_max_s": ("step_max_s", "s"),
}


def _fetch_order(spark, d: str, r: int) -> list[str]:
    rows = (
        spark.read.parquet(os.path.join(d, f"round_{r}", "fetched"))
        .orderBy(F.desc("priority"), F.asc("url")).select("url").collect()
    )
    return [x["url"] for x in rows]


def _manifest(d: str, r: int) -> dict:
    with open(os.path.join(d, f"round_{r}", "manifest.json")) as f:
        return json.load(f)


def check(spark, state: dict, steps: list[dict]) -> tuple[int, int]:
    """Per crawl and round: fetch-order positions that differ from the
    oracle's, fetched URLs missing on either side, and scheduled URLs
    the corpus did not hold (n_missing)."""
    attempted = failed = 0
    for d in state["crawls"]:
        for r, want in enumerate(state["oracle_log"]):
            got = _fetch_order(spark, d, r)
            attempted += len(want)
            failed += sum(a != b for a, b in zip(got, want))
            failed += abs(len(got) - len(want))
            failed += _manifest(d, r)["n_missing"]
    return attempted, failed


def _files_and_bytes(path: str) -> tuple[int, int]:
    files = [p for p in glob.glob(os.path.join(path, "**"), recursive=True)
             if os.path.isfile(p)]
    return (sum(p.endswith(".parquet") for p in files),
            sum(os.path.getsize(p) for p in files))


def _timed_noop(df) -> float:
    t0 = time.perf_counter()
    df.write.format("noop").mode("overwrite").save()
    return time.perf_counter() - t0


def layers(spark, state: dict, steps: list[dict], tracer) -> dict:
    """Each layer of every round of the last crawl, called alone over
    that round's inputs as read back from its snapshot."""
    d = state["crawls"][-1]
    corpus = spark.read.parquet(state["path"]).withColumn(
        "url_canon", canonicalize_url(F.col("url"))
    )
    out = {}
    for r in range(ROUNDS):
        base = os.path.join(d, f"round_{r}")
        out[f"plans.scheduler.scheduled.r{r}"] = steps[-1]["scheduled"][r]
        chain = _manifest(d, r)["seen_chain"]
        out[f"plans.scheduler.seen_chain_files.r{r}"] = sum(
            _files_and_bytes(os.path.join(d, seg))[0] for seg in chain
        )
        # tasks of the seen scan the next round's anti-join reads
        out[f"plans.scheduler.seen_scan_tasks.r{r}"] = sum(
            spark.read.parquet(os.path.join(d, seg)).rdd.getNumPartitions()
            for seg in chain
        )
        out[f"plans.scheduler.snapshot_bytes.r{r}"] = _files_and_bytes(base)[1]

        keys = spark.read.parquet(os.path.join(base, "fetched")).select(
            "url",
            url_hash(F.col("url")).alias("url_hash"),
            url_host(F.col("url")).alias("host"),
            "priority",
        )
        fetched = fetch_join(corpus.select("url_canon", "html", "outlinks"), keys)
        with tracer.span("plans.scheduler.fetch_join"):
            out[f"plans.scheduler.fetch_join_s.r{r}"] = _timed_noop(fetched)
        staged = os.path.join(state["data"], "layer_fetched")
        fetched.select("url", "url_hash", "host", "priority", "html", "outlinks") \
            .write.mode("overwrite").parquet(staged)
        rows = spark.read.parquet(staged)
        with tracer.span("plans.scheduler.extract"):
            out[f"plans.scheduler.extract_s.r{r}"] = _timed_noop(
                extract_dates(rows, Options(skip_extensive_search=True))
            )

        links = os.path.join(state["data"], "layer_links")
        rows.select(F.explode("outlinks").alias("out_url")) \
            .write.mode("overwrite").parquet(links)
        canon = canonicalize_url(F.col("out_url"))
        with tracer.span("plans.canonical.discover"):
            out[f"plans.canonical.discover_s.r{r}"] = _timed_noop(
                spark.read.parquet(links).select(canon.alias("url")).select(
                    "url", url_hash(F.col("url")), url_host(F.col("url"))
                )
            )

        if r == 0:
            continue  # round 0 runs the exact anti-join alone
        prev = os.path.join(d, f"round_{r - 1}")
        pending = spark.read.parquet(os.path.join(prev, "frontier"))
        blooms = spark.read.parquet(os.path.join(prev, "blooms"))
        with tracer.span("plans.bloom.probe"):
            t0 = time.perf_counter()
            row = probe_blooms(
                pending, blooms, CONFIG.n_bloom_partitions, CONFIG.bloom_bits
            ).agg(
                F.count(F.lit(1)).alias("n"),
                F.count(F.when(F.col("maybe_seen"), 1)).alias("maybe"),
            ).first()
            out[f"plans.bloom.probe_s.r{r}"] = time.perf_counter() - t0
        out[f"plans.bloom.maybe_seen_share.r{r}"] = row["maybe"] / max(row["n"], 1)
    return out

