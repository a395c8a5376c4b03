"""Frontier parity + bloom + resume tests [north-rule gate]:
the distributed scheduler must match the single-threaded oracle's
per-round fetch ordering and final URL-seen set exactly, and resume
from any snapshot."""

from __future__ import annotations

from datetime import date

import pyspark.sql.functions as F
import pytest

from go_htmldate_spark.options import Options
from go_htmldate_spark.plans.bloom import build_blooms, probe_blooms
from go_htmldate_spark.plans.canonical import canonicalize_url, canonicalize_url_py
from go_htmldate_spark.plans.oracle import OracleScheduler
from go_htmldate_spark.plans.scheduler import CrawlConfig, CrawlScheduler
from go_htmldate_spark.sources.pages import synth_pages

N_PAGES = 300
N_ROUNDS = 4


@pytest.fixture(scope="module")
def corpus(spark):
    pages = synth_pages(
        spark, N_PAGES, seed=42, n_hosts=12, heavy_host_share=40
    ).cache()
    pages.count()
    return pages


@pytest.fixture(scope="module")
def corpus_dates(spark, corpus):
    """Per-page extracted date (fast mode), shared by both schedulers so
    the parity test isolates scheduling, not extraction."""
    from go_htmldate_spark.operators.extract import extract_dates

    rows = (
        extract_dates(corpus, Options(skip_extensive_search=True))
        .select("url", "date", "outlinks")
        .collect()
    )
    return {
        canonicalize_url_py(r.url): (r.date, list(r.outlinks)) for r in rows
    }


ROBOTS = [
    ("site0.example.org", [("/posts/article-1", False), ("/posts/article-12", True)], 1.0),
    ("site3.example.org", [("/", False)], 1.0),  # fully disallowed host
]
BUDGETS = [("site0.example.org", 3.0), ("site1.example.org", 1.0), ("site2.example.org", 5.0)]


def _robots_df(spark):
    return spark.createDataFrame(
        [
            (h, [{"path_prefix": p, "allow": a} for p, a in rules], d)
            for h, rules, d in ROBOTS
        ],
        "host string, rules array<struct<path_prefix:string, allow:boolean>>, crawl_delay double",
    )


def _budget_df(spark):
    return spark.createDataFrame(BUDGETS, "host string, politeness_budget double")


def _seeds(corpus):
    urls = [r.url for r in corpus.select("url").orderBy("url").limit(12).collect()]
    return [(u, 1.0 + (i % 3) * 0.5) for i, u in enumerate(urls)]


def _run_oracle(corpus_dates, seeds, n_rounds=N_ROUNDS, robots=None, budgets=None,
                blocked_domains=None):
    robots = ROBOTS if robots is None else robots
    orc = OracleScheduler(
        pages=corpus_dates,
        robots={h: rules for h, rules, _ in robots},
        budgets=dict(BUDGETS if budgets is None else budgets),
        delays={h: d for h, rules, d in robots},
        blocked_domains=set(blocked_domains or ()),
    )
    orc.init_from_seeds(seeds)
    orc.run(n_rounds)
    return orc


def _run_spark(spark, corpus, seeds, state_dir, n_rounds=N_ROUNDS, bloom_min_seen=0,
               robots_df=None, budget_df=None, blocklist_df=None, **cfg_kw):
    cfg_kw.setdefault("n_salts", 4)
    sched = CrawlScheduler(
        spark,
        corpus,
        robots=_robots_df(spark) if robots_df is None else robots_df,
        host_budget=_budget_df(spark) if budget_df is None else budget_df,
        state_dir=str(state_dir),
        config=CrawlConfig(n_bloom_partitions=4, bloom_bits=1 << 16,
                           bloom_min_seen=bloom_min_seen, **cfg_kw),
        blocklist=blocklist_df,
    )
    sched.init_from_seeds(
        spark.createDataFrame(seeds, "url string, priority double")
    )
    manifests = sched.run(n_rounds)
    return sched, manifests


def _spark_fetch_log(spark, state_dir, n_rounds):
    log = []
    import os

    for r in range(n_rounds):
        base = f"{state_dir}/round_{r}"
        if not os.path.exists(f"{base}/manifest.json"):
            break
        rows = (
            spark.read.parquet(f"{base}/fetched")
            .orderBy(F.desc("priority"), F.asc("url"))
            .collect()
        )
        log.append([r.url for r in rows])
    return log


def test_scheduler_matches_oracle(spark, corpus, corpus_dates, tmp_path_factory):
    state_dir = tmp_path_factory.mktemp("crawl_state")
    seeds = _seeds(corpus)

    orc = _run_oracle(corpus_dates, seeds)
    sched, manifests = _run_spark(spark, corpus, seeds, state_dir)

    spark_log = _spark_fetch_log(spark, state_dir, N_ROUNDS)
    oracle_log = [r for r in orc.fetch_log][: len(spark_log)]

    assert len(spark_log) == len(oracle_log)
    for rnd, (s_urls, o_urls) in enumerate(zip(spark_log, oracle_log)):
        assert s_urls == o_urls, f"round {rnd} fetch ordering diverged"

    # final URL-seen set must match exactly (north rule)
    oracle_seen_hashes = {
        r.h
        for r in spark.createDataFrame(
            [(u,) for u in orc.seen], "url string"
        ).select(F.xxhash64("url").alias("h")).collect()
    }
    spark_seen = {r.url_hash for r in sched.seen.collect()}
    assert spark_seen == oracle_seen_hashes

    # per-round manifests carry lineage
    assert all("frontier_partitions" in m and m["wall_ms"] >= 0 for m in manifests)


def test_resume_equals_uninterrupted(spark, corpus, corpus_dates, tmp_path_factory):
    seeds = _seeds(corpus)

    d_full = tmp_path_factory.mktemp("full")
    _, m_full = _run_spark(spark, corpus, seeds, d_full, n_rounds=3)

    d_resume = tmp_path_factory.mktemp("resumed")
    _run_spark(spark, corpus, seeds, d_resume, n_rounds=2)
    # fresh scheduler object resumes from the round-1 snapshot
    sched2 = CrawlScheduler(
        spark, corpus, robots=_robots_df(spark), host_budget=_budget_df(spark),
        state_dir=str(d_resume),
        config=CrawlConfig(n_bloom_partitions=4, bloom_bits=1 << 16, n_salts=4),
    )
    assert sched2.resume() == 2
    sched2.run_round()

    full = _spark_fetch_log(spark, d_full, 3)
    resumed = _spark_fetch_log(spark, d_resume, 3)
    assert full == resumed


def test_bloom_no_false_negatives(spark):
    df = spark.range(0, 5000).select(F.xxhash64("id").alias("url_hash"))
    state = build_blooms(df, n_partitions=4, m_bits=1 << 16)
    probed = probe_blooms(df, state, n_partitions=4, m_bits=1 << 16)
    assert probed.filter(~F.col("maybe_seen")).count() == 0

    other = spark.range(10_000, 15_000).select(F.xxhash64("id").alias("url_hash"))
    fp = probe_blooms(other, state, n_partitions=4, m_bits=1 << 16).filter(
        F.col("maybe_seen")
    ).count()
    assert fp / 5000 < 0.05  # sane false-positive rate


def test_merge_blooms_equals_single_build(spark):
    from go_htmldate_spark.plans.bloom import merge_blooms

    m, p = 1 << 14, 4
    a = spark.range(0, 2000).select(F.xxhash64("id").alias("url_hash"))
    b = spark.range(2000, 3000).select(F.xxhash64("id").alias("url_hash"))
    merged = merge_blooms(build_blooms(a, p, m), build_blooms(b, p, m))
    whole = build_blooms(a.unionByName(b), p, m)
    # OR of the per-partition bit arrays is the bloom of the union
    got = {r.partition_id: (bytes(r.bloom), r.n_items) for r in merged.collect()}
    want = {r.partition_id: (bytes(r.bloom), r.n_items) for r in whole.collect()}
    assert got == want
    assert sum(n for _, n in got.values()) == 3000
    # a partition present on one side only survives the outer merge
    only_a = build_blooms(
        a.filter(F.pmod("url_hash", F.lit(p)) == 0), p, m
    )
    only_b = build_blooms(
        b.filter(F.pmod("url_hash", F.lit(p)) == 1), p, m
    )
    assert sorted(
        r.partition_id for r in merge_blooms(only_a, only_b).collect()
    ) == [0, 1]


def test_canonicalize_parity(spark):
    urls = [
        "HTTPS://Site1.Example.org:443/a//b/c?z=1&a=2#frag",
        "http://x.org:80/",
        "http://x.org",
        "https://y.io/path?b=2&a=1",
        "not-a-url 123",
        "https://z.de/a/?",
    ]
    df = spark.createDataFrame([(u,) for u in urls], "url string").select(
        canonicalize_url(F.col("url")).alias("c")
    )
    got = [r.c for r in df.collect()]
    want = [canonicalize_url_py(u) for u in urls]
    assert got == want


def test_cogrouped_probe_matches_broadcast(spark):
    from go_htmldate_spark.plans.bloom import probe_blooms_cogrouped

    df = spark.range(0, 3000).select(F.xxhash64("id").alias("url_hash"))
    state = build_blooms(df, n_partitions=4, m_bits=1 << 16)
    mixed = spark.range(0, 6000).select(F.xxhash64("id").alias("url_hash"))
    a = {
        (r.url_hash, r.maybe_seen)
        for r in probe_blooms(mixed, state, 4, 1 << 16).collect()
    }
    b = {
        (r.url_hash, r.maybe_seen)
        for r in probe_blooms_cogrouped(mixed, state, 4, 1 << 16).collect()
    }
    assert a == b
    # inserted half must all flag maybe_seen
    inserted = {r.url_hash for r in df.collect()}
    assert all(seen for h, seen in a if h in inserted)


def test_scheduler_parity_skewed_hosts_and_crawl_delay(
    spark, corpus, corpus_dates, tmp_path_factory
):
    """Heavy-host detection + robots crawl_delay enforcement: host 0
    carries ~40% of the corpus (heavy_host_share=40) and is detected
    above salt_threshold=5; site2's crawl_delay=25 caps its per-round
    fetches at floor(60/25)=2 despite a politeness budget of 5."""
    seeds = _seeds(corpus)
    robots = ROBOTS + [("site2.example.org", [], 25.0)]
    d = tmp_path_factory.mktemp("skew_delay")
    sched, manifests = _run_spark(
        spark, corpus, seeds, d,
        robots_df=spark.createDataFrame(
            [
                (h, [{"path_prefix": p, "allow": a} for p, a in rules], dl)
                for h, rules, dl in robots
            ],
            "host string, rules array<struct<path_prefix:string, allow:boolean>>, crawl_delay double",
        ),
        salt_threshold=5,
    )
    orc = _run_oracle(corpus_dates, seeds, robots=robots)

    log = _spark_fetch_log(spark, d, N_ROUNDS)
    assert log == orc.fetch_log[: len(log)]
    spark_seen = {r.url_hash for r in sched.seen.collect()}
    oracle_seen_hashes = {
        r.h
        for r in spark.createDataFrame(
            [(u,) for u in orc.seen], "url string"
        ).select(F.xxhash64("url").alias("h")).collect()
    }
    assert spark_seen == oracle_seen_hashes
    # the delay must actually bite: no round fetches >2 site2 URLs
    for urls in log:
        assert sum("site2.example.org" in u for u in urls) <= 2


@pytest.mark.parametrize("inset_max", [20_000, 0], ids=["inset", "join"])
def test_scheduler_parity_with_blocklist(
    spark, corpus, corpus_dates, tmp_path_factory, inset_max
):
    """UT1-style domain blocklist in the discovery path: blocked hosts
    never enter the frontier, and the distributed gate matches the
    oracle's label-suffix check exactly. Parametrized over BOTH
    implementations of the gate — the collected InSet fast path
    (lists <= blocklist_inset_max) and the per-depth broadcast-join
    path a >20k-domain production UT1 list takes (inset_max=0 forces
    it; without this the join wiring had zero suite coverage).
    Entries cover both an exact host (depth 3) and a registrable-domain
    parent that must NOT catch sibling hosts at a non-label boundary."""
    seeds = _seeds(corpus)
    blocked = ["site1.example.org", "site4.example.org"]
    d = tmp_path_factory.mktemp("blocklist")
    sched, _ = _run_spark(
        spark, corpus, seeds, d,
        blocklist_df=spark.createDataFrame(
            [(b,) for b in blocked], "domain string"
        ),
        blocklist_inset_max=inset_max,
    )
    assert (sched._blocklist_sets is None) == (inset_max == 0)
    orc = _run_oracle(corpus_dates, seeds, blocked_domains=blocked)

    log = _spark_fetch_log(spark, d, N_ROUNDS)
    assert log == orc.fetch_log[: len(log)]
    spark_seen = {r.url_hash for r in sched.seen.collect()}
    oracle_seen_hashes = {
        r.h
        for r in spark.createDataFrame(
            [(u,) for u in orc.seen], "url string"
        ).select(F.xxhash64("url").alias("h")).collect()
    }
    assert spark_seen == oracle_seen_hashes
    # the gate must bite: blocked hosts appear only as seeds (round 0),
    # never via discovery in later rounds
    seed_urls = {canonicalize_url_py(u) for u, _ in seeds}
    for urls in log[1:]:
        for u in urls:
            if any(b in u for b in blocked):
                assert u in seed_urls, f"blocked-host url {u} was discovered"
    # and the unblocked crawl must differ (the list isn't a no-op)
    d2 = tmp_path_factory.mktemp("noblock")
    _run_spark(spark, corpus, seeds, d2, n_rounds=N_ROUNDS)
    assert _spark_fetch_log(spark, d2, N_ROUNDS) != log


def test_fetch_join_never_shuffles_corpus(spark, corpus):
    """The corpus (html payload) side of the fetch join must reach the
    join without any hash-partition Exchange — broadcast-probe only."""
    from go_htmldate_spark.plans.canonical import url_hash, url_host
    from go_htmldate_spark.plans.scheduler import fetch_join

    cp = corpus.withColumn("url_canon", canonicalize_url(F.col("url"))).select(
        "url_canon", "html", "outlinks"
    )
    sched_keys = corpus.select(
        canonicalize_url(F.col("url")).alias("url")
    ).limit(10).select(
        "url", url_hash(F.col("url")).alias("url_hash"),
        url_host(F.col("url")).alias("host"), F.lit(1.0).alias("priority"),
    )
    plan = fetch_join(cp, sched_keys)._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan
    assert "Exchange hashpartitioning" not in plan


def test_fetch_join_rejects_unknown_mode(spark, corpus):
    """A mistyped CrawlConfig.fetch_join raises, naming the accepted
    modes, instead of silently planning some other join."""
    from go_htmldate_spark.plans.scheduler import fetch_join

    cp = corpus.withColumn("url_canon", canonicalize_url(F.col("url")))
    keys = corpus.select(canonicalize_url(F.col("url")).alias("url"))
    with pytest.raises(ValueError, match="'broadcast' or 'bucketed'"):
        fetch_join(cp, keys, "bucketd")


def test_min_budgets_cautious_source_wins(spark):
    from go_htmldate_spark.plans.scheduler import min_budgets

    schema = "host string, politeness_budget double"
    a = spark.createDataFrame(
        [("a.example", 5.0), ("b.example", 1.0)], schema
    )
    b = spark.createDataFrame(
        [("a.example", 0.0), ("c.example", 2.0)], schema
    )
    got = {r.host: r.politeness_budget for r in min_budgets(a, b).collect()}
    # a demotion (0.0) overrides a larger budget; one-sided hosts survive
    assert got == {"a.example": 0.0, "b.example": 1.0, "c.example": 2.0}
    # no first source yet: the second passes through as-is
    assert {r.host: r.politeness_budget
            for r in min_budgets(None, b).collect()} == {
        "a.example": 0.0, "c.example": 2.0,
    }


def test_robots_allowed_longest_prefix_wins(spark):
    from go_htmldate_spark.plans.scheduler import robots_allowed

    rules = [
        {"path_prefix": "/private", "allow": False},
        {"path_prefix": "/private/ok", "allow": True},
        {"path_prefix": "/tie", "allow": False},
        {"path_prefix": "/tie", "allow": True},
    ]
    paths = ["/", "/private", "/private/x", "/private/ok/y", "/tie/z"]
    df = spark.createDataFrame(
        [(p, rules) for p in paths] + [("/private", [])],
        "path string, rules array<struct<path_prefix:string, allow:boolean>>",
    )
    got = [
        (r.path, len(r.rules), r.ok)
        for r in df.select(
            "path", "rules",
            robots_allowed(F.col("path"), F.col("rules")).alias("ok"),
        ).collect()
    ]
    assert got == [
        ("/", 4, True),  # no rule matches: allowed
        ("/private", 4, False),
        ("/private/x", 4, False),
        ("/private/ok/y", 4, True),  # the longer allow prefix wins
        ("/tie/z", 4, True),  # equal length: allow wins the tie
        ("/private", 0, True),  # no rules at all
    ]


def test_recency_score_matches_oracle_law(spark):
    from go_htmldate_spark.plans.scheduler import REF_DATE, recency_score

    dates = ["2024-06-01", "2023-06-02", "2020-01-15", "2030-01-01", "", None]
    df = spark.createDataFrame([(d,) for d in dates], "d string")
    got = [r.s for r in df.select(recency_score(F.col("d")).alias("s")).collect()]
    ref = date.fromisoformat(REF_DATE)

    def want(d):
        if not d:
            return CrawlConfig.no_date_recency
        age = max(0, (ref - date.fromisoformat(d)).days)
        return 1.0 / (1.0 + age / 365.0)

    assert got == [want(d) for d in dates]
    assert got[0] == 1.0 and got[3] == 1.0  # future dates do not exceed 1


def test_resolve_href_law(spark):
    from go_htmldate_spark.plans.canonical import (
        resolve_href,
        url_authority_of,
        url_scheme_of,
    )

    page = "https://a.example:8443/dir/page?q=1"
    hrefs = ["https://b.example/x", "HTTP://c.example/", "//cdn.example/y",
             "/root", "rel/path", "mailto:x@a.example", "", None]
    df = spark.createDataFrame([(page, h) for h in hrefs],
                               "url string, href string")
    got = [
        r.dst for r in df.select(
            resolve_href(
                F.col("href"),
                url_scheme_of(F.col("url")),
                url_authority_of(F.col("url")),
            ).alias("dst")
        ).collect()
    ]
    assert got == [
        "https://b.example/x",
        "HTTP://c.example/",
        "https://cdn.example/y",
        "https://a.example:8443/root",  # the authority keeps its port
        None, None, None, None,
    ]
    bare = spark.createDataFrame([("not a url",)], "url string").select(
        url_scheme_of(F.col("url")).alias("s"),
        url_authority_of(F.col("url")).alias("a"),
    ).first()
    assert (bare.s, bare.a) == ("", "")


def test_scheduler_parity_without_bloom_prefilter(
    spark, corpus, corpus_dates, tmp_path_factory
):
    """The adaptive exact-only path (seen below bloom_min_seen) must
    produce the same crawl as the bloom-prefiltered path."""
    seeds = _seeds(corpus)
    d = tmp_path_factory.mktemp("nobloom")
    _run_spark(spark, corpus, seeds, d, n_rounds=2, bloom_min_seen=10**9)
    orc = _run_oracle(corpus_dates, seeds, n_rounds=2)
    log = _spark_fetch_log(spark, d, 2)
    assert log == orc.fetch_log[: len(log)]


def test_resume_time_travel(spark, corpus, tmp_path_factory):
    """Every snapshot is self-contained: resuming from an EARLIER round
    replays the exact crawl an uninterrupted run produced from there."""
    import shutil

    seeds = _seeds(corpus)
    d_full = tmp_path_factory.mktemp("tt_full")
    _run_spark(spark, corpus, seeds, d_full, n_rounds=3)

    d_replay = tmp_path_factory.mktemp("tt_replay")
    for name in ("round_0", "round_1", "round_2"):
        shutil.copytree(f"{d_full}/{name}", f"{d_replay}/{name}")
    sched = CrawlScheduler(
        spark, corpus, robots=_robots_df(spark), host_budget=_budget_df(spark),
        state_dir=str(d_replay),
        config=CrawlConfig(n_bloom_partitions=4, bloom_bits=1 << 16, n_salts=4),
    )
    assert sched.resume(round=0) == 1
    sched.run(2)  # rewrites round_1, round_2 from the round_0 state

    assert _spark_fetch_log(spark, d_replay, 3) == _spark_fetch_log(spark, d_full, 3)


def test_parse_robots_feeds_scheduler(spark, corpus, corpus_dates, tmp_path_factory):
    """robots.txt TEXT → parse_robots → scheduler produces the same
    crawl as the hand-built rules table (same spec as ROBOTS)."""
    from go_htmldate_spark.sources.robots import parse_robots

    texts = [
        ("site0.example.org",
         "# per-path rules\nUser-agent: googlebot\nDisallow: /elsewhere\n\n"
         "User-agent: *\nCrawl-delay: 1\n"
         "Disallow: /posts/article-1\nAllow: /posts/article-12\n"),
        ("site3.example.org",
         "User-agent: *\nCrawl-delay: 1\nDisallow: /\nDisallow:\n"),
    ]
    robots_df = parse_robots(
        spark.createDataFrame(texts, "host string, robots_txt string")
    )
    seeds = _seeds(corpus)
    d = tmp_path_factory.mktemp("robots_txt")
    _run_spark(spark, corpus, seeds, d, n_rounds=2, robots_df=robots_df)
    orc = _run_oracle(corpus_dates, seeds, n_rounds=2)
    log = _spark_fetch_log(spark, d, 2)
    assert log == orc.fetch_log[: len(log)]


def test_bucketed_corpus_fetch(spark, corpus, corpus_dates, tmp_path_factory):
    """Bucketed-corpus fetch path: the corpus table (bucketed+sorted on
    url_canon) joins exchange-free — only the scheduled side shuffles —
    and the crawl still matches the oracle exactly."""
    from go_htmldate_spark.plans.canonical import url_hash, url_host
    from go_htmldate_spark.plans.scheduler import fetch_join, write_bucketed_corpus

    tdir = tmp_path_factory.mktemp("bucketed_tbl")
    write_bucketed_corpus(corpus, "pages_bucketed", n_buckets=4, path=str(tdir))
    table = spark.table("pages_bucketed")

    # plan shape: force the non-broadcast path and pin corpus-side
    # exchange-freedom (bucket metadata consumed)
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        sched_keys = corpus.select(
            canonicalize_url(F.col("url")).alias("url")
        ).limit(20).select(
            "url", url_hash(F.col("url")).alias("url_hash"),
            url_host(F.col("url")).alias("host"), F.lit(1.0).alias("priority"),
        )
        plan = fetch_join(
            table.select("url_canon", "html", "outlinks"), sched_keys, "bucketed"
        )._jdf.queryExecution().executedPlan().toString()
        assert "Bucketed: true" in plan
        # exactly one exchange — the scheduled side; the corpus scans in place
        assert plan.count("Exchange hashpartitioning") == 1
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)

    # full parity through the scheduler on the bucketed table
    seeds = _seeds(corpus)
    d = tmp_path_factory.mktemp("bucketed_crawl")
    _run_spark(spark, table, seeds, d, n_rounds=2, fetch_join="bucketed")
    orc = _run_oracle(corpus_dates, seeds, n_rounds=2)
    log = _spark_fetch_log(spark, d, 2)
    assert log == orc.fetch_log[: len(log)]


def test_parse_robots_star_fallback_for_named_agent(spark):
    """RFC 9309 group selection: a named crawler falls back to the '*'
    group when no group names it, and a specific group SUPPRESSES the
    '*' group (specific-or-star, never merged)."""
    from go_htmldate_spark.sources.robots import parse_robots

    texts = [
        # only a '*' group: mybot must inherit its rules
        ("star-only.example.org",
         "User-agent: *\nDisallow: /private\nCrawl-delay: 2\n"),
        # both groups: mybot takes ONLY its own group
        ("both.example.org",
         "User-agent: *\nDisallow: /\n\n"
         "User-agent: mybot\nDisallow: /mine\nCrawl-delay: 5\n"),
        # unrelated agent only: no rules for mybot
        ("other.example.org",
         "User-agent: googlebot\nDisallow: /g\n"),
    ]
    df = spark.createDataFrame(texts, "host string, robots_txt string")
    out = {
        r["host"]: r
        for r in parse_robots(df, user_agent="mybot").collect()
    }
    assert [x["path_prefix"] for x in out["star-only.example.org"]["rules"]] == ["/private"]
    assert out["star-only.example.org"]["crawl_delay"] == 2.0
    assert [x["path_prefix"] for x in out["both.example.org"]["rules"]] == ["/mine"]
    assert out["both.example.org"]["crawl_delay"] == 5.0
    assert "other.example.org" not in out


def test_time_travel_supersedes_later_rounds(spark, corpus, tmp_path_factory):
    """resume(round=r) abandons the old timeline: rounds > r are marked
    superseded immediately, so crashing before the replay rewrites them
    cannot leave a later argless resume() loading a stale snapshot from
    the abandoned history (round-2 ADVICE low)."""
    import os as _os

    seeds = _seeds(corpus)
    d = tmp_path_factory.mktemp("tt_crash")
    _run_spark(spark, corpus, seeds, d, n_rounds=3)

    sched = CrawlScheduler(
        spark, corpus, robots=_robots_df(spark), host_budget=_budget_df(spark),
        state_dir=str(d),
        config=CrawlConfig(n_bloom_partitions=4, bloom_bits=1 << 16, n_salts=4),
    )
    assert sched.resume(round=0) == 1
    # simulate a crash here: NO run() — later snapshots must already be
    # invisible to a fresh argless resume
    assert not _os.path.exists(f"{d}/round_1/manifest.json")
    assert _os.path.exists(f"{d}/round_1/manifest.json.superseded")
    sched2 = CrawlScheduler(
        spark, corpus, robots=_robots_df(spark), host_budget=_budget_df(spark),
        state_dir=str(d),
        config=CrawlConfig(n_bloom_partitions=4, bloom_bits=1 << 16, n_salts=4),
    )
    assert sched2.resume() == 1  # head is round_0, not the stale round_2


def test_seen_delta_write_volume_is_o_new(spark, corpus, corpus_dates, tmp_path_factory):
    """Round-3 scale fix: each round writes ONLY its scheduled hashes as
    a seen delta — write volume O(new URLs), never
    O(total seen) — and the union of deltas equals the exact seen set."""
    import glob as _glob
    import json as _json
    import os as _os

    import pyarrow.parquet as _pq

    seeds = _seeds(corpus)
    d = tmp_path_factory.mktemp("seen_delta")
    sched, manifests = _run_spark(spark, corpus, seeds, d, n_rounds=3)

    total = 0
    for m in manifests:
        base = f"{d}/round_{m['round']}"
        # the monolithic per-round rewrite is gone
        assert not _os.path.exists(f"{base}/seen"), "full seen rewrite!"
        delta_rows = sum(
            _pq.ParquetFile(p).metadata.num_rows
            for p in _glob.glob(f"{base}/seen_delta/**/*.parquet", recursive=True)
        )
        # O(new): the delta holds exactly this round's scheduled count
        assert delta_rows == m["n_scheduled"]
        total += delta_rows
        assert m["n_seen"] == total  # disjoint deltas sum to the seen count
        chain = _json.load(open(f"{base}/manifest.json"))["seen_chain"]
        assert chain == [f"round_{r}/seen_delta" for r in range(m["round"] + 1)]

    # union of deltas == the scheduler's in-memory seen set, no dupes
    seen = sched._seen_from_chain(sched._seen_chain)
    assert seen.count() == seen.distinct().count() == total


def test_seen_compaction_keeps_parity(spark, corpus, corpus_dates, tmp_path_factory):
    """seen_compact_every=1 forces a compaction every round; the crawl
    must still match the oracle exactly and resume from the compacted
    chain."""
    import json as _json

    seeds = _seeds(corpus)
    d = tmp_path_factory.mktemp("seen_compact")
    _run_spark(spark, corpus, seeds, d, n_rounds=3, seen_compact_every=1)
    orc = _run_oracle(corpus_dates, seeds, n_rounds=3)
    log = _spark_fetch_log(spark, d, 3)
    assert log == orc.fetch_log[: len(log)]

    # later rounds carry a single compacted segment
    chain = _json.load(open(f"{d}/round_2/manifest.json"))["seen_chain"]
    assert chain == ["round_2/seen_compact"]

    # resume from the compacted snapshot and keep crawling
    sched = CrawlScheduler(
        spark, corpus, robots=_robots_df(spark), host_budget=_budget_df(spark),
        state_dir=str(d),
        config=CrawlConfig(n_bloom_partitions=4, bloom_bits=1 << 16, n_salts=4,
                           seen_compact_every=1),
    )
    assert sched.resume() == 3
    m = sched.run_round()
    orc4 = _run_oracle(corpus_dates, seeds, n_rounds=4)
    log4 = _spark_fetch_log(spark, d, 4)
    assert log4 == orc4.fetch_log[: len(log4)]


def test_seen_segments_are_flat_and_sized(
    spark, corpus, corpus_dates, tmp_path_factory, monkeypatch
):
    """Seen deltas and compactions are flat parquet: no `b=` bucket
    directories, and at most ceil(rows / SEEN_ROWS_PER_FILE) files per
    segment. A small rows-per-file makes the bound bite on a 300-page
    crawl. The manifest reports per-phase wall time."""
    import glob as _glob
    import os as _os

    import pyarrow.parquet as _pq

    from go_htmldate_spark.plans import scheduler as _sched_mod

    monkeypatch.setattr(_sched_mod, "SEEN_ROWS_PER_FILE", 4)
    seeds = _seeds(corpus)
    d = tmp_path_factory.mktemp("seen_flat")
    # compact_every=2: rounds 0-1 append deltas, round 2 compacts
    _, manifests = _run_spark(
        spark, corpus, seeds, d, n_rounds=3, seen_compact_every=2
    )
    assert len(manifests) == 3
    assert manifests[-1]["seen_chain"] == ["round_2/seen_compact"]
    orc = _run_oracle(corpus_dates, seeds, n_rounds=3)
    assert _spark_fetch_log(spark, d, 3) == orc.fetch_log[:3]

    segments = _glob.glob(f"{d}/round_*/seen_delta") + _glob.glob(
        f"{d}/round_*/seen_compact"
    )
    assert len(segments) == 4
    for seg in segments:
        assert not _glob.glob(f"{seg}/b=*"), seg
        assert not [e for e in _os.scandir(seg) if e.is_dir()], seg
        files = _glob.glob(f"{seg}/*.parquet")
        rows = sum(_pq.ParquetFile(p).metadata.num_rows for p in files)
        assert rows > 0
        assert 1 <= len(files) <= -(-rows // 4), (seg, rows, len(files))

    for m in manifests:
        assert {"schedule", "fetch_extract_write", "seen_bloom", "reload"} == set(
            m["phase_ms"]
        )
        assert all(isinstance(v, int) and v >= 0 for v in m["phase_ms"].values())
        assert sum(m["phase_ms"].values()) <= m["wall_ms"]


def test_resume_reads_bucket_partitioned_seen_segment(
    spark, corpus, corpus_dates, tmp_path_factory
):
    """Snapshots from before the flat layout wrote each seen segment
    partitioned by a hash bucket column `b`. A chain whose first segment
    is in that layout must resume and crawl on in oracle parity."""
    import glob as _glob
    import shutil as _shutil

    seeds = _seeds(corpus)
    d = tmp_path_factory.mktemp("seen_legacy")
    _run_spark(spark, corpus, seeds, d, n_rounds=2)

    seg = f"{d}/round_0/seen_delta"
    hashes = [r.url_hash for r in spark.read.parquet(seg).collect()]
    assert hashes
    _shutil.rmtree(seg)
    spark.createDataFrame([(h,) for h in hashes], "url_hash long").withColumn(
        "b", F.pmod(F.col("url_hash"), F.lit(64)).cast("int")
    ).write.partitionBy("b").parquet(seg)
    assert _glob.glob(f"{seg}/b=*")

    sched = CrawlScheduler(
        spark, corpus, robots=_robots_df(spark), host_budget=_budget_df(spark),
        state_dir=str(d),
        config=CrawlConfig(n_bloom_partitions=4, bloom_bits=1 << 16, n_salts=4,
                           bloom_min_seen=0),
    )
    assert sched.resume() == 2
    assert sched.seen.columns == ["url_hash"]
    sched.run_round()
    orc = _run_oracle(corpus_dates, seeds, n_rounds=3)
    assert _spark_fetch_log(spark, d, 3) == orc.fetch_log[:3]
    oracle_seen = {
        r.h for r in spark.createDataFrame(
            [(u,) for u in orc.seen], "url string"
        ).select(F.xxhash64("url").alias("h")).collect()
    }
    assert {r.url_hash for r in sched.seen.collect()} == oracle_seen


def test_scheduler_parity_with_cogrouped_bloom(
    spark, corpus, corpus_dates, tmp_path_factory
):
    """Crawl parity with the bloom probe forced onto the cogrouped
    path (broadcast budget 0) — the full-scale shape end to end."""
    seeds = _seeds(corpus)
    d = tmp_path_factory.mktemp("bloom_cogroup")
    _run_spark(
        spark, corpus, seeds, d, n_rounds=2, bloom_broadcast_max_bytes=0,
    )
    orc = _run_oracle(corpus_dates, seeds, n_rounds=2)
    log = _spark_fetch_log(spark, d, 2)
    assert log == orc.fetch_log[: len(log)]


def test_host_pagerank_matches_integer_reference(spark):
    """Distributed exact-integer PageRank equals the single-threaded
    integer reference bit-for-bit (no fold-order drift — the property
    doubles can't give), and authority flows where links point."""
    from go_htmldate_spark.plans.hostgraph import host_pagerank, host_pagerank_py

    # deterministic scale-free-ish graph: everyone links to h0; chain +
    # a few cross links; h9 dangling (no out-edges); self-loop dropped
    edges = (
        [(f"h{i}", "h0") for i in range(1, 9)]
        + [(f"h{i}", f"h{i+1}") for i in range(0, 9)]
        + [("h2", "h5"), ("h7", "h3"), ("h5", "h2"), ("h0", "h0")]
    )
    exp = host_pagerank_py(edges, iters=4)
    got = {
        r["host"]: r["rank"]
        for r in host_pagerank(
            spark.createDataFrame(edges, "src string, dst string"), iters=4
        ).collect()
    }
    assert got == exp
    # authority flows where links point: the hub h0 (8 in-links) and h1
    # (h0's sole out-edge funnels the hub's whole mass into it) are the
    # top-2; a mid-chain node with one weak in-link ranks below both
    top2 = sorted(got, key=got.get, reverse=True)[:2]
    assert set(top2) == {"h0", "h1"}
    assert got["h4"] < min(got["h0"], got["h1"])
    # duplicate edges collapse: doubling the edge list changes nothing
    got2 = {
        r["host"]: r["rank"]
        for r in host_pagerank(
            spark.createDataFrame(edges + edges, "src string, dst string"), iters=4
        ).collect()
    }
    assert got2 == exp


def test_host_pagerank_prepared_table_and_decimal_fallback(spark, tmp_path_factory):
    """The prepared path (prepare_host_edges: bucketed+sorted table,
    dedup skipped) and the DECIMAL(38,0) fallback (mass bound past
    int64) both produce the identical integers as the reference — the
    arithmetic-width switch and the layout switch are invisible to
    results."""
    import random

    from go_htmldate_spark.plans.hostgraph import (
        host_pagerank, host_pagerank_py, prepare_host_edges,
    )

    random.seed(13)
    edges = [
        (f"h{random.randrange(120)}", f"h{random.randrange(120)}")
        for _ in range(2000)
    ]
    df = spark.createDataFrame(edges, "src string, dst string")
    exp = host_pagerank_py(edges, iters=4)

    base = tmp_path_factory.mktemp("predge")
    t = prepare_host_edges(
        df, "pr_prepared_edges_test", n_buckets=8, path=str(base / "edges")
    )
    got = {
        r["host"]: r["rank"]
        for r in host_pagerank(t, iters=4, prepared=True).collect()
    }
    assert got == exp
    spark.sql("DROP TABLE IF EXISTS pr_prepared_edges_test")

    # scale 10^17 × 120 nodes > 2^62 → decimal path; same integers
    got_dec = {
        r["host"]: r["rank"]
        for r in host_pagerank(df, iters=3, scale=10**17).collect()
    }
    assert got_dec == host_pagerank_py(edges, iters=3, scale=10**17)


def test_host_hits_matches_integer_reference(spark):
    """Distributed exact-integer HITS equals the single-threaded
    reference bit-for-bit (the L1-renormalized half-sweeps replace the
    classic fold-order-dependent L2 norm), hubs/authorities land where
    Kleinberg says, and dup edges/self-loops are invisible."""
    from go_htmldate_spark.plans.hostgraph import host_hits, host_hits_py

    # bipartite-flavored core: h0/h1 are hubs linking every authority
    # a0..a4; a few back-links, a chain, a self-loop and dup edges
    edges = (
        [(f"h{i}", f"a{j}") for i in range(2) for j in range(5)]
        + [("a0", "h0"), ("a1", "h0"), ("c0", "c1"), ("c1", "c2")]
        + [("c2", "a0"), ("h0", "h0"), ("h1", "a0"), ("h1", "a0")]
    )
    exp = host_hits_py(edges, iters=3)
    got = {
        r["host"]: (r["auth"], r["hub"])
        for r in host_hits(
            spark.createDataFrame(edges, "src string, dst string"), iters=3
        ).collect()
    }
    assert got == exp
    # hubs are the pages linking many good authorities; authorities the
    # pages hubs point at — a0 (3 in-links, two from the hubs) tops
    # auth, h0/h1 top hub, and the off-topic chain c* is mass-starved
    auth = {h: v[0] for h, v in got.items()}
    hub = {h: v[1] for h, v in got.items()}
    assert max(auth, key=auth.get) == "a0"
    assert set(sorted(hub, key=hub.get, reverse=True)[:2]) == {"h0", "h1"}
    assert hub["c0"] < min(hub["h0"], hub["h1"])
    # no-in-link hosts have zero authority; no-out-link hosts zero hub
    assert auth["h1"] == 0 and hub["a2"] == 0
    # scale guard: mass bound past 2^62 is refused, not silently wrong
    import pytest as _pytest
    with _pytest.raises(ValueError):
        host_hits(
            spark.createDataFrame(edges, "src string, dst string"),
            iters=1, scale=10**18,
        )


def test_host_hits_prepared_two_layout_parity(spark, tmp_path_factory):
    """The at-scale path — src-bucketed edges for the auth half-sweep
    plus a dst-bucketed copy for the hub half-sweep — produces the
    identical integers as the naive single-frame run."""
    import random

    from go_htmldate_spark.plans.hostgraph import (
        host_hits, host_hits_py, prepare_host_edges,
    )

    random.seed(29)
    edges = [
        (f"h{random.randrange(80)}", f"h{random.randrange(80)}")
        for _ in range(1500)
    ]
    df = spark.createDataFrame(edges, "src string, dst string")
    exp = host_hits_py(edges, iters=3)

    base = tmp_path_factory.mktemp("hitsedge")
    by_src = prepare_host_edges(
        df, "hits_edges_src_test", n_buckets=8, path=str(base / "esrc")
    )
    by_dst = prepare_host_edges(
        df, "hits_edges_dst_test", n_buckets=8, path=str(base / "edst"),
        key_col="dst",
    )
    got = {
        r["host"]: (r["auth"], r["hub"])
        for r in host_hits(
            by_src, iters=3, prepared=True, edges_by_dst=by_dst
        ).collect()
    }
    assert got == exp
    spark.sql("DROP TABLE IF EXISTS hits_edges_src_test")
    spark.sql("DROP TABLE IF EXISTS hits_edges_dst_test")


def test_host_trustrank_matches_reference_and_demotes_spam(spark):
    """Distributed exact-integer TrustRank equals the single-threaded
    reference bit-for-bit; a densely self-linked spam farm with no
    in-links from the trusted side starves while it would DOMINATE raw
    PageRank — the demotion TrustRank exists for (Gyöngyi VLDB'04)."""
    from go_htmldate_spark.plans.hostgraph import (
        host_pagerank, host_pagerank_py, host_trustrank, host_trustrank_py,
    )

    # trusted core: seed s0 links good hosts g*, which interlink; spam
    # farm: 20 supporter hosts whose ONLY link is the boost target f0
    # (the link-farm shape: full-rank contributions, outdeg 1),
    # unreachable from the trusted side
    good = [("s0", f"g{i}") for i in range(3)] + [
        ("g0", "g1"), ("g1", "g2"), ("g2", "g0"), ("g1", "s0")
    ]
    farm = [(f"f{i}", "f0") for i in range(1, 21)]
    edges = good + farm
    # seed list includes an off-graph host that must be ignored
    exp = host_trustrank_py(edges, ["s0", "absent.example"], iters=4)
    df = spark.createDataFrame(edges, "src string, dst string")
    seeds = spark.createDataFrame(
        [("s0",), ("absent.example",)], "host string"
    )
    got = {
        r["host"]: r["trust"]
        for r in host_trustrank(df, seeds, iters=4).collect()
    }
    assert got == exp
    # raw PageRank crowns the farm target; TrustRank starves it
    pr = host_pagerank_py(edges, iters=4)
    assert max(pr, key=pr.get) == "f0"
    assert got["f0"] == 0 and all(got[f"f{i}"] == 0 for i in range(1, 21))
    assert got["g1"] > 0 and got["s0"] > 0
    # decimal fallback (mass bound in (2^62, 2^63): sums need wide
    # arithmetic but values still fit the BIGINT output) = identical
    # integers; past int64 the concentrated-mass overflow is REFUSED
    # (a silent cast-to-NULL would floor the most-trusted host)
    got_dec = {
        r["host"]: r["trust"]
        for r in host_trustrank(df, seeds, iters=3, scale=3 * 10**17).collect()
    }
    assert got_dec == host_trustrank_py(
        edges, ["s0"], iters=3, scale=3 * 10**17
    )
    import pytest as _pt
    with _pt.raises(ValueError):
        host_trustrank(df, seeds, iters=1, scale=10**18)
    # no usable seed → explicit refusal
    import pytest as _pytest
    with _pytest.raises(ValueError):
        host_trustrank(
            df, spark.createDataFrame([("nope",)], "host string"), iters=2
        )



def test_host_trustrank_over_cap_seed_set_runs_distributed(spark, monkeypatch):
    """The driver-side seed collect is bounded: a distinct seed set over
    the cap takes the distributed sweeps (the driver law is never
    called) and still equals the reference."""
    from go_htmldate_spark.plans import hostgraph as H

    ref = H.host_trustrank_py
    edges = [("s0", "g0"), ("s0", "g1"), ("g0", "g1"), ("g1", "s0"),
             ("g1", "g2"), ("f1", "f0"), ("f2", "f0")]
    seed_hosts = ["s0", "g2", "absent.example"]
    df = spark.createDataFrame(edges, "src string, dst string")
    seeds = spark.createDataFrame([(h,) for h in seed_hosts], "host string")

    def driver_law(*_a, **_k):
        raise AssertionError("over-cap seed set took the driver path")

    monkeypatch.setattr(H, "_TRUSTRANK_SEED_CAP", len(seed_hosts) - 1)
    monkeypatch.setattr(H, "host_trustrank_py", driver_law)
    got = {
        r["host"]: r["trust"]
        for r in H.host_trustrank(df, seeds, iters=4).collect()
    }
    assert got == ref(edges, seed_hosts, iters=4)

def test_focused_host_relevance(spark):
    """Anchor keyword share per target host, word-boundary matched on
    the lowercased collapsed anchor."""
    from go_htmldate_spark.plans.hostgraph import focused_host_relevance

    pages = spark.createDataFrame(
        [
            # t0: 2 in-links, one topical ("news" word-boundary; NOT
            # the embedded "newsletter"), anchor case-collapsed
            ("https://s1.example/a",
             '<a href="https://t0.example/p">Daily  NEWS</a>'
             '<a href="https://t0.example/q">our newsletter</a>'),
            # t1: 1 in-link, off-topic; relative + no-href distractors
            ("https://s2.example/b",
             '<a href="https://t1.example/p">holiday photos</a>'
             '<a href="/rel">news</a><a name="x">news</a>'),
            # t2: fully topical
            ("https://s3.example/c",
             '<a href="https://t2.example/p">breaking news now</a>'),
        ],
        "url string, html string",
    )
    rel = {
        r["host"]: (r["n_inlinks"], r["n_topic_inlinks"], r["relevance"])
        for r in focused_host_relevance(pages, ["news"]).collect()
    }
    assert rel == {
        "t0.example": (2, 1, 0.5),
        "t1.example": (1, 0, 0.0),
        "t2.example": (1, 1, 1.0),
    }
    import pytest as _pytest
    with _pytest.raises(ValueError):
        focused_host_relevance(pages, [])


def test_parse_feeds_rss_atom_and_seeds(spark):
    """RSS/Atom feed XML → discovery rows: RFC-822 pubDate rebuilt
    (1- and 2-digit days), bad month names rejected, Atom published
    preferred over updated, first link href taken, entities decoded,
    linkless entries dropped; feed_seeds applies the scheduler's
    recency law."""
    from go_htmldate_spark.plans.oracle import recency_score_py
    from go_htmldate_spark.sources.feeds import feed_seeds, parse_feeds

    rss = (
        "<rss version=\"2.0\"><channel><title>t</title>\n"
        "<item><link>https://a.example/p?x=1&amp;y=2</link>"
        "<pubDate>Tue, 5 Mar 2024 10:30:00 GMT</pubDate></item>\n"
        "<item>\n <link> https://a.example/q </link>\n"
        "<pubDate>Mon, 02 Foo 2024 10:30:00 GMT</pubDate></item>\n"  # bad month
        "<item><link>https://a.example/r</link></item>\n"  # no date
        "<item><guid>linkless</guid></item>\n"  # dropped
        "</channel></rss>"
    )
    atom = (
        '<feed xmlns="http://www.w3.org/2005/Atom">\n'
        '<entry><link rel="alternate" href="https://b.example/e1"/>'
        "<published>2023-12-01T08:00:00Z</published>"
        "<updated>2026-01-01T00:00:00Z</updated></entry>\n"
        '<entry><link href="https://b.example/e2"/>'
        "<updated>2022-06-15T09:00:00Z</updated></entry>\n"
        "<entry><title>no link</title></entry>\n"
        "</feed>"
    )
    df = spark.createDataFrame(
        [("https://a.example/feed", rss), ("https://b.example/atom", atom)],
        "feed_url string, xml string",
    )
    rows = {
        (r["feed_url"], r["kind"], r["loc"]): r["pub_date"]
        for r in parse_feeds(df).collect()
    }
    assert rows == {
        ("https://a.example/feed", "rss", "https://a.example/p?x=1&y=2"):
            "2024-03-05",  # 1-digit day padded
        ("https://a.example/feed", "rss", "https://a.example/q"): None,
        ("https://a.example/feed", "rss", "https://a.example/r"): None,
        ("https://b.example/atom", "atom", "https://b.example/e1"):
            "2023-12-01",  # published wins over updated
        ("https://b.example/atom", "atom", "https://b.example/e2"):
            "2022-06-15",
    }
    seeds = {r["url"]: r["priority"] for r in feed_seeds(df).collect()}
    assert seeds["https://a.example/p?x=1&y=2"] == round(
        recency_score_py("2024-03-05"), 6
    )
    assert seeds["https://a.example/r"] == round(recency_score_py(None), 6)
    assert seeds["https://b.example/e1"] > seeds["https://b.example/e2"]


def test_parse_sitemaps_urlset_index_and_seeds(spark):
    """Sitemap XML → frontier seeds: urlset entries with lastmod dates,
    index entries flagged for re-fetch, XML entities decoded, malformed
    entries (no <loc>) dropped, priority = the scheduler's own
    recency_score over lastmod."""
    from go_htmldate_spark.plans.oracle import recency_score_py
    from go_htmldate_spark.sources.sitemaps import parse_sitemaps, sitemap_seeds

    urlset = (
        '<?xml version="1.0" encoding="UTF-8"?>\n'
        '<urlset xmlns="http://www.sitemaps.org/schemas/sitemap/0.9">\n'
        " <url><loc>https://a.example/p?x=1&amp;y=2</loc>"
        "<lastmod>2024-03-05</lastmod>"
        "<changefreq>Daily</changefreq><priority>0.8</priority></url>\n"
        " <url>\n  <loc>\n   https://a.example/q\n  </loc>\n"
        "  <lastmod>2020-01-31T18:00:02+00:00</lastmod>\n"
        "  <changefreq>sometimes</changefreq>\n"  # invalid vocab -> NULL
        "  <priority>1.7</priority>\n </url>\n"  # out of range -> clamp 1.0
        " <url><loc>https://a.example/nolastmod</loc></url>\n"
        " <url><lastmod>2024-01-01</lastmod></url>\n"  # no loc: dropped
        "</urlset>"
    )
    index = (
        "<sitemapindex>"
        "<sitemap><loc>https://b.example/sitemap-1.xml</loc>"
        "<lastmod>2023-12-01</lastmod></sitemap>"
        "<sitemap><loc>https://b.example/sitemap-2.xml</loc></sitemap>"
        "</sitemapindex>"
    )
    df = spark.createDataFrame(
        [("https://a.example/sitemap.xml", urlset),
         ("https://b.example/sitemap.xml", index)],
        "sitemap_url string, xml string",
    )
    rows = {
        (r["sitemap_url"], r["kind"], r["loc"]):
            (r["lastmod"], r["priority"], r["changefreq"])
        for r in parse_sitemaps(df).collect()
    }
    assert rows == {
        ("https://a.example/sitemap.xml", "url", "https://a.example/p?x=1&y=2"):
            ("2024-03-05", 0.8, "daily"),  # changefreq case-folded
        ("https://a.example/sitemap.xml", "url", "https://a.example/q"):
            ("2020-01-31", 1.0, None),  # 1.7 clamps; bad vocab -> NULL
        ("https://a.example/sitemap.xml", "url", "https://a.example/nolastmod"):
            (None, None, None),
        ("https://b.example/sitemap.xml", "sitemap", "https://b.example/sitemap-1.xml"):
            ("2023-12-01", None, None),
        ("https://b.example/sitemap.xml", "sitemap", "https://b.example/sitemap-2.xml"):
            (None, None, None),
    }
    seeds = {r["url"]: r["priority"] for r in sitemap_seeds(df).collect()}
    assert set(seeds) == {
        "https://a.example/p?x=1&y=2", "https://a.example/q",
        "https://a.example/nolastmod",
    }
    # priority law: recency × 2·coalesce(declared, 0.5) — declared 0.8
    # scales ×1.6, absent declaration keeps the bare recency exactly
    assert seeds["https://a.example/p?x=1&y=2"] == round(
        recency_score_py("2024-03-05") * 1.6, 6
    )
    assert seeds["https://a.example/nolastmod"] == round(
        recency_score_py(None), 6
    )
    # fresher lastmod → higher priority; missing lastmod → the fixed floor
    assert (seeds["https://a.example/p?x=1&y=2"]
            > seeds["https://a.example/q"]
            > seeds["https://a.example/nolastmod"])


def test_resolve_redirects_chains_cycles_and_apply(spark):
    """Redirect resolution: chains collapse to their terminal in
    O(log hops) pointer-doubling sweeps (a 16-hop chain resolves at
    max_hops=16), cycles of length 1 and 2 flag resolved=false,
    duplicate edges collapse, conflicting destinations pick the
    lexicographic min; apply_redirects then rewrites a URL column,
    passes non-redirecting URLs through, and drops cycle members."""
    from go_htmldate_spark.plans.redirects import (
        apply_redirects, resolve_redirects,
    )

    chain = [(f"https://c.example/{k}", f"https://c.example/{k+1}")
             for k in range(16)]  # 16 hops: 0 → … → 16
    edges = chain + [
        ("https://self.example/a", "https://self.example/a"),   # 1-cycle
        ("https://loop.example/a", "https://loop.example/b"),   # 2-cycle
        ("https://loop.example/b", "https://loop.example/a"),
        ("https://dup.example/a", "https://dup.example/t"),     # dup edge
        ("https://dup.example/a", "https://dup.example/t"),
        ("https://conf.example/a", "https://conf.example/z"),   # conflict:
        ("https://conf.example/a", "https://conf.example/b"),   # min wins
    ]
    res = resolve_redirects(
        spark.createDataFrame(edges, "src_url string, dst_url string")
    )
    got = {r["url"]: (r["target"], r["resolved"]) for r in res.collect()}
    for k in range(16):
        assert got[f"https://c.example/{k}"] == ("https://c.example/16", True)
    assert got["https://self.example/a"][1] is False
    assert got["https://loop.example/a"][1] is False
    assert got["https://loop.example/b"][1] is False
    assert got["https://dup.example/a"] == ("https://dup.example/t", True)
    assert got["https://conf.example/a"] == ("https://conf.example/b", True)

    urls = spark.createDataFrame(
        [("https://c.example/3", 1), ("https://clean.example/x", 2),
         ("https://loop.example/a", 3)],
        "url string, payload int",
    )
    out = {r["url"]: r["payload"] for r in apply_redirects(urls, res).collect()}
    assert out == {"https://c.example/16": 1, "https://clean.example/x": 2}


def test_change_rate_and_recrawl_priority(spark):
    """Cho–Garcia-Molina change-rate estimation over fetch history:
    always-changing, never-changing, and sometimes-changing URLs get
    the closed-form λ̂ = -ln((n-X+.5)/(n+.5))/Δt; single-fetch URLs
    drop (no interval); recrawl priority = 1-exp(-λ̂·age) ranks the
    volatile page first and the static page last."""
    import math

    from go_htmldate_spark.plans.recrawl import change_rate, recrawl_priority

    day = 86400.0
    hist = (
        [("A", k * day, f"sig{k}") for k in range(4)]            # 3/3 change
        + [("B", k * day, "same") for k in range(3)]             # 0/2 change
        + [("C", 0.0, "one")]                                    # dropped
        + [("D", 0 * day, "p"), ("D", 2 * day, "p"),
           ("D", 4 * day, "q"), ("D", 6 * day, "q")]             # 1/3, Δt=2d
    )
    rates = change_rate(spark.createDataFrame(
        hist, "url string, fetch_ts double, content_sig string"
    ))
    got = {r["url"]: r for r in rates.collect()}
    assert set(got) == {"A", "B", "D"}
    assert (got["A"]["n_intervals"], got["A"]["n_changes"]) == (3, 3)
    assert math.isclose(got["A"]["rate_per_day"], math.log(7.0), rel_tol=1e-9)
    assert got["B"]["rate_per_day"] == 0.0
    assert math.isclose(
        got["D"]["rate_per_day"], math.log(3.5 / 2.5) / 2.0, rel_tol=1e-9
    )

    # one day after each url's last fetch (A ends day 3, D ends day 6):
    pri = {
        r["url"]: r["priority"]
        for r in recrawl_priority(rates, as_of_ts=7 * day).collect()
    }
    # A: age 4d at rate ln7 → essentially certain to have changed
    assert pri["A"] > 0.999
    assert pri["B"] == 0.0
    assert math.isclose(
        pri["D"], 1.0 - math.exp(-math.log(1.4) / 2.0), rel_tol=1e-9
    )
    assert pri["A"] > pri["D"] > pri["B"]


def test_scheduler_redirects_collapse_before_frontier(spark, tmp_path_factory):
    """CrawlScheduler(redirects=…): a discovered outlink that is a known
    redirect source enters the frontier as its terminal target (one
    round, not one round per hop), cycle members never enter, and
    non-redirecting links pass through."""
    from go_htmldate_spark.plans.redirects import resolve_redirects
    from go_htmldate_spark.plans.scheduler import CrawlConfig, CrawlScheduler

    html = ("<html><head><meta property='article:published_time' "
            "content='2024-01-02'/></head><body>x</body></html>")
    hop0, hop1, term = (f"https://r.example.org/{k}" for k in ("a", "b", "t"))
    cyc = "https://r.example.org/cycle"
    clean = "https://r.example.org/ok"
    corpus = spark.createDataFrame(
        [("https://r.example.org/start", html, [hop0, cyc, clean]),
         (term, html, []), (clean, html, [])],
        "url string, html string, outlinks array<string>",
    )
    resolved = resolve_redirects(spark.createDataFrame(
        [(hop0, hop1), (hop1, term), (cyc, cyc)],
        "src_url string, dst_url string",
    ))
    d = tmp_path_factory.mktemp("redir")
    sched = CrawlScheduler(
        spark, corpus, robots=None, host_budget=None, state_dir=str(d),
        config=CrawlConfig(n_bloom_partitions=2, bloom_bits=1 << 12),
        redirects=resolved,
    )
    sched.init_from_seeds(spark.createDataFrame(
        [("https://r.example.org/start", 1.0)], "url string, priority double"
    ))
    sched.run(1)
    frontier = {r["url"] for r in sched.frontier.select("url").collect()}
    assert term in frontier and clean in frontier
    assert hop0 not in frontier and hop1 not in frontier
    assert cyc not in frontier


def test_url_trap_flags_semantics(spark):
    """Per-URL trap signals: depth after slash collapsing, Heritrix
    consecutive-segment repeats (>=3, not 2), query-param counting,
    session-id keys and opaque >=24-hex tokens; clean URLs stay
    untrapped."""
    from go_htmldate_spark.plans.traps import url_trap_flags

    cases = [
        ("https://a.example/one/two/three", 3, False, 0, False, False),
        ("https://a.example//x///y/", 2, False, 0, False, False),
        ("https://a.example/a/a/a/tail", 4, True, 0, False, True),
        ("https://a.example/a/a/b", 3, False, 0, False, False),  # only 2x
        ("https://a.example/p?x=1&y=2&z=3", 1, False, 3, False, False),
        ("https://a.example/p?" + "&".join(f"k{i}=1" for i in range(9)),
         1, False, 9, False, True),
        ("https://a.example/p?PHPSESSID=xyz", 1, False, 1, True, True),
        ("https://a.example/p?tok=" + "ab12" * 6, 1, False, 1, True, True),
        ("https://a.example/p?tok=" + "ab12" * 5, 1, False, 1, False, False),
        ("https://a.example/" + "/".join(f"d{i}" for i in range(17)),
         17, False, 0, False, True),
    ]
    df = spark.createDataFrame([(c[0],) for c in cases], "url string")
    got = {
        r["url"]: (r["path_depth"], r["seg_repeat"], r["n_params"],
                   r["session_like"], r["trapped"])
        for r in url_trap_flags(df).collect()
    }
    for url, *exp in cases:
        assert got[url] == tuple(exp), url


def test_trap_filter_is_map_only(spark):
    """The trap gate must add no exchange — a pure codegen filter over
    whatever partitioning the discovery stream already has."""
    from go_htmldate_spark.plans.traps import trap_filter

    df = spark.range(100).select(
        F.concat(F.lit("https://h"), (F.col("id") % 7).cast("string"),
                 F.lit(".example/p/"), F.col("id").cast("string")).alias("url"),
        F.col("id").alias("payload"),
    )
    out = trap_filter(df)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan
    assert out.columns == ["url", "payload"]


def test_scheduler_trap_guard_blocks_trap_outlinks(spark, tmp_path_factory):
    """With CrawlConfig.trap_guard, a discovered outlink that trips a
    trap rule (segment echo, session id) never enters the frontier;
    with the guard off it does — and the guard never touches seeds or
    clean links."""
    from go_htmldate_spark.plans.scheduler import CrawlConfig, CrawlScheduler

    html = ("<html><head><meta property='article:published_time' "
            "content='2024-01-02'/></head><body>x</body></html>")
    trap = "https://t.example.org/x/x/x/deep"
    sess = "https://t.example.org/s?jsessionid=abc"
    clean = "https://t.example.org/ok/page"
    corpus = spark.createDataFrame(
        [
            ("https://t.example.org/start", html, [trap, sess, clean]),
            (clean, html, []),
            (trap, html, []),
        ],
        "url string, html string, outlinks array<string>",
    )
    seeds = spark.createDataFrame(
        [("https://t.example.org/start", 1.0)], "url string, priority double"
    )

    def frontier_urls(guard):
        d = tmp_path_factory.mktemp(f"trap{guard}")
        sched = CrawlScheduler(
            spark, corpus, robots=None, host_budget=None, state_dir=str(d),
            config=CrawlConfig(n_bloom_partitions=2, bloom_bits=1 << 12,
                               trap_guard=guard),
        )
        sched.init_from_seeds(seeds)
        sched.run(1)
        return {r["url"] for r in sched.frontier.select("url").collect()}

    guarded = frontier_urls(True)
    assert clean in guarded
    assert trap not in guarded and sess not in guarded
    unguarded = frontier_urls(False)
    assert {trap, sess, clean} <= unguarded


def test_robots_sitemap_discovery_and_gated_seeds(spark):
    """robots.txt `Sitemap:` advertisement → sitemap-seed chain:
    the directive is case-insensitive and group-INDEPENDENT (a line
    inside someone else's User-agent group still applies), comments
    strip, non-absolute and non-http values drop, file order is kept;
    seeds_from_robots then parses ONLY advertised bodies (semi-join)
    and the gate is a broadcast — the XML blobs never shuffle."""
    from go_htmldate_spark.sources.robots import robots_sitemaps
    from go_htmldate_spark.sources.sitemaps import seeds_from_robots

    robots = spark.createDataFrame(
        [
            ("a.example",
             "User-agent: *\nDisallow: /x\n"
             "SiTeMaP: https://a.example/sm1.xml\n"
             "User-agent: googlebot\nDisallow: /\n"
             # inside the googlebot group, still applies:
             "Sitemap: https://a.example/sm2.xml  # trailing comment\n"),
            ("b.example",
             "sitemap:https://b.example/sm.xml\n"
             "Sitemap: /relative/sm.xml\n"          # not absolute: dropped
             "Sitemap: ftp://b.example/sm.xml\n"),  # not http(s): dropped
            ("c.example", "User-agent: *\nDisallow:\n"),  # none advertised
        ],
        "host string, robots_txt string",
    )
    got = [
        (r["host"], r["sitemap_url"])
        for r in robots_sitemaps(robots).orderBy("host", "pos").collect()
    ]
    assert got == [
        ("a.example", "https://a.example/sm1.xml"),
        ("a.example", "https://a.example/sm2.xml"),
        ("b.example", "https://b.example/sm.xml"),
    ]

    urlset = (
        "<urlset><url><loc>https://{h}/page</loc>"
        "<lastmod>2024-02-02</lastmod></url></urlset>"
    )
    bodies = spark.createDataFrame(
        [
            ("https://a.example/sm1.xml", urlset.format(h="a.example")),
            # fetched but never advertised — must NOT become a seed:
            ("https://evil.example/sm.xml", urlset.format(h="evil.example")),
        ],
        "sitemap_url string, xml string",
    )
    seeds = seeds_from_robots(robots, bodies)
    assert [r["url"] for r in seeds.collect()] == ["https://a.example/page"]
    plan = seeds._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan and "LeftSemi" in plan


def test_rank_to_budget_feeds_scheduler(spark):
    """PageRank → politeness budget bridge: monotone in rank, spans
    exactly [lo, hi], degenerate graphs hit the midpoint, and the
    output schema is precisely what CrawlScheduler(host_budget=...)
    joins on."""
    from go_htmldate_spark.plans.hostgraph import host_pagerank, rank_to_budget

    edges = [(f"h{i}", "h0") for i in range(1, 6)] + [("h0", "h1"), ("h1", "h2")]
    ranks = host_pagerank(
        spark.createDataFrame(edges, "src string, dst string"), iters=3
    )
    budgets = {r["host"]: r["politeness_budget"]
               for r in rank_to_budget(ranks, lo=1.0, hi=8.0).collect()}
    rank_map = {r["host"]: r["rank"] for r in ranks.collect()}
    assert min(budgets.values()) == pytest.approx(1.0)
    assert max(budgets.values()) == pytest.approx(8.0)
    order_by_rank = sorted(rank_map, key=rank_map.get)
    budget_vals = [budgets[h] for h in order_by_rank]
    assert budget_vals == sorted(budget_vals)
    assert set(budgets) == set(rank_map)
    # degenerate: a symmetric 2-cycle has equal ranks -> midpoint
    sym = host_pagerank(
        spark.createDataFrame([("a", "b"), ("b", "a")], "src string, dst string"),
        iters=3,
    )
    vals = [r["politeness_budget"] for r in rank_to_budget(sym).collect()]
    assert vals == [pytest.approx(4.5), pytest.approx(4.5)]


def test_dust_rules_mining_and_canonicalization(spark):
    """DUST rule mining (plans/dust): same-content URL pairs yield
    oriented substring rules; application rewrites by the best rule,
    first occurrence, map-side. Covers prefix-containment pairs
    (empty-middle rule never applies), orientation (alpha is the
    longer middle), and support thresholds."""
    from go_htmldate_spark.plans.dust import apply_dust_rules, dust_rules

    rows = []
    for g in range(10):
        base = f"https://h{g % 3}.example/story/{g}"
        rows += [
            (base, g),
            (base + "?utm_source=feed", g),   # suffix insertion
            (f"https://h{g % 3}.example/amp/story/{g}", g),  # infix
        ]
    rows.append(("https://once.example/a", 500))
    df = spark.createDataFrame(rows, "url string, content_sig long")

    rules = {
        (r["alpha"], r["beta"]): r["support"]
        for r in dust_rules(df, min_support=2).collect()
    }
    # the session-suffix rule: alias middle vs empty (alpha longer)
    assert rules[("?utm_source=feed", "")] == 10
    # all rules oriented: alpha strictly (longer, lexicographically
    # greater) than beta
    for a, b in rules:
        assert (len(a), a) > (len(b), b)

    out = {
        r["url"]: (r["canonical_url"], r["rule_support"])
        for r in apply_dust_rules(
            df.select("url").distinct(), dust_rules(df, min_support=2)
        ).collect()
    }
    # aliases collapse onto the base form…
    assert out["https://h1.example/story/1?utm_source=feed"] == (
        "https://h1.example/story/1", 10,
    )
    # …and URLs no rule matches pass through untouched
    assert out["https://once.example/a"] == ("https://once.example/a", 0)
    # every canonical form of the utm aliases equals its base
    for g in range(10):
        base = f"https://h{g % 3}.example/story/{g}"
        assert out[base + "?utm_source=feed"][0] == base


def test_mirror_host_pairs_resemblance(spark):
    """Mirror detection (plans/mirrors): Broder resemblance over
    per-host fingerprint sets — full mirrors score 1.0, half-overlap
    scores by inclusion-exclusion, hosts sharing one boilerplate sig
    fall below min_shared."""
    from go_htmldate_spark.plans.mirrors import mirror_host_pairs

    rows = []
    for j in range(8):
        rows += [("full-a.example", j), ("full-b.example", j)]
    for j in range(8):
        rows.append(("part-a.example", 100 + j))
    for j in range(4, 12):
        rows.append(("part-b.example", 100 + j))
    rows += [("lone-a.example", 777), ("lone-b.example", 777)]
    df = spark.createDataFrame(rows, "host string, content_sig long")

    got = {
        (r["host_a"], r["host_b"]): r
        for r in mirror_host_pairs(
            df, min_shared=2, min_resemblance=0.2
        ).collect()
    }
    assert got[("full-a.example", "full-b.example")]["resemblance"] == 1.0
    pr = got[("part-a.example", "part-b.example")]
    assert (pr["shared"], pr["n_a"], pr["n_b"]) == (4, 8, 8)
    assert abs(pr["resemblance"] - 4 / 12) < 1e-12
    assert ("lone-a.example", "lone-b.example") not in got


def test_scheduler_dust_canonicalizes_outlinks(spark, tmp_path_factory):
    """CrawlScheduler(dust=…): discovered alias spellings rewrite to
    their DUST-canonical form before hashing, so one frontier slot
    serves the whole alias family; non-matching links pass through."""
    from go_htmldate_spark.plans.scheduler import CrawlConfig, CrawlScheduler

    html = ("<html><head><meta property='article:published_time' "
            "content='2024-01-02'/></head><body>x</body></html>")
    canon = "https://d.example.org/story/7"
    alias = canon + "?sessionid=zz"
    other = "https://d.example.org/other"
    corpus = spark.createDataFrame(
        [("https://d.example.org/start", html, [alias, canon, other]),
         (canon, html, []), (other, html, [])],
        "url string, html string, outlinks array<string>",
    )
    rules = spark.createDataFrame(
        [("?sessionid=zz", "", 10)], "alpha string, beta string, support long"
    )
    d = tmp_path_factory.mktemp("dust_sched")
    sched = CrawlScheduler(
        spark, corpus, robots=None, host_budget=None, state_dir=str(d),
        config=CrawlConfig(n_bloom_partitions=2, bloom_bits=1 << 12),
        dust=rules,
    )
    sched.init_from_seeds(spark.createDataFrame(
        [("https://d.example.org/start", 1.0)], "url string, priority double"
    ))
    sched.run(1)
    frontier = {r["url"] for r in sched.frontier.select("url").collect()}
    assert canon in frontier and other in frontier
    assert alias not in frontier
    # the alias family occupies exactly one slot
    assert len([u for u in frontier if u.startswith(canon)]) == 1


def test_mirror_demotion_keeps_clique_minimum(spark, tmp_path_factory):
    """mirror_demotion: in a mirror clique a<b<c only the minimum host
    keeps its budget; feeding the demotion rows to the scheduler means
    the demoted hosts are never scheduled (floor(0.0) = 0 fetches)."""
    from go_htmldate_spark.plans.mirrors import (
        mirror_demotion,
        mirror_host_pairs,
    )
    from go_htmldate_spark.plans.scheduler import CrawlConfig, CrawlScheduler

    rows = [(h, s) for h in ("a.example", "b.example", "c.example")
            for s in range(6)]
    rows += [("solo.example", 100 + s) for s in range(6)]
    obs = spark.createDataFrame(rows, "host string, content_sig long")
    demoted = mirror_demotion(mirror_host_pairs(obs), threshold=0.9)
    assert {r["host"] for r in demoted.collect()} == {
        "b.example", "c.example"
    }

    html = ("<html><head><meta property='article:published_time' "
            "content='2024-01-02'/></head><body>x</body></html>")
    corpus = spark.createDataFrame(
        [(f"https://{h}/p", html, []) for h in
         ("a.example", "b.example", "c.example", "solo.example")],
        "url string, html string, outlinks array<string>",
    )
    d = tmp_path_factory.mktemp("mirror_sched")
    budgets = spark.createDataFrame(
        [("a.example", 2.0), ("b.example", 2.0),
         ("c.example", 2.0), ("solo.example", 2.0)],
        "host string, politeness_budget double",
    )
    merged = (
        budgets.unionByName(demoted)
        .groupBy("host")
        .agg(F.min("politeness_budget").alias("politeness_budget"))
    )
    sched = CrawlScheduler(
        spark, corpus, robots=None, host_budget=merged, state_dir=str(d),
        config=CrawlConfig(n_bloom_partitions=2, bloom_bits=1 << 12),
    )
    sched.init_from_seeds(spark.createDataFrame(
        [(f"https://{h}/p", 1.0) for h in
         ("a.example", "b.example", "c.example", "solo.example")],
        "url string, priority double",
    ))
    m = sched.run(1)[0]
    assert m["n_scheduled"] == 2  # a.example + solo.example only


def test_expire_snapshots_retention_and_resume(
    spark, corpus, tmp_path_factory
):
    """Iceberg-style snapshot expiry: after keep_last=2 over a 5-round
    crawl, old rounds lose their frontier/bloom/fetched bulk and their
    manifests (time travel there now raises), seen-chain delta
    segments still referenced by kept manifests survive in place, and
    a resumed scheduler replays round 5 byte-identically to an
    uninterrupted run."""
    import os

    from go_htmldate_spark.plans.scheduler import expire_snapshots

    seeds = _seeds(corpus)

    d_full = tmp_path_factory.mktemp("exp_full")
    _run_spark(spark, corpus, seeds, d_full, n_rounds=6)

    d_exp = tmp_path_factory.mktemp("exp_trim")
    _run_spark(spark, corpus, seeds, d_exp, n_rounds=5)

    stats = expire_snapshots(str(d_exp), keep_last=2)
    assert stats["kept_rounds"] == [3, 4]
    # every expired round still holds a referenced seen_delta (the
    # compaction window is 8 > 5 rounds), so none is fully removed —
    # the stats must say so instead of claiming deletion
    assert stats["removed_rounds"] == []
    assert stats["retained_partial"] == [0, 1, 2]
    assert stats["bytes_freed"] > 0
    # kept manifests reference deltas inside expired round dirs (the
    # compaction window is 8 > 5 rounds): those segments must survive…
    assert any(s.startswith("round_0/") for s in stats["kept_segments"])
    for s in stats["kept_segments"]:
        assert os.path.exists(os.path.join(d_exp, s))
    # …while the expired rounds' bulk and manifests are gone
    for r in (0, 1, 2):
        base = os.path.join(d_exp, f"round_{r}")
        assert not os.path.exists(os.path.join(base, "manifest.json"))
        assert not os.path.exists(os.path.join(base, "frontier"))
        assert not os.path.exists(os.path.join(base, "blooms"))
        assert not os.path.exists(os.path.join(base, "fetched"))

    sched2 = CrawlScheduler(
        spark, corpus, robots=_robots_df(spark), host_budget=_budget_df(spark),
        state_dir=str(d_exp),
        config=CrawlConfig(n_bloom_partitions=4, bloom_bits=1 << 16, n_salts=4),
    )
    assert sched2.resume() == 5
    sched2.run_round()
    want = [
        r.url for r in spark.read.parquet(f"{d_full}/round_5/fetched")
        .orderBy(F.desc("priority"), F.asc("url")).collect()
    ]
    got = [
        r.url for r in spark.read.parquet(f"{d_exp}/round_5/fetched")
        .orderBy(F.desc("priority"), F.asc("url")).collect()
    ]
    assert got == want

    # time travel to an expired round is an explicit error
    sched3 = CrawlScheduler(
        spark, corpus, robots=_robots_df(spark), host_budget=_budget_df(spark),
        state_dir=str(d_exp),
        config=CrawlConfig(n_bloom_partitions=4, bloom_bits=1 << 16, n_salts=4),
    )
    with pytest.raises(FileNotFoundError):
        sched3.resume(round=1)


def test_scheduler_ip_politeness_matches_oracle(
    spark, corpus, corpus_dates, tmp_path_factory
):
    """Per-IP politeness (queue-by-IP): six virtual hosts mapped onto
    one server IP share ip_budget=2 fetches/round. The distributed
    two-stage rank (host top-k, then IP top-k over its output) must
    match the single-threaded oracle's fetch ordering exactly, and the
    cap must actually bind round 0."""
    seeds = _seeds(corpus)
    shared = {f"site{i}.example.org": "10.0.0.1" for i in range(6)}

    orc = OracleScheduler(
        pages=corpus_dates,
        robots={h: rules for h, rules, _ in ROBOTS},
        budgets=dict(BUDGETS),
        delays={h: d for h, rules, d in ROBOTS},
        ip_map=shared,
        ip_budget=2,
    )
    orc.init_from_seeds(seeds)
    orc.run(N_ROUNDS)

    d = tmp_path_factory.mktemp("ip_polite")
    host_ip = spark.createDataFrame(
        list(shared.items()), "host string, ip string"
    )
    sched = CrawlScheduler(
        spark, corpus, robots=_robots_df(spark),
        host_budget=_budget_df(spark), state_dir=str(d),
        config=CrawlConfig(n_bloom_partitions=4, bloom_bits=1 << 16,
                           n_salts=4, ip_budget=2),
        host_ip=host_ip,
    )
    sched.init_from_seeds(
        spark.createDataFrame(seeds, "url string, priority double")
    )
    sched.run(N_ROUNDS)

    spark_log = _spark_fetch_log(spark, d, N_ROUNDS)
    oracle_log = [r for r in orc.fetch_log][: len(spark_log)]
    assert len(spark_log) == len(oracle_log)
    for rnd, (s_urls, o_urls) in enumerate(zip(spark_log, oracle_log)):
        assert s_urls == o_urls, f"round {rnd} diverged under ip cap"

    # the cap binds: round 0 fetches at most 2 URLs from the shared box
    r0_shared = [u for u in spark_log[0]
                 if any(h in u for h in shared)]
    assert len(r0_shared) == 2


def test_scheduler_site_politeness_matches_oracle(
    spark, corpus, corpus_dates, tmp_path_factory
):
    """Per-site politeness (registrable-domain grouping, step 5.6):
    every corpus host is a shard of example.org under the PSL ('org'
    is the suffix), so site_budget=2 caps the WHOLE crawl at 2
    fetches/round. The distributed two-stage rank (host top-k, then
    site top-k over its output) must match the single-threaded
    oracle's fetch ordering exactly, and the cap must bind."""
    seeds = _seeds(corpus)

    orc = OracleScheduler(
        pages=corpus_dates,
        robots={h: rules for h, rules, _ in ROBOTS},
        budgets=dict(BUDGETS),
        delays={h: d for h, rules, d in ROBOTS},
        site_budget=2,
    )
    orc.init_from_seeds(seeds)
    orc.run(N_ROUNDS)

    d = tmp_path_factory.mktemp("site_polite")
    sched = CrawlScheduler(
        spark, corpus, robots=_robots_df(spark),
        host_budget=_budget_df(spark), state_dir=str(d),
        config=CrawlConfig(n_bloom_partitions=4, bloom_bits=1 << 16,
                           n_salts=4, site_budget=2),
    )
    sched.init_from_seeds(
        spark.createDataFrame(seeds, "url string, priority double")
    )
    sched.run(N_ROUNDS)

    spark_log = _spark_fetch_log(spark, d, N_ROUNDS)
    oracle_log = [r for r in orc.fetch_log][: len(spark_log)]
    assert len(spark_log) == len(oracle_log)
    for rnd, (s_urls, o_urls) in enumerate(zip(spark_log, oracle_log)):
        assert s_urls == o_urls, f"round {rnd} diverged under site cap"

    # the cap binds: every round fetches at most 2 URLs total (one
    # registrable domain spans the whole corpus)
    assert all(len(urls) <= 2 for urls in spark_log)
    assert len(spark_log[0]) == 2


def test_host_backoff_streak_semantics(spark):
    """Failure-aware politeness (plans/backoff): the trailing streak
    counts failures strictly after the last success — a recovering
    host clears it, a never-succeeding host counts everything, a
    healthy host keeps the full base budget, and the floor keeps dead
    hosts probe-able."""
    from go_htmldate_spark.plans.backoff import host_backoff

    rows = [
        # fail, ok, fail, fail → streak 2 → 8·0.25 = 2.0
        ("flaky.example", 1.0, False), ("flaky.example", 2.0, True),
        ("flaky.example", 3.0, False), ("flaky.example", 4.0, False),
        # never succeeded, 6 failures → 8·0.5^6 = 0.125 < floor → 0.25
        *[("dead.example", float(t), False) for t in range(6)],
        # all ok → streak 0 → 8.0
        ("healthy.example", 1.0, True), ("healthy.example", 2.0, True),
        # success at the same instant as a failure clears the streak
        ("tied.example", 5.0, False), ("tied.example", 5.0, True),
    ]
    df = spark.createDataFrame(rows, "host string, fetch_ts double, ok boolean")
    got = {
        r["host"]: (r["streak"], r["politeness_budget"])
        for r in host_backoff(df, base_budget=8.0, floor_budget=0.25).collect()
    }
    assert got["flaky.example"] == (2, 2.0)
    assert got["dead.example"] == (6, 0.25)
    assert got["healthy.example"] == (0, 8.0)
    assert got["tied.example"] == (0, 8.0)


def test_rel_canonical_edges_spellings_and_resolution(spark):
    """rel=canonical mining (plans/rel_canonical): attribute order,
    quote style, case, and unquoted values all parse; hrefs resolve
    absolute / protocol-relative / root-relative; dotted-relative,
    self-declarations, and non-canonical links yield nothing; the
    scan is map-only (zero exchanges)."""
    from go_htmldate_spark.plans.rel_canonical import rel_canonical_edges

    rows = [
        ("https://a.example/p?sess=1",
         '<html><head><link rel="canonical" href="https://a.example/p"/>'
         "</head></html>"),
        ("https://b.example/x", "<head><LINK HREF='/y' REL=canonical></head>"),
        ("https://c.example/m", '<link href="//cdn.example/m" rel="canonical">'),
        ("https://g.example/u", "<link rel=canonical href=https://g.example/v>"),
        ("https://d.example/r", '<link rel="canonical" href="../up">'),
        ("https://e.example/s", '<link rel="canonical" href="https://e.example/s">'),
        ("https://f.example/n", '<link rel="stylesheet" href="/css">'),
        # rel values that merely START with 'canonical' are not
        # canonical declarations (boundary required after the word)
        ("https://h.example/q", '<link rel="canonical-next" href="/page2">'),
        ("https://i.example/w", "<link rel=canonicalize href='/z'>"),
        # href-less canonical link must not steal the NEXT tag's href
        ("https://j.example/t",
         '<link rel=canonical><a href="https://evil.example/x">'),
    ]
    df = spark.createDataFrame(rows, "url string, html string")
    out = rel_canonical_edges(df)
    got = {(r["src_url"], r["dst_url"]) for r in out.collect()}
    assert got == {
        ("https://a.example/p?sess=1", "https://a.example/p"),
        ("https://b.example/x", "https://b.example/y"),
        ("https://c.example/m", "https://cdn.example/m"),
        ("https://g.example/u", "https://g.example/v"),
    }
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan, plan


def test_scheduler_aging_matches_oracle(
    spark, corpus, corpus_dates, tmp_path_factory
):
    """Priority aging (starvation guard): with a per-round additive
    boost for URLs that lost the politeness race, the distributed
    scheduler must still match the oracle's fetch ordering exactly
    across rounds (the boost compounds over rounds, so this pins the
    IEEE add + max-merge parity), and leftover frontier priorities
    must actually grow."""
    seeds = _seeds(corpus)

    orc = OracleScheduler(
        pages=corpus_dates,
        robots={h: rules for h, rules, _ in ROBOTS},
        budgets=dict(BUDGETS),
        delays={h: d for h, rules, d in ROBOTS},
        aging=0.25,
    )
    orc.init_from_seeds(seeds)
    orc.run(N_ROUNDS)

    d = tmp_path_factory.mktemp("aging")
    sched = CrawlScheduler(
        spark, corpus, robots=_robots_df(spark),
        host_budget=_budget_df(spark), state_dir=str(d),
        config=CrawlConfig(n_bloom_partitions=4, bloom_bits=1 << 16,
                           n_salts=4, aging=0.25),
    )
    sched.init_from_seeds(
        spark.createDataFrame(seeds, "url string, priority double")
    )
    sched.run(N_ROUNDS)

    spark_log = _spark_fetch_log(spark, d, N_ROUNDS)
    oracle_log = [r for r in orc.fetch_log][: len(spark_log)]
    assert len(spark_log) == len(oracle_log)
    for rnd, (s_urls, o_urls) in enumerate(zip(spark_log, oracle_log)):
        assert s_urls == o_urls, f"round {rnd} diverged under aging"

    # the boost is visible: every surviving frontier URL carries more
    # priority than any fresh discovery could mint (budget × recency
    # ≤ 5) only after enough rounds — instead check against the
    # oracle's own frontier, value for value
    spark_frontier = {
        r["url"]: r["priority"] for r in sched.frontier.collect()
    }
    assert spark_frontier == orc.frontier


def test_dust_rules_empty_url_in_bucket(spark):
    """A zero-length URL sharing a content signature must not mint a
    bogus rule: F.sequence(1, 0) would yield a DESCENDING [1, 0] and
    poison the lcp/lcs mismatch scan. Empty URLs are filtered before
    pairing (plans/dust.py)."""
    from go_htmldate_spark.plans.dust import dust_rules

    df = spark.createDataFrame(
        [("", "sigA"), ("https://h.example/x", "sigA")],
        ["url", "content_sig"],
    )
    assert dust_rules(df, min_support=1).count() == 0


def test_dust_rewrite_never_touches_authority(spark):
    """Scope contract: a '/'-anchored rule cannot fire inside a
    hostname (the authority contains no '/'), while a host-alias rule
    like 'www.'→'' — DustBuster's flagship mirror case — still
    collapses the authority; the scheme marker itself is never
    rewritten."""
    from go_htmldate_spark.plans.dust import apply_dust_rules

    rules = spark.createDataFrame(
        [("/index.html", "", 20), ("www.", "", 10)],
        "alpha string, beta string, support long",
    )
    urls = spark.createDataFrame(
        [("https://index.html.example/p",),
         ("https://ok.example/a/index.html",),
         ("https://www.example.com/p",),
         ("not a url /index.html tail",)],
        "url string",
    )
    got = {r["url"]: r["canonical_url"]
           for r in apply_dust_rules(urls, rules).collect()}
    # '/'-anchored alpha cannot match inside the hostname
    assert got["https://index.html.example/p"] == "https://index.html.example/p"
    # path occurrence: rewritten
    assert got["https://ok.example/a/index.html"] == "https://ok.example/a"
    # host-alias rule collapses the authority
    assert got["https://www.example.com/p"] == "https://example.com/p"
    # non-hierarchical string: whole-string scope (empty scheme match)
    assert got["not a url /index.html tail"] == "not a url  tail"


def test_dust_middles_match_python_reference(spark):
    """Differential fuzz of the DUST lcp/lcs middle algebra: 400
    seeded-random same-sig URL pairs (plus adversarial shapes:
    prefix-of, single-char diff, shared middles, repeated segments)
    must yield exactly the rules a pure-Python reference derives —
    the position-explode SQL and the reference implement the same
    textbook definition independently."""
    import random

    from go_htmldate_spark.plans.dust import dust_rules

    def py_rule(a: str, b: str):
        m = min(len(a), len(b))
        lcp = 0
        while lcp < m and a[lcp] == b[lcp]:
            lcp += 1
        lcs = 0
        while lcs < m and a[len(a) - 1 - lcs] == b[len(b) - 1 - lcs]:
            lcs += 1
        lcs = min(lcs, m - lcp)
        x = a[lcp: len(a) - lcs]
        y = b[lcp: len(b) - lcs]
        if (len(y), y) > (len(x), x):
            x, y = y, x
        return x, y

    rng = random.Random(420)
    alphabet = "ab/.?=-"
    pairs = [
        ("https://h.example/p", "https://h.example/p/index.html"),
        ("https://h.example/p?x=1", "https://h.example/p?x=2"),
        ("x", "xy"),
        ("aaaa", "aa"),
        ("https://h/p", "https://h/q"),
    ]
    while len(pairs) < 400:
        base = "".join(rng.choice(alphabet) for _ in range(rng.randint(1, 24)))
        mid_a = "".join(rng.choice(alphabet) for _ in range(rng.randint(0, 8)))
        mid_b = "".join(rng.choice(alphabet) for _ in range(rng.randint(0, 8)))
        tail = "".join(rng.choice(alphabet) for _ in range(rng.randint(0, 12)))
        a, b = base + mid_a + tail, base + mid_b + tail
        if a != b:
            pairs.append(tuple(sorted((a, b))))
    pairs = sorted(set(pairs))

    rows = []
    for i, (a, b) in enumerate(pairs):
        rows.append((a, i))
        rows.append((b, i))
    df = spark.createDataFrame(rows, "url string, content_sig long")
    got = {
        (r["alpha"], r["beta"]): r["support"]
        for r in dust_rules(df, min_support=1).collect()
    }

    from collections import Counter
    want = Counter(py_rule(a, b) for a, b in pairs)
    assert got == dict(want)


def test_scheduler_dust_composes_with_redirects(spark, tmp_path_factory):
    """With BOTH dust rules and a redirect map active, the redirect
    map is dust-rewritten at init so its keys match the dust-rewritten
    discovery stream: an alias spelling of a redirect source still
    collapses to the redirect's terminal target in one round."""
    from go_htmldate_spark.plans.redirects import resolve_redirects
    from go_htmldate_spark.plans.scheduler import CrawlConfig, CrawlScheduler

    html = ("<html><head><meta property='article:published_time' "
            "content='2024-01-02'/></head><body>x</body></html>")
    hop = "https://d.example.org/b"
    term = "https://d.example.org/t"
    alias_of_hop = hop + "?sessionid=zz"
    corpus = spark.createDataFrame(
        [("https://d.example.org/start", html, [alias_of_hop]),
         (term, html, [])],
        "url string, html string, outlinks array<string>",
    )
    rules = spark.createDataFrame(
        [("?sessionid=zz", "", 10)], "alpha string, beta string, support long"
    )
    # the redirect map itself is stored under the ALIAS spelling: the
    # init-time rewrite must normalize it to the dust-canonical key
    resolved = resolve_redirects(spark.createDataFrame(
        [(alias_of_hop, term)], "src_url string, dst_url string"
    ))
    d = tmp_path_factory.mktemp("dust_redir")
    sched = CrawlScheduler(
        spark, corpus, robots=None, host_budget=None, state_dir=str(d),
        config=CrawlConfig(n_bloom_partitions=2, bloom_bits=1 << 12),
        dust=rules, redirects=resolved,
    )
    sched.init_from_seeds(spark.createDataFrame(
        [("https://d.example.org/start", 1.0)], "url string, priority double"
    ))
    sched.run(1)
    frontier = {r["url"] for r in sched.frontier.select("url").collect()}
    assert term in frontier
    assert hop not in frontier and alias_of_hop not in frontier


def test_rel_canonical_regex_matches_html_parser():
    """Differential fuzz (no Spark needed): 5000 seeded-random <link>
    tag shapes — attribute order, quote styles (incl. unquoted), case,
    '= '-spacing, self-closing slash, decoy rel values, a trailing
    <a href> tag — must extract exactly the href an html.parser-based
    reference extracts (first link whose single-token rel is
    'canonical'). Pins the HTML5 unquoted-value solidus rule:
    rel=canonical/> is rel=\"canonical/\", not canonical."""
    import random
    import re as _re
    from html.parser import HTMLParser

    from go_htmldate_spark.plans.rel_canonical import (
        _HREF_FIRST,
        _REL_FIRST,
    )

    def ref_href(html):
        out = []

        class P(HTMLParser):
            def handle_starttag(self, tag, attrs):
                if tag == "link" and not out:
                    d = dict(attrs)
                    if "canonical" in (d.get("rel") or "").lower().split():
                        if d.get("href"):
                            out.append(d["href"])

        P().feed(html)
        return out[0] if out else None

    def rx_href(html):
        m = _re.search(_REL_FIRST, html) or _re.search(_HREF_FIRST, html)
        return m.group(1) if m else None

    rng = random.Random(7)
    mismatches = []
    for i in range(5000):
        rel_val = rng.choice(
            ["canonical", "canonical", "stylesheet", "canonicalize",
             "canonical-next", "alternate"]
        )
        href_val = rng.choice(
            [f"https://t{i}.example/p", f"/p/{i}", f"//cdn{i}.example/x"]
        )
        q = rng.choice(['"', "'", ""])
        q2 = rng.choice(['"', "'", ""])
        attrs = [
            f"rel{rng.choice(['=', ' = ', '= '])}{q}{rel_val}{q}",
            f"href={q2}{href_val}{q2}",
            f"type={q2}text/html{q2}",
        ]
        rng.shuffle(attrs)
        sp = " " * rng.randint(1, 2)
        tag = "<link" + sp + sp.join(attrs) + rng.choice(["", " ", "/"]) + ">"
        if rng.random() < 0.3 and rng.random() < 0.5:
            tag = tag.upper()
        html = (f"<html><head>{tag}"
                f'<a href="https://next{i}.example/n"></head></html>')
        want, got = ref_href(html), rx_href(html)
        if (want or "").lower() != (got or "").lower():
            mismatches.append((html, want, got))
    assert not mismatches, mismatches[:5]


def test_sitemap_parse_matches_elementtree(spark):
    """Differential fuzz: 200 seeded-random well-formed sitemap
    documents (urlset/sitemapindex roots, xmlns noise, XML entities in
    locs, date vs W3C-datetime lastmod, priority/changefreq noise
    elements, whitespace variation, self-closing and loc-less entries)
    must parse to exactly the (kind, loc, lastmod) rows an
    xml.etree-based reference derives — the regexp parser and a real
    XML parser agree on everything a spec-conforming sitemap can say."""
    import random
    import xml.etree.ElementTree as ET

    from go_htmldate_spark.sources.sitemaps import parse_sitemaps

    rng = random.Random(11)
    locs_pool = [
        "https://s{i}.example/p/{j}",
        "https://s{i}.example/p?a=1&amp;b={j}",
        "https://s{i}.example/it&apos;s/{j}",
        "https://s{i}.example/&lt;odd&gt;/{j}",
    ]
    docs, want = [], set()
    for i in range(200):
        is_index = rng.random() < 0.3
        root = "sitemapindex" if is_index else "urlset"
        entry = "sitemap" if is_index else "url"
        ns = rng.choice(
            ["", ' xmlns="http://www.sitemaps.org/schemas/sitemap/0.9"']
        )
        parts = [f'<?xml version="1.0" encoding="UTF-8"?>\n<{root}{ns}>']
        for j in range(rng.randint(1, 6)):
            ws = rng.choice(["", "\n  ", "\n\t"])
            shape = rng.random()
            if shape < 0.1:
                parts.append(f"{ws}<{entry}/>")  # self-closing: dropped
                continue
            if shape < 0.2:
                parts.append(f"{ws}<{entry}><priority>0.5</priority></{entry}>")
                continue  # loc-less: dropped
            loc = rng.choice(locs_pool).format(i=i, j=j)
            lastmod = rng.choice(
                ["", "<lastmod>2023-04-0%d</lastmod>" % (j % 9 + 1),
                 "<lastmod>2024-01-0%dT03:04:05+00:00</lastmod>" % (j % 9 + 1),
                 "<changefreq>daily</changefreq>"]
            )
            parts.append(
                f"{ws}<{entry}>{ws}<loc>{ws}{loc}{ws}</loc>{lastmod}</{entry}>"
            )
        parts.append(f"</{root}>")
        xml = "".join(parts)
        src = f"https://s{i}.example/sitemap.xml"
        docs.append((src, xml))
        # ElementTree reference (namespace-agnostic localnames)
        for el in ET.fromstring(xml):
            if el.tag.split("}")[-1] != entry:
                continue
            loc_el = next(
                (c for c in el if c.tag.split("}")[-1] == "loc"), None
            )
            if loc_el is None or not (loc_el.text or "").strip():
                continue
            lm_el = next(
                (c for c in el if c.tag.split("}")[-1] == "lastmod"), None
            )
            lm = (lm_el.text or "").strip()[:10] if lm_el is not None else None
            want.add((src, "sitemap" if is_index else "url",
                      loc_el.text.strip(), lm))

    df = spark.createDataFrame(docs, "sitemap_url string, xml string")
    got = {
        (r["sitemap_url"], r["kind"], r["loc"], r["lastmod"])
        for r in parse_sitemaps(df).collect()
    }
    assert got == want


def test_canonicalize_fuzz_spark_equals_python(spark):
    """Seeded fuzz of the canonicalization pair: 1500 generated URL
    shapes (random scheme/host case, default and explicit ports,
    duplicate slashes, query permutations, fragments, empty paths,
    userinfo-ish and non-URL garbage) — the Spark column expression
    and the pure-Python oracle law must agree byte-for-byte, since the
    oracle scheduler's parity proof rides on exactly this pair."""
    import random

    rng = random.Random(13)
    urls = []
    for i in range(1500):
        kind = rng.random()
        if kind < 0.08:
            urls.append(rng.choice([
                "", "   ", "not a url", "relative/path?b=1&a=2",
                "mailto:x@y.example", f"ftp://H{i}.Example:21/a",
            ]))
            continue
        scheme = rng.choice(["http", "HTTP", "https", "HtTpS"])
        host = rng.choice([
            f"Site{i % 40}.Example.ORG", f"s{i % 40}.example.org",
            f"XN--{i % 9}x.example",
        ])
        port = rng.choice(["", ":80", ":443", ":8080"])
        segs = rng.randint(0, 4)
        path = "".join(
            rng.choice(["/", "//", "///"]) + rng.choice(["a", "b9", "C_d", ""])
            for _ in range(segs)
        )
        qn = rng.randint(0, 4)
        query = "&".join(
            f"{rng.choice('zyxw')}={rng.randint(0, 9)}" for _ in range(qn)
        )
        frag = rng.choice(["", "#x", "#a/b?c=1"])
        u = f"{scheme}://{host}{port}{path}"
        if query or rng.random() < 0.2:
            u += "?" + query
        u += frag
        urls.append(u)

    got = [
        r["c"]
        for r in spark.createDataFrame([(u,) for u in urls], "url string")
        .select(canonicalize_url(F.col("url")).alias("c"))
        .collect()
    ]
    want = [canonicalize_url_py(u) for u in urls]
    diffs = [(u, g, w) for u, g, w in zip(urls, got, want) if g != w]
    assert not diffs, diffs[:5]


def test_anchor_text_agg_semantics(spark):
    """Anchor-text aggregation (plans/hostgraph.anchor_text_agg):
    whitespace/case variants of the same phrase collapse, the most
    frequent phrase wins with lexicographic tie-break, empty anchors
    count as links but not phrases, and no-href / relative-target /
    nested-name distractors never enter the edge stream."""
    from go_htmldate_spark.plans.hostgraph import anchor_text_agg

    rows = [
        ("https://s1.example/p1",
         '<html><a name="x">not a link</a>'
         '<a href="https://t.example/a">Read  Me</a>'
         "<a class=\"nav\" href='https://t.example/a'>  read   me </a>"
         '<A HREF="https://hub.example/t"></A>'
         '<a href="/rel">rel</a></html>'),
        ("https://s2.example/p2",
         '<a href="https://t.example/a">other words</a>'
         '<a href="https://t.example/b">read me</a>'),
        # quote-awareness: an apostrophe inside a double-quoted href
        # stays in the URL; an `href=` inside ANOTHER attribute's
        # value can't hijack the target; a '>' inside a quoted title
        # can't end the tag early
        ("https://s3.example/p3",
         "<a href=\"https://t.example/o'brien/x\">bio</a>"
         '<a data-note="see href= \'https://evil.example/x\'"'
         ' href="https://real.example/y">real thing</a>'
         '<a href="https://t.example/c" title="a>b">angle</a>'),
    ]
    df = spark.createDataFrame(rows, ["url", "html"])
    out = {r["target_url"]: r for r in anchor_text_agg(df).collect()}
    assert set(out) == {
        "https://t.example/a", "https://t.example/b", "https://hub.example/t",
        "https://t.example/o'brien/x", "https://real.example/y",
        "https://t.example/c",
    }
    a = out["https://t.example/a"]
    assert a["n_links"] == 3 and a["n_src_hosts"] == 2
    assert a["n_unique_anchors"] == 2 and a["top_anchor"] == "read me"
    hub = out["https://hub.example/t"]
    assert hub["n_links"] == 1 and hub["n_unique_anchors"] == 0
    assert hub["top_anchor"] is None
    assert out["https://t.example/o'brien/x"]["top_anchor"] == "bio"
    assert out["https://real.example/y"]["top_anchor"] == "real thing"
    assert out["https://t.example/c"]["top_anchor"] == "angle"


def test_soft404_flags_semantics(spark):
    """Soft-404 detection (plans/soft404): the err-phrase + tiny-body
    conjunction flags template 404s, host-level (host, md5) groups
    spanning >= min_template_urls distinct urls flag phrase-free
    parked templates, and the dangerous negatives — tiny unique stubs,
    long articles ABOUT 404s, the same template spread across
    DIFFERENT hosts — stay unflagged."""
    from go_htmldate_spark.plans.soft404 import soft404_signal_flags

    err = "Error 404 - page not found. Sorry!"
    parked = "welcome to our website under construction"
    long404 = ("How to debug error 404 page not found responses. " +
               "word " * 60)
    rows = (
        # phrase + tiny on h1 (only 2 urls — template pass alone
        # would NOT fire; the conjunction must)
        [(f"https://h1.example/dead/{i}", err) for i in range(2)]
        # phrase-free parked template on h2 across 5 urls -> template
        + [(f"https://h2.example/p/{i}", parked) for i in range(5)]
        # same parked text but only 4 urls on h3 -> below threshold
        + [(f"https://h3.example/p/{i}", parked) for i in range(4)]
        # tiny unique stubs -> clean
        + [(f"https://h4.example/s/{i}", f"stub {i}") for i in range(3)]
        # long article about 404s -> clean
        + [("https://h5.example/article", long404)]
        # null text -> judged as empty (not flagged, still counted)
        + [("https://h5.example/null", None)]
    )
    df = spark.createDataFrame(rows, "url string, text string")
    out = {
        r["url"]: r
        for r in soft404_signal_flags(df, min_template_urls=5).collect()
    }
    assert len(out) == len(rows)
    r = out["https://h5.example/null"]
    assert not r["err_phrase"] and r["tiny_body"] and not r["soft404"]

    r = out["https://h1.example/dead/0"]
    assert r["err_phrase"] and r["tiny_body"]
    assert not r["template_err"] and r["soft404"]
    r = out["https://h2.example/p/3"]
    assert not r["err_phrase"] and r["tiny_body"]
    assert r["template_err"] and r["soft404"]
    r = out["https://h3.example/p/0"]
    assert not r["template_err"] and not r["soft404"]
    r = out["https://h4.example/s/1"]
    assert r["tiny_body"] and not r["err_phrase"] and not r["soft404"]
    r = out["https://h5.example/article"]
    assert r["err_phrase"] and not r["tiny_body"] and not r["soft404"]
    assert sum(r["soft404"] for r in out.values()) == 7


def test_soft404_host_demotion(spark):
    """Host-level soft-404 roll-up and scheduler demotion
    (plans/soft404.soft404_host_stats / soft404_demotion): rates
    aggregate per host over the flags, and only hosts at/over the
    rate threshold with enough observed pages are demoted — matching
    mirror_demotion's (host, politeness_budget) merge contract."""
    from go_htmldate_spark.plans.soft404 import (
        soft404_demotion,
        soft404_host_stats,
    )

    err = "Error 404 - page not found."
    art = "a long enough article body " + "word " * 50
    rows = (
        # bad host: 3/4 soft404
        [(f"https://bad.example/{i}", err) for i in range(3)]
        + [("https://bad.example/ok", art + "x")]
        # good host: 1/4
        + [("https://good.example/0", err)]
        + [(f"https://good.example/a{i}", art + str(i)) for i in range(3)]
        # tiny host at 100% but below min_pages
        + [("https://tiny.example/0", err)]
    )
    df = spark.createDataFrame(rows, ["url", "text"])
    stats = {r["host"]: r for r in soft404_host_stats(df).collect()}
    assert stats["bad.example"]["n_pages"] == 4
    assert stats["bad.example"]["n_soft404"] == 3
    assert stats["bad.example"]["soft404_frac"] == 0.75
    assert stats["good.example"]["n_soft404"] == 1
    assert stats["tiny.example"]["soft404_frac"] == 1.0

    dem = soft404_demotion(
        soft404_host_stats(df), threshold=0.5, min_pages=3
    ).collect()
    assert {(r["host"], r["politeness_budget"]) for r in dem} == {
        ("bad.example", 0.0)
    }


def test_opic_sweep_semantics_and_conservation(spark):
    """OPIC (plans/opic, Abiteboul WWW'03): one hand-checked sweep —
    equal cash splits over out-links by truncating division, remainders
    and dangling cash pool at the virtual root, the root pays back
    div-n shares — then exact cash conservation over repeated sweeps
    and the online (crawled-subset) update law vs the single-threaded
    reference."""
    import random

    from go_htmldate_spark.plans.opic import (
        ROOT, opic_importance, opic_init, opic_py, opic_run, opic_sweep,
    )

    # a: ->b,->c  b: ->c  c: dangling ; unit 90
    hosts = spark.createDataFrame([("a",), ("b",), ("c",)], "host string")
    edges = spark.createDataFrame(
        [("a", "b"), ("a", "c"), ("b", "c"), ("b", "b")],  # self-loop drops
        "src string, dst string",
    )
    st = opic_sweep(opic_init(hosts, unit=90), edges)
    got = {r["host"]: (r["cash"], r["history"]) for r in st.collect()}
    # spent: a=90 (od 2, give 45, rem 0); b=90 (od 1, give 90, rem 0);
    # c=90 dangling -> rem 90. root intake 90, share 30, root keeps 0.
    # cash': a=0+0+30=30; b=0+45+30=75; c=0+(45+90)+30=165
    assert got["a"] == (30, 90) and got["b"] == (75, 90)
    assert got["c"] == (165, 90) and got[ROOT] == (0, 0)

    # batch run: conservation + parity with the reference at 3 sweeps
    st3 = opic_run(hosts, edges, sweeps=3, unit=10**6)
    rows = {r["host"]: (r["cash"], r["history"]) for r in st3.collect()}
    assert sum(c for c, _ in rows.values()) == 3 * 10**6
    ref = opic_py(["a", "b", "c"], [("a", "b"), ("a", "c"), ("b", "c")],
                  sweeps=3, unit=10**6)
    assert rows == ref

    # online mode: random crawled subsets, sweep-by-sweep parity
    rng = random.Random(7)
    hs = [f"h{i}" for i in range(12)]
    es = sorted({(rng.choice(hs), rng.choice(hs)) for _ in range(40)})
    crawls = [set(rng.sample(hs, rng.randint(0, 12))) for _ in range(3)]
    hdf = spark.createDataFrame([(h,) for h in hs], "host string")
    edf = spark.createDataFrame(es, "src string, dst string")
    st = opic_init(hdf, unit=10**6)
    for cs in crawls:
        cdf = spark.createDataFrame([(h,) for h in sorted(cs)] or [("_none_",)],
                                    "host string")
        st = opic_sweep(st, edf, crawled=cdf)
    got = {r["host"]: (r["cash"], r["history"]) for r in st.collect()}
    ref = opic_py(hs, es, sweeps=3, unit=10**6, crawled_per_sweep=crawls)
    assert got == ref
    assert sum(c for c, _ in got.values()) == 12 * 10**6

    imp = {r["host"]: r for r in opic_importance(st3).collect()}
    assert ROOT not in imp
    assert abs(sum(r["importance"] for r in imp.values()) - 1.0) < 1e-5
    # dangling sink c absorbed the most total mass
    assert max(imp, key=lambda h: imp[h]["importance"]) == "c"


def test_opic_grow_zero_cash_and_budget_bridge(spark):
    """opic_grow adds only unseen hosts, at zero cash/history (total
    cash unchanged — the conservation law under online discovery);
    opic_budgets maps cash+history onto [lo, hi] with the ≥1 clamp
    keeping just-grown zero-mass hosts at the floor."""
    from go_htmldate_spark.plans.opic import (
        ROOT, opic_budgets, opic_grow, opic_init, opic_sweep,
    )

    hosts = spark.createDataFrame([("a",), ("b",)], "host string")
    st = opic_init(hosts, unit=100)
    grown = opic_grow(st, spark.createDataFrame(
        [("b",), ("c",), (ROOT,), (None,)], "host string"))
    rows = {r["host"]: (r["cash"], r["history"]) for r in grown.collect()}
    assert rows == {"a": (100, 0), "b": (100, 0), "c": (0, 0), ROOT: (0, 0)}
    assert sum(c for c, _ in rows.values()) == 200

    # auto-grow inside the sweep: dst 'd' was never grown, yet its
    # incoming cash must not vanish — conservation holds; edges with
    # '' endpoints (url_host's no-host result) drop entirely, so 'a'
    # splits over {c, d} only and no phantom '' host enters the state
    edges = spark.createDataFrame(
        [("a", "c"), ("a", "d"), ("a", ""), ("", "b")],
        "src string, dst string",
    )
    swept = opic_sweep(grown, edges)
    rows2 = {r["host"]: (r["cash"], r["history"]) for r in swept.collect()}
    assert set(rows2) == {"a", "b", "c", "d", ROOT}
    assert sum(c for c, _ in rows2.values()) == 200
    # a (cash 100, od 2): give 50 to each of c,d; b dangling -> root;
    # root intake 100, n=4, share 25
    assert rows2["c"] == (75, 0) and rows2["d"] == (75, 0)
    assert rows2["a"] == (25, 100) and rows2["b"] == (25, 100)
    b = {r["host"]: r["politeness_budget"]
         for r in opic_budgets(swept, lo=1.0, hi=4.0).collect()}
    assert set(b) == {"a", "b", "c", "d"}
    assert all(0.999 <= v <= 4.001 for v in b.values())
    # cash+history: a,b hold 125 each, c,d 75 -> a,b at the ceiling
    assert b["a"] == max(b.values()) and b["c"] == min(b.values())


def test_scheduler_opic_online_updates(spark, corpus, tmp_path_factory):
    """CrawlScheduler(opic_state=…) end-to-end: cold-start batch state
    over the corpus host graph, then ONE online sweep per crawl round
    (that round's fetched hosts spend cash over that round's observed
    out-link edges; hosts first seen mid-crawl grow in at zero cash).
    The final distributed state replays EXACTLY — cash and history,
    exact integers — on the single-threaded reference fed the
    scheduler's own per-round fetch/edge logs; total cash is conserved
    at n₀·unit; the refreshed budget table is min(static, OPIC∈[lo,hi])
    and survives resume()."""
    from go_htmldate_spark.plans.canonical import canonicalize_url, url_host
    from go_htmldate_spark.plans.opic import ROOT, opic_py, opic_run

    unit = 10**6
    edges_df = corpus.select(
        url_host(F.col("url")).alias("src"),
        F.explode("outlinks").alias("o"),
    ).select("src", url_host(canonicalize_url(F.col("o"))).alias("dst"))
    hosts_df = edges_df.select(F.col("src").alias("host")).unionByName(
        edges_df.select(F.col("dst").alias("host"))
    )
    state0 = opic_run(hosts_df, edges_df, sweeps=2, unit=unit)

    state_dir = tmp_path_factory.mktemp("opic_sched")
    cfg = CrawlConfig(bloom_min_seen=0, n_salts=4, opic_lo=1.0, opic_hi=4.0)
    sched = CrawlScheduler(
        spark, corpus, robots=None, host_budget=_budget_df(spark),
        state_dir=str(state_dir), config=cfg, opic_state=state0,
    )
    sched.init_from_seeds(
        spark.createDataFrame(_seeds(corpus), "url string, priority double")
    )
    manifests = sched.run(3)
    n_rounds = len(manifests)
    assert n_rounds == 3 and all(m["n_fetched"] > 0 for m in manifests)

    # replay inputs from the scheduler's own snapshots, via the same
    # Spark expressions run_round uses for the sweep
    corpus_c = corpus.withColumn("url_canon", canonicalize_url(F.col("url")))
    crawled_per, edges_per = [], []
    for r in range(n_rounds):
        f = spark.read.parquet(f"{state_dir}/round_{r}/fetched").select("url")
        crawled_per.append(
            {row["h"] for row in
             f.select(url_host(F.col("url")).alias("h")).collect()}
        )
        e = (
            f.join(corpus_c, f["url"] == corpus_c["url_canon"])
            .select(
                url_host(corpus_c["url_canon"]).alias("src"),
                F.explode("outlinks").alias("o"),
            )
            .select("src", url_host(canonicalize_url(F.col("o"))).alias("dst"))
            .filter(F.col("src") != F.col("dst"))
            .distinct()
        )
        edges_per.append([(row["src"], row["dst"]) for row in e.collect()])

    hosts0 = [row["host"] for row in hosts_df.distinct().collect()]
    base_edges = [(row["src"], row["dst"]) for row in edges_df.collect()]
    ref = opic_py(
        hosts0,
        edges_per_sweep=[base_edges] * 2 + edges_per,
        crawled_per_sweep=[None] * 2 + crawled_per,
        unit=unit, grow=True,
    )
    final = spark.read.parquet(f"{state_dir}/round_{n_rounds - 1}/opic")
    got = {r2["host"]: (r2["cash"], r2["history"]) for r2 in final.collect()}
    assert got == ref
    n0 = len(set(hosts0) - {ROOT})
    assert sum(c for c, _ in got.values()) == n0 * unit

    # refreshed budgets: every OPIC host inside [lo, hi], min-merged
    # with the static table (site1's static 1.0 still caps it)
    b = {r2["host"]: r2["politeness_budget"]
         for r2 in sched.host_budget.collect()}
    assert all(0.999 <= v <= 4.001 for v in b.values())
    assert b["site1.example.org"] <= 1.0 + 1e-9

    # resume() reloads the swept state and rebuilds the same budgets
    sched2 = CrawlScheduler(
        spark, corpus, robots=None, host_budget=_budget_df(spark),
        state_dir=str(state_dir), config=cfg,
    )
    assert sched2.resume() == n_rounds
    got2 = {r2["host"]: (r2["cash"], r2["history"])
            for r2 in sched2._opic_state.collect()}
    assert got2 == ref
    b2 = {r2["host"]: r2["politeness_budget"]
          for r2 in sched2.host_budget.collect()}
    assert b2 == b


def test_host_lang_budgets_majority_and_quota(spark):
    """Per-host majority language with lexicographic tie-break; quota
    map with default floor; '' hosts (malformed URLs) dropped; NULL
    lang folds to 'unknown'."""
    from go_htmldate_spark.plans.hostgraph import host_lang_budgets

    pages = spark.createDataFrame(
        [
            ("https://a.example/1", "en"), ("https://a.example/2", "en"),
            ("https://a.example/3", "de"),            # en majority
            ("https://b.example/1", "de"), ("https://b.example/2", "en"),
            # b: tie en/de -> 'de' wins lexicographically
            ("https://c.example/1", "tr"),            # not in quotas -> floor
            ("https://d.example/1", None),            # NULL -> unknown
            ("not-a-url", "en"),                      # '' host dropped
        ],
        "url string, lang string",
    )
    got = {
        r["host"]: (r["lang"], r["politeness_budget"])
        for r in host_lang_budgets(
            pages, {"en": 8.0, "de": 4.0}, default=1.0
        ).collect()
    }
    assert got == {
        "a.example": ("en", 8.0),
        "b.example": ("de", 4.0),
        "c.example": ("tr", 1.0),
        "d.example": ("unknown", 1.0),
    }


def test_host_seed_distance_matches_bfs_reference(spark):
    """Multi-source BFS (plans/hostgraph.host_seed_distance) against a
    single-threaded BFS over a random 120-node graph: exact hop
    counts, horizon cutoff, unreachable hosts absent, self-loops
    ignored."""
    import random
    from collections import deque

    from go_htmldate_spark.plans.hostgraph import host_seed_distance

    rng = random.Random(13)
    nodes = [f"h{i}" for i in range(120)]
    edges = {(rng.choice(nodes), rng.choice(nodes)) for _ in range(400)}
    edges |= {("h0", "h0")}  # self-loop must be ignored
    seeds = ["h0", "h7"]
    adj: dict[str, list[str]] = {}
    for s, d in edges:
        if s != d:
            adj.setdefault(s, []).append(d)
    want, dq = {s: 0 for s in seeds}, deque(seeds)
    max_hops = 4
    while dq:
        u = dq.popleft()
        if want[u] >= max_hops:
            continue
        for v in adj.get(u, ()):
            if v not in want:
                want[v] = want[u] + 1
                dq.append(v)

    edf = spark.createDataFrame(sorted(edges), "src string, dst string")
    sdf = spark.createDataFrame([(s,) for s in seeds], "host string")
    got = {r["host"]: r["dist"]
           for r in host_seed_distance(edf, sdf, max_hops=max_hops).collect()}
    assert got == want


def test_host_seed_distance_horizon_and_empty_frontier(spark):
    from go_htmldate_spark.plans.hostgraph import host_seed_distance

    # a 5-link chain with horizon 3: h4/h5 are beyond the horizon
    chain = [(f"h{i}", f"h{i+1}") for i in range(5)]
    edf = spark.createDataFrame(chain, "src string, dst string")
    sdf = spark.createDataFrame([("h0",)], "host string")
    got = {r["host"]: r["dist"]
           for r in host_seed_distance(edf, sdf, max_hops=3).collect()}
    assert got == {"h0": 0, "h1": 1, "h2": 2, "h3": 3}
    # isolated seed: loop exits on the empty frontier, seed still settles
    lone = spark.createDataFrame([("x", "y")], "src string, dst string")
    sd = spark.createDataFrame([("z",)], "host string")
    got = {r["host"]: r["dist"]
           for r in host_seed_distance(lone, sd, max_hops=3).collect()}
    assert got == {"z": 0}


def test_host_reciprocity_planted_ratios(spark):
    """Link-exchange signal (plans/hostgraph.host_reciprocity): the
    farm pair reads 1.0, the organic tail 0.0, a mixed host the exact
    fraction; self-loops and duplicate edges never count."""
    from go_htmldate_spark.plans.hostgraph import host_reciprocity

    edges = [
        ("farm1", "farm2"), ("farm2", "farm1"),          # full exchange
        ("mix", "farm1"), ("farm1", "mix"),              # mix: 1 recip
        ("mix", "a"), ("mix", "b"), ("mix", "c"),        # + 3 one-way
        ("a", "b"),
        ("a", "a"),                                      # self-loop
        ("farm1", "farm2"),                              # duplicate
    ]
    df = spark.createDataFrame(edges, "src string, dst string")
    got = {r["host"]: r for r in host_reciprocity(df).collect()}
    assert got["farm2"]["reciprocity"] == 1.0
    assert (got["mix"]["n_out"], got["mix"]["n_reciprocal"]) == (4, 1)
    assert got["mix"]["reciprocity"] == 0.25
    assert got["a"]["reciprocity"] == 0.0 and got["a"]["n_out"] == 1
    # farm1: edges to farm2 (recip) and mix (recip) -> 1.0
    assert got["farm1"]["n_out"] == 2 and got["farm1"]["reciprocity"] == 1.0


def test_sitemap_coverage_canonical_join(spark):
    """Coverage audit (sources/sitemaps.sitemap_coverage): crawled
    URLs count against advertised ones through the scheduler's
    canonical law (fragments stripped, query order normalized), and
    never-crawled hosts read 0.0."""
    from go_htmldate_spark.sources.sitemaps import sitemap_coverage

    adv = spark.createDataFrame(
        [("https://a.example/p/1",),
         ("https://a.example/p/2?x=1&b=2",),
         ("https://a.example/p/3",),
         ("https://b.example/q/1",)],
        "url string")
    crawled = spark.createDataFrame(
        [("https://a.example/p/1#frag",),       # fragment stripped
         ("https://a.example/p/2?b=2&x=1",),    # query reordered
         ("https://c.example/other",)],
        "url string")
    got = {r["host"]: r for r in sitemap_coverage(adv, crawled).collect()}
    assert got["a.example"]["n_advertised"] == 3
    assert got["a.example"]["n_crawled"] == 2
    assert abs(got["a.example"]["coverage"] - 2 / 3) < 1e-12
    assert got["b.example"]["n_crawled"] == 0
    assert got["b.example"]["coverage"] == 0.0
    assert set(got) == {"a.example", "b.example"}


def test_scheduler_yield_prior_matches_oracle(
    spark, corpus, corpus_dates, tmp_path_factory
):
    """Yield-prior gate: each round's ordering uses priority x learned
    pattern yield through a broadcast view (frontier state stays in
    base currency). The distributed gate must match the oracle's
    fetch ordering exactly, and the gate must actually change the
    schedule vs the ungated run (the yields are planted adversarially:
    alternating 0.05 / 0.95 per signature)."""
    from go_htmldate_spark.plans.yield_prior import url_pattern_signature_py

    seeds = _seeds(corpus)
    sigs = sorted({url_pattern_signature_py(u) for u in corpus_dates})
    yields = {s: (0.05 if i % 2 == 0 else 0.95) for i, s in enumerate(sigs)}

    orc = OracleScheduler(
        pages=corpus_dates,
        robots={h: rules for h, rules, _ in ROBOTS},
        budgets=dict(BUDGETS),
        delays={h: d for h, rules, d in ROBOTS},
        yields=yields,
    )
    orc.init_from_seeds(seeds)
    orc.run(N_ROUNDS)

    d = tmp_path_factory.mktemp("yield_gate")
    sched = CrawlScheduler(
        spark, corpus, robots=_robots_df(spark),
        host_budget=_budget_df(spark), state_dir=str(d),
        config=CrawlConfig(n_bloom_partitions=4, bloom_bits=1 << 16,
                           n_salts=4),
        yield_table=spark.createDataFrame(
            list(yields.items()), "signature string, yield double"
        ),
    )
    sched.init_from_seeds(
        spark.createDataFrame(seeds, "url string, priority double")
    )
    sched.run(N_ROUNDS)

    spark_log = _spark_fetch_log(spark, d, N_ROUNDS)
    oracle_log = [r for r in orc.fetch_log][: len(spark_log)]
    assert len(spark_log) == len(oracle_log)
    for rnd, (s_urls, o_urls) in enumerate(zip(spark_log, oracle_log)):
        assert s_urls == o_urls, f"round {rnd} diverged under yield gate"

    # the gate changes the crawl: an ungated oracle run orders at least
    # one round differently
    base = OracleScheduler(
        pages=corpus_dates,
        robots={h: rules for h, rules, _ in ROBOTS},
        budgets=dict(BUDGETS),
        delays={h: d for h, rules, d in ROBOTS},
    )
    base.init_from_seeds(seeds)
    base.run(N_ROUNDS)
    assert base.fetch_log != orc.fetch_log


def test_scheduler_respect_nofollow_gates_outlinks(spark, tmp_path_factory):
    """With CrawlConfig.respect_nofollow, a fetched page whose own
    robots meta says nofollow contributes no outlinks to discovery —
    but the page itself still schedules/extracts; with the flag off
    its links flow. Pages without the meta are untouched either way."""
    from go_htmldate_spark.plans.scheduler import CrawlConfig, CrawlScheduler

    date_meta = ("<meta property='article:published_time' "
                 "content='2024-01-02'/>")
    nf_html = (f"<html><head>{date_meta}"
               "<meta name='robots' content='nofollow'>"
               "</head><body>x</body></html>")
    ok_html = f"<html><head>{date_meta}</head><body>x</body></html>"
    gated = "https://n.example.org/from-nofollow"
    free = "https://n.example.org/from-clean"
    corpus = spark.createDataFrame(
        [
            ("https://n.example.org/nf", nf_html, [gated]),
            ("https://n.example.org/ok", ok_html, [free]),
        ],
        "url string, html string, outlinks array<string>",
    )
    seeds = spark.createDataFrame(
        [("https://n.example.org/nf", 1.0),
         ("https://n.example.org/ok", 0.9)],
        "url string, priority double",
    )

    def frontier_urls(respect):
        d = tmp_path_factory.mktemp(f"nf{respect}")
        sched = CrawlScheduler(
            spark, corpus, robots=None, host_budget=None, state_dir=str(d),
            config=CrawlConfig(n_bloom_partitions=2, bloom_bits=1 << 12,
                               respect_nofollow=respect),
        )
        sched.init_from_seeds(seeds)
        sched.run(1)
        return {r["url"] for r in sched.frontier.select("url").collect()}

    respected = frontier_urls(True)
    assert free in respected
    assert gated not in respected
    plain = frontier_urls(False)
    assert {gated, free} <= plain


def test_scheduler_url_suppress_blocks_discovery(spark, tmp_path_factory):
    """A url_suppress table (the deep-pagination demotion currency)
    keeps its URLs out of the frontier at discovery time: suppressed
    outlinks never enter, clean ones do, and seeds are exempt like
    every discovery-side gate. Suppress keys pass through the same
    canonicalization as discovered URLs (fragments strip)."""
    from go_htmldate_spark.plans.scheduler import CrawlConfig, CrawlScheduler

    html = ("<html><head><meta property='article:published_time' "
            "content='2024-01-02'/></head><body>x</body></html>")
    deep = "https://s.example.org/tag/archive?page=47"
    clean = "https://s.example.org/article/1"
    corpus = spark.createDataFrame(
        [("https://s.example.org/start", html, [deep, clean])],
        "url string, html string, outlinks array<string>",
    )
    seeds = spark.createDataFrame(
        [("https://s.example.org/start", 1.0)],
        "url string, priority double",
    )
    suppress = spark.createDataFrame(
        # fragment must not defeat the match: canonicalization strips it
        [(deep + "#frag",)], "url string",
    )
    d = tmp_path_factory.mktemp("sup")
    sched = CrawlScheduler(
        spark, corpus, robots=None, host_budget=None, state_dir=str(d),
        config=CrawlConfig(n_bloom_partitions=2, bloom_bits=1 << 12),
        url_suppress=suppress,
    )
    sched.init_from_seeds(seeds)
    sched.run(1)
    frontier = {r["url"] for r in sched.frontier.select("url").collect()}
    assert clean in frontier
    assert all("page=47" not in u for u in frontier)
