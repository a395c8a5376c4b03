"""Registrable-domain extraction (plans/psl.py) against a
single-threaded publicsuffix.org-algorithm reference."""

from __future__ import annotations

import random

from pyspark.sql import functions as F

from go_htmldate_spark.plans.psl import (
    MINI_PSL,
    registrable_or_host,
    registrable_py,
    with_registrable,
)


def _psl_ref(host: str, rules=MINI_PSL):
    """Direct transcription of the publicsuffix.org algorithm:
    exception rules prevail; otherwise most labels wins; implicit '*'
    fallback."""
    labels = host.lower().split(".")

    def rule_matches(rule: str) -> bool:
        rl = rule.split(".")
        if len(rl) > len(labels):
            return False
        for r, l in zip(reversed(rl), reversed(labels)):
            if r != "*" and r != l:
                return False
        return True

    best = 1  # implicit "*"
    for raw in rules:
        if raw.startswith("!"):
            continue
        if rule_matches(raw.lstrip("!")):
            best = max(best, len(raw.split(".")))
    for raw in rules:
        if raw.startswith("!") and rule_matches(raw[1:]):
            best = len(raw[1:].split(".")) - 1
    ps = ".".join(labels[-best:])
    rd = ".".join(labels[-(best + 1):]) if len(labels) > best else None
    return ps, rd


def test_registrable_known_cases(spark):
    cases = {
        "www.example.com": ("com", "example.com"),
        "a.b.news.co.uk": ("co.uk", "news.co.uk"),
        "user.github.io": ("github.io", "user.github.io"),
        "deep.x.user.github.io": ("github.io", "user.github.io"),
        "host.unlistedtld": ("unlistedtld", "host.unlistedtld"),
        "com": ("com", None),
        "co.uk": ("co.uk", None),
        # wildcard *.ck: any single label under ck is itself a suffix
        "shop.thing.ck": ("thing.ck", "shop.thing.ck"),
        "thing.ck": ("thing.ck", None),
        # exception !www.ck: www.ck IS registrable, suffix is ck
        "www.ck": ("ck", "www.ck"),
        "sub.www.ck": ("ck", "www.ck"),
        "blog.blogspot.com": ("blogspot.com", "blog.blogspot.com"),
        "WWW.Example.COM": ("com", "example.com"),
    }
    df = spark.createDataFrame([(h,) for h in cases], "host string")
    got = {r["host"]: (r["public_suffix"], r["registrable_domain"])
           for r in with_registrable(df).collect()}
    for host, want in cases.items():
        assert got[host] == want, (host, got[host], want)


def test_registrable_fuzz_matches_reference(spark):
    rng = random.Random(42)
    tails = ["com", "co.uk", "github.io", "ck", "www.ck", "q7.ck", "bd",
             "x.bd", "org", "unknown", "ne.jp", "gov.au", "blogspot.com",
             "io", "uk"]
    hosts = []
    for _ in range(400):
        n_extra = rng.randint(0, 3)
        extra = [f"l{rng.randint(0, 9)}" for _ in range(n_extra)]
        hosts.append(".".join(extra + [rng.choice(tails)]))
    hosts = sorted(set(hosts))
    df = spark.createDataFrame([(h,) for h in hosts], "host string")
    got = {r["host"]: (r["public_suffix"], r["registrable_domain"])
           for r in with_registrable(df).collect()}
    for h in hosts:
        assert got[h] == _psl_ref(h), (h, got[h], _psl_ref(h))


def test_registrable_groups_shards_not_tenants(spark):
    rows = [("www.site.co.uk",), ("img1.site.co.uk",), ("img2.site.co.uk",),
            ("alice.github.io",), ("bob.github.io",), ("com",)]
    df = spark.createDataFrame(rows, "host string")
    got = {r["registrable_domain"]: r["n_hosts"]
           for r in with_registrable(df)
           .filter(F.col("registrable_domain").isNotNull())
           .groupBy("registrable_domain")
           .agg(F.count("*").alias("n_hosts")).collect()}
    # one site's shards share one identity; platform tenants stay apart
    assert got == {"site.co.uk": 3, "alice.github.io": 1,
                   "bob.github.io": 1}


def test_registrable_or_host_matches_python_reference(spark):
    hosts = ["www.example.com", "a.b.news.co.uk", "deep.x.user.github.io",
             "com", "co.uk", "shop.thing.ck", "thing.ck", "sub.www.ck",
             "WWW.Example.COM", "host.unlistedtld"]
    df = spark.createDataFrame([(h,) for h in hosts], "host string")
    got = {r["host"]: r["key"] for r in df.select(
        "host", registrable_or_host(F.col("host")).alias("key")
    ).collect()}
    # the scheduler oracle groups politeness by registrable_py; the
    # column law must agree, bare suffixes falling back to the host
    for h in hosts:
        assert got[h] == registrable_py(h), (h, got[h], registrable_py(h))
    assert got["co.uk"] == "co.uk" and got["thing.ck"] == "thing.ck"
    assert got["WWW.Example.COM"] == "example.com"


def test_registrable_plan_is_map_only(spark):
    df = spark.createDataFrame([("a.example.com",)], "host string")
    plan = with_registrable(df)._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan and "Join" not in plan
