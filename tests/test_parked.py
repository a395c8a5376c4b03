"""Parked-domain / link-farm detection (plans/parked.py)."""

from __future__ import annotations

from pyspark.sql import functions as F

from go_htmldate_spark.plans.parked import (
    parked_budget_demotion,
    parked_flags,
    parked_host_stats,
)

_ARTICLE = (
    "The committee reviewed the quarterly findings and published a "
    "detailed report covering infrastructure, budget allocations and "
    "the long term maintenance plan for the regional network. " * 3
)


def _pages(spark):
    farm_html = (
        '<a href="https://ad.example/x">ad</a> ' * 30
        + "<div>" + "x" * 200 + "</div>"
    )
    rows = [
        # registrar phrase in the lead window -> parked
        ("https://p0.example/a",
         "<html><body>This domain is for sale. Buy this domain "
         "today.</body></html>",
         "This domain is for sale. Buy this domain today."),
        # meta-refresh shell with no readable text -> parked
        ("https://p1.example/a",
         '<html><head><meta http-equiv="refresh" '
         'content="0;url=https://ads.example/"></head><body></body></html>',
         ""),
        # anchor grid, almost no text -> parked (farm & thin)
        ("https://p2.example/a", farm_html, "cheap flights hotels deals"),
        # long article that MENTIONS parking past the lead window -> clean
        ("https://c0.example/a",
         "<html><body>" + _ARTICLE + " domain for sale</body></html>",
         _ARTICLE + " domain for sale"),
        # meta refresh but a real article body -> clean
        ("https://c1.example/a",
         '<html><head><meta http-equiv="REFRESH" content="300"></head>'
         "<body>" + _ARTICLE + "</body></html>",
         _ARTICLE),
        # plain article -> clean
        ("https://c2.example/a",
         "<html><body>" + _ARTICLE + "</body></html>", _ARTICLE),
    ]
    return spark.createDataFrame(rows, "url string, html string, text string")


def test_parked_flags_semantics(spark):
    got = {r["url"]: r.asDict() for r in parked_flags(_pages(spark)).collect()}
    assert got["https://p0.example/a"]["park_phrase"]
    assert got["https://p0.example/a"]["parked"]
    assert got["https://p1.example/a"]["meta_refresh"]
    assert got["https://p1.example/a"]["parked"]
    assert got["https://p2.example/a"]["link_farm"]
    assert got["https://p2.example/a"]["thin_text"]
    assert got["https://p2.example/a"]["parked"]
    for clean in ("https://c0.example/a", "https://c1.example/a",
                  "https://c2.example/a"):
        assert not got[clean]["parked"], clean
    # c1 still reports the raw refresh signal — only the conjunction clears
    assert got["https://c1.example/a"]["meta_refresh"]


def test_parked_host_stats_and_demotion(spark):
    # host "bad" serves 4 phrase landers, host "good" 4 articles
    rows = []
    for i in range(4):
        rows.append((f"https://bad.example/{i}",
                     "<html><body>domain for sale</body></html>",
                     "domain for sale"))
        rows.append((f"https://good.example/{i}",
                     "<html><body>" + _ARTICLE + "</body></html>", _ARTICLE))
    pages = spark.createDataFrame(rows, "url string, html string, text string")
    stats = {r["host"]: r for r in
             parked_host_stats(parked_flags(pages), min_pages=3).collect()}
    assert stats["bad.example"]["parked_rate"] == 1.0
    assert stats["good.example"]["parked_rate"] == 0.0
    # demotion rows in the crawl job's min-merge currency: only the
    # host past the threshold, at budget 0
    got = {r["host"]: r["politeness_budget"] for r in parked_budget_demotion(
        parked_host_stats(parked_flags(pages), min_pages=3)
    ).collect()}
    assert got == {"bad.example": 0.0}


def test_parked_plan_is_map_only(spark):
    plan = parked_flags(_pages(spark))._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan
