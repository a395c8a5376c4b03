"""Client-side alias edges (plans/aliases): meta-refresh redirects,
AMP variants, og:url declarations, and their composition with the
redirect chain collapse.
"""

from __future__ import annotations

import pyspark.sql.functions as F

from go_htmldate_spark.plans.aliases import meta_refresh_edges, page_alias_edges


def _pages(spark, rows):
    return spark.createDataFrame(rows, "url string, html string")


def _edges(pages, kind):
    """(src_url, dst_url) pairs of one channel of page_alias_edges."""
    return {
        (r["src_url"], r["dst_url"])
        for r in page_alias_edges(pages).filter(F.col("kind") == kind).collect()
    }


def test_meta_refresh_variants(spark):
    pages = _pages(spark, [
        # double-quoted, immediate, absolute
        ("https://a.example/p1",
         '<meta http-equiv="refresh" content="0;url=https://b.example/n1">'),
        # reversed attrs, single quotes, delay, root-relative,
        # spaces around ; and url=
        ("https://a.example/p2",
         "<meta content='5; URL = /n2' http-equiv='refresh'>"),
        # uppercase unquoted equiv, URL itself single-quoted inside
        # double-quoted content, protocol-relative
        ("https://a.example/p3",
         '<META HTTP-EQUIV=REFRESH CONTENT="2;url=\'//cdn.example/n3\'">'),
        # refresh with no url= (self-reload ticker): no edge
        ("https://a.example/p4", '<meta http-equiv="refresh" content="30">'),
        # self-target: no edge
        ("https://a.example/p5",
         '<meta http-equiv="refresh" content="0;url=https://a.example/p5">'),
        # dotted-relative: unresolvable, no edge
        ("https://a.example/p6",
         '<meta http-equiv="refresh" content="0;url=../up">'),
        # boundary: http-equiv="refresh-x" must not match
        ("https://a.example/p7",
         '<meta http-equiv="refresh-x" content="0;url=/no">'),
        # no meta at all
        ("https://a.example/p8", "<html><body>x</body></html>"),
        # content with no leading delay: browsers refresh immediately
        ("https://a.example/p9",
         '<meta http-equiv="refresh" content="url=/n9">'),
    ])
    got = {r["src_url"]: (r["dst_url"], r["delay_s"])
           for r in meta_refresh_edges(pages).collect()}
    assert got == {
        "https://a.example/p1": ("https://b.example/n1", 0),
        "https://a.example/p2": ("https://a.example/n2", 5),
        "https://a.example/p3": ("https://cdn.example/n3", 2),
        "https://a.example/p9": ("https://a.example/n9", 0),
    }


def test_meta_refresh_chain_collapses_via_redirects(spark):
    """Meta-refresh edges are redirect edges: renamed into
    resolve_redirects they collapse chains to terminals and drop
    cycles, so the frontier schedules the real target once."""
    from go_htmldate_spark.plans.redirects import resolve_redirects

    pages = _pages(spark, [
        ("https://c.example/a",
         '<meta http-equiv="refresh" content="0;url=https://c.example/b">'),
        ("https://c.example/b",
         '<meta http-equiv="refresh" content="0;url=https://c.example/c">'),
        ("https://c.example/x",
         '<meta http-equiv="refresh" content="0;url=https://c.example/y">'),
        ("https://c.example/y",
         '<meta http-equiv="refresh" content="0;url=https://c.example/x">'),
    ])
    resolved = resolve_redirects(meta_refresh_edges(pages))
    rows = {r["url"]: (r["target"], r["resolved"])
            for r in resolved.collect()}
    assert rows["https://c.example/a"] == ("https://c.example/c", True)
    assert rows["https://c.example/b"] == ("https://c.example/c", True)
    assert not rows["https://c.example/x"][1]
    assert not rows["https://c.example/y"][1]


def test_amphtml_and_og_edges(spark):
    pages = _pages(spark, [
        ("https://d.example/art",
         '<link rel="amphtml" href="https://d.example/art/amp">'
         '<meta property="og:url" content="https://d.example/art">'),
        # og:url differing from fetched URL (tracking-param spelling)
        ("https://d.example/art?utm_source=x",
         '<meta property="og:url" content="https://d.example/art">'),
        # name= spelling of og:url, root-relative content
        ("https://d.example/other",
         "<meta name='og:url' content='/canonical-other'>"),
    ])
    assert _edges(pages, "amp") == {
        ("https://d.example/art", "https://d.example/art/amp")
    }
    # the self-declaring page contributes NO og edge
    assert _edges(pages, "og") == {
        ("https://d.example/art?utm_source=x", "https://d.example/art"),
        ("https://d.example/other", "https://d.example/canonical-other"),
    }


def test_page_alias_union_kinds(spark):
    pages = _pages(spark, [
        ("https://e.example/p",
         '<meta http-equiv="refresh" content="0;url=/moved">'
         '<link rel="amphtml" href="/amp">'
         '<meta property="og:url" content="/canon">'
         '<link rel="alternate" media="(max-width: 600px)" href="/m">'),
    ])
    got = {(r["kind"], r["dst_url"])
           for r in page_alias_edges(pages).collect()}
    assert got == {
        ("refresh", "https://e.example/moved"),
        ("amp", "https://e.example/amp"),
        ("og", "https://e.example/canon"),
        ("mobile", "https://e.example/m"),
    }


def test_alias_miners_plan_is_map_only(spark):
    """Discovery passes must stay scan-speed: no exchange, no Python
    eval in either miner's plan."""
    pages = _pages(spark, [
        ("https://a.example/p",
         '<meta http-equiv="refresh" content="0;url=/n">'),
    ])
    for fn in (meta_refresh_edges, page_alias_edges):
        plan = fn(pages)._jdf.queryExecution().executedPlan().toString()
        assert "Exchange" not in plan, plan
        assert "BatchEvalPython" not in plan and "ArrowEval" not in plan


def test_mobile_alternate_edges(spark):
    pages = _pages(spark, [
        # the m-dot declaration
        ("https://www.example.com/art",
         '<link rel="alternate" media="only screen and (max-width: 640px)"'
         ' href="https://m.example.com/art">'),
        # hreflang alternates are translation variants, not mobile
        ("https://www.example.com/de",
         '<link rel="alternate" hreflang="de" media="(max-width: 640px)"'
         ' href="https://de.example.com/x">'),
        # alternate without media is not a mobile declaration
        ("https://www.example.com/rss",
         '<link rel="alternate" type="application/rss+xml" href="/feed">'),
    ])
    assert _edges(pages, "mobile") == {
        ("https://www.example.com/art", "https://m.example.com/art"),
    }


def test_alias_redirect_orientation(spark):
    """alias_redirect_edges puts every channel in redirect-map
    orientation: refresh/og as-is (the page/fetched spelling IS the
    alias), amp/mobile reversed (the declared VARIANT is the alias)."""
    from go_htmldate_spark.plans.aliases import alias_redirect_edges

    pages = _pages(spark, [
        ("https://f.example/p",
         '<meta http-equiv="refresh" content="0;url=/new">'),
        ("https://f.example/art",
         '<link rel="amphtml" href="/art/amp">'
         '<link rel="alternate" media="(max-width: 600px)" href="/m/art">'),
        ("https://f.example/x?utm=1",
         '<meta property="og:url" content="https://f.example/x">'),
    ])
    got = {(r["src_url"], r["dst_url"])
           for r in alias_redirect_edges(pages).collect()}
    assert got == {
        ("https://f.example/p", "https://f.example/new"),
        ("https://f.example/art/amp", "https://f.example/art"),
        ("https://f.example/m/art", "https://f.example/art"),
        ("https://f.example/x?utm=1", "https://f.example/x"),
    }
