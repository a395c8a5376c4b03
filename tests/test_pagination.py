"""rel=next/prev pagination chains (plans/pagination): link discovery
boundary semantics, pointer-doubling chain assembly with page indices,
cycle flagging, and deep-page demotion.

Reference analog: none — go-htmldate is per-document; the chain walk
reuses the redirects.py pointer-doubling discipline.
"""

from __future__ import annotations

import pyspark.sql.functions as F

from go_htmldate_spark.plans.pagination import (
    deep_page_demotion,
    link_rel_edges,
    link_rel_href,
    pagination_chains,
    rel_next_edges,
)


def _href(spark, html, keyword="next"):
    df = spark.createDataFrame([(html,)], "html string")
    return df.select(
        link_rel_href(F.col("html"), keyword).alias("h")
    ).head()["h"]


def test_link_rel_href_variants(spark):
    assert _href(
        spark, '<link rel="next" href="https://a.example/p2">'
    ) == "https://a.example/p2"
    # href-first attribute order, single quotes
    assert _href(
        spark, "<link href='/p2' rel='next'>"
    ) == "/p2"
    # unquoted + uppercase
    assert _href(
        spark, "<LINK REL=next HREF=https://a.example/p2>"
    ) == "https://a.example/p2"
    # keyword boundary: rel="next-up" must not match
    assert _href(spark, '<link rel="next-up" href="/x">') is None
    # other rel values don't match
    assert _href(spark, '<link rel="stylesheet" href="/css">') is None


def test_edges_resolution_and_drops(spark):
    pages = spark.createDataFrame([
        # absolute kept as-is
        ("https://a.example/p1",
         '<link rel="next" href="https://a.example/p2">'),
        # root-relative completed with scheme://host
        ("https://a.example/p2", '<link rel="next" href="/p3">'),
        # protocol-relative completed with the page's scheme
        ("https://a.example/p3",
         '<link rel="next" href="//cdn.example/p4">'),
        # dotted-relative skipped; self-edge dropped
        ("https://a.example/p4", '<link rel="next" href="../up">'),
        ("https://a.example/p5",
         '<link rel="next" href="https://a.example/p5">'),
    ], "url string, html string")
    got = {
        (r["src_url"], r["dst_url"])
        for r in rel_next_edges(pages).collect()
    }
    assert got == {
        ("https://a.example/p1", "https://a.example/p2"),
        ("https://a.example/p2", "https://a.example/p3"),
        ("https://a.example/p3", "https://cdn.example/p4"),
    }


def test_prev_edges_use_prev_keyword(spark):
    pages = spark.createDataFrame([
        ("https://a.example/p2",
         '<link rel="prev" href="https://a.example/p1">'
         '<link rel="next" href="https://a.example/p3">'),
    ], "url string, html string")
    got = [(r["src_url"], r["dst_url"])
           for r in link_rel_edges(pages, "prev").collect()]
    assert got == [("https://a.example/p2", "https://a.example/p1")]


def _edges(spark, pairs):
    return spark.createDataFrame(pairs, "src_url string, dst_url string")


def test_chain_assembly_indices(spark):
    chains = pagination_chains(_edges(spark, [
        ("A1", "A2"), ("A2", "A3"), ("A3", "A4"),
        ("B1", "B2"),
    ]), max_pages=8)
    rows = {r["url"]: r for r in chains.collect()}
    assert all(rows[u]["resolved"] for u in rows)
    assert [
        (rows[f"A{i}"]["root_url"], rows[f"A{i}"]["page_idx"],
         rows[f"A{i}"]["chain_len"]) for i in (1, 2, 3, 4)
    ] == [("A1", i, 4) for i in (1, 2, 3, 4)]
    assert (rows["B1"]["page_idx"], rows["B2"]["page_idx"]) == (1, 2)
    assert rows["B2"]["chain_len"] == 2


def test_cycles_flag_unresolved(spark):
    chains = pagination_chains(_edges(spark, [
        ("C1", "C2"), ("C2", "C1"),   # 2-cycle
        ("D1", "D2"),                 # healthy chain alongside
    ]), max_pages=8)
    rows = {r["url"]: r for r in chains.collect()}
    for u in ("C1", "C2"):
        assert not rows[u]["resolved"]
        assert rows[u]["root_url"] is None
        assert rows[u]["page_idx"] is None
        assert rows[u]["chain_len"] is None
    assert rows["D2"]["resolved"] and rows["D2"]["root_url"] == "D1"


def test_conflicting_parents_collapse_to_min(spark):
    # two pages both declare X as their next: parent(X) = min(src),
    # deterministic under any partitioning
    chains = pagination_chains(
        _edges(spark, [("P2", "X"), ("P1", "X")]), max_pages=8
    )
    rows = {r["url"]: r for r in chains.collect()}
    assert rows["X"]["root_url"] == "P1"
    assert rows["X"]["page_idx"] == 2


def test_deep_page_demotion(spark):
    chains = pagination_chains(_edges(spark, [
        ("E1", "E2"), ("E2", "E3"), ("E3", "E4"), ("E4", "E5"),
        ("F1", "F2"), ("F2", "F1"),
    ]), max_pages=8)
    demoted = deep_page_demotion(chains, max_page_idx=3)
    got = {r["url"]: r["budget"] for r in demoted.collect()}
    # E4/E5 are past page 3; both cycle members are demoted too
    assert got == {"E4": 0.0, "E5": 0.0, "F1": 0.0, "F2": 0.0}


def test_edge_discovery_plan_is_map_only(spark):
    """Discovery must stay scan-speed: no exchange, no Python eval."""
    pages = spark.createDataFrame(
        [("https://a.example/p1", '<link rel="next" href="/p2">')],
        "url string, html string",
    )
    plan = (
        rel_next_edges(pages)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "Exchange" not in plan, plan
    assert "BatchEvalPython" not in plan and "ArrowEval" not in plan
