"""Sitemap parsing as a native Spark operator.

Turns raw sitemap XML bodies (the `Sitemap:` targets robots.txt
advertises) into frontier seed rows — the standard seed source of a
tier crawl and the missing step between a fetched `/sitemap.xml`
corpus and `CrawlScheduler.init_from_seeds`. Sitemap-protocol-lite
semantics (sitemaps.org 0.9):

- `<urlset>` documents yield one row per `<url>` entry with its
  `<loc>` (required; entries without one are dropped) and optional
  `<lastmod>` (date or W3C datetime; the date prefix is kept);
- `<sitemapindex>` documents yield their child `<sitemap><loc>`
  targets with kind='sitemap', so a driver loop can fetch-and-reparse
  one level at a time (the protocol caps nesting; recursion is a
  fetch-loop concern, not a parse concern);
- entity-decoding covers the five XML built-ins sitemaps must escape
  (&amp; &lt; &gt; &quot; &apos;).

Everything is native Catalyst (regexp_extract_all over `(?s)`-dotall
element blocks, posexplode, regexp_extract within the block): sitemap
bodies arrive as one more page table and parse in the same executors —
no Python, no XML library in the loop, which is what lets 10^8 sitemap
files parse as a plain column map. The extraction regexes are RE2-safe
(non-greedy block match, no backreferences) so the same patterns run
in the DuckDB oracle.

`sitemap_seeds` composes the parse with the scheduler's priority
scheme: priority = recency_score(lastmod) — fresh pages first, the
same recency law the frontier applies to discovered links
(plans/scheduler.py:84-93).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

_URL_BLOCK = r"(?s)<url\s*>(.*?)</url\s*>"
_SITEMAP_BLOCK = r"(?s)<sitemap\s*>(.*?)</sitemap\s*>"
_LOC = r"(?s)<loc\s*>\s*(.*?)\s*</loc\s*>"
_LASTMOD = r"(?s)<lastmod\s*>\s*(\d{4}-\d{2}-\d{2})"
_PRIORITY = r"(?s)<priority\s*>\s*([0-9]+(?:\.[0-9]+)?)"
_CHANGEFREQ = r"(?s)<changefreq\s*>\s*([A-Za-z]+)"

# the sitemap protocol's changefreq vocabulary; any other value parses
# to NULL
CHANGEFREQ_VALUES = (
    "always", "hourly", "daily", "weekly", "monthly", "yearly", "never",
)


def _xml_unescape(col):
    out = col
    for ent, ch in (
        ("&lt;", "<"), ("&gt;", ">"), ("&quot;", '"'),
        ("&apos;", "'"), ("&amp;", "&"),  # &amp; last: "&amp;lt;" is "&lt;" text
    ):
        out = F.replace(out, F.lit(ent), F.lit(ch))
    return out


def parse_sitemaps(
    df: DataFrame, xml_col: str = "xml", src_col: str = "sitemap_url"
) -> DataFrame:
    """(sitemap_url, xml) → one row per entry:
    (sitemap_url, kind, loc, lastmod) with kind 'url' for `<urlset>`
    members and 'sitemap' for `<sitemapindex>` members; lastmod is the
    YYYY-MM-DD prefix or NULL. Map-only (generator + projections): the
    only shuffle a caller pays is whatever it does next."""
    url_entries = df.select(
        F.col(src_col),
        F.lit("url").alias("kind"),
        F.explode(
            F.regexp_extract_all(F.col(xml_col), F.lit(_URL_BLOCK), 1)
        ).alias("block"),
    )
    index_entries = df.select(
        F.col(src_col),
        F.lit("sitemap").alias("kind"),
        F.explode(
            F.regexp_extract_all(F.col(xml_col), F.lit(_SITEMAP_BLOCK), 1)
        ).alias("block"),
    )
    entries = url_entries.unionByName(index_entries)
    loc = _xml_unescape(F.regexp_extract(F.col("block"), _LOC, 1))
    lastmod = F.regexp_extract(F.col("block"), _LASTMOD, 1)
    prio = F.regexp_extract(F.col("block"), _PRIORITY, 1)
    freq = F.lower(F.regexp_extract(F.col("block"), _CHANGEFREQ, 1))
    return (
        entries.select(
            src_col,
            "kind",
            loc.alias("loc"),
            F.when(lastmod != "", lastmod).alias("lastmod"),
            # protocol range is [0,1]; out-of-range declarations are
            # site bugs — clamp rather than drop (0.5 is the documented
            # default for ABSENT priority, applied by sitemap_seeds)
            F.when(
                prio != "",
                F.least(F.greatest(prio.cast("double"), F.lit(0.0)),
                        F.lit(1.0)),
            ).alias("priority"),
            F.when(
                freq.isin(*CHANGEFREQ_VALUES), freq
            ).alias("changefreq"),
        )
        .filter(F.col("loc") != "")
    )


def sitemap_seeds(df: DataFrame, xml_col: str = "xml",
                  src_col: str = "sitemap_url") -> DataFrame:
    """Parsed `<urlset>` entries as frontier seeds:
    (url, priority, lastmod) with priority = recency_score(lastmod) ×
    2·declared-priority — the scheduler's freshness law weighted by the
    site's own importance hint (sitemaps.org: <priority>, default 0.5).
    The weight is 2·coalesce(declared, 0.5), so entries WITHOUT a
    declaration keep exactly the bare recency priority (multiplier 1)
    and a declaration scales it in [0, 2] around that — fully
    backward-compatible with priority-less sitemaps. Feed straight
    into CrawlScheduler.init_from_seeds."""
    from go_htmldate_spark.plans.scheduler import recency_score

    return (
        parse_sitemaps(df, xml_col=xml_col, src_col=src_col)
        .filter(F.col("kind") == "url")
        .select(
            F.col("loc").alias("url"),
            F.round(
                recency_score(F.col("lastmod"))
                * (F.lit(2.0) * F.coalesce(F.col("priority"), F.lit(0.5))),
                6,
            ).alias("priority"),
            "lastmod",
        )
    )


def seeds_from_robots(
    robots_df: DataFrame,
    sitemap_bodies: DataFrame,
    xml_col: str = "xml",
    src_col: str = "sitemap_url",
    broadcast_discovery: bool = True,
) -> DataFrame:
    """The full discovery chain: robots.txt `Sitemap:` lines
    (sources/robots.robots_sitemaps) gate which fetched sitemap bodies
    are parsed into seeds — un-advertised bodies (stale fetches,
    spoofed hosts) never reach the parser. Semi-join on the sitemap
    URL, then sitemap_seeds.

    The bodies side carries the XML blobs, so it must NOT shuffle:
    with broadcast_discovery=True (default) the advertised-URL set —
    one short string per advertisement — broadcasts and the join is
    map-side. Past ~10^8 advertisements flip it off and the join
    shuffles both sides on the URL key; the blobs pay one exchange,
    the Catalyst-chosen hash join still avoids any driver collect."""
    from go_htmldate_spark.sources.robots import robots_sitemaps

    advertised = (
        robots_sitemaps(robots_df)
        .select(F.col("sitemap_url").alias(src_col))
        .distinct()
    )
    if broadcast_discovery:
        advertised = F.broadcast(advertised)
    gated = sitemap_bodies.join(advertised, src_col, "semi")
    return sitemap_seeds(gated, xml_col=xml_col, src_col=src_col)


def sitemap_coverage(
    advertised: DataFrame,
    crawled: DataFrame,
    url_col: str = "url",
    min_urls: int = 1,
) -> DataFrame:
    """Per-host sitemap-coverage audit: of the URLs a host ADVERTISES
    in its sitemaps, how many has the crawl actually seen?  The
    canonical crawl-ops completeness check (sitemaps.org exists so
    operators can close exactly this gap; Schonfeld & Shivakumar
    WWW'09 "Sitemaps: Above and Beyond the Crawl of Duty" measure
    crawls against it): low coverage on a high-value host means its
    budget or priority tier is mis-set, 100% coverage on a spam host
    means budget is leaking.

    Both sides canonicalize through the scheduler's own URL law before
    the ONE url-keyed left semi-ish join (advertised ⋈ crawled distinct
    keys — page payloads never enter), then a host-keyed aggregation.
    Output is O(hosts)."""
    from ..plans.canonical import canonicalize_url, pushdown_barrier, url_host

    # pushdown_barrier: the left-outer join infers an isnotnull
    # constraint on the build-side key and Catalyst re-substitutes the
    # whole canonicalize_url chain below the scan's repartition
    # (measured r06: the crawled side re-ran canonicalization per raw
    # row on the unspread scan tasks) — the barrier pins evaluation to
    # one pass per side
    adv = pushdown_barrier(
        advertised.select(canonicalize_url(F.col(url_col)).alias("u"))
    ).distinct()
    got = (
        pushdown_barrier(
            crawled.select(canonicalize_url(F.col(url_col)).alias("u"))
        )
        .distinct()
        .withColumn("_hit", F.lit(1))
    )
    return (
        adv.join(got, "u", "left")
        .groupBy(url_host(F.col("u")).alias("host"))
        .agg(
            F.count("*").cast("long").alias("n_advertised"),
            F.sum(F.coalesce(F.col("_hit"), F.lit(0))).cast("long")
            .alias("n_crawled"),
        )
        .filter(F.col("n_advertised") >= min_urls)
        .select(
            "host", "n_advertised", "n_crawled",
            (F.col("n_crawled") / F.col("n_advertised")).alias("coverage"),
        )
    )
