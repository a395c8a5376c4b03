"""Parked-domain and link-farm page detection.

Expired and speculatively registered domains answer every URL with a
registrar template — "this domain is for sale", a lone meta-refresh
hop to an ad lander, or a page of nothing but outbound anchor tags.
A crawl that keeps scheduling them wastes politeness budget, and a
curation pipeline that ingests them poisons the mix with boilerplate
(the UT1 blocklist and C4's javascript/lorem-ipsum gates catch some,
but parking templates rotate faster than blocklists).  Vogt et al.
(CEAS 2007) and the Common Crawl host-quality notes both detect
parking by the same three shapes implemented here:

1. **registrar phrase** (`park_phrase`): a short high-precision
   template-phrase list matched case-insensitively against the
   leading text window — prose about domain sales exists, but not in
   the first 300 characters of a real article;
2. **meta-refresh shell** (`meta_refresh` + tiny body): an instant
   client-side redirect with no readable content is the canonical
   parking lander;
3. **link farm** (`link_farm`): anchors dominate the page — many
   <a> tags with almost no text per anchor (ad-feed grids), measured
   as n_anchors >= min_anchors and text tokens per anchor below
   tokens_per_anchor.

`parked` is phrase OR (refresh AND tiny) OR (farm AND thin), where
thin means text is a sliver of the raw HTML volume (the templates are
markup-heavy).  All signals are native Catalyst regexp/length algebra
— map-only, whole-stage codegen, zero exchanges — so at 100 TB this
rides the corpus scan like plans/traps.py.  `parked_host_stats` rolls
the flag up to the host (one partial-aggregated host exchange) in the
same currency as soft404_host_stats, feeding the scheduler's budget
demotion path.

Reference: no analog (go-htmldate dates whatever page it is handed);
crawl-waste armor in the plans/traps.py / plans/soft404.py family.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .canonical import url_host

# template strings, not prose — matched against the leading window
PARK_PHRASES = (
    "this domain is for sale",
    "domain for sale",
    "buy this domain",
    "domain has expired",
    "domain name expired",
    "parked free",
    "domain parking",
    "courtesy of godaddy",
    "related searches",
)

_PHRASE_RX = "(?i)(" + "|".join(
    p.replace(" ", "\\s+") for p in PARK_PHRASES
) + ")"
_REFRESH_RX = "(?i)<meta[^>]*http-equiv\\s*=\\s*[\"']?refresh"
_ANCHOR_RX = "(?i)<a[\\s>]"


def parked_flags(
    df: DataFrame,
    url_col: str = "url",
    html_col: str = "html",
    text_col: str = "text",
    lead_chars: int = 300,
    max_tokens: int = 40,
    min_anchors: int = 20,
    tokens_per_anchor: float = 3.0,
    thin_ratio: float = 0.05,
    min_html_len: int = 1000,
) -> DataFrame:
    """Per-page parking signals; ``html_col`` must already be a string
    (decode a binary column before calling).  Map-only — every column
    is regexp/length algebra over the row itself."""
    text = F.coalesce(F.col(text_col), F.lit(""))
    html = F.coalesce(F.col(html_col), F.lit(""))
    # token count via split-size: regexp_count('\\S+') is value-
    # identical but was A/B'd 3x SLOWER here (7.9 vs 2.6 s at sf1 —
    # ~80 regex matches/row each pay the engine's per-match overhead,
    # far more than one split pass + array allocation); kept split.
    n_tok = F.size(F.split(F.trim(text), "\\s+")) - F.when(
        F.length(F.trim(text)) == 0, 1
    ).otherwise(0)
    n_anchor = F.regexp_count(html, F.lit(_ANCHOR_RX))
    park_phrase = (
        F.regexp_count(F.substring(text, 1, lead_chars), F.lit(_PHRASE_RX))
        > 0
    )
    meta_refresh = F.regexp_count(html, F.lit(_REFRESH_RX)) > 0
    thin = (F.length(html) >= min_html_len) & (
        F.length(text) <= F.length(html) * F.lit(thin_ratio)
    )
    # stage the regexp/tokenize counters once, derive the composite
    # flags from the staged columns: inlined, `parked` re-evaluates the
    # phrase/refresh regexp_counts and the token split a second time
    # per row (CollapseProject keeps non-cheap aliases staged)
    staged = df.select(
        F.col(url_col).alias("url"),
        n_tok.cast("long").alias("n_tokens"),
        n_anchor.cast("long").alias("n_anchors"),
        park_phrase.alias("park_phrase"),
        meta_refresh.alias("meta_refresh"),
        thin.alias("thin_text"),
    )
    nt, na = F.col("n_tokens"), F.col("n_anchors")
    tiny = nt <= max_tokens
    farm = (na >= min_anchors) & (nt <= na * F.lit(tokens_per_anchor))
    return staged.select(
        "url", "n_tokens", "n_anchors", "park_phrase", "meta_refresh",
        farm.alias("link_farm"),
        "thin_text",
        (
            F.col("park_phrase")
            | (F.col("meta_refresh") & tiny)
            | (farm & F.col("thin_text"))
        ).alias("parked"),
    )


def parked_host_stats(
    flags: DataFrame, url_col: str = "url", min_pages: int = 3
) -> DataFrame:
    """Host roll-up: pages seen, pages flagged, parked rate — a host
    past ~0.8 with enough evidence is a registrar lander serving one
    template under every URL and belongs out of the budget table.
    One partial-aggregated host exchange, O(hosts) output."""
    return (
        flags.select(
            url_host(F.col(url_col)).alias("host"),
            F.col("parked").cast("long").alias("p"),
        )
        .groupBy("host")
        .agg(
            F.count("*").cast("long").alias("n_pages"),
            F.sum("p").cast("long").alias("n_parked"),
        )
        .filter(F.col("n_pages") >= min_pages)
        .select(
            "host",
            "n_pages",
            "n_parked",
            (F.col("n_parked") / F.col("n_pages")).alias("parked_rate"),
        )
    )


def parked_budget_demotion(
    host_stats: DataFrame,
    threshold: float = 0.8,
    demoted_budget: float = 0.0,
) -> DataFrame:
    """parked_host_stats output → (host, politeness_budget) demotion
    rows in the crawl job's min-merge currency (the same shape as
    soft404_demotion / mirror demotion: the cautious source wins)."""
    return (
        host_stats.filter(F.col("parked_rate") >= F.lit(float(threshold)))
        .select("host")
        .withColumn("politeness_budget", F.lit(float(demoted_budget)))
    )
