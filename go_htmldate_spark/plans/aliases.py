"""Client-side alias edges: meta-refresh redirects, AMP variants, and
og:url self-declarations.

HTTP 3xx chains (plans/redirects.py) are only one alias channel; pages
mint aliases client-side too:

- `<meta http-equiv="refresh" content="N;url=...">` — the HTML-level
  redirect (soft moves, domain parking, interstitials). For a crawler
  it IS a redirect edge: the refresh target should own the frontier
  slot, and immediate refreshes (delay 0-1 s) are the classic parked/
  moved signal.
- `<link rel="amphtml">` — the page's declared AMP variant: a
  near-duplicate alias the dedup/budget layers should collapse onto
  the canonical page, exactly like a mirror.
- `<meta property="og:url">` — the page's own statement of its
  canonical URL (the social-graph dedup key). When it differs from
  the fetched URL it is a rel=canonical-grade alias edge; when it
  matches (the common case) it carries no information and is dropped.

Reference analog: none — go-htmldate has no crawl layer; the tag-soup
regexp discipline mirrors its meta scan (core.go examineMeta family).

Spark-first shape: all three miners are MAP-ONLY — one tag-level
regexp_extract_all pass plus projection algebra, zero exchanges, zero
Python, no DOM build (the rel_canonical.py contract: discovery passes
over 100 TB must run at scan speed). Meta-refresh edges feed
plans/redirects.resolve_redirects unchanged (pointer-doubling chain
collapse, cycle drop); amp/og edges feed the alias/demotion layers in
the same (src_url, dst_url) currency as rel_canonical_edges.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from .canonical import resolve_href as _resolve
from .metarobots import _CONTENT_Q_RX, _CONTENT_U_RX, _META_TAG_RX

# http-equiv value must terminate right after 'refresh' (quote / space
# / '>') so http-equiv="refresh-x" never matches — the boundary
# discipline of plans/rel_canonical.py.
_EQUIV_REFRESH_RX = r"(?i)\bhttp-equiv\s*=\s*['\"]?refresh(?:['\"]|[\s>])"
# inside the content value: leading delay seconds, then url=... — the
# URL may itself be single/double-quoted within a quoted content
_DELAY_RX = r"^\s*([0-9]+)"
_URL_IN_CONTENT_RX = r"(?i)\burl\s*=\s*['\"]?\s*([^'\" >]+)"
# og:url carried under property= (the OpenGraph spelling) or name=
# (the tolerated one)
_OG_URL_RX = r"(?i)\b(?:property|name)\s*=\s*['\"]?og:url(?:['\"]|[\s>])"


def _content_of(tag: Column) -> Column:
    """content attribute of one <meta> tag (quoted wins, unquoted
    fallback), NULL when absent."""
    return F.coalesce(
        F.nullif(F.regexp_extract(tag, _CONTENT_Q_RX, 2), F.lit("")),
        F.nullif(F.regexp_extract(tag, _CONTENT_U_RX, 1), F.lit("")),
    )


def _with_origin(pages: DataFrame, url_col: str, html_col: str) -> DataFrame:
    from .canonical import url_authority_of, url_scheme_of

    return pages.select(
        F.col(url_col).alias("src_url"),
        F.col(html_col).cast("string").alias("_h"),
        url_scheme_of(F.col(url_col)).alias("_scheme"),
        url_authority_of(F.col(url_col)).alias("_host"),
    )


def meta_refresh_edges(
    pages: DataFrame, url_col: str = "url", html_col: str = "html"
) -> DataFrame:
    """pages → (src_url, dst_url, delay_s) client-side redirect edges
    from `<meta http-equiv="refresh">`: both attribute orders, any
    quote style/case, the delay parsed from the content's leading
    integer, the target from its url= clause resolved like
    rel_canonical hrefs. Refreshes with no url= (self-reload tickers)
    and self-targets drop. Rename to (src_url, dst_url) and feed
    plans/redirects.resolve_redirects to collapse chains."""
    staged = _with_origin(pages, url_col, html_col)
    tags = F.regexp_extract_all(F.col("_h"), F.lit(_META_TAG_RX), F.lit(0))
    refresh = F.filter(tags, lambda t: t.rlike(_EQUIV_REFRESH_RX))
    content = F.get(F.transform(refresh, _content_of), 0)
    parsed = staged.select(
        "src_url", "_scheme", "_host",
        content.alias("_content"),
    ).select(
        "src_url", "_scheme", "_host",
        F.nullif(
            F.regexp_extract(F.col("_content"), _URL_IN_CONTENT_RX, 1),
            F.lit(""),
        ).alias("_target"),
        # a content with no leading integer ("url=/x") is an immediate
        # refresh in every browser: default 0 (nullif also keeps the
        # ANSI cast from throwing on the empty extract)
        F.coalesce(
            F.nullif(
                F.regexp_extract(F.col("_content"), _DELAY_RX, 1),
                F.lit(""),
            ),
            F.lit("0"),
        ).cast("long").alias("delay_s"),
    )
    dst = _resolve(F.col("_target"), F.col("_scheme"), F.col("_host"))
    resolved = parsed.select(
        "src_url", dst.alias("_dst"), "delay_s"
    )
    # stack(1, …) is a no-fanout Generate that PINS the drop-filter
    # here: Catalyst pushes a filter on computed columns through every
    # Project with alias substitution (no cost model) — measured, the
    # dst filter re-expanded the tag scan 26x at the FileScan, BELOW
    # the spread exchange on the 1-2 scan tasks. Generate is a pushdown
    # barrier; rows out are identical.
    return (
        resolved.select(
            "src_url",
            F.expr("stack(1, _dst, delay_s) as (dst_url, delay_s)"),
        )
        .select("src_url", "dst_url", "delay_s")
        .filter(
            F.col("dst_url").isNotNull()
            & (F.col("dst_url") != F.col("src_url"))
        )
    )


def page_alias_edges(
    pages: DataFrame, url_col: str = "url", html_col: str = "html"
) -> DataFrame:
    """Union of the client-side alias channels with their kind
    ('refresh' | 'amp' | 'og' | 'mobile'), mined in ONE pass: a single
    projection computes all four targets per row off ONE combined
    <meta|link> tag scan — the page bytes and the tag tokenization are
    paid once, not once per channel — and explodes. Map-only, for the
    dedup/budget layers that want every alias signal in one stream."""
    staged = _with_origin(pages, url_col, html_col)
    # STAGED evaluation (r06): the channel targets and the tag array
    # each land in their own projection. Inlined, _resolve's multiple
    # references to its href argument re-expanded the whole
    # regexp_extract_all + filter + transform chain per reference —
    # the measured plan evaluated the tag scan ~12x per row.
    # CollapseProject keeps non-cheap aliases staged, so now: one tag
    # scan per row, one extraction per channel, then cheap column refs.
    tagged = staged.select(
        "src_url", "_scheme", "_host",
        F.regexp_extract_all(
            F.col("_h"), F.lit(r"(?i)<(?:meta|link)\s[^>]*>"), F.lit(0)
        ).alias("_tags"),
    )
    tags = F.col("_tags")
    refresh_content = F.get(F.transform(
        F.filter(tags, lambda t: t.rlike(_EQUIV_REFRESH_RX)), _content_of
    ), 0)
    refresh_target = F.nullif(
        F.regexp_extract(refresh_content, _URL_IN_CONTENT_RX, 1), F.lit("")
    )
    og_content = F.get(F.transform(
        F.filter(tags, lambda t: t.rlike(_OG_URL_RX)), _content_of
    ), 0)

    def _first_href(cond):
        return F.get(F.transform(
            F.filter(tags, cond),
            lambda t: F.coalesce(
                F.nullif(F.regexp_extract(t, _HREF_Q_RX, 2), F.lit("")),
                F.nullif(F.regexp_extract(t, _HREF_U_RX, 1), F.lit("")),
            ),
        ), 0)

    amp_href = _first_href(
        lambda t: t.rlike(
            r"(?i)\brel\s*=\s*['\"]?amphtml(?:['\"]|[\s>])"
        )
    )
    mob_href = _first_href(
        lambda t: t.rlike(_REL_ALT_RX) & t.rlike(_MEDIA_RX)
        & ~t.rlike(r"(?i)\bhreflang\s*=")
    )
    targets = tagged.select(
        "src_url", "_scheme", "_host",
        refresh_target.alias("_t_refresh"),
        amp_href.alias("_t_amp"),
        og_content.alias("_t_og"),
        mob_href.alias("_t_mob"),
    )
    scheme, host = F.col("_scheme"), F.col("_host")
    resolved = targets.select(
        "src_url",
        _resolve(F.col("_t_refresh"), scheme, host).alias("_d_refresh"),
        _resolve(F.col("_t_amp"), scheme, host).alias("_d_amp"),
        _resolve(F.col("_t_og"), scheme, host).alias("_d_og"),
        _resolve(F.col("_t_mob"), scheme, host).alias("_d_mob"),
    )
    # stack (unpivot generator), not explode(array(struct(...))):
    # building + exploding per-row struct arrays measured 3.4x slower
    # than stacking four plain columns — same (src_url, dst_url, kind)
    # rows out
    return (
        resolved.select(
            "src_url",
            F.expr(
                "stack(4, 'refresh', _d_refresh, 'amp', _d_amp, "
                "'og', _d_og, 'mobile', _d_mob) as (kind, dst_url)"
            ),
        )
        .select("src_url", "dst_url", "kind")
        .filter(
            F.col("dst_url").isNotNull()
            & (F.col("dst_url") != F.col("src_url"))
        )
    )


# rel value must terminate right after 'alternate' and a media attr
# must be present — the m-dot mobile-variant declaration
_REL_ALT_RX = r"(?i)\brel\s*=\s*['\"]?alternate(?:['\"]|[\s>])"
_MEDIA_RX = r"(?i)\bmedia\s*=\s*['\"]?[^>]*max-width"
_HREF_Q_RX = r"""(?i)\bhref\s*=\s*(["'])((?:(?!\1)[^>])*)\1"""
_HREF_U_RX = r"""(?i)\bhref\s*=\s*([^'" >]+)"""


def alias_redirect_edges(
    pages: DataFrame, url_col: str = "url", html_col: str = "html"
) -> DataFrame:
    """Every client-side alias channel in the REDIRECT-MAP orientation
    (src = the alias spelling, dst = where the frontier slot belongs),
    ready for plans/redirects.resolve_redirects:

    - refresh: the page itself is the alias (it forwards) → as-is;
    - og: the fetched spelling is the alias of its declared canonical
      → as-is;
    - amp / mobile: the page DECLARES its variant, so the edge points
      canonical → variant and the VARIANT is the alias → reversed.

    One page scan (page_alias_edges); output feeds the same
    canonicalize + resolve + cycle-drop chain as HTTP redirect logs,
    so chains crossing channels still collapse to one terminal."""
    edges = page_alias_edges(pages, url_col, html_col)
    fwd = edges.filter(F.col("kind").isin("refresh", "og")).select(
        "src_url", "dst_url"
    )
    rev = edges.filter(F.col("kind").isin("amp", "mobile")).select(
        F.col("dst_url").alias("src_url"),
        F.col("src_url").alias("dst_url"),
    )
    return fwd.unionByName(rev)
