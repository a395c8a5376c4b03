"""rel=next/prev pagination-chain assembly: series detection as a
frontier plan.

Paginated series (article pages 1..N, calendar archives, forum
threads) declare their order with `<link rel="next" href>` /
`rel="prev"` (the pre-2011 Google crawl hint, still emitted by every
major CMS). A crawler that knows the chain can (a) collapse a series
to its root for dedup/budget purposes, (b) demote deep tail pages —
page 47 of a tag archive is classic crawl waste (the same waste class
as plans/traps.py's calendar traps, but declared by the site itself
rather than inferred from the URL shape) — and (c) detect *cyclic*
declarations (A next B, B next A), which would otherwise chase a
2-page loop forever.

Reference analog: none — go-htmldate is per-document; this is the
crawl-side layer the north rule adds. Edge DISCOVERY is the same
map-only native-regexp fast path as plans/rel_canonical.py (zero
exchanges, zero Python, no DOM build); chain ASSEMBLY is the same
pointer-doubling discipline as plans/redirects.py — O(log max_pages)
self-join sweeps with checkpoint-truncated lineage, except the
pointer here walks *prev* edges and accumulates the hop COUNT so
every member learns its 1-based page index, not just its root.

100 TB shape: each sweep is one shuffle keyed on the pointer; the
page table itself never moves (edges are O(paginated pages), a small
fraction of the corpus), and the final stats join moves O(chains)
rows.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# Same boundary discipline as plans/rel_canonical.py (HTML5-tokenizer
# classes, differential-fuzz-pinned there): the rel value must
# TERMINATE right after the keyword so rel="next-up" never matches,
# '>' is not consumed by the rel-first scan, '/' stays part of an
# unquoted value. Java regex, Spark-side only — oracles are
# closed-form.
_REL_FIRST_T = (
    r"(?i)<link[^>]*\brel\s*=\s*['\"]?{kw}(?:['\"]|\s)[^>]*"
    r"\bhref\s*=\s*['\"]?([^'\" >]+)"
)
_HREF_FIRST_T = (
    r"(?i)<link[^>]*\bhref\s*=\s*['\"]?([^'\" >]+)['\"]?[^>]*"
    r"\brel\s*=\s*['\"]?{kw}(?:['\"]|[\s>]|$)"
)


def link_rel_href(html: Column, keyword: str) -> Column:
    """First `<link rel="<keyword>" href>` value in the raw html (both
    attribute orders, any quote style/case), else NULL."""
    h = html.cast("string")
    rel_first = _REL_FIRST_T.format(kw=keyword)
    href_first = _HREF_FIRST_T.format(kw=keyword)
    return F.nullif(
        F.coalesce(
            F.nullif(F.regexp_extract(h, rel_first, 1), F.lit("")),
            F.nullif(F.regexp_extract(h, href_first, 1), F.lit("")),
        ),
        F.lit(""),
    )


def link_rel_edges(
    pages: DataFrame,
    keyword: str,
    url_col: str = "url",
    html_col: str = "html",
) -> DataFrame:
    """pages → (src_url, dst_url) edges from `<link rel=<keyword>>`
    declarations, href resolved like plans/rel_canonical.py: absolute
    http(s) as-is, protocol-relative completed with the page's scheme,
    root-relative with scheme://host; dotted-relative skipped;
    self-edges dropped. Same staged-projection + optimizer-fence
    layout as rel_canonical_edges so every generated method stays
    under Janino's 64 KB limit and the regex work is paid once."""
    from .canonical import resolve_href, url_authority_of, url_scheme_of

    u = F.col(url_col)
    casted = pages.select(
        u.alias("src_url"),
        F.col(html_col).cast("string").alias("_h"),
    )
    staged = casted.select(
        F.col("src_url"),
        link_rel_href(F.col("_h"), keyword).alias("_href"),
        url_scheme_of(F.col("src_url")).alias("_scheme"),
        url_authority_of(F.col("src_url")).alias("_host"),
        F.monotonically_increasing_id().alias("_mid"),
    )
    dst = resolve_href(
        F.col("_href"), F.col("_scheme"), F.col("_host")
    )
    return (
        staged.select(F.col("src_url"), dst.alias("dst_url"), F.col("_mid"))
        .filter(
            F.col("dst_url").isNotNull()
            & (F.col("dst_url") != F.col("src_url"))
            & (F.col("_mid") >= 0)
        )
        .select("src_url", "dst_url")
    )


def rel_next_edges(pages: DataFrame, url_col: str = "url",
                   html_col: str = "html") -> DataFrame:
    """`<link rel="next">` forward edges (src_url, dst_url)."""
    return link_rel_edges(pages, "next", url_col, html_col)


_PAGINATION_EDGE_CAP = 500_000


def _chains_local(spark, edges, max_pages: int):
    """Driver-side chain assembly — the exact law of the distributed
    doubling loop below, on collected (src, dst) edges."""
    from collections import Counter

    sweeps = max(1, (max_pages - 1).bit_length())
    limit = 1 << sweeps
    parent: dict = {}
    nodes = set()
    for s, d in edges:
        nodes.add(s)
        nodes.add(d)
        p = parent.get(d)
        if p is None or s < p:
            parent[d] = s
    # (root, depth) per node; None root = cyclic walk
    memo: dict = {}
    for u in nodes:
        if u in memo:
            continue
        path = []
        cur = u
        seen_local = set()
        while cur not in memo and cur in parent and cur not in seen_local:
            seen_local.add(cur)
            path.append(cur)
            cur = parent[cur]
        if cur in memo:
            root, base = memo[cur]
        elif cur in seen_local:
            root, base = None, 0  # walked into a cycle
        else:
            root, base = cur, 0
            memo[cur] = (root, 0)
        for i, v in enumerate(reversed(path), start=1):
            memo[v] = (root, None if root is None else base + i)
    sizes = Counter()
    for u in nodes:
        root, depth = memo[u]
        if root is not None and depth <= limit:
            sizes[root] += 1
    rows = []
    for u in sorted(nodes):
        root, depth = memo[u]
        ok = root is not None and depth <= limit
        rows.append((
            u,
            root if ok else None,
            depth + 1 if ok else None,
            sizes[root] if ok else None,
            bool(ok),
        ))
    return spark.createDataFrame(
        rows,
        "url string, root_url string, page_idx long, chain_len long,"
        " resolved boolean",
    )


def pagination_chains(
    next_edges: DataFrame,
    src_col: str = "src_url",
    dst_col: str = "dst_url",
    max_pages: int = 64,
) -> DataFrame:
    """(src → next) pagination edges → one row per chain member:
    (url, root_url, page_idx, chain_len, resolved).

    root_url is the chain's FIRST page (the member with no incoming
    next-edge), page_idx its 1-based position, chain_len the number of
    members sharing the root. Cyclic declarations — any member whose
    walk never escapes within max_pages hops — flag resolved=false
    with NULL root/index/len (the redirects.py masking convention:
    scheduling decisions must not consume a bogus root).

    Pointer doubling with distance accumulation: seed each member with
    its one-hop PREV pointer (parent = the page declaring it as next;
    conflicting parents collapse to the lexicographic min,
    deterministic under any partitioning), then k = ceil(log2
    max_pages) sweeps of ptr ← ptr's ptr / dist ← dist + ptr's dist.
    A root's pointer is itself with dist 0, so converged members stop
    accumulating automatically. One shuffle per sweep on the pointer
    key; lineage checkpoint-truncated every sweep."""
    sc = next_edges.sparkSession.sparkContext

    # Bounded driver-side fast path (r06, same rationale as the OPIC
    # small-graph path): the doubling loop pays ~4 eager checkpoints +
    # a self-join per sweep — a seconds-scale scheduling floor — while
    # the chain walk over a small edge set is microseconds of pointer
    # chasing. The Python walk implements the identical law (parent =
    # min(src) per dst, resolved iff the walk reaches a parentless
    # node within 2^sweeps hops, masked NULLs for cyclic/deep
    # members); equality with the distributed path is pinned in tests
    # and the oracle. Above the cap the doubling loop runs unchanged.
    e_rows = (
        next_edges.select(
            F.col(src_col).alias("s"), F.col(dst_col).alias("d")
        )
        .limit(_PAGINATION_EDGE_CAP + 1)
        .collect()
    )
    pairs = [(r["s"], r["d"]) for r in e_rows]
    if len(e_rows) <= _PAGINATION_EDGE_CAP and all(
        s is not None and d is not None for s, d in pairs
    ):
        return _chains_local(next_edges.sparkSession, pairs, max_pages)

    def ckpt(df: DataFrame) -> DataFrame:
        if sc.getCheckpointDir() is not None:
            return df.checkpoint(eager=True)
        return df.localCheckpoint(eager=True)

    # Materialize the edge list ONCE before anything consumes it: the
    # edges usually arrive as a map-only regexp scan over the page
    # corpus (rel_next_edges), and this function reads them four times
    # (parent map, both node sides, the final root check) — without a
    # cut, the 100 TB corpus scan replays four times. O(paginated
    # pages) rows, tiny next to the corpus.
    edges = ckpt(next_edges.select(
        F.col(src_col).alias(src_col), F.col(dst_col).alias(dst_col)
    ))

    # prev map: parent(dst) = min(src); nodes = every url on either side
    parent = edges.groupBy(F.col(dst_col).alias("url")).agg(
        F.min(src_col).alias("parent")
    )
    nodes = (
        edges.select(F.col(src_col).alias("url"))
        .unionByName(edges.select(F.col(dst_col).alias("url")))
        .distinct()
    )
    ptr = ckpt(
        nodes.join(parent, "url", "left").select(
            "url",
            F.coalesce("parent", F.col("url")).alias("root"),
            F.when(F.col("parent").isNotNull(), F.lit(1))
            .otherwise(F.lit(0)).cast("long").alias("dist"),
        )
    )
    sweeps = max(1, (max_pages - 1).bit_length())  # 2^sweeps >= max_pages
    for s in range(sweeps):
        hop = ptr.select(
            F.col("url").alias("t_url"),
            F.col("root").alias("t_root"),
            F.col("dist").alias("t_dist"),
        )
        ptr = ptr.join(hop, ptr["root"] == hop["t_url"], "left").select(
            "url",
            F.coalesce("t_root", "root").alias("root"),
            (F.col("dist") + F.coalesce("t_dist", F.lit(0)))
            .cast("long").alias("dist"),
        )
        # cut lineage every OTHER sweep (and at the end): each sweep
        # self-joins ptr, doubling the plan tree, so unbounded sweeps
        # need truncation — but a cut per sweep pays an eager
        # materialization barrier each time. Every-other bounds the
        # tree at two self-join levels (4 base references) while
        # halving the barriers.
        if s % 2 == 1 or s == sweeps - 1:
            ptr = ckpt(ptr)
    # a true root has no parent; a walk still ending on a parented node
    # after 2^sweeps hop-skips is cyclic (or beyond the page budget)
    proot = parent.select(F.col("url").alias("p_url"))
    flagged = ptr.join(proot, ptr["root"] == proot["p_url"], "left").select(
        "url", "root", "dist", F.col("p_url").isNull().alias("resolved")
    )
    sizes = (
        flagged.filter("resolved")
        .groupBy(F.col("root").alias("s_root"))
        .agg(F.count(F.lit(1)).cast("long").alias("s_len"))
    )
    return flagged.join(
        sizes, flagged["root"] == sizes["s_root"], "left"
    ).select(
        "url",
        F.when(F.col("resolved"), F.col("root")).alias("root_url"),
        F.when(F.col("resolved"), F.col("dist") + 1)
        .cast("long").alias("page_idx"),
        F.when(F.col("resolved"), F.col("s_len"))
        .cast("long").alias("chain_len"),
        "resolved",
    )


def deep_page_demotion(
    chains: DataFrame, max_page_idx: int = 3
) -> DataFrame:
    """Chain members past max_page_idx (plus every cyclic member) in
    the scheduler's demotion currency: (url, budget 0.0) — min-merged
    into the host budget table like soft-404 / mirror / parked
    demotion, so tag-archive page 47 stops consuming politeness slots
    that page 1 of a fresh series needs."""
    return chains.filter(
        (~F.col("resolved")) | (F.col("page_idx") > max_page_idx)
    ).select("url", F.lit(0.0).alias("budget"))
