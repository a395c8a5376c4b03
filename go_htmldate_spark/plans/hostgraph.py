"""Host-graph link analysis for crawl prioritization.

A tier crawl budgets HOSTS, not just URLs: Common Crawl publishes a
host-level web graph and ranks it to decide which hosts deserve crawl
budget, and the reference's frontier (priority = politeness × recency,
plans/scheduler.py) is exactly the place such a rank plugs in as the
politeness prior. `host_pagerank` computes damped PageRank over
(src_host, dst_host) edges in EXACT integer fixed-point so the result
is engine-portable and fold-order-free:

- ranks are integral multiples of 1/SCALE held as DECIMAL(38,0)
  (exact group sums in Spark; HUGEINT sums in the DuckDB oracle);
- per-edge contribution is truncating integer division
  rank div outdeg, implemented as (a - a % b) / b — the numerator is
  an exact multiple of b, so the decimal divide is exact;
- damping is (in_sum * d_num) div d_den, same construct.

No floating point anywhere means the sum over in-neighbors is exact
under ANY partitioning/combine order — the property that makes the
result reproducible between a 1-core oracle and a 1000-executor
cluster run (a double-based PageRank differs in the last bits per
shuffle layout, which poisons bit-parity testing at scale).

Semantics: standard damped PageRank with uniform base mass
SCALE*(den-num)/den per node, K fixed sweeps, dangling-node mass
dropped (hosts with no out-links absorb rank; the usual crawl-ranking
simplification — we want a relative ordering, not a stochastic
eigenvector). Self-loops removed, parallel edges collapsed.

Scale shape: prepare_host_edges persists the cleaned graph ONCE as a
parquet table bucketed+sorted on src, so each sweep's edges⋈ranks
sort-merge join scans the edge side in place (bucketed scans report
HashPartitioning natively — checkpointed DataFrames do not under AQE)
and the contrib→dst hash-agg with map-side partial sums is the only
edge-sized exchange per sweep. Rank arithmetic runs in codegen'd
64-bit integers whenever the provable mass bound n_nodes·scale fits
int64 with margin (BigDecimal-backed DECIMAL(38,0) otherwise — same
integers either way). State per sweep is one (host, rank) row per
node, checkpointed with the same reliable-dir-aware discipline as
connected_components so lineage stays flat over K sweeps.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

_DEC = "decimal(38,0)"


def _idiv(a, b):
    """Truncating integer division on non-negative DECIMAL(38,0)
    columns, exact by construction: (a - a % b) is an exact multiple
    of b, so the decimal divide yields an integral value that any
    result scale represents exactly."""
    a = a.cast(_DEC)
    b = b.cast(_DEC)
    return ((a - a % b) / b).cast(_DEC)


def prepare_host_edges(
    edges: DataFrame,
    table: str,
    n_buckets: int | None = None,
    src_col: str = "src",
    dst_col: str = "dst",
    path: str | None = None,
    key_col: str = "src",
) -> DataFrame:
    """Persist the cleaned (self-loops dropped, parallel edges
    collapsed) host graph ONCE as a parquet table bucketed AND sorted
    on `key_col` (src for the PageRank/OPIC sweeps; pass "dst" for a
    second layout feeding host_hits' hub half-sweep) — the rank-sweep
    substrate. A bucketed scan reports
    HashPartitioning(src)/sorted natively, so every sweep's edges⋈state
    sort-merge join scans the big side in place: no per-sweep edge
    exchange, no per-sweep edge sort. (Checkpointed DataFrames lose
    their partitioning under AQE — AdaptiveSparkPlanExec reports
    UnknownPartitioning — so a table layout is the only edge layout
    that survives K sweeps; same discipline as write_bucketed_corpus
    for the fetch join.) At 10^10 edges this halves the job's total
    shuffle volume: the contrib→dst aggregation becomes the ONLY
    edge-sized exchange per sweep.

    Returns the table handle; feed it to host_pagerank(prepared=True).
    """
    spark = edges.sparkSession
    if n_buckets is None:
        n_buckets = int(spark.conf.get("spark.sql.shuffle.partitions"))
    e = (
        edges.select(F.col(src_col).alias("src"), F.col(dst_col).alias("dst"))
        .filter(F.col("src") != F.col("dst"))
        .distinct()
    )
    # repartition on the bucket column first: partition hashing matches
    # bucket hashing, so each bucket lands in exactly one task → one
    # file per bucket, which is what lets the scan report the per-bucket
    # sort order (multi-file buckets force a re-sort at read time)
    writer = (
        e.repartition(n_buckets, key_col)
        .write.bucketBy(n_buckets, key_col).sortBy(key_col)
        .mode("overwrite").format("parquet")
    )
    if path:
        writer = writer.option("path", path)
    writer.saveAsTable(table)
    return spark.table(table)


# cap for the driver-side small-graph fast paths (distinct cleaned
# edges collected; graphs above it run the distributed sweeps)
_HOSTGRAPH_EDGE_CAP = 200_000


# cap for host_trustrank's driver-side seed collect (distinct seeds)
_TRUSTRANK_SEED_CAP = _HOSTGRAPH_EDGE_CAP


def _collect_small_edges(edges, src_col, dst_col):
    """Cleaned DISTINCT (src, dst) edge list when it fits the cap,
    else None — limit-bounded so an over-cap graph never materializes
    on the driver. Null-endpoint rows drop exactly as the distributed
    cleaners drop them (src != dst is null-false)."""
    rows = (
        edges.select(F.col(src_col).alias("src"), F.col(dst_col).alias("dst"))
        .filter(F.col("src") != F.col("dst"))
        .filter(F.col("src").isNotNull() & F.col("dst").isNotNull())
        .distinct()
        .limit(_HOSTGRAPH_EDGE_CAP + 1)
        .collect()
    )
    if len(rows) > _HOSTGRAPH_EDGE_CAP:
        return None  # pragma: no cover - data-dependent fallback
    return [(r["src"], r["dst"]) for r in rows]


def host_pagerank(
    edges: DataFrame,
    src_col: str = "src",
    dst_col: str = "dst",
    iters: int = 4,
    damping_num: int = 85,
    damping_den: int = 100,
    scale: int = 10**12,
    prepared: bool = False,
) -> DataFrame:
    """(src_host, dst_host) link edges → (host, rank) with rank the
    integer fixed-point PageRank mass (multiples of 1/scale), BIGINT.

    Every node starts at `scale` (i.e. 1.0); after each sweep
    rank = base + damp(sum over in-edges of rank div outdeg) with
    base = scale*(den-num) div den. K sweeps of exact integer
    arithmetic — see the module docstring for why not doubles.

    prepared=True asserts the input is already cleaned and laid out for
    the sweeps (prepare_host_edges: deduped, self-loop-free, bucketed
    and sorted on src) and skips the dedup shuffle + checkpoint — the
    at-scale path where the host graph is a persisted table.
    """
    if iters < 1:
        raise ValueError("iters must be >= 1")
    if not 0 < damping_num < damping_den:
        # num < den is what bounds total mass by n·scale (the long-path
        # overflow proof and the convergence argument both rest on it)
        raise ValueError("need 0 < damping_num < damping_den")
    if not prepared:
        # bounded driver-side fast path (r06, same rationale as OPIC):
        # K checkpointed sweeps cost a scheduling floor of seconds for
        # microseconds of integer arithmetic on a small graph;
        # host_pagerank_py is the exact-integer law this function is
        # pinned against, so the result is bit-identical by
        # construction. prepared=True (the persisted bucketed at-scale
        # layout) keeps the distributed sweeps.
        small = _collect_small_edges(edges, src_col, dst_col)
        if small is not None:
            rk = host_pagerank_py(
                small, iters=iters, damping_num=damping_num,
                damping_den=damping_den, scale=scale,
            )
            return edges.sparkSession.createDataFrame(
                sorted(rk.items()), "host string, rank long"
            )
    sc = edges.sparkSession.sparkContext

    def ckpt(df: DataFrame) -> DataFrame:
        if sc.getCheckpointDir() is not None:
            return df.checkpoint(eager=True)
        return df.localCheckpoint(eager=True)

    e = edges.select(F.col(src_col).alias("src"), F.col(dst_col).alias("dst"))
    if not prepared:
        e = ckpt(e.filter(F.col("src") != F.col("dst")).distinct())
    nodes = ckpt(
        e.select(F.col("src").alias("host"))
        .unionByName(e.select(F.col("dst").alias("host")))
        .distinct()
    )
    outdeg = e.groupBy(F.col("src").alias("host")).agg(
        F.count(F.lit(1)).alias("outdeg")
    )
    # outdeg rides with the rank state so each sweep's join is
    # edges ⋈ state on one key, not a three-way join
    base = (scale * (damping_den - damping_num)) // damping_den

    # Arithmetic width. Total fixed-point mass is conserved or shrinks
    # (total_{t+1} = n·base + damp(Σ in_sum) ≤ (den-num)/den·n·scale +
    # num/den·total_t, whose fixed point is n·scale), so every rank,
    # contribution, and partial sum is bounded by n_nodes·scale. When
    # that bound sits inside int64 with margin, the whole sweep runs in
    # codegen'd 64-bit integer ops — DECIMAL(38,0) is BigDecimal-backed
    # (per-row allocation, GC-bound, the visible scaling ceiling in one
    # shared JVM), while the long path allocates nothing per row. Both
    # paths compute the IDENTICAL integers (truncating division either
    # way), so the choice is invisible to results and oracles.
    n_nodes = nodes.count()  # nodes is checkpointed: count is a cache scan
    use_long = n_nodes * scale <= (1 << 62)

    rank0 = F.lit(scale).cast("long" if use_long else _DEC)

    state = ckpt(
        nodes.join(outdeg, "host", "left").select(
            "host",
            rank0.alias("rank"),
            F.coalesce(F.col("outdeg"), F.lit(0)).alias("outdeg"),
        )
    )
    for _ in range(iters):
        if use_long:
            contrib_expr = F.expr("rank div outdeg").alias("contrib")
        else:
            contrib_expr = _idiv(F.col("rank"), F.col("outdeg")).alias("contrib")
        contrib = e.join(state, e["src"] == state["host"]).select(
            F.col("dst"), contrib_expr
        )
        if use_long:
            in_sum = contrib.groupBy(F.col("dst").alias("host")).agg(
                F.sum("contrib").alias("in_sum")
            )
            # (a·num) div den without overflow: a ≤ n·scale ≤ 2^62 but
            # a·num can exceed int64, so split a = q·den + r first:
            # (a·num) div den = q·num + (r·num) div den — every term
            # stays below a (num < den), pure long codegen, exact.
            a = "coalesce(in_sum, 0L)"
            num, den = damping_num, damping_den
            rank_expr = F.expr(
                f"{base}L + ({a} div {den}) * {num}L"
                f" + (({a} % {den}) * {num}L) div {den}"
            ).alias("rank")
        else:
            in_sum = contrib.groupBy(F.col("dst").alias("host")).agg(
                F.sum("contrib").cast(_DEC).alias("in_sum")
            )
            rank_expr = (
                F.lit(base).cast(_DEC)
                + _idiv(
                    F.coalesce(F.col("in_sum"), F.lit(0)).cast(_DEC)
                    * F.lit(damping_num),
                    F.lit(damping_den),
                )
            ).cast(_DEC).alias("rank")
        state = ckpt(
            state.select("host", "outdeg")
            .join(in_sum, "host", "left")
            .select("host", rank_expr, "outdeg")
        )
    return state.select("host", F.col("rank").cast("long").alias("rank"))


def host_pagerank_py(
    edges: list[tuple[str, str]],
    iters: int = 4,
    damping_num: int = 85,
    damping_den: int = 100,
    scale: int = 10**12,
) -> dict[str, int]:
    """Single-threaded exact-integer reference (test oracle)."""
    e = sorted({(s, d) for s, d in edges if s != d})
    nodes = sorted({s for s, _ in e} | {d for _, d in e})
    outdeg: dict[str, int] = {}
    for s, _ in e:
        outdeg[s] = outdeg.get(s, 0) + 1
    base = (scale * (damping_den - damping_num)) // damping_den
    rank = {n: scale for n in nodes}
    for _ in range(iters):
        in_sum = {n: 0 for n in nodes}
        for s, d in e:
            in_sum[d] += rank[s] // outdeg[s]
        rank = {n: base + (in_sum[n] * damping_num) // damping_den for n in nodes}
    return rank


def rank_to_budget(
    ranks: DataFrame, lo: float = 1.0, hi: float = 8.0
) -> DataFrame:
    """(host, rank) → (host, politeness_budget): log-scaled rank mapped
    affinely onto [lo, hi], ready to feed CrawlScheduler(host_budget=…)
    — the rank→crawl-budget bridge (Common Crawl allocates crawl budget
    from host rank the same way). Log scale because PageRank mass is
    heavy-tailed: a linear map would give every non-hub host the floor.

    One scalar agg (min/max log-rank) broadcast back over the rank
    table; output is one row per host — broadcast-size by construction
    for the scheduler's own budget join. Degenerate all-equal ranks map
    to the midpoint."""
    lr = F.log(F.col("rank").cast("double"))
    bounds = ranks.agg(
        F.min(lr).alias("_lo"), F.max(lr).alias("_hi")
    )
    span = F.col("_hi") - F.col("_lo")
    budget = F.when(
        span > 0,
        F.lit(lo) + (F.lit(hi - lo)) * (lr - F.col("_lo")) / span,
    ).otherwise(F.lit((lo + hi) / 2.0))
    return (
        ranks.crossJoin(F.broadcast(bounds))
        .select("host", budget.alias("politeness_budget"))
    )


# ---------------------------------------------------------------------------
# Anchor-text aggregation (web-graph quality signal)
# ---------------------------------------------------------------------------

# one pattern, two used capture groups (2 = href value, 3 = inner
# text): extracting both with the SAME regex guarantees the href/text
# arrays align element-for-element. Attribute scanning is quote-AWARE:
# the prefix/suffix skip whole quoted attribute values atomically
# ((?:[^>"']|"[^"]*"|'[^']*')*?), so an `href=` inside another
# attribute's value can't hijack the target and a '>' inside a quoted
# title can't end the tag early; the href value itself is delimited by
# a backreference to its own opening quote (group 1), so the other
# quote kind is legal inside a URL (/o'brien/). Neither the scan nor
# the value may cross an unquoted '>' — <a name="x"> (no href) never
# matches. [^<]* requires plain inner text, so anchors wrapping nested
# markup (<a href=..><img ..></a> and friends) are skipped as edges
# entirely — the aggregation is over TEXT links, the signal of
# interest. Java regex (Spark-side only; the oracle is closed-form).
ANCHOR_RX = (
    r"""(?is)<a\s(?:[^>"']|"[^"]*"|'[^']*')*?"""
    r"""href\s*=\s*(["'])((?:(?!\1)[^>])*)\1"""
    r"""(?:[^>"']|"[^"]*"|'[^']*')*>([^<]*)</a>"""
)


def extract_anchors(
    df: DataFrame, url_col: str = "url", html_col: str = "html"
) -> DataFrame:
    """(src_host, target_url, anchor) link tuples parsed natively out of
    page HTML — the edge stream with anchor text that search engines
    aggregate per target (anchor text describes the TARGET better than
    the target's own words; Craswell/Hawking/Robertson CIKM'01). Anchor
    text is whitespace-collapsed and lowercased; only absolute http(s)
    targets survive (relative links already reach the frontier through
    the scheduler's outlink discovery).

    Map-only: two regexp_extract_all passes (groups 2 and 3 — the same
    matches in the same order, so arrays_zip aligns href with text)
    over the html column, then one explode; page bytes are read once
    and never shuffled. This replaced the group-0 extract + per-link
    re-extract form (r06: the per-link short-span regexps cost more
    than the second document scan — 1.7 s vs 1.3 s at sf1 for
    identical link tuples)."""
    from .canonical import url_host

    hrefs = F.regexp_extract_all(F.col(html_col), F.lit(ANCHOR_RX), F.lit(2))
    texts = F.regexp_extract_all(F.col(html_col), F.lit(ANCHOR_RX), F.lit(3))
    z = df.select(
        url_host(F.col(url_col)).alias("src_host"),
        F.explode(F.arrays_zip(hrefs.alias("h"), texts.alias("x"))).alias("z"),
    )
    return z.select(
        "src_host",
        F.col("z.h").alias("target_url"),
        F.lower(
            F.trim(F.regexp_replace(F.col("z.x"), r"\s+", " "))
        ).alias("anchor"),
    ).filter(F.col("target_url").rlike(r"^https?://"))


def anchor_text_agg(
    df: DataFrame, url_col: str = "url", html_col: str = "html"
) -> DataFrame:
    """Per-target anchor-text aggregation: how many links point at each
    URL, from how many distinct source hosts (the spam-resistance
    denominator), how many distinct non-empty anchor phrases, and the
    single most common phrase (ties broken lexicographically). The
    reference has no link-graph layer; this is the web-corpus signal
    that feeds both crawl prioritization (alongside host_pagerank) and
    LLM document quality scoring.

    Scale shape: the link stream pays one target-keyed exchange for the
    scalar stats (count-distinct expands map-side); the top-anchor path
    aggregates on (target, anchor) FIRST — so the second window/join
    exchange moves only the already-collapsed phrase counts, never raw
    links — and row_number caps the winner with no collect_list
    anywhere. Output is O(targets)."""
    from pyspark.sql import Window

    links = extract_anchors(df, url_col, html_col)
    # collapse the raw link stream to (target, src_host, anchor) counts
    # FIRST: count is map-side partial-aggregable, so the only
    # link-volume exchange moves pre-collapsed triples (guide §2.3 —
    # aggregate before you shuffle), and the countDistinct Expand plus
    # the (target, anchor) aggregation below run over the collapsed
    # table instead of every link. n_links = sum of counts, distincts
    # are unchanged by collapsing on a superset key — value-identical
    # (oracle-pinned).
    triples = links.groupBy("target_url", "src_host", "anchor").agg(
        F.count(F.lit(1)).alias("_c")
    )
    if not triples.isStreaming:
        # triples feed TWO aggregations keyed differently (target vs
        # target+anchor) — no exchange reuse is possible, so without a
        # barrier the whole per-page ANCHOR_RX extraction runs twice
        # over the corpus; the collapsed triples are tiny next to the
        # HTML (and next to the raw link stream)
        triples = triples.localCheckpoint(eager=False)
    stats = triples.groupBy("target_url").agg(
        F.sum("_c").cast("long").alias("n_links"),
        F.countDistinct("src_host").cast("long").alias("n_src_hosts"),
        F.countDistinct(
            F.when(F.col("anchor") != "", F.col("anchor"))
        ).cast("long").alias("n_unique_anchors"),
    )
    counts = (
        triples.filter(F.col("anchor") != "")
        .groupBy("target_url", "anchor")
        .agg(F.sum("_c").alias("_c"))
    )
    w = Window.partitionBy("target_url").orderBy(
        F.col("_c").desc(), F.col("anchor").asc()
    )
    top = (
        counts.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .select("target_url", F.col("anchor").alias("top_anchor"))
    )
    return stats.join(top, "target_url", "left")

# ---------------------------------------------------------------------------
# HITS hubs/authorities (Kleinberg JACM'99) — the discovery-side rank
# ---------------------------------------------------------------------------


def host_hits(
    edges: DataFrame,
    src_col: str = "src",
    dst_col: str = "dst",
    iters: int = 3,
    scale: int = 10**12,
    prepared: bool = False,
    edges_by_dst: DataFrame | None = None,
) -> DataFrame:
    """(src_host, dst_host) edges → (host, auth, hub): Kleinberg's HITS
    (JACM'99) in the same exact-integer fixed-point discipline as
    host_pagerank — auth(p) = Σ hub over in-neighbors, hub(p) = Σ auth
    over out-neighbors, each re-normalized per half-sweep. Where
    PageRank/OPIC rank hosts for FETCH priority, hubs rank hosts for
    DISCOVERY: a high-hub host is a link farm of *good* targets whose
    recrawl yields fresh frontier URLs, the signal a crawl scheduler
    wants when allocating outlink-harvest budget (feed hub through
    rank_to_budget), while authorities feed document-quality priors.

    Exactness: classic HITS L2-normalizes in floating point, which is
    fold-order-dependent; here each half-sweep L1-normalizes to total
    mass T = n·scale by v' = (v_raw · T) div S with S = Σ v_raw —
    integer sums are exact under any combine order and truncating
    division is deterministic, so the distributed result is
    bit-identical to a single-threaded evaluation (host_hits_py) and a
    HUGEINT SQL oracle. Truncation bleeds ≤1/scale of relative mass per
    half-sweep — rank-irrelevant at scale=10**12. Per-node values stay
    ≤ T; per-node sums run in codegen'd longs under the required bound
    n·scale ≤ 2^62 (ValueError beyond: lower `scale` — at 10**9 the
    bound spans 4.6e9 hosts, the whole-web host count), and only the
    one-row global sum S and the normalization product v_raw·T (≤ T² <
    10^38) touch DECIMAL(38,0).

    Scale shape: the auth half-sweep joins edges⋈state ON src and pays
    one dst-keyed agg exchange; the hub half-sweep joins ON dst and
    pays one src-keyed agg exchange. Pass the graph twice —
    prepare_host_edges(key_col="src") and (key_col="dst"), i.e.
    `prepared=True, edges_by_dst=…` — and each join scans its edge side
    in place, leaving the two aggs as the only edge-sized exchanges per
    sweep (host_pagerank's shape, once per half-sweep). The global S
    and n are one-row broadcasts. Self-loops dropped, parallel edges
    collapsed; no-in-link hosts have auth 0, no-out-link hosts hub 0.

    Reference: no analog (go-htmldate has no link-graph layer); public
    literature: Kleinberg JACM'99 §2.
    """
    if iters < 1:
        raise ValueError("iters must be >= 1")
    if not prepared and edges_by_dst is None:
        # bounded driver-side fast path — host_hits_py is the pinned
        # exact-integer law (see host_pagerank). The n·scale width
        # guard stays with the distributed path's semantics: the py
        # law computes the same integers wherever the guard passes,
        # and the guard itself must still raise identically.
        small = _collect_small_edges(edges, src_col, dst_col)
        if small is not None:
            n_nodes = len({s for s, _ in small} | {d for _, d in small})
            if n_nodes * scale > (1 << 62):
                raise ValueError(
                    "n_hosts*scale exceeds 2^62 — lower `scale` to keep "
                    "the half-sweep sums in exact codegen'd longs"
                )
            hh = host_hits_py(small, iters=iters, scale=scale)
            return edges.sparkSession.createDataFrame(
                [(h, a, b) for h, (a, b) in sorted(hh.items())],
                "host string, auth long, hub long",
            )
    sc = edges.sparkSession.sparkContext

    def ckpt(df: DataFrame) -> DataFrame:
        if sc.getCheckpointDir() is not None:
            return df.checkpoint(eager=True)
        return df.localCheckpoint(eager=True)

    if edges_by_dst is not None and not prepared:
        # the dst layout bypasses the cleaning below — pairing it with
        # raw edges would run the two half-sweeps over DIFFERENT graphs
        # (dups/self-loops present on one side only) and return silently
        # wrong integers; both layouts must come from prepare_host_edges
        raise ValueError("edges_by_dst requires prepared=True")
    e = edges.select(F.col(src_col).alias("src"), F.col(dst_col).alias("dst"))
    if not prepared:
        e = ckpt(e.filter(F.col("src") != F.col("dst")).distinct())
    ed = e if edges_by_dst is None else edges_by_dst.select(
        F.col(src_col).alias("src"), F.col(dst_col).alias("dst")
    )
    nodes = ckpt(
        e.select(F.col("src").alias("host"))
        .unionByName(e.select(F.col("dst").alias("host")))
        .distinct()
    )
    n_nodes = nodes.count()  # nodes is checkpointed: count is a cache scan
    if n_nodes * scale > (1 << 62):
        raise ValueError(
            "n_hosts*scale exceeds 2^62 — lower `scale` to keep the "
            "half-sweep sums in exact codegen'd longs"
        )
    total = n_nodes * scale  # T: the conserved L1 mass target

    def _normalize(raw_col):
        # (raw · T) div S in DECIMAL(38,0): raw ≤ T ≤ 2^62 so the
        # product is < 10^38 (exact), and _idiv truncates exactly; a
        # mass-less half-sweep (no edges) keeps everyone at zero
        prod = raw_col.cast(_DEC) * F.lit(int(total)).cast(_DEC)
        return F.when(
            F.col("_s") > 0, _idiv(prod, F.col("_s")).cast("long")
        ).otherwise(F.lit(0).cast("long"))

    def _half_sweep(state_vals, join_key, agg_key, out_name):
        # state_vals: (host, _v) current mass; join edges on join_key,
        # sum the neighbor mass per agg_key, L1-renormalize to T
        raw = (
            (e if join_key == "src" else ed)
            .join(state_vals, F.col(join_key) == F.col("host"))
            .groupBy(F.col(agg_key).alias("_h"))
            .agg(F.sum("_v").alias("_raw"))
        )
        framed = (
            nodes.join(raw, nodes["host"] == raw["_h"], "left")
            .select("host", F.coalesce(F.col("_raw"), F.lit(0)).alias("_raw"))
        )
        s = framed.agg(F.sum(F.col("_raw").cast(_DEC)).alias("_s"))
        return framed.crossJoin(F.broadcast(s)).select(
            "host", _normalize(F.col("_raw")).alias(out_name)
        )

    hub = ckpt(nodes.select(
        "host", F.lit(int(scale)).cast("long").alias("hub")
    ))
    auth = None
    for _ in range(iters):
        auth = ckpt(_half_sweep(
            hub.select("host", F.col("hub").alias("_v")), "src", "dst", "auth"
        ))
        hub = ckpt(_half_sweep(
            auth.select("host", F.col("auth").alias("_v")), "dst", "src", "hub"
        ))
    return auth.join(hub, "host").select("host", "auth", "hub")


def host_hits_py(
    edges: list[tuple[str, str]],
    iters: int = 3,
    scale: int = 10**12,
) -> dict[str, tuple[int, int]]:
    """Single-threaded exact-integer reference (test oracle)."""
    e = sorted({(s, d) for s, d in edges if s != d})
    nodes = sorted({s for s, _ in e} | {d for _, d in e})
    total = len(nodes) * scale
    hub = {x: scale for x in nodes}
    auth = {x: 0 for x in nodes}
    for _ in range(iters):
        raw = {x: 0 for x in nodes}
        for s, d in e:
            raw[d] += hub[s]
        tot = sum(raw.values())
        auth = {x: (raw[x] * total) // tot if tot > 0 else 0 for x in nodes}
        raw = {x: 0 for x in nodes}
        for s, d in e:
            raw[s] += auth[d]
        tot = sum(raw.values())
        hub = {x: (raw[x] * total) // tot if tot > 0 else 0 for x in nodes}
    return {x: (auth[x], hub[x]) for x in nodes}


# ---------------------------------------------------------------------------
# Focused-crawl relevance (Chakrabarti/van den Berg/Dom, Comput. Netw. 1999)
# ---------------------------------------------------------------------------


def focused_host_relevance(
    pages: DataFrame,
    keywords: list[str],
    url_col: str = "url",
    html_col: str = "html",
) -> DataFrame:
    """Pages → (host, n_inlinks, n_topic_inlinks, relevance): the
    focused-crawling priority signal of Chakrabarti et al. (Computer
    Networks 31, 1999) at host granularity — a crawl chasing a topic
    should spend budget where the link CONTEXT says the topic lives,
    and anchor text is the context signal that transfers to the target
    before fetching it (Craswell et al. CIKM'01). relevance = share of
    a target host's in-link anchors containing any topic keyword on a
    word boundary (anchors arrive lowercased from extract_anchors, so
    matching is case-insensitive); relevance = round(topic/total, 6) —
    one integer division, fold-order-free.

    Scale shape: anchor extraction is map-only over page bytes (read
    once, never shuffled); one host-keyed agg exchange moving only
    (host, bool) pairs; output is O(target hosts) — broadcast-size for
    the scheduler's budget join. The keyword set compiles to a single
    codegen'd rlike, no UDF.

    Reference: no analog (go-htmldate has no link-graph layer)."""
    import re as _re

    from .canonical import url_host

    if not keywords:
        raise ValueError("need at least one topic keyword")
    pat = r"\b(?:" + "|".join(
        _re.escape(k.lower()) for k in sorted(set(keywords))
    ) + r")\b"
    links = extract_anchors(pages, url_col, html_col)
    n_topic = F.sum(
        F.when(F.col("anchor").rlike(pat), F.lit(1)).otherwise(F.lit(0))
    ).cast("long")
    return (
        links.select(url_host(F.col("target_url")).alias("host"), "anchor")
        .filter(F.col("host") != "")
        .groupBy("host")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_inlinks"),
            n_topic.alias("n_topic_inlinks"),
        )
        .select(
            "host", "n_inlinks", "n_topic_inlinks",
            F.round(
                F.col("n_topic_inlinks").cast("double")
                / F.col("n_inlinks").cast("double"), 6
            ).alias("relevance"),
        )
    )


# ---------------------------------------------------------------------------
# TrustRank (Gyöngyi/Garcia-Molina/Pedersen, VLDB'04) — spam demotion
# ---------------------------------------------------------------------------


def host_trustrank(
    edges: DataFrame,
    seeds: DataFrame,
    src_col: str = "src",
    dst_col: str = "dst",
    seed_col: str = "host",
    iters: int = 4,
    damping_num: int = 85,
    damping_den: int = 100,
    scale: int = 10**12,
    prepared: bool = False,
) -> DataFrame:
    """(src_host, dst_host) edges + a trusted seed-host frame →
    (host, trust): TrustRank (Gyöngyi et al. VLDB'04) — PageRank with
    the teleport restricted to a hand-vetted seed set, so trust decays
    with link distance from the seeds and spam farms (which good hosts
    don't link to) starve no matter how densely they link themselves.
    The crawl use is budget demotion: link-spam hosts rank high on raw
    PageRank (that is the point of a farm) but near zero here; feed
    trust through rank_to_budget and min-merge so farms lose fetch
    budget the blocklist never heard of.

    Same exact-integer discipline as host_pagerank — the recurrence is
    trust = base·[host ∈ seeds] + damp(Σ in-edge trust div outdeg)
    with per-seed base = n·scale·(den-num) div (den·|seeds|): the same
    TOTAL base mass as PageRank (n·base_pr), concentrated on the
    seeds, so the n·scale mass bound and the int64/DECIMAL width
    switch carry over unchanged. Truncating division everywhere means
    the distributed result is bit-identical to host_trustrank_py and a
    HUGEINT CTE oracle under any partitioning. Non-seed hosts start at
    0 and earn trust only through in-links from the seed side —
    iters bounds the trust radius (seeds' 4-hop neighborhood at the
    default), the paper's damped-propagation semantics.

    Scale shape: identical to host_pagerank (the seed flag rides the
    state row, seeds broadcast once at init) — one src-key join + one
    dst agg per sweep over a prepare_host_edges table.

    Reference: no analog (go-htmldate has no link-graph layer).
    """
    if iters < 1:
        raise ValueError("iters must be >= 1")
    if not 0 < damping_num < damping_den:
        raise ValueError("need 0 < damping_num < damping_den")
    if not prepared:
        # bounded driver-side fast path — host_trustrank_py is the
        # pinned exact-integer law (see host_pagerank); the seed and
        # width guards raise identically to the distributed path.
        small = _collect_small_edges(edges, src_col, dst_col)
        # limit-bounded like the edge collect: an over-cap seed set
        # takes the distributed path, whose semi-join keeps only the
        # seeds in the graph
        seed_rows = None if small is None else (
            seeds.select(F.col(seed_col).alias("host"))
            .distinct().limit(_TRUSTRANK_SEED_CAP + 1).collect()
        )
        if seed_rows is not None and len(seed_rows) <= _TRUSTRANK_SEED_CAP:
            nodes_s = {s for s, _ in small} | {d for _, d in small}
            sd = [r["host"] for r in seed_rows if r["host"] in nodes_s]
            if not sd:
                raise ValueError(
                    "need at least one seed host present in the graph"
                )
            if len(nodes_s) * scale > (1 << 63) - 1:
                raise ValueError(
                    "n_hosts*scale exceeds int64 — lower `scale` so "
                    "trust values (bounded by the total mass) stay "
                    "representable"
                )
            tr = host_trustrank_py(
                small, sd, iters=iters, damping_num=damping_num,
                damping_den=damping_den, scale=scale,
            )
            return edges.sparkSession.createDataFrame(
                sorted(tr.items()), "host string, trust long"
            )
    sc = edges.sparkSession.sparkContext

    def ckpt(df: DataFrame) -> DataFrame:
        if sc.getCheckpointDir() is not None:
            return df.checkpoint(eager=True)
        return df.localCheckpoint(eager=True)

    e = edges.select(F.col(src_col).alias("src"), F.col(dst_col).alias("dst"))
    if not prepared:
        e = ckpt(e.filter(F.col("src") != F.col("dst")).distinct())
    nodes = ckpt(
        e.select(F.col("src").alias("host"))
        .unionByName(e.select(F.col("dst").alias("host")))
        .distinct()
    )
    s = seeds.select(F.col(seed_col).alias("host")).distinct()
    # seeds outside the graph would siphon base mass into nodes no
    # edge can drain or feed — keep the teleport on graph members
    s = ckpt(s.join(nodes, "host", "left_semi"))
    n_nodes = nodes.count()  # checkpointed: cache scans
    n_seeds = s.count()
    if n_seeds < 1:
        raise ValueError("need at least one seed host present in the graph")
    # per-seed base: total base mass n·scale·(den-num) div den split
    # over the seeds — the PageRank total, concentrated
    base = (n_nodes * scale * (damping_den - damping_num)) // (
        damping_den * n_seeds
    )
    # trust CONCENTRATES by design (that is the demotion mechanism), so
    # unlike PageRank a single host can realistically approach the full
    # n·scale mass: the BIGINT return column requires the mass bound
    # itself to fit int64, else the top-trust host would overflow the
    # final cast to NULL and (via greatest(trust,1)) land on the budget
    # FLOOR — the exact inversion of what TrustRank is for
    if n_nodes * scale > (1 << 63) - 1:
        raise ValueError(
            "n_hosts*scale exceeds int64 — lower `scale` so trust "
            "values (bounded by the total mass) stay representable"
        )
    use_long = n_nodes * scale <= (1 << 62)

    outdeg = e.groupBy(F.col("src").alias("host")).agg(
        F.count(F.lit(1)).alias("outdeg")
    )
    seed_flag = F.when(F.col("_seed").isNotNull(), F.lit(1)).otherwise(
        F.lit(0)
    )
    state = ckpt(
        nodes.join(outdeg, "host", "left")
        .join(s.select("host", F.lit(1).alias("_seed")), "host", "left")
        .select(
            "host",
            (seed_flag * F.lit(int(base)))
            .cast("long" if use_long else _DEC).alias("trust"),
            F.coalesce(F.col("outdeg"), F.lit(0)).alias("outdeg"),
            seed_flag.alias("is_seed"),
        )
    )
    for _ in range(iters):
        if use_long:
            contrib_expr = F.expr("trust div outdeg").alias("contrib")
        else:
            contrib_expr = _idiv(F.col("trust"), F.col("outdeg")).alias(
                "contrib"
            )
        contrib = e.join(state, e["src"] == state["host"]).select(
            F.col("dst"), contrib_expr
        )
        if use_long:
            in_sum = contrib.groupBy(F.col("dst").alias("host")).agg(
                F.sum("contrib").alias("in_sum")
            )
            # overflow-split (a·num) div den, same as host_pagerank
            a = "coalesce(in_sum, 0L)"
            num, den = damping_num, damping_den
            trust_expr = F.expr(
                f"is_seed * {int(base)}L + ({a} div {den}) * {num}L"
                f" + (({a} % {den}) * {num}L) div {den}"
            ).alias("trust")
        else:
            in_sum = contrib.groupBy(F.col("dst").alias("host")).agg(
                F.sum("contrib").cast(_DEC).alias("in_sum")
            )
            trust_expr = (
                F.col("is_seed").cast(_DEC) * F.lit(int(base)).cast(_DEC)
                + _idiv(
                    F.coalesce(F.col("in_sum"), F.lit(0)).cast(_DEC)
                    * F.lit(damping_num),
                    F.lit(damping_den),
                )
            ).cast(_DEC).alias("trust")
        state = ckpt(
            state.select("host", "outdeg", "is_seed")
            .join(in_sum, "host", "left")
            .select("host", trust_expr, "outdeg", "is_seed")
        )
    return state.select("host", F.col("trust").cast("long").alias("trust"))


def host_trustrank_py(
    edges: list[tuple[str, str]],
    seeds: list[str],
    iters: int = 4,
    damping_num: int = 85,
    damping_den: int = 100,
    scale: int = 10**12,
) -> dict[str, int]:
    """Single-threaded exact-integer reference (test oracle)."""
    e = sorted({(s, d) for s, d in edges if s != d})
    nodes = sorted({s for s, _ in e} | {d for _, d in e})
    sd = sorted(set(seeds) & set(nodes))
    outdeg: dict[str, int] = {}
    for s, _ in e:
        outdeg[s] = outdeg.get(s, 0) + 1
    base = (len(nodes) * scale * (damping_den - damping_num)) // (
        damping_den * len(sd)
    )
    trust = {n: (base if n in sd else 0) for n in nodes}
    for _ in range(iters):
        in_sum = {n: 0 for n in nodes}
        for s, d in e:
            in_sum[d] += trust[s] // outdeg[s]
        trust = {
            n: (base if n in sd else 0)
            + (in_sum[n] * damping_num) // damping_den
            for n in nodes
        }
    return trust


def host_lang_budgets(
    pages: DataFrame,
    quotas: dict[str, float],
    default: float = 1.0,
    url_col: str = "url",
    lang_col: str = "lang",
) -> DataFrame:
    """Pages → (host, lang, politeness_budget): per-host majority
    language (ties break lexicographically — deterministic under any
    partitioning) mapped through a language→budget quota table — how a
    language-balanced crawl (Common Crawl publishes language
    distributions and crawls against them) allocates fetch budget:
    hosts serving an under-represented target language get the high
    quota, everything else the default floor. Min-merges with the
    other budget sources via plans/scheduler.min_budgets.

    Scale shape: one (host, lang)-keyed count exchange over the pages
    scan, then the majority window moves only the collapsed per-pair
    counts (the anchor_text_agg top-phrase discipline — never raw
    rows); the quota map compiles to a chained when. Output O(hosts),
    broadcast-size for the scheduler's budget join."""
    from pyspark.sql import Window

    from .canonical import url_host

    counts = (
        pages.select(
            url_host(F.col(url_col)).alias("host"),
            F.coalesce(F.col(lang_col), F.lit("unknown")).alias("lang"),
        )
        .filter(F.col("host") != "")
        .groupBy("host", "lang")
        .agg(F.count(F.lit(1)).alias("_c"))
    )
    w = Window.partitionBy("host").orderBy(
        F.col("_c").desc(), F.col("lang").asc()
    )
    budget = F.lit(float(default))
    for lang, q in sorted(quotas.items()):
        budget = F.when(F.col("lang") == lang, F.lit(float(q))).otherwise(budget)
    return (
        counts.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .select("host", "lang", budget.alias("politeness_budget"))
    )


def host_seed_distance(
    edges: DataFrame,
    seeds: DataFrame,
    max_hops: int = 6,
    src_col: str = "src",
    dst_col: str = "dst",
    host_col: str = "host",
) -> DataFrame:
    """Multi-source BFS over the host graph: each host's link distance
    (hop count) from the nearest seed host, up to ``max_hops``.

    The classic focused/fresh-crawl prior (Cho/Garcia-Molina/Page
    WWW'98 order metrics; Najork/Wiener WWW'01 showed breadth-first
    order front-loads high-quality pages): hosts near hand-vetted
    seeds get budget before the long tail, and anything past max_hops
    simply is not in the result (unreachable within the horizon).
    Complements TrustRank — same seed set, but an exact integer metric
    with no damping parameter, usable directly as a priority tier.

    Shape: one frontier⋈edges sort-merge/hash join + a min-aggregation
    per hop, with FRONTIER-ONLY expansion — hop k joins only the hosts
    first settled at distance k (never the full settled set), so total
    work is O(edges within the horizon), the BFS analog of the O(new)
    seen-filter law. Settled state accumulates via unionByName +
    min-groupBy on O(hosts) rows. Feed `edges` through
    prepare_host_edges(key_col="src") and every hop's join scans the
    edge table in place (no per-hop edge exchange), the same layout
    law as the PageRank sweeps. Distances are exact integers —
    reproducible under any partitioning.
    """
    e = edges.select(
        F.col(src_col).alias("_src"), F.col(dst_col).alias("_dst")
    ).filter(F.col("_src") != F.col("_dst"))
    settled = (
        seeds.select(F.col(host_col).alias("host")).distinct()
        .withColumn("dist", F.lit(0).cast("long"))
    )
    frontier = settled
    for hop in range(1, max_hops + 1):
        if frontier.isEmpty():
            break
        reached = (
            frontier.join(e, frontier["host"] == e["_src"], "inner")
            .select(F.col("_dst").alias("host"))
            .distinct()
        )
        fresh = (
            reached.join(settled.select("host"), "host", "left_anti")
            .withColumn("dist", F.lit(hop).cast("long"))
        )
        # localCheckpoint both running frames: the lineage would
        # otherwise double per hop (the iterative-algorithm discipline
        # of the connected-components operator)
        frontier = fresh.localCheckpoint(eager=True)
        settled = settled.unionByName(frontier).localCheckpoint(eager=True)
    return settled


def host_reciprocity(
    edges: DataFrame,
    src_col: str = "src",
    dst_col: str = "dst",
    min_out: int = 1,
) -> DataFrame:
    """Per-host reciprocal-link ratio over the host graph — the
    link-exchange spam signal (Fetterly/Manasse/Najork WebDB'04 spam
    statistics; Becchetti et al. AIRWeb'06 use degree/reciprocity
    features): organic linking is largely one-directional, while link
    farms and paid exchanges produce abnormally high fractions of
    edges whose reverse edge also exists.  Complements TrustRank (no
    seed set needed) and feeds the same budget-demotion currency.

    Shape: ONE self-join of the deduped edge list against its swapped
    projection (both sides partition on the same (src, dst) key pair,
    so Catalyst plans a single pair of exchanges over O(edges) rows —
    page payloads never appear), then a host-keyed count aggregation.
    Output is O(hosts), broadcast-size.
    """
    e = (
        edges.select(F.col(src_col).alias("s"), F.col(dst_col).alias("d"))
        .filter(F.col("s") != F.col("d"))
        .distinct()
    )
    rev = e.select(F.col("d").alias("s"), F.col("s").alias("d"),
                   F.lit(1).alias("_rev"))
    return (
        e.join(rev, ["s", "d"], "left")
        .groupBy(F.col("s").alias("host"))
        .agg(
            F.count("*").cast("long").alias("n_out"),
            F.sum(F.coalesce(F.col("_rev"), F.lit(0))).cast("long")
            .alias("n_reciprocal"),
        )
        .filter(F.col("n_out") >= min_out)
        .select(
            "host", "n_out", "n_reciprocal",
            (F.col("n_reciprocal") / F.col("n_out"))
            .alias("reciprocity"),
        )
    )
