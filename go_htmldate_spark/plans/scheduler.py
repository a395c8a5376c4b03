"""Crawl frontier + date-aware fetch scheduler [north-rule].

Batch round loop over snapshot-versioned Parquet state (an
Iceberg-snapshot layout stand-in — no Iceberg runtime jars in this
sandbox; the semantics: every round is fully resumable from its
snapshot directory, with per-partition lineage in a manifest).

Round r:
  1. candidates   = pending frontier entries
  2. URL-seen     = bloom pre-filter (definitely-new skips the join)
                    + exact left-anti join backstop on url_hash
  3. robots       = broadcast join per host, longest-prefix rule
  4. priority     = politeness_budget(host) × recency(parent page date)
  5. politeness   = per-host top-k (k = floor(budget)), salted two-phase
                    rank for heavy hosts (exact: per-salt top-k ⊇ host top-k)
  6. fetch        = join the pages corpus on url (the sandbox "network"),
                    run the staged date-extraction engine
  7. discovery    = explode outlinks → canonicalize → hash → new pending
  8. state update = seen ∪ fetched∪missing; blooms merged; frontier =
                    (pending ∖ scheduled) ∪ discovered (max-priority dedup)

Ordering within a round is fully deterministic: (priority DESC, url ASC).
The single-threaded oracle (plans/oracle.py) implements the same spec;
tests assert identical per-round fetch lists and final URL-seen sets.
"""

from __future__ import annotations

import glob
import json
import os
import time
from dataclasses import dataclass

from pyspark.sql import DataFrame, Observation, SparkSession, Window
from pyspark.sql import functions as F

from .bloom import build_blooms, merge_blooms, probe_blooms, probe_blooms_cogrouped
from .canonical import canonicalize_url, url_hash, url_host, url_path

REF_DATE = "2024-06-01"

# Rows per file of a URL-seen delta or compaction: 4 Mi 8-byte hashes,
# ~32 MB of parquet. The seen set is only ever scanned whole (the exact
# anti-join, bloom rebuilds, compaction), so the read cost of a segment
# is its file count; a round's ~1k-row delta is one file.
SEEN_ROWS_PER_FILE = 4 << 20


def _seen_files(n_rows: int) -> int:
    """File count for a seen segment of n_rows hashes (at least one)."""
    return max(1, -(-n_rows // SEEN_ROWS_PER_FILE))


@dataclass
class CrawlConfig:
    n_bloom_partitions: int = 16
    bloom_bits: int = 1 << 20
    salt_threshold: int = 10_000   # pending-per-host above which we salt
    n_salts: int = 8
    default_budget: float = 2.0
    no_date_recency: float = 0.1
    # below this seen-set size the bloom pre-filter costs more jobs than
    # the exact anti-join it would skip; it's rebuilt from `seen` once the
    # threshold is crossed (the filter is advisory, never correctness)
    bloom_min_seen: int = 50_000
    # total bloom state bytes (P × m/8) above which the probe switches
    # from driver-collect+broadcast to the cogrouped shuffle path that
    # never moves state through the driver (10^10-URL scale)
    bloom_broadcast_max_bytes: int = 64 << 20
    # politeness wall-clock a round represents: robots crawl_delay caps a
    # host's per-round fetches at floor(round_seconds / crawl_delay)
    round_seconds: float = 60.0
    # "broadcast": stream the full-payload corpus, hash-probe the small
    # scheduled side (corpus html never shuffles — the 100 TB-safe shape).
    # "bucketed": the corpus is a table bucketed on url_canon
    # (write_bucketed_corpus) — for rounds that schedule more rows than
    # fit in a broadcast. Any other value raises (fetch_join).
    fetch_join: str = "broadcast"
    # The URL-seen pre-filter is the partitioned bloom family
    # (plans/bloom.py, n_bloom_partitions × bloom_bits); it is advisory —
    # the exact anti-join backstop owns correctness.
    # URL-seen state maintenance: each round appends ONLY that round's
    # scheduled hashes as a flat (unpartitioned) parquet delta of
    # ceil(rows / SEEN_ROWS_PER_FILE) files (write volume O(new), not
    # O(total seen) — at 10^10 URLs a full rewrite per round is the
    # scale killer); every seen_compact_every rounds the chain is
    # compacted into one flat table to bound read fan-in.  Deltas are
    # disjoint by construction (scheduled ⊆ candidates, which were
    # anti-joined against seen), so no distinct() is ever needed.
    seen_compact_every: int = 8
    # crawl-trap guard (plans/traps.py): when on, discovered outlinks
    # that look like infinite URL spaces — depth caps, Heritrix-style
    # consecutive path-segment repeats, query cross products,
    # session-id minting — never enter the frontier. Map-only gate on
    # the discovery stream (zero exchanges, zero Python).
    trap_guard: bool = False
    trap_max_depth: int = 16
    trap_max_params: int = 8
    trap_min_repeat: int = 3
    # page-level robots compliance (plans/metarobots.py): when on, a
    # fetched page whose own `<meta name="robots">` says nofollow (or
    # none) contributes NO outlinks to discovery — the page-side layer
    # of the exclusion protocol robots.txt can't express. Map-only
    # predicate on rows the fetch stage already holds in memory; the
    # discovery stream's shape is unchanged. robots_agent additionally
    # honors the crawler's own named meta (<meta name="<agent>">), the
    # spec's per-bot channel, in union with the generic robots meta.
    respect_nofollow: bool = False
    robots_agent: str | None = None
    # per-IP politeness (Heritrix "queue by IP"): virtual hosts that
    # resolve to one server share a fetch cap. 0 = off. Applied AFTER
    # the per-host top-k, so the IP window's input is already bounded
    # at Σ floor(budget) per host — never the raw frontier.
    ip_budget: int = 0
    # per-SITE politeness (registrable-domain grouping, plans/psl.py):
    # one site's shards (www/img1/img2 of example.com) share
    # site_budget fetches/round while platform tenants (*.github.io)
    # stay separate. 0 = off. Applied AFTER the per-host top-k, same
    # bounded-input shape as the per-IP cap; the grouping key is a
    # compiled map-only InSet expression — no DNS-style side table.
    site_budget: int = 0
    psl_rules: tuple = ()  # () = plans/psl.MINI_PSL; pass the full PSL
    # starvation guard: additive per-round priority boost for frontier
    # URLs that lost the politeness race (0 = off). Bounds the wait of
    # any URL on a busy host at ~(p_max - p_0)/aging rounds.
    aging: float = 0.0
    # blocklists at or under this many entries collect to the driver
    # once and apply as map-only InSet probes (no joins, no per-round
    # broadcast builds); larger lists use per-depth broadcast joins.
    # ~20k domains x ~20 B ships ~400 KB in the stage's task binary.
    blocklist_inset_max: int = 20_000
    # OPIC on-line importance (plans/opic.py, active when the scheduler
    # is given an opic_state): the [lo, hi] budget range the live
    # cash+history rank log-maps onto after every round's sweep.
    opic_lo: float = 1.0
    opic_hi: float = 8.0


def recency_score(date_col):
    """1/(1 + age_years); pages without a date get a fixed low score.
    Same IEEE double arithmetic as the oracle's Python implementation."""
    age_days = F.greatest(
        F.lit(0), F.datediff(F.lit(REF_DATE).cast("date"), date_col.cast("date"))
    )
    return F.when(
        date_col.isNotNull() & (date_col != ""),
        F.lit(1.0) / (F.lit(1.0) + age_days.cast("double") / F.lit(365.0)),
    ).otherwise(F.lit(CrawlConfig.no_date_recency))


def fetch_join(corpus: DataFrame, sched_keys: DataFrame, mode: str = "broadcast") -> DataFrame:
    """Join the scheduled URLs against the page corpus (the 'network').

    broadcast: stream the full-payload corpus and hash-probe the small
    scheduled side — the corpus html never shuffles (at 100 TB a
    corpus-side Exchange is the scale-killer; test_plan_shape pins its
    absence). bucketed: the corpus is a table bucketed+sorted on
    url_canon (write_bucketed_corpus) — only the scheduled side is
    exchanged/sorted to the bucket count, the corpus scans in place;
    the right shape when a round schedules more rows than fit in a
    broadcast. Any other mode raises ValueError."""
    if mode == "broadcast":
        return corpus.join(
            F.broadcast(sched_keys), sched_keys["url"] == corpus["url_canon"], "inner"
        )
    if mode == "bucketed":
        # plain equi-join: Catalyst reads the bucket metadata and plans
        # the corpus side exchange-free (sorted buckets ⇒ no sort either)
        return corpus.join(
            sched_keys, sched_keys["url"] == corpus["url_canon"], "inner"
        )
    raise ValueError(
        f"fetch_join mode {mode!r}: expected 'broadcast' or 'bucketed'"
    )


def min_budgets(a: DataFrame | None, b: DataFrame) -> DataFrame:
    """Per-host min across two (host, politeness_budget) tables — the
    cautious source (demotion, backoff) always wins. The ONE merge law
    for budget sources: jobs/crawl_job.py folds its demotion tables
    with it and the per-round OPIC refresh reuses it. Host-cardinality
    groupBy; broadcast-size output."""
    if a is None:
        return b.select("host", "politeness_budget")
    return (
        a.select("host", "politeness_budget")
        .unionByName(b.select("host", "politeness_budget"))
        .groupBy("host")
        .agg(F.min("politeness_budget").alias("politeness_budget"))
    )


def write_bucketed_corpus(
    pages: DataFrame, table: str, n_buckets: int, path: str | None = None
) -> None:
    """Persist the pages corpus as a parquet table bucketed AND sorted on
    url_canon — the at-scale fetch substrate: every round's fetch join
    then shuffles only the scheduled side (see fetch_join 'bucketed')."""
    with_canon = pages if "url_canon" in pages.columns else pages.withColumn(
        "url_canon", canonicalize_url(F.col("url"))
    )
    writer = (
        with_canon.write.bucketBy(n_buckets, "url_canon")
        .sortBy("url_canon")
        .mode("overwrite")
        .format("parquet")
    )
    if path:
        writer = writer.option("path", path)
    writer.saveAsTable(table)


def robots_allowed(path_col, rules_col):
    """Longest-prefix rule wins; length ties prefer allow; no match ⇒
    allow. Native lambda expressions only."""
    matched = F.filter(
        rules_col, lambda r: path_col.startswith(r["path_prefix"])
    )
    best = F.array_max(
        F.transform(
            matched,
            lambda r: F.struct(
                F.length(r["path_prefix"]).alias("l"),
                r["allow"].cast("int").alias("a"),
            ),
        )
    )
    return best.isNull() | (best["a"] == 1)


class CrawlScheduler:
    def __init__(
        self,
        spark: SparkSession,
        pages: DataFrame,
        robots: DataFrame | None,
        host_budget: DataFrame | None,
        state_dir: str,
        config: CrawlConfig = CrawlConfig(),
        blocklist: DataFrame | None = None,
        redirects: DataFrame | None = None,
        dust: DataFrame | None = None,
        host_ip: DataFrame | None = None,
        opic_state: DataFrame | None = None,
        yield_table: DataFrame | None = None,
        url_suppress: DataFrame | None = None,
    ) -> None:
        self.spark = spark
        self.config = config
        self.state_dir = state_dir
        # the fetchable universe, keyed by canonical url. A corpus that
        # already carries url_canon (e.g. a bucketed table written by
        # write_bucketed_corpus) is used as-is — recomputing the column
        # would discard the table's bucketing metadata
        if "url_canon" in pages.columns:
            self.pages = pages
        else:
            self.pages = pages.withColumn(
                "url_canon", canonicalize_url(F.col("url"))
            )
        self.robots = robots
        self.host_budget = host_budget
        # UT1-style domain blocklist (a 'domain' column): discovered
        # URLs on blocked hosts never enter the frontier. Applied as
        # per-depth broadcast joins (operators/curation) — the
        # discovery stream never shuffles for it.
        # the blocklist is static for the crawl's lifetime: clean it
        # (lower+trim+distinct) and self-tune the label depth ONCE here
        # instead of paying a blocking driver agg + a distinct per
        # round on the discovery critical path
        self.blocklist = None
        self._blocklist_depth: int | None = None
        # size switch: a list that fits blocklist_inset_max collects to
        # the driver ONCE and compiles into map-only InSet probes
        # (operators/curation.blocklist_inset_keep) — zero joins and
        # zero per-round broadcast builds on the discovery stream.
        # Bigger lists keep the per-depth broadcast joins.
        self._blocklist_sets: dict[int, list[str]] | None = None
        if blocklist is not None:
            from go_htmldate_spark.operators.curation import (
                clean_blocklist,
                collect_blocklist_sets,
            )

            domain_col = "domain" if "domain" in blocklist.columns else blocklist.columns[0]
            cleaned = clean_blocklist(blocklist, domain_col).cache()
            row = cleaned.agg(
                F.max(F.size(F.split(F.col("domain"), r"\."))).alias("d"),
                F.count(F.lit(1)).alias("n"),
            ).head()
            self._blocklist_depth = int(row["d"] or 1)
            if int(row["n"]) <= config.blocklist_inset_max:
                self._blocklist_sets = collect_blocklist_sets(cleaned)
                cleaned.unpersist()
            else:
                self.blocklist = cleaned
        # resolve_redirects output (url, target, resolved) over
        # CANONICAL urls: discovered outlinks map through terminal
        # targets before hashing; cycle members never enter the frontier
        self.redirects = redirects
        # dust_rules output (alpha, beta, support): the bounded rule
        # list is collected ONCE here and compiled into a map-only
        # chained-when (plans/dust.py) — discovered outlinks rewrite to
        # their DUST-canonical form before redirects/hashing, so alias
        # families (session-ids, /index.html, print views) occupy one
        # frontier slot instead of one per spelling
        self._dust_rules: list | None = None
        if dust is not None:
            from go_htmldate_spark.plans.dust import collect_top_rules

            self._dust_rules = collect_top_rules(dust)
        if self._dust_rules and self.redirects is not None:
            # composition: discovered URLs are dust-rewritten BEFORE
            # apply_redirects, so the redirect map's keys and targets
            # must live in the same dust-canonical spelling or the
            # join misses every src dust rewrites and targets seed the
            # frontier under a second spelling. Rewritten rows can
            # collide; min(resolved) is the conservative merge (any
            # colliding cycle member keeps the whole key dropped),
            # min(target) the deterministic one.
            from go_htmldate_spark.plans.dust import dust_rewrite_exprs

            r_url, _ = dust_rewrite_exprs(F.col("url"), self._dust_rules)
            r_tgt, _ = dust_rewrite_exprs(F.col("target"), self._dust_rules)
            self.redirects = (
                self.redirects.select(
                    r_url.alias("url"),
                    r_tgt.alias("target"),
                    F.col("resolved"),
                )
                .filter(
                    F.col("target").isNull()  # keep cycle markers
                    | (F.col("url") != F.col("target"))
                )
                .groupBy("url")
                .agg(
                    F.min("target").alias("target"),
                    F.min("resolved").alias("resolved"),
                )
            )
        if self.redirects is not None:
            # the redirect map is joined into EVERY round's discovery
            # stream; without a snapshot its lineage (the O(log n)
            # pointer-doubling iterations + the dust re-key above)
            # replays per round. Parquet under state_dir (not .cache())
            # so the map survives at web scale without executor-memory
            # pressure and the one-time cost lands at init, like the
            # seen-state chain.
            rdir = os.path.join(self.state_dir, "redirect_map")
            self.redirects.write.mode("overwrite").parquet(rdir)
            self.redirects = spark.read.parquet(rdir)
        # URL-level suppress list (a 'url' column in CANONICAL form):
        # discovered outlinks on it never enter the frontier. The
        # currency for page-granular waste the host/domain tables
        # can't express — deep pagination tails, cyclic rel=next
        # members (plans/pagination.deep_page_demotion). One left-anti
        # join on the discovery stream per round; Catalyst/AQE
        # broadcasts it while it's small (the redirects convention).
        # Seeds are exempt, like every discovery-side gate.
        self.url_suppress = (
            url_suppress.select(
                canonicalize_url(F.col("url")).alias("url")
            ).distinct()
            if url_suppress is not None
            else None
        )
        if self.url_suppress is not None and self._dust_rules:
            # same composition rule as the redirect map: the discovery
            # stream is dust-rewritten before this gate, so the
            # suppress keys must live in dust-canonical spelling
            from go_htmldate_spark.plans.dust import dust_rewrite_exprs

            s_url, _ = dust_rewrite_exprs(F.col("url"), self._dust_rules)
            self.url_suppress = self.url_suppress.select(
                s_url.alias("url")
            ).distinct()
        # (host, ip) DNS-cache table for per-IP politeness
        # (config.ip_budget). A real DNS cache holds several A records
        # per host; the left join in step 5.5 would then DUPLICATE
        # scheduled rows (one per record, each rank-1 in its own IP
        # partition — double fetches, non-disjoint seen deltas), so the
        # table is reduced to one deterministic primary IP per host
        # (lexicographic min) here. One row per host — broadcast-size
        # like the budget table. Unmapped hosts are their own "ip".
        self.host_ip = (
            host_ip.groupBy("host").agg(F.min("ip").alias("ip"))
            if host_ip is not None
            else None
        )
        # OPIC on-line importance (plans/opic.py): when a cold-start
        # state is given, every round sweeps it — the round's FETCHED
        # hosts spend their cash over the round's OBSERVED out-link
        # edges (Abiteboul WWW'03's online property: no batch job over
        # the full graph, ever) — and the politeness budget refreshes
        # as min(static sources, live OPIC rank→budget). Both the state
        # and the static budget table snapshot to parquet here so the
        # per-round refresh replays a scan, not their build lineage.
        self._opic_state: DataFrame | None = None
        self._budget_static = self.host_budget
        if opic_state is not None:
            from .opic import opic_budgets

            self._snapshot_budget_static()
            odir = os.path.join(self.state_dir, "opic_init")
            opic_state.write.mode("overwrite").parquet(odir)
            self._opic_state = spark.read.parquet(odir)
            self.host_budget = min_budgets(
                self._budget_static,
                opic_budgets(self._opic_state, config.opic_lo, config.opic_hi),
            )
        # URL-pattern yield prior (plans/yield_prior.py): when given a
        # learned (signature, yield) table, each round's ORDERING uses
        # priority x yield(signature(url)) — a per-round broadcast-join
        # view over the frontier; the frontier STATE keeps base
        # priorities (the gate is evidence, not state: re-learning the
        # table between cycles re-ranks everything with no state
        # migration). Unseen patterns fall back to the Beta(a,a) prior
        # mean 0.5 — the same default as apply_yield_prior.
        self._yield_table: DataFrame | None = None
        if yield_table is not None:
            self._yield_table = yield_table.select("signature", "yield").cache()
        self._has_delay = (
            self.robots is not None and "crawl_delay" in self.robots.columns
        )
        self._host_dim: DataFrame | None = None
        self._rebuild_host_dim()
        self.round = 0
        self.frontier: DataFrame | None = None
        self.seen: DataFrame | None = None
        self.blooms: DataFrame | None = None

    def _snapshot_budget_static(self) -> None:
        """Pin the static budget table to parquet under state_dir so
        every per-round OPIC budget refresh replays a scan instead of
        the table's build lineage (the pagerank + demotion merge chain
        can be arbitrarily deep). Overwrites any earlier snapshot: the
        constructor's table is authoritative — a resume may carry
        refreshed demotion sources. One write per construction/resume,
        never per round."""
        if self._budget_static is None:
            return
        bdir = os.path.join(self.state_dir, "budget_static")
        self._budget_static.select(
            "host", "politeness_budget"
        ).write.mode("overwrite").parquet(bdir)
        self._budget_static = self.spark.read.parquet(bdir)

    def _rebuild_host_dim(self) -> None:
        """(Re)build the one host-DIMENSION table: robots rules,
        politeness budget and primary IP are all keyed by host, so they
        merge (full outer) into a single per-host table — each round
        then pays ONE broadcast build for steps 3/4/5.5 instead of
        three. The table is host-cardinality (broadcast-size by
        construction) and cached so the merge itself is paid once per
        (re)build — at init, and after every online OPIC budget refresh
        (the stale cache is dropped first)."""
        if self._host_dim is not None:
            self._host_dim.unpersist()
        dim = None
        if self.robots is not None:
            cols = ["host", "rules"] + (
                ["crawl_delay"] if self._has_delay else []
            )
            dim = self.robots.select(*cols)
        if self.host_budget is not None:
            b = self.host_budget.select("host", "politeness_budget")
            dim = b if dim is None else dim.join(b, "host", "full_outer")
        if self.host_ip is not None:
            dim = (
                self.host_ip
                if dim is None
                else dim.join(self.host_ip, "host", "full_outer")
            )
        self._host_dim = dim.cache() if dim is not None else None

    # -- state bootstrap ---------------------------------------------------
    def init_from_seeds(self, seeds: DataFrame) -> None:
        """seeds(url, priority)"""
        canon = seeds.select(
            canonicalize_url(F.col("url")).alias("url"), F.col("priority")
        )
        self.frontier = (
            canon.select(
                "url",
                url_hash(F.col("url")).alias("url_hash"),
                url_host(F.col("url")).alias("host"),
                F.col("priority").cast("double").alias("priority"),
            )
            .groupBy("url", "url_hash", "host")
            .agg(F.max("priority").alias("priority"))
            # co-partition by hash from the start: seed lists often arrive
            # as a single-partition LIMIT, which would serialize round 0
            .repartition(
                self.spark.sparkContext.defaultParallelism, "url_hash"
            )
        )
        self.seen = self.spark.createDataFrame([], "url_hash long")
        self.blooms = build_blooms(
            self.seen, self.config.n_bloom_partitions, self.config.bloom_bits
        )
        self._seen_count = 0
        self._seen_chain: list[str] = []  # relative dirs under state_dir
        self.round = 0

    def _seen_from_chain(self, chain: list[str]) -> DataFrame:
        """The URL-seen set as the union of its delta/compact segments
        (flat parquet of one long column, SEEN_ROWS_PER_FILE rows per
        file; write volume per round was O(new)). Snapshots written in
        the older layout, partitioned by a hash bucket column `b`, read
        the same way: partition discovery adds `b` and the projection
        drops it."""
        if not chain:
            return self.spark.createDataFrame([], "url_hash long")
        from functools import reduce

        dfs = [
            self.spark.read.parquet(
                os.path.join(self.state_dir, rel)
            ).select("url_hash")
            for rel in chain
        ]
        return reduce(DataFrame.unionByName, dfs)

    # -- resume ------------------------------------------------------------
    def resume(self, round: int | None = None) -> int:
        """Load a complete snapshot — the latest by default, or an
        explicit earlier `round` (snapshot time travel: every round dir
        is self-contained, so re-crawling from round r replays exactly
        the crawl an uninterrupted run would have produced from there).
        Returns the next round number."""
        rounds = []
        for name in os.listdir(self.state_dir):
            mf = os.path.join(self.state_dir, name, "manifest.json")
            if name.startswith("round_") and os.path.exists(mf):
                rounds.append(int(name.split("_")[1]))
        if not rounds:
            raise FileNotFoundError(f"no snapshots under {self.state_dir}")
        if round is not None:
            if round not in rounds:
                raise FileNotFoundError(
                    f"no complete snapshot for round {round} under {self.state_dir}"
                )
            r = round
        else:
            r = max(rounds)
        if round is not None:
            # Explicit time travel abandons the old timeline: mark every
            # later snapshot superseded (manifest renamed, data kept for
            # audit) so a crash before the replay overwrites them can't
            # make a later argless resume() mix two crawl histories.
            for later in rounds:
                if later > r:
                    mf = os.path.join(
                        self.state_dir, f"round_{later}", "manifest.json"
                    )
                    os.replace(mf, mf + ".superseded")
        base = os.path.join(self.state_dir, f"round_{r}")
        self.frontier = self.spark.read.parquet(f"{base}/frontier")
        self.blooms = self.spark.read.parquet(f"{base}/blooms")
        with open(f"{base}/manifest.json") as f:
            manifest = json.load(f)
        self._seen_count = manifest["n_seen"]
        # delta-chain layout (manifest lists the segments); legacy
        # snapshots fall back to the monolithic round_r/seen table
        self._seen_chain = manifest.get("seen_chain", [f"round_{r}/seen"])
        self.seen = self._seen_from_chain(self._seen_chain)
        # online OPIC state rides the snapshot: the resumed round's
        # swept state if it exists, else the cold-start init table
        # (a resume into round 0 of an OPIC-enabled crawl)
        for odir in (f"{base}/opic", os.path.join(self.state_dir, "opic_init")):
            if os.path.exists(odir):
                from .opic import opic_budgets

                self._snapshot_budget_static()
                self._opic_state = self.spark.read.parquet(odir)
                self.host_budget = min_budgets(
                    self._budget_static,
                    opic_budgets(
                        self._opic_state,
                        self.config.opic_lo, self.config.opic_hi,
                    ),
                )
                self._rebuild_host_dim()
                break
        self.round = r + 1
        return self.round

    # -- one round ---------------------------------------------------------
    def run_round(self) -> dict:
        cfg = self.config
        t0 = time.time()

        pending = self.frontier
        if self._yield_table is not None:
            # yield-prior gate: ordering priority = base x learned
            # pattern yield (map-only signature + broadcast join — the
            # frontier never shuffles); _base_priority rides through to
            # the leftover path so the frontier state stays in base
            # currency, mirroring the oracle's law exactly.
            from .yield_prior import url_pattern_signature

            pending = (
                pending.withColumn(
                    "signature", url_pattern_signature(F.col("url"))
                )
                .join(F.broadcast(self._yield_table), "signature", "left")
                .withColumn("_base_priority", F.col("priority"))
                .withColumn(
                    "priority",
                    F.col("priority")
                    * F.coalesce(F.col("yield"), F.lit(0.5)),
                )
                .drop("signature", "yield")
            )

        # 2. URL-seen: bloom pre-filter (once the seen set is big
        # enough to be worth it), exact anti-join backstop either way.
        # The bloom probe variant is picked by state size: small states
        # broadcast from the driver; past bloom_broadcast_max_bytes the
        # cogrouped path keeps all shards executor-side (the driver never
        # holds P × m/8 bytes).
        if self._seen_count >= cfg.bloom_min_seen:
            probe = (
                probe_blooms_cogrouped
                if cfg.n_bloom_partitions * (cfg.bloom_bits // 8)
                > cfg.bloom_broadcast_max_bytes
                else probe_blooms
            )
            probed = probe(
                pending, self.blooms, cfg.n_bloom_partitions, cfg.bloom_bits
            )
            definitely_new = probed.filter(~F.col("maybe_seen")).drop("maybe_seen")
            maybe = probed.filter(F.col("maybe_seen")).drop("maybe_seen")
            confirmed_new = maybe.join(self.seen, "url_hash", "left_anti")
            candidates = definitely_new.unionByName(confirmed_new)
        else:
            candidates = pending.join(self.seen, "url_hash", "left_anti")

        # 3-4. robots + politeness budget + (when per-IP politeness is
        # on) the primary IP, all from the ONE host-dimension broadcast
        # built at init; crawl_delay rides along to cap per-round
        # fetches below. One broadcast build per round, not three.
        has_delay = self._has_delay
        if self._host_dim is not None:
            candidates = candidates.join(
                F.broadcast(self._host_dim), "host", "left"
            )
            if self.robots is not None:
                candidates = candidates.filter(
                    F.col("rules").isNull()
                    | robots_allowed(url_path(F.col("url")), F.col("rules"))
                ).drop("rules")
            if self.host_ip is not None and cfg.ip_budget <= 0:
                candidates = candidates.drop("ip")

        # 4-5. per-host top-k. Heavy-host detection
        # (SURVEY §2.3): hosts whose pending count exceeds salt_threshold
        # get a salted two-phase rank (bounds any single task's sort);
        # everyone else ranks in one pass (salt 0 makes phase 1 the exact
        # per-host rank, so phase 2 is a no-op re-check on ≤k rows/host).
        if self.host_budget is not None:
            candidates = candidates.withColumn(
                "budget", F.coalesce("politeness_budget", F.lit(cfg.default_budget))
            ).drop("politeness_budget")
        else:
            candidates = candidates.withColumn("budget", F.lit(cfg.default_budget))

        k = F.floor(F.col("budget")).cast("int")
        if has_delay:
            # robots crawl_delay: a host serving one fetch per delay
            # seconds yields at most floor(round_seconds / delay) per round
            delay_cap = F.floor(
                F.lit(float(cfg.round_seconds)) / F.col("crawl_delay")
            ).cast("int")
            k = F.when(
                F.col("crawl_delay").isNotNull() & (F.col("crawl_delay") > 0),
                F.least(k, delay_cap),
            ).otherwise(k)
            candidates = candidates.withColumn("_k", k).drop("crawl_delay")
        else:
            candidates = candidates.withColumn("_k", k)

        heavy_hosts = (
            pending.groupBy("host")
            .agg(F.count(F.lit(1)).alias("_n_pending"))
            .filter(F.col("_n_pending") > cfg.salt_threshold)
            .select("host", F.lit(True).alias("_heavy"))
        )
        salt = F.when(
            F.col("_heavy").isNotNull(), F.pmod(F.col("url_hash"), F.lit(cfg.n_salts))
        ).otherwise(F.lit(0))
        w1 = Window.partitionBy("host", "salt").orderBy(
            F.desc("priority"), F.asc("url")
        )
        phase1 = (
            candidates.join(F.broadcast(heavy_hosts), "host", "left")
            .withColumn("salt", salt)
            .withColumn("r1", F.row_number().over(w1))
            .filter(F.col("r1") <= F.col("_k"))  # per-salt top-k ⊇ host top-k
        )
        # phase 2: exact top-k per host over the salted heads
        w2 = Window.partitionBy("host").orderBy(F.desc("priority"), F.asc("url"))
        scheduled = (
            phase1.withColumn("r2", F.row_number().over(w2))
            .filter(F.col("r2") <= F.col("_k"))
            .drop("r1", "r2", "salt", "budget", "_k", "_heavy")
        )
        if cfg.ip_budget > 0:
            # 5.5: per-IP cap (Heritrix queue-by-IP) — virtual hosts on
            # one server share cfg.ip_budget fetches/round. The window's
            # input is the per-host top-k OUTPUT (≤ Σ floor(budget) per
            # host), so even a 10^5-vhost IP ranks a bounded set, not
            # the frontier. Unmapped hosts are their own "ip". The ip
            # column rode in on the host-dimension join above (no
            # second broadcast); without a DNS table it's NULL.
            if self.host_ip is None:
                scheduled = scheduled.withColumn("ip", F.lit(None).cast("string"))
            w3 = Window.partitionBy(
                F.coalesce(F.col("ip"), F.col("host"))
            ).orderBy(F.desc("priority"), F.asc("url"))
            scheduled = (
                scheduled.withColumn("r3", F.row_number().over(w3))
                .filter(F.col("r3") <= cfg.ip_budget)
                .drop("r3", "ip")
            )
        if cfg.site_budget > 0:
            # 5.6: per-site cap — hosts sharing a registrable domain
            # (publicsuffix.org grouping) share cfg.site_budget
            # fetches/round. Same bounded-input argument as 5.5: the
            # window ranks the per-host top-k OUTPUT, never the raw
            # frontier, and the grouping key is map-only compiled
            # InSet algebra (plans/psl.py) — no side table, no join.
            from .psl import MINI_PSL, registrable_or_host

            rules = cfg.psl_rules or MINI_PSL
            w4 = Window.partitionBy(
                registrable_or_host(F.col("host"), rules)
            ).orderBy(F.desc("priority"), F.asc("url"))
            scheduled = (
                scheduled.withColumn("r4", F.row_number().over(w4))
                .filter(F.col("r4") <= cfg.site_budget)
                .drop("r4")
            )
        scheduled = scheduled.cache()  # feeds fetch, seen update, leftover anti-join, manifest

        # 6. fetch + extract
        from ..operators.extract import extract_dates
        from ..options import Options

        corpus = self.pages.select("url_canon", "html", "outlinks")
        sched_keys = scheduled.select("url", "url_hash", "host", "priority")
        fetched = fetch_join(corpus, sched_keys, cfg.fetch_join)
        # repartition before the UDF: AQE sizes post-join partitions by
        # bytes, but extraction cost is per-row CPU — without this the
        # Python stage runs on a handful of coalesced partitions.
        # Adaptive to the round's actual size (r06): a 200-URL politeness
        # round otherwise fans into 64 Arrow tasks of 3 rows each, paying
        # ~60 worker round-trips for nothing. Most of a round-trip's cost
        # was the worker re-reading pyspark.zip's directory at each task
        # start, which workerimport.py now skips (0.1-0.2 ms instead of
        # 0.1-0.3 s); fewer tasks still save the rest. scheduled is
        # cached, so the count is a cache scan (and warms the cache ahead
        # of the concurrent writes below). Row placement does not affect
        # any per-row result.
        n_sched_now = scheduled.count()
        t_sched = time.time()
        n_part = max(
            1,
            min(
                self.spark.sparkContext.defaultParallelism * 2,
                (n_sched_now + 63) // 64,
            ),
        )
        extracted = extract_dates(
            fetched.select(
                "url", "url_hash", "host", "priority", "html", "outlinks"
            ).repartition(n_part),
            Options(skip_extensive_search=True),
        ).cache()

        # 7. discovery
        link_source = extracted
        if cfg.respect_nofollow:
            from go_htmldate_spark.plans.metarobots import page_nofollow

            # the page said its links are not endorsements: it yields
            # no outlinks (its own fetch/extract result still counts)
            link_source = extracted.filter(
                ~page_nofollow(F.col("html"), cfg.robots_agent)
            )
        discovered = link_source.select(
            F.col("date").alias("parent_date"),
            F.explode("outlinks").alias("out_url"),
        ).select(
            canonicalize_url(F.col("out_url")).alias("url"),
            recency_score(F.col("parent_date")).alias("recency"),
        )
        if self._dust_rules:
            from go_htmldate_spark.plans.dust import dust_rewrite_exprs

            # alias spellings collapse to their DUST-canonical form —
            # a compiled chained-when, map-only, zero exchanges
            canonical, _ = dust_rewrite_exprs(F.col("url"), self._dust_rules)
            discovered = discovered.withColumn("url", canonical)
        if self.redirects is not None:
            from go_htmldate_spark.plans.redirects import apply_redirects

            # known redirect chains collapse to their terminal BEFORE
            # hashing/seen-filtering, so the frontier schedules the
            # target once instead of walking the chain a round per hop;
            # cycle members drop (plans/redirects.py)
            discovered = apply_redirects(discovered, self.redirects)
        if self.url_suppress is not None:
            # page-granular waste gate (deep pagination tails, cycle
            # members): suppressed URLs never enter the frontier.
            # Left-anti on the url key; AQE broadcasts the small side.
            discovered = discovered.join(
                self.url_suppress, "url", "left_anti"
            )
        discovered = discovered.select(
            "url",
            url_hash(F.col("url")).alias("url_hash"),
            url_host(F.col("url")).alias("host"),
            F.col("recency"),
        )
        if self._blocklist_sets is not None:
            from go_htmldate_spark.operators.curation import (
                blocklist_inset_keep,
            )

            discovered = discovered.filter(
                blocklist_inset_keep(F.col("host"), self._blocklist_sets)
            )
        elif self.blocklist is not None:
            from go_htmldate_spark.operators.curation import blocklist_filter

            discovered = blocklist_filter(
                discovered, self.blocklist, host_col="host",
                max_depth=self._blocklist_depth, assume_clean=True,
            )
        if cfg.trap_guard:
            from go_htmldate_spark.plans.traps import trap_filter

            discovered = trap_filter(
                discovered, url_col="url",
                max_depth=cfg.trap_max_depth,
                max_params=cfg.trap_max_params,
                min_repeat=cfg.trap_min_repeat,
            )
        if self.host_budget is not None:
            # the budget column of the cached host dimension, not the raw
            # budget table: a Python-local table would re-run its
            # PythonRDD scan every round. Unlisted hosts get the default.
            discovered = discovered.join(
                F.broadcast(self._host_dim.select("host", "politeness_budget")),
                "host", "left",
            ).withColumn(
                "budget", F.coalesce("politeness_budget", F.lit(cfg.default_budget))
            ).drop("politeness_budget")
        else:
            discovered = discovered.withColumn("budget", F.lit(cfg.default_budget))
        discovered = discovered.select(
            "url", "url_hash", "host",
            (F.col("budget") * F.col("recency")).alias("priority"),
        )

        # 8. state update + snapshot. Every count the manifest needs rides
        # as an Observation on a write (metrics are collected by the job
        # that writes the snapshot — zero extra Spark jobs), and frontier
        # per-partition lineage comes from the written parquet footers
        # (file-level stats, the Iceberg-manifest analog). Per round:
        # exactly 4 jobs — the 4 snapshot writes.
        obs_sched = Observation(f"scheduled_r{self.round}")
        obs_fetched = Observation(f"fetched_r{self.round}")
        scheduled_hashes = scheduled.select("url_hash").observe(
            obs_sched, F.count(F.lit(1)).alias("n")
        )
        # URL-seen delta: ONLY this round's scheduled hashes, as flat
        # parquet of _seen_files(n) files (every later round scans it
        # whole, so no partition column).  Deltas are disjoint by
        # construction (scheduled came out of the seen anti-join), so
        # seen == union of segments with no distinct(): per-round seen
        # write volume is O(new URLs), never O(total seen) — the
        # 10^10-URL-safe shape.
        seen_delta = scheduled_hashes.coalesce(_seen_files(n_sched_now))
        new_seen_hashes = self.seen.unionByName(
            scheduled_hashes.select("url_hash")
        )
        leftover = pending.join(scheduled_hashes, "url_hash", "left_anti")
        if self._yield_table is not None:
            # frontier state stays in base currency: the yield gate is
            # a per-round ordering view, never persisted priority
            leftover = leftover.withColumn(
                "priority", F.col("_base_priority")
            ).drop("_base_priority")
        if cfg.aging > 0:
            # starvation guard: a URL that lost this round's politeness
            # race re-enters the frontier with an additive boost, so
            # low-recency URLs on busy hosts are eventually scheduled
            # instead of being crowded out forever. Additive (not
            # multiplicative) so zero-priority URLs age too; applied
            # before the max-merge with fresh discoveries, exactly like
            # the oracle.
            leftover = leftover.withColumn(
                "priority", F.col("priority") + F.lit(float(cfg.aging))
            )
        new_frontier = (
            leftover.unionByName(discovered)
            .groupBy("url", "url_hash", "host")
            .agg(F.max("priority").alias("priority"))
            # drop anything already seen so the frontier stays bounded
            .join(new_seen_hashes, "url_hash", "left_anti")
        )
        base = os.path.join(self.state_dir, f"round_{self.round}")
        fetch_order = extracted.select("url", "priority", "date").orderBy(
            F.desc("priority"), F.asc("url")
        ).observe(obs_fetched, F.count(F.lit(1)).alias("n"))

        # fetched/frontier/seen-delta writes are independent: submit them
        # as concurrent Spark jobs (threads share the session's scheduler)
        from concurrent.futures import ThreadPoolExecutor

        writes = [
            (fetch_order, f"{base}/fetched"),
            (new_frontier, f"{base}/frontier"),
            (seen_delta, f"{base}/seen_delta"),
        ]

        def _write(w):
            df, path = w
            df.write.mode("overwrite").parquet(path)

        with ThreadPoolExecutor(3) as pool:
            list(pool.map(_write, writes))
        t_write = time.time()
        n_scheduled = int(obs_sched.get["n"])
        n_seen = self._seen_count + n_scheduled  # deltas are disjoint
        n_fetched = int(obs_fetched.get["n"])

        # chain maintenance + periodic compaction (amortizes the only
        # O(total) operation across seen_compact_every rounds) into one
        # flat table sized like a delta; empty rounds append nothing
        new_chain = list(self._seen_chain)
        if n_scheduled > 0:
            new_chain.append(f"round_{self.round}/seen_delta")
        if len(new_chain) > cfg.seen_compact_every:
            self._seen_from_chain(new_chain).coalesce(
                _seen_files(n_seen)
            ).write.mode("overwrite").parquet(f"{base}/seen_compact")
            new_chain = [f"round_{self.round}/seen_compact"]
        self._seen_chain = new_chain

        # Bloom maintenance is adaptive: below the threshold the state
        # stays empty (the exact anti-join covers dedup alone); when
        # crossing it, blooms rebuild from the FULL seen set once, then
        # merge incrementally per round. Decided after the seen write so
        # the exact n_scheduled is free from the observation.
        if n_seen >= cfg.bloom_min_seen:
            if self._seen_count < cfg.bloom_min_seen:
                new_blooms = build_blooms(  # first crossing: full rebuild
                    self._seen_from_chain(self._seen_chain),
                    cfg.n_bloom_partitions, cfg.bloom_bits,
                )
            else:
                new_blooms = merge_blooms(
                    self.blooms,
                    build_blooms(scheduled.select("url_hash"),
                                 cfg.n_bloom_partitions, cfg.bloom_bits),
                )
        else:
            new_blooms = self.blooms
        new_blooms.write.mode("overwrite").parquet(f"{base}/blooms")
        t_seen = time.time()

        # reload from snapshot: truncates lineage (no ever-growing plan)
        self.frontier = self.spark.read.parquet(f"{base}/frontier")
        self.seen = self._seen_from_chain(self._seen_chain)
        self.blooms = self.spark.read.parquet(f"{base}/blooms")
        t_reload = time.time()
        # per-phase wall from time.time() marks only (no extra Spark job)
        phase_ms = {
            "schedule": t_sched - t0,  # through scheduled.count()
            "fetch_extract_write": t_write - t_sched,
            "seen_bloom": t_seen - t_write,
            "reload": t_reload - t_seen,
        }

        if self._opic_state is not None:
            # online OPIC sweep: this round's fetched hosts spend their
            # cash over this round's observed out-link host edges; hosts
            # first seen this round join the state with zero cash (total
            # cash stays exactly n₀·unit — the conservation law the
            # tests pin). State snapshots per round (lineage cut, and
            # resume() reloads it); budgets for the NEXT round become
            # min(static sources, live rank→budget). One extra write
            # job + host-cardinality joins per round, only when enabled.
            from .opic import opic_budgets, opic_sweep

            # the prepared=True contract: deduped, self-loop-free,
            # non-empty endpoints ('' is url_host's result for
            # relative/malformed outlinks — those links don't exist in
            # the host graph). Hosts first seen this round auto-grow
            # into the state inside opic_sweep.
            round_edges = (
                extracted.select(
                    F.col("host").alias("src"),
                    F.explode("outlinks").alias("_o"),
                )
                .select(
                    "src",
                    url_host(canonicalize_url(F.col("_o"))).alias("dst"),
                )
                .filter(
                    (F.col("src") != "") & (F.col("dst") != "")
                    & (F.col("src") != F.col("dst"))
                )
                .distinct()
            )
            st = opic_sweep(
                self._opic_state, round_edges,
                crawled=extracted.select("host"), prepared=True,
            )
            st.write.mode("overwrite").parquet(f"{base}/opic")
            self._opic_state = self.spark.read.parquet(f"{base}/opic")
            self.host_budget = min_budgets(
                self._budget_static,
                opic_budgets(self._opic_state, cfg.opic_lo, cfg.opic_hi),
            )
            self._rebuild_host_dim()
            phase_ms["opic"] = time.time() - t_reload

        import pyarrow.parquet as pq

        part_stats = [
            {
                "partition_id": i,
                "file": os.path.basename(p),
                "rows": pq.ParquetFile(p).metadata.num_rows,
            }
            for i, p in enumerate(
                sorted(glob.glob(os.path.join(base, "frontier", "*.parquet")))
            )
        ]
        manifest = {
            "round": self.round,
            "n_scheduled": n_scheduled,
            "n_fetched": n_fetched,
            "n_missing": n_scheduled - n_fetched,
            "seen_chain": self._seen_chain,
            "n_frontier": sum(p["rows"] for p in part_stats),
            "n_seen": n_seen,
            "wall_ms": int((time.time() - t0) * 1000),
            "frontier_partitions": part_stats,
            "phase_ms": {k: int(v * 1000) for k, v in phase_ms.items()},
        }
        with open(f"{base}/manifest.json", "w") as f:
            json.dump(manifest, f)

        self._seen_count = manifest["n_seen"]
        extracted.unpersist()
        scheduled.unpersist()
        self.round += 1
        return manifest

    def run(self, n_rounds: int) -> list[dict]:
        out = []
        for _ in range(n_rounds):
            m = self.run_round()
            out.append(m)
            if m["n_scheduled"] == 0:
                break
        return out


def expire_snapshots(state_dir: str, keep_last: int = 2) -> dict:
    """Iceberg-style snapshot expiry over the versioned-parquet state
    layout: keep the newest `keep_last` complete snapshots fully
    resumable and delete everything older — EXCEPT seen-chain segments
    a kept manifest still references (the O(new) delta layout means
    round r's manifest can point into earlier round dirs, exactly like
    Iceberg manifests pointing at old data files). Superseded-timeline
    debris (manifest.json.superseded and its data) expires with its
    round. Time travel to an expired round then raises (no manifest),
    while resume()/time-travel within the kept window replays
    byte-identically — the state a 10^10-URL crawl cannot afford to
    retain forever is the frontier/bloom/fetched bulk, not the chain
    segments.

    Pure filesystem metadata work — no Spark session needed. Returns
    {"kept_rounds", "removed_rounds", "retained_partial",
    "kept_segments", "bytes_freed"}: removed_rounds lists expired
    rounds whose directory is fully gone; retained_partial lists
    expired rounds whose directory survives on disk because a kept
    manifest still references segments inside it (their bulk IS
    deleted and they are no longer resumable either way).
    """
    import shutil

    if keep_last < 1:
        raise ValueError("keep_last must be >= 1")

    complete = {}
    all_round_dirs = []
    for name in os.listdir(state_dir):
        if not name.startswith("round_"):
            continue
        all_round_dirs.append(name)
        mf = os.path.join(state_dir, name, "manifest.json")
        if os.path.exists(mf):
            complete[int(name.split("_")[1])] = mf
    kept_rounds = sorted(complete)[-keep_last:]

    referenced: set[str] = set()
    for r in kept_rounds:
        with open(complete[r]) as f:
            manifest = json.load(f)
        referenced.update(manifest.get("seen_chain", [f"round_{r}/seen"]))

    removed_rounds, retained_partial, kept_segments, freed = [], [], [], 0
    for name in sorted(all_round_dirs, key=lambda n: int(n.split("_")[1])):
        r = int(name.split("_")[1])
        if r in kept_rounds:
            continue
        base = os.path.join(state_dir, name)
        emptied = True
        for child in sorted(os.listdir(base)):
            rel = f"{name}/{child}"
            if rel in referenced:
                kept_segments.append(rel)
                emptied = False
                continue
            p = os.path.join(base, child)
            if os.path.isdir(p):
                freed += sum(
                    os.path.getsize(os.path.join(dp, fn))
                    for dp, _, fns in os.walk(p)
                    for fn in fns
                )
                shutil.rmtree(p)
            else:
                freed += os.path.getsize(p)
                os.remove(p)
        # honest accounting: a round whose dir survives because kept
        # manifests still reference segments inside it is EXPIRED (not
        # resumable — manifest gone) but not fully removed from disk
        if emptied:
            os.rmdir(base)
            removed_rounds.append(r)
        else:
            retained_partial.append(r)
    return {
        "kept_rounds": kept_rounds,
        "removed_rounds": removed_rounds,
        "retained_partial": retained_partial,
        "kept_segments": kept_segments,
        "bytes_freed": freed,
    }
