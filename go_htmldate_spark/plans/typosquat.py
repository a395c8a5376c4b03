"""Typosquat / look-alike host detection against a protected brand set.

Crawl-waste armor for domain squatting: hosts whose registrable-domain
CORE (the label left of the public suffix) sits within a small edit
distance of a high-value "brand" host's core are overwhelmingly
registrar landers, ad parks, or phishing shells — Wang et al.'s
Strider Typo-Patrol (NDSS'06) and Szurdi et al. (USENIX Security'14,
"The Long 'Taile' of Typosquatting Domain Names") both measure the
bulk of near-miss registrations of popular cores as monetized squats.
A crawler that has host-ranked its corpus (plans/hostgraph) already
owns the brand list: the top-ranked registrable domains.  This module
flags the near-miss hosts so the budget layer can demote them the same
way it demotes parked/soft-404/mirror hosts.

Two squat shapes are covered by ONE distance law on the core:

* **typo squat** — core within ``max_dist`` edits of a brand core on a
  different registrable domain (``gogle.com`` vs ``google.com``);
* **TLD squat** — identical core, different public suffix
  (``google.net`` vs ``google.com``): core distance 0, registrable
  domains differ, so it falls out of the same filter.

Scale shape (the part that matters at 10^7 hosts x 10^4 brands): a
naive host x brand cross join is 10^11 comparisons.  Instead the brand
side — kilobytes — is EXPLODED over the core-length band
``[len(core)-d, len(core)+d]`` (2d+1 rows per brand, still kilobytes)
and BROADCAST; the host side joins map-only on its own exact core
length, so each host row meets only the brands whose core length is
reachable within d edits (levenshtein distance >= length difference).
The big side never shuffles, never sorts; the per-pair
``levenshtein(core, brand_core, d)`` runs threshold-capped inside
whole-stage codegen (early exit past d edits).  ``min_core_len``
drops short cores whose distance-1 neighborhoods are dense noise
('a.com' is one edit from every single-letter core).

Reference: no analog (go-htmldate has no frontier); extends the
crawl-waste family of plans/parked.py, plans/mirrors.py.  PSL core
extraction reuses plans/psl.registrable_or_host.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .psl import MINI_PSL, registrable_or_host


def _core_of(reg):
    """First label of a registrable domain — the part squatters vary."""
    return F.substring_index(reg, ".", 1)


# ASCII confusable folds (the IDN-free subset of UTS #39 skeletons +
# the classic bigram look-alikes measured by Holgers et al., USENIX
# ATC'06): digits that read as letters, and letter PAIRS that render
# as one glyph in sans-serif ("rn" ~ "m", "vv" ~ "w", "cl" ~ "d").
# Bigram folds run FIRST (greedy left-to-right, like skeletons), then
# the single-char translate.
_CONFUSABLE_PAIRS = (("rn", "m"), ("vv", "w"), ("cl", "d"))
_CONFUSABLE_FROM = "013457"  # 0→o 1→l 3→e 4→a 5→s 7→t
_CONFUSABLE_TO = "oleast"


def confusable_skeleton(core):
    """Fold a host core onto its look-alike skeleton so 'g00gle',
    'paypa1' and 'rnicrosoft' land at edit distance 0-1 of their
    targets instead of 2+. Pure column algebra (chained replace +
    translate), map-only."""
    s = core
    for a, b in _CONFUSABLE_PAIRS:
        s = F.replace(s, F.lit(a), F.lit(b))
    return F.translate(s, _CONFUSABLE_FROM, _CONFUSABLE_TO)


def typosquat_pairs(
    hosts: DataFrame,
    brands: DataFrame,
    max_dist: int = 1,
    min_core_len: int = 4,
    rules=MINI_PSL,
    host_col: str = "host",
    brand_col: str = "brand",
    skeleton: bool = False,
) -> DataFrame:
    """Flag hosts whose registrable core is within ``max_dist`` edits
    of a brand core, excluding hosts ON the brand's own registrable
    domain (every real subdomain of the brand maps to the same
    registrable domain and is filtered by ``host_reg != brand_reg``).

    ``hosts`` is one row per observed host (O(hosts), not O(urls));
    ``brands`` is the small protected list.  Returns one row per
    (host, matching brand): (host, host_reg, brand_reg, core_dist),
    core_dist 0 = TLD squat, 1..max_dist = typo squat.

    Plan: brand side exploded over the (2*max_dist+1)-wide core-length
    band and broadcast; host side map-only (core + length derivation,
    equi-join on length, threshold-capped levenshtein filter) — the
    host table never shuffles.

    With ``skeleton=True`` both cores fold onto their ASCII confusable
    skeleton first ('g00gle' → 'google', 'rnicrosoft' → 'microsoft'),
    so homoglyph squats land inside the distance radius; the length
    band and the reported core_dist are then in skeleton space.
    """
    d = int(max_dist)
    fold = confusable_skeleton if skeleton else (lambda c: c)
    h = hosts.select(
        F.col(host_col).alias("host"),
        registrable_or_host(F.col(host_col), rules).alias("host_reg"),
    ).withColumn("host_core", fold(_core_of(F.col("host_reg"))))
    h = h.filter(F.length("host_core") >= F.lit(int(min_core_len)))
    h = h.withColumn("core_len", F.length("host_core"))

    b = brands.select(
        registrable_or_host(F.col(brand_col), rules).alias("brand_reg")
    ).distinct()
    b = b.withColumn("brand_core", fold(_core_of(F.col("brand_reg"))))
    b = b.select(
        "brand_reg",
        "brand_core",
        F.explode(
            F.sequence(
                F.greatest(F.length("brand_core") - d, F.lit(1)),
                F.length("brand_core") + d,
            )
        ).alias("core_len"),
    )

    dist = F.levenshtein(F.col("host_core"), F.col("brand_core"), d)
    return (
        h.join(F.broadcast(b), "core_len")
        .withColumn("core_dist", dist)
        .filter(
            (F.col("core_dist") >= 0)
            & (F.col("core_dist") <= d)
            & (F.col("host_reg") != F.col("brand_reg"))
        )
        .select("host", "host_reg", "brand_reg", "core_dist")
    )


def typosquat_demotion(
    pairs: DataFrame, demoted_budget: float = 0.0
) -> DataFrame:
    """Pair rows → (host, politeness_budget) in the crawl job's
    min-merge currency (same shape as parked/soft-404/mirror
    demotion: the cautious source wins at the merge)."""
    return (
        pairs.select("host")
        .distinct()
        .withColumn("politeness_budget", F.lit(float(demoted_budget)))
    )
