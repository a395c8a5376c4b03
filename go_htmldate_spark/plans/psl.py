"""Registrable-domain (eTLD+1) extraction with Public Suffix List
semantics.

Politeness at the HOST level over-crawls multi-tenant platforms
(every *.blogspot.com subdomain is a different site, but the platform
is one server farm) and under-crawls sharded sites (img1/img2/www of
one registrable domain are one operator and should share one budget).
Crawlers therefore group politeness, seen-filters and per-site caps by
the registrable domain — the public suffix plus one label — using the
publicsuffix.org algorithm: among all rules whose labels match the
host's trailing labels ('*' matches exactly one label), an exception
rule ('!www.ck') prevails and names one label INTO the suffix (its
public suffix is the rule minus the leading label); otherwise the rule
with the most labels wins; unlisted TLDs fall to the implicit '*'
rule (suffix = last label).

The rule set compiles to map-only Catalyst algebra — per label-depth
`substring_index(host, '.', -d) IN (<set>)` probes (Catalyst InSet,
the same shape as curation.blocklist_inset_keep) folded with
greatest()/coalesce() — ZERO joins, zero broadcasts: the set ships
once per stage in the task binary, so at 100 TB this rides the URL
scan untouched.  The PSL itself is ~10k rules / ~200 KB — still
comfortably an InSet literal; `MINI_PSL` below is a deterministic
REPRESENTATIVE SUBSET for tests and the sandbox (the real list is a
runtime input: pass `rules=` with the full file's lines).

Reference: no analog in go-htmldate (it never groups by site);
publicsuffix.org/list/ documents the algorithm. Same compiled-literal
family as operators/curation.blocklist_inset_keep.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..operators.curation import host_suffix

# Representative subset of the public suffix list (publicsuffix.org),
# spanning every rule shape: plain TLDs, second-level registries,
# wildcard rules, an exception rule, and private-section platform
# suffixes. Deterministic and offline — swap in the full list at
# deploy time via the rules= parameter.
MINI_PSL: tuple[str, ...] = (
    # ICANN TLDs
    "com", "org", "net", "edu", "gov", "mil", "int", "info", "biz",
    "io", "co", "me", "app", "dev", "uk", "de", "fr", "jp", "au",
    "nz", "br", "us", "ca", "ch", "it", "nl", "se", "no", "es", "eu",
    "in", "cn", "ru", "ck", "bd",
    # second-level registries
    "co.uk", "org.uk", "ac.uk", "gov.uk", "net.uk", "sch.uk",
    "co.jp", "ne.jp", "or.jp", "ac.jp", "go.jp",
    "com.au", "net.au", "org.au", "edu.au", "gov.au",
    "co.nz", "net.nz", "org.nz",
    "com.br", "net.br", "org.br", "gov.br",
    "co.in", "com.cn", "net.cn", "org.cn",
    # wildcard + exception rules (the classic .ck pair)
    "*.ck", "!www.ck", "*.bd",
    # private-section platform suffixes
    "github.io", "blogspot.com", "herokuapp.com", "netlify.app",
    "vercel.app", "web.app", "firebaseapp.com", "pages.dev",
    "s3.amazonaws.com",
)


def _compile(rules) -> tuple[dict[int, list[str]], dict[int, list[str]],
                             dict[int, list[str]]]:
    """Split a rule list into (exact, wildcard-tails, exception)
    keyed by label depth of the FULL rule."""
    exact: dict[int, list[str]] = {}
    wild: dict[int, list[str]] = {}
    exc: dict[int, list[str]] = {}
    for raw in rules:
        r = raw.strip().lower()
        if not r or r.startswith("//"):
            continue
        if r.startswith("!"):
            body = r[1:]
            exc.setdefault(body.count(".") + 1, []).append(body)
        elif r.startswith("*."):
            tail = r[2:]
            wild.setdefault(tail.count(".") + 2, []).append(tail)
        else:
            exact.setdefault(r.count(".") + 1, []).append(r)
    return exact, wild, exc


def public_suffix_depth(host: Column, rules=MINI_PSL) -> Column:
    """Label count of the host's public suffix under `rules` —
    exception rules prevail (depth = rule depth - 1), else the
    deepest exact/wildcard match, else the implicit '*' (depth 1)."""
    exact, wild, exc = _compile(rules)
    h = F.lower(host)
    labels = F.size(F.split(h, r"\."))
    cands = [F.lit(1)]  # implicit * rule
    for d, doms in sorted(exact.items()):
        cands.append(F.when(host_suffix(h, d).isin(doms), d))
    for d, tails in sorted(wild.items()):
        cands.append(
            F.when((labels >= d) & host_suffix(h, d - 1).isin(tails), d)
        )
    depth = F.greatest(*cands) if len(cands) > 1 else cands[0]
    for d, doms in sorted(exc.items()):
        depth = F.when(host_suffix(h, d).isin(doms), d - 1).otherwise(depth)
    return depth


def _tail_labels(parts: Column, n: Column, k: Column) -> Column:
    """Last k dot-labels of a split host as a string (k is a Column —
    host_suffix() only takes literal depths)."""
    return F.array_join(F.slice(parts, n - k + 1, k), ".")


def registrable_domain_col(host: Column, rules=MINI_PSL) -> Column:
    """`registrable_domain` as a pure column expression (NULL when the
    host IS a public suffix)."""
    h = F.lower(host)
    parts = F.split(h, r"\.")
    labels = F.size(parts)
    d = public_suffix_depth(host, rules)
    return F.when(labels > d, _tail_labels(parts, labels, d + F.lit(1)))


def registrable_or_host(host: Column, rules=MINI_PSL) -> Column:
    """The politeness-grouping key: the registrable domain, falling
    back to the host itself for bare public suffixes."""
    return F.coalesce(registrable_domain_col(host, rules), F.lower(host))


def with_registrable(
    df: DataFrame, host_col: str = "host", rules=MINI_PSL
) -> DataFrame:
    """Add `public_suffix` and `registrable_domain` (NULL when the
    host IS a public suffix — such hosts have no registrant and no
    politeness identity of their own). Map-only, zero exchanges."""
    h = F.lower(F.col(host_col))
    parts = F.split(h, r"\.")
    labels = F.size(parts)
    d = public_suffix_depth(F.col(host_col), rules)
    return df.select(
        "*",
        _tail_labels(parts, labels, d).alias("public_suffix"),
        F.when(labels > d, _tail_labels(parts, labels, d + F.lit(1))).alias(
            "registrable_domain"
        ),
    )


def registrable_py(host: str, rules=MINI_PSL) -> str:
    """Single-threaded reference of the publicsuffix.org algorithm —
    the politeness-grouping key (registrable domain, or the host when
    it IS a public suffix). Used by the scheduler parity oracle
    (plans/oracle.py); the Spark column law must match it exactly."""
    labels = host.lower().split(".")

    def matches(rule: str) -> bool:
        rl = rule.split(".")
        if len(rl) > len(labels):
            return False
        return all(r == "*" or r == l
                   for r, l in zip(reversed(rl), reversed(labels)))

    depth = 1
    for raw in rules:
        r = raw.strip().lower()
        if not r or r.startswith("//") or r.startswith("!"):
            continue
        if matches(r):
            depth = max(depth, len(r.split(".")))
    for raw in rules:
        r = raw.strip().lower()
        if r.startswith("!") and matches(r[1:]):
            depth = len(r[1:].split(".")) - 1
    if len(labels) > depth:
        return ".".join(labels[-(depth + 1):])
    return ".".join(labels)

