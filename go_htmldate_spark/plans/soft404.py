"""Soft-404 detection: error pages served with HTTP 200.

A tier crawl wastes budget and poisons the corpus on hosts that answer
every dead URL with a friendly "page not found" page and status 200 —
the crawler keeps scheduling them and the curation pipeline ingests
thousands of identical stubs. Bar-Yossef/Broder/Kumar/Tomkins (WWW'04,
"Sic transit gloria telae") measured ~29% of dead links hiding behind
such soft 404s and detected them by probing a random sibling URL and
comparing content; the batch-pipeline equivalent over an already
fetched corpus is the two-signal version implemented here:

1. per-page heuristics (map-only, whole-stage codegen): an
   error-phrase match in the leading text plus a body too small to be
   an article — each alone is common on legitimate pages, the
   conjunction is the soft-404 shape;
2. host error-template detection (the corpus-level analog of the
   probe): a host serving byte-identical SMALL content under many
   distinct URLs is echoing one template — exactly what the WWW'04
   probe observes when the random sibling comes back equal. Grouping
   is on (host, md5(content)) so page bytes never shuffle, mirroring
   the mirror-host and DUST passes.

The signals stay separate columns so a scheduler can demote the host
(many templates ⇒ aggressive rewriter) rather than just skip the page.

Reference: no analog (go-htmldate extracts dates from whatever page it
is handed); this is crawl-waste armor for the frontier tier, same
family as plans/traps.py and plans/mirrors.py.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .canonical import url_host

# the phrase list is deliberately short and high-precision: these are
# template strings, not prose; matched case-insensitively against the
# leading window of the page text
ERROR_PHRASES = (
    "page not found",
    "404 not found",
    "error 404",
    "404 error",
    "file not found",
    "page does not exist",
    "page no longer available",
    "page you requested was not found",
)

_ERR_RX = "(?i)(" + "|".join(p.replace(" ", "\\s+") for p in ERROR_PHRASES) + ")"


def soft404_signal_flags(
    df: DataFrame,
    url_col: str = "url",
    text_col: str = "text",
    max_tokens: int = 40,
    head_chars: int = 400,
    min_template_urls: int = 5,
) -> DataFrame:
    """Soft-404 signals of a fetched-pages frame, one row per page:
    (url, err_phrase, tiny_body, template_err, soft404).

      err_phrase    — error phrase in the first `head_chars` chars
      tiny_body     — whitespace-token count <= max_tokens
      template_err  — the page's (host, md5(text)) group spans
                      >= min_template_urls distinct urls AND is tiny
      soft404       — (err_phrase AND tiny_body) OR template_err

    The per-page regex/md5 chain runs ONCE into a narrow
    ~100-byte/row barrier that both the probe and template branches
    read, instead of each branch re-scanning the page text. The
    template pass shuffles only (host, 16-byte md5, url) triples; page
    text never enters an exchange."""
    # null text reads as empty: otherwise every flag is null and the
    # host roll-up's sum(soft404) skips the page against a count(*)
    # that includes it
    txt = F.coalesce(F.col(text_col), F.lit(""))
    head = F.substring(txt, 1, head_chars)
    # rlike short-circuits on the first hit (the phrase alternation
    # cannot match empty)
    err = head.rlike(_ERR_RX)
    # token count via split-size (regexp_count was A/B'd slower here —
    # per-match regex overhead beats one split pass, see parked.py)
    ntok = F.size(F.split(F.trim(txt), r"\s+"))
    tiny = ntok <= F.lit(int(max_tokens))
    signals = df.select(
        F.col(url_col),
        err.alias("err_phrase"),
        tiny.alias("tiny_body"),
        url_host(F.col(url_col)).alias("_host"),
        F.when(tiny, F.md5(txt)).alias("_sig"),
    )
    if not signals.isStreaming:
        signals = signals.localCheckpoint(eager=False)
    templates = (
        signals.filter(F.col("tiny_body"))
        .groupBy("_host", "_sig")
        .agg(F.countDistinct(url_col).alias("_n_urls"))
        .filter(F.col("_n_urls") >= F.lit(int(min_template_urls)))
        .select("_host", "_sig", F.lit(True).alias("template_err"))
    )
    return (
        signals.join(templates, ["_host", "_sig"], "left")
        .select(
            F.col(url_col),
            "err_phrase",
            "tiny_body",
            F.coalesce(F.col("template_err"), F.lit(False))
            .alias("template_err"),
        )
        .withColumn(
            "soft404",
            (F.col("err_phrase") & F.col("tiny_body"))
            | F.col("template_err"),
        )
    )


def soft404_host_stats(
    df: DataFrame,
    url_col: str = "url",
    text_col: str = "text",
    **kw,
) -> DataFrame:
    """Per-host soft-404 rate: (host, n_pages, n_soft404, soft404_frac).

    The host-level roll-up of soft404_signal_flags — the WWW'04 observation is
    per-HOST behavior (a server that soft-404s one dead URL soft-404s
    them all), so the scheduler acts on the host rate, not the page.
    One extra host-keyed exchange over the flags output; O(hosts) rows
    out — broadcast-size at any corpus scale, like every budget table."""
    flags = soft404_signal_flags(df, url_col=url_col, text_col=text_col, **kw)
    s4 = F.col("soft404").cast("int")
    return flags.groupBy(url_host(F.col(url_col)).alias("host")).agg(
        F.count(F.lit(1)).cast("long").alias("n_pages"),
        F.sum(s4).cast("long").alias("n_soft404"),
        F.round(F.sum(s4) / F.count(F.lit(1)), 6).alias("soft404_frac"),
    )


def soft404_demotion(
    stats: DataFrame,
    threshold: float = 0.5,
    min_pages: int = 20,
    demoted_budget: float = 0.0,
) -> DataFrame:
    """soft404_host_stats output → (host, politeness_budget) demotion
    rows for the scheduler's budget table: hosts whose soft-404 rate
    reaches `threshold` over at least `min_pages` observed pages stop
    being scheduled (budget 0.0 floors to 0 fetches/round). Merges
    under the regular budget table exactly like mirror_demotion and
    host_backoff — min per host, the cautious source wins
    (jobs/crawl_job.py merge_budgets)."""
    return (
        stats.filter(
            (F.col("soft404_frac") >= F.lit(float(threshold)))
            & (F.col("n_pages") >= F.lit(int(min_pages)))
        )
        .select("host")
        .withColumn("politeness_budget", F.lit(float(demoted_budget)))
    )

