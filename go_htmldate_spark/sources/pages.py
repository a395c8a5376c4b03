"""Deterministic synthetic Common-Crawl-shaped corpus.

Generates the `pages` table prescribed by BASELINE.json input_hint:
(url string, warc_ts timestamp, html binary, text string, lang string).

Generation is 100% native Spark (spark.range → xxhash64-derived
pseudo-randomness → concat'd HTML templates), so it's seed-stable,
embarrassingly parallel, and scales to any row count without Python in
the loop. Each page plants one known date through a chosen cascade
stage; the planted stage/date are returned alongside as golden columns
for correctness checks.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

# stage ids → which cascade stage carries the planted date
STAGES = [
    "url",            # 0: date only in the URL path
    "meta_published", # 1: <meta property="article:published_time">
    "meta_modified",  # 2: <meta property="og:updated_time"> (+published)
    "jsonld",         # 3: JSON-LD datePublished/dateModified
    "time_tag",       # 4: <time datetime=...>
    "abbr",           # 5: <abbr class="published" title=...>
    "div_class",      # 6: <div class="post-date">D.M.YYYY</div>
    "idio",           # 7: "Last updated: D/M/YY" free text
    "copyright",      # 8: © YYYY only (approximate date)
    "none",           # 9: no date anywhere
]

LANGS = ["en", "de", "fr", "tr", "id"]

_FILLER = (
    "lorem ipsum dolor sit amet consectetur adipiscing elit sed do eiusmod "
    "tempor incididunt ut labore et dolore magna aliqua"
)


def _h(seed: int, *cols: Column) -> Column:
    """Stable per-row hash stream n (xxhash64 is seedable via literal)."""
    return F.abs(F.xxhash64(F.lit(seed), *cols))


def _date_parts(planted: Column):
    y = F.year(planted).cast("string")
    m2 = F.lpad(F.month(planted).cast("string"), 2, "0")
    d2 = F.lpad(F.dayofmonth(planted).cast("string"), 2, "0")
    iso = F.concat_ws("-", y, m2, d2)
    dotted = F.concat_ws(".", d2, m2, y)
    return y, m2, d2, iso, dotted


def _head_extra(stage: Column, planted: Column) -> Column:
    y, m2, d2, iso, dotted = _date_parts(planted)
    return (
        F.when(stage == "meta_published",
               F.concat(F.lit('<meta property="article:published_time" content="'),
                        iso, F.lit('T08:30:00+00:00"/>')))
        .when(stage == "meta_modified",
              F.concat(F.lit('<meta property="og:updated_time" content="'), iso,
                       F.lit('T10:00:00Z"/><meta property="article:published_time" content="'),
                       F.date_format(F.date_sub(planted, 7), "yyyy-MM-dd"),
                       F.lit('T08:00:00Z"/>')))
        .when(stage == "jsonld",
              F.concat(F.lit('<script type="application/ld+json">{"@type":"NewsArticle","datePublished":"'),
                       iso, F.lit('T06:00:00+00:00","dateModified":"'), iso,
                       F.lit('T09:00:00+00:00"}</script>')))
        .otherwise(F.lit(""))
    )


def _body_extra(stage: Column, planted: Column) -> Column:
    y, m2, d2, iso, dotted = _date_parts(planted)
    return (
        F.when(stage == "time_tag",
               F.concat(F.lit('<time class="entry-date" datetime="'), iso,
                        F.lit('T12:00:00+00:00">'), iso, F.lit("</time>")))
        .when(stage == "abbr",
              F.concat(F.lit('<abbr class="published" title="'), iso,
                       F.lit('">posted</abbr>')))
        .when(stage == "div_class",
              F.concat(F.lit('<div class="post-date">'), dotted, F.lit("</div>")))
        .when(stage == "idio",
              F.concat(F.lit("<p><em>Last updated: "), dotted, F.lit("</em></p>")))
        .when(stage == "copyright",
              F.concat(F.lit("<footer>© "), y, F.lit(" Example Corp</footer>")))
        .otherwise(F.lit(""))
    )


def _expected_date(stage: Column, planted: Column, original: bool = False) -> Column:
    y, m2, d2, iso, dotted = _date_parts(planted)
    e = F.when(stage == "copyright", F.concat(y, F.lit("-01-01")))
    if original:
        e = e.when(
            stage == "meta_modified",
            F.date_format(F.date_sub(planted, 7), "yyyy-MM-dd"),
        )
    return e.when(stage != "none", iso).otherwise(F.lit(""))


def _page_html(title: Column, filler: Column, stage: Column, planted: Column) -> Column:
    return F.concat(
        F.lit("<!doctype html><html><head><title>"), title, F.lit("</title>"),
        _head_extra(stage, planted),
        F.lit('</head><body><h1>'), title, F.lit("</h1><p>"), filler, F.lit("</p>"),
        _body_extra(stage, planted),
        F.lit("<p>"), filler, F.lit("</p></body></html>"),
    )


def _host_expr(i: Column, seed: int, n_hosts: int, heavy_host_share: int) -> Column:
    h3 = _h(seed + 2, i)
    host_id = F.when(
        F.lit(heavy_host_share > 0) & (h3 % 100 < F.lit(heavy_host_share)),
        F.lit(0),
    ).otherwise(h3 % F.lit(n_hosts))
    return F.concat(F.lit("site"), host_id.cast("string"), F.lit(".example.org"))


def _url_expr(i: Column, seed: int, n_hosts: int, heavy_host_share: int) -> Column:
    """URL for page id `i` — reusable for outlink targets (the whole URL
    universe is a pure function of the id)."""
    h1 = _h(seed, i)
    h2 = _h(seed + 1, i)
    host = _host_expr(i, seed, n_hosts, heavy_host_share)
    planted = F.date_add(F.to_date(F.lit("2000-01-01")), (h2 % 9000).cast("int"))
    y = F.year(planted).cast("string")
    m2 = F.lpad(F.month(planted).cast("string"), 2, "0")
    d2 = F.lpad(F.dayofmonth(planted).cast("string"), 2, "0")
    stage_id = (h1 % F.lit(len(STAGES))).cast("int")
    stage = F.element_at(F.array(*[F.lit(s) for s in STAGES]), stage_id + 1)
    slug = F.concat(F.lit("article-"), i.cast("string"))
    return F.when(
        stage == "url",
        F.concat(F.lit("https://"), host, F.lit("/"), y, F.lit("/"), m2,
                 F.lit("/"), d2, F.lit("/"), slug),
    ).otherwise(F.concat(F.lit("https://"), host, F.lit("/posts/"), slug))


def synth_pages(
    spark: SparkSession,
    n_rows: int,
    seed: int = 42,
    n_hosts: int | None = None,
    heavy_host_share: int = 0,
    partitions: int | None = None,
    n_outlinks: int = 4,
    filler_repeats: int = 1,
) -> DataFrame:
    """Build the synthetic corpus.

    heavy_host_share: percentage (0-90) of rows funneled onto host 0 to
    synthesize a heavy-tail host for skew tests [north-rule].
    Each page carries `n_outlinks` deterministic outlinks into the same
    URL universe (hash-derived target ids), so crawl rounds discover
    real, fetchable URLs.
    """
    n_hosts = n_hosts or max(16, n_rows // 64)
    df = spark.range(0, n_rows, 1, partitions or spark.sparkContext.defaultParallelism)
    i = F.col("id")

    h1 = _h(seed, i)
    h2 = _h(seed + 1, i)

    host = _host_expr(i, seed, n_hosts, heavy_host_share)

    # planted date in [2000-01-01, ~2024] — deterministic per row
    planted = F.date_add(F.to_date(F.lit("2000-01-01")), (h2 % 9000).cast("int"))
    y, m2, d2, iso, dotted = _date_parts(planted)

    stage_id = (h1 % F.lit(len(STAGES))).cast("int")
    stage = F.element_at(F.array(*[F.lit(s) for s in STAGES]), stage_id + 1)

    url = _url_expr(i, seed, n_hosts, heavy_host_share)

    outlinks = F.transform(
        F.sequence(F.lit(0), F.lit(n_outlinks - 1)),
        lambda j: _url_expr(
            _h(seed + 7, i, j) % F.lit(n_rows), seed, n_hosts, heavy_host_share
        ),
    )

    lang = F.element_at(
        F.array(*[F.lit(x) for x in LANGS]), (h2 % len(LANGS)).cast("int") + 1
    )

    # 5-digit article number: a bare 4-digit id (e.g. 2003) would be a
    # legitimate bare-year hit for the extensive search on "none" pages
    title = F.concat(F.lit("Article "), (i + 50000).cast("string"))
    # filler_repeats sizes pages toward realistic crawl payloads: a page
    # is ~0.4k chars at r=1 and ~4.0k at r=16 (~0.25k per repeat)
    filler = F.lit(" ".join([_FILLER] * filler_repeats))

    text = F.concat_ws(" ", title, filler, F.when(stage != "none", iso).otherwise(F.lit("")))

    html = _page_html(title, filler, stage, planted)

    warc_ts = F.to_timestamp(F.lit("2024-06-01 00:00:00")) + F.make_interval(
        secs=(h1 % 86400).cast("double")
    )

    return df.select(
        url.alias("url"),
        warc_ts.alias("warc_ts"),
        F.encode(html, "UTF-8").alias("html"),
        text.alias("text"),
        lang.alias("lang"),
        outlinks.alias("outlinks"),
        # golden columns (drop for realistic-pipeline runs)
        stage.alias("planted_stage"),
        _expected_date(stage, planted).alias("expected_date"),
        # original-date flavor: meta_modified pages plant published = planted-7d
        _expected_date(stage, planted, original=True).alias("expected_date_original"),
        host.alias("host"),
    )


def synth_pages_arith(spark: SparkSession, n_rows: int) -> DataFrame:
    """Oracle-checkable corpus variant: identical page templates to
    synth_pages, but every golden column is a pure-ARITHMETIC function of
    the row id (no xxhash64), so a DuckDB oracle can recompute the
    planted stage and expected date independently:

        stage_id   = id % 10                    (STAGES order)
        day_offset = (id * 2654435761) % 9000   (planted = 2000-01-01 + off)
        host_id    = id % 13

    This makes the full extraction cascade hard-gateable: Spark runs the
    real cascade over the HTML; the oracle derives what it must return."""
    df = spark.range(0, n_rows, 1, spark.sparkContext.defaultParallelism)
    i = F.col("id")

    stage_id = (i % 10).cast("int")
    stage = F.element_at(F.array(*[F.lit(s) for s in STAGES]), stage_id + 1)
    planted = F.date_add(
        F.to_date(F.lit("2000-01-01")), ((i * F.lit(2654435761)) % 9000).cast("int")
    )
    y, m2, d2, iso, dotted = _date_parts(planted)
    host = F.concat(F.lit("site"), (i % 13).cast("string"), F.lit(".example.org"))
    slug = F.concat(F.lit("article-"), i.cast("string"))
    url = F.when(
        stage == "url",
        F.concat(F.lit("https://"), host, F.lit("/"), y, F.lit("/"), m2,
                 F.lit("/"), d2, F.lit("/"), slug),
    ).otherwise(F.concat(F.lit("https://"), host, F.lit("/posts/"), slug))

    title = F.concat(F.lit("Article "), (i + 50000).cast("string"))
    filler = F.lit(_FILLER)
    text = F.concat_ws(" ", title, filler, F.when(stage != "none", iso).otherwise(F.lit("")))

    return df.select(
        i.alias("page_id"),
        url.alias("url"),
        F.to_timestamp(F.lit("2024-06-01 00:00:00")).alias("warc_ts"),
        F.encode(_page_html(title, filler, stage, planted), "UTF-8").alias("html"),
        text.alias("text"),
        F.lit("en").alias("lang"),
        stage.alias("planted_stage"),
        _expected_date(stage, planted).alias("expected_date"),
        host.alias("host"),
    )


def synth_pages_time(spark: SparkSession, n_rows: int) -> DataFrame:
    """Arithmetic corpus for hard-gating the TIME/TIMEZONE fields
    (core.go:111-125, findTime/parseTimezoneCode — reference pins
    core_test.go:716-777): every planted wall time and tz offset is a
    pure function of the row id, so a DuckDB oracle derives the full
    (date, datetime, has_time, has_tz, tz_offset) tuple the cascade
    must return with Options(extract_time=True).

        sid       = id % 5   (meta_published, jsonld, time_tag,
                              div_class, url)
        hh/mm/ss  = id%24, (id*7)%60, (id*13)%60
        tzid      = id % 4   ('+02:00' 7200, 'Z' 0, '-05:30' -19800,
                              '+00:00' 0)

    Time-carrying stages: meta_published (content time) and jsonld
    (dateModified time — the default-options pick).  time_tag carries a
    datetime attr but the cascade extracts the element TEXT (no time),
    and div_class/url never had one — planted has_time=false coverage.
    """
    df = spark.range(0, n_rows, 1, spark.sparkContext.defaultParallelism)
    i = F.col("id")

    sid = (i % 5).cast("int")
    planted = F.date_add(
        F.to_date(F.lit("2000-01-01")), ((i * F.lit(2654435761)) % 9000).cast("int")
    )
    y, m2, d2, iso, dotted = _date_parts(planted)
    hh = F.lpad((i % 24).cast("string"), 2, "0")
    mm = F.lpad(((i * 7) % 60).cast("string"), 2, "0")
    ss = F.lpad(((i * 13) % 60).cast("string"), 2, "0")
    wall = F.concat_ws(":", hh, mm, ss)
    tz = F.element_at(
        F.array(F.lit("+02:00"), F.lit("Z"), F.lit("-05:30"), F.lit("+00:00")),
        (i % 4).cast("int") + 1,
    )

    host = F.concat(F.lit("site"), (i % 13).cast("string"), F.lit(".example.org"))
    slug = F.concat(F.lit("article-"), i.cast("string"))
    url = F.when(
        sid == 4,
        F.concat(F.lit("https://"), host, F.lit("/"), y, F.lit("/"), m2,
                 F.lit("/"), d2, F.lit("/"), slug),
    ).otherwise(F.concat(F.lit("https://"), host, F.lit("/posts/"), slug))
    title = F.concat(F.lit("Article "), (i + 90000).cast("string"))
    filler = F.lit(_FILLER)

    head_extra = (
        F.when(sid == 0,
               F.concat(F.lit('<meta property="article:published_time" content="'),
                        iso, F.lit("T"), wall, tz, F.lit('"/>')))
        .when(sid == 1,
              F.concat(F.lit('<script type="application/ld+json">'
                             '{"@type":"NewsArticle","datePublished":"'),
                       iso, F.lit('T06:00:00'), tz,
                       F.lit('","dateModified":"'), iso, F.lit("T"), wall, tz,
                       F.lit('"}</script>')))
        .otherwise(F.lit(""))
    )
    body_extra = (
        F.when(sid == 2,
               F.concat(F.lit('<time class="entry-date" datetime="'), iso,
                        F.lit("T"), wall, tz, F.lit('">'), iso, F.lit("</time>")))
        .when(sid == 3,
              F.concat(F.lit('<div class="post-date">'), dotted, F.lit("</div>")))
        .otherwise(F.lit(""))
    )
    html = F.concat(
        F.lit("<!doctype html><html><head><title>"), title, F.lit("</title>"),
        head_extra,
        F.lit("</head><body><h1>"), title, F.lit("</h1><p>"), filler,
        F.lit("</p>"), body_extra, F.lit("<p>"), filler,
        F.lit("</p></body></html>"),
    )

    stage = F.element_at(
        F.array(F.lit("meta_published"), F.lit("jsonld"), F.lit("time_tag"),
                F.lit("div_class"), F.lit("url")),
        sid + 1,
    )
    return df.select(
        i.alias("page_id"),
        url.alias("url"),
        F.encode(html, "UTF-8").alias("html"),
        stage.alias("planted_stage"),
    )
