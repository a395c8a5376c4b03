"""The extraction operator: staged native fast path + Arrow-batched UDF.

Physical strategy (SURVEY.md §4.1): the URL-date stage — the first rung
of the reference cascade (core.go:138-144) — runs engine-side as a
whole-stage-codegen'd regexp, so pages whose URL already carries the
date never enter Python. Only unresolved rows reach the pandas UDF
(their html is nulled-in, not re-scanned: one parquet pass, no union
shuffle). This is a manual rewrite Catalyst cannot do itself because
UDFs are opaque to it.
"""

from __future__ import annotations

import re
from typing import Iterator

import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf
from pyspark.sql.types import (
    BooleanType,
    IntegerType,
    StringType,
    StructField,
    StructType,
)

from ..cascade import EMPTY_RESULT, from_html
from ..functions.native import normalize_spaces_col, url_date
from ..options import Options
from ..plans.canonical import url_host

RESULT_SCHEMA = StructType(
    [
        StructField("date", StringType()),          # 'yyyy-MM-dd' or ''
        StructField("datetime", StringType()),      # wall clock 'yyyy-MM-dd HH:mm:ss'
        StructField("has_time", BooleanType()),
        StructField("has_tz", BooleanType()),
        StructField("tz_offset", IntegerType()),    # seconds east of UTC
        StructField("src_string", StringType()),
    ]
)


def _result_row(res) -> tuple:
    return (
        res.date,
        res.wall_datetime.strftime("%Y-%m-%d %H:%M:%S") if res.wall_datetime else "",
        res.has_time,
        res.has_tz,
        res.tz_offset,
        res.src_string,
    )


_EMPTY_ROW = _result_row(EMPTY_RESULT)


# -- charset sniffing (WHATWG-style, real-crawl HTML is full of legacy
# encodings). The Go reference CLI feeds raw bytes straight to
# x/net/html (cmd/go-htmldate/main.go:112-137 → core.go:50 dom.Parse),
# i.e. assumes UTF-8 — sniffing is a strict extension for crawl
# robustness: valid UTF-8 decodes identically, so reference parity on
# the eval corpus is untouched.

_META_CHARSET = re.compile(
    rb"""charset\s*=\s*["']?\s*([a-zA-Z0-9_\-]+)""", re.I
)

# WHATWG encoding table highlights: legacy latin labels map to cp1252
_ENC_ALIASES = {
    "iso-8859-1": "cp1252", "latin-1": "cp1252", "latin1": "cp1252",
    "us-ascii": "cp1252", "ascii": "cp1252", "windows-1252": "cp1252",
    "iso-8859-9": "cp1254", "windows-1254": "cp1254",
    "utf8": "utf-8",
}


def sniff_decode(raw: bytes) -> str:
    """bytes → str: BOM, then <meta charset> within the first 1024 bytes
    (the HTML5 prescan), then strict UTF-8, then the WHATWG legacy-web
    fallback cp1252."""
    if raw[:3] == b"\xef\xbb\xbf":
        return raw[3:].decode("utf-8", "replace")
    if raw[:2] == b"\xff\xfe" or raw[:2] == b"\xfe\xff":
        return raw.decode("utf-16", "replace")
    m = _META_CHARSET.search(raw[:1024])
    if m:
        label = m.group(1).decode("ascii", "replace").lower()
        enc = _ENC_ALIASES.get(label, label)
        if enc not in ("utf-8",):
            try:
                return raw.decode(enc, "replace")
            except LookupError:
                pass  # unknown label: fall through to utf-8/cp1252
    try:
        return raw.decode("utf-8")
    except UnicodeDecodeError:
        return raw.decode("cp1252", "replace")


def make_extract_udf(opts: Options):
    """Build the flagship pandas UDF. Iterator-of-batches form amortizes
    per-batch setup; opts is closure-captured (shipped once per worker)."""
    opts = opts.with_defaults()

    @pandas_udf(RESULT_SCHEMA)
    def extract(
        it: Iterator[tuple[pd.Series, pd.Series]],
    ) -> Iterator[pd.DataFrame]:
        from ..gctune import GcPacer

        cols = list(RESULT_SCHEMA.fieldNames())
        # DOM trees are cyclic (parent links): pace the collector to one
        # gen-0 pass per 256 docs instead of ~1/page (gctune.py)
        with GcPacer() as pacer:
            for html_s, url_s in it:
                rows = []
                for html, url in zip(html_s, url_s):
                    if html is None:
                        rows.append(_EMPTY_ROW)  # engine-side resolved row
                        continue
                    if isinstance(html, (bytes, bytearray, memoryview)):
                        html = sniff_decode(bytes(html))
                    try:
                        res = from_html(html, opts.with_url(url or ""))
                    except Exception:
                        res = EMPTY_RESULT  # never fail a whole Arrow batch
                    pacer.tick()
                    rows.append(_result_row(res))
                yield pd.DataFrame(rows, columns=cols)

    # The extractor IS deterministic, but letting the optimizer treat it
    # as such makes any filter on its output duplicate the whole kernel
    # below the pushed-down predicate (guide §4.4): measured plan for
    # `extract_dates(...).filter("date = ...")` carried TWO
    # ArrowEvalPython nodes — every page paid the C-kernel cascade
    # twice. asNondeterministic forbids the copy; one evaluation, same
    # rows out.
    return extract.asNondeterministic()


# Java-regex translations of the findTime trigger patterns
# (constant.go:118-120 / functions/patterns.py RX_ISO_TIME, RX_TZ_CODE,
# RX_COMMON_TIME). Used only as a conservative COULD-MATCH gate: a URL
# matching none of them (and containing no whitespace, so the named-tz
# token scan sees one token that can never be an IANA name — every
# resolved URL carries a 4-digit year, no tz name does) provably makes
# findTime return not-found, so the row stays fully native even in time
# mode. Any possible match routes the row to the Python kernel, which
# runs the real consume-in-order findTime (core.go:273-350).
_J_ISO_TIME = (
    r"(?i)[0-9]{2}:[0-9]{2}(?::[0-9]{2}(?:\.[0-9]+)?)?"
    r"(?:Z|[+-][0-9]{2}(?::?[0-9]{2})?)"
)
_J_TZ_CODE = r"(?:^|[\t\n\f\r ])[-+][0-9]{2}"
_J_COMMON_TIME = r"(?i)(?:[^0-9]|^)[0-9]{1,2}(?::|\s*h\s*)[0-9]{1,2}"
# Python's \s (what normalize_spaces and the kernel regexes split on) is
# UNICODE whitespace; Java's \s is ASCII-only. The whitespace rejection
# must use the full Python set, else a URL with U+00A0/U+2000… between
# tokens would wrongly stay native while find_time sees split tokens
# (e.g. '7 h 08' is a French time to the kernel).
_J_ANY_WS = (
    "[\\s\\x1c-\\x1f\\x85\\u00a0\\u1680\\u2000-\\u200a"
    "\\u2028\\u2029\\u202f\\u205f\\u3000]"
)


def _url_time_free(url: Column) -> Column:
    """True when findTime(url) provably finds neither time nor tz."""
    return (
        ~url.rlike(_J_ANY_WS)
        & ~url.rlike(_J_ISO_TIME)
        & ~url.rlike(_J_TZ_CODE)
        & ~url.rlike(_J_COMMON_TIME)
    )


def extract_dates(
    pages: DataFrame,
    opts: Options = Options(),
    url_col: str = "url",
    html_col: str = "html",
    staged: bool = True,
) -> DataFrame:
    """pages(url, html, …) → + (date, datetime, has_time, has_tz,
    tz_offset, src_string), preserving all input columns."""
    opts = opts.with_defaults()
    udf = make_extract_udf(opts)
    url = F.col(url_col)

    # The native fast path replicates the URL stage only when it
    # short-circuits the whole cascade in the reference: URL present and
    # extractor not deferred (core.go:135-144). With extract_time=True
    # the reference additionally runs findTime on the URL srcString
    # (core.go:111-125); rows whose URL provably contains no time/tz
    # pattern stay native, the rest fall through to the kernel.
    use_fast_path = staged and not opts.defer_url_extractor

    if not use_fast_path:
        res = udf(F.col(html_col), url)
        return pages.withColumn("_r", res).select("*", "_r.*").drop("_r")

    u_date = url_date(url, opts.min_date, opts.max_date)
    resolved = u_date.isNotNull()
    if opts.extract_time:
        from pyspark.sql.types import BinaryType

        native_ok = resolved & _url_time_free(url)
        # URL-resolved rows that might carry a time still short-circuit
        # the DOM (find_date returns on the URL before parsing matters),
        # so ship EMPTY html, not the page bytes — the kernel re-derives
        # the URL date and runs the real findTime on the srcString. The
        # empty literal keeps the column's own type (binary html keeps
        # its charset-sniff path intact).
        is_bin = isinstance(pages.schema[html_col].dataType, BinaryType)
        empty = F.lit(b"" if is_bin else "")
        gated_html = (
            F.when(native_ok, F.lit(None))
            .when(resolved, empty)
            .otherwise(F.col(html_col))
        )
    else:
        native_ok = resolved
        gated_html = F.when(~resolved, F.col(html_col))  # NULL html for resolved rows
    res = udf(gated_html, url)

    native = F.struct(
        F.date_format(u_date, "yyyy-MM-dd").alias("date"),
        F.concat(F.date_format(u_date, "yyyy-MM-dd"), F.lit(" 00:00:00")).alias(
            "datetime"
        ),
        F.lit(False).alias("has_time"),
        F.lit(False).alias("has_tz"),
        F.lit(None).cast(IntegerType()).alias("tz_offset"),
        normalize_spaces_col(url).alias("src_string"),
    )

    combined = F.when(native_ok, native).otherwise(res)
    return pages.withColumn("_r", combined).select("*", "_r.*").drop("_r")


def host_fetch_rates(pages: DataFrame, window: str = "10 minutes",
                     watermark: str = "20 minutes",
                     opts: Options | None = None) -> DataFrame:
    """Event-time windowed per-host fetch/extraction rates with a
    watermark for late WARC records (crawl telemetry the politeness
    budget consumes). Works identically on a batch or streaming
    DataFrame — on a stream the watermark bounds window state: windows
    older than max(warc_ts) - watermark are finalized and dropped from
    the state store, and later-arriving rows for them are discarded
    (state is O(open windows × hosts), not O(history)).

    Shuffle shape: one hash partition on (window, host) — the same
    single-exchange aggregation whether batch or micro-batch."""
    dated = extract_dates(pages, opts or Options()).select(
        "url", "warc_ts", (F.col("date") != "").alias("dated")
    )
    return (
        dated.withWatermark("warc_ts", watermark)
        .groupBy(
            F.window("warc_ts", window).alias("win"),
            url_host(F.col("url")).alias("host"),
        )
        .agg(
            F.count("*").alias("n_fetched"),
            F.sum(F.col("dated").cast("long")).alias("n_dated"),
        )
        .select(
            F.col("win.start").alias("win_start"),
            F.col("win.end").alias("win_end"),
            "host", "n_fetched", "n_dated",
        )
    )
