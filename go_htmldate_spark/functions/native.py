"""Native (JVM/Catalyst) column expressions for engine-side stages.

These mirror kernels from dateparse.py as whole-stage-codegen'd Spark
expressions so Catalyst can run them without Python. Used for the
staged fast path (URL dates resolve engine-side; the expensive pandas
UDF only sees unresolved rows — SURVEY.md §4.1).
"""

from __future__ import annotations

from datetime import date

from pyspark.sql import Column
from pyspark.sql import functions as F

# Java-regex translation of the reference URL-date pattern
# (/root/reference/constant.go:79-80)
RX_COMPLETE_URL_JAVA = (
    r"[^0-9](199[0-9]|20[0-3][0-9])[/_-]([0-1]?[0-9])[/_-]([0-3]?[0-9])(?:[^0-9]|$)"
)


def url_date(url: Column, min_date: date, max_date: date) -> Column:
    """extractUrlDate (extractors.go:50-69) as a pure Catalyst expression.

    try_to_date supplies Gregorian validity (leap years, month lengths);
    the year range comes from the regex itself."""
    y = F.regexp_extract(url, RX_COMPLETE_URL_JAVA, 1)
    m = F.regexp_extract(url, RX_COMPLETE_URL_JAVA, 2)
    d = F.regexp_extract(url, RX_COMPLETE_URL_JAVA, 3)
    candidate = F.try_to_date(F.concat_ws("-", y, m, d), "y-M-d")
    return F.when(
        (y != "")
        & candidate.isNotNull()
        & candidate.between(F.lit(min_date), F.lit(max_date)),
        candidate,
    )


def normalize_spaces_col(s: Column) -> Column:
    """normalizeSpaces (utils.go:144-147) engine-side."""
    return F.trim(F.regexp_replace(s, r"\s+", " "))


def correct_year_col(y: Column) -> Column:
    """2-digit year completion (extractors.go:429-439)."""
    return F.when(y < 100, F.when(y >= 90, y + 1900).otherwise(y + 2000)).otherwise(y)
