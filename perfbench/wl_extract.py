"""`extract`: batch date extraction over a Parquet pages corpus.

Half the pages are ~1 KB (filler_repeats=1) and half ~16 KB
(filler_repeats=16), with synth_pages' default stage mix. One step is
one full pass: scan → native URL stage → Arrow → per-row loop → C DOM →
cascade, aggregated to (pages with a result, pages matching the planted
`expected_date_original`, pages) in the same job.
"""

from __future__ import annotations

import os
import statistics
import time
from typing import Iterator

import pandas as pd
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf

from go_htmldate_spark.cascade import from_html
from go_htmldate_spark.functions.native import url_date
from go_htmldate_spark.operators.extract import extract_dates, sniff_decode
from go_htmldate_spark.options import Options
from go_htmldate_spark.sources.pages import synth_pages

PAGES_PER_CLASS = 3000
SIZE_CLASSES = {"small": 1, "large": 16}  # class → filler_repeats
OPTS = Options(use_original_date=True)
N_FILES = 8
KERNEL_SAMPLE = 300  # pages per size class for the one-core kernel loop
# the first pass is cold (code generation, JIT) and can take most of
# --seconds; with three passes or more the median is a warm one
MIN_STEPS = 3


def setup(spark, data: str, seed: int) -> dict:
    path = os.path.join(data, "pages")
    parts = [
        synth_pages(spark, PAGES_PER_CLASS, seed=seed + i, filler_repeats=r)
        .withColumn("size_class", F.lit(name))
        for i, (name, r) in enumerate(SIZE_CLASSES.items())
    ]
    # round-robin the two classes into the same files, as a crawl's
    # output mixes page sizes; per-class files would leave the tasks
    # that hold the large pages to set every pass's wall
    parts[0].unionByName(parts[1]).repartition(N_FILES) \
        .write.mode("overwrite").parquet(path)
    return {"path": path}


def step(spark, state: dict, tracer) -> dict:
    pages = spark.read.parquet(state["path"])
    with tracer.span("extract.pass"):
        t0 = time.perf_counter()
        row = extract_dates(pages, OPTS).agg(
            F.count("date").alias("complete"),
            F.count(F.when(F.col("date") == F.col("expected_date_original"), 1))
            .alias("ok"),
            F.count(F.lit(1)).alias("n"),
        ).first()
        wall = time.perf_counter() - t0
    return {"wall": wall, "items": row["complete"], "ok": row["ok"], "n": row["n"]}


def summarize(steps: list[dict]) -> dict:
    walls = [s["wall"] for s in steps]
    return {
        "throughput_per_s": statistics.median(s["items"] / s["wall"] for s in steps),
        "step_p50_s": statistics.median(walls),
        "step_max_s": max(walls),
    }


REPORT = {  # end-to-end metric under the workload's own name
    "extract_docs_per_s": ("throughput_per_s", "docs/s"),
}


def check(spark, state: dict, steps: list[dict]) -> tuple[int, int]:
    """Every page's date must equal the planted expected_date_original;
    each pass checked its own rows."""
    return sum(s["n"] for s in steps), sum(s["n"] - s["ok"] for s in steps)


def _timed(fn, reps: int = 3) -> float:
    walls = []
    for _ in range(reps):
        t0 = time.perf_counter()
        fn()
        walls.append(time.perf_counter() - t0)
    return statistics.median(walls)


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def layers(spark, state: dict, steps: list[dict], tracer) -> dict:
    pages = spark.read.parquet(state["path"])
    opts = OPTS.with_defaults()
    u_date = url_date(F.col("url"), opts.min_date, opts.max_date)
    out = {}
    with tracer.span("sources.scan"):
        out["sources.scan_s"] = _timed(lambda: _noop(pages))
    with tracer.span("functions.native.url_date"):
        out["functions.native.url_date_s"] = _timed(
            lambda: _noop(pages.select(u_date.alias("d")))
        )
    row = pages.agg(
        F.count(F.lit(1)).alias("n"), F.count(u_date).alias("resolved")
    ).first()
    out["functions.native.resolved_share"] = row["resolved"] / row["n"]
    out["operators.extract.udf_rows"] = row["n"] - row["resolved"]

    @pandas_udf("string")
    def passthrough(it: Iterator[tuple[pd.Series, pd.Series]]) -> Iterator[pd.Series]:
        for _html, url in it:
            yield url

    # the same (html, url) columns the kernel UDF receives: html is
    # NULL for rows the native URL stage resolved
    gated = F.when(u_date.isNull(), F.col("html"))
    with tracer.span("operators.extract.arrow_roundtrip"):
        out["operators.extract.arrow_roundtrip_s"] = _timed(
            lambda: _noop(pages.select(passthrough(gated, F.col("url"))))
        )

    sample = {
        name: pages.filter(F.col("size_class") == name)
        .orderBy("url").limit(KERNEL_SAMPLE).select("url", "html").collect()
        for name in SIZE_CLASSES
    }
    raw = [bytes(r["html"]) for rows in sample.values() for r in rows]
    with tracer.span("operators.extract.sniff_decode"):
        t0 = time.perf_counter()
        for b in raw:
            sniff_decode(b)
        out["operators.extract.sniff_decode_us_per_doc"] = (
            (time.perf_counter() - t0) / len(raw) * 1e6
        )
    empty = total = 0
    for name, rows in sample.items():
        docs = [(sniff_decode(bytes(r["html"])), opts.with_url(r["url"])) for r in rows]
        with tracer.span(f"cascade.{name}"):
            wall = _timed(lambda: [from_html(h, o) for h, o in docs])
        out[f"cascade.{name}_docs_per_s"] = len(docs) / wall
        empty += sum(from_html(h, o).date == "" for h, o in docs)
        total += len(docs)
    out["cascade.empty_share"] = empty / total
    return out
