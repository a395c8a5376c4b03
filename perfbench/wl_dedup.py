"""`dedup`: near-duplicate and semantic dedup over sf1-shaped tables.

Documents have 10-100 words drawn from a 31-word vocabulary, and
embeddings 64 floats in [-0.25, 0.25), as `scripts/make_sf1.py` lays
them out, but drawn from the run's seed. About one row in fifty is
planted as an exact copy of the row before it. One step runs
minhash_signatures → lsh_jaccard_verified_pairs, simhash_near_pairs and
ann_selfjoin_pairs, each writing its pair set to Parquet. Every planted
pair must appear in all three pair sets.
"""

from __future__ import annotations

import contextlib
import io
import os
import statistics
import time

from pyspark.sql import functions as F

from go_htmldate_spark.operators.dedup import (
    lsh_candidate_pairs,
    lsh_jaccard_verified_pairs,
    minhash_signatures,
    simhash_near_pairs,
)
from go_htmldate_spark.operators.similarity import ann_selfjoin_pairs

N_DOCS = 1000
N_VECS = 500
DIM = 64
MIN_STEPS = 1  # one pass outlasts --seconds
COPY_EVERY = 50  # one row in COPY_EVERY copies the row before it
VOCAB = (
    "batch part spark line column order small sort fast value scan a hash "
    "slow group agg filter query big key window row table stream merge data "
    "join scan2 page plan shard"
).split()
OPERATORS = (
    ("operators.dedup.lsh_verify", "lsh"),
    ("operators.dedup.simhash", "simhash"),
    ("operators.similarity.ann_selfjoin", "ann"),
)


def _copy_base(seed: int, i):
    """The row id whose content row `i` carries: i - 1 for a planted
    copy, else i. A copy never follows a copy, so pairs are disjoint."""
    def is_copy(c):
        return (c > 0) & (F.abs(F.xxhash64(F.lit(seed), F.lit("copy"), c)) % COPY_EVERY == 0)

    return F.when(is_copy(i) & ~is_copy(i - 1), i - 1).otherwise(i)


def setup(spark, data: str, seed: int) -> dict:
    def h(salt: int, *cols):
        return F.abs(F.xxhash64(F.lit(seed), F.lit(salt), *cols))

    vocab = F.array(*[F.lit(w) for w in VOCAB])
    docs = spark.range(N_DOCS).select(
        F.col("id").alias("doc_id"), _copy_base(seed, F.col("id")).alias("_b")
    ).select(
        "doc_id",
        "_b",
        F.array_join(
            F.transform(
                F.sequence(F.lit(0), (h(1, "_b") % 91 + 9).cast("int")),
                lambda k: F.element_at(vocab, (h(2, "_b", k) % len(VOCAB)).cast("int") + 1),
            ),
            " ",
        ).alias("text"),
    )
    vecs = spark.range(N_VECS).select(
        F.col("id").alias("vec_id"), _copy_base(seed + 1, F.col("id")).alias("_b")
    ).select(
        "vec_id",
        "_b",
        F.transform(
            F.sequence(F.lit(0), F.lit(DIM - 1)),
            lambda k: ((h(5, "_b", k) % 2001 - 1000) / 4000.0).cast("float"),
        ).alias("embedding"),
    )
    paths = {name: os.path.join(data, name) for name in ("docs", "vecs", "planted")}
    docs.drop("_b").write.mode("overwrite").parquet(paths["docs"])
    vecs.drop("_b").write.mode("overwrite").parquet(paths["vecs"])
    # the planted pairs are the independent expectation: (kind, a, b)
    docs.filter(F.col("_b") != F.col("doc_id")).select(
        F.lit("doc").alias("kind"), F.col("_b").alias("a"), F.col("doc_id").alias("b")
    ).unionByName(
        vecs.filter(F.col("_b") != F.col("vec_id")).select(
            F.lit("vec").alias("kind"), F.col("_b").alias("a"), F.col("vec_id").alias("b")
        )
    ).write.mode("overwrite").parquet(paths["planted"])
    return {"data": data, **paths, "passes": []}


def _run_pass(spark, state: dict, tracer, out: str) -> dict:
    docs = spark.read.parquet(state["docs"])
    vecs = spark.read.parquet(state["vecs"])
    walls = {}
    with tracer.span("operators.dedup.minhash"):
        t0 = time.perf_counter()
        sigs = minhash_signatures(docs).cache()
        sigs.count()
        walls["minhash"] = time.perf_counter() - t0
    jobs = {
        "lsh": lambda: lsh_jaccard_verified_pairs(docs, sigs),
        "simhash": lambda: simhash_near_pairs(docs),
        "ann": lambda: ann_selfjoin_pairs(vecs, DIM),
    }
    for span, key in OPERATORS:
        with tracer.span(span):
            t0 = time.perf_counter()
            jobs[key]().write.mode("overwrite").parquet(os.path.join(out, key))
            walls[key] = time.perf_counter() - t0
    sigs.unpersist()
    return walls


def step(spark, state: dict, tracer) -> dict:
    out = os.path.join(state["data"], f"pass_{len(state['passes'])}")
    state["passes"].append(out)
    with tracer.span("dedup.pass"):
        t0 = time.perf_counter()
        walls = _run_pass(spark, state, tracer, out)
        wall = time.perf_counter() - t0
    return {"wall": wall, "items": N_DOCS + N_VECS, "walls": walls}


def summarize(steps: list[dict]) -> dict:
    walls = [s["wall"] for s in steps]
    return {
        "throughput_per_s": statistics.median(s["items"] / s["wall"] for s in steps),
        "step_p50_s": statistics.median(walls),
        "step_max_s": max(walls),
    }


REPORT = {
    "dedup_wall_s": ("step_p50_s", "s"),
}


def check(spark, state: dict, steps: list[dict]) -> tuple[int, int]:
    """Planted pairs × operators × passes; a pair an operator missed is
    one failure."""
    planted = spark.read.parquet(state["planted"])
    kinds = {"lsh": "doc", "simhash": "doc", "ann": "vec"}
    attempted = failed = 0
    for out in state["passes"]:
        for key, kind in kinds.items():
            want = planted.filter(F.col("kind") == kind).select("a", "b")
            got = spark.read.parquet(os.path.join(out, key)).select("a", "b")
            attempted += want.count()
            failed += want.join(got, ["a", "b"], "left_anti").count()
    return attempted, failed


def layers(spark, state: dict, steps: list[dict], tracer) -> dict:
    out = {}
    names = {"minhash": "operators.dedup.minhash_s"}
    names.update({key: f"{span}_s" for span, key in OPERATORS})
    for key, name in names.items():
        out[name] = statistics.median(s["walls"][key] for s in steps)

    docs = spark.read.parquet(state["docs"])
    sigs = minhash_signatures(docs).cache()
    with tracer.span("operators.dedup.lsh_candidates"):
        candidates = lsh_candidate_pairs(sigs).count()
    sigs.unpersist()
    verified = spark.read.parquet(os.path.join(state["passes"][-1], "lsh")).count()
    out["operators.dedup.verified_per_candidate"] = verified / max(candidates, 1)

    plan = io.StringIO()
    with contextlib.redirect_stdout(plan):
        ann_selfjoin_pairs(spark.read.parquet(state["vecs"]), DIM).explain()
    out["operators.similarity.fast_path"] = int("MapInPandas" in plan.getvalue())
    return out

