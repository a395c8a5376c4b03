"""Similarity search over embedding columns (array<float>).

- brute-force cosine top-k: the exact baseline; one pass + a global
  top-k (no full sort — orderBy+limit lets Spark run per-partition
  top-k then merge on the driver).
- LSH-bucketed ANN: deterministic random-hyperplane signatures
  (hyperplane components derived from xxhash64, not runtime RNG) →
  probe only matching buckets. The scale path: the bucket join replaces
  the full cross product.
- IVF ANN: a tiny coarse codebook (sampled centroids; k-means|| offline
  at real scale) broadcast into the plan, map-only cluster assignment,
  nprobe-nearest-centroid probing. With the corpus written partitioned
  by the assigned cluster, the probe is partition pruning — the scan
  touches nprobe/nlist of the data.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def dot(a: Column, b: Column) -> Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def norm(a: Column) -> Column:
    return F.sqrt(
        F.aggregate(F.transform(a, lambda x: x * x), F.lit(0.0), lambda acc, v: acc + v)
    )


def cosine(a: Column, b: Column) -> Column:
    return dot(a, b) / (norm(a) * norm(b))


# -- codegen'd unrolled forms ------------------------------------------------
#
# The HOF forms above (aggregate over zip_with/transform) are evaluated
# INTERPRETED per array element — Spark's lambda higher-order functions
# never enter whole-stage codegen. For a known dim the same left-fold
# can be unrolled into a literal add chain, which codegen compiles,
# while every IEEE intermediate stays bit-identical: the seed is the
# same lit(0.0) and the terms are added in the same index order, so
# dot_unrolled == dot to the last bit wherever both arrays have exactly
# `dim` elements (the operators below all know their dim). An array
# LONGER than dim would differ (zip_with pads the shorter side with
# nulls and nulls the fold; the unrolled form ignores the tail) — the
# callers guarantee exact-dim vectors.

def dot_unrolled(a: Column, b, dim: int) -> Column:
    """Codegen'd dot product; `b` may be a Column or a list of floats
    (literal query/plane vector)."""
    lit_b = isinstance(b, (list, tuple))
    acc = F.lit(0.0)
    for j in range(dim):
        bj = F.lit(float(b[j])) if lit_b else b[j]
        acc = acc + a[j] * bj
    return acc


def norm_unrolled(a: Column, dim: int) -> Column:
    acc = F.lit(0.0)
    for j in range(dim):
        acc = acc + a[j] * a[j]
    return F.sqrt(acc)


def cosine_unrolled(a: Column, b, dim: int) -> Column:
    if isinstance(b, (list, tuple)):
        import math

        # norm of a literal vector folds to the same double Catalyst's
        # constant folding would produce: identical ops, identical order
        nb = 0.0
        for x in b:
            nb = nb + float(x) * float(x)
        return dot_unrolled(a, b, dim) / (norm_unrolled(a, dim) * F.lit(math.sqrt(nb)))
    return dot_unrolled(a, b, dim) / (norm_unrolled(a, dim) * norm_unrolled(b, dim))


def brute_force_topk(
    embeddings: DataFrame,
    query_vec: list[float],
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact cosine top-k against one query vector. Entirely native; the
    orderBy+limit compiles to TakeOrderedAndProject (per-partition heaps,
    no shuffle of the full table)."""
    vec = F.col(vec_col).cast("array<double>")
    sim = F.round(cosine_unrolled(vec, [float(x) for x in query_vec], len(query_vec)), 6)
    return (
        embeddings.select(F.col(id_col), sim.alias("cosine"))
        .orderBy(F.desc("cosine"), F.asc(id_col))
        .limit(k)
    )


def _hyperplane_from(p: Column, dim: int) -> Column:
    return F.transform(
        F.sequence(F.lit(0), F.lit(dim - 1)),
        lambda j: (
            F.pmod(F.xxhash64(p, j), F.lit(20000)).cast("double") / F.lit(10000.0)
            - F.lit(1.0)
        ),
    )


def _md5_plane(p: int, dim: int) -> Column:
    """DuckDB-reproducible hyperplane: component j of plane p is
    ((md5-60bit('p:j') mod 20000)/10000 - 1) ∈ [-1, 1). Every arithmetic
    step (hash prefix, mod, IEEE double divide, left-fold dot product)
    yields bit-identical values in Spark and DuckDB — verified on the
    test corpus — so the oracle can recompute bucket membership."""
    return F.transform(
        F.sequence(F.lit(0), F.lit(dim - 1)),
        lambda j: (
            F.pmod(
                F.conv(
                    F.substring(F.md5(F.concat(F.lit(f"{p}:"), j.cast("string"))), 1, 15),
                    16, 10,
                ).cast("long"),
                F.lit(20000),
            ).cast("double")
            / F.lit(10000.0)
            - F.lit(1.0)
        ),
    )


def _sign_bits(vec: Column, planes: list[Column]) -> Column:
    """Bucket key: concatenated sign bits, one per plane ('1'/'0' string
    — string form keeps the key portable to the SQL oracle)."""
    return F.concat(
        *[
            F.when(dot(vec, pl) >= 0, F.lit("1")).otherwise(F.lit("0"))
            for pl in planes
        ]
    )


_PLANE_MEMO: dict = {}


def _plane_literals(spark, plane_ids: list[int], dim: int, family: str):
    """The deterministic hyperplanes as DRIVER-side float lists.

    The expression forms (_hyperplane_from / _md5_plane) re-derive every
    plane component per ROW inside interpreted lambdas — n_tables ×
    n_planes × dim hash+arithmetic evaluations per row. The planes are
    constants of (plane_id, j), so evaluate them ONCE through Spark
    itself (one expression over an n_planes-row frame; collected doubles
    are exactly the values the per-row expressions produced) and inline
    them as literal arrays. O(planes × dim) doubles — kilobytes — the
    same bounded-driver-state pattern as ivf_codebook_local. Memoized:
    the planes are pure functions of (family, plane_id, dim) — algorithm
    constants, not data — so repeat queries in a session skip the job."""
    key = (family, dim, tuple(plane_ids))
    if key in _PLANE_MEMO:
        return _PLANE_MEMO[key]
    pid = F.col("pid")
    if family == "md5":
        # same bytes _md5_plane hashes: "<p>:<j>"
        comp = F.transform(
            F.sequence(F.lit(0), F.lit(dim - 1)),
            lambda j: (
                F.pmod(
                    F.conv(
                        F.substring(
                            F.md5(
                                F.concat(
                                    pid.cast("string"), F.lit(":"), j.cast("string")
                                )
                            ),
                            1, 15,
                        ),
                        16, 10,
                    ).cast("long"),
                    F.lit(20000),
                ).cast("double")
                / F.lit(10000.0)
                - F.lit(1.0)
            ),
        )
    else:
        comp = _hyperplane_from(pid.cast("int"), dim)
    rows = (
        spark.createDataFrame([(int(p),) for p in plane_ids], "pid long")
        .select(pid, comp.alias("pl"))
        .collect()
    )
    by_id = {int(r["pid"]): [float(x) for x in r["pl"]] for r in rows}
    planes = [by_id[p] for p in plane_ids]
    _PLANE_MEMO[key] = planes
    return planes


def _ann_banded(
    embeddings: DataFrame,
    dim: int,
    id_col: str,
    vec_col: str,
    n_planes: int,
    n_tables: int,
    hash_family: str,
) -> DataFrame:
    """(id, _v, band, bucket): one row per (vector, table) with the
    table's sign-bit signature as the bucket key and the vector, as
    array<double>, riding along for the per-bucket prefilter."""
    vec = F.col(vec_col).cast("array<double>")

    # planes as driver-side LITERAL arrays: the expression forms
    # re-derived every plane component per row (n_tables·n_planes·dim
    # hash+pmod+divide chains inside interpreted lambdas); a literal
    # array is folded once by Catalyst, so the per-row work drops to
    # the dot itself. The dot stays in HOF form here on purpose: fully
    # unrolling all n_tables·n_planes dots was A/B'd and the ~4096-op
    # projection overflowed Janino's 64 KB method limit, dropping the
    # whole stage to interpreted eval (13 s → 78 s at sf1) — the HOF
    # tree is small and its loop is the cheap part once the plane
    # constants stop being recomputed.
    plane_ids = [t * 1009 + p for t in range(n_tables) for p in range(n_planes)]
    planes = _plane_literals(
        embeddings.sparkSession, plane_ids,
        dim, "md5" if hash_family == "md5" else "xxhash64",
    )
    lit_planes = [F.array(*[F.lit(c) for c in pl]) for pl in planes]

    def tplanes(t: int) -> list[Column]:
        return lit_planes[t * n_planes:(t + 1) * n_planes]

    if hash_family == "md5":
        sigs = F.array(*[_sign_bits(vec, tplanes(t)) for t in range(n_tables)])
    else:
        def sig_fold(t: int) -> Column:
            # exact integer fold: reverse-bit acc*2+bit
            acc = F.lit(0).cast("long")
            for pl in reversed(tplanes(t)):
                acc = acc * 2 + F.when(dot(vec, pl) >= 0, F.lit(1)).otherwise(
                    F.lit(0)
                )
            return acc

        sigs = F.array(
            *[sig_fold(t).cast("string") for t in range(n_tables)]
        )

    return embeddings.select(
        F.col(id_col), vec.alias("_v"), F.posexplode(sigs).alias("band", "bucket")
    )


def ann_selfjoin_pairs(
    embeddings: DataFrame,
    dim: int,
    min_cosine: float = 0.9,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_planes: int = 8,
    n_tables: int = 8,
    max_bucket: int = 1024,
    hash_family: str = "xxhash64",
) -> DataFrame:
    """Batch ANN: all near-neighbor PAIRS (a < b, cosine ≥ min_cosine) —
    the semantic-dedup primitive at 100 TB. Multi-table hyperplane LSH
    buckets candidates (OR-amplified: any shared (table, signature)),
    each capped bucket row carries its members' vectors and is
    prefiltered in numpy, and the survivors are exactly reranked by
    cosine. hash_family 'md5' derives planes from md5 so the DuckDB
    oracle reproduces bucketing bit-for-bit.

    Ids are assumed unique. A duplicated id is not merged: each of its
    rows is bucketed and prefiltered with its own vector, an id pair
    that survives is reranked against every row of both ids (one output
    row per passing vector pair), and two rows that share an id never
    pair."""
    from .dedup import _spread_input

    # single-file corpora arrive as 1 scan task; spread the rows across
    # cores before the n_tables·n_planes·dim signature arithmetic
    # (guide §2.5) — per-row results are partitioning-invariant
    embeddings = _spread_input(embeddings)
    banded = _ann_banded(
        embeddings, dim, id_col, vec_col, n_planes, n_tables, hash_family
    )
    pairs = _bucket_pairs_prefiltered(
        banded, id_col, max_bucket, dim, float(min_cosine)
    )

    # rerank stays INLINE (not staged) on purpose: r06 A/B'd a
    # staged-norm variant (norm per vector instead of per pair) and a
    # barrier-staged cosine — BOTH were slower (18.1 s / 14.4 s vs
    # 11.1 s at 8.7M pairs), because whole-stage codegen's common-
    # subexpression elimination already evaluates the duplicated cosine
    # tree once, while staging splits the stage and adds projection /
    # Generate overhead. Unrolling (below) is orthogonal: it keeps the
    # inline shape but swaps interpreted HOF folds for codegen.
    vec = F.col(vec_col).cast("array<double>")
    va = embeddings.select(F.col(id_col).alias("a"), vec.alias("_va"))
    vb = embeddings.select(F.col(id_col).alias("b"), vec.alias("_vb"))
    # the rerank cosine stays in HOF form DELIBERATELY: r06 A/B'd (a)
    # staged-norm and barrier-staged variants (18.1 s / 14.4 s vs
    # 11.1 s — staging splits the stage), and (b) fully UNROLLED
    # codegen'd chains this round — 33-78 s vs 8-12 s at sf1, because
    # a ~600-op unrolled cosine referenced from the join's filter and
    # output either overflows Janino's 64 KB method limit (whole-stage
    # fallback) or produces generated methods past HotSpot's
    # ~8 KB-bytecode JIT threshold, which then run in the bytecode
    # INTERPRETER — slower than Catalyst's interpreted HOF loop over
    # primitive arrays. Unrolling only pays for SMALL expressions (one
    # dot against one literal vector, e.g. brute_force_topk).
    cos = cosine(F.col("_va"), F.col("_vb"))
    return (
        pairs.join(va, "a").join(vb, "b")
        .filter(cos >= F.lit(float(min_cosine)))
        .select("a", "b", F.round(cos, 4).alias("cosine"))
    )


def _bucket_pairs_prefiltered(
    banded, id_col, max_bucket: int, dim: int, min_cosine: float,
    margin: float = 1e-6,
):
    """bucket_candidate_pairs semantics with the pair fan-out fused
    into a per-bucket numpy gram matrix: each capped (band, bucket)
    row carries its members' vectors, M @ M.T scores every pair at
    once, and only pairs whose approximate cosine clears
    (min_cosine - margin) are emitted. A member whose vector is null
    or not `dim` long, and a pair whose score is not finite, pass
    through unscored. The output is a subset of
    bucket_candidate_pairs(...) that is still a superset of the
    exact-cosine survivors, so an exact rerank over it returns
    bit-identical rows. The 50-5000x non-surviving candidate mass
    never materializes as Spark rows."""
    from .dedup import _bucket_rows

    thr = float(min_cosine) - float(margin)

    def gen(batches):
        import numpy as np
        import pandas as pd

        empty = np.array([], dtype=np.int64)
        for pdf in batches:
            out_a, out_b = [], []
            for ids, vecs in zip(pdf["ids"], pdf["_v"]):
                iv = np.asarray(ids, dtype=np.int64)
                known = np.array([v is not None and len(v) == dim for v in vecs])
                M = np.zeros((len(iv), dim))
                if known.any():
                    M[known] = np.stack([v for v, k in zip(vecs, known) if k])
                norms = np.sqrt(np.einsum("ij,ij->i", M, M))
                G = M @ M.T
                keep = (
                    (G >= thr * np.outer(norms, norms))
                    | ~np.isfinite(G)
                    | ~known[None, :] | ~known[:, None]
                )
                iu, ju = np.triu_indices(len(iv), k=1)
                # ids ascend, so a < b; equal ids are one id's two rows
                sel = keep[iu, ju] & (iv[iu] < iv[ju])
                out_a.append(iv[iu[sel]])
                out_b.append(iv[ju[sel]])
            yield pd.DataFrame({
                "a": np.concatenate(out_a) if out_a else empty,
                "b": np.concatenate(out_b) if out_b else empty,
            })

    return (
        _bucket_rows(banded, id_col, max_bucket, "_v")
        .mapInPandas(gen, "a long, b long")
        .distinct()
    )


# ---------------------------------------------------------------------------
# IVF (inverted-file) ANN
# ---------------------------------------------------------------------------


def _ivf_codebook_row(
    embeddings: DataFrame,
    n_centroids: int,
    id_col: str,
    vec_col: str,
) -> DataFrame:
    """One-row DataFrame holding the coarse codebook as an array of
    (cid, cv) structs sorted by cid. Centroids are the vectors of the
    n_centroids smallest ids — a deterministic sample (the standard IVF
    init; at 100 TB the codebook is trained offline with k-means|| and
    broadcast exactly the same way). The codebook is O(nlist · dim) —
    kilobytes — so it rides as a broadcast single row; the corpus never
    shuffles for it.

    Selection is order-by-id + limit (a TakeOrdered reduction, no hash
    exchange), NOT a `id < n_centroids` value filter — so sparse or
    offset id spaces still yield exactly min(n_centroids, |corpus|)
    centroids instead of a silently short (or empty) codebook."""
    vec = F.col(vec_col).cast("array<double>")
    return (
        embeddings.select(F.col(id_col).alias("cid"), vec.alias("cv"))
        .orderBy("cid")
        .limit(n_centroids)
        .groupBy()
        .agg(F.array_sort(F.collect_list(F.struct("cid", "cv"))).alias("cents"))
    )


def _argmax_cluster(vec: Column) -> Column:
    """Cluster = cid of the first centroid attaining the max cosine
    (ties → smallest cid, because `cents` is cid-sorted and
    array_position returns the first hit)."""
    scores = F.transform(F.col("cents"), lambda c: cosine(vec, c["cv"]))
    return F.element_at(
        F.col("cents"), F.array_position(scores, F.array_max(scores)).cast("int")
    )["cid"].alias("cluster")


def ivf_assign(
    embeddings: DataFrame,
    n_centroids: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """(id, cluster) coarse-quantizer assignment. Map-only over the
    corpus: the codebook arrives as a broadcast 1-row cross join, scores
    are a native array fold per row, no shuffle of the embedding table.
    At scale, write the corpus `partitionBy('cluster')` once; every
    downstream IVF probe then prunes partitions instead of scanning."""
    vec = F.col(vec_col).cast("array<double>")
    cents = _ivf_codebook_row(embeddings, n_centroids, id_col, vec_col)
    return embeddings.crossJoin(F.broadcast(cents)).select(
        F.col(id_col), _argmax_cluster(vec)
    )


def ivf_topk(
    embeddings: DataFrame,
    query_id: int = 0,
    k: int = 10,
    n_centroids: int = 16,
    nprobe: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """IVF ANN top-k for the query vector stored at `query_id`: assign
    each row to its nearest centroid, keep only rows whose cluster is
    among the query's nprobe nearest centroids, exact-cosine rerank the
    survivors. The whole probe is one map-only pass + TakeOrderedAndProject:
    codebook and query ride in a single broadcast row, so the only
    corpus-wide work is the pruned scan — the IVF contract (nprobe/nlist
    of the data) once the table is partitioned by `ivf_assign`'s cluster."""
    from .dedup import _spread_input

    vec = F.col(vec_col).cast("array<double>")
    cents = _ivf_codebook_row(embeddings, n_centroids, id_col, vec_col)
    qrow = embeddings.filter(F.col(id_col) == query_id).select(
        vec.alias("qv")
    )
    # the corpus-wide assignment pass (n_centroids cosines per row in
    # array HOFs) is the only heavy stage: spread a single-file corpus
    # across cores first (round-robin — the map-only/no-hash-exchange
    # plan pin stays honest); codebook/query paths stay tiny
    embeddings = _spread_input(embeddings)
    # probe list: centroids sorted by (cosine desc, cid asc) — encoded as
    # default struct ordering on (-cosine, cid) so it stays native
    probe = cents.crossJoin(qrow).select(
        "cents",
        "qv",
        F.transform(
            F.slice(
                F.array_sort(
                    F.transform(
                        F.col("cents"),
                        lambda c: F.struct(
                            (-cosine(F.col("qv"), c["cv"])).alias("neg"),
                            c["cid"].alias("cid"),
                        ),
                    )
                ),
                1,
                nprobe,
            ),
            lambda s: s["cid"],
        ).alias("probe_ids"),
    )
    return (
        embeddings.crossJoin(F.broadcast(probe))
        .withColumn("cluster", _argmax_cluster(vec))
        .filter(F.array_contains(F.col("probe_ids"), F.col("cluster")))
        .select(
            F.col(id_col),
            F.col("cluster"),
            F.round(cosine(vec, F.col("qv")), 6).alias("cosine"),
        )
        .orderBy(F.desc("cosine"), F.asc(id_col))
        .limit(k)
    )

def ivf_codebook_local(
    embeddings: DataFrame,
    n_centroids: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> list[tuple[int, list[float]]]:
    """The coarse codebook as driver-side data: [(cid, vector), ...]
    sorted by cid. O(nlist · dim) — kilobytes — so the collect is
    bounded regardless of corpus size; at 100 TB this is the k-means||
    output loaded once per job, not a per-query cost."""
    rows = (
        embeddings.select(
            F.col(id_col).alias("cid"),
            F.col(vec_col).cast("array<double>").alias("cv"),
        )
        .orderBy("cid")
        .limit(n_centroids)
        .collect()
    )
    return [(int(r["cid"]), list(r["cv"])) for r in rows]


def ivf_topk_pruned(
    parted: DataFrame,
    codebook: list[tuple[int, list[float]]],
    query_vec: list[float],
    k: int = 10,
    nprobe: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    cluster_col: str = "cluster",
) -> DataFrame:
    """IVF probe against a MATERIALIZED cluster-partitioned table (the
    100 TB shape: corpus written once with partitionBy(cluster) from
    ivf_assign). The probe list is ranked driver-side from the kilobyte
    codebook, so the cluster filter is a LITERAL isin — Catalyst turns
    it into PartitionFilters on the parquet scan and only nprobe/nlist
    of the files are read (plan-pinned in tests + bench). Rerank is
    exact cosine against the literal query vector, compiled to
    TakeOrderedAndProject.

    Output contract matches ivf_topk(query at the same vector): same
    assignment (the table's cluster column came from the same codebook)
    and same probe ranking (cosine desc, cid asc)."""
    import math

    qn = math.sqrt(sum(x * x for x in query_vec))
    scored = []
    for cid, cv in codebook:
        cn = math.sqrt(sum(x * x for x in cv))
        # zero-norm centroid/query → NaN, the engine-side cosine()'s
        # behavior (ivf_topk degrades, never crashes); NaN never ranks
        cos = (
            sum(a * b for a, b in zip(query_vec, cv)) / (qn * cn)
            if qn * cn != 0.0
            else float("nan")
        )
        if not math.isnan(cos):
            scored.append((-cos, cid))
    probe_ids = [cid for _neg, cid in sorted(scored)[:nprobe]]

    q = F.array(*[F.lit(float(x)) for x in query_vec])
    vec = F.col(vec_col).cast("array<double>")
    return (
        parted.filter(F.col(cluster_col).isin(probe_ids))
        .select(
            F.col(id_col),
            F.col(cluster_col).cast("int").alias(cluster_col),
            F.round(cosine(vec, q), 6).alias("cosine"),
        )
        .orderBy(F.desc("cosine"), F.asc(id_col))
        .limit(k)
    )
