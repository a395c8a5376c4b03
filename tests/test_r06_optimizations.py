"""Round-6 optimization pins: the rewrites must stay value-identical
to the naive forms they replaced, and the plan-level fixes must stay
in the plan (one UDF evaluation, pushdown barrier present)."""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import Window

SF = "/root/testdata/sf0.001"


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_extract_udf_evaluated_once_under_filter(spark):
    """guide §4.4: a filter on the extraction UDF's output must not
    duplicate the kernel — exactly ONE ArrowEvalPython node."""
    from go_htmldate_spark.operators.extract import extract_dates
    from go_htmldate_spark.options import Options
    from go_htmldate_spark.sources.pages import synth_pages

    pages = synth_pages(spark, 50, seed=42)
    out = extract_dates(pages, Options(use_original_date=True))
    plan = _plan(out.filter("date = expected_date_original"))
    assert plan.count("ArrowEvalPython") == 1


def test_word_ngrams_matches_naive_form(spark):
    """The lambda-bound word_ngrams must emit exactly the grams of the
    spelled-out tokenize chain (incl. empty/NULL/short-text edges)."""
    from go_htmldate_spark.operators.textstats import word_ngrams

    df = spark.createDataFrame(
        [("a  B c d e",), ("x",), ("",), (None,), ("one two",)],
        "text string",
    )
    toks = "split(lower(trim(regexp_replace(text, '\\\\s+', ' '))), ' ')"
    for n in (2, 3):
        naive = F.expr(
            f"CASE WHEN size({toks}) >= {n} "
            f"THEN transform(sequence(1, size({toks}) - {n - 1}), "
            f"i -> concat_ws(' ', slice({toks}, i, {n}))) "
            f"ELSE array() END"
        )
        rows = df.select(
            word_ngrams("text", n).alias("new"), naive.alias("old")
        ).collect()
        for r in rows:
            assert r["new"] == r["old"], (n, r)


def test_bucket_candidate_pairs_matches_nested_transform(spark):
    """posexplode+slice pair generation == the nested transform/filter/
    struct form it replaced, on buckets with caps exercised."""
    from go_htmldate_spark.operators.dedup import bucket_candidate_pairs

    rows = [(i, b, bkt) for bkt in range(3) for b in range(2)
            for i in range(bkt * 7, bkt * 7 + 5)]
    banded = spark.createDataFrame(
        rows, "doc_id long, band int, bucket long"
    )
    got = bucket_candidate_pairs(banded, "doc_id", max_bucket=3)
    buckets = (
        banded.withColumn(
            "_rn",
            F.row_number().over(
                Window.partitionBy("band", "bucket").orderBy("doc_id")
            ),
        )
        .filter(F.col("_rn") <= 3)
        .groupBy("band", "bucket")
        .agg(F.sort_array(F.collect_list("doc_id")).alias("ids"))
        .filter(F.size("ids") > 1)
    )
    old = buckets.select(
        F.explode(
            F.flatten(
                F.transform(
                    F.col("ids"),
                    lambda a: F.transform(
                        F.filter(F.col("ids"), lambda b: b > a),
                        lambda b: F.struct(a.alias("a"), b.alias("b")),
                    ),
                )
            )
        ).alias("p")
    ).select("p.a", "p.b").distinct()
    assert sorted(map(tuple, got.collect())) == sorted(
        map(tuple, old.collect())
    )


def test_pushdown_barrier_identity_and_blocking(spark):
    """pushdown_barrier returns identical rows and actually blocks a
    filter on a computed column from reaching the scan."""
    from go_htmldate_spark.plans.canonical import pushdown_barrier

    df = spark.read.parquet(f"{SF}/orders.parquet").select(
        "o_orderkey",
        F.md5(F.col("o_orderkey").cast("string")).alias("h"),
    )
    plain = df.filter(F.col("h").startswith("a")).collect()
    barred_df = pushdown_barrier(df).filter(F.col("h").startswith("a"))
    barred = barred_df.collect()
    assert sorted(map(tuple, plain)) == sorted(map(tuple, barred))
    plan = _plan(barred_df)
    # the filter must sit ABOVE the Generate (plan text lists parents
    # first), and nothing may reach the scan as a data/pushed filter
    assert plan.index("Filter") < plan.index("Generate")
    assert "DataFilters: []" in plan and "PushedFilters: []" in plan


def test_water_fill_boundary_candidates_match_reference(spark):
    """r06 rewrote the level search to evaluate candidates at
    per-demand-class boundaries only (no per-host rank); the allocation
    must still equal the brute-force progressive-filling reference,
    including the +1-by-host-order remainder."""
    import random

    from go_htmldate_spark.plans.budget import water_fill_budgets

    def ref(demands, budget):
        hosts = sorted(demands)
        t = 0
        while (
            sum(min(demands[h], t + 1) for h in hosts) <= budget
            and any(demands[h] > t for h in hosts)
        ):
            t += 1
        r = max(0, budget - sum(min(demands[h], t) for h in hosts))
        alloc = {h: min(demands[h], t) for h in hosts}
        for h in hosts:
            if r <= 0:
                break
            if demands[h] > t:
                alloc[h] += 1
                r -= 1
        return alloc

    random.seed(13)
    for _ in range(3):
        n = random.randint(1, 30)
        demands = {f"h{i:02d}": random.randint(1, 40) for i in range(n)}
        budget = random.randint(0, sum(demands.values()) + 10)
        df = spark.createDataFrame(
            list(demands.items()), "host string, demand long"
        )
        got = {
            r["host"]: r["alloc"]
            for r in water_fill_budgets(df, budget).collect()
        }
        assert got == ref(demands, budget), (budget, demands)


def test_ranged_rank_matches_global_window(spark):
    """_ranged_rank == row_number over the same total order, for skewed
    and tiny inputs."""
    from go_htmldate_spark.plans.budget import _ranged_rank

    data = [(f"h{i % 97}x{i}", (i * 13) % 11 + 1) for i in range(1000)]
    df = spark.createDataFrame(data, "host string, demand long")
    got = _ranged_rank(df, ["demand", "host"], "i")
    w = Window.orderBy("demand", "host")
    want = df.select("host", "demand", F.row_number().over(w).alias("i"))
    assert sorted(map(tuple, got.select("host", "demand", "i").collect())) \
        == sorted(map(tuple, want.collect()))
    one = spark.createDataFrame([("a", 5)], "host string, demand long")
    assert _ranged_rank(one, ["host"], "r").collect()[0]["r"] == 1


def test_md5_minhash_distinct_join_matches_inline(spark, monkeypatch):
    """The distinct-shingle broadcast path must emit bit-identical
    signatures to the inline per-occurrence md5 form, including the
    NULL-text (null signature entries), empty-text, and short-text
    degenerate shingles."""
    import go_htmldate_spark.operators.dedup as dd

    rows = [
        (1, "the quick brown fox jumps over the lazy dog"),
        (2, "the quick brown fox jumps over the lazy cat"),
        (3, ""),
        (4, None),
        (5, "abc"),
        (6, "the quick brown fox jumps over the lazy dog"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")

    fast = dd.minhash_signatures(df, n_hashes=8, hash_family="md5_seeded")
    assert fast._jdf.queryExecution().executedPlan().toString().count(
        "BroadcastExchange"
    ) == 1  # the distinct-shingle hash table rides as a broadcast

    # force the inline fallback (the >cap branch) and compare
    monkeypatch.setattr(dd, "_md5_shingle_hash_table", lambda *a, **k: None)
    slow = dd.minhash_signatures(df, n_hashes=8, hash_family="md5_seeded")
    got = {r["doc_id"]: r["minhash"] for r in fast.collect()}
    want = {r["doc_id"]: r["minhash"] for r in slow.collect()}
    # null text keeps its row with an all-null signature in BOTH paths
    # (greatest(length(null)-k+1, 1) still emits one position)
    assert got == want and len(got) == 6 and got[4] == [None] * 8


def test_plane_literals_match_expression_planes(spark):
    """_plane_literals must reproduce the per-row plane expressions
    bit-for-bit for both hash families (the signature sign rule hangs
    on exact doubles)."""
    import pyspark.sql.functions as F

    from go_htmldate_spark.operators.similarity import (
        _hyperplane_from, _md5_plane, _plane_literals,
    )

    ids = [0, 3, 1009, 2 * 1009 + 7]
    got_x = _plane_literals(spark, ids, 8, "xxhash64")
    got_m = _plane_literals(spark, ids, 8, "md5")
    for i, pid in enumerate(ids):
        row = spark.range(1).select(
            _hyperplane_from(F.lit(pid), 8).alias("x"),
            _md5_plane(pid, 8).alias("m"),
        ).head()
        assert got_x[i] == [float(v) for v in row["x"]], pid
        assert got_m[i] == [float(v) for v in row["m"]], pid


def test_brute_force_topk_unrolled_matches_hof(spark):
    """The unrolled literal-query cosine must equal the HOF cosine()
    form to the last rounded digit."""
    import pyspark.sql.functions as F

    from go_htmldate_spark.operators.similarity import (
        brute_force_topk, cosine,
    )

    emb = spark.read.parquet(
        "/root/testdata/sf0.001/embeddings.parquet"
    ).select("vec_id", "embedding")
    q = [((i * 37) % 19 - 9) / 10.0 for i in range(64)]
    got = brute_force_topk(emb, q, k=10).collect()
    qarr = F.array(*[F.lit(float(x)) for x in q])
    vec = F.col("embedding").cast("array<double>")
    want = (
        emb.select(
            "vec_id", F.round(cosine(vec, qarr), 6).alias("cosine")
        )
        .orderBy(F.desc("cosine"), F.asc("vec_id"))
        .limit(10)
        .collect()
    )
    assert [tuple(r) for r in got] == [tuple(r) for r in want]


def test_simhash_near_pairs_checkpoint_value_identical(spark, monkeypatch):
    """The signature localCheckpoint barrier is pure plumbing: results
    must equal the recompute (no-barrier) path for both families."""
    from pyspark.sql import DataFrame

    import go_htmldate_spark.operators.dedup as dd

    docs = spark.read.parquet(
        "/root/testdata/sf0.001/documents.parquet"
    ).select("doc_id", "text")

    def run():
        a = dd.simhash_near_pairs(docs, radius=3, n_bits=48,
                                  hash_family="md5_seeded").collect()
        b = dd.simhash_near_pairs(docs, radius=3).collect()
        return sorted(map(tuple, a)), sorted(map(tuple, b))

    with_barrier = run()
    monkeypatch.setattr(
        DataFrame, "localCheckpoint", lambda self, eager=True: self
    )
    assert run() == with_barrier


def test_simhash_md5_swar_matches_per_bit_fold(spark):
    """r06 unified the md5 family onto the SWAR accumulate: signatures
    must equal the per-bit ±1-sum fold it replaced, incl. empty/null
    text."""
    from go_htmldate_spark.operators.dedup import simhash

    docs = spark.read.parquet(f"{SF}/documents.parquet").select(
        "doc_id", "text"
    ).limit(50).unionByName(
        spark.createDataFrame(
            [(9001, ""), (9002, None), (9003, "one"), (9004, "a b a b")],
            "doc_id long, text string",
        )
    )
    n_bits = 48
    got = simhash(docs, n_bits=n_bits, hash_family="md5_seeded")
    norm = "lower(trim(regexp_replace(text, '\\\\s+', ' ')))"
    per_bit = F.expr(
        f"""
        aggregate(
          transform(sequence(0, {n_bits - 1}), b ->
            CASE WHEN aggregate(
                   transform(split({norm}, ' '), t ->
                     cast(conv(substring(md5(t), 1, 15), 16, 10) as bigint)),
                   0,
                   (acc, h) -> acc + CASE WHEN shiftright(h, b) & 1 = 1
                                     THEN 1 ELSE -1 END) > 0
                 THEN shiftleft(1L, b) ELSE 0L END),
          0L, (acc, x) -> acc | x)
        """
    )
    want = docs.select("doc_id", per_bit.alias("simhash"))
    assert sorted(map(tuple, got.collect())) == sorted(
        map(tuple, want.collect())
    )


def test_two_level_banding_complete_vs_brute_force(spark):
    """r06 two-level sub-banding must return EXACTLY the brute-force
    all-pairs set within the radius — completeness depends on the
    sub-bands covering every remaining bit (incl. the sign bit of
    64-bit signatures)."""
    from go_htmldate_spark.operators.dedup import simhash, simhash_near_pairs

    docs = spark.read.parquet(f"{SF}/documents.parquet").select(
        "doc_id", "text"
    ).limit(120)
    # plant near-dups: one swapped word, typically within radius
    near = docs.limit(40).select(
        (F.col("doc_id") + 5000).alias("doc_id"),
        F.concat(F.lit("x "), F.col("text")).alias("text"),
    )
    corpus = docs.unionByName(near)
    for fam, nb in (("xxhash64", 64), ("md5_seeded", 48)):
        got = sorted(
            map(tuple, simhash_near_pairs(
                corpus, radius=3, n_bits=nb, hash_family=fam,
                max_bucket=1_000_000,
            ).collect())
        )
        sigs = {r["doc_id"]: r["simhash"]
                for r in simhash(corpus, n_bits=nb, hash_family=fam).collect()}
        ids = sorted(sigs)
        brute = sorted(
            (a, b, bin((sigs[a] ^ sigs[b]) & ((1 << 64) - 1)).count("1"))
            for i, a in enumerate(ids) for b in ids[i + 1:]
            if bin((sigs[a] ^ sigs[b]) & ((1 << 64) - 1)).count("1") <= 3
        )
        assert got == brute, fam


def test_ann_selfjoin_prefiltered_matches_inline_path(spark):
    """r06 continuation: the per-bucket numpy pair prefilter must
    return EXACTLY the rows of the reference composition — every
    bucket_candidate_pairs candidate, exactly reranked by cosine — for
    both hash families. A null, a short and a NaN vector exercise the
    unscored pass-through (Spark ranks a NaN cosine above any
    threshold)."""
    from go_htmldate_spark.operators import similarity as S
    from go_htmldate_spark.operators.dedup import bucket_candidate_pairs

    emb = spark.read.parquet(f"{SF}/embeddings.parquet").select(
        "vec_id", "embedding"
    )
    dup = emb.filter(F.col("vec_id") % 9 == 0).select(
        (F.col("vec_id") + 100000).alias("vec_id"), "embedding"
    )
    odd = spark.createDataFrame(
        [(900001, None), (900002, [0.1] * 63), (900003, [float("nan")] * 64)],
        "vec_id long, embedding array<float>",
    )
    corpus = emb.unionByName(dup).unionByName(odd)
    vec = F.col("embedding").cast("array<double>")
    va = corpus.select(F.col("vec_id").alias("a"), vec.alias("_va"))
    vb = corpus.select(F.col("vec_id").alias("b"), vec.alias("_vb"))
    cos = S.cosine(F.col("_va"), F.col("_vb"))

    def rows(df):  # NaN != NaN, so compare a NaN cosine as None
        return sorted((a, b, None if c != c else c) for a, b, c in df.collect())

    for fam in ("xxhash64", "md5"):
        got = rows(S.ann_selfjoin_pairs(
            corpus, dim=64, min_cosine=0.9, n_planes=8, n_tables=8,
            hash_family=fam,
        ))
        banded = S._ann_banded(corpus, 64, "vec_id", "embedding", 8, 8, fam)
        pairs = bucket_candidate_pairs(
            banded.select("vec_id", "band", "bucket"), "vec_id", 1024
        )
        want = rows(
            pairs.join(va, "a").join(vb, "b")
            .filter(cos >= 0.9)
            .select("a", "b", F.round(cos, 4))
        )
        assert got == want and got, fam


def test_lsh_jaccard_fused_matches_composed_path(spark):
    """r06 continuation: the bucket-fused jaccard verify must return
    EXACTLY the rows of the reference composition lsh_candidate_pairs →
    jaccard_verify_pairs, for both signature hash families (hashed and
    raw bucket keys), with null, empty and short texts."""
    from go_htmldate_spark.operators import dedup as D

    d = spark.read.parquet(f"{SF}/documents.parquet").select(
        "doc_id", "text"
    )
    dup = d.filter(F.col("doc_id") % 11 == 0).select(
        (F.col("doc_id") + 1000000).alias("doc_id"), "text"
    )
    corpus = d.unionByName(dup)
    # null/empty texts exercise the null-token-array drop
    extra = spark.createDataFrame(
        [(8000001, None), (8000002, ""), (8000003, "one two")],
        "doc_id long, text string",
    )
    corpus = corpus.unionByName(extra)
    for fam, hashed in (("md5_seeded", False), ("xxhash64", True)):
        sigs = D.minhash_signatures(corpus, n_hashes=16, hash_family=fam)
        fused = sorted(map(tuple, D.lsh_jaccard_verified_pairs(
            corpus, sigs, bands=4, max_bucket=1_000_000,
            hashed_buckets=hashed, min_jaccard=0.5,
        ).collect()))
        cand = D.lsh_candidate_pairs(
            sigs, bands=4, max_bucket=1_000_000, hashed_buckets=hashed
        )
        composed = sorted(map(tuple, D.jaccard_verify_pairs(
            corpus, cand, min_jaccard=0.5
        ).collect()))
        assert fused == composed and fused, fam


def test_pair_operators_pin_duplicate_id_rows(spark):
    """Both pair operators assume unique ids; this pins what a
    duplicated id returns. Each row is scored with its own payload, an
    id pair comes back once per passing vector pair (ANN) or distinct
    (intersection, union) (LSH), and the two rows of one id never
    pair."""
    from go_htmldate_spark.operators.dedup import lsh_jaccard_verified_pairs
    from go_htmldate_spark.operators.similarity import ann_selfjoin_pairs

    # id 2 carries two vectors, both near id 1's; id 3 is orthogonal
    emb = spark.createDataFrame(
        [(1, [1.0, 1.0, 1.0, 1.0]), (2, [1.0, 1.0, 1.0, 0.9]),
         (2, [1.0, 1.0, 0.8, 1.0]), (3, [-1.0, 1.0, -1.0, 1.0])],
        "vec_id long, embedding array<float>",
    )
    got = sorted(map(tuple, ann_selfjoin_pairs(
        emb, dim=4, min_cosine=0.9, n_planes=2, n_tables=8,
    ).collect()))
    assert got == [(1, 2, 0.9959), (1, 2, 0.999)]

    # one shared bucket (identical signatures, raw keys); id 2 carries
    # two texts: id 1's own, and id 1's plus one word
    docs = spark.createDataFrame(
        [(1, "a b c d e f g h"), (2, "a b c d e f g h"),
         (2, "a b c d e f g h x"), (3, "p q r s")],
        "doc_id long, text string",
    )
    sigs = spark.createDataFrame(
        [(i, [7, 7, 7, 7]) for i in (1, 2, 3)],
        "doc_id long, minhash array<long>",
    )
    got = sorted(map(tuple, lsh_jaccard_verified_pairs(
        docs, sigs, bands=1, hashed_buckets=False, min_jaccard=0.5,
    ).collect()))
    assert got == [(1, 2, 0.888889), (1, 2, 1.0)]


def test_dup_span_interval_arithmetic_matches_brute_force(spark):
    """r06 continuation: the per-doc interval-union coverage (stats)
    and interval cut (removal) must match a brute-force per-token
    reference, including adjacent/overlapping windows, the gap == n
    merge boundary, null and empty texts."""
    from go_htmldate_spark.operators.curation import (
        dup_span_stats, remove_dup_spans,
    )

    # tokens chosen so specific 3-gram windows duplicate:
    # 'a b c' appears in docs 1/2 (cross-doc), 'x y z x y z' repeats
    # within doc 3, doc 4 has no dups, doc 5 null, doc 6 empty string
    rows = [
        (1, "a b c d e f g"),
        (2, "q a b c r s t"),
        (3, "x y z x y z x y z"),
        (4, "unique words only here"),
        (5, None),
        (6, ""),
        (7, "a b c a b c d e"),  # overlapping + adjacent windows
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    n = 3

    # brute force in python
    import re
    toks = {i: (None if t is None else
                re.sub(r"\s+", " ", t).strip().lower().split(" "))
            for i, t in rows}
    from collections import Counter
    grams = Counter()
    for t in toks.values():
        if t is None:
            continue
        for p in range(len(t) - n + 1):
            grams[" ".join(t[p:p + n])] += 1
    want_stats, want_rm = {}, {}
    for i, t in toks.items():
        if t is None:
            want_stats[i] = (0, 0, 0, 0.0)
            want_rm[i] = ("", 0, 0)
            continue
        starts = [p for p in range(len(t) - n + 1)
                  if grams[" ".join(t[p:p + n])] >= 2]
        cov = set()
        for s in starts:
            cov.update(range(s, s + n))
        frac = round(len(cov) / len(t), 6) if t else 0.0
        want_stats[i] = (len(t), max(len(t) - n + 1, 0), len(starts), frac)
        kept = [w for p, w in enumerate(t) if p not in cov]
        want_rm[i] = (" ".join(kept), len(t), len(cov))

    got_stats = {r["doc_id"]: (r["n_tok"], r["n_windows"],
                               r["n_dup_windows"], r["dup_token_frac"])
                 for r in dup_span_stats(docs, n=n).collect()}
    got_rm = {r["doc_id"]: (r["clean_text"], r["n_tok"], r["n_removed"])
              for r in remove_dup_spans(docs, n=n).collect()}
    assert got_stats == want_stats
    assert got_rm == want_rm


def test_pagination_chains_local_matches_distributed(spark, monkeypatch):
    """r06 continuation: the driver-side chain walk must return EXACTLY
    the distributed doubling loop's rows (forced via a zero edge cap),
    including cycles, shared-parent min collapse, and deep chains past
    max_pages."""
    from go_htmldate_spark.plans import pagination as P

    edges = [(f"u{i}", f"u{i+1}") for i in range(5)]          # plain chain
    edges += [("c0", "c1"), ("c1", "c2"), ("c2", "c0")]       # cycle
    edges += [("t0", "c0")]                                   # tail into cycle
    edges += [("a", "m"), ("b", "m"), ("m", "m2")]            # parent conflict
    edges += [(f"d{i}", f"d{i+1}") for i in range(9)]         # deep chain
    df = spark.createDataFrame(edges, "src_url string, dst_url string")
    fast = sorted(map(tuple, P.pagination_chains(
        df, max_pages=4).collect()))
    monkeypatch.setattr(P, "_PAGINATION_EDGE_CAP", 0)
    dist = sorted(map(tuple, P.pagination_chains(
        df, max_pages=4).collect()))
    monkeypatch.undo()
    assert fast == dist and fast


def test_hostgraph_local_fast_paths_match_distributed(spark, monkeypatch):
    """r06 continuation: the driver-side pagerank/hits/trustrank fast
    paths must return EXACTLY the distributed sweeps' rows (forced via
    a zero edge cap)."""
    from go_htmldate_spark.plans import hostgraph as H

    edges = spark.createDataFrame(
        [(f"h{i % 7}", f"h{(i * 3 + 1) % 7}") for i in range(30)]
        + [("h0", "h8"), ("h8", "h0"), ("isolated_src", "h1")],
        "src string, dst string",
    )
    seeds = spark.createDataFrame([("h0",), ("h3",)], "host string")

    def both(fn):
        fast = sorted(map(tuple, fn().collect()))
        monkeypatch.setattr(H, "_HOSTGRAPH_EDGE_CAP", 0)
        dist = sorted(map(tuple, fn().collect()))
        monkeypatch.undo()
        assert fast == dist and fast
        return fast

    both(lambda: H.host_pagerank(edges, iters=3))
    both(lambda: H.host_hits(edges, iters=2))
    both(lambda: H.host_trustrank(edges, seeds, iters=3))
