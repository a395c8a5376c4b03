"""Deduplication operators: exact, MinHash+LSH, SimHash, n-gram Jaccard.

Scale notes (the 100 TB story):
- exact: one shuffle on the 128-bit content hash; map-side partial agg
  makes the shuffle carry one row per distinct hash per partition.
- MinHash+LSH: signatures are computed natively (no Python) per row;
  the only shuffle is the band-bucket groupBy, whose fan-in is bounded
  by collecting at most `max_bucket` ids per bucket (skew guard for
  boilerplate pages that all hash together).
- SimHash: 64-bit signature natively via bit ops; near-dup = identical
  signature buckets (probe-friendly at scale; Hamming-radius probing
  can be layered by re-bucketing with masked signatures).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


# -- portable 60-bit hash stream (identical in Spark and DuckDB) ------------
#
# xxhash64 is the fast path, but it exists only in Spark. For
# oracle-checkable runs we use the first 15 hex chars of md5 as a 60-bit
# integer; DuckDB computes the same value as
# CAST('0x' || substr(md5(s), 1, 15) AS BIGINT). Seeded variants prefix
# the key with "j:" — independent per seed (a KM double-hash h1 + j*h2
# was tried first, but its correlated per-seed minima break the J^r band
# collision probability LSH relies on).

def md5_h1(col: Column) -> Column:
    return F.conv(F.substring(F.md5(col), 1, 15), 16, 10).cast("long")


def _spread_input(df: DataFrame) -> DataFrame:
    """Scale-adaptive input spread for the per-row hashing stages.

    A corpus read from a single parquet file (1 row group = 1
    unsplittable scan task) serializes the whole shingle/token hashing
    onto one core no matter how many the session has. When the input
    arrives with fewer partitions than cores, round-robin it across
    defaultParallelism before the map-side work (optimization guide
    §2.5, input skew: repartition right after the read). Round-robin —
    not hash — so the operators' single-hash-exchange plan contract
    (test_plan_shape) is preserved; the per-row signatures are
    partitioning-invariant, so results are identical. Inputs already
    partitioned at or above core count (the real-deployment shape) pass
    through untouched."""
    sc = df.sparkSession.sparkContext
    n = sc.defaultParallelism
    try:
        cur = df.rdd.getNumPartitions()
    except Exception:  # pragma: no cover - planning quirk, stay safe
        return df
    return df.repartition(n) if cur < n else df


def md5_seeded(seed: int, col: Column) -> Column:
    return md5_h1(F.concat(F.lit(f"{seed}:"), col))


def _md5_shingle_hash_table(exploded: DataFrame, n_hashes: int):
    """Hash each DISTINCT shingle once instead of each occurrence.

    The portable md5 family costs n_hashes md5+hex+conv chains per
    shingle OCCURRENCE — the dominant term of the signature stage
    (guide §1.2 step 1: don't compute things twice). Shingle text is
    drawn from a bounded alphabet (≤ |charset|^k distinct k-grams, and
    in practice a small multiple of the vocabulary), so the distinct
    table is orders of magnitude smaller than the occurrence stream:
    hash it once and broadcast the (shingle → n_hashes hashes) row back
    onto the occurrences. min over joined hashes == min over inline
    hashes — the VALUES are identical, only where the md5 is evaluated
    moves. Guarded by an exact capped count (one distinct pass, no
    md5): above the cap the broadcast would no longer be safe and the
    caller keeps the inline per-occurrence form, so the 100 TB
    behavior is unchanged unless the data proves the table small."""
    if exploded.isStreaming:
        return None
    # ~48 MB broadcast budget: n_hashes longs + the shingle bytes per row
    cap = max(65_536, (48 << 20) // (8 * n_hashes + 24))
    rows = exploded.select("_sh").distinct().limit(cap + 1).collect()
    if len(rows) > cap:
        return None  # pragma: no cover - data-dependent fallback
    # hash the collected shingles in PYTHON: hashlib.md5 over the same
    # UTF-8 bytes == Spark's md5(), and int(hex[:15], 16) == the
    # conv(substring(md5, 1, 15), 16, 10) cast — bit-identical (pinned
    # end-to-end against the inline path in tests). This saves a second
    # full explode pass: the distinct collect is the only corpus scan
    # the table costs, and the collect is bounded by the cap.
    import hashlib

    data = []
    for r in rows:
        sh = r["_sh"]
        if sh is None:
            continue  # null shingles stay null through the left join
        data.append((sh, *[
            int(hashlib.md5(f"{j}:{sh}".encode()).hexdigest()[:15], 16)
            for j in range(n_hashes)
        ]))
    if not data:
        return None  # pragma: no cover - all-null corpus
    schema = "_sh string, " + ", ".join(f"_h{j} long" for j in range(n_hashes))
    return exploded.sparkSession.createDataFrame(data, schema)


def exact_dedup(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Keep the lowest-id row per exact content hash. groupBy (not a
    window) so the partial agg combines map-side before the shuffle."""
    fp = F.md5(F.col(text_col))
    keep = (
        df.select(fp.alias("fp"), F.col(id_col))
        .groupBy("fp")
        .agg(F.min(id_col).alias(id_col))
    )
    return df.join(keep, on=id_col, how="inner").drop("fp")


def exact_dup_groups(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Duplicate-group summary: one row per content hash with count and
    representative id."""
    return (
        df.select(F.md5(F.col(text_col)).alias("fp"), F.col(id_col))
        .groupBy("fp")
        .agg(F.count("*").alias("n_dups"), F.min(id_col).alias("rep_id"))
        .filter(F.col("n_dups") > 1)
    )


# ---------------------------------------------------------------------------
# MinHash + LSH
# ---------------------------------------------------------------------------

def minhash_signatures(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n_hashes: int = 64,
    shingle_k: int = 5,
    hash_family: str = "xxhash64",
) -> DataFrame:
    """doc → array<long> of n_hashes minima over hash(seed, shingle).

    Shape: explode shingles once, then n_hashes MIN aggregates. Catalyst
    would otherwise re-inline the shingling expression into every seed's
    lambda (interpreted HOFs have no common-subexpression elimination) —
    the explode evaluates it exactly once per document, and the groupBy
    combines map-side, so the shuffle carries one signature row per doc.

    hash_family: "xxhash64" (fast, JVM-native) or "md5_seeded" —
    seed-prefixed md5 prefixes, bit-reproducible in DuckDB for the
    correctness oracle. Same banding algebra either way."""
    norm = F.lower(F.trim(F.regexp_replace(F.col(text_col), r"\s+", " ")))
    out = _spread_input(df).withColumn(f"_norm_{text_col}", norm)
    # Shingles come from exploding the POSITION sequence and slicing
    # with a plain substring(col, p, k) — all codegen'd. The previous
    # transform-lambda array build evaluated interpreted per shingle
    # (lambda HOFs have no whole-stage codegen). array_distinct is
    # dropped on purpose: min over the duplicate multiset equals min
    # over the set, so dedup before the agg only cost memory.
    # length < k (incl. empty text) degenerates to p=1 → the whole
    # string as one shingle, exactly like the old array(_norm) branch.
    exploded = out.select(
        F.col(id_col),
        F.explode(
            F.expr(
                f"sequence(1, greatest(length(_norm_{text_col}) - {shingle_k - 1}, 1))"
            )
        ).alias("_p"),
        F.col(f"_norm_{text_col}"),
    ).select(
        F.col(id_col),
        F.expr(f"substring(_norm_{text_col}, _p, {shingle_k})").alias("_sh"),
    )
    if hash_family == "md5_seeded":
        htab = _md5_shingle_hash_table(exploded, n_hashes)
        if htab is not None:
            # left join: a NULL shingle (null text) keeps its row with
            # null hashes, matching the inline path's null signature
            joined = exploded.join(F.broadcast(htab), "_sh", "left")
            mins = [F.min(F.col(f"_h{j}")).alias(f"_m{j}") for j in range(n_hashes)]
            return joined.groupBy(id_col).agg(*mins).select(
                F.col(id_col),
                F.array(*[F.col(f"_m{j}") for j in range(n_hashes)]).alias("minhash"),
            )
        mins = [  # pragma: no cover - data-dependent fallback
            F.min(md5_seeded(j, F.col("_sh"))).alias(f"_m{j}")
            for j in range(n_hashes)
        ]
    else:
        mins = [
            F.min(F.xxhash64(F.lit(seed), F.col("_sh"))).alias(f"_m{seed}")
            for seed in range(n_hashes)
        ]
    return exploded.groupBy(id_col).agg(*mins).select(
        F.col(id_col),
        F.array(*[F.col(f"_m{seed}") for seed in range(n_hashes)]).alias("minhash"),
    )


def _cap_buckets(banded: DataFrame, id_col: str, max_bucket: int) -> DataFrame:
    """Keep the max_bucket SMALLEST ids of each (band, bucket) group —
    the skew guard for boilerplate that all hashes together.

    Scale note: the cap is a row_number window, not a slice of the
    collected list, so a boilerplate mega-bucket (10^7 identical pages
    in one band bucket at 100 TB) streams through the window's
    sort-based processing and is cut to max_bucket rows before any
    aggregation buffer materializes it. A groupBy on the same
    (band, bucket) key after it reuses the window's exchange —
    plan-pinned in test_plan_shape.py."""
    from pyspark.sql import Window

    w = Window.partitionBy("band", "bucket").orderBy(F.col(id_col).asc())
    return (
        banded.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") <= max_bucket)
        .drop("_rn")
    )


def _bucket_rows(
    banded: DataFrame, id_col: str, max_bucket: int, *payload: str
) -> DataFrame:
    """Capped (band, bucket) groups with at least two members, one row
    each: `ids` ascending, plus one array per payload column aligned
    with it. Members are collected as structs, so a null payload keeps
    its slot; null ids drop after the cap, as collect_list drops them.

    The rows are spread round-robin over the session's cores: AQE
    coalesces the byte-small aggregate to 1-2 post-shuffle partitions,
    which would serialize the per-bucket pair work onto 1-2 cores
    (r06). Per-bucket output does not depend on the partitioning."""
    members = F.sort_array(F.collect_list(F.struct(id_col, *payload)))
    rows = (
        _cap_buckets(banded, id_col, max_bucket)
        .filter(F.col(id_col).isNotNull())
        .groupBy("band", "bucket")
        .agg(members.alias("_m"))
        .filter(F.size("_m") > 1)
        .select(
            F.col("_m")[id_col].alias("ids"),
            *[F.col("_m")[c].alias(c) for c in payload],
        )
    )
    return rows.repartition(banded.sparkSession.sparkContext.defaultParallelism)


def bucket_candidate_pairs(
    banded: DataFrame, id_col: str, max_bucket: int
) -> DataFrame:
    """(id, band, bucket) → distinct candidate pairs (a < b) sharing a
    bucket. Each bucket is bounded at its max_bucket SMALLEST ids
    (`_cap_buckets`); pair fan-out happens bucket-locally, no self-join
    of the banded table."""
    buckets = _bucket_rows(banded, id_col, max_bucket)
    # pair fan-out as two chained generates over the SORTED ids array:
    # a at position i pairs with the slice after it (ids are distinct
    # and ascending, so the tail is exactly {b > a}). The previous
    # nested transform/filter/struct + flatten form built a
    # bucket²-sized array of structs per bucket row in interpreted HOFs
    # before exploding — measured 1.5x slower at 9.4M pairs (r06) for
    # the same output set.
    return (
        buckets.select("ids", F.posexplode("ids").alias("_i", "a"))
        .select(
            "a",
            F.explode(F.expr("slice(ids, _i + 2, size(ids))")).alias("b"),
        )
        .distinct()
    )


def band_signatures(
    signatures: DataFrame,
    id_col: str = "doc_id",
    bands: int = 16,
    hashed_buckets: bool = True,
) -> DataFrame:
    """(id, minhash) → (id, band, bucket): the LSH band-index rows.
    This IS the persistable dedup state — written bucketed by
    (band, bucket) it becomes the corpus-side index that
    `incremental_dedup` probes without ever re-pairing the corpus
    against itself.

    hashed_buckets=True compresses each band slice to an xxhash64 key
    (the at-scale shape); False keeps the raw comma-joined slice string
    so the bucket key is reproducible in the DuckDB oracle."""
    return signatures.select(
        F.col(id_col),
        F.posexplode(_band_keys(bands, hashed_buckets)).alias("band", "bucket"),
    )


def _band_keys(bands: int, hashed_buckets: bool) -> Column:
    """The `minhash` column's per-band bucket keys, as one array."""
    sig = F.col("minhash")
    rows_per_band = F.size(sig) / F.lit(bands)

    def band_key(b):
        slice_str = F.concat_ws(
            ",",
            F.slice(
                sig,
                (b * rows_per_band + 1).cast("int"),
                rows_per_band.cast("int"),
            ).cast("array<string>"),
        )
        return F.xxhash64(slice_str, b) if hashed_buckets else slice_str

    return F.transform(F.sequence(F.lit(0), F.lit(bands - 1)), band_key)


def lsh_candidate_pairs(
    signatures: DataFrame,
    id_col: str = "doc_id",
    bands: int = 16,
    max_bucket: int = 64,
    hashed_buckets: bool = True,
) -> DataFrame:
    """Band the signatures, bucket-join, emit candidate near-dup pairs
    (a < b). max_bucket caps pathological buckets (boilerplate skew)."""
    banded = band_signatures(signatures, id_col, bands, hashed_buckets)
    return bucket_candidate_pairs(banded, id_col, max_bucket)


def _distinct_tokens(text_col: str) -> Column:
    """The Jaccard token set: whitespace-normalized, lowercased words."""
    norm = F.lower(F.trim(F.regexp_replace(F.col(text_col), r"\s+", " ")))
    return F.array_distinct(F.split(norm, " "))


def lsh_jaccard_verified_pairs(
    df: DataFrame,
    signatures: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    bands: int = 16,
    max_bucket: int = 64,
    hashed_buckets: bool = True,
    min_jaccard: float = 0.5,
) -> DataFrame:
    """lsh_candidate_pairs + exact distinct-token Jaccard in one pass:
    the rows of the lsh_candidate_pairs → jaccard_verify_pairs
    composition (pinned in tests) without ever materializing the
    candidate pairs as Spark rows. The candidate set is typically
    100-1000x the verified set, so its explode + distinct exchange and
    the token-array join behind it would dominate (guide §8: decide
    with small rows).

    Each document's distinct-token array joins its signature BEFORE the
    band explode, so every capped (band, bucket) row carries its
    members' token arrays (LCJoin's per-group verify). One Python pass
    walks each bucket's pairs, keeps those whose integer
    (|A∩B|, |A∪B|) clear the threshold minus a margin, and only those
    integers come back; Spark re-derives the exact double division,
    threshold and rounding, so boundary behavior is bit-identical to
    jaccard_verify_pairs. Nothing is collected to or broadcast from the
    driver. A null text has a null token array and pairs with nothing.

    Ids are assumed unique in `df` and in `signatures`. A duplicated id
    is not merged: each of its rows is scored with its own token set,
    so an id pair can come back once per distinct (|A∩B|, |A∪B|) its
    rows reach, and two rows that share an id never pair."""
    toks = df.select(F.col(id_col), _distinct_tokens(text_col).alias("_t"))
    # tokens join the signatures before the explode, not the banded
    # rows after it: the join then moves one row per document instead
    # of one per (document, band)
    banded = signatures.join(toks, id_col).select(
        F.col(id_col),
        "_t",
        F.posexplode(_band_keys(bands, hashed_buckets)).alias("band", "bucket"),
    )
    # keep-threshold with a 1e-9 cushion: the exact Spark-side filter
    # below re-decides the boundary from the exact integers, so the
    # cushion only ever lets a boundary pair THROUGH to the exact test
    thr = float(min_jaccard) - 1e-9

    def gen(batches):
        import pandas as pd

        for pdf in batches:
            out_a, out_b, out_i, out_u = [], [], [], []
            for ids, arrays in zip(pdf["ids"], pdf["_t"]):
                ids = ids.tolist()
                sets = [None if t is None else set(t) for t in arrays]
                k = len(ids)
                for x in range(k - 1):
                    sa = sets[x]
                    if sa is None:
                        continue
                    a = ids[x]
                    la = len(sa)
                    for y in range(x + 1, k):
                        sb = sets[y]
                        if sb is None or ids[y] == a:
                            continue
                        inter = len(sa & sb)
                        union = la + len(sb) - inter
                        if inter >= thr * union:
                            out_a.append(a)
                            out_b.append(ids[y])
                            out_i.append(inter)
                            out_u.append(union)
            yield pd.DataFrame({
                "a": pd.Series(out_a, dtype="int64"),
                "b": pd.Series(out_b, dtype="int64"),
                "_i": pd.Series(out_i, dtype="int64"),
                "_u": pd.Series(out_u, dtype="int64"),
            })

    counts = (
        _bucket_rows(banded, id_col, max_bucket, "_t")
        .mapInPandas(gen, "a long, b long, _i long, _u long")
        .distinct()
    )
    jac = F.col("_i").cast("double") / F.col("_u")
    return (
        counts.withColumn("jaccard", F.round(jac, 6))
        .filter(jac >= F.lit(min_jaccard))
        .select("a", "b", "jaccard")
    )


def incremental_dedup(
    corpus_sigs: DataFrame,
    new_sigs: DataFrame,
    id_col: str = "doc_id",
    bands: int = 16,
    max_bucket: int = 64,
    threshold: float = 0.5,
    hashed_buckets: bool = True,
) -> DataFrame:
    """Dedup a NEW batch against an EXISTING corpus in O(new): band the
    new batch's signatures and probe the corpus band index — never
    corpus × corpus. This is the dedup analog of the frontier's
    O(new) seen-filter discipline: each monthly snapshot is compared
    against the full crawl history at the cost of the snapshot, not
    the history (the deployment shape of MinHash dedup in
    RefinedWeb / FineWeb across crawl dumps; Broder's resemblance
    sketching, SEQUENCES '97, unchanged underneath).

    Returns one row per new document: (id, dup_of, est_jaccard,
    is_dup) — dup_of is the best-matching corpus id (ties: highest
    estimated Jaccard, then smallest id), NULL when no band collides.

    Scale shape: the corpus index (`band_signatures` output, written
    bucketed by (band, bucket)) never reshuffles — only the new
    batch's O(new × bands) rows move to it. A boilerplate mega-bucket
    on the corpus side is capped to its max_bucket smallest ids with
    the same pre-collect row_number guard as `bucket_candidate_pairs`
    (`_cap_buckets`). The signature re-join for Jaccard estimation
    touches only colliding pairs."""
    idx = _cap_buckets(
        band_signatures(corpus_sigs, id_col, bands, hashed_buckets),
        id_col, max_bucket,
    ).select(F.col(id_col).alias("_corpus_id"), "band", "bucket")
    probes = band_signatures(new_sigs, id_col, bands, hashed_buckets)
    cand = (
        probes.join(idx, ["band", "bucket"])
        .select(F.col(id_col).alias("_new_id"), "_corpus_id")
        .distinct()
    )
    sa = new_sigs.select(
        F.col(id_col).alias("_new_id"), F.col("minhash").alias("_sig_n")
    )
    sb = corpus_sigs.select(
        F.col(id_col).alias("_corpus_id"), F.col("minhash").alias("_sig_c")
    )
    est = (
        cand.join(sa, "_new_id").join(sb, "_corpus_id")
        .select(
            "_new_id",
            "_corpus_id",
            (
                F.size(
                    F.filter(
                        F.zip_with(
                            F.col("_sig_n"), F.col("_sig_c"),
                            lambda x, y: x == y,
                        ),
                        lambda eq: eq,
                    )
                ).cast("double")
                / F.size("_sig_n")
            ).alias("_est"),
        )
    )
    # best match per new id as ONE map-side-combinable aggregate
    # instead of a window sort over every candidate pair (r06):
    # min(struct(-est, corpus_id)) is exactly row_number()=1 under
    # (est desc, corpus asc) — est is negated (doubles negate exactly;
    # -(-0.0) == +0.0 so the emitted value is bit-identical) rather
    # than the id, which could overflow a long
    best = (
        est.groupBy("_new_id")
        .agg(F.min(F.struct(
            (-F.col("_est")).alias("_ne"), F.col("_corpus_id").alias("_c")
        )).alias("_b"))
        .select(
            "_new_id",
            F.col("_b._c").alias("_corpus_id"),
            (-F.col("_b._ne")).alias("_est"),
        )
    )
    return (
        new_sigs.select(F.col(id_col))
        .join(best, new_sigs[id_col] == best["_new_id"], "left")
        .select(
            F.col(id_col),
            F.col("_corpus_id").alias("dup_of"),
            F.round(F.col("_est"), 6).alias("est_jaccard"),
            F.coalesce(
                F.col("_est") >= F.lit(float(threshold)), F.lit(False)
            ).alias("is_dup"),
        )
    )


# ---------------------------------------------------------------------------
# SimHash
# ---------------------------------------------------------------------------

def simhash(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n_bits: int = 64,
    hash_family: str = "xxhash64",
) -> DataFrame:
    """n_bits-wide SimHash natively: per token hash, add ±1 per bit
    position, sign-aggregate. SQL-lambda form because the Python
    shiftright wrapper only accepts constant bit counts.

    hash_family "md5_seeded" uses the DuckDB-reproducible 60-bit md5
    stream (cap n_bits ≤ 60 there) so the oracle can recompute
    signatures per bit. BOTH families run the SWAR accumulate — 16
    lane-packed counters with ONE mask+add per (token, lane-phase)
    instead of n_bits per-bit folds (identical sign rule: a bit is set
    iff 2·count_ones(bit) > n_tokens ⟺ the per-bit ±1 sum is positive;
    equality with the per-bit fold is test-pinned per family)."""
    norm = F.lower(F.trim(F.regexp_replace(F.col(text_col), r"\s+", " ")))
    tok_hash = md5_h1 if hash_family == "md5_seeded" else F.xxhash64
    with_hashes = _spread_input(df).select(
        F.col(id_col),
        F.transform(F.split(norm, " "), lambda t: tok_hash(t)).alias("_hashes"),
    )
    # SWAR path — BOTH families (r06: the md5 family previously ran a
    # per-bit fold, n_bits interpreted aggregate passes per doc vs the
    # SWAR's 16; the sign rules are algebraically identical —
    # sum(±1) > 0 ⟺ 2·count_ones > n_tokens — and equality is pinned
    # per family in tests): acc_p packs four 16-bit counters (bits p,
    # 16+p, 32+p, 48+p); lanes hold ≤ 65535 tokens, so cap there
    mask16 = 0x0001000100010001
    out = with_hashes.select(
        F.col(id_col),
        F.slice(F.col("_hashes"), 1, 65535).alias("_hashes"),
    )
    n_tok = F.size("_hashes")
    accs = [
        F.expr(
            f"aggregate(_hashes, 0L, (acc, h) -> "
            f"acc + (shiftrightunsigned(h, {p}) & {mask16}L))"
        ).alias(f"_acc{p}")
        for p in range(16)
    ]
    packed = out.select(id_col, n_tok.alias("_t"), *accs)
    bit_terms = []
    for p in range(16):
        for lane in range(4):
            b = 16 * lane + p
            if b >= n_bits:
                continue
            cnt = f"(shiftrightunsigned(_acc{p}, {16 * lane}) & 65535L)"
            bit_terms.append(
                f"CASE WHEN 2 * {cnt} > _t THEN shiftleft(1L, {b}) ELSE 0L END"
            )
    sig = F.expr(" | ".join(bit_terms))
    return packed.select(F.col(id_col), sig.alias("simhash"))


def simhash_dup_groups(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n_bits: int = 64,
    hash_family: str = "xxhash64",
) -> DataFrame:
    """Near-dup groups = identical simhash (radius-0 buckets)."""
    return (
        simhash(df, text_col, id_col, n_bits=n_bits, hash_family=hash_family)
        .groupBy("simhash")
        .agg(F.count("*").alias("n"), F.min(id_col).alias("rep_id"))
        .filter(F.col("n") > 1)
    )


def simhash_near_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    radius: int = 3,
    n_bits: int = 64,
    hash_family: str = "xxhash64",
    max_bucket: int = 256,
) -> DataFrame:
    """Near-dup pairs within Hamming distance ≤ radius, bucket-joined:
    split each signature into radius+1 disjoint bit-bands — by pigeonhole
    two signatures within the radius agree EXACTLY on at least one band —
    bucket-join on (band, band_bits), then verify the true distance with
    bit_count(xor). No all-pairs comparison anywhere; the only shuffle is
    the band groupBy. n_bits must be divisible by radius+1.

    Returns (a, b, hamming)."""
    bands = radius + 1
    if n_bits % bands:
        raise ValueError(f"n_bits={n_bits} not divisible by radius+1={bands}")
    w = n_bits // bands
    mask = (1 << w) - 1

    sigs = simhash(df, text_col, id_col, n_bits=n_bits, hash_family=hash_family)
    if not sigs.isStreaming:
        # sigs is referenced THREE times below (banding + both verify
        # join sides) and the signature projection is map-only — no
        # exchange for ReuseExchange to latch onto — so without a
        # barrier the whole per-token hash/fold chain runs 3x over the
        # corpus. localCheckpoint materializes the (id, simhash) rows
        # once; they are 16 bytes/doc, far cheaper than recompute.
        sigs = sigs.localCheckpoint(eager=False)
    # Two-level banding (r06): one-level buckets key on w bits only,
    # and on clustered corpora (correlated signature bits) they explode
    # — measured at sf1: 72.6M candidate pairs for 160k true pairs.
    # Pigeonhole applies RECURSIVELY: if two signatures agree exactly
    # on band b, their ≤ radius errors all lie in the remaining
    # n_bits - w bits, so splitting THOSE into radius+1 covering
    # sub-bands guarantees one exact sub-band too. Keying the bucket on
    # (band bits ‖ sub-band bits) keeps the candidate set COMPLETE
    # (every true pair still shares ≥ 1 of the (radius+1)² composite
    # keys) while squaring the selectivity; the final bit_count(xor)
    # verify is unchanged, so the output is identical.
    rem_bits = n_bits - w
    two_level = rem_bits >= bands
    entries = []
    if two_level:
        sub_w = rem_bits // bands
        for b in range(bands):
            low_mask = (1 << (b * w)) - 1
            # remaining bits with band b's slice cut out, as one value;
            # the high part is masked to its true width — `>>` is an
            # ARITHMETIC shift (sign-extends 64-bit signatures, and a
            # shift by 64 is a Java no-op), so without the mask the
            # sign bit would leak into the key and break pigeonhole
            # completeness for sign-differing pairs
            high_mask = (1 << ((bands - 1 - b) * w)) - 1
            rem_expr = (
                f"((((simhash >> {(b + 1) * w}) & {high_mask}) << {b * w})"
                f" | (simhash & {low_mask}))"
            )
            for s in range(bands):
                # last sub-band absorbs the remainder so the sub-bands
                # COVER every remaining bit (pigeonhole needs coverage)
                if s < bands - 1:
                    sub_expr = f"(({rem_expr} >> {s * sub_w}) & {(1 << sub_w) - 1})"
                else:
                    sub_expr = f"({rem_expr} >> {s * sub_w})"
                entries.append(
                    F.expr(
                        f"(((simhash >> {b * w}) & {mask}) << {rem_bits})"
                        f" | {sub_expr}"
                    )
                )
    else:
        entries = [
            F.expr(f"(simhash >> {b * w}) & {mask}") for b in range(bands)
        ]
    banded = sigs.select(
        F.col(id_col),
        F.posexplode(F.array(*entries)).alias("band", "bucket"),
    )
    pairs = bucket_candidate_pairs(banded, id_col, max_bucket)

    sa = sigs.select(F.col(id_col).alias("a"), F.col("simhash").alias("_sig_a"))
    sb = sigs.select(F.col(id_col).alias("b"), F.col("simhash").alias("_sig_b"))
    return (
        pairs.join(sa, "a").join(sb, "b")
        .withColumn(
            "hamming",
            F.bit_count(F.col("_sig_a").bitwiseXOR(F.col("_sig_b"))).cast("long"),
        )
        .filter(F.col("hamming") <= radius)
        .select("a", "b", "hamming")
    )


# ---------------------------------------------------------------------------
# connected components / semantic dedup
# ---------------------------------------------------------------------------

def connected_components(
    pairs: DataFrame, a_col: str = "a", b_col: str = "b", max_iter: int = 25
) -> DataFrame:
    """(a,b) undirected near-dup edges → (id, comp) with comp = smallest
    id in the component.

    Min-label propagation accelerated with pointer jumping: each sweep
    takes the min over graph neighbors AND shortcuts through the label
    of the current label (path halving), so convergence needs
    O(log diameter) sweeps, not O(diameter) — 25 sweeps covers any
    component a real near-dup graph can produce.

    Fault tolerance: when the session has a reliable checkpoint dir
    (spark.sparkContext.setCheckpointDir — HDFS/S3 on a real cluster),
    per-sweep state is checkpointed there and survives executor loss;
    otherwise it falls back to localCheckpoint (executor-local blocks,
    fine for local mode). Lineage truncates either way, so plans stay
    flat. Convergence is probed with a limit-1 scan of the just-
    checkpointed `changed` flags — no full count job per sweep."""
    import warnings

    sc = pairs.sparkSession.sparkContext

    def ckpt(df: DataFrame) -> DataFrame:
        if sc.getCheckpointDir() is not None:
            return df.checkpoint(eager=True)
        return df.localCheckpoint(eager=True)

    edges = pairs.select(F.col(a_col).alias("x"), F.col(b_col).alias("y"))
    edges = ckpt(
        edges.unionByName(
            edges.select(F.col("y").alias("x"), F.col("x").alias("y"))
        ).distinct()
    )
    labels = ckpt(
        edges.select("x")
        .distinct()
        .select(F.col("x").alias("id"), F.col("x").alias("comp"))
    )
    converged = False
    for _ in range(max_iter):
        nbr_min = (
            edges.join(labels, edges["y"] == labels["id"])
            .groupBy("x").agg(F.min("comp").alias("nbr_comp"))
        )
        stepped = (
            labels.join(nbr_min, labels["id"] == nbr_min["x"], "left")
            .select(
                "id",
                F.col("comp").alias("prev"),
                F.least(F.col("comp"), F.coalesce("nbr_comp", "comp")).alias(
                    "comp"
                ),
            )
        )
        # pointer jumping: comp ← min(comp, label(comp)); labels only
        # decrease and stay in-component, so this halves path lengths
        hop = labels.select(
            F.col("id").alias("h_id"), F.col("comp").alias("h_comp")
        )
        final_comp = F.least(F.col("comp"), F.coalesce("h_comp", "comp"))
        new_labels = ckpt(
            stepped.join(hop, stepped["comp"] == hop["h_id"], "left")
            .select(
                "id",
                final_comp.alias("comp"),
                (final_comp != F.col("prev")).alias("_stepped"),
            )
        )
        labels = new_labels.select("id", "comp")
        # limit-1 probe over checkpointed flags — early-exits on the
        # first changed row instead of counting them all
        changed = new_labels.filter("_stepped").limit(1).count()
        if changed == 0:
            converged = True
            break
    if not converged:
        warnings.warn(
            f"connected_components: not converged after {max_iter} sweeps; "
            "labels may be partially propagated (under-deduplication)",
            RuntimeWarning,
        )
    return labels


# ---------------------------------------------------------------------------
# n-gram Jaccard (exact, for candidate verification / small scopes)
# ---------------------------------------------------------------------------

def jaccard_verify_pairs(
    df: DataFrame,
    pairs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    min_jaccard: float = 0.5,
) -> DataFrame:
    """Exact distinct-token Jaccard over CANDIDATE pairs, cost O(pairs):
    the token-set join shuffles on the pair ids and the intersection
    runs JVM-native (array_intersect). The test reference for
    lsh_jaccard_verified_pairs, which verifies inside the buckets."""
    toks = df.select(F.col(id_col), _distinct_tokens(text_col).alias("_t"))

    # inline on purpose: r06 A/B'd a staged-intersect + barrier variant
    # (array_intersect spelled once) and it was 3x SLOWER (44.7 s vs
    # 13.0 s at sf1) — whole-stage codegen CSE already evaluates the
    # duplicated intersect once within the stage. A broadcast-token-set
    # Python pass over the pair stream was also A/B'd this round and
    # broke even (the collect+broadcast cost what the join saved); the
    # winning shape is the bucket-fused lsh_jaccard_verified_pairs,
    # which never materializes the candidate pairs at all.
    ta = toks.select(F.col(id_col).alias("a"), F.col("_t").alias("_ta"))
    tb = toks.select(F.col(id_col).alias("b"), F.col("_t").alias("_tb"))
    joined = pairs.join(ta, "a").join(tb, "b")
    inter = F.size(F.array_intersect("_ta", "_tb"))
    union = F.size("_ta") + F.size("_tb") - inter
    jac = inter.cast("double") / union
    return (
        joined.withColumn("jaccard", F.round(jac, 6))
        .filter(jac >= F.lit(min_jaccard))
        .select("a", "b", "jaccard")
    )
