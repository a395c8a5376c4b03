"""Corpus-curation operators: deterministic stratified sampling and
benchmark n-gram decontamination — the two remaining staples of a
training-data pipeline beyond dedup/quality (SURVEY.md §2 extensions).

Both are fully native (no Python in the hot path) and DuckDB-oracle
checkable: sampling decisions come from the portable 60-bit md5 stream
(operators/dedup.md5_h1 — DuckDB recomputes the same uniform), and
contamination joins on the n-gram STRING (exact; at 100 TB pass
hashed=True to shuffle xxhash64 longs instead of strings).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from .dedup import md5_h1
from .textstats import word_ngrams

_U60 = float(1 << 60)


def sample_uniform(key: Column, seed: int = 0) -> Column:
    """Deterministic uniform in [0, 1) from a row key: the 60-bit md5
    prefix of 'seed:key' scaled down. Reproducible across engines (the
    DuckDB oracle recomputes it bit-for-bit) and across reruns — the
    sampling decision is a pure function of (seed, key), which is what
    makes a 100 TB sample auditable and resumable."""
    return md5_h1(F.concat(F.lit(f"{seed}:"), key.cast("string"))) / F.lit(_U60)


def stratified_sample(
    df: DataFrame,
    strata_col: str,
    fractions: dict[str, float],
    key_col: str,
    seed: int = 0,
    default_fraction: float = 0.0,
) -> DataFrame:
    """Keep each row iff its deterministic uniform is below its
    stratum's fraction — hash-threshold stratified sampling (the
    training-mix primitive: e.g. keep 100% of en, 30% of de, 5% of the
    rest). Map-only: no shuffle, no state, exact reproducibility;
    strata fractions ride as a literal CASE, so Catalyst folds them
    into the scan filter."""
    u = sample_uniform(F.col(key_col), seed)
    frac = F.lit(default_fraction)
    for stratum, f in sorted(fractions.items()):
        frac = F.when(F.col(strata_col) == stratum, F.lit(float(f))).otherwise(frac)
    return df.filter(u < frac)


def ngram_contamination(
    docs: DataFrame,
    benchmark: DataFrame,
    n: int = 8,
    text_col: str = "text",
    id_col: str = "doc_id",
    bench_text_col: str | None = None,
    hashed: bool = False,
    broadcast_benchmark: bool = True,
) -> DataFrame:
    """Per-document benchmark contamination: the fraction of the
    document's distinct word n-grams that appear anywhere in the
    benchmark corpus (the standard train/test decontamination test —
    e.g. 8-gram ("13-gram" in token terms) overlap in GPT-3/Gopher
    dataset reports).

    Returns (id, n_grams, n_contaminated, contamination_frac).

    Scale shape: the benchmark side reduces to its DISTINCT n-gram set
    (one shuffle over the benchmark only, typically tiny vs the corpus);
    the doc side explodes to distinct (id, gram) pairs and LEFT SEMI
    logic is expressed as an aggregated left join so one pass computes
    both totals. hashed=True joins on xxhash64(gram) so the shuffle
    carries 8-byte keys instead of strings (collision odds ~n²/2⁶⁴ —
    the at-scale default; keep strings for oracle-exact runs).
    broadcast_benchmark (default True) broadcasts the distinct
    benchmark gram set — benchmark suites are small by construction,
    and broadcasting removes the shuffle of the full doc-gram stream
    onto the join key (at 100 TB that shuffle dwarfs everything else);
    set False if the benchmark side is genuinely large."""
    bench_text = bench_text_col or text_col

    def gram_key(col: Column) -> Column:
        return F.xxhash64(col) if hashed else col

    # Doc-side grams use the bound-token array form (word_ngrams): the
    # old "~4x slower" HOF measurement predated the r06 bound-token fix
    # (the split chain used to re-run inside the per-gram lambda);
    # re-A/B'd this round the array form beats the posexplode + lead()
    # window by ~35% (no id-keyed exchange, no window sort) for the
    # identical gram stream.
    doc_grams = (
        docs.select(
            F.col(id_col), F.explode(word_ngrams(text_col, n)).alias("gram")
        )
        .filter(F.col("gram") != "")
        .select(F.col(id_col), gram_key(F.col("gram")).alias("g"))
        .distinct()
    )
    bench_grams = (
        benchmark.select(F.explode(word_ngrams(bench_text, n)).alias("gram"))
        .filter(F.col("gram") != "")
        .select(gram_key(F.col("gram")).alias("g"))
        .distinct()
        .withColumn("_hit", F.lit(1))
    )
    if broadcast_benchmark:
        bench_grams = F.broadcast(bench_grams)
    joined = doc_grams.join(bench_grams, "g", "left")
    out = joined.groupBy(id_col).agg(
        F.count(F.lit(1)).alias("n_grams"),
        F.coalesce(F.sum("_hit"), F.lit(0)).alias("n_contaminated"),
    )
    return out.select(
        F.col(id_col),
        "n_grams",
        "n_contaminated",
        F.round(
            F.col("n_contaminated").cast("double") / F.col("n_grams"), 6
        ).alias("contamination_frac"),
    )


# ---------------------------------------------------------------------------
# PII scrubbing (the redaction staple of web-text pipelines)
# ---------------------------------------------------------------------------
#
# Patterns are written in the RE2-compatible subset shared by Java
# regex (Spark) and RE2 (DuckDB) so the DuckDB oracle replays the exact
# same matches: no lookaround, no backrefs, character classes and \b
# only.

RX_EMAIL = r"[A-Za-z0-9._%+\-]+@[A-Za-z0-9.\-]+\.[A-Za-z]{2,}"
RX_IPV4 = r"\b[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\b"
RX_PHONE = r"\+[0-9][0-9 ()./\-]{6,}[0-9]"

_PII = (
    ("email", RX_EMAIL, "<EMAIL>"),
    ("ipv4", RX_IPV4, "<IP>"),
    ("phone", RX_PHONE, "<PHONE>"),
)


def pii_scrub(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Redact emails, IPv4 addresses, and international-format phone
    numbers, returning per-type match counts plus the scrubbed text
    (RefinedWeb/FineWeb-style PII removal). Map-only native Catalyst:
    three regexp_count + three chained regexp_replace, zero exchanges,
    so at 100 TB this is a pure scan-transform that rides whatever
    partitioning the corpus already has. Order matters: emails are
    scrubbed before phones so a numeric local-part can't be re-matched.
    Each count is taken on the PROGRESSIVELY-scrubbed text (after the
    prior replacements), mirroring the chained regexp_replace order —
    so overlapping matches ('+49123@x.de' as email then phone) are
    counted once and the counts reconcile exactly with the tokens
    present in clean_text."""
    counts = []
    clean = F.col(text_col)
    for name, rx, token in _PII:
        counts.append(F.regexp_count(clean, F.lit(rx)).alias(f"n_{name}"))
        clean = F.regexp_replace(clean, rx, token)
    return df.select(F.col(id_col), *counts, clean.alias("clean_text"))


# ---------------------------------------------------------------------------
# C4 / Gopher document-heuristic filters
# ---------------------------------------------------------------------------

def c4_heuristics(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id",
    min_words: int = 5, max_words: int = 100000,
    min_mean_word_len: float = 3.0, max_mean_word_len: float = 10.0,
) -> DataFrame:
    """Document-level heuristic quality flags in the style of C4
    (Raffel et al. 2020) and Gopher (Rae et al. 2021): word-count
    bounds, mean-word-length bounds, terminal punctuation, curly-brace
    / 'lorem ipsum' / 'javascript' exclusions; `c4_ok` is the AND of
    all rules. All native (split + HOF aggregate + contains), map-only,
    DuckDB-replicable. The corpus here is single-line, so C4's
    line-level variants collapse to the document level."""
    toks = F.split(F.trim(F.regexp_replace(F.col(text_col), r"\s+", " ")), " ")
    n_words = F.size(toks)
    mean_len = F.round(
        F.aggregate(
            toks, F.lit(0).cast("long"), lambda a, x: a + F.length(x)
        ).cast("double")
        / n_words,
        6,
    )
    lower = F.lower(F.col(text_col))
    ends_punct = F.trim(F.col(text_col)).rlike(r"""[.!?"']$""")
    has_brace = lower.contains("{") | lower.contains("}")
    has_lorem = lower.contains("lorem ipsum")
    has_js = lower.contains("javascript")
    ok = (
        (n_words >= min_words) & (n_words <= max_words)
        & (mean_len >= min_mean_word_len) & (mean_len <= max_mean_word_len)
        & ends_punct & ~has_brace & ~has_lorem & ~has_js
    )
    return df.select(
        F.col(id_col),
        n_words.cast("long").alias("n_words"),
        mean_len.alias("mean_word_len"),
        ends_punct.alias("ends_punct"),
        has_brace.alias("has_brace"),
        has_lorem.alias("has_lorem"),
        has_js.alias("has_js"),
        ok.alias("c4_ok"),
    )


# ---------------------------------------------------------------------------
# Per-host data card (corpus reporting)
# ---------------------------------------------------------------------------

def host_datacard(
    pages: DataFrame,
    url_col: str = "url",
    text_col: str = "text",
    lang_col: str = "lang",
) -> DataFrame:
    """Per-host corpus report — the "data card" aggregation every
    published web corpus ships (C4's and FineWeb's per-domain
    statistics; Dolma's source summaries): for each host, document and
    token counts, the C4-gate pass rate, mean document length, the
    majority language and its share. This is both the reporting
    artifact and the input to host-level curation decisions (a host
    with a 2% c4_ok rate is a boilerplate farm; `host_boilerplate` and
    the blocklist gates act on exactly these signals).

    Returns (host, n_docs, n_tokens, pct_c4_ok, mean_doc_chars,
    major_lang, major_lang_frac).

    Scale shape: ONE wide exchange — the per-document projection
    (tokenize + C4 flags, all codegen'd map-side) collapses into a
    groupBy on (host, lang) with map-side combine, so the shuffle
    carries O(hosts × langs) rows of counters, never text. The host
    totals and the majority-language window both run over that
    collapsed table (the `host_lang_budgets` discipline); their join
    is tiny-to-tiny. Division happens after exact int64 sums, so every
    double is reproducible under any partitioning."""
    from pyspark.sql import Window

    from go_htmldate_spark.plans.canonical import url_host

    # the per-document metadata rides THROUGH c4_heuristics as its id
    # column (a struct), so no row id and no join are ever needed —
    # the whole per-doc stage is one map-only projection
    meta = pages.select(
        F.struct(
            url_host(F.col(url_col)).alias("host"),
            F.coalesce(F.col(lang_col), F.lit("unknown")).alias("lang"),
            F.length(F.col(text_col)).cast("long").alias("chars"),
        ).alias("_meta"),
        F.col(text_col),
    )
    flags = c4_heuristics(meta, text_col=text_col, id_col="_meta")
    per_doc = flags.select(
        F.col("_meta.host").alias("host"),
        F.col("_meta.lang").alias("lang"),
        F.col("_meta.chars").alias("_chars"),
        "n_words",
        "c4_ok",
    ).filter(F.col("host") != "")
    g = per_doc.groupBy("host", "lang").agg(
        F.count(F.lit(1)).alias("_n"),
        F.sum("n_words").alias("_tok"),
        F.sum(F.col("c4_ok").cast("long")).alias("_ok"),
        F.sum("_chars").alias("_ch"),
    )
    totals = g.groupBy("host").agg(
        F.sum("_n").cast("long").alias("n_docs"),
        F.sum("_tok").cast("long").alias("n_tokens"),
        F.round(F.sum("_ok") / F.sum("_n"), 6).alias("pct_c4_ok"),
        F.round(F.sum("_ch") / F.sum("_n"), 6).alias("mean_doc_chars"),
    )
    w = Window.partitionBy("host").orderBy(
        F.col("_n").desc(), F.col("lang").asc()
    )
    major = (
        g.withColumn("_rn", F.row_number().over(w))
        .withColumn("_tot", F.sum("_n").over(Window.partitionBy("host")))
        .filter(F.col("_rn") == 1)
        .select(
            "host",
            F.col("lang").alias("major_lang"),
            F.round(F.col("_n") / F.col("_tot"), 6).alias("major_lang_frac"),
        )
    )
    return totals.join(major, "host")


# ---------------------------------------------------------------------------
# Sequence packing (concatenate-then-chunk training prep)
# ---------------------------------------------------------------------------

def pack_sequences(
    df: DataFrame,
    seq_len: int = 2048,
    n_shards: int = 8,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """GPT-style sequence packing: documents are concatenated in id
    order within a shard and chunked into fixed seq_len windows; each
    doc gets its token count, its start offset in the shard stream, and
    the first/last sequence index it lands in (a doc spanning a chunk
    boundary appears in both — the standard concatenate-then-chunk
    semantics, no padding waste).

    Scale shape: the cumulative sum is a window PARTITION BY shard
    ORDER BY id — one exchange on shard, each shard an independent
    parallel stream (shard = id % n_shards, the same layout a real
    writer uses for output files). No global single-task window: at
    100 TB you raise n_shards with the cluster, and packing stays
    embarrassingly parallel per shard."""
    from pyspark.sql import Window

    from .textstats import token_count

    toks = df.select(
        F.col(id_col),
        (F.col(id_col) % n_shards).alias("shard"),
        token_count(F.col(text_col)).cast("long").alias("n_tok"),
    )
    w = Window.partitionBy("shard").orderBy(id_col)
    cum = F.sum("n_tok").over(w)
    start = (cum - F.col("n_tok")).alias("start_offset")
    return toks.select(
        id_col, "shard", "n_tok",
        start,
        F.floor((cum - F.col("n_tok")) / seq_len).cast("long").alias("start_seq"),
        F.floor((cum - 1) / seq_len).cast("long").alias("end_seq"),
    )


# ---------------------------------------------------------------------------
# CCNet-style bigram-LM quality scoring
# ---------------------------------------------------------------------------

def lm_score(
    docs: DataFrame,
    reference: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Perplexity-style quality score against a reference language
    model, the CCNet/FineWeb curation signal (Wenzek et al. 2020): fit
    add-one-smoothed bigram counts on the reference corpus, then score
    each document by its average log P(w_i | w_{i-1}). Returns
    (id, n_bigrams, avg_logp, ppl); higher avg_logp = more
    reference-like text. Docs with fewer than two tokens have no
    bigrams and are omitted.

    Determinism contract (the oracle gate): each bigram's log-prob is
    rounded to 6 decimals, collected as (pos, lp) structs, sorted by
    position, and summed by an explicit left fold — so the double
    accumulation has ONE defined order and DuckDB reproduces it
    bit-for-bit (groupBy sum(double) would be partition-order
    dependent).

    Scale shape: the count tables are corpus-derived (potentially large
    at 100 TB) so the count joins stay shuffle joins on the bigram /
    unigram key and benefit from AQE; the vocabulary size rides as a
    one-row broadcast. The per-doc collect_list is bounded by document
    length, the same buffer shape as a minhash signature row."""
    def toks(col):
        return F.split(
            F.lower(F.trim(F.regexp_replace(col, r"\s+", " "))), " "
        )

    ref_toks = reference.select(
        F.explode(toks(F.col(text_col))).alias("w")
    ).filter(F.col("w") != "")
    uni = ref_toks.groupBy("w").agg(F.count(F.lit(1)).alias("cp"))
    vocab = uni.agg(
        F.count(F.lit(1)).cast("double").alias("v_size")
    )

    def bigrams(df):
        # bigram pairs as two zipped array slices (r06): arrays_zip +
        # slice are codegen'd array ops — no lambda HOF (interpreted)
        # and no posexplode + lead() window (an id-keyed exchange +
        # sort the array form never pays). Zip index == the previous
        # form's token position for every surviving row.
        t = df.select(F.col(id_col), toks(F.col(text_col)).alias("_t"))
        z = F.expr(
            "arrays_zip(slice(_t, 1, size(_t) - 1),"
            " slice(_t, 2, size(_t) - 1))"
        )
        return t.select(
            F.col(id_col), F.posexplode(z).alias("pos", "_bg")
        ).select(
            F.col(id_col), "pos",
            F.col("_bg").getField("0").alias("w1"),
            F.col("_bg").getField("1").alias("w2"),
        )

    # the reference rows need UNIQUE ids (the bigram window partitions
    # by id; a shared id would interleave tokens across documents) —
    # any unique assignment works since the counts aggregate it away
    big = (
        bigrams(
            reference.select(
                F.monotonically_increasing_id().alias(id_col),
                F.col(text_col),
            )
        )
        .groupBy("w1", "w2")
        .agg(F.count(F.lit(1)).alias("cb"))
    )

    scored = (
        bigrams(docs)
        .join(uni.withColumnRenamed("w", "w1"), "w1", "left")
        .join(big, ["w1", "w2"], "left")
        .crossJoin(F.broadcast(vocab))
        .select(
            F.col(id_col), "pos",
            F.round(
                F.log(
                    (F.coalesce(F.col("cb"), F.lit(0)) + F.lit(1.0))
                    / (F.coalesce(F.col("cp"), F.lit(0)) + F.col("v_size"))
                ),
                6,
            ).alias("lp"),
        )
    )
    per_doc = scored.groupBy(id_col).agg(
        F.count(F.lit(1)).alias("n_bigrams"),
        F.sort_array(F.collect_list(F.struct("pos", "lp"))).alias("_lps"),
    )
    avg = F.round(
        F.aggregate(
            F.col("_lps"), F.lit(0.0), lambda a, x: a + x["lp"]
        )
        / F.col("n_bigrams"),
        6,
    )
    return per_doc.select(
        F.col(id_col),
        F.col("n_bigrams").cast("long").alias("n_bigrams"),
        avg.alias("avg_logp"),
        F.round(F.exp(-avg), 6).alias("ppl"),
    )


# ---------------------------------------------------------------------------
# CCNet head/middle/tail perplexity buckets
# ---------------------------------------------------------------------------

_CCNET_BUCKET_NAMES = ["head", "middle", "tail"]


def ccnet_buckets(
    docs: DataFrame,
    reference: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    lang_col: str = "lang",
    cutoffs: dict[str, tuple[float, float]] | None = None,
) -> DataFrame:
    """CCNet's head/middle/tail split (Wenzek et al., LREC 2020 §4.3):
    score every document with the bigram-LM perplexity (`lm_score`),
    then bucket each language's documents into perplexity terciles —
    head = the lowest-perplexity (most reference-like) third. Returns
    (id, lang, n_bigrams, avg_logp, ppl, bucket).

    Two modes, mirroring CCNet's own deployment:

    * ``cutoffs=None`` (the exact / oracle-gated path): terciles from
      per-language rank — ``floor((rn-1)*3 / n)`` with a total order on
      (ppl, id), integer arithmetic so any engine reproduces the bucket
      bit-for-bit. One window shuffle on lang; lang is heavy-tailed
      (en dominates a web crawl), so at 100 TB the rank sort is the
      skew hazard — that is exactly why CCNet itself does NOT rank the
      full corpus, and why the second mode exists.
    * ``cutoffs={lang: (head_max_ppl, middle_max_ppl)}``: the scale
      path — cutoffs come precomputed from a sample (kilobytes), are
      broadcast, and bucketing becomes a map-only projection with zero
      exchanges, riding whatever partitioning the corpus already has.
      Languages absent from the map fall into `tail` above the last
      cutoff like CCNet's default-keep-middle convention: here they get
      NULL cutoffs and bucket `middle` (kept, unranked).
    """
    from pyspark.sql import Window

    scored = lm_score(docs, reference, text_col=text_col, id_col=id_col)
    langs = docs.select(
        F.col(id_col),
        F.coalesce(F.col(lang_col), F.lit("unknown")).alias("lang"),
    )
    withlang = scored.join(langs, id_col)

    if cutoffs is not None:
        spark = docs.sparkSession
        cut = spark.createDataFrame(
            [(k, float(v[0]), float(v[1])) for k, v in sorted(cutoffs.items())],
            "lang string, head_max double, middle_max double",
        )
        bucket = (
            F.when(F.col("head_max").isNull(), F.lit("middle"))
            .when(F.col("ppl") <= F.col("head_max"), F.lit("head"))
            .when(F.col("ppl") <= F.col("middle_max"), F.lit("middle"))
            .otherwise(F.lit("tail"))
        )
        return (
            withlang.join(F.broadcast(cut), "lang", "left")
            .select(
                F.col(id_col), "lang", "n_bigrams", "avg_logp", "ppl",
                bucket.alias("bucket"),
            )
        )

    w = Window.partitionBy("lang").orderBy(
        F.col("ppl").asc(), F.col(id_col).asc()
    )
    rn = F.row_number().over(w)
    n = F.count(F.lit(1)).over(Window.partitionBy("lang"))
    idx = F.floor((rn - F.lit(1)) * F.lit(3) / n).cast("int")
    bucket = F.element_at(
        F.array(*[F.lit(b) for b in _CCNET_BUCKET_NAMES]), idx + F.lit(1)
    )
    return withlang.select(
        F.col(id_col), "lang", "n_bigrams", "avg_logp", "ppl",
        bucket.alias("bucket"),
    )


# ---------------------------------------------------------------------------
# Token-budget sampling (build a training mix to an exact token budget)
# ---------------------------------------------------------------------------

def token_budget_sample(
    df: DataFrame,
    budgets: dict[str, int],
    strata_col: str = "lang",
    text_col: str = "text",
    id_col: str = "doc_id",
    seed: int = 0,
) -> DataFrame:
    """Select documents per stratum until a token budget is met:
    docs are ordered by their deterministic md5 uniform (an unbiased
    shuffle that is reproducible across engines and reruns) and taken
    while the stratum's running token total stays under budget — the
    first doc that crosses the line is included, so every stratum with
    any data reaches its budget exactly once (FineWeb-style "N tokens
    of X, M tokens of Y" mix building). Strata without a budget entry
    are dropped.

    Scale note: the running total is a window PARTITION BY stratum
    ORDER BY uniform, so parallelism is bounded by the stratum count.
    That is the honest cost of EXACT budgets; when approximate budgets
    suffice at 100 TB, compute per-stratum token totals (one cheap agg)
    and filter u < budget/total — map-only, no window — then trim with
    this exact pass over the ~budget-sized survivor set, which is the
    two-phase shape a real mix builder uses."""
    from pyspark.sql import Window

    from .textstats import token_count

    frame = df.select(
        F.col(id_col), F.col(strata_col), F.col(text_col),
        token_count(F.col(text_col)).cast("long").alias("n_tok"),
        sample_uniform(F.col(id_col), seed).alias("_u"),
    )
    budget = F.lit(None).cast("long")
    for stratum, b in sorted(budgets.items()):
        budget = F.when(
            F.col(strata_col) == stratum, F.lit(int(b))
        ).otherwise(budget)
    w = Window.partitionBy(strata_col).orderBy("_u", id_col)
    cum = F.sum("n_tok").over(w)
    return (
        frame.withColumn("_budget", budget)
        .filter(F.col("_budget").isNotNull())
        .withColumn("cum_tok", cum)
        .filter(F.col("cum_tok") - F.col("n_tok") < F.col("_budget"))
        .select(id_col, strata_col, "n_tok", "cum_tok")
    )


# ---------------------------------------------------------------------------
# UT1-style host blocklist filtering
# ---------------------------------------------------------------------------

def host_suffix(host: Column, depth: int) -> Column:
    """The last `depth` dot-labels of a host, NULL when the host has
    fewer labels — label-boundary suffixes ('b.example.org' at depth 2
    is 'example.org', never 'le.org')."""
    return F.when(
        F.size(F.split(host, r"\.")) >= depth,
        F.substring_index(host, ".", -depth),
    )


def clean_blocklist(blocklist: DataFrame, domain_col: str = "domain") -> DataFrame:
    """Normalize a raw domain blocklist (lower + trim + distinct) to a
    one-column `domain` table — the single owner of blocklist
    normalization, shared by host_blocklist_flag and the scheduler's
    once-per-crawl cached copy."""
    return blocklist.select(
        F.lower(F.trim(F.col(domain_col))).alias("domain")
    ).distinct()


def host_blocklist_flag(
    df: DataFrame,
    blocklist: DataFrame,
    host_col: str = "host",
    domain_col: str = "domain",
    max_depth: int | None = None,
    flag_col: str = "blocked",
    assume_clean: bool = False,
) -> DataFrame:
    """Flag rows whose host matches a domain blocklist by label-boundary
    suffix — the UT1/adult-list gate every web-text pipeline runs
    (RefinedWeb §3.1, FineWeb use the UT1 list the same way): a host is
    blocked iff the blocklist contains the host itself or any parent
    domain ('ads.example' blocks 'x.ads.example' but not 'bads.example').

    Scale shape: the list side is split per label-depth d and each slice
    is broadcast-hash-joined against `substring_index(host, '.', -d)` —
    a blocklist entry with d labels can only equal a d-label suffix, so
    each row matches each entry at most once and row identity is
    preserved without a distinct. The URL table never shuffles
    (plan-pinned: zero hashpartitioning exchanges); cost is max_depth
    map-side probes of kilobyte-to-megabyte broadcast tables.
    max_depth=None (default) self-tunes to the deepest entry in the
    list — one scalar agg over the same small table the joins broadcast
    anyway; pass it explicitly to skip that action (entries deeper than
    max_depth labels then never match; UT1 is ≤5 labels).
    """
    from functools import reduce
    from operator import or_

    bl = (
        blocklist.select(F.col(domain_col).alias("_bl_domain"))
        if assume_clean
        else clean_blocklist(blocklist, domain_col).withColumnRenamed(
            "domain", "_bl_domain"
        )
    )
    if max_depth is None:
        row = bl.agg(
            F.max(F.size(F.split(F.col("_bl_domain"), r"\."))).alias("d")
        ).head()
        max_depth = int(row["d"] or 1)
    host_lc = F.lower(F.col(host_col))
    out = df
    markers = []
    for d in range(1, max_depth + 1):
        m = f"_blm{d}"
        bl_d = bl.filter(F.size(F.split(F.col("_bl_domain"), r"\.")) == d)
        out = out.join(
            F.broadcast(bl_d.withColumnRenamed("_bl_domain", m)),
            host_suffix(host_lc, d) == F.col(m),
            "left",
        )
        markers.append(m)
    blocked = reduce(or_, [F.col(m).isNotNull() for m in markers])
    return out.withColumn(flag_col, blocked).drop(*markers)


def blocklist_inset_keep(
    host_col: Column, domains_by_depth: dict[int, list[str]]
) -> Column:
    """NOT-blocked predicate compiled from a DRIVER-RESIDENT blocklist:
    per label-depth d, `substring_index(host, '.', -d) IN (<set>)` —
    Catalyst turns literal IN-lists past the conversion threshold into
    InSet (one hash probe), so the whole gate is map-only with ZERO
    joins and zero per-round broadcast builds (the set ships once per
    stage in the task binary). Size-switched by the caller: this is the
    small-list fast path (the scheduler uses it when the cleaned list
    fits CrawlConfig.blocklist_inset_max); large lists keep the
    per-depth broadcast joins of host_blocklist_flag. Semantics are
    identical to the join path: label-boundary suffix match,
    lowercased, too-shallow hosts never match (the NULL suffix is
    coalesced to not-blocked, where the join path simply finds no
    partner)."""
    from functools import reduce
    from operator import or_

    host_lc = F.lower(host_col)
    conds = [
        F.coalesce(host_suffix(host_lc, d).isin(doms), F.lit(False))
        for d, doms in sorted(domains_by_depth.items())
        if doms
    ]
    if not conds:
        return F.lit(True)
    return ~reduce(or_, conds)


def collect_blocklist_sets(cleaned: DataFrame) -> dict[int, list[str]]:
    """A cleaned blocklist (see clean_blocklist) collected to the
    driver and grouped by label depth — the input shape of
    blocklist_inset_keep. Only call under a size gate."""
    by_depth: dict[int, list[str]] = {}
    for row in cleaned.collect():
        d = row["domain"].count(".") + 1
        by_depth.setdefault(d, []).append(row["domain"])
    return by_depth


def blocklist_filter(
    df: DataFrame,
    blocklist: DataFrame,
    host_col: str = "host",
    domain_col: str = "domain",
    max_depth: int | None = None,
    assume_clean: bool = False,
) -> DataFrame:
    """Drop blocklisted rows (see host_blocklist_flag for semantics)."""
    flagged = host_blocklist_flag(
        df, blocklist, host_col=host_col, domain_col=domain_col,
        max_depth=max_depth, flag_col="_blocked",
        assume_clean=assume_clean,
    )
    return flagged.filter(~F.col("_blocked")).drop("_blocked")


# ---------------------------------------------------------------------------
# Line-level deduplication (cross-document boilerplate removal)
# ---------------------------------------------------------------------------

def line_dedup(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    min_docs: int = 2,
    out_col: str = "clean_text",
) -> DataFrame:
    """Remove lines that repeat across >= min_docs distinct documents
    and reassemble each document in original line order — the
    line-wise boilerplate correction of web-text pipelines (RefinedWeb
    runs exactly this gate after extraction: nav bars, "Sign in",
    cookie banners repeat verbatim across a host's pages while real
    prose does not; C4's "three-sentence span" dedup is the same idea
    at sentence granularity).

    Returns (id, out_col, n_lines, n_removed). Whitespace-only lines
    are never removal-eligible (they are document structure, and
    counting them would make every multi-paragraph doc "share" lines).

    Scale shape: lines shuffle ONCE on a portable 60-bit md5 line key
    (kilobytes-per-line strings stay out of the exchange); the
    duplicated-key set is an aggregation on that same key, so the
    anti-join that applies it re-uses the partitioning (no second
    exchange of the big side; AQE's skew-join handles the pathological
    "every page has this exact line" key). Reassembly is one groupBy
    on the id — the same shuffle any per-doc stat pays. At 100 TB the
    only state is the duplicated-key table (boilerplate is a tiny
    fraction of distinct lines), never a per-line driver structure.
    """
    trimmed = F.trim(F.col("line"))
    lines = df.select(
        F.col(id_col),
        F.posexplode(F.split(F.col(text_col), "\n")).alias("pos", "line"),
    ).withColumn(
        "line_key",
        F.when(trimmed != "", md5_h1(F.col("line"))),
    )
    dup_keys = (
        lines.filter(F.col("line_key").isNotNull())
        .groupBy("line_key")
        .agg(F.count_distinct(F.col(id_col)).alias("n_docs"))
        .filter(F.col("n_docs") >= F.lit(int(min_docs)))
        .select("line_key")
    )
    kept = lines.join(dup_keys, "line_key", "left_anti")
    reassembled = kept.groupBy(id_col).agg(
        F.array_join(
            F.transform(
                F.sort_array(F.collect_list(F.struct("pos", "line"))),
                lambda x: x["line"],
            ),
            "\n",
        ).alias(out_col),
        F.count(F.lit(1)).alias("n_lines"),
    )
    # left join from the original docs: a page that was ALL boilerplate
    # still comes back (empty), so downstream row counts stay stable
    return (
        df.select(
            F.col(id_col),
            F.size(F.split(F.col(text_col), "\n")).alias("_n_orig"),
        )
        .join(reassembled, id_col, "left")
        .select(
            id_col,
            F.coalesce(F.col(out_col), F.lit("")).alias(out_col),
            F.coalesce(F.col("n_lines"), F.lit(0)).cast("long").alias("n_lines"),
            (F.col("_n_orig") - F.coalesce(F.col("n_lines"), F.lit(0)))
            .cast("long")
            .alias("n_removed"),
        )
    )


def host_boilerplate(
    df: DataFrame,
    id_col: str = "doc_id",
    host_col: str = "host",
    text_col: str = "text",
    min_pct: int = 30,
    min_docs: int = 2,
    out_col: str = "clean_text",
) -> DataFrame:
    """Host-scoped fractional template-line removal — the CCNet/
    RefinedWeb refinement of `line_dedup`: a line is boilerplate for
    a HOST when it appears in >= min_pct% of that host's documents
    (nav bars and footers repeat across one site's pages; the same
    sentence on two unrelated hosts is quotation, not template).
    Complements the global gate: host-fractional catches small sites'
    templates that never cross the corpus-wide absolute threshold,
    and spares popular quotes that do.

    Removal rule (all integer arithmetic so the DuckDB oracle is
    bit-exact — a float `ceil(0.3 * 10)` is 4 in IEEE doubles):
      host_docs >= min_docs  AND  n_docs >= 2
      AND  100 * n_docs >= min_pct * host_docs
    Whitespace-only lines are never removal-eligible (document
    structure, same rule as line_dedup).

    Returns (id, host, out_col, n_lines, n_removed); pages that were
    all template come back with an empty string so row counts are
    stable through the gate.

    Scale shape: lines shuffle ONCE keyed by the 60-bit md5 of
    (host, line) — page-sized strings stay out of the exchange; the
    per-key doc count is an aggregation on that same key and the
    left-anti apply re-uses its partitioning. Per-host doc totals are
    one (host) agg over (id, host) pairs — bytes per document — and
    join the (already tiny) duplicated-key table, not the line table.
    At 100 TB the only materialized state is the per-host removal-key
    set; nothing collects to the driver.
    """
    trimmed = F.trim(F.col("line"))
    lines = df.select(
        F.col(id_col),
        F.col(host_col),
        F.posexplode(F.split(F.col(text_col), "\n")).alias("pos", "line"),
    ).withColumn(
        "line_key",
        F.when(
            trimmed != "",
            md5_h1(F.concat_ws("\x01", F.col(host_col), F.col("line"))),
        ),
    )
    host_docs = df.groupBy(host_col).agg(
        F.count_distinct(F.col(id_col)).alias("_host_docs")
    )
    removal = (
        lines.filter(F.col("line_key").isNotNull())
        .groupBy("line_key")
        .agg(
            F.count_distinct(F.col(id_col)).alias("_n_docs"),
            F.first(host_col).alias(host_col),
        )
        .filter(F.col("_n_docs") >= F.lit(2))
        .join(F.broadcast(host_docs), host_col)
        .filter(
            (F.col("_host_docs") >= F.lit(int(min_docs)))
            & (
                F.lit(100) * F.col("_n_docs")
                >= F.lit(int(min_pct)) * F.col("_host_docs")
            )
        )
        .select("line_key")
    )
    kept = lines.join(removal, "line_key", "left_anti")
    reassembled = kept.groupBy(id_col).agg(
        F.array_join(
            F.transform(
                F.sort_array(F.collect_list(F.struct("pos", "line"))),
                lambda x: x["line"],
            ),
            "\n",
        ).alias(out_col),
        F.count(F.lit(1)).alias("n_lines"),
    )
    return (
        df.select(
            F.col(id_col),
            F.col(host_col),
            F.size(F.split(F.col(text_col), "\n")).alias("_n_orig"),
        )
        .join(reassembled, id_col, "left")
        .select(
            id_col,
            host_col,
            F.coalesce(F.col(out_col), F.lit("")).alias(out_col),
            F.coalesce(F.col("n_lines"), F.lit(0)).cast("long").alias("n_lines"),
            (F.col("_n_orig") - F.coalesce(F.col("n_lines"), F.lit(0)))
            .cast("long")
            .alias("n_removed"),
        )
    )


def _dup_span_doc_table(
    df: DataFrame,
    n: int,
    text_col: str,
    id_col: str,
    min_count: int,
    hashed: bool,
) -> DataFrame:
    """(id, _t tokens, _dp sorted duplicated-start positions): position
    p is in _dp when the word n-gram window STARTING at p occurs >=
    min_count times anywhere in the corpus (across documents or
    repeated within one); _dp is NULL for docs with no duplicated
    window (or null text). A token at position q is covered by
    duplication exactly when some start in _dp lies in [q-n+1, q] —
    the consumers below derive coverage from _dp with per-doc interval
    arithmetic instead of a window over the token stream.

    Scale shape (r06 rewrite): grams are built on the token array —
    no posexplode + lead() window, so the id-keyed exchange and both
    window sorts of the previous form are gone; gram keys (8-byte
    xxhash64 when hashed=True, gram strings when oracle-exact) shuffle
    once into the corpus-wide count; only the DUPLICATED (id, pos)
    pairs — a small fraction by construction — travel back into one
    per-doc sorted array."""
    if n < 2:
        raise ValueError("dup-span window size n must be >= 2")
    toks = df.select(
        F.col(id_col),
        F.expr(
            f"split(lower(trim(regexp_replace({text_col}, '\\\\s+', ' '))), ' ')"
        ).alias("_t"),
    )
    # grams straight off the token ARRAY (r06: the previous form
    # posexploded the tokens and rebuilt each window with n-1 lead()
    # calls over an id-keyed sort — an exchange + two window sorts the
    # array form never pays). concat_ws over the slice produces the
    # identical gram string; positions 0..len-n match the lead form's
    # non-null window starts exactly.
    grams = F.when(
        F.size("_t") >= n,
        F.expr(
            f"transform(sequence(0, size(_t) - {n}),"
            f" i -> concat_ws(' ', slice(_t, i + 1, {n})))"
        ),
    )
    starts = toks.select(
        F.col(id_col), F.posexplode(grams).alias("pos", "gram")
    )
    gk = (F.xxhash64("gram") if hashed else F.col("gram")).alias("gk")
    keyed = starts.select(F.col(id_col), "pos", gk)
    dup_keys = (
        keyed.groupBy("gk")
        .agg(F.count(F.lit(1)).alias("_c"))
        .filter(F.col("_c") >= F.lit(int(min_count)))
        .select("gk")
    )
    # only the DUPLICATED start positions travel back per doc — a small
    # fraction by construction — as one sorted array; coverage becomes
    # per-doc interval arithmetic (below) instead of a join of the full
    # token stream plus a second window sort
    dup_pos = (
        keyed.join(dup_keys, "gk")
        .groupBy(id_col)
        .agg(F.sort_array(F.collect_list("pos")).alias("_dp"))
    )
    return toks.join(dup_pos, id_col, "left")


def dup_span_stats(
    df: DataFrame,
    n: int = 16,
    text_col: str = "text",
    id_col: str = "doc_id",
    min_count: int = 2,
    hashed: bool = False,
) -> DataFrame:
    """Per-document duplicated-span statistics — the measurement side
    of ExactSubstr deduplication (Lee et al. 2022, "Deduplicating
    Training Data Makes Language Models Better": any substring of >= N
    tokens appearing more than once in the corpus is training-set
    duplication, regardless of document boundaries). The reference
    repo has no corpus layer; this is a SURVEY §2-extension
    training-data operator. The suffix-array construction of the paper
    is single-node; the Spark-native equivalent is corpus-wide n-gram
    window counting: a window duplicated at the n-gram granularity is
    exactly a duplicated substring of >= n tokens.

    Returns (id, n_tok, n_windows, n_dup_windows, dup_token_frac)
    where dup_token_frac is the fraction of token positions covered by
    at least one duplicated window. Row-stable like line_dedup: a
    null-text document (null token array) still comes back, with zero
    counts.

    Coverage is per-doc interval arithmetic over the sorted duplicated
    starts: windows are fixed length n, so merged-interval ends are
    monotone and one O(|starts|) left fold yields the exact union
    length — the same integer the previous per-token coverage window
    summed (pinned in tests)."""
    doc = _dup_span_doc_table(df, n, text_col, id_col, min_count, hashed)
    n_tok = F.when(F.col("_t").isNull(), F.lit(0)).otherwise(F.size("_t"))
    # union length of [s, s+n-1] intervals over sorted distinct starts:
    # each start adds (s+n-1) - max(prev_end, s-1); ends are monotone
    # (fixed window length), so the contribution is never negative
    covered = F.when(F.col("_dp").isNull(), F.lit(0)).otherwise(
        F.expr(
            f"aggregate(_dp, named_struct('t', 0L, 'pe', {-(n + 1)}L),"
            f" (acc, s) -> named_struct("
            f"   't', acc.t + s + {n - 1} - greatest(acc.pe, s - 1),"
            f"   'pe', CAST(s + {n - 1} AS BIGINT)),"
            f" acc -> acc.t)"
        )
    )
    return doc.select(
        F.col(id_col),
        n_tok.cast("long").alias("n_tok"),
        F.greatest(n_tok - F.lit(n - 1), F.lit(0))
        .cast("long").alias("n_windows"),
        F.when(F.col("_dp").isNull(), F.lit(0)).otherwise(F.size("_dp"))
        .cast("long").alias("n_dup_windows"),
        F.when(
            n_tok > 0, F.round(covered.cast("double") / n_tok, 6)
        ).otherwise(F.lit(0.0)).alias("dup_token_frac"),
    )


def remove_dup_spans(
    df: DataFrame,
    n: int = 16,
    text_col: str = "text",
    id_col: str = "doc_id",
    min_count: int = 2,
    hashed: bool = False,
    out_col: str = "clean_text",
) -> DataFrame:
    """ExactSubstr-style removal: drop every token covered by a
    corpus-duplicated n-token window and reassemble the remainder in
    original order (Lee et al. 2022 cut the duplicated span bytes out
    of the training text; this is the same cut at word granularity).
    A document that was entirely duplicated spans — or had null text
    (zero token rows after posexplode) — comes back with empty text,
    mirroring line_dedup's row-stability contract.

    Returns (id, out_col, n_tok, n_removed).

    The cut is per-doc array arithmetic over the sorted duplicated
    starts (r06 — the previous form re-collected every token through a
    coverage window + collect_list): fixed-length windows merge into
    intervals wherever consecutive starts are <= n apart (ends are
    monotone, so only adjacent gaps matter), covered positions are the
    flattened interval sequences, and the kept text is the original
    token array minus those positions — order preserved
    (array_except keeps first-array order). O(tokens + starts) per
    doc, no token re-shuffle, no collect_list."""
    doc = _dup_span_doc_table(df, n, text_col, id_col, min_count, hashed)
    n_tok = F.when(F.col("_t").isNull(), F.lit(0)).otherwise(F.size("_t"))
    # merged covered intervals: position i starts a new interval when
    # it is the first start or its gap to the previous start exceeds n
    # (contiguity bound for fixed-length windows); interval j ends at
    # (the start before the next starter, or the last start) + n - 1.
    # _starters holds 1-based INDEXES into _dp.
    starters = (
        f"filter(sequence(1, size(_dp)),"
        f" i -> i = 1 OR element_at(_dp, i) - element_at(_dp, i - 1) > {n})"
    )
    merged = (
        f"transform(_st, (st, j) -> named_struct("
        f" 's', element_at(_dp, st),"
        f" 'e', element_at(_dp,"
        f"   CASE WHEN j + 2 <= size(_st)"
        f"        THEN element_at(_st, j + 2) - 1"
        f"        ELSE size(_dp) END) + {n - 1}))"
    )
    kept = F.expr(
        f"array_except(sequence(0, size(_t) - 1),"
        f" flatten(transform({merged}, m -> sequence(m.s, m.e))))"
    )
    staged = doc.withColumn(
        "_st", F.when(F.col("_dp").isNotNull(), F.expr(starters))
    ).withColumn(
        "_kept",
        F.when(F.col("_t").isNull(), F.expr("CAST(array() AS ARRAY<INT>)"))
        .when(F.col("_dp").isNull(), F.expr("sequence(0, size(_t) - 1)"))
        .otherwise(kept),
    )
    out_text = F.when(F.col("_t").isNull(), F.lit("")).otherwise(
        F.array_join(
            F.expr("transform(_kept, p -> element_at(_t, p + 1))"), " "
        )
    )
    return staged.select(
        F.col(id_col),
        out_text.alias(out_col),
        n_tok.cast("long").alias("n_tok"),
        (n_tok - F.size("_kept")).cast("long").alias("n_removed"),
    )


def temporal_rebalance(
    df: DataFrame,
    year_col: str,
    key_col: str,
    target: dict[int, float],
    seed: int = 0,
) -> DataFrame:
    """Rebalance a corpus to a target publication-YEAR distribution —
    the date-aware training-mix op this engine uniquely enables (the
    extraction cascade puts a publication date on every page; a crawl
    snapshot is heavily skewed toward recent years, and a pretraining
    mix usually wants a flatter or explicitly-shaped temporal profile;
    cf. the temporal-distribution audits of C4/Dolma).

    Proportional-fitting semantics: the largest output satisfying the
    target exactly is kept —

        scale  = min over target years y of  n_y / frac_y
        rate_y = min(1, frac_y * scale / n_y)

    so the binding year (scarcest relative to its target share) is
    kept at 100% and every other year is down-sampled to proportion.
    Rows whose year is not in ``target``, and target years absent
    from the corpus, are dropped (matching an infeasible target would
    need rows that don't exist; the caller sees the realized mix in
    the output). Row selection is the engine's deterministic
    hash-threshold law (sample_uniform), so the sample is a pure
    function of (seed, key) — auditable, resumable, and recomputable
    bit-for-bit by the DuckDB oracle.

    Scale shape: one TINY partial-aggregated exchange over years
    (O(#years) rows — decades, not documents — the same bounded
    driver-side state as the IVF codebook), then a MAP-ONLY
    hash-threshold filter with the per-year rates folded into the
    scan as a literal CASE. Page text never shuffles."""
    counts = {
        r["_y"]: r["_n"]
        for r in df.groupBy(F.col(year_col).alias("_y"))
        .agg(F.count(F.lit(1)).alias("_n"))
        .collect()
        if r["_y"] is not None
    }
    scales = [
        counts[y] / f for y, f in target.items() if f > 0 and y in counts
    ]
    if not scales:
        return df.filter(F.lit(False))
    scale = min(scales)
    u = sample_uniform(F.col(key_col), seed)
    rate = F.lit(0.0)
    for y, f in sorted(target.items()):
        if y in counts and f > 0:
            r_y = min(1.0, f * scale / counts[y])
            rate = F.when(F.col(year_col) == y, F.lit(r_y)).otherwise(rate)
    return df.filter(u < rate)


def hashed_weights(spark, dim: int = 4096, seed: int = 0) -> DataFrame:
    """Deterministic dyadic weight vector for the hashing-trick linear
    classifier: w_j = (md5_h1(f"{seed}w:{j}") mod 2^21 − 2^20) / 2^20 —
    uniform in [−1, 1) with exactly 20 fractional bits, so any-order
    double summation of up to 2^33 terms is EXACT (every partial sum
    is a dyadic rational far inside the 53-bit mantissa). Stands in
    for trained weights in tests/oracles; a real deployment loads its
    trained vector into the same (bucket, weight) shape."""
    j = F.col("id").cast("string")
    raw = md5_h1(F.concat(F.lit(f"{seed}w:"), j))
    return spark.range(dim).select(
        F.col("id").alias("bucket"),
        ((raw % F.lit(1 << 21) - F.lit(1 << 20)) / F.lit(float(1 << 20)))
        .alias("weight"),
    )


def linear_quality_score(
    docs: DataFrame,
    weights: DataFrame,
    dim: int = 4096,
    threshold: float = 0.0,
    seed: int = 0,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Hashing-trick linear document classifier — the
    fastText/Vowpal-Wabbit-shaped quality model every LLM pipeline runs
    (GPT-3's Wiki-reference classifier, CCNet/FineWeb-Edu quality
    filters; feature hashing per Weinberger et al. ICML'09, linear text
    classification per Joulin et al. 2017): each token hashes into one
    of ``dim`` buckets, the document logit is the mean of its buckets'
    weights, and ``keep`` thresholds the logit (monotone in the
    sigmoid, so thresholding the logit IS thresholding the
    probability — no libm exp in the gate). Docs with no tokens are
    omitted.

    Determinism: the token→bucket law is the engine's portable 60-bit
    md5 uniform (DuckDB replays it), and with hashed_weights' dyadic
    vector the double sum is exact in ANY accumulation order — no
    fold pinning needed.

    Scale shape: the weight table is O(dim) — kilobytes — and is
    broadcast, so the token stream never shuffles for the lookup; one
    partial-aggregated exchange on the doc key produces the scores.
    At 100 TB the cost is the token explode, the same shape as
    token_count."""
    toks = docs.select(
        F.col(id_col),
        F.explode(
            F.split(
                F.lower(F.trim(F.regexp_replace(F.col(text_col), r"\s+", " "))),
                " ",
            )
        ).alias("_tk"),
    ).filter(F.col("_tk") != "")
    bucket = md5_h1(F.concat(F.lit(f"{seed}f:"), F.col("_tk"))) % F.lit(dim)
    scored = (
        toks.select(F.col(id_col), bucket.alias("bucket"))
        .join(F.broadcast(weights), "bucket")
        .groupBy(id_col)
        .agg(
            F.sum("weight").alias("_sw"),
            F.count(F.lit(1)).cast("long").alias("n_tok"),
        )
    )
    logit = F.col("_sw") / F.col("n_tok")
    return scored.select(
        F.col(id_col),
        "n_tok",
        logit.alias("logit"),
        (logit > F.lit(float(threshold))).alias("keep"),
    )


def host_cap_sample(
    df: DataFrame,
    host_col: str,
    key_col: str,
    cap: int,
    seed: int = 0,
    n_salts: int = 8,
) -> DataFrame:
    """Domain-fairness cap: keep at most ``cap`` documents per host —
    the anti-boilerplate / anti-SEO-farm mix guard (C4 deduplicated per
    domain; FineWeb caps per-dump domain contribution) that stops one
    mega-host from dominating a training mix. Selection is
    deterministic and auditable: rows rank by the engine's 60-bit md5
    uniform of (seed, key) with the key as tiebreak, so the kept set
    is a pure function of (seed, corpus) — a uniform random-without-
    replacement sample per host, recomputable bit-for-bit by the
    oracle.

    Scale shape: the naive single window per host sorts a mega-host's
    every row in ONE task; this uses the scheduler's salted two-phase
    rank law (scheduler.py step 5) unconditionally — phase 1 ranks
    within (host, salt) keeping ≤cap per salt (each task sorts 1/n_salts
    of the worst host), phase 2 ranks the ≤cap·n_salts survivors per
    host. Exact: the host-level top-cap by u is contained in the union
    of per-salt top-caps. Size n_salts to the heaviest expected host
    (8 salts bound a 10^9-row host's task at ~10^8 — raise it for
    worse skew)."""
    from pyspark.sql import Window

    u = sample_uniform(F.col(key_col), seed).alias("_u")
    salt = F.pmod(
        md5_h1(F.concat(F.lit(f"{seed}s:"), F.col(key_col).cast("string"))),
        F.lit(n_salts),
    ).alias("_salt")
    w1 = Window.partitionBy(host_col, "_salt").orderBy("_u", key_col)
    w2 = Window.partitionBy(host_col).orderBy("_u", key_col)
    return (
        df.select("*", u, salt)
        .withColumn("_r1", F.row_number().over(w1))
        .filter(F.col("_r1") <= cap)
        .withColumn("_r2", F.row_number().over(w2))
        .filter(F.col("_r2") <= cap)
        .drop("_u", "_salt", "_r1", "_r2")
    )


def blockword_filter(
    df: DataFrame,
    words: list[str],
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """C4's word-level exclusion gate (Raffel et al. 2020 drop any
    page containing a word from a blocklist — the widely used
    LDNOOBW-style lists): (id, n_blocked, blockword_ok) where
    n_blocked counts the document's tokens found in `words`
    (case-insensitive, token-exact: 'assess' never matches a 3-letter
    entry) and blockword_ok is n_blocked == 0.

    The LIST is the caller's policy input (a file in deployment);
    this operator is the mechanism. Scale shape: the list compiles to
    a map-only InSet probe inside an array HOF over the same
    whitespace tokens every other curation gate uses — no join, no
    broadcast build per batch, zero exchanges."""
    from .textstats import tokens

    wordset = [w.strip().lower() for w in words if w.strip()]
    toks = tokens(F.lower(F.col(text_col)))
    n_blocked = F.size(
        F.filter(toks, lambda t: t.isin(wordset))
    ).cast("long")
    return df.select(
        F.col(id_col),
        n_blocked.alias("n_blocked"),
        (n_blocked == 0).alias("blockword_ok"),
    )


GOPHER_STOPWORDS = ["the", "be", "to", "of", "and", "that", "have", "with"]


def gopher_quality_rules(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """The Gopher/MassiveText STRUCTURAL quality rules (Rae et al.
    2021 A1.1) complementing c4_heuristics' word-count/length gates
    and gopher_repetition's duplication signals:

    - symbol-to-word ratio ('#' and ellipsis) <= 0.1,
    - < 90% of lines bullet-started ('•', '-', '*'),
    - < 30% of lines ellipsis-ended,
    - >= 80% of words contain an alphabetic character,
    - >= 2 distinct members of the canonical stop-word octet present.

    Emits every measured quantity plus gopher_rules_ok (the AND) so
    thresholds are auditable. All native column algebra — tokens via
    the repo's whitespace law, lines via newline split, set probes as
    array_intersect against the tiny constant list — map-only, zero
    exchanges, DuckDB-replicable. Alphabetic means [A-Za-z] (the
    synthetic corpora are ASCII; swap the class for \\p{L} when
    feeding non-Latin text)."""
    from .textstats import tokens

    t = F.col(text_col)
    toks = tokens(t)
    n_words = F.size(toks)
    n_hash = (F.length(t) - F.length(F.replace(t, F.lit("#"), F.lit("")))
              ).cast("long")
    n_ell = (F.regexp_count(t, F.lit(r"\.\.\.")) +
             F.regexp_count(t, F.lit("…"))).cast("long")
    symbol_ratio = F.when(
        n_words > 0,
        F.round((n_hash + n_ell) / n_words, 6) + F.lit(0.0)
    ).otherwise(F.lit(0.0))
    lines = F.split(t, "\n")
    n_lines = F.size(lines)
    n_bullet = F.size(F.filter(
        lines, lambda x: F.trim(x).rlike(r"^[•\-\*]")
    ))
    n_ell_end = F.size(F.filter(
        lines, lambda x: F.trim(x).rlike(r"(?:\.\.\.|…)$")
    ))
    bullet_frac = F.when(
        n_lines > 0, F.round(n_bullet / n_lines, 6) + F.lit(0.0)
    ).otherwise(F.lit(0.0))
    ellipsis_frac = F.when(
        n_lines > 0, F.round(n_ell_end / n_lines, 6) + F.lit(0.0)
    ).otherwise(F.lit(0.0))
    n_alpha = F.size(F.filter(toks, lambda x: x.rlike(r"[A-Za-z]")))
    alpha_frac = F.when(
        n_words > 0, F.round(n_alpha / n_words, 6) + F.lit(0.0)
    ).otherwise(F.lit(0.0))
    n_stop = F.size(F.array_intersect(
        F.array_distinct(F.transform(
            toks, lambda x: F.regexp_replace(F.lower(x), r"[^a-z]", "")
        )),
        F.array(*[F.lit(w) for w in GOPHER_STOPWORDS]),
    )).cast("long")
    ok = (
        (symbol_ratio <= 0.1) & (bullet_frac < 0.9)
        & (ellipsis_frac < 0.3) & (alpha_frac >= 0.8) & (n_stop >= 2)
    )
    return df.select(
        F.col(id_col),
        n_words.cast("long").alias("n_words"),
        symbol_ratio.alias("symbol_ratio"),
        bullet_frac.alias("bullet_frac"),
        ellipsis_frac.alias("ellipsis_frac"),
        alpha_frac.alias("alpha_word_frac"),
        n_stop.alias("n_stopwords"),
        ok.alias("gopher_rules_ok"),
    )
