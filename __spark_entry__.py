"""Driver contract for the spark-graft builder (PySpark target).

`entry(spark)` — flagship: wrap sf0.001 documents into HTML pages with
planted dates and run the staged extraction engine over them.

`queries()` / `oracle_sql()` — one entry per implemented operator from
SURVEY.md §2 plus the training-data pipeline operators, each with an
ANSI-SQL DuckDB oracle where SQL-expressible (rows-only otherwise).
Column names and types are aligned pairwise (BIGINT counts, round(…,6)
doubles, yyyy-MM-dd strings).
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

SF1 = "/root/testdata/sf0.001"

# Java/RE2-compatible URL-date regex (works identically in Spark and DuckDB)
URL_RX = r"[^0-9](199[0-9]|20[0-3][0-9])[/_-]([0-1]?[0-9])[/_-]([0-3]?[0-9])(?:[^0-9]|$)"

MIN_D, MAX_D = "1995-01-01", "2030-12-31"

_EN_MONTHS = [
    "january", "february", "march", "april", "may", "june",
    "july", "august", "september", "october", "november", "december",
]

_LANG_MARKERS_SQL = {
    "en": ["the", "and", "of", "to", "in", "is", "that", "for", "with", "on"],
    "de": ["der", "die", "das", "und", "nicht", "ist", "ein", "mit", "für", "auf"],
    "fr": ["le", "la", "les", "et", "est", "pour", "dans", "que", "une", "des"],
    "tr": ["ve", "bir", "bu", "için", "ile", "olarak", "daha", "gibi", "çok", "en"],
    "id": ["yang", "dan", "di", "itu", "dengan", "untuk", "tidak", "ini", "dari", "akan"],
}


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


def _ts(spark: SparkSession, sf_dir: str, name: str,
        key: str | None = None) -> DataFrame:
    """_t + scale-adaptive spread for expression-heavy queries.

    The sf tables are ONE parquet file each with 1-6 row groups, and a
    scan task cannot split below a row group — so every query rooted at
    them runs its whole projection chain on 1-2 cores no matter how
    many the session has. Queries whose dominant cost is per-row
    expression work (synthesized HTML + regex parsing, hashing,
    tokenization) hash-repartition the pruned base columns across
    defaultParallelism first: the exchange moves a few MB once and the
    heavy projection runs on every core (optimization guide §2.5,
    input skew: repartition right after the read). Hash on the table
    key keeps the row→partition map deterministic under task retries
    (guide §2.5 on rand-derived keys); cheap scan→aggregate queries
    stay on _t — an exchange of raw rows would cost more than it buys.

    Size-adaptive: tables under ~2 MB skip the exchange — fanning a
    few thousand rows across 32 cores costs more in scheduling than
    the per-row work it parallelizes (measured at sf0.1: the
    documents-table spread added 0.5-1.1 s per query while buying
    nothing; at sf1.0 the same spread is worth 5-40x). The threshold
    is a property of exchange overhead, not of this machine."""
    import os

    df = _t(spark, sf_dir, name)
    try:
        p = f"{sf_dir}/{name}.parquet"
        if os.path.isdir(p):
            # directory-style table: size the data files, not the dir
            # inode (getsize(dir) is ~4 KB and silently skipped the
            # spread for any multi-file table)
            size = sum(
                os.path.getsize(os.path.join(r, fn))
                for r, _dirs, fns in os.walk(p)
                for fn in fns
                if not fn.startswith(("_", "."))
            )
        else:
            size = os.path.getsize(p)
        if size < 2 << 20:
            return df
    except OSError:
        pass  # exotic path: just spread
    n = spark.sparkContext.defaultParallelism
    return df.repartition(n, F.col(key)) if key else df.repartition(n)


def _synth_urls(orders: DataFrame) -> DataFrame:
    """Deterministic URL column: every 3rd order carries its date in the
    URL path (unpadded, like real CMS URLs)."""
    o = orders
    dated = F.concat(
        F.lit("https://example.org/"),
        F.year("o_orderdate").cast("string"), F.lit("/"),
        F.month("o_orderdate").cast("string"), F.lit("/"),
        F.dayofmonth("o_orderdate").cast("string"), F.lit("/post-"),
        F.col("o_orderkey").cast("string"),
    )
    plain = F.concat(F.lit("https://example.org/posts/item-"),
                     F.col("o_orderkey").cast("string"))
    return o.select(
        "o_orderkey", "o_orderdate", "o_custkey", "o_orderpriority",
        F.when(F.col("o_orderkey") % 3 == 0, dated).otherwise(plain).alias("url"),
    )


_SQL_SYNTH_URLS = f"""
    SELECT o_orderkey, o_orderdate, o_custkey, o_orderpriority,
           CASE WHEN o_orderkey % 3 = 0
                THEN 'https://example.org/' || year(o_orderdate)
                     || '/' || month(o_orderdate)
                     || '/' || day(o_orderdate)
                     || '/post-' || o_orderkey
                ELSE 'https://example.org/posts/item-' || o_orderkey
           END AS url
    FROM orders
"""

_SQL_URL_DATE = f"""
    COALESCE(CAST(try_cast(
        regexp_extract(url, '{URL_RX}', 1) || '-' ||
        regexp_extract(url, '{URL_RX}', 2) || '-' ||
        regexp_extract(url, '{URL_RX}', 3) AS DATE) AS VARCHAR), '')
"""


def _sql_cos(a: str, b: str, dim: int = 64) -> str:
    """DuckDB cosine with the exact fold order of similarity.cosine():
    left-fold adds over per-index products — bit-identical doubles."""
    def fold(x: str, y: str) -> str:
        return (
            f"list_reduce(list_transform(range(1, {dim + 1}), i -> "
            f"{x}[CAST(i AS INT)] * {y}[CAST(i AS INT)]), (x, y) -> x + y)"
        )
    return (
        f"({fold(a, b)} / (sqrt({fold(a, a)}) * sqrt({fold(b, b)})))"
    )


# shared CTEs: the ann_selfjoin pipeline (corpus + portable md5
# hyperplane signatures + bucket candidates + exact rerank), reused by
# the semantic-dedup components oracle
_SQL_ANN_CTES = """
    e AS (
        SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
        UNION ALL
        SELECT vec_id + 100000, CAST(embedding AS DOUBLE[]) FROM embeddings
        WHERE vec_id % 9 = 0
    ),
    sig AS (
        SELECT vec_id, t.t AS band,
               array_to_string(list_transform(range(0, 8), p ->
                   CASE WHEN list_reduce(list_transform(range(1, 65), i ->
                       v[CAST(i AS INT)] *
                       ((CAST('0x' || substr(md5((t.t * 1009 + p) || ':' || (i - 1)), 1, 15) AS BIGINT)
                         % 20000) / 10000.0 - 1.0)),
                       (x, y) -> x + y) >= 0
                   THEN '1' ELSE '0' END), '') AS bucket
        FROM e, range(0, 8) t(t)
    ),
    cand AS (
        SELECT DISTINCT x.vec_id AS a, y.vec_id AS b
        FROM sig x JOIN sig y
          ON x.band = y.band AND x.bucket = y.bucket AND x.vec_id < y.vec_id
    ),
    rerank AS (
        SELECT a, b,
               list_reduce(list_transform(range(1, 65), i ->
                   ea.v[CAST(i AS INT)] * eb.v[CAST(i AS INT)]), (x, y) -> x + y)
               / (sqrt(list_reduce(list_transform(range(1, 65), i ->
                      ea.v[CAST(i AS INT)] * ea.v[CAST(i AS INT)]), (x, y) -> x + y))
                  * sqrt(list_reduce(list_transform(range(1, 65), i ->
                      eb.v[CAST(i AS INT)] * eb.v[CAST(i AS INT)]), (x, y) -> x + y)))
                   AS cos
        FROM cand JOIN e ea ON ea.vec_id = a JOIN e eb ON eb.vec_id = b
    )
"""


def _with_url_date(urls: DataFrame, out_col: str) -> DataFrame:
    """§2.7 extractUrlDate as STAGED projections: regex year/month/day
    extraction, y-M-d parse, [MIN_D, MAX_D] gate, yyyy-MM-dd format
    (empty string when no valid date). Inlined as one expression, the
    CASE/BETWEEN branches re-evaluate regexp_extract 9x and the date
    parse 3x per row (r06 before-plan); staging each non-cheap alias in
    its own projection makes Catalyst keep them apart (CollapseProject
    refuses to duplicate non-cheap aliases), so each row pays exactly
    3 regex matches and 1 date parse."""
    from go_htmldate_spark.functions.native import RX_COMPLETE_URL_JAVA

    staged = urls.select(
        "*",
        F.regexp_extract("url", RX_COMPLETE_URL_JAVA, 1).alias("_y"),
        F.regexp_extract("url", RX_COMPLETE_URL_JAVA, 2).alias("_m"),
        F.regexp_extract("url", RX_COMPLETE_URL_JAVA, 3).alias("_d"),
    )
    dt = F.try_to_date(
        F.concat_ws("-", F.col("_y"), F.col("_m"), F.col("_d")), "y-M-d"
    )
    staged = staged.select("*", dt.alias("_dt"))
    gated = F.when(
        (F.col("_y") != "")
        & F.col("_dt").between(
            F.lit(MIN_D).cast("date"), F.lit(MAX_D).cast("date")
        ),
        F.col("_dt"),
    )
    return staged.select(
        "*",
        F.coalesce(F.date_format(gated, "yyyy-MM-dd"), F.lit(""))
        .alias(out_col),
    ).drop("_y", "_m", "_d", "_dt")


# ---------------------------------------------------------------------------
# queries
# ---------------------------------------------------------------------------

def q_url_date_extract(spark, sf_dir):
    """§2.7 extractUrlDate as a pure Catalyst expression."""
    urls = _synth_urls(_ts(spark, sf_dir, "orders", "o_orderkey"))
    return _with_url_date(urls, "url_date").select("o_orderkey", "url_date")


def q_plausible_year_count(spark, sf_dir):
    """§2.2/§2.4 plausibleYearFilter: year extraction + range gate +
    frequency count."""
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.select(F.year("l_shipdate").cast("long").alias("year"))
        .filter(F.col("year").between(1995, 2030))
        .groupBy("year")
        .agg(F.count("*").alias("n"))
    )


def q_candidate_topk(spark, sf_dir):
    """§2.5 selectCandidate ordering: top-10 by count, newest-first
    tiebreak, as a window rank."""
    o = _t(spark, sf_dir, "orders")
    from pyspark.sql import Window

    counted = o.select(
        F.date_format("o_orderdate", "yyyy-MM").alias("pattern")
    ).groupBy("pattern").agg(F.count("*").alias("n"))
    w = Window.orderBy(F.desc("n"), F.desc("pattern"))
    return counted.withColumn("rank", F.row_number().over(w).cast("long")).filter(
        F.col("rank") <= 10
    )


def q_minmax_reference(spark, sf_dir):
    """§2.4 compareValues fold: per-key earliest/latest date."""
    o = _t(spark, sf_dir, "orders")
    return o.groupBy("o_custkey").agg(
        F.date_format(F.min("o_orderdate"), "yyyy-MM-dd").alias("first_date"),
        F.date_format(F.max("o_orderdate"), "yyyy-MM-dd").alias("last_date"),
    )


def q_anti_join_seen(spark, sf_dir):
    """§2.3/§2.6 URL-seen anti-join."""
    o = _t(spark, sf_dir, "orders")
    seen = _t(spark, sf_dir, "customer").filter(F.col("c_custkey") % 10 == 0).select(
        F.col("c_custkey").alias("o_custkey")
    )
    return (
        o.join(seen, "o_custkey", "left_anti")
        .groupBy("o_orderpriority")
        .agg(F.count("*").alias("n"))
    )


def q_month_lookup(spark, sf_dir):
    """§2.3 month-name→number lookup join (constant.go:126-150 table)."""
    ev = _t(spark, sf_dir, "events")
    name = F.element_at(
        F.array(*[F.lit(x) for x in _EN_MONTHS]), F.month("ts")
    )
    month_map = F.create_map(
        *[x for i, nm in enumerate(_EN_MONTHS) for x in (F.lit(nm), F.lit(i + 1))]
    )
    return (
        ev.select(name.alias("month_name"))
        .select("month_name", F.element_at(month_map, F.col("month_name")).cast("long").alias("month_num"))
        .groupBy("month_name", "month_num")
        .agg(F.count("*").alias("n"))
    )


def q_two_digit_year(spark, sf_dir):
    """§2.2 correctYear 2-digit completion over real data."""
    li = _t(spark, sf_dir, "lineitem")
    from go_htmldate_spark.functions.native import correct_year_col

    yy = F.date_format("l_shipdate", "yy").cast("int")
    return (
        li.select(correct_year_col(yy).cast("long").alias("year_completed"))
        .groupBy("year_completed")
        .agg(F.count("*").alias("n"))
    )


def q_eval_scoring(spark, sf_dir):
    """§2.4 eval harness: precision/recall/accuracy/F1 of URL-date
    predictions vs golden order dates."""
    from go_htmldate_spark.operators.relational import eval_scores

    urls = _synth_urls(_ts(spark, sf_dir, "orders", "o_orderkey"))
    joined = _with_url_date(urls, "pred").select(
        "pred",
        F.date_format("o_orderdate", "yyyy-MM-dd").alias("golden"),
    )
    return eval_scores(joined, "pred", "golden")


def q_token_count(spark, sf_dir):
    """Pipeline: whitespace token counting."""
    from go_htmldate_spark.operators.textstats import token_count

    d = _t(spark, sf_dir, "documents")
    return d.select("doc_id", token_count(F.col("text")).cast("long").alias("n_tokens"))


def q_bpe_token_count(spark, sf_dir):
    """Pipeline: BPE-ish sub-word token counting."""
    from go_htmldate_spark.operators.textstats import bpe_ish_token_count

    d = _t(spark, sf_dir, "documents")
    return d.select(
        "doc_id", bpe_ish_token_count(F.col("text")).cast("long").alias("n_bpe_tokens")
    )


def q_quality_score(spark, sf_dir):
    """Pipeline: length/punct/word-length quality heuristic (single-pass
    stats fold behind a Generate barrier)."""
    from go_htmldate_spark.operators.textstats import with_text_stats

    d = _ts(spark, sf_dir, "documents", "doc_id")
    return with_text_stats(d).select(
        "doc_id", "punct_ratio", "stopword_ratio", "quality"
    )


def q_lang_id(spark, sf_dir):
    """Pipeline: marker-word language ID."""
    from go_htmldate_spark.operators.textstats import lang_id

    d = _ts(spark, sf_dir, "documents", "doc_id")
    return d.select("doc_id", lang_id(F.col("text")).alias("lang_pred"))


def q_fingerprint(spark, sf_dir):
    """Pipeline: md5 document fingerprint over normalized text."""
    from go_htmldate_spark.operators.textstats import fingerprint

    d = _t(spark, sf_dir, "documents")
    return d.select("doc_id", fingerprint(F.col("text")).alias("fp"))


def q_exact_dedup(spark, sf_dir):
    """Pipeline: exact dedup groups (hash-groupBy) over a corpus with
    synthetic duplicates injected."""
    d = _t(spark, sf_dir, "documents").select("doc_id", "text")
    dup = d.filter(F.col("doc_id") % 7 == 0).select(
        (F.col("doc_id") + 1000000).alias("doc_id"), "text"
    )
    from go_htmldate_spark.operators.dedup import exact_dup_groups

    return exact_dup_groups(d.unionByName(dup))


def q_jaccard_pairs(spark, sf_dir):
    """Pipeline: exact distinct-token Jaccard as the VERIFY stage over
    LSH candidate pairs — the at-scale composition (cost O(pairs),
    never quadratic; the bucket key is a real minhash band, not a
    synthetic column). Portable md5-seeded family so DuckDB recomputes
    the whole signature→band→pair→verify chain independently."""
    from go_htmldate_spark.operators.dedup import (
        lsh_jaccard_verified_pairs,
        minhash_signatures,
    )

    d = _t(spark, sf_dir, "documents").select("doc_id", "text")
    dup = d.filter(F.col("doc_id") % 11 == 0).select(
        (F.col("doc_id") + 1000000).alias("doc_id"), "text"
    )
    # the md5 signature map is the CPU stage: spread it over every core
    # (the parquet source reads this small table as 2 partitions)
    corpus = d.unionByName(dup).repartition(
        spark.sparkContext.defaultParallelism
    )
    sigs = minhash_signatures(corpus, n_hashes=16, hash_family="md5_seeded")
    # band -> pair -> verify fused (value-identical to the
    # lsh_candidate_pairs + jaccard_verify_pairs compose — the fused
    # path never materializes the ~100x-larger candidate set)
    return lsh_jaccard_verified_pairs(
        corpus, sigs, bands=4, max_bucket=1_000_000,
        hashed_buckets=False, min_jaccard=0.5,
    )


def q_ann_cosine_topk(spark, sf_dir):
    """Pipeline: brute-force cosine top-10 against the vec_id=0 query."""
    from go_htmldate_spark.operators.similarity import brute_force_topk

    emb = _t(spark, sf_dir, "embeddings")
    qvec = emb.filter(F.col("vec_id") == 0).select("embedding").head()[0]
    out = brute_force_topk(emb, list(qvec), k=10)
    return out.select("vec_id", F.round("cosine", 4).alias("cosine"))


def q_event_time_windows(spark, sf_dir):
    """Event-time windowed per-host rates (operators/extract.
    host_fetch_rates — a watermarked window aggregation that also runs
    unchanged on a streaming DataFrame; this batch form is the
    oracle-checkable projection). Events become crawl records:
    deterministic URL per event, ts as warc_ts."""
    from go_htmldate_spark.operators.extract import host_fetch_rates

    ev = _t(spark, sf_dir, "events")
    pages = ev.select(
        F.concat(
            F.lit("https://h"), (F.col("user_id") % 7).cast("string"),
            F.lit(".example/"), F.date_format("ts", "yyyy/MM/dd"),
            F.lit("/e"), F.col("event_id").cast("string"), F.lit(".html"),
        ).alias("url"),
        F.col("ts").alias("warc_ts"),
        F.lit("").cast("binary").alias("html"),
    )
    return host_fetch_rates(pages, window="1 hour", watermark="2 hours")


def q_ann_ivf_topk(spark, sf_dir):
    """Pipeline: IVF ANN top-10 for the vec_id=0 query — 16-centroid
    sampled codebook, nprobe=4, map-only assignment + pruned exact
    rerank (operators/similarity.ivf_topk)."""
    from go_htmldate_spark.operators.similarity import ivf_topk

    emb = _t(spark, sf_dir, "embeddings")
    return ivf_topk(emb, query_id=0, k=10, n_centroids=16, nprobe=4)



def q_ann_ivf_pruned(spark, sf_dir):
    """Pipeline: the IVF probe at its 100 TB shape — corpus materialized
    partitionBy(cluster) once, probe list ranked driver-side from the
    kilobyte codebook so the cluster predicate is a literal isin that
    Catalyst turns into PartitionFilters (genuine partition pruning in
    the probed scan). Output contract identical to ann_ivf_topk (same
    codebook, same probe ranking, same rerank), so the same DuckDB
    oracle gates both paths."""
    import tempfile

    from go_htmldate_spark.operators.similarity import (
        ivf_assign,
        ivf_codebook_local,
        ivf_topk_pruned,
    )

    import hashlib
    import os

    emb = _t(spark, sf_dir, "embeddings")
    # deterministic per-corpus path, overwritten not accumulated: the
    # eager materialization IS the point of this gate (it certifies the
    # partition-pruned probe the 100 TB deployment runs), and reusing
    # one directory per sf_dir keeps repeated driver runs bounded
    tag = hashlib.md5(sf_dir.encode()).hexdigest()[:12]
    out = os.path.join(tempfile.gettempdir(), f"oracle_ivf_{tag}")
    emb.join(ivf_assign(emb, n_centroids=16), "vec_id").write.partitionBy(
        "cluster"
    ).mode("overwrite").parquet(out)
    codebook = ivf_codebook_local(emb, n_centroids=16)
    qvec = list(emb.filter(F.col("vec_id") == 0).head()["embedding"])
    parted = spark.read.parquet(out)
    res = ivf_topk_pruned(parted, codebook, qvec, k=10, nprobe=4)
    return res.select(
        "vec_id", F.col("cluster").cast("long").alias("cluster"), "cosine"
    )


def q_canonicalize_url(spark, sf_dir):
    """§2.9 URL canonicalization as a pure Catalyst expression (messy
    URLs synthesized from orders)."""
    from go_htmldate_spark.plans.canonical import canonicalize_url

    o = _t(spark, sf_dir, "orders")
    messy = F.concat(
        F.lit("HTTPS://Shop"), (F.col("o_custkey") % 7).cast("string"),
        F.lit(".Example.ORG:443//items//"), F.col("o_orderkey").cast("string"),
        F.when(F.col("o_orderkey") % 2 == 0, F.lit("?b=2&a=1#frag")).otherwise(F.lit("")),
    )
    return o.select("o_orderkey", canonicalize_url(messy).alias("url_canon"))


def q_priority_recency(spark, sf_dir):
    """Frontier priority = politeness budget × recency score, natively
    (plans/scheduler.recency_score over real dates)."""
    from go_htmldate_spark.plans.scheduler import recency_score

    o = _t(spark, sf_dir, "orders")
    budget = (F.col("o_custkey") % 5).cast("double") + 1.0
    rec = recency_score(F.date_format("o_orderdate", "yyyy-MM-dd"))
    return o.select(
        "o_orderkey", F.round(budget * rec, 6).alias("priority")
    )


def q_host_topk(spark, sf_dir):
    """Per-key politeness top-k as a window rank (the frontier's
    scheduling primitive) over events."""
    from pyspark.sql import Window

    ev = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy(F.desc("value"), F.asc("event_id"))
    return (
        ev.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= 3)
        .select("user_id", "event_id", "value", "rank")
    )


def q_ip_topk(spark, sf_dir):
    """§2.9 frontier: per-IP politeness (queue-by-IP, scheduler step
    5.5) — the host top-k's OUTPUT re-ranked per server IP so virtual
    hosts sharing a box share the cap. Arithmetic synth: 40k URLs over
    500 hosts, hosts <300 mapped 5-per-IP, per-host k = h%3+1, IP cap
    3; the oracle replays both windows with QUALIFY."""
    from pyspark.sql import Window

    df = spark.range(40000)
    i = F.col("id")
    h = i % 500
    url = F.concat(
        F.lit("https://s"), h.cast("string"), F.lit(".example/p/"),
        i.cast("string"),
    )
    pri = ((i * 2654435761) % 10007).cast("double") / 10007.0
    cand = df.select(
        url.alias("url"),
        F.concat(F.lit("s"), h.cast("string"), F.lit(".example")).alias("host"),
        F.when(h < 300, F.concat(F.lit("ip"), (h % 60).cast("string"))).alias("ip"),
        ((h % 3) + 1).alias("k"),
        (F.round(pri, 6) + F.lit(0.0)).alias("priority"),
    )
    w_host = Window.partitionBy("host").orderBy(
        F.desc("priority"), F.asc("url")
    )
    hosted = cand.withColumn("r", F.row_number().over(w_host)).filter(
        F.col("r") <= F.col("k")
    )
    w_ip = Window.partitionBy(
        F.coalesce(F.col("ip"), F.col("host"))
    ).orderBy(F.desc("priority"), F.asc("url"))
    return (
        hosted.withColumn("r3", F.row_number().over(w_ip))
        .filter(F.col("r3") <= 3)
        .select(
            "url", "host",
            F.coalesce(F.col("ip"), F.col("host")).alias("ip_key"),
            "priority",
        )
    )


def q_minhash_lsh_pairs(spark, sf_dir):
    """Pipeline: MinHash+LSH near-dup candidate pairs. Portable md5-KM
    hash family + raw band-slice buckets so DuckDB recomputes the whole
    signature/band/bucket algebra independently (operators/dedup.py
    xxhash64 family is the at-scale fast path, same algebra)."""
    from go_htmldate_spark.operators.dedup import lsh_candidate_pairs, minhash_signatures

    d = _t(spark, sf_dir, "documents").select("doc_id", "text")
    dup = d.filter(F.col("doc_id") % 11 == 0).select(
        (F.col("doc_id") + 1000000).alias("doc_id"), "text"
    )
    corpus = d.unionByName(dup).repartition(
        spark.sparkContext.defaultParallelism  # md5 map over every core
    )
    sigs = minhash_signatures(corpus, n_hashes=16, hash_family="md5_seeded")
    return lsh_candidate_pairs(
        sigs, bands=4, max_bucket=1_000_000, hashed_buckets=False
    )


def q_incremental_dedup(spark, sf_dir):
    """Pipeline: O(new) incremental dedup — a new crawl batch probed
    against the existing corpus's LSH band index, never corpus×corpus
    (operators/dedup.incremental_dedup). New batch = exact copies of
    every 11th doc (must flag is_dup with est 1.0) plus genuinely new
    texts (suffixed every 7th ≡ 3) that should mostly miss. Portable
    md5-KM family + raw band buckets so DuckDB recomputes the whole
    index/probe/estimate/best-match chain."""
    from go_htmldate_spark.operators.dedup import (
        incremental_dedup, minhash_signatures,
    )

    d = _t(spark, sf_dir, "documents").select("doc_id", "text")
    new = (
        d.filter(F.col("doc_id") % 11 == 0)
        .select((F.col("doc_id") + 1000000).alias("doc_id"), "text")
        .unionByName(
            d.filter(F.col("doc_id") % 7 == 3).select(
                (F.col("doc_id") + 2000000).alias("doc_id"),
                F.concat(
                    F.col("text"), F.lit(" zq unique suffix "),
                    F.col("doc_id").cast("string"),
                ).alias("text"),
            )
        )
    )
    corpus_sigs = minhash_signatures(d, n_hashes=16, hash_family="md5_seeded")
    new_sigs = minhash_signatures(new, n_hashes=16, hash_family="md5_seeded")
    return incremental_dedup(
        corpus_sigs, new_sigs, bands=4, max_bucket=1_000_000,
        threshold=0.5, hashed_buckets=False,
    )


def q_simhash_groups(spark, sf_dir):
    """Pipeline: SimHash near-dup groups (portable 48-bit md5-KM family,
    DuckDB recomputes the signatures bit-for-bit)."""
    from go_htmldate_spark.operators.dedup import simhash_dup_groups

    d = _t(spark, sf_dir, "documents").select("doc_id", "text")
    dup = d.filter(F.col("doc_id") % 5 == 0).select(
        (F.col("doc_id") + 1000000).alias("doc_id"), "text"
    )
    return simhash_dup_groups(d.unionByName(dup), n_bits=48, hash_family="md5_seeded")


def q_simhash_near_pairs(spark, sf_dir):
    """Pipeline: Hamming-radius SimHash near-dup pairs — pigeonhole band
    bucketing + bit_count(xor) verify; portable 48-bit md5 family so the
    oracle recomputes signatures, bands, and distances bit-for-bit."""
    from go_htmldate_spark.operators.dedup import simhash_near_pairs

    d = _t(spark, sf_dir, "documents").select("doc_id", "text")
    dup = d.filter(F.col("doc_id") % 6 == 0).select(
        (F.col("doc_id") + 1000000).alias("doc_id"), "text"
    )
    return simhash_near_pairs(
        d.unionByName(dup), radius=3, n_bits=48,
        hash_family="md5_seeded", max_bucket=1_000_000,
    )


def q_ann_selfjoin(spark, sf_dir):
    """Pipeline: batch ANN self-join (semantic-dedup primitive) — multi-
    table hyperplane LSH bucketing + exact cosine rerank; md5-derived
    planes make every float bit-identical in the DuckDB oracle."""
    from go_htmldate_spark.operators.similarity import ann_selfjoin_pairs

    emb = _t(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    dup = emb.filter(F.col("vec_id") % 9 == 0).select(
        (F.col("vec_id") + 100000).alias("vec_id"), "embedding"
    )
    return ann_selfjoin_pairs(
        emb.unionByName(dup), dim=64, min_cosine=0.9,
        n_planes=8, n_tables=8, hash_family="md5", max_bucket=1_000_000,
    )


def q_pipeline_clean(spark, sf_dir):
    """Pipeline composition: the training-data cleaning flow end-to-end —
    exact dedup (keep lowest id per content hash) → quality gate →
    language ID → per-language corpus stats. One oracle gates the whole
    chain, not just the pieces."""
    from go_htmldate_spark.operators.dedup import exact_dedup
    from go_htmldate_spark.operators.textstats import lang_id, token_count, with_text_stats

    d = _t(spark, sf_dir, "documents").select("doc_id", "text")
    dup = d.filter(F.col("doc_id") % 7 == 0).select(
        (F.col("doc_id") + 1000000).alias("doc_id"), "text"
    )
    deduped = exact_dedup(d.unionByName(dup))
    scored = with_text_stats(deduped).filter(F.col("quality") >= 0.5)
    tagged = scored.select(
        "doc_id", lang_id(F.col("text")).alias("lang_pred"),
        token_count(F.col("text")).alias("n_tok"),
    )
    return tagged.groupBy("lang_pred").agg(
        F.count("*").alias("n_docs"),
        F.sum("n_tok").cast("long").alias("total_tokens"),
    )


def q_semantic_dedup_components(spark, sf_dir):
    """Pipeline: semantic-dedup grouping — ANN self-join edges fed into
    iterative min-label connected components; the oracle recomputes the
    same components with a recursive CTE over the identical edge set
    (md5-derived hyperplanes make the edges bit-reproducible)."""
    from go_htmldate_spark.operators.dedup import connected_components
    from go_htmldate_spark.operators.similarity import ann_selfjoin_pairs

    emb = _t(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    dup = emb.filter(F.col("vec_id") % 9 == 0).select(
        (F.col("vec_id") + 100000).alias("vec_id"), "embedding"
    )
    pairs = ann_selfjoin_pairs(
        emb.unionByName(dup), dim=64, min_cosine=0.9,
        n_planes=8, n_tables=8, hash_family="md5", max_bucket=1_000_000,
    )
    return connected_components(pairs)


def q_robots_parse(spark, sf_dir):
    """§2.1 robots.txt source: bodies synthesized by pure arithmetic,
    parsed by the real native parser (sources/robots.parse_robots); the
    oracle derives the expected rule table from the same arithmetic —
    covering UA-group selection, comment stripping, empty-directive
    drops, rule order, and crawl-delay extraction."""
    from go_htmldate_spark.sources.robots import parse_robots

    df = spark.range(240)
    i = F.col("id")
    istr = i.cast("string")
    gbot = F.when(i % 5 == 0,
                  F.lit("User-agent: googlebot\nDisallow: /gbot-only\n\n")
                  ).otherwise(F.lit(""))
    delay = F.when(i % 3 == 0,
                   F.concat(F.lit("Crawl-delay: "), ((i % 7) + 1).cast("string"),
                            F.lit("\n"))).otherwise(F.lit(""))
    allow = F.when(i % 2 == 0,
                   F.concat(F.lit("Allow: /private-"), istr, F.lit("/ok\n"))
                   ).otherwise(F.lit(""))
    emptyd = F.when(i % 4 == 0, F.lit("Disallow:\n")).otherwise(F.lit(""))
    body = F.concat(
        gbot, F.lit("# synthetic robots\nUser-agent: *\n"), delay,
        F.lit("Disallow: /private-"), istr, F.lit("\n"), allow, emptyd,
    )
    host = F.concat(F.lit("site"), istr, F.lit(".example.org"))
    parsed = parse_robots(df.select(host.alias("host"), body.alias("robots_txt")))
    return parsed.select(
        "host", "crawl_delay", F.posexplode("rules").alias("rule_idx", "r")
    ).select(
        "host",
        F.col("rule_idx").cast("int").alias("rule_idx"),
        F.col("r.path_prefix").alias("path_prefix"),
        F.col("r.allow").alias("allow"),
        "crawl_delay",
    )


def q_extract_cascade(spark, sf_dir):
    """Flagship cascade, hard-gated per document: pages planted by pure
    arithmetic (sources/pages.synth_pages_arith), the REAL cascade runs
    over the HTML, and the oracle independently derives the date every
    page must yield. A hash match ⇔ byte-identical extraction on all
    10 stages × 500 pages."""
    from go_htmldate_spark.operators.extract import extract_dates
    from go_htmldate_spark.options import Options
    from go_htmldate_spark.sources.pages import synth_pages_arith

    pages = synth_pages_arith(spark, 500)
    out = extract_dates(pages, Options())
    return out.select("page_id", "planted_stage", "date")


def q_extract_time(spark, sf_dir):
    """Time/timezone fields hard-gated (core.go:111-125 findTime +
    parseTimezoneCode, pinned by core_test.go:716-777): arithmetic
    pages plant wall times and tz offsets (sources/pages.
    synth_pages_time), the REAL cascade runs with extract_time=True,
    and the oracle derives the full (date, datetime, has_time, has_tz,
    tz_offset) tuple per page."""
    from go_htmldate_spark.operators.extract import extract_dates
    from go_htmldate_spark.options import Options
    from go_htmldate_spark.sources.pages import synth_pages_time

    pages = synth_pages_time(spark, 500)
    out = extract_dates(pages, Options(extract_time=True))
    return out.select(
        "page_id", "planted_stage", "date", "datetime",
        "has_time", "has_tz", "tz_offset",
    )


def q_media_features(spark, sf_dir):
    """Pipeline: multimodal feature extraction plumbing (stubbed decode);
    the decode path's sha256 payload fingerprint is recomputed by the
    oracle per media row."""
    from go_htmldate_spark.operators.multimodal import extract_features, synth_media

    media = synth_media(spark, 200, seed=42)
    return extract_features(media).select(
        "media_id",
        F.col("feat_dim").cast("long").alias("feat_dim"),
        "payload_sha",
        "decode_ok",
    )


def q_media_stats(spark, sf_dir):
    """Pipeline: REAL stdlib media decode — genuinely-encoded BMP / PPM /
    WAV payloads (synth_media_stdlib's closed-form pixel/sample laws) are
    container-sniffed, header-parsed and fully walked by
    extract_media_stats; the oracle re-derives every decoded statistic
    arithmetically."""
    from go_htmldate_spark.operators.multimodal import (
        extract_media_stats,
        synth_media_stdlib,
    )

    media = synth_media_stdlib(spark, 300)
    return extract_media_stats(media)


def q_media_frames(spark, sf_dir):
    """Pipeline: video frame-sampling plan — the per-frame fan-out shape
    (explode of sampled timestamps) over an arithmetic media table the
    oracle re-derives row for row."""
    from go_htmldate_spark.operators.multimodal import frame_sample_plan, synth_media_arith

    media = synth_media_arith(spark, 300)
    return frame_sample_plan(media, every_ms=1000).select(
        "media_id", F.col("frame_ts_ms").cast("long").alias("frame_ts_ms")
    )


def entry(spark: SparkSession) -> DataFrame:
    """Flagship: wrap sf0.001 documents in HTML pages with planted dates,
    run the staged extraction engine, return per-document results."""
    from go_htmldate_spark.operators.extract import extract_dates
    from go_htmldate_spark.options import Options

    docs = _t(spark, SF1, "documents")
    planted = F.date_add(
        F.to_date(F.lit("2000-01-01")),
        (F.abs(F.xxhash64(F.lit(1), "doc_id")) % 9000).cast("int"),
    )
    iso = F.date_format(planted, "yyyy-MM-dd")
    pages = docs.select(
        F.concat(F.lit("https://corpus.example.org/doc/"), F.col("doc_id")).alias("url"),
        F.to_timestamp(F.lit("2024-06-01 00:00:00")).alias("warc_ts"),
        F.encode(
            F.concat(
                F.lit('<html><head><meta property="article:published_time" content="'),
                iso,
                F.lit('"/><title>doc</title></head><body><p>'),
                F.col("text"),
                F.lit("</p></body></html>"),
            ),
            "UTF-8",
        ).alias("html"),
        F.col("text"),
        F.col("lang"),
    )
    out = extract_dates(pages, Options(use_original_date=True))
    return out.select("url", "date", "src_string", "lang")



def q_mock_corpus_parity(spark, sf_dir):
    """Kernel parity on the reference's REAL mock corpus as a driver
    gate: the full cascade (fast + extensive paths — modes 'default' and
    'original' run the extensive search, 'skip' pins the fast-only
    result) over all 78 pinned cases (core_test.go:33-714 expectations,
    mock_test.go:114-184 url->file map). The oracle is the pinned
    expectation table itself, so a hash match means byte-exact date
    parity on real-world HTML is verified by the driver, not only
    pytest."""
    from go_htmldate_spark.operators.extract import extract_dates
    from go_htmldate_spark.sources.mockcorpus import MODE_OPTIONS, mock_cases_df

    cases = mock_cases_df(spark)
    out = None
    for mode, opts in MODE_OPTIONS.items():
        part = extract_dates(
            cases.filter(F.col("mode") == mode), opts
        ).select("url", "mode", "date")
        out = part if out is None else out.unionByName(part)
    return out



def _mockcorpus_expected_sql() -> str:
    from go_htmldate_spark.sources.mockcorpus import expected_values_sql

    return expected_values_sql()



def q_gopher_repetition(spark, sf_dir):
    """Pipeline: Gopher/MassiveText repetition quality signals — top
    n-gram fraction for n=2,3,4 + duplicate-word fraction + the
    published thresholds verdict (operators/textstats.gopher_repetition;
    Rae et al. 2021 table A1). One exploded stream tagged by n, a single
    (id, n, gram) exchange."""
    from go_htmldate_spark.operators.textstats import gopher_repetition

    docs = _ts(spark, sf_dir, "documents", "doc_id").select("doc_id", "text")
    return gopher_repetition(docs)


def q_stratified_sample(spark, sf_dir):
    """Pipeline: deterministic hash-threshold stratified sampling (the
    training-mix primitive) — keep 100% en, 30% de, 5% other, decided by
    the portable 60-bit md5 uniform of (seed, doc_id). Map-only: zero
    exchanges, exactly reproducible across engines and reruns."""
    from go_htmldate_spark.operators.curation import stratified_sample

    docs = _t(spark, sf_dir, "documents").select("doc_id", "source", "lang")
    return stratified_sample(
        docs, "lang", {"en": 1.0, "de": 0.3}, "doc_id", seed=7,
        default_fraction=0.05,
    )


def q_temporal_rebalance(spark, sf_dir):
    """Pipeline: date-aware temporal rebalancing
    (operators/curation.temporal_rebalance) — resample the corpus to a
    target publication-YEAR distribution (the mix op this engine's
    extraction cascade uniquely enables; cf. C4/Dolma temporal
    audits). Proportional fitting keeps the binding year at 100% and
    down-samples the rest: scale = min(n_y/frac_y), rate_y =
    min(1, frac_y·scale/n_y); row choice is the portable 60-bit md5
    uniform. Years outside the target are dropped. One O(#years)
    count exchange, then a map-only literal-CASE filter."""
    from go_htmldate_spark.operators.curation import temporal_rebalance

    docs = _t(spark, sf_dir, "documents").select(
        "doc_id",
        (F.lit(2015) + (F.col("doc_id") * 13) % 10).cast("int").alias("year"),
    )
    return temporal_rebalance(
        docs, "year", "doc_id", {2016: 0.5, 2019: 0.3, 2022: 0.2}, seed=11
    )


def q_adaptive_delay(spark, sf_dir):
    """§2.9 frontier: response-time-adaptive politeness
    (plans/backoff.adaptive_delay) — Heritrix's delay-factor policy:
    per-host crawl delay = clamp(5 × last fetch duration), budget =
    round ms / delay; slow servers back off automatically, latency
    being the leading indicator failure-based backoff lags. One
    partial-aggregated host exchange, O(hosts) output rows in the
    scheduler's min-merged budget currency."""
    from go_htmldate_spark.plans.backoff import adaptive_delay

    o = _t(spark, sf_dir, "orders")
    log = o.select(
        F.concat(F.lit("h"), (F.col("o_orderkey") % 40).cast("string"))
        .alias("host"),
        F.col("o_orderkey").alias("fetch_ts"),
        (F.lit(50) + (F.col("o_orderkey") % 700) * 7)
        .cast("double").alias("duration_ms"),
    )
    return adaptive_delay(log)


def q_water_fill(spark, sf_dir):
    """§2.9 frontier: water-filling crawl-budget allocation
    (plans/budget.water_fill_budgets) — max-min fair split of one
    global per-cycle fetch budget across hosts with unequal frontier
    depths (Bertsekas & Gallager §6.5.2 progressive filling, closed
    form over a sorted prefix sum, exact integer arithmetic). Demands
    synthesized skewed from customer (sum of 1 + c_custkey % 211 per
    host bucket), budget 20,000 < total demand so the level cuts."""
    from go_htmldate_spark.plans.budget import water_fill_budgets

    c = _t(spark, sf_dir, "customer")
    demands = c.groupBy(
        F.concat(F.lit("h"), (F.col("c_custkey") % 37).cast("string"))
        .alias("host")
    ).agg(
        F.sum(F.lit(1) + F.col("c_custkey") % 211).cast("long").alias("demand")
    )
    return water_fill_budgets(demands, 20_000)


def q_wave_plan(spark, sf_dir):
    """§2.9 frontier: multi-wave fetch planning
    (plans/budget.fetch_wave_plan) — every frontier URL gets the
    politeness round it will be fetched in over a 3-round horizon:
    rank within host by (priority desc, url), wave = ceil(rank /
    politeness_budget), salted two-phase exact rank so a mega-host
    never sorts in one task. Frontier from orders (25 hosts), per-host
    budgets 1 + hostnum % 7 derived from the same host set."""
    from go_htmldate_spark.plans.budget import fetch_wave_plan

    o = _t(spark, sf_dir, "orders")
    hostnum = F.col("o_custkey") % 25
    host = F.concat(F.lit("h"), hostnum.cast("string"))
    frontier = o.select(
        host.alias("host"),
        F.concat(F.lit("https://"), host, F.lit("/p/"),
                 F.col("o_orderkey").cast("string")).alias("url"),
        ((F.col("o_orderkey") % 1000) / F.lit(1000.0)).alias("priority"),
    )
    budgets = frontier.select("host").distinct().select(
        "host",
        (F.lit(1) + F.expr("CAST(substring(host, 2) AS INT) % 7"))
        .cast("long").alias("politeness_budget"),
    )
    return fetch_wave_plan(frontier, budgets, horizon=3)


_PARK_FILLER = ("lorem ipsum dolor sit amet consectetur adipiscing elit "
                "sed do eiusmod tempor incididunt ut labore ") * 5


def _parked_pages(spark, sf_dir):
    """Shared synthesis for the parked-domain queries: six planted
    classes from orders — registrar phrase lander, meta-refresh shell,
    anchor farm, article mentioning parking past the lead window (must
    NOT flag), meta-refresh with a real article body (must NOT flag),
    normal article."""
    o = _ts(spark, sf_dir, "orders", "o_orderkey")
    okey = F.col("o_orderkey")
    ks = okey.cast("string")
    url = F.concat(F.lit("https://h"), (F.col("o_custkey") % 30).cast("string"),
                   F.lit(".example/p/"), ks)
    filler = F.lit(_PARK_FILLER)
    farm = F.concat(
        F.expr("repeat('<a href=\"https://ad.example/x\">ad</a> ', 30)"),
        F.lit("<div>"), F.expr("repeat('x', 200)"), F.lit("</div>"))
    cls = okey % 6
    text = (
        F.when(cls == 0, F.concat(
            F.lit("This domain is for sale. Buy this domain today. "), ks))
        .when(cls == 1, F.lit(""))
        .when(cls == 2, F.concat(F.lit("cheap flights hotels deals "), ks))
        .when(cls == 3, F.concat(filler, F.lit(" domain for sale "), ks))
        .when(cls == 4, F.concat(filler, ks))
        .otherwise(F.concat(F.lit("Article body. "), filler, ks))
    )
    html = (
        F.when(cls == 1, F.concat(
            F.lit('<html><head><meta http-equiv="refresh" '
                  'content="0;url=https://ads.example/'), ks,
            F.lit('"></head><body></body></html>')))
        .when(cls == 2, F.concat(farm, ks))
        .when(cls == 4, F.concat(
            F.lit('<html><head><meta http-equiv="REFRESH" content="300">'
                  "</head><body>"), filler, ks, F.lit("</body></html>")))
        .otherwise(F.concat(F.lit("<html><body>"), text,
                            F.lit("</body></html>")))
    )
    return o.select(url.alias("url"), html.alias("html"), text.alias("text"))


def q_parked(spark, sf_dir):
    """§2.9 crawl-waste: parked-domain / link-farm page detection
    (plans/parked.parked_flags — Vogt et al. CEAS 2007 shapes):
    registrar phrase in the lead text window, meta-refresh shell with
    a tiny body, anchor-grid link farm on a thin text/html ratio.
    Map-only native regexp/length algebra (plan-pinned no-Exchange in
    tests); planted classes scored closed-form by the oracle."""
    from go_htmldate_spark.plans.parked import parked_flags

    return parked_flags(_parked_pages(spark, sf_dir))


def q_parked_hosts(spark, sf_dir):
    """§2.9 crawl-waste: per-host parked-rate roll-up
    (plans/parked.parked_host_stats) — the scheduler-facing currency:
    hosts whose pages are (1/2 of 6 classes) parking templates read
    rate 0.5 and cross parked_budget_demotion's threshold only when the
    planted mix says so. One partial-aggregated host exchange."""
    from go_htmldate_spark.plans.parked import parked_flags, parked_host_stats

    return parked_host_stats(parked_flags(_parked_pages(spark, sf_dir)),
                             min_pages=3)


def q_politeness_audit(spark, sf_dir):
    """§2.9 frontier: politeness-compliance audit
    (plans/backoff.politeness_audit) — per-host count of fetch gaps
    shorter than the host's crawl delay, min gap, compliance rate;
    the crawl's own SLA check (Heritrix politeness report). One lag
    window + same-key aggregation = a single exchange. Fetch log from
    orders (unique timestamps), delays 0..120 s across hosts so both
    all-compliant and violating hosts are planted."""
    from go_htmldate_spark.plans.backoff import politeness_audit

    o = _t(spark, sf_dir, "orders")
    host = F.concat(F.lit("h"), (F.col("o_custkey") % 40).cast("string"))
    log = o.select(host.alias("host"),
                   F.col("o_orderkey").cast("double").alias("fetch_ts"))
    delays = log.select("host").distinct().select(
        "host",
        (F.expr("CAST(substring(host, 2) AS INT) % 7") * F.lit(20.0))
        .alias("crawl_delay"),
    )
    return politeness_audit(log, delays)


def q_alloc_fairness(spark, sf_dir):
    """§2.9 frontier: allocation-fairness report
    (plans/budget.allocation_fairness) — Jain's index and the Gini
    coefficient over the water-fill allocation of q_water_fill's
    synthesis; exact integer sums, two fixed-order double divisions,
    bit-stable under any partitioning."""
    from go_htmldate_spark.plans.budget import (
        allocation_fairness,
        water_fill_budgets,
    )

    c = _t(spark, sf_dir, "customer")
    demands = c.groupBy(
        F.concat(F.lit("h"), (F.col("c_custkey") % 37).cast("string"))
        .alias("host")
    ).agg(
        F.sum(F.lit(1) + F.col("c_custkey") % 211).cast("long").alias("demand")
    )
    return allocation_fairness(water_fill_budgets(demands, 20_000))


def q_registrable(spark, sf_dir):
    """§2.9 frontier: registrable-domain (eTLD+1) extraction with
    publicsuffix.org semantics (plans/psl.with_registrable) — the
    politeness identity that splits platform tenants (*.github.io)
    and merges site shards (www/img1/img2). Exact, wildcard (*.ck)
    and exception (!www.ck) rules all exercised by the planted
    classes; compiled InSet probes, map-only, zero joins. The oracle
    scores the planted truth closed-form (it does not re-run the
    algorithm), so this row independently validates the rule
    semantics the 400-host fuzz test pins against the reference
    transcription."""
    from go_htmldate_spark.plans.psl import with_registrable

    c = _t(spark, sf_dir, "customer")
    k = F.col("c_custkey")
    ks = k.cast("string")
    cls = k % 8
    host = (
        F.when(cls == 0, F.concat(F.lit("a"), ks, F.lit(".example.com")))
        .when(cls == 1, F.concat(F.lit("b.a"), ks, F.lit(".co.uk")))
        .when(cls == 2, F.concat(F.lit("u"), ks, F.lit(".github.io")))
        .when(cls == 3, F.concat(F.lit("x"), ks, F.lit(".unknowntld")))
        .when(cls == 4, F.lit("www.ck"))
        .when(cls == 5, F.concat(F.lit("shop.z"), ks, F.lit(".ck")))
        .when(cls == 6, F.concat(F.lit("deep.sub.site"), ks,
                                 F.lit(".org.uk")))
        .otherwise(F.lit("com"))
    )
    return with_registrable(c.select(host.alias("host")), "host")


def q_host_cap_sample(spark, sf_dir):
    """Pipeline: per-host document cap
    (operators/curation.host_cap_sample) — the domain-fairness guard
    (C4 per-domain dedup / FineWeb domain caps): keep at most 5 docs
    per host, ranked by the deterministic md5 uniform with key
    tiebreak; salted two-phase exact rank so a mega-host never sorts
    in one task. Hosts synthesized skewed: host = doc_id % 23 except
    every doc_id % 3 == 0 lands on the mega host h0."""
    from go_htmldate_spark.operators.curation import host_cap_sample

    docs = _t(spark, sf_dir, "documents").select(
        "doc_id",
        F.concat(
            F.lit("h"),
            F.when(F.col("doc_id") % 3 == 0, F.lit(0))
            .otherwise(F.col("doc_id") % 23).cast("string"),
            F.lit(".example"),
        ).alias("host"),
    )
    return host_cap_sample(docs, "host", "doc_id", cap=5, seed=17)


def q_linear_quality(spark, sf_dir):
    """Pipeline: hashing-trick linear document classifier
    (operators/curation.linear_quality_score) — the fastText/VW-shaped
    quality model of GPT-3's Wiki-ref filter and FineWeb-Edu: tokens
    hash into 4096 buckets (portable md5 law), the logit is the mean
    of the buckets' weights (dyadic weight vector → any-order double
    sum is exact), keep thresholds the logit. Broadcast kilobyte
    weight table; one partial-aggregated doc exchange."""
    from go_htmldate_spark.operators.curation import (
        hashed_weights, linear_quality_score,
    )

    docs = _ts(spark, sf_dir, "documents", "doc_id").select("doc_id", "text")
    w = hashed_weights(spark, dim=4096, seed=13)
    return linear_quality_score(docs, w, dim=4096, seed=13)


def q_ngram_contamination(spark, sf_dir):
    """Pipeline: benchmark 8-gram decontamination stats — fraction of
    each document's distinct word 8-grams found anywhere in a benchmark
    set (every 17th doc), the standard train/test overlap test
    (operators/curation.ngram_contamination)."""
    from go_htmldate_spark.operators.curation import ngram_contamination

    docs = _ts(spark, sf_dir, "documents", "doc_id").select("doc_id", "text")
    bench = docs.filter(F.col("doc_id") % 17 == 0).select("text")
    return ngram_contamination(docs, bench, n=8)


def q_dup_span_stats(spark, sf_dir):
    """Pipeline: corpus-level duplicated-span measurement — the
    ExactSubstr dedup statistic of Lee et al. 2022 ("Deduplicating
    Training Data Makes Language Models Better"): every word 8-gram
    window occurring >= 2 times anywhere in the corpus marks its token
    positions as duplicated; per doc we report window counts and the
    fraction of tokens covered (operators/curation.dup_span_stats)."""
    from go_htmldate_spark.operators.curation import dup_span_stats

    docs = _ts(spark, sf_dir, "documents", "doc_id").select("doc_id", "text")
    return dup_span_stats(docs, n=8)


def q_dup_span_removal(spark, sf_dir):
    """Pipeline: ExactSubstr-style duplicated-span REMOVAL — tokens
    covered by any corpus-duplicated 8-gram window are cut and each
    document reassembled in original token order (the training-text
    cut of Lee et al. 2022, at word granularity)
    (operators/curation.remove_dup_spans)."""
    from go_htmldate_spark.operators.curation import remove_dup_spans

    docs = _ts(spark, sf_dir, "documents", "doc_id").select("doc_id", "text")
    return remove_dup_spans(docs, n=8)


def q_pipeline_curate(spark, sf_dir):
    """Pipeline composition: the full training-data CURATION flow —
    exact dedup (planted %7 duplicates) → Gopher repetition gate
    (top-n-gram thresholds) → benchmark 8-gram decontamination
    (benchmark = every 17th doc, drop frac > 0.05) → deterministic
    stratified sampling (en 100%, de 30%, rest 5%, seed 7) → per-doc
    token stats. One oracle replays the entire chain in DuckDB, so the
    gate covers stage COMPOSITION, not just the pieces. Every stage is
    native Catalyst; the only exchanges are the dedup hash-agg, the
    gram aggregations, and the contamination join.

    Physical-plan note (the 100 TB lever): the sample predicate is a
    deterministic per-row function of (doc_id, lang), and the gopher +
    contamination gates are per-doc (contamination references only the
    fixed benchmark set), so all three filters COMMUTE. The sample is
    therefore applied right after dedup — Catalyst cannot hoist it
    through the gram-explosion aggregations itself — so the expensive
    n-gram stages run over only the sampled ~50%, and the two gates are
    flat flag-joins on doc_id rather than nested anti-joins. Result set
    (and oracle, which spells the chain in pipeline order) unchanged."""
    from go_htmldate_spark.operators.curation import (
        ngram_contamination,
        stratified_sample,
    )
    from go_htmldate_spark.operators.dedup import exact_dedup
    from go_htmldate_spark.operators.textstats import (
        gopher_repetition,
        token_count,
    )

    d = _ts(spark, sf_dir, "documents", "doc_id").select(
        "doc_id", "text", "lang")
    dup = d.filter(F.col("doc_id") % 7 == 0).select(
        (F.col("doc_id") + 1000000).alias("doc_id"), "text", "lang"
    )
    deduped = exact_dedup(d.unionByName(dup))
    sampled = stratified_sample(
        deduped, "lang", {"en": 1.0, "de": 0.3}, "doc_id", seed=7,
        default_fraction=0.05,
    )
    # sampled feeds THREE consumers (repetition gate, contamination
    # probe, the flag join) — barrier it once so the dedup exchange +
    # sample chain doesn't re-execute per branch (r06; same pattern as
    # anchor_text)
    sampled = sampled.localCheckpoint(eager=False)
    rep = gopher_repetition(sampled)
    bench = d.filter(F.col("doc_id") % 17 == 0).select("text")
    contam = ngram_contamination(sampled, bench, n=8)
    flags = sampled.join(
        rep.select("doc_id", "gopher_ok"), "doc_id"
    ).join(
        contam.select("doc_id", "contamination_frac"), "doc_id", "left"
    )
    final = flags.filter(
        F.col("gopher_ok")
        & (F.coalesce(F.col("contamination_frac"), F.lit(0.0)) <= 0.05)
    )
    return final.select(
        "doc_id", "lang",
        token_count(F.col("text")).cast("long").alias("n_tok"),
    )


def q_pii_scrub(spark, sf_dir):
    """Pipeline: PII redaction (emails / IPv4 / intl phone numbers) with
    per-type counts — RefinedWeb-style scrubbing as a map-only native
    transform (operators/curation.pii_scrub). Deterministic PII is
    injected per doc_id so the patterns are actually exercised; the
    oracle replays the same injection and the same RE2-subset regexes."""
    from go_htmldate_spark.operators.curation import pii_scrub

    d = _ts(spark, sf_dir, "documents", "doc_id").select("doc_id", "text")
    did = F.col("doc_id")
    injected = d.select(
        "doc_id",
        F.concat(
            F.col("text"),
            F.when(
                did % 5 == 0,
                F.concat(F.lit(" contact user"), did.cast("string"),
                         F.lit("@test.org")),
            ).otherwise(F.lit("")),
            F.when(
                did % 7 == 3,
                F.concat(F.lit(" ip 10.0."), (did % 256).cast("string"),
                         F.lit(".17")),
            ).otherwise(F.lit("")),
            F.when(
                did % 11 == 5,
                F.concat(F.lit(" call +1 (555) 010-"),
                         (did % 90 + 10).cast("string")),
            ).otherwise(F.lit("")),
        ).alias("text"),
    )
    out = pii_scrub(injected)
    return out.select(
        "doc_id",
        F.col("n_email").cast("long").alias("n_email"),
        F.col("n_ipv4").cast("long").alias("n_ipv4"),
        F.col("n_phone").cast("long").alias("n_phone"),
        "clean_text",
    )


def q_c4_heuristics(spark, sf_dir):
    """Pipeline: C4/Gopher document-heuristic quality flags — word-count
    and mean-word-length bounds, terminal punctuation, brace /
    lorem-ipsum / javascript exclusions (operators/curation.c4_heuristics).
    Map-only native; the oracle recomputes every flag including the
    rounded mean-word-length threshold."""
    from go_htmldate_spark.operators.curation import c4_heuristics

    d = _ts(spark, sf_dir, "documents", "doc_id").select("doc_id", "text")
    return c4_heuristics(d)


def q_lm_score(spark, sf_dir):
    """Pipeline: CCNet-style bigram-LM quality scoring — fit add-one
    smoothed bigram counts on the English slice, score every document
    by average log P(w_i | w_{i-1}) (operators/curation.lm_score).
    Double accumulation is a position-sorted left fold so the oracle
    reproduces it bit-for-bit."""
    from go_htmldate_spark.operators.curation import lm_score

    d = _ts(spark, sf_dir, "documents", "doc_id").select(
        "doc_id", "text", "lang")
    ref = d.filter(F.col("lang") == "en").select("text")
    return lm_score(d.select("doc_id", "text"), ref)


def q_ccnet_buckets(spark, sf_dir):
    """Pipeline: CCNet head/middle/tail perplexity terciles (Wenzek et
    al. 2020 §4.3) — bigram-LM score per doc, then per-language rank
    terciles with integer bucket math and a (ppl, doc_id) total order
    (operators/curation.ccnet_buckets). The scale path (precomputed
    cutoffs broadcast, map-only) is exercised by pytest; the ranked
    exact path is the oracle gate."""
    from go_htmldate_spark.operators.curation import ccnet_buckets

    d = _ts(spark, sf_dir, "documents", "doc_id").select(
        "doc_id", "text", "lang")
    ref = d.filter(F.col("lang") == "en").select("text")
    return ccnet_buckets(d, ref)


def q_pack_sequences(spark, sf_dir):
    """Pipeline: GPT-style sequence packing — concatenate docs in id
    order per shard, chunk into 256-token windows; per doc: token
    count, start offset, first/last sequence index
    (operators/curation.pack_sequences). One exchange on shard; each
    shard packs as an independent parallel stream."""
    from go_htmldate_spark.operators.curation import pack_sequences

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    return pack_sequences(docs, seq_len=256, n_shards=8)


def q_token_budget_sample(spark, sf_dir):
    """Pipeline: token-budget mix building — take docs per language in
    deterministic md5-uniform order until the stratum's token budget is
    crossed (operators/curation.token_budget_sample): 20k en tokens,
    5k de tokens. The window runs per stratum; the oracle replays the
    identical order and running total."""
    from go_htmldate_spark.operators.curation import token_budget_sample

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text", "lang")
    return token_budget_sample(
        docs, {"en": 20000, "de": 5000}, strata_col="lang", seed=11
    )


def _warc_fixture_dir(spark, sf_dir: str) -> str:
    """Deterministic WARC shards derived from the documents table —
    built once per sf into a content-addressed tmp dir (fixture
    generation, driver-side by design: the unit under test is the
    distributed READER; the collect here is the same bounded fixture
    cost as writing any test file). 4 gzip-member shard files, records
    sorted by doc_id within shard doc_id % 4."""
    import hashlib
    import io
    import os
    import tempfile

    from go_htmldate_spark.sources.warc import (
        http_response_payload, write_warc_record,
    )

    tag = hashlib.md5(sf_dir.encode()).hexdigest()[:8]
    d = os.path.join(tempfile.gettempdir(), f"spark_graft_warc_{tag}")
    done = os.path.join(d, "_DONE")
    if os.path.exists(done):
        return d
    rows = (
        spark.read.parquet(os.path.join(sf_dir, "documents.parquet"))
        .select("doc_id", "text", "lang").orderBy("doc_id").collect()
    )
    os.makedirs(d, exist_ok=True)
    from datetime import datetime, timedelta

    shards = [io.BytesIO() for _ in range(4)]
    epoch = datetime(2024, 1, 1)
    for r in rows:
        doc_id = r["doc_id"]
        body = f"<html><body><p>{r['text']}</p></body></html>".encode()
        # doc_id seconds past 2024-01-01T00:00:00Z
        warc_date = (epoch + timedelta(seconds=doc_id)).strftime(
            "%Y-%m-%dT%H:%M:%SZ"
        )
        write_warc_record(
            shards[doc_id % 4], "response",
            http_response_payload(body, content_type="text/html; charset=utf-8"),
            url=f"https://warc.example/{r['lang']}/doc-{doc_id}",
            warc_date=warc_date, record_id=f"urn:uuid:{doc_id}",
            gzip_member=True,
        )
    for i, s in enumerate(shards):
        tmp = os.path.join(d, f".shard-{i}.tmp")
        with open(tmp, "wb") as f:
            f.write(s.getvalue())
        os.replace(tmp, os.path.join(d, f"shard-{i}.warc.gz"))
    with open(done, "w") as f:
        f.write("ok")
    return d


def q_warc_roundtrip(spark, sf_dir):
    """§2.1 sources: Common-Crawl-native WARC ingestion
    (sources/warc.read_warc) — binaryFile file-granular parallelism +
    stdlib record parser in mapInPandas. The fixture shards are
    generated from the documents table; the oracle reconstructs every
    field (url, timestamp, HTTP status/content-type, body length and
    md5) independently in SQL, so a parse bug anywhere in the gzip /
    header / HTTP-split chain breaks the hash."""
    import os

    from go_htmldate_spark.sources.warc import read_warc

    d = _warc_fixture_dir(spark, sf_dir)
    recs = read_warc(spark, os.path.join(d, "*.warc.gz"))
    return recs.select(
        F.regexp_extract("url", r"doc-(\d+)$", 1).cast("long").alias("doc_id"),
        "url",
        F.to_timestamp(F.col("warc_date"), "yyyy-MM-dd'T'HH:mm:ssX").alias("warc_ts"),
        F.col("http_status"),
        F.col("http_content_type"),
        F.length("payload").cast("long").alias("n_bytes"),
        F.md5("payload").alias("body_md5"),
    )


def q_wet_roundtrip(spark, sf_dir):
    """§2.1 sources: WET export + ingest roundtrip — the DISTRIBUTED
    writer (sources/warc.write_wet_shards: WARC `conversion` records,
    text/plain blocks, 4 deterministic range-partitioned shards) then
    the distributed reader (read_warc conversion mode → wet_to_docs).
    The oracle reconstructs url/timestamp/char-count/md5 straight from
    the documents table, so a byte fault anywhere in the gzip-member /
    record-header / UTF-8 chain breaks the hash. Completes the Common
    Crawl artifact trio: WARC (warc_roundtrip), WET (this), CDX
    (cdx_index)."""
    import hashlib
    import os
    import tempfile

    from go_htmldate_spark.sources.warc import (
        read_warc, wet_to_docs, write_wet_shards,
    )

    tag = hashlib.md5(sf_dir.encode()).hexdigest()[:8]
    d = os.path.join(tempfile.gettempdir(), f"spark_graft_wet_{tag}")
    docs = _ts(spark, sf_dir, "documents", "doc_id")
    pages = docs.select(
        F.concat(F.lit("https://wet.example/"), F.col("lang"),
                 F.lit("/doc-"), F.col("doc_id").cast("string")).alias("url"),
        F.expr(
            "timestamp'2024-01-01 00:00:00'"
            " + make_interval(0, 0, 0, 0, 0, 0, doc_id)"
        ).alias("warc_ts"),
        "text",
    )
    # shard count = core count (was 4): WET read parallelism is
    # file-granular (one gzip member stream per task), so 4 shards
    # pinned both the export and the re-ingest to 4 of the session's
    # cores; per-record bytes are shard-independent, so the output (and
    # its oracle) is unchanged
    write_wet_shards(pages, d,
                     n_shards=spark.sparkContext.defaultParallelism)
    recs = read_warc(spark, os.path.join(d, "*.warc.wet.gz"),
                     warc_types=("conversion",))
    out = wet_to_docs(recs)
    return out.select(
        F.regexp_extract("url", r"doc-(\d+)$", 1).cast("long").alias("doc_id"),
        "url",
        "warc_ts",
        F.length("text").cast("long").alias("n_chars"),
        F.md5("text").alias("text_md5"),
    )


def _wat_records(spark, sf_dir):
    """Synthetic response records for the WAT queries: one capture per
    document with a planted title (messy whitespace the extractor must
    collapse), two name/content metas in both quote styles, one
    content-before-name meta the parser must SKIP, two href links in
    both quote styles, and no-href / inner-markup distractors — every
    value a closed-form function of doc_id so the oracle rebuilds the
    envelope without parsing HTML."""
    d = _ts(spark, sf_dir, "documents", "doc_id")
    did = F.col("doc_id").cast("string")
    html = F.concat(
        F.lit("<html><head><title> Doc  "), did,
        F.lit("\n title</title>"),
        F.lit('<meta name="description" content="d'),
        (F.col("doc_id") % 50).cast("string"), F.lit('">'),
        F.lit("<meta name='keywords' content='k"),
        (F.col("doc_id") % 9).cast("string"), F.lit("'>"),
        F.lit('<meta content="rev" name="skipped">'),
        F.lit('</head><body><a href="https://t'),
        (F.col("doc_id") % 7).cast("string"), F.lit(".example/p/"),
        (F.col("doc_id") % 97).cast("string"), F.lit('">go '),
        (F.col("doc_id") % 13).cast("string"), F.lit("</a>"),
        F.lit(" mid <a class=\"x\" href='https://hub.example/t/"),
        (F.col("doc_id") % 31).cast("string"), F.lit("'>hub</a>"),
        F.lit('<a name="n">skip</a><p>'), F.col("text"),
        F.lit("</p></body></html>"),
    )
    return d.select(
        F.concat(F.lit("https://wat.example/"), F.col("lang"),
                 F.lit("/doc-"), did).alias("url"),
        F.lit("2026-08-01T00:00:00Z").alias("warc_date"),
        F.concat(F.lit("urn:doc:"), did).alias("record_id"),
        F.when(F.col("doc_id") % 7 == 0, F.lit(404))
        .otherwise(F.lit(200)).cast("int").alias("http_status"),
        F.lit("text/html; charset=utf-8").alias("http_content_type"),
        F.encode(html, "UTF-8").alias("payload"),
        F.lit("response").alias("warc_type"),
    )


def _wat_projection(meta):
    """Driver-comparable projection of the wat_metadata column set:
    arrays joined to strings (the driver hasher compares scalars)."""
    return meta.select(
        F.regexp_extract("url", r"doc-(\d+)$", 1).cast("long").alias("doc_id"),
        "url",
        "warc_date",
        "record_id",
        F.col("status").cast("int").alias("status"),
        "mime",
        F.col("payload_len").cast("long").alias("payload_len"),
        "title",
        F.array_join("meta_names", "|").alias("meta_names_joined"),
        F.array_join("meta_contents", "|").alias("meta_contents_joined"),
        F.array_join("links", "|").alias("links_joined"),
        F.col("n_links").cast("long").alias("n_links"),
    )


def q_wat_metadata(spark, sf_dir):
    """§2.1 sources: WAT envelope metadata extraction
    (sources/warc.wat_metadata) — Common Crawl's per-capture metadata
    artifact: WARC header fields, HTTP response message, payload byte
    length, and the HTML-Metadata block (<title> whitespace-collapsed,
    <meta name/content> pairs with quote-aware scanning that skips
    content-before-name tags, <a href> links in document order).
    MAP-ONLY — codegen regexps over the scan, page bytes never
    shuffle. The oracle rebuilds every field closed-form including
    strlen of the full planted page."""
    from go_htmldate_spark.sources.warc import wat_metadata

    return _wat_projection(wat_metadata(_wat_records(spark, sf_dir)))


def q_wat_roundtrip(spark, sf_dir):
    """§2.1 sources: WAT export + ingest roundtrip — wat_metadata →
    write_wat_shards (WARC `metadata` records, byte-deterministic JSON
    envelopes, 4 range-partitioned shards) → read_warc metadata mode →
    wat_to_metadata (JVM-native from_json). The oracle is the same
    closed-form envelope as wat_metadata, so a fault anywhere in the
    JSON serialize / gzip / WARC header / from_json chain breaks the
    hash. Completes the Common Crawl artifact family: WARC, WAT
    (this), WET, CDX."""
    import hashlib
    import os
    import tempfile

    from go_htmldate_spark.sources.warc import (
        read_warc, wat_metadata, wat_to_metadata, write_wat_shards,
    )

    tag = hashlib.md5(sf_dir.encode()).hexdigest()[:8]
    d = os.path.join(tempfile.gettempdir(), f"spark_graft_wat_{tag}")
    # shard count = core count (was 4; same parallelism rationale as
    # q_wet_roundtrip — per-record bytes are shard-independent)
    write_wat_shards(wat_metadata(_wat_records(spark, sf_dir)), d,
                     n_shards=spark.sparkContext.defaultParallelism)
    recs = read_warc(spark, os.path.join(d, "*.warc.wat.gz"),
                     warc_types=("metadata",))
    return _wat_projection(wat_to_metadata(recs))


def q_warc_curate(spark, sf_dir):
    """End-to-end ingest→curate composition: WARC shards → distributed
    parse (sources/warc.read_warc) → text recovery from the HTTP body →
    deterministic stratified sample (en 100% / de 50% / rest 10%,
    seed 5) → token stats + content hash. The oracle computes the same
    chain straight from the documents table, so a single hash mismatch
    anywhere — gzip, WARC headers, HTTP split, byte→string decode,
    sampling uniform, tokenizer — breaks the gate: the WARC edge is
    proven byte-transparent to the curation operators."""
    import os

    from go_htmldate_spark.operators.curation import stratified_sample
    from go_htmldate_spark.operators.textstats import token_count
    from go_htmldate_spark.sources.warc import read_warc

    d = _warc_fixture_dir(spark, sf_dir)
    recs = read_warc(spark, os.path.join(d, "*.warc.gz"))
    docs = recs.select(
        F.regexp_extract("url", r"doc-(\d+)$", 1).cast("long").alias("doc_id"),
        F.regexp_extract("url", r"warc\.example/([a-z]+)/", 1).alias("lang"),
        F.regexp_extract(
            F.col("payload").cast("string"), r"<p>(.*)</p>", 1
        ).alias("text"),
    )
    sampled = stratified_sample(
        docs, "lang", {"en": 1.0, "de": 0.5}, key_col="doc_id",
        seed=5, default_fraction=0.1,
    )
    return sampled.select(
        "doc_id", "lang",
        token_count(F.col("text")).cast("long").alias("n_tok"),
        F.md5("text").alias("text_md5"),
    )


_BLOCKLIST_DOMAINS = [
    "ads.example", "h3.news.example", "tracker.shop.example", "h7.blog.example",
]


def q_line_dedup(spark, sf_dir):
    """Pipeline: line-level cross-document deduplication
    (operators/curation.line_dedup) — the RefinedWeb line-wise
    correction: lines repeated verbatim across >= 3 distinct documents
    (nav bars, subscribe prompts, copyright footers) are removed and
    each document reassembled in original line order. Multi-line pages
    are synthesized from documents so boilerplate genuinely repeats
    while prose stays unique; the oracle replays the same construction
    and the same trim-nonempty eligibility rule."""
    from go_htmldate_spark.operators.curation import line_dedup

    d = _ts(spark, sf_dir, "documents", "doc_id").select("doc_id", "text")
    did = F.col("doc_id")
    synth = d.select(
        "doc_id",
        F.concat_ws(
            "\n",
            F.lit("Home | News | Sign in"),
            F.concat(F.lit("title "), did.cast("string")),
            F.substring(F.col("text"), 1, 60),
            F.lit(""),
            F.concat(F.lit("promo "), (did % 3).cast("string")),
            F.when(did % 2 == 0, F.lit("subscribe to our newsletter"))
            .otherwise(F.concat(F.lit("body "), did.cast("string"),
                                F.lit(" unique tail"))),
            F.concat(F.lit("copyright "), (did % 5).cast("string")),
        ).alias("text"),
    )
    return line_dedup(synth, min_docs=3)


def q_host_boilerplate(spark, sf_dir):
    """Pipeline: host-scoped fractional template-line removal
    (operators/curation.host_boilerplate) — the CCNet/RefinedWeb
    host-level refinement of line_dedup: a line is removed only when
    it repeats across >= 30% of ITS host's documents (integer-exact
    100*n_docs >= 30*host_docs rule), so a small site's nav template
    is caught while the same sentence quoted on two unrelated hosts
    survives. Hosts synthesized as doc_id % 37; the per-host nav line
    repeats in every page, the copyright in ~half, the promo rotation
    in ~1/3 (straddling the 30% threshold — an exact-comparison
    probe), and prose stays unique. The oracle replays the same
    construction and rule on raw (host, line) pairs."""
    from go_htmldate_spark.operators.curation import host_boilerplate

    d = _ts(spark, sf_dir, "documents", "doc_id").select("doc_id", "text")
    did = F.col("doc_id")
    host = F.concat(F.lit("h"), (did % 37).cast("string"))
    synth = d.select(
        "doc_id",
        host.alias("host"),
        F.concat_ws(
            "\n",
            F.concat(F.lit("nav "), host),
            F.concat(F.lit("promo "), (did % 3).cast("string")),
            F.substring(F.col("text"), 1, 60),
            F.lit(""),
            F.when(did % 2 == 0, F.concat(F.lit("copyright "), host))
            .otherwise(F.concat(F.lit("body "), did.cast("string"),
                                F.lit(" unique tail"))),
        ).alias("text"),
    )
    return host_boilerplate(synth, min_pct=30, min_docs=2)


def q_sitemap_parse(spark, sf_dir):
    """§2.1 source: sitemap XML → frontier entries
    (sources/sitemaps.parse_sitemaps) — native regexp block extraction
    (RE2-safe dotall patterns), urlset + sitemapindex kinds, lastmod
    date prefix, XML entity decode, declared <priority>
    (protocol-range clamped) and <changefreq> (vocabulary-gated, an
    invalid value parses as NULL). Sitemap bodies synthesized from
    orders (every 10th order advertises a child sitemap index instead);
    the oracle replays the same regexes in DuckDB."""
    from go_htmldate_spark.sources.sitemaps import parse_sitemaps

    o = _ts(spark, sf_dir, "orders", "o_orderkey")
    okey = F.col("o_orderkey").cast("string")
    site = F.concat(F.lit("https://s"), (F.col("o_custkey") % 20).cast("string"),
                    F.lit(".example"))
    freq = F.element_at(
        F.array(*[F.lit(x) for x in
                  ("always", "hourly", "daily", "weekly", "monthly",
                   "yearly", "sometimes")]),  # 'sometimes': invalid → NULL
        (F.col("o_orderkey") % 7).cast("int") + 1,
    )
    prio = F.element_at(
        F.array(*[F.lit(x) for x in
                  ("0.0", "0.3", "0.5", "0.8", "1.0", "1.2")]),  # 1.2 clamps
        (F.col("o_orderkey") % 6).cast("int") + 1,
    )
    urlset = F.concat(
        F.lit('<?xml version="1.0"?><urlset><url><loc>'),
        site, F.lit("/o/"), okey,
        F.lit("</loc><lastmod>"),
        F.date_format("o_orderdate", "yyyy-MM-dd"),
        F.lit("T12:00:00+00:00</lastmod><changefreq>"), freq,
        F.lit("</changefreq><priority>"), prio,
        F.lit("</priority></url><url>\n <loc> "),
        site, F.lit("/p/"), okey, F.lit("?a=1&amp;b=2 </loc>\n</url></urlset>"),
    )
    index = F.concat(
        F.lit("<sitemapindex><sitemap><loc>"),
        site, F.lit("/sitemap-"), okey,
        F.lit(".xml</loc><lastmod>"),
        F.date_format("o_orderdate", "yyyy-MM-dd"),
        F.lit("</lastmod></sitemap></sitemapindex>"),
    )
    xml = F.when(F.col("o_orderkey") % 10 == 0, index).otherwise(urlset)
    docs = o.select(
        F.concat(site, F.lit("/sitemap.xml?id="), okey).alias("sitemap_url"),
        xml.alias("xml"),
    )
    return parse_sitemaps(docs)


def q_feed_parse(spark, sf_dir):
    """§2.1 source: RSS/Atom feed parsing (sources/feeds.parse_feeds)
    — the third discovery channel after sitemaps and links. RSS
    `<item>` link + RFC-822 pubDate (date rebuilt from the
    day/month-name/year core), Atom `<entry>` first link href +
    published-over-updated preference, XML entity decode, linkless
    entries dropped. Bodies synthesized from orders (every 3rd order
    publishes Atom instead of RSS); the oracle replays the same
    RE2-safe regexes in DuckDB."""
    from go_htmldate_spark.sources.feeds import parse_feeds

    o = _ts(spark, sf_dir, "orders", "o_orderkey")
    okey = F.col("o_orderkey").cast("string")
    site = F.concat(F.lit("https://s"), (F.col("o_custkey") % 20).cast("string"),
                    F.lit(".example"))
    mon_name = F.element_at(
        F.array(*[F.lit(m) for m in
                  ("Jan", "Feb", "Mar", "Apr", "May", "Jun",
                   "Jul", "Aug", "Sep", "Oct", "Nov", "Dec")]),
        F.month("o_orderdate"),
    )
    rfc822 = F.concat(
        F.lit("Mon, "), F.lpad(F.dayofmonth("o_orderdate").cast("string"), 2, "0"),
        F.lit(" "), mon_name, F.lit(" "), F.year("o_orderdate").cast("string"),
        F.lit(" 10:30:00 GMT"),
    )
    rss = F.concat(
        F.lit("<rss><channel><item><link>"), site, F.lit("/a/"), okey,
        F.lit("</link><pubDate>"), rfc822,
        F.lit("</pubDate></item><item>\n <link> "),
        site, F.lit("/b/"), okey, F.lit("?x=1&amp;y=2 </link>\n"),
        F.lit("<pubDate>not a date</pubDate></item>"),
        F.lit("<item><guid>linkless-dropped</guid></item></channel></rss>"),
    )
    iso = F.date_format("o_orderdate", "yyyy-MM-dd")
    atom = F.concat(
        F.lit('<feed><entry><link rel="alternate" href="'),
        site, F.lit("/e/"), okey,
        F.lit('"/><published>'), iso,
        F.lit("T08:00:00Z</published><updated>2026-01-01T00:00:00Z"
              "</updated></entry>"),
        F.lit('<entry><link href="'), site, F.lit("/f/"), okey,
        F.lit('"/><updated>'), iso, F.lit("T09:00:00Z</updated></entry>"),
        F.lit("<entry><title>no link</title></entry></feed>"),
    )
    xml = F.when(F.col("o_orderkey") % 3 == 0, atom).otherwise(rss)
    docs = o.select(
        F.concat(site, F.lit("/feed.xml?id="), okey).alias("feed_url"),
        xml.alias("xml"),
    )
    return parse_feeds(docs)


def q_robots_sitemaps(spark, sf_dir):
    """§2.1 source: robots.txt `Sitemap:` advertisement discovery
    (sources/robots.robots_sitemaps) — case-insensitive key,
    group-independent placement, comment stripping, absolute-http(s)
    gate, file order kept. Bodies synthesized by pure arithmetic; the
    oracle derives every expected (host, pos, sitemap_url) row — pos
    included, so line accounting is hash-gated too."""
    from go_htmldate_spark.sources.robots import robots_sitemaps

    df = spark.range(240)
    i = F.col("id")
    istr = i.cast("string")
    site = F.concat(F.lit("site"), istr, F.lit(".example.org"))
    sm_a = F.when(
        i % 2 == 0,
        F.concat(F.lit("Sitemap: https://"), site, F.lit("/sm-a.xml\n")),
    ).otherwise(F.lit(""))
    sm_b = F.when(
        i % 3 == 0,
        F.concat(F.lit("sitemap:http://"), site,
                 F.lit("/sm-b.xml # advertised mid-group\n")),
    ).otherwise(F.lit(""))
    sm_rel = F.when(i % 5 == 0, F.lit("SITEMAP: /relative.xml\n")).otherwise(
        F.lit("")
    )
    sm_ftp = F.when(
        i % 7 == 0,
        F.concat(F.lit("Sitemap: ftp://"), site, F.lit("/x.xml\n")),
    ).otherwise(F.lit(""))
    body = F.concat(
        F.lit("# synthetic robots\n"), sm_a,
        F.lit("User-agent: *\nDisallow: /p\n"), sm_b, sm_rel, sm_ftp,
    )
    return robots_sitemaps(
        df.select(site.alias("host"), body.alias("robots_txt"))
    )


def _snapshot_pair(spark, sf_dir):
    """Two deterministic crawl snapshots of the documents corpus:
    snapshot A drops every 11th doc (those become `added`), snapshot B
    drops every 13th (`removed`) and rewrites every 7th text
    (`changed`); everything else is `unchanged`."""
    d = _t(spark, sf_dir, "documents")
    url = F.concat(
        F.lit("https://h"), (F.col("doc_id") % 40).cast("string"),
        F.lit(".example/p/"), F.col("doc_id").cast("string"),
    )
    old = d.filter(F.col("doc_id") % 11 != 0).select(
        url.alias("url"), F.md5(F.col("text")).alias("content_hash")
    )
    new_text = F.when(
        F.col("doc_id") % 7 == 0, F.concat(F.col("text"), F.lit(" updated"))
    ).otherwise(F.col("text"))
    new = d.filter(F.col("doc_id") % 13 != 0).select(
        url.alias("url"), F.md5(new_text).alias("content_hash")
    )
    return old, new


def q_host_datacard(spark, sf_dir):
    """Pipeline: per-host data card (operators/curation.host_datacard)
    — the C4/FineWeb per-domain corpus report: doc/token counts,
    C4-gate pass rate, mean doc length, majority language + share.
    One (host, lang) exchange with map-side combine; text never
    shuffles. Hosts synthesized from documents (doc_id % 40)."""
    from go_htmldate_spark.operators.curation import host_datacard

    d = _t(spark, sf_dir, "documents")
    pages = d.select(
        F.concat(F.lit("https://h"), (F.col("doc_id") % 40).cast("string"),
                 F.lit(".example/d/"), F.col("doc_id").cast("string"))
        .alias("url"),
        "text",
        "lang",
    )
    return host_datacard(pages)


def q_snapshot_diff(spark, sf_dir):
    """§2.9 frontier: cross-snapshot crawl diff (plans/snapshots) —
    full-outer join on the canonical URL key classifying every URL as
    added / removed / changed / unchanged between two crawl passes
    (Ntoulas/Cho/Olston WWW'04 corpus-drift measurement; feeds
    plans/recrawl's change-rate estimator). One shuffle; bodies never
    move — both sides project to (url, hash) first."""
    from go_htmldate_spark.plans.snapshots import snapshot_diff

    old, new = _snapshot_pair(spark, sf_dir)
    return snapshot_diff(old, new)


def q_snapshot_diff_stats(spark, sf_dir):
    """Corpus-drift roll-up of q_snapshot_diff: per-status URL counts
    and fractions (plans/snapshots.snapshot_diff_stats)."""
    from go_htmldate_spark.plans.snapshots import (
        snapshot_diff, snapshot_diff_stats,
    )

    old, new = _snapshot_pair(spark, sf_dir)
    return snapshot_diff_stats(snapshot_diff(old, new))


def _revisit_pair(spark, sf_dir):
    """Deterministic fetch batch + prior capture index from documents:
    every 6th doc changed content since the last pass (digest differs),
    every 9th doc is a first capture (absent from the prior index),
    the rest are identical-payload revisits."""
    d = _t(spark, sf_dir, "documents")
    url = F.concat(
        F.lit("https://h"), (F.col("doc_id") % 40).cast("string"),
        F.lit(".example/r/"), F.col("doc_id").cast("string"),
    )
    cur_text = F.when(
        F.col("doc_id") % 6 == 0, F.concat(F.col("text"), F.lit(" v2"))
    ).otherwise(F.col("text"))
    fetched = d.select(
        url.alias("url"),
        F.md5(cur_text).alias("payload_digest"),
        F.lit("2026-08-01T00:00:00Z").alias("warc_date"),
        F.octet_length(cur_text).cast("long").alias("n_bytes"),
    )
    prior = d.filter(F.col("doc_id") % 9 != 0).select(
        url.alias("url"),
        F.md5(F.col("text")).alias("payload_digest"),
        F.lit("2026-07-01T00:00:00Z").alias("warc_date"),
    )
    return fetched, prior


def q_warc_revisit(spark, sf_dir):
    """§2.9 frontier / WARC sink: identical-payload-digest revisit
    classification (plans/revisits.revisit_classify) — WARC 1.1
    (ISO 28500-2017) revisit records, the Heritrix/Internet-Archive
    storage dedup: a re-fetch whose payload digest matches the prior
    capture stores a payload-free revisit record pointing at the
    original. One (url, digest, date)-projected left join; bodies
    never shuffle; classification is a codegen CASE."""
    from go_htmldate_spark.plans.revisits import revisit_classify

    fetched, prior = _revisit_pair(spark, sf_dir)
    return revisit_classify(fetched, prior)


def q_revisit_stats(spark, sf_dir):
    """Storage-ledger roll-up of q_warc_revisit: per-record-type counts
    and bytes fetched/stored/saved (plans/revisits.revisit_stats)."""
    from go_htmldate_spark.plans.revisits import (
        revisit_classify, revisit_stats,
    )

    fetched, prior = _revisit_pair(spark, sf_dir)
    return revisit_stats(revisit_classify(fetched, prior))


def q_revisit_roundtrip(spark, sf_dir):
    """§2.1 sources + §2.9 frontier: dedup-aware WARC export + ingest —
    revisit_classify's output written through
    sources/warc.write_dedup_warc_shards (response rows keep their
    payload; revisit rows become payload-free records with
    WARC-Profile / WARC-Refers-To-Date / WARC-Payload-Digest headers)
    then re-read with read_warc(("response","revisit")). The oracle
    rebuilds record type, profile, refers-to date and payload byte
    length closed-form, so the storage-dedup claim (revisit bodies are
    NOT in the archive) is hash-gated."""
    import hashlib
    import os
    import tempfile

    from go_htmldate_spark.plans.revisits import revisit_classify
    from go_htmldate_spark.sources.warc import (
        read_warc, write_dedup_warc_shards,
    )

    fetched, prior = _revisit_pair(spark, sf_dir)
    cls = revisit_classify(fetched, prior)
    d = _t(spark, sf_dir, "documents")
    cur_text = F.when(
        F.col("doc_id") % 6 == 0, F.concat(F.col("text"), F.lit(" v2"))
    ).otherwise(F.col("text"))
    url = F.concat(
        F.lit("https://h"), (F.col("doc_id") % 40).cast("string"),
        F.lit(".example/r/"), F.col("doc_id").cast("string"),
    )
    bodies = d.select(url.alias("url"), F.encode(cur_text, "UTF-8").alias("_p"))
    inp = cls.join(bodies, "url").select(
        "url", "warc_date", "record_type", "digest", "refers_to_date",
        F.when(F.col("record_type") == "response", F.col("_p"))
        .alias("payload"),
    )
    tag = hashlib.md5(sf_dir.encode()).hexdigest()[:8]
    out = os.path.join(tempfile.gettempdir(), f"spark_graft_revwarc_{tag}")
    write_dedup_warc_shards(inp, out, n_shards=4)
    recs = read_warc(spark, os.path.join(out, "*.warc.gz"),
                     warc_types=("response", "revisit"))
    return recs.select(
        F.regexp_extract("url", r"/r/(\d+)$", 1).cast("long").alias("doc_id"),
        "url",
        "warc_type",
        "warc_date",
        "content_type",
        F.col("warc_profile").alias("profile"),
        F.col("warc_refers_to_date").alias("refers_to_date"),
        F.octet_length("payload").cast("long").alias("payload_len"),
    )


def q_change_rate(spark, sf_dir):
    """§2.9 frontier: freshness-aware recrawl (plans/recrawl) — Cho &
    Garcia-Molina Poisson change-rate estimation over fetch history
    plus the 1-exp(-λ·age) recrawl priority. History synthesized by
    arithmetic (per-URL fetch counts 2-10, interval lengths and
    change patterns varying by URL); the oracle replays the lag
    window + the closed-form estimator in SQL, doubles rounded to 6."""
    from go_htmldate_spark.plans.recrawl import change_rate, recrawl_priority

    df = spark.range(30000)
    u = (F.col("id") / 10).cast("long")
    k = F.col("id") % 10
    hist = df.filter(k < (u % 9) + 2).select(
        F.concat(F.lit("https://u"), u.cast("string"),
                 F.lit(".example/p")).alias("url"),
        (k * ((u % 5) + 1) * 17280 + (u % 7)).cast("double").alias("fetch_ts"),
        F.floor(k * ((u % 4) + 1) / 4).cast("string").alias("content_sig"),
    )
    rates = change_rate(hist)
    pri = recrawl_priority(rates, as_of_ts=2_000_000.0)
    return rates.join(pri, "url").select(
        "url", "n_intervals", "n_changes",
        (F.round("rate_per_day", 6) + F.lit(0.0)).alias("rate_per_day"),
        (F.round("priority", 6) + F.lit(0.0)).alias("priority"),
    )


def q_cache_ttl(spark, sf_dir):
    """§2.9 frontier: HTTP cache-semantics recrawl TTL
    (plans/httpcache, RFC 9111 §4.2) — directive precedence
    (no-store/no-cache > s-maxage > max-age > Expires >
    Last-Modified heuristic > default), explicit TTLs capped at
    1 year, heuristic = 10% of age clamped [60 s, 30 d]. Fetch log
    synthesized arithmetically (all seven TTL sources exercised,
    including max-age=0 and stale Expires); the oracle replays the
    closed-form derivation. Map-only — zero exchanges at any log
    size."""
    from go_htmldate_spark.plans.httpcache import parse_cache_headers

    df = spark.range(20000)
    i = F.col("id")
    fetch = (F.lit(1_000_000) + i * 7).cast("long")
    cc = (
        F.when(i % 7 == 0, F.lit("no-store, max-age=500"))
        .when(i % 7 == 1, F.lit("public, NO-CACHE"))
        .when(i % 7 == 2,
              F.concat(F.lit("max-age="), ((i % 1000) * 10).cast("string")))
        .when(i % 7 == 3,
              F.concat(F.lit("max-age=100, s-maxage="),
                       (i % 500).cast("string")))
    )
    expires = F.when(i % 3 == 0, fetch + (i % 2000) - 500).cast("long")
    lm = F.when(i % 2 == 0, fetch - (i % 100000) * 3).cast("long")
    etag = F.when(
        i % 5 == 0, F.concat(F.lit('"e'), i.cast("string"), F.lit('"'))
    )
    log = df.select(
        F.concat(F.lit("https://c"), (i % 40).cast("string"),
                 F.lit(".example/p/"), i.cast("string")).alias("url"),
        fetch.alias("fetch_ts"),
        cc.alias("cache_control"),
        expires.alias("expires_ts"),
        lm.alias("last_modified_ts"),
        etag.alias("etag"),
    )
    return parse_cache_headers(log)


def q_revalidation(spark, sf_dir):
    """§2.9 frontier: conditional-GET revalidation planner
    (plans/httpcache.revalidation_plan) — per-URL 304 hit rate from
    the fetch history decides conditional-vs-full refetch and its
    expected byte cost. History synthesized arithmetically (2-9
    fetches per URL, 304 pattern and body sizes varying by URL); the
    oracle replays the single groupBy in SQL. One exchange on the url
    key the log is naturally partitioned by."""
    from go_htmldate_spark.plans.httpcache import revalidation_plan

    df = spark.range(40000)
    u = (F.col("id") / 8).cast("long")
    k = F.col("id") % 8
    is304 = (k > 0) & ((u + k) % 3 == 0)
    hist = df.filter(k < (u % 7) + 2).select(
        F.concat(F.lit("https://r"), u.cast("string"),
                 F.lit(".example/d")).alias("url"),
        (F.lit(1000) + k * 100 + u % 13).cast("long").alias("fetch_ts"),
        F.when(is304, F.lit(304)).otherwise(F.lit(200))
        .cast("int").alias("status"),
        F.when(is304, F.lit(0))
        .otherwise((k + 1) * 1000 + (u % 11) * 7)
        .cast("long").alias("body_bytes"),
        F.when(u % 4 != 0,
               F.concat(F.lit('"e'), u.cast("string"), F.lit('"')))
        .alias("etag"),
        F.when(u % 5 == 0, F.lit(500)).cast("long")
        .alias("last_modified_ts"),
    )
    return revalidation_plan(hist, as_of_ts=10_000)


def _dust_pages(spark):
    """Arithmetic DUST corpus: 2000 duplicate groups of session-id /
    index.html URL aliases (the /index.html variant only every 3rd
    group, so rule supports differ) plus 500 singleton noise URLs."""
    df = spark.range(6000)
    g = (F.col("id") / 3).cast("long")
    v = F.col("id") % 3
    base = F.concat(
        F.lit("https://d"), (g % 7).cast("string"),
        F.lit(".example/art/"), g.cast("string"),
    )
    url = (
        F.when(v == 0, base)
        .when(v == 1, F.concat(base, F.lit("?sessionid=zz")))
        .otherwise(F.concat(base, F.lit("/index.html")))
    )
    pages = df.filter((v < 2) | (g % 3 == 0)).select(
        url.alias("url"), g.alias("content_sig")
    )
    noise = spark.range(500).select(
        F.concat(
            F.lit("https://noise.example/n/"), F.col("id").cast("string")
        ).alias("url"),
        (F.col("id") + 100000).alias("content_sig"),
    )
    return pages.unionByName(noise)


def q_dust_rules(spark, sf_dir):
    """§2.11 URL curation: DUST rule mining (plans/dust) — substring
    substitution rules alpha→beta inferred from same-content URL
    pairs (DustBuster, WWW'07), support-counted. The oracle replays
    the whole chain in SQL: distinct → capped buckets → pairs →
    position-explode lcp/lcs → oriented middles → support."""
    from go_htmldate_spark.plans.dust import dust_rules

    return dust_rules(_dust_pages(spark), min_support=2)


def q_dust_apply(spark, sf_dir):
    """§2.11 URL curation: DUST canonicalization — every URL rewritten
    by its best applicable mined rule (support desc, longest alpha,
    lexicographic; first-occurrence replacement). Spark applies a
    priority-ordered chained-when compiled from the collected rule
    list (map-only); the oracle picks the same best rule per URL with
    a lateral join + QUALIFY over the identically-derived rule CTE."""
    from go_htmldate_spark.plans.dust import apply_dust_rules, dust_rules

    pages = _dust_pages(spark)
    rules = dust_rules(pages, min_support=2)
    return apply_dust_rules(pages.select("url").distinct(), rules)


def q_mirror_hosts(spark, sf_dir):
    """§2.11 URL curation: mirror-host detection (plans/mirrors) —
    Broder resemblance of per-host content-fingerprint sets (Cho,
    Shivakumar & Garcia-Molina SIGMOD'00). Planted: 50 full mirrors
    (r=1.0), 30 half-overlap pairs (r=1/3), and a 200-host
    boilerplate mega-sig that exercises the pre-collect cap and is
    filtered by min_shared. The oracle replays the capped chain."""
    from go_htmldate_spark.plans.mirrors import mirror_host_pairs

    full = spark.range(2000).select(
        F.concat(
            F.when(F.col("id") % 40 < 20, F.lit("ma")).otherwise(F.lit("mb")),
            (F.col("id") / 40).cast("long").cast("string"),
            F.lit(".example"),
        ).alias("host"),
        ((F.col("id") / 40).cast("long") * 100 + F.col("id") % 20).alias(
            "content_sig"
        ),
    )
    partial = spark.range(1200).select(
        F.concat(
            F.when(F.col("id") % 40 < 20, F.lit("pa")).otherwise(F.lit("pb")),
            (F.col("id") / 40).cast("long").cast("string"),
            F.lit(".example"),
        ).alias("host"),
        (
            F.lit(100000)
            + (F.col("id") / 40).cast("long") * 100
            + F.col("id") % 20
            + (F.col("id") % 40 / 20).cast("long") * 10
        ).alias("content_sig"),
    )
    mega = spark.range(200).select(
        F.concat(
            F.lit("noise"), F.lpad(F.col("id").cast("string"), 3, "0"),
            F.lit(".example"),
        ).alias("host"),
        F.lit(999999).cast("long").alias("content_sig"),
    )
    docs = full.unionByName(partial).unionByName(mega)
    out = mirror_host_pairs(
        docs, max_sig_hosts=64, min_shared=2, min_resemblance=0.25
    )
    return out.select(
        "host_a", "host_b", "shared", "n_a", "n_b",
        (F.round("resemblance", 6) + F.lit(0.0)).alias("resemblance"),
    )


def q_rel_canonical(spark, sf_dir):
    """§2.9 frontier: rel=canonical alias-edge mining (plans/
    rel_canonical) — map-only native regexp over raw html, attribute
    order / quote style / case variants, absolute + protocol-relative
    + root-relative href resolution, dotted-relative and
    self-declaration drops. Pages synthesized by arithmetic over six
    spelling classes; the oracle derives the expected edges
    analytically per class (no second regex engine involved)."""
    from go_htmldate_spark.plans.rel_canonical import rel_canonical_edges

    df = spark.range(24000)
    i = F.col("id")
    cls = i % 6
    g = (i / 6).cast("long")
    src = F.concat(
        F.lit("https://cl"), (i % 50).cast("string"),
        F.lit(".example/p/"), i.cast("string"),
    )
    canon_abs = F.concat(
        F.lit("https://cl"), (i % 50).cast("string"),
        F.lit(".example/canon/"), g.cast("string"),
    )
    html = (
        F.when(cls == 0, F.concat(
            F.lit('<html><head><link rel="canonical" href="'),
            canon_abs, F.lit('"/></head><body>x</body></html>'),
        ))
        .when(cls == 1, F.concat(
            F.lit("<head><link href='/canon/"), g.cast("string"),
            F.lit("' rel='canonical'></head>"),
        ))
        .when(cls == 2, F.concat(
            F.lit('<LINK REL=canonical HREF="//cdn'),
            (i % 5).cast("string"), F.lit(".example/c/"),
            g.cast("string"), F.lit('">'),
        ))
        .when(cls == 3, F.lit('<link rel="canonical" href="../up">'))
        .when(cls == 4, F.concat(
            F.lit('<link rel="canonical" href="'), src, F.lit('">'),
        ))
        .otherwise(F.lit('<link rel="stylesheet" href="/css">'))
    )
    pages = df.select(src.alias("url"), html.alias("html"))
    return rel_canonical_edges(pages)


def q_meta_robots(spark, sf_dir):
    """§2.9 frontier: page-level robots directives (plans/metarobots.
    meta_robots_flags) — `<meta name="robots">` parsed map-only out of
    raw html: both attribute orders, any quote style/case, multiple
    robots metas unioned most-restrictive-wins, `none` ≡
    noindex+nofollow, token-exact boundaries (name="robots-extra" and
    content="index, follow" must NOT flag). Eight planted classes from
    orders; the oracle scores each class closed-form."""
    from go_htmldate_spark.plans.metarobots import meta_robots_flags

    o = _ts(spark, sf_dir, "orders", "o_orderkey")
    okey = F.col("o_orderkey")
    url = F.concat(F.lit("https://mr"), (okey % 25).cast("string"),
                   F.lit(".example/p/"), okey.cast("string"))
    cls = okey % 8
    html = (
        F.when(cls == 0, F.lit(
            '<html><head><meta name="robots" content="noindex, nofollow">'
            "</head><body>x</body></html>"))
        .when(cls == 1, F.lit(
            "<head><meta content='nofollow' name='robots'/></head>"))
        .when(cls == 2, F.lit("<META NAME=ROBOTS CONTENT=NONE>"))
        .when(cls == 3, F.lit('<meta name="robots" content="NOARCHIVE">'))
        .when(cls == 4, F.lit(
            '<meta name="robots" content="noindex"><p>t</p>'
            '<meta name="robots" content="nofollow">'))
        .when(cls == 5, F.lit(
            '<meta name="robots-extra" content="noindex">'
            '<meta name="description" content="none">'))
        .when(cls == 6, F.lit('<meta name="robots" content="index, follow">'))
        .otherwise(F.lit("<html><body>no meta here</body></html>"))
    )
    pages = o.select(url.alias("url"), html.alias("html"))
    return meta_robots_flags(pages)


def q_nofollow_links(spark, sf_dir):
    """§2.3 joins / §2.9 frontier: nofollow-aware link extraction
    (plans/metarobots.extract_follow_anchors) — the anchor stream with
    robots semantics: an edge is followed=false when its anchor
    carries rel=nofollow (token-exact, multi-token rel legal) OR the
    page's own robots meta says nofollow. Four planted classes from
    orders (plain, page-level-nofollow, multi-token anchor rel,
    rel="nofollownot" boundary trap); relative hrefs are dropped. The
    oracle rebuilds the planted edge tuples closed-form."""
    from go_htmldate_spark.plans.metarobots import extract_follow_anchors

    o = _ts(spark, sf_dir, "orders", "o_orderkey")
    okey = F.col("o_orderkey")
    host = F.concat(F.lit("nf"), (okey % 20).cast("string"),
                    F.lit(".example"))
    url = F.concat(F.lit("https://"), host, F.lit("/p/"),
                   okey.cast("string"))
    t1 = F.concat(F.lit("https://dst"), (okey % 7).cast("string"),
                  F.lit(".example/a/"), okey.cast("string"))
    t2 = F.concat(F.lit("https://dst"), ((okey + 3) % 7).cast("string"),
                  F.lit(".example/b/"), okey.cast("string"))
    cls = okey % 4
    meta = F.when(cls == 1, F.lit(
        '<meta name="robots" content="nofollow">'
    )).otherwise(F.lit('<meta charset="utf-8">'))
    rel2 = (
        F.when(cls == 0, F.lit(' rel="nofollow"'))
        .when(cls == 2, F.lit(" rel='nofollow noopener'"))
        .otherwise(F.lit(' rel="nofollownot"'))
    )
    a1 = F.concat(F.lit("Link One "), (okey % 13).cast("string"))
    html = F.concat(
        F.lit("<html><head>"), meta,
        F.lit('</head><body><a href="'), t1, F.lit('">'), a1,
        F.lit('</a><a'), rel2, F.lit(' href="'), t2,
        F.lit('">  Second   LINK  </a>'),
        F.lit('<a href="/rel/skip">rel</a></body></html>'),
    )
    pages = o.select(url.alias("url"), html.alias("html"))
    return extract_follow_anchors(pages)


def q_pagination_chains(spark, sf_dir):
    """§2.9 frontier: rel=next pagination-chain assembly (plans/
    pagination) END-TO-END — edge discovery via the map-only
    `<link rel="next">` scan (three quote/attr-order spelling classes)
    then pointer-doubling chain assembly with per-member 1-based page
    index and chain length; one planted class (c%17==0) declares a
    cycle (last page's next points back to page 0) whose members must
    all flag resolved=false with NULL root/index/len. The oracle
    derives the chain geometry analytically."""
    from go_htmldate_spark.plans.pagination import (
        pagination_chains, rel_next_edges,
    )

    df = spark.range(18000)
    i = F.col("id")
    c = (i / 6).cast("long")
    j = i % 6
    length = (c % 5) + 2
    members = df.select(
        c.alias("c"), j.alias("j"), length.alias("len")
    ).filter(F.col("j") < F.col("len"))

    def page_url(cc, jj):
        return F.concat(
            F.lit("https://pg"), (cc % 40).cast("string"),
            F.lit(".example/s/"), cc.cast("string"),
            F.lit("/p"), jj.cast("string"),
        )

    cc, jj, ll = F.col("c"), F.col("j"), F.col("len")
    nxt_j = F.when(jj < ll - 1, jj + 1).otherwise(
        F.when(cc % 17 == 0, F.lit(0))
    )
    nxt = page_url(cc, nxt_j)
    style = cc % 3
    link_tag = (
        F.when(style == 0, F.concat(
            F.lit('<link rel="next" href="'), nxt, F.lit('">')))
        .when(style == 1, F.concat(
            F.lit("<link href='"), nxt, F.lit("' rel='next'>")))
        .otherwise(F.concat(F.lit("<LINK REL=next HREF="), nxt,
                            F.lit(">")))
    )
    html = F.concat(
        F.lit('<html><head><link rel="stylesheet" href="/css">'),
        F.when(nxt_j.isNotNull(), link_tag).otherwise(F.lit("")),
        F.lit("</head><body>page</body></html>"),
    )
    pages = members.select(page_url(cc, jj).alias("url"),
                           html.alias("html"))
    return pagination_chains(rel_next_edges(pages), max_pages=16)


def _hreflang_pages(spark):
    """Shared synth corpus for the hreflang queries: cluster c has
    k=(c%4)+1 language variants (k=1 → no annotations, a singleton);
    every member of a k>=2 cluster declares the FULL set (self
    included, three quote/attr spelling classes) plus, on c%3==0
    clusters, an x-default pointing at the 'en' variant; every page
    also carries rel="alternate-print" and rel="stylesheet" boundary
    distractors the scan must skip."""
    df = spark.range(12000)
    i = F.col("id")
    c = (i / 4).cast("long")
    v = i % 4
    k = (c % 4) + 1
    members = df.select(c.alias("c"), v.alias("v"), k.alias("k")).filter(
        F.col("v") < F.col("k")
    )
    langs = ["de", "en", "fr", "pt"]
    cc = F.col("c")

    def variant_url(cc, w):
        return F.concat(
            F.lit(f"https://{langs[w]}.hx"), (cc % 30).cast("string"),
            F.lit(".example/d/"), cc.cast("string"),
        )

    def alt_tag(cc, w):
        href = variant_url(cc, w)
        lang = langs[w]
        style = (cc + w) % 3
        return (
            F.when(style == 0, F.concat(
                F.lit(f'<link rel="alternate" hreflang="{lang}" href="'),
                href, F.lit('">')))
            .when(style == 1, F.concat(
                F.lit(f"<link href='"), href,
                F.lit(f"' hreflang='{lang}' rel='alternate'>")))
            .otherwise(F.concat(
                F.lit(f"<LINK REL=alternate HREFLANG={lang} HREF="),
                href, F.lit(">")))
        )

    kk = F.col("k")
    tags = F.concat(
        F.when(kk >= 2, F.concat(alt_tag(cc, 0), alt_tag(cc, 1)))
        .otherwise(F.lit("")),
        F.when(kk >= 3, alt_tag(cc, 2)).otherwise(F.lit("")),
        F.when(kk >= 4, alt_tag(cc, 3)).otherwise(F.lit("")),
        F.when((kk >= 2) & (cc % 3 == 0), F.concat(
            F.lit('<link rel="alternate" hreflang="x-default" href="'),
            variant_url(cc, 1), F.lit('">'),
        )).otherwise(F.lit("")),
    )
    html = F.concat(
        F.lit("<html><head>"), tags,
        F.lit('<link rel="alternate-print" hreflang="xx" '
              'href="https://bad.example/">'),
        F.lit('<link rel="stylesheet" href="/css">'
              "</head><body>x</body></html>"),
    )
    lang_col = (
        F.when(F.col("v") == 0, F.lit("de"))
        .when(F.col("v") == 1, F.lit("en"))
        .when(F.col("v") == 2, F.lit("fr"))
        .otherwise(F.lit("pt"))
    )
    url = F.concat(
        F.lit("https://"), lang_col, F.lit(".hx"),
        (cc % 30).cast("string"), F.lit(".example/d/"), cc.cast("string"),
    )
    return members.select(url.alias("url"), html.alias("html"))


def q_hreflang_clusters(spark, sf_dir):
    """§2.6 set ops / §2.9 frontier: hreflang translation-cluster
    assignment (plans/hreflang.hreflang_clusters) — join-free,
    exchange-free cluster keying exploiting the spec's
    every-member-declares-everyone contract: cluster_key = min(declared
    hrefs ∪ self) computed per-row; representative honors the site's
    x-default when declared. The oracle derives every member's
    assignment closed-form from the planted cluster geometry."""
    from go_htmldate_spark.plans.hreflang import hreflang_clusters

    return hreflang_clusters(_hreflang_pages(spark))


def q_hreflang_stats(spark, sf_dir):
    """§2.4 aggregation: hreflang cluster roll-up (plans/hreflang.
    hreflang_cluster_stats) — members per cluster, max declared-set
    size, x-default counts: the bidirectional-consistency audit. One
    exchange on cluster_key over the same synth corpus as
    hreflang_clusters."""
    from go_htmldate_spark.plans.hreflang import (
        hreflang_cluster_stats, hreflang_clusters,
    )

    return hreflang_cluster_stats(hreflang_clusters(_hreflang_pages(spark)))


def q_meta_refresh(spark, sf_dir):
    """§2.9 frontier: client-side redirect mining (plans/aliases.
    meta_refresh_edges) — `<meta http-equiv="refresh">` parsed
    map-only: both attribute orders, any quote style/case, delay from
    the content's leading integer, target from its url= clause (the
    URL itself may be quoted inside a quoted content), rel_canonical
    href resolution, no-url self-reloads / self-targets / boundary
    traps dropped. Six planted classes from orders; the oracle derives
    the surviving edges closed-form."""
    from go_htmldate_spark.plans.aliases import meta_refresh_edges

    o = _ts(spark, sf_dir, "orders", "o_orderkey")
    okey = F.col("o_orderkey")
    url = F.concat(F.lit("https://rf"), (okey % 30).cast("string"),
                   F.lit(".example/p/"), okey.cast("string"))
    cls = okey % 6
    html = (
        F.when(cls == 0, F.concat(
            F.lit('<meta http-equiv="refresh" content="0;url=https://mv'),
            (okey % 9).cast("string"), F.lit(".example/n/"),
            okey.cast("string"), F.lit('">')))
        .when(cls == 1, F.concat(
            F.lit("<meta content='5; URL = /moved/"), okey.cast("string"),
            F.lit("' http-equiv='refresh'>")))
        .when(cls == 2, F.concat(
            F.lit('<META HTTP-EQUIV=REFRESH CONTENT="2;url=\'//cdn'),
            (okey % 4).cast("string"), F.lit(".example/c/"),
            okey.cast("string"), F.lit("'\">")))
        .when(cls == 3, F.lit(
            '<meta http-equiv="refresh" content="30">'))
        .when(cls == 4, F.lit(
            '<meta http-equiv="refresh-x" content="0;url=/no">'))
        .otherwise(F.lit("<html><body>no refresh</body></html>"))
    )
    pages = o.select(url.alias("url"), html.alias("html"))
    return meta_refresh_edges(pages)


def q_page_aliases(spark, sf_dir):
    """§2.9 frontier: the unioned client-side alias stream (plans/
    aliases.page_alias_edges) — AMP variant links and og:url
    self-declared canonicals alongside meta-refresh, each tagged with
    its kind. Five planted classes from orders (amp declaration,
    og:url differing from the fetched spelling, og:url self-match
    that must drop, bare page, m-dot mobile alternate); the oracle
    rebuilds the edge tuples closed-form."""
    from go_htmldate_spark.plans.aliases import page_alias_edges

    o = _ts(spark, sf_dir, "orders", "o_orderkey")
    okey = F.col("o_orderkey")
    base = F.concat(F.lit("https://al"), (okey % 20).cast("string"),
                    F.lit(".example/a/"), okey.cast("string"))
    cls = okey % 5
    url = F.when(cls == 1, F.concat(base, F.lit("?utm_source=x"))) \
        .otherwise(base)
    html = (
        F.when(cls == 0, F.concat(
            F.lit('<link rel="amphtml" href="'), base, F.lit('/amp">')))
        .when(cls == 1, F.concat(
            F.lit('<meta property="og:url" content="'), base, F.lit('">')))
        .when(cls == 2, F.concat(
            F.lit("<meta name='og:url' content='"), base, F.lit("'>")))
        .when(cls == 4, F.concat(
            F.lit('<link rel="alternate" media="(max-width: 640px)" '
                  'href="'), base, F.lit('/m">')))
        .otherwise(F.lit("<html><body>plain</body></html>"))
    )
    pages = o.select(url.alias("url"), html.alias("html"))
    return page_alias_edges(pages)


def q_outlink_discovery(spark, sf_dir):
    """§2.9 frontier: anchor-derived outlinks (plans/metarobots.
    derive_outlinks) — the discovery edges for WARC-shaped corpora
    that carry no outlinks column: relative hrefs resolved against
    the page origin, in-page duplicates collapsed order-preserving,
    nofollow anchors and page-nofollow pages contribute nothing
    (respect_nofollow on). Four planted classes from orders; emitted
    as posexplode_outer so empty-outlink pages still hash (NULL pos).
    The oracle rebuilds the per-class edge lists closed-form."""
    from go_htmldate_spark.plans.metarobots import derive_outlinks

    o = _ts(spark, sf_dir, "orders", "o_orderkey")
    okey = F.col("o_orderkey")
    k = okey.cast("string")
    base = F.concat(F.lit("https://ol"), (okey % 20).cast("string"),
                    F.lit(".example"))
    url = F.concat(base, F.lit("/p/"), k)
    cls = okey % 4
    html = (
        F.when(cls == 0, F.concat(
            F.lit('<a href="https://ext'), (okey % 5).cast("string"),
            F.lit(".example/t/"), k, F.lit('">x</a><a href=\'/rel/'),
            k, F.lit("'>y</a><a href=\"/rel/"), k,
            F.lit('">dup</a><a href="../skip">z</a>')))
        .when(cls == 1, F.concat(
            F.lit('<a rel="nofollow" href="/paid/'), k,
            F.lit('">n</a><a href="/ok/'), k, F.lit('">o</a>')))
        .when(cls == 2, F.concat(
            F.lit('<meta name="robots" content="nofollow">'
                  '<a href="/x/'), k, F.lit('">x</a>')))
        .otherwise(F.concat(F.lit("<p>no links "), k, F.lit("</p>")))
    )
    pages = o.select(url.alias("url"), html.alias("html"))
    derived = derive_outlinks(pages, max_links=8, respect_nofollow=True)
    return derived.select(
        "url",
        F.posexplode_outer("outlinks").alias("pos", "outlink"),
    ).select("url", F.col("pos").cast("long").alias("pos"), "outlink")


def q_robots_compliance(spark, sf_dir):
    """§2.4 aggregation / §2.9 frontier: per-host robots-meta
    compliance roll-up (plans/metarobots.meta_robots_host_stats) — a
    host marking most of its corpus noindex is wasted politeness.
    Hosts h=0..24 serve noindex on okey%10 < h%11 of their pages and
    nofollow on okey%7==0, so rates span 0..1; the oracle replays the
    flag law relationally over the same orders keys."""
    from go_htmldate_spark.plans.metarobots import meta_robots_host_stats

    o = _ts(spark, sf_dir, "orders", "o_orderkey")
    okey = F.col("o_orderkey")
    h = okey % 25
    url = F.concat(F.lit("https://rc"), h.cast("string"),
                   F.lit(".example/p/"), okey.cast("string"))
    ni = okey % 10 < h % 11
    nf = okey % 7 == 0
    html = F.concat(
        F.lit("<html><head>"),
        F.when(ni & nf,
               F.lit('<meta name="robots" content="noindex, nofollow">'))
        .when(ni, F.lit('<meta name="robots" content="noindex">'))
        .when(nf, F.lit("<meta content='nofollow' name='robots'>"))
        .otherwise(F.lit('<meta charset="utf-8">')),
        F.lit("</head><body>x</body></html>"),
    )
    pages = o.select(url.alias("url"), html.alias("html"))
    return meta_robots_host_stats(pages)


def q_gopher_rules(spark, sf_dir):
    """§2.11 curation: the Gopher/MassiveText structural quality rules
    (operators/curation.gopher_quality_rules, Rae et al. 2021 A1.1) —
    symbol-to-word ratio, bullet-started and ellipsis-ended line
    fractions, alphabetic-word share, stop-word presence. Six planted
    classes (clean + one per tripped rule) with every measured
    quantity derived closed-form in the oracle."""
    from go_htmldate_spark.operators.curation import gopher_quality_rules

    d = _t(spark, sf_dir, "documents").select("doc_id")
    cls = F.col("doc_id") % 6
    good = ("The weather report says that we have sunshine to share "
            "with all of the town and be glad.")
    bullets = "\n".join("- the item of note" for _ in range(5))
    ells = "\n".join("the story continues..." for _ in range(5))
    text = (
        F.when(cls == 0, F.lit(good))
        .when(cls == 1, F.lit("the of # # # # to be"))
        .when(cls == 2, F.lit(bullets))
        .when(cls == 3, F.lit(ells))
        .when(cls == 4, F.lit(
            "the 111 222 333 444 555 666 777 888 999 000 to"))
        .otherwise(F.lit("zebra quartz wobble nimbus vortex"))
    )
    docs = d.select("doc_id", text.alias("text"))
    return gopher_quality_rules(docs)


def q_link_density(spark, sf_dir):
    """§2.11 curation: link-density quality signal (operators/
    textextract.link_density) — share of visible text living inside
    anchors, the nav-shell/link-farm indicator (page-level
    Kohlschütter WSDM'10). Three planted classes from orders (pure nav
    shell ~0.9, article with one Read More link, empty body); the
    oracle constructs each class's visible text and anchor chars
    closed-form."""
    from go_htmldate_spark.operators.textextract import link_density

    o = _ts(spark, sf_dir, "orders", "o_orderkey")
    okey = F.col("o_orderkey")
    k = okey.cast("string")
    url = F.concat(F.lit("https://ld"), (okey % 12).cast("string"),
                   F.lit(".example/p/"), k)
    cls = okey % 3
    html = (
        F.when(cls == 0, F.lit(
            '<a href="/h">Home</a> <a href="/a">About</a> '
            '<a href="/c">Contact Us</a>'))
        .when(cls == 1, F.concat(
            F.lit("<p>Article number "), k,
            F.lit(' prose.</p><a href="/m">Read More</a>')))
        .otherwise(F.lit("<html><body></body></html>"))
    )
    pages = o.select(url.alias("url"), html.alias("html"))
    return link_density(pages)


def q_blockwords(spark, sf_dir):
    """§2.11 curation: C4's word-level exclusion gate (operators/
    curation.blockword_filter) — documents containing any token from a
    caller-supplied blocklist drop; the probe is a map-only InSet
    inside an array HOF, token-exact (substrings never match) and
    case-insensitive. Planted classes from documents use neutral
    sentinel words; the oracle replays the token-set intersection
    relationally in DuckDB."""
    from go_htmldate_spark.operators.curation import blockword_filter

    d = _t(spark, sf_dir, "documents").select("doc_id", "text")
    k = F.col("doc_id")
    cls = k % 4
    text = (
        F.when(cls == 0, F.concat(F.col("text"), F.lit(" zzqx")))
        .when(cls == 1, F.concat(F.lit("ZZQX leading and QQZZV also "),
                                 F.col("text")))
        .when(cls == 2, F.concat(F.col("text"), F.lit(" zzqxy")))
        .otherwise(F.col("text"))
    )
    docs = d.select("doc_id", text.alias("text"))
    return blockword_filter(docs, ["zzqx", "qqzzv"])


def q_visible_text(spark, sf_dir):
    """§2.11 curation: visible-text extraction (operators/textextract.
    pages_to_text) — script/style/head subtrees and comments drop
    whole, block tags become line boundaries, entities decode,
    whitespace normalizes; the curation chain's text carrier
    (curate_job --text-extractor visible). Five planted classes from
    orders; the oracle constructs each class's expected visible text
    closed-form (no second regex engine involved)."""
    from go_htmldate_spark.operators.textextract import pages_to_text

    o = _ts(spark, sf_dir, "orders", "o_orderkey")
    okey = F.col("o_orderkey")
    url = F.concat(F.lit("https://vt"), (okey % 15).cast("string"),
                   F.lit(".example/d/"), okey.cast("string"))
    cls = okey % 5
    k = okey.cast("string")
    html = (
        F.when(cls == 0, F.concat(
            F.lit("<html><body><script>var x = 1;</script>"
                  "<style>p { color: red }</style><p>Real content "),
            k, F.lit(".</p><!-- hidden words --></body></html>")))
        .when(cls == 1, F.concat(
            F.lit("<h1>Post "), (okey % 7).cast("string"),
            F.lit("</h1><p>Body <b>text</b> "), k, F.lit(".</p>")))
        .when(cls == 2, F.concat(
            F.lit("<p>Fish &amp; Chips "), k,
            F.lit(" &lt;3&nbsp;&quot;q&quot;</p>")))
        .when(cls == 3, F.concat(
            F.lit("<div>  a   b "), k,
            F.lit("  </div><div></div><div>c</div>")))
        .otherwise(F.concat(
            F.lit("<head><title>never shown</title></head><body>Tail "),
            k, F.lit("</body>")))
    )
    pages = o.select(url.alias("url"), html.alias("html"))
    return pages_to_text(pages)


def q_frontier_allgates(spark, sf_dir):
    """§2.9 frontier, COMPOSED: a 2-round crawl with EVERY waste gate
    on at once — dust rewrite, redirect collapse, UT1 blocklist (InSet
    path), trap guard, robots rules + crawl_delay cap, per-host
    politeness budgets, per-IP cap, and priority aging — replayed
    through the real CrawlScheduler (plans/scheduler.py) against an
    analytically-constructed corpus, emitting the fetch log
    (round, rank, url, priority, date). The oracle derives the same
    log in closed form: every URL class is routed through exactly one
    gate with an arithmetically-predictable outcome.

    Corpus design (8 hosts h0..h7):
    - seeds /s (all hosts) + /sb (h0 only), priority 1.0; h0's budget
      is 1.0 (backoff-style), so /sb loses round 0 to /s (url asc) and
      re-enters round 1 with +0.5 aging = 1.5 — aging observable in
      the logged priority.
    - every /s page dates 2023-06-02 (recency exactly 0.5) and links
      to /a, /b, /a?sessionid=zz (dust-collapses into /a), /r
      (redirects to /rt), blocked.example/x (blocklist), and a
      17-segment trap path (trap guard).
    - h1's robots disallow /b and set crawl_delay 40 (cap
      floor(60/40)=1): round 1 schedules only /a there.
    - h2 and h3 share one IP with ip_budget 2: h3 loses both slots to
      h2 (url asc at equal priority).
    """
    import shutil
    import tempfile

    from go_htmldate_spark.plans.redirects import resolve_redirects
    from go_htmldate_spark.plans.scheduler import CrawlConfig, CrawlScheduler

    hosts = [f"h{i}.example" for i in range(8)]

    def page(url, date=None, outlinks=()):
        if date:
            html = (
                "<html><head><meta property='article:published_time' "
                f"content='{date}'/></head><body>x</body></html>"
            )
        else:
            html = "<html><body>x</body></html>"
        return (url, html, list(outlinks))

    trap_tail = "/".join(f"d{j}" for j in range(17))
    rows = []
    for h in hosts:
        base = f"https://{h}"
        rows.append(page(
            f"{base}/s", date="2023-06-02",
            outlinks=[
                f"{base}/a", f"{base}/b", f"{base}/a?sessionid=zz",
                f"{base}/r", "https://blocked.example/x",
                f"{base}/{trap_tail}",
            ],
        ))
        rows += [page(f"{base}/a"), page(f"{base}/b"), page(f"{base}/rt")]
    rows.append(page("https://h0.example/sb", date="2024-06-01"))
    corpus = spark.createDataFrame(
        rows, "url string, html string, outlinks array<string>"
    )

    robots = spark.createDataFrame(
        [("h1.example", [("/b", False)], 40.0)],
        "host string, rules array<struct<path_prefix string, allow boolean>>, "
        "crawl_delay double",
    )
    budgets = spark.createDataFrame(
        [("h0.example", 1.0)], "host string, politeness_budget double"
    )
    host_ip = spark.createDataFrame(
        [("h2.example", "10.0.0.9"), ("h3.example", "10.0.0.9")],
        "host string, ip string",
    )
    blocklist = spark.createDataFrame([("blocked.example",)], "domain string")
    dust = spark.createDataFrame(
        [("?sessionid=zz", "", 50)], "alpha string, beta string, support long"
    )
    redirects = resolve_redirects(spark.createDataFrame(
        [(f"https://{h}/r", f"https://{h}/rt") for h in hosts],
        "src_url string, dst_url string",
    ))

    state_dir = tempfile.mkdtemp(prefix="allgates_gate_")
    try:
        sched = CrawlScheduler(
            spark, corpus, robots=robots, host_budget=budgets,
            state_dir=state_dir,
            config=CrawlConfig(
                n_bloom_partitions=2, bloom_bits=1 << 12,
                trap_guard=True, ip_budget=2, aging=0.5,
            ),
            blocklist=blocklist, redirects=redirects, dust=dust,
            host_ip=host_ip,
        )
        seeds = [(f"https://{h}/s", 1.0) for h in hosts]
        seeds.append(("https://h0.example/sb", 1.0))
        sched.init_from_seeds(spark.createDataFrame(
            seeds, "url string, priority double"
        ))
        sched.run_round()
        sched.run_round()
        out = []
        for rnd in (0, 1):
            fetched = spark.read.parquet(
                f"{state_dir}/round_{rnd}/fetched"
            ).collect()
            fetched.sort(key=lambda r: (-r["priority"], r["url"]))
            for rank, r in enumerate(fetched, 1):
                out.append((rnd, rank, r["url"], r["priority"], r["date"]))
    finally:
        shutil.rmtree(state_dir, ignore_errors=True)
    return spark.createDataFrame(
        out, "round int, rank int, url string, priority double, date string"
    )


def q_frontier_pagegates(spark, sf_dir):
    """§2.9 frontier, COMPOSED: a 2-round crawl with the page-level
    compliance gates on — respect_nofollow (a fetched page whose own
    robots meta says nofollow contributes no outlinks) and
    url_suppress (deep-pagination demotion currency; suppressed URLs
    never enter via discovery but remain fetchable as SEEDS) —
    replayed through the real CrawlScheduler and emitting the fetch
    log (round, rank, url, priority, date). The oracle derives the
    log closed-form:

    - 6 hosts h0..h5, one dated seed /s each (2023-06-02, recency
      exactly 0.5), outlinks [/a, /deep] everywhere.
    - EVEN seeds carry <meta name="robots" content="nofollow">: their
      outlinks never reach discovery.
    - the suppress list holds every /deep URL AND h0's own seed — the
      seed still fetches in round 0 (discovery-side gates exempt
      seeds), proving the exemption in the log.
    - round 0 = the 6 seeds at 1.0; round 1 = /a of the ODD hosts
      only, at default-budget x recency = 2.0 x 0.5 = 1.0 priority.
    """
    import shutil
    import tempfile

    from go_htmldate_spark.plans.scheduler import CrawlConfig, CrawlScheduler

    hosts = [f"h{i}.example" for i in range(6)]
    nf_meta = "<meta name='robots' content='nofollow'>"
    rows = []
    for i, h in enumerate(hosts):
        base = f"https://{h}"
        extra = nf_meta if i % 2 == 0 else ""
        rows.append((
            f"{base}/s",
            "<html><head><meta property='article:published_time' "
            f"content='2023-06-02'/>{extra}</head><body>x</body></html>",
            [f"{base}/a", f"{base}/deep"],
        ))
        rows.append((f"{base}/a", "<html><body>x</body></html>", []))
        rows.append((f"{base}/deep", "<html><body>x</body></html>", []))
    corpus = spark.createDataFrame(
        rows, "url string, html string, outlinks array<string>"
    )
    suppress = spark.createDataFrame(
        [(f"https://{h}/deep",) for h in hosts]
        + [("https://h0.example/s",)],
        "url string",
    )

    state_dir = tempfile.mkdtemp(prefix="pagegates_gate_")
    try:
        sched = CrawlScheduler(
            spark, corpus, robots=None, host_budget=None,
            state_dir=state_dir,
            config=CrawlConfig(
                n_bloom_partitions=2, bloom_bits=1 << 12,
                respect_nofollow=True,
            ),
            url_suppress=suppress,
        )
        sched.init_from_seeds(spark.createDataFrame(
            [(f"https://{h}/s", 1.0) for h in hosts],
            "url string, priority double",
        ))
        sched.run_round()
        sched.run_round()
        out = []
        for rnd in (0, 1):
            fetched = spark.read.parquet(
                f"{state_dir}/round_{rnd}/fetched"
            ).collect()
            fetched.sort(key=lambda r: (-r["priority"], r["url"]))
            for rank, r in enumerate(fetched, 1):
                out.append((rnd, rank, r["url"], r["priority"], r["date"]))
    finally:
        shutil.rmtree(state_dir, ignore_errors=True)
    return spark.createDataFrame(
        out, "round int, rank int, url string, priority double, date string"
    )


def q_host_backoff(spark, sf_dir):
    """§2.9 frontier: failure-aware politeness (plans/backoff) —
    trailing consecutive-failure streak per host from the fetch log,
    budget = max(0.25, 8·0.5^streak). History synthesized by
    arithmetic (per-host fetch counts 2-10, arithmetic ok pattern);
    the oracle replays the last-success window + streak aggregation
    in SQL. Budgets are exact binary fractions so the hash matches
    without rounding slack."""
    from go_htmldate_spark.plans.backoff import host_backoff

    df = spark.range(30000)
    u = (F.col("id") / 10).cast("long")
    k = F.col("id") % 10
    log = df.filter(k < (u % 9) + 2).select(
        F.concat(F.lit("b"), u.cast("string"), F.lit(".example")).alias("host"),
        (k * 100 + u % 7).cast("double").alias("fetch_ts"),
        (((u + k) % ((u % 4) + 2)) != 0).alias("ok"),
    )
    out = host_backoff(log, base_budget=8.0, floor_budget=0.25)
    return out.select(
        "host", "streak",
        (F.round("politeness_budget", 6) + F.lit(0.0)).alias("politeness_budget"),
    )


def q_redirect_resolve(spark, sf_dir):
    """§2.9 frontier: redirect-chain resolution (plans/redirects) —
    pointer-doubling collapse of one-hop redirect edges to terminal
    targets, cycles flagged unresolved. Chains and whole-chain cycles
    synthesized by arithmetic (chain c has (c%5)+1 hops; every 7th
    chain closes into a cycle); the oracle derives the expected
    (url, target, resolved) analytically. Unresolved targets are
    diagnostic (partially-jumped cycle members), so the gate nulls
    them — resolution and cycle detection are what's graded."""
    from go_htmldate_spark.plans.redirects import resolve_redirects

    df = spark.range(6000)
    i = F.col("id")
    c = (i / 6).cast("long")
    p = i % 6
    ln = (c % 5) + 1

    def node(k):
        return F.concat(F.lit("https://r"), c.cast("string"),
                        F.lit(".example/p"), k.cast("string"))

    chain_edges = df.filter(p < ln).select(
        node(p).alias("src_url"), node(p + 1).alias("dst_url")
    )
    cycle_edges = df.filter((p == 5) & (c % 7 == 0)).select(
        node(ln).alias("src_url"), node(F.lit(0)).alias("dst_url")
    )
    res = resolve_redirects(chain_edges.unionByName(cycle_edges))
    return res.select(
        "url",
        F.when(F.col("resolved"), F.col("target")).alias("target"),
        "resolved",
    )


def q_url_trap_flags(spark, sf_dir):
    """§2.9 frontier guard: crawl-trap detection (plans/traps) — depth
    after slash collapsing, Heritrix consecutive-segment repeats,
    query-param cross products, session-id keys, opaque hex tokens.
    URLs synthesized by arithmetic over six trap classes; the oracle
    derives every flag analytically (the Spark side's backreference
    regex has no RE2 equivalent, so the gate is on semantics)."""
    from go_htmldate_spark.plans.traps import url_trap_flags

    df = spark.range(15000)
    i = F.col("id")
    istr = i.cast("string")
    host = F.concat(F.lit("https://h"), (i % 50).cast("string"),
                    F.lit(".example.org"))
    deep = "/" + "/".join(f"d{k}" for k in range(17))
    nine = "?" + "&".join(f"k{k}=1" for k in range(9))
    v = i % 6
    url = F.concat(
        host,
        F.when(v == 0, F.concat(F.lit("/a/b/c"), istr))
        .when(v == 1, F.concat(F.lit("/seg/seg/seg/x"), istr))
        .when(v == 2, F.lit(deep))
        .when(v == 3, F.lit("/p" + nine))
        .when(v == 4, F.concat(F.lit("/p?PHPSESSID="), istr))
        .otherwise(F.concat(F.lit("/p?tok="), F.md5(istr.cast("binary")))),
    )
    return url_trap_flags(df.select(url.alias("url"))).select(
        "url", "path_depth", "seg_repeat", "n_params", "session_like",
        "trapped",
    )


def q_host_pagerank(spark, sf_dir):
    """Pipeline: host-graph PageRank for crawl prioritization
    (plans/hostgraph.host_pagerank) — Common-Crawl-style host ranking in
    EXACT integer fixed-point (codegen'd 64-bit longs under the provable
    n_hosts·scale ≤ 2^62 mass bound, DECIMAL(38,0) beyond; truncating
    integer division), so the distributed result is bit-identical to any
    single-threaded evaluation regardless of partitioning — no
    fold-order drift, which is what lets the DuckDB oracle (4 unrolled
    sweeps in HUGEINT) hash-match. Host link edges synthesized from
    orders."""
    from go_htmldate_spark.plans.hostgraph import host_pagerank

    o = _t(spark, sf_dir, "orders")
    edges = o.select(
        F.concat(F.lit("h"), (F.col("o_custkey") % 40).cast("string")).alias("src"),
        F.concat(F.lit("h"), (F.col("o_orderkey") % 40).cast("string")).alias("dst"),
    )
    return host_pagerank(edges, iters=4)


def q_seed_distance(spark, sf_dir):
    """Pipeline: multi-source BFS seed distance over the host graph
    (plans/hostgraph.host_seed_distance — Najork/Wiener WWW'01
    breadth-first crawl ordering): exact hop count from the nearest
    hand-vetted seed host within a 4-hop horizon, frontier-only
    expansion so total work is O(edges within the horizon). Sparse
    graph synthesized from every 16th order (~200 hosts, avg degree
    ~5) so the BFS actually layers; oracle is a depth-capped recursive
    CTE with UNION dedup."""
    from go_htmldate_spark.plans.hostgraph import host_seed_distance

    o = _t(spark, sf_dir, "orders").filter(F.col("o_orderkey") % 16 == 0)
    edges = o.select(
        F.concat(F.lit("h"), (F.col("o_orderkey") % 200).cast("string"))
        .alias("src"),
        F.concat(F.lit("h"),
                 (F.expr("o_orderkey div 200") % 200).cast("string"))
        .alias("dst"),
    )
    seeds = spark.createDataFrame([("h0",), ("h1",)], "host string")
    return host_seed_distance(edges, seeds, max_hops=4)


def q_host_reciprocity(spark, sf_dir):
    """Pipeline: reciprocal-link ratio per host
    (plans/hostgraph.host_reciprocity — Fetterly WebDB'04 / Becchetti
    AIRWeb'06 link-exchange spam statistics): fraction of a host's
    out-edges whose reverse edge exists. Same sparse ~200-host graph
    as seed_distance; one swapped self-join over O(edges), host-keyed
    aggregation."""
    from go_htmldate_spark.plans.hostgraph import host_reciprocity

    o = _t(spark, sf_dir, "orders").filter(F.col("o_orderkey") % 16 == 0)
    edges = o.select(
        F.concat(F.lit("h"), (F.col("o_orderkey") % 200).cast("string"))
        .alias("src"),
        F.concat(F.lit("h"),
                 (F.expr("o_orderkey div 200") % 200).cast("string"))
        .alias("dst"),
    )
    return host_reciprocity(edges)


def q_sitemap_coverage(spark, sf_dir):
    """Pipeline: per-host sitemap-coverage audit
    (sources/sitemaps.sitemap_coverage — Schonfeld & Shivakumar
    WWW'09): of the URLs a host advertises, the fraction the crawl has
    seen, joined through the scheduler's canonical URL law. Planted
    truth: every 3rd advertised okey is uncrawled, and crawled URLs
    carry fragments on every 5th okey — they only count because
    canonicalization strips them, which the closed-form oracle relies
    on."""
    from go_htmldate_spark.sources.sitemaps import sitemap_coverage

    o = _ts(spark, sf_dir, "orders", "o_orderkey")
    okey = F.col("o_orderkey")
    url = F.concat(F.lit("https://h"), (F.col("o_custkey") % 30).cast("string"),
                   F.lit(".example/p/"), okey.cast("string"))
    adv = o.select(url.alias("url"))
    crawled = o.filter(okey % 3 != 0).select(
        F.concat(url, F.when(okey % 5 == 0, F.lit("#frag"))
                 .otherwise(F.lit(""))).alias("url")
    )
    return sitemap_coverage(adv, crawled)


def q_typosquat_skeleton(spark, sf_dir):
    """Pipeline: homoglyph typosquat detection
    (plans/typosquat.typosquat_pairs(skeleton=True) — UTS #39
    confusable folding, Holgers USENIX ATC'06): digit/bigram
    look-alikes ('g0ogle', 'rn' for 'm') fold onto their ASCII
    skeleton before the banded levenshtein, so homoglyph squats
    invisible at d=1 in raw space flag at skeleton distance 0-1.
    Planted per c_custkey % 4: o→0 homoglyph, m→rn expansion, the
    brand itself (excluded), and clean hostN.com."""
    from go_htmldate_spark.plans.typosquat import typosquat_pairs

    c = _t(spark, sf_dir, "customer")
    brand = F.element_at(
        F.array(*[F.lit(b) for b in _BRANDS]),
        (F.col("c_custkey") % 5 + 1).cast("int"),
    )
    syn = c.select(F.col("c_custkey").alias("k"), brand.alias("b"))
    host = F.expr(
        "CASE CAST(k % 4 AS INT) "
        "WHEN 0 THEN substring(b, 1, 1) || '0' || substring(b, 3) || '.com' "
        "WHEN 1 THEN replace(b, 'm', 'rn') || '.com' "
        "WHEN 2 THEN b || '.com' "
        "ELSE 'host' || CAST(k AS STRING) || '.com' END"
    )
    # materialize the synthesized column (a real deployment reads hosts
    # from storage): without the barrier Catalyst inlines the 6-branch
    # CASE into every per-depth PSL InSet probe — measured 2.6x slower
    hosts = syn.select(host.alias("host")).localCheckpoint(eager=False)
    brands = spark.createDataFrame(
        [(b + ".com",) for b in _BRANDS], "brand string"
    )
    pairs = typosquat_pairs(hosts, brands, max_dist=1, skeleton=True)
    return pairs.withColumn("core_dist", F.col("core_dist").cast("long"))


def q_collocations(spark, sf_dir):
    """Pipeline: bigram collocation mining by lift
    (operators/textstats.collocations — Church & Hanks CL'90 PMI, lift
    form so the score is one IEEE division of exact counts): map-only
    native-HOF gram generation, two map-side-combined count exchanges,
    survivor set broadcast into the unigram joins."""
    from go_htmldate_spark.operators.textstats import collocations

    docs = _ts(spark, sf_dir, "documents", "doc_id")
    return collocations(docs, min_count=25)


def q_shard_plan(spark, sf_dir):
    """Pipeline: token-balanced output-shard planning
    (operators/shards.shard_plan — Graham LPT'69 serpentine deal on
    the (n_tok desc, id) total order): every document gets the exact
    global rank via the bounded three-level offset decomposition (no
    unpartitioned window ever touches the doc table) and the snake-
    draft shard; rank_bucket=256 forces the multi-bucket rank path at
    this sf."""
    from go_htmldate_spark.operators.shards import shard_plan

    docs = _t(spark, sf_dir, "documents")
    return shard_plan(docs, n_shards=7, rank_bucket=256)


def q_shard_stats(spark, sf_dir):
    """Pipeline: per-shard balance audit of the token-balanced plan
    (operators/shards.shard_plan_stats): doc + token totals per output
    shard — the pre-flight check that the serpentine deal left the
    training files token-uniform."""
    from go_htmldate_spark.operators.shards import (
        shard_plan,
        shard_plan_stats,
    )

    docs = _t(spark, sf_dir, "documents")
    return shard_plan_stats(shard_plan(docs, n_shards=7, rank_bucket=256))


def _yield_fetch_log(spark, sf_dir):
    """Synthetic fetch log for the yield-prior pair: five URL shape
    classes per o_orderkey % 5 with planted per-class date-yield rates
    (blog 5/7, tag 1/7, root 0, asset 0, news 3/7)."""
    o = _ts(spark, sf_dir, "orders", "o_orderkey")
    k = F.col("o_orderkey")
    host = F.concat(F.lit("https://h"), (F.col("o_custkey") % 20).cast("string"),
                    F.lit(".example"))
    path = F.expr(
        "CASE CAST(o_orderkey % 5 AS INT) "
        "WHEN 0 THEN '/blog/' || CAST(2000 + o_orderkey % 25 AS STRING) "
        "  || '/post-' || CAST(o_orderkey AS STRING) || '.html' "
        "WHEN 1 THEN '/tag/t' || CAST(o_orderkey % 50 AS STRING) "
        "WHEN 2 THEN '/' "
        "WHEN 3 THEN '/img/i' || CAST(o_orderkey % 10 AS STRING) || '.png' "
        "ELSE '/news/' || CAST(o_orderkey AS STRING) || '.html' END"
    )
    rate = F.element_at(
        F.array(F.lit(5), F.lit(1), F.lit(0), F.lit(0), F.lit(3)),
        (k % 5 + 1).cast("int"),
    )
    return o.select(
        F.concat(host, path).alias("url"),
        (k % 7 < rate).alias("dated"),
    )


def q_pattern_yield(spark, sf_dir):
    """§2.9 frontier: URL-pattern yield learning
    (plans/yield_prior.pattern_yield — Cho/Garcia-Molina/Page WWW'98
    URL ordering): per shape-signature Beta(1,1) posterior mean of the
    fetch log's date-yield rate; map-only signature, one map-side-
    combined exchange, O(patterns) output."""
    from go_htmldate_spark.plans.yield_prior import pattern_yield

    return pattern_yield(_yield_fetch_log(spark, sf_dir), alpha=1.0)


def q_yield_prior_apply(spark, sf_dir):
    """§2.9 frontier: yield-prior re-ranking
    (plans/yield_prior.apply_yield_prior): frontier priority *=
    learned pattern yield via a broadcast join on the map-only
    signature — the frontier never shuffles; unseen shapes (the
    /about class, absent from the fetch log) fall back to the prior
    mean 0.5."""
    from go_htmldate_spark.plans.yield_prior import (
        apply_yield_prior,
        pattern_yield,
    )

    c = _ts(spark, sf_dir, "customer", "c_custkey")
    host = F.concat(F.lit("https://h"), (F.col("c_custkey") % 20).cast("string"),
                    F.lit(".example"))
    path = F.expr(
        "CASE CAST(c_custkey % 3 AS INT) "
        "WHEN 0 THEN '/blog/' || CAST(2000 + c_custkey % 25 AS STRING) "
        "  || '/post-' || CAST(c_custkey AS STRING) || '.html' "
        "WHEN 1 THEN '/tag/t' || CAST(c_custkey % 50 AS STRING) "
        "ELSE '/about' END"
    )
    frontier = c.select(
        F.concat(host, path).alias("url"),
        ((F.col("c_custkey") % 13 + 1) / 13.0).alias("priority"),
    )
    y = pattern_yield(_yield_fetch_log(spark, sf_dir), alpha=1.0)
    return apply_yield_prior(frontier, y)


_BRANDS = ("google", "wikipedia", "amazon", "facebook", "youtube")


def q_typosquat(spark, sf_dir):
    """Pipeline: typosquat / look-alike host detection
    (plans/typosquat.typosquat_pairs — Wang NDSS'06 Strider
    Typo-Patrol, Szurdi USENIX Sec'14): hosts whose registrable core
    is within 1 edit of a protected brand core, length-band-pruned
    broadcast join, threshold-capped levenshtein, host table never
    shuffles. Planted truth per c_custkey % 6: the brand itself and
    its www subdomain are excluded (same registrable domain), the
    delete-3rd-char and replace-2nd-char cores flag at dist 1, the
    .net variant flags as a dist-0 TLD squat, and hostN.com stays
    clean."""
    from go_htmldate_spark.plans.typosquat import typosquat_pairs

    c = _t(spark, sf_dir, "customer")
    brand = F.element_at(
        F.array(*[F.lit(b) for b in _BRANDS]),
        (F.col("c_custkey") % 5 + 1).cast("int"),
    )
    syn = c.select(F.col("c_custkey").alias("k"), brand.alias("b"))
    host = F.expr(
        "CASE CAST(k % 6 AS INT) "
        "WHEN 0 THEN b || '.com' "
        "WHEN 1 THEN substring(b, 1, 2) || substring(b, 4) || '.com' "
        "WHEN 2 THEN b || '.net' "
        "WHEN 3 THEN 'www.' || b || '.com' "
        "WHEN 4 THEN substring(b, 1, 1) || 'q' || substring(b, 3) || '.com' "
        "ELSE 'host' || CAST(k AS STRING) || '.com' END"
    )
    # materialize the synthesized column (a real deployment reads hosts
    # from storage): without the barrier Catalyst inlines the 6-branch
    # CASE into every per-depth PSL InSet probe — measured 2.6x slower
    hosts = syn.select(host.alias("host")).localCheckpoint(eager=False)
    brands = spark.createDataFrame(
        [(b + ".com",) for b in _BRANDS], "brand string"
    )
    pairs = typosquat_pairs(hosts, brands, max_dist=1)
    return pairs.withColumn("core_dist", F.col("core_dist").cast("long"))


def q_anchor_text(spark, sf_dir):
    """Pipeline: per-target anchor-text aggregation
    (plans/hostgraph.anchor_text_agg) — the web-graph quality signal of
    Craswell et al. CIKM'01: links per target URL, distinct source
    hosts, distinct anchor phrases, and the most common phrase. Pages
    synthesized from orders with three planted <a> tags each (double-
    quoted, single-quoted-with-extra-attrs, uppercase-empty) plus
    no-href and relative-link distractors the parser must skip; Spark
    parses the real HTML natively while the oracle rebuilds the planted
    link tuples closed-form and aggregates relationally."""
    from go_htmldate_spark.plans.hostgraph import anchor_text_agg

    o = _ts(spark, sf_dir, "orders", "o_orderkey")
    okey = F.col("o_orderkey")
    site = F.concat(F.lit("https://s"), (F.col("o_custkey") % 20).cast("string"),
                    F.lit(".example/post/"), okey.cast("string"))
    t1 = F.concat(F.lit("https://t"), (okey % 7).cast("string"),
                  F.lit(".example/page/"), (okey % 97).cast("string"))
    t2 = F.concat(F.lit("https://t"), ((okey + 1) % 7).cast("string"),
                  F.lit(".example/page/"), (okey % 53).cast("string"))
    t3 = F.concat(F.lit("https://hub.example/topic/"),
                  (okey % 31).cast("string"))
    a1 = F.concat(F.lit("Read Article "), (okey % 13).cast("string"))
    a2 = F.concat(F.lit("  more   NEWS "), (F.col("o_custkey") % 11).cast("string"),
                  F.lit(" "))
    html = F.concat(
        F.lit('<html><body><p>intro</p><a name="x">not a link</a><a href="'),
        t1, F.lit('">'), a1, F.lit("</a> filler <a class=\"nav\" href='"),
        t2, F.lit("'>"), a2, F.lit('</a><div><A HREF="'), t3,
        F.lit('"></A></div><a href="/relative/skip">rel</a></body></html>'),
    )
    pages = o.select(site.alias("url"), html.alias("html"))
    return anchor_text_agg(pages)


def q_soft404(spark, sf_dir):
    """Pipeline: soft-404 detection (plans/soft404.soft404_signal_flags) —
    error pages served with HTTP 200 (Bar-Yossef et al. WWW'04): an
    error-phrase + tiny-body conjunction catches phrase templates, a
    (host, md5(text)) group spanning >= 5 distinct urls catches
    phrase-free parked templates. Planted classes from orders: %9==0
    phrase 404s (also host templates), %9==1 tiny unique stubs (must
    NOT flag), %9==2 long articles ABOUT 404 errors (must NOT flag),
    %9==3 phrase-free parked templates (template pass only), rest
    normal articles. The oracle scores every class closed-form."""
    from go_htmldate_spark.plans.soft404 import soft404_signal_flags

    o = _ts(spark, sf_dir, "orders", "o_orderkey")
    okey = F.col("o_orderkey")
    host = F.concat(F.lit("h"), (F.col("o_custkey") % 30).cast("string"),
                    F.lit(".example"))
    url = F.concat(F.lit("https://"), host, F.lit("/p/"), okey.cast("string"))
    filler = F.lit(("lorem ipsum dolor sit amet consectetur adipiscing elit "
                    "sed do eiusmod tempor incididunt ut labore ") * 5)
    cls = okey % 9
    text = (
        F.when(cls == 0, F.lit(
            "Error 404 - Page Not Found. The page you requested was not "
            "found on this server."))
        .when(cls == 1, F.concat(F.lit("stub "), okey.cast("string")))
        .when(cls == 2, F.concat(
            F.lit("How to fix error 404 page not found responses. "),
            filler, okey.cast("string")))
        .when(cls == 3, F.lit("welcome to our website under construction"))
        .otherwise(F.concat(F.lit("Article body. "), filler,
                            okey.cast("string")))
    )
    # soft404_signal_flags computes the per-page regex/md5 chain ONCE
    # into a narrow internal barrier that both its branches read — no
    # page-text materialization, no per-branch re-scan (r06)
    pages = o.select(url.alias("url"), text.alias("text"))
    return soft404_signal_flags(pages)


def q_soft404_demotion(spark, sf_dir):
    """Pipeline: per-host soft-404 rate roll-up + scheduler demotion
    (plans/soft404.soft404_host_stats / soft404_demotion — the WWW'04
    signal is per-HOST behavior, so the budget table acts on the host
    rate). Planted host-varying rates: host h = o_custkey % 30 serves
    an error template on okey % 10 < (h % 11) of its pages — rates
    span 0..1 across hosts — and a long unique article otherwise; the
    oracle scores the planted truth closed-form (errors are flagged by
    construction, articles never), so this row independently validates
    the flag semantics rather than mirroring them."""
    from go_htmldate_spark.plans.soft404 import (
        soft404_demotion,
        soft404_host_stats,
    )

    o = _ts(spark, sf_dir, "orders", "o_orderkey")
    okey = F.col("o_orderkey")
    h = F.col("o_custkey") % 30
    host = F.concat(F.lit("h"), h.cast("string"), F.lit(".example"))
    url = F.concat(F.lit("https://"), host, F.lit("/p/"), okey.cast("string"))
    filler = F.lit(("lorem ipsum dolor sit amet consectetur adipiscing elit "
                    "sed do eiusmod tempor incididunt ut labore ") * 5)
    text = F.when(
        (okey % 10) < (h % 11),
        F.lit("Error 404 - Page Not Found. The page you requested was not "
              "found on this server."),
    ).otherwise(F.concat(F.lit("Article body. "), filler, okey.cast("string")))
    # the signal chain materializes once inside soft404_signal_flags
    # (narrow barrier); the stats checkpoint stays: an O(hosts)
    # aggregate feeding both the report and the demotion join
    pages = o.select(url.alias("url"), text.alias("text"))
    stats = soft404_host_stats(pages).localCheckpoint(eager=False)
    dem = soft404_demotion(stats, threshold=0.5, min_pages=20)
    return stats.join(dem, "host", "left").select(
        "host", "n_pages", "n_soft404", "soft404_frac",
        F.col("politeness_budget").isNotNull().alias("demoted"),
    )


def q_host_opic(spark, sf_dir):
    """Pipeline: OPIC on-line page importance (plans/opic — Abiteboul
    et al. WWW'03): cash splits over out-links by truncating integer
    division, remainders + dangling cash pool at a virtual root that
    pays back div-n shares, history banks spent cash — total cash is
    EXACTLY conserved, so the distributed result is bit-identical to
    any single-threaded evaluation and the oracle (3 unrolled sweeps
    in BIGINT CTEs) hash-matches. Host link edges synthesized from
    orders; cold-start batch mode (crawled = all, 3 sweeps); returns
    the importance estimate (cash+history)/total per host."""
    from go_htmldate_spark.plans.opic import opic_importance, opic_run

    o = _t(spark, sf_dir, "orders")
    edges = o.select(
        F.concat(F.lit("g"), (F.col("o_custkey") % 35).cast("string")).alias("src"),
        F.concat(F.lit("g"), (F.col("o_orderkey") % 35).cast("string")).alias("dst"),
    )
    hosts = edges.select(F.col("src").alias("host")).unionByName(
        edges.select(F.col("dst").alias("host"))
    )
    state = opic_run(hosts, edges, sweeps=3, unit=10**12)
    return opic_importance(state)


def _sql_opic_cte(sweeps: int = 3, unit: int = 10**12) -> str:
    """DuckDB oracle for q_host_opic: the identical integer law
    unrolled as chained CTEs (fl=flush, inn=incoming, sc=root scalars,
    st=state, rt=root) — BIGINT // is floor division, equal to the
    truncating division both sides use on these non-negative values."""
    parts = [f"""
        e AS (
          SELECT DISTINCT 'g' || (o_custkey % 35) AS src,
                          'g' || (o_orderkey % 35) AS dst
          FROM orders WHERE (o_custkey % 35) <> (o_orderkey % 35)
        ),
        nodes AS (SELECT src AS host FROM e UNION SELECT dst FROM e),
        od AS (SELECT src, COUNT(*) AS outdeg FROM e GROUP BY src),
        nn AS (SELECT COUNT(*) AS n FROM nodes),
        st0 AS (SELECT host, CAST({unit} AS BIGINT) AS cash,
                       CAST(0 AS BIGINT) AS history FROM nodes),
        rt0 AS (SELECT CAST(0 AS BIGINT) AS cash)"""]
    for i in range(1, sweeps + 1):
        parts.append(f"""
        fl{i} AS (
          SELECT s.host, s.cash, COALESCE(od.outdeg, 0) AS od,
                 CASE WHEN COALESCE(od.outdeg, 0) > 0
                      THEN s.cash // od.outdeg ELSE 0 END AS give
          FROM st{i-1} s LEFT JOIN od ON od.src = s.host
        ),
        inn{i} AS (
          SELECT e.dst AS host, SUM(f.give) AS in_cash
          FROM e JOIN fl{i} f ON f.host = e.src GROUP BY e.dst
        ),
        rm{i} AS (
          SELECT SUM(f.cash - f.od * f.give) AS rem_tot FROM fl{i} f
        ),
        sc{i} AS (
          SELECT r.cash + m.rem_tot AS rin, nn.n AS n
          FROM rm{i} m CROSS JOIN rt{i-1} r CROSS JOIN nn
        ),
        st{i} AS (
          SELECT f.host,
                 CAST(COALESCE(i.in_cash, 0) + (sc.rin // sc.n) AS BIGINT)
                   AS cash,
                 CAST(s.history + f.cash AS BIGINT) AS history
          FROM fl{i} f JOIN st{i-1} s USING (host)
               LEFT JOIN inn{i} i ON i.host = f.host
               CROSS JOIN sc{i} sc
        ),
        rt{i} AS (
          SELECT CAST(sc.rin - sc.n * (sc.rin // sc.n) AS BIGINT) AS cash
          FROM sc{i} sc
        )""")
    return (
        "WITH " + ",".join(parts) + f"""
        , tot AS (
          SELECT CAST(s.t1 + r.cash AS BIGINT) AS t
          FROM (SELECT SUM(cash + history) AS t1 FROM st{sweeps}) s
               CROSS JOIN rt{sweeps} r
        )
        SELECT host, cash, history,
               round(CAST(cash + history AS DOUBLE)
                     / CAST(t AS DOUBLE), 6) AS importance
        FROM st{sweeps} CROSS JOIN tot"""
    )


def q_host_hits(spark, sf_dir):
    """Pipeline: HITS hubs/authorities (plans/hostgraph.host_hits —
    Kleinberg JACM'99) in exact-integer fixed-point: each half-sweep
    L1-renormalizes to n·scale by truncating division instead of the
    classic fold-order-dependent L2 norm, so the distributed result is
    bit-identical to the single-threaded reference and the oracle (2
    unrolled sweeps in HUGEINT CTEs) hash-matches. Hubs rank hosts for
    outlink-DISCOVERY budget (complementing PageRank/OPIC's fetch
    priority); host link edges synthesized from orders."""
    from go_htmldate_spark.plans.hostgraph import host_hits

    o = _t(spark, sf_dir, "orders")
    edges = o.select(
        F.concat(F.lit("k"), (F.col("o_custkey") % 37).cast("string")).alias("src"),
        F.concat(F.lit("k"), (F.col("o_orderkey") % 37).cast("string")).alias("dst"),
    )
    return host_hits(edges, iters=2)


def q_bm25_topk(spark, sf_dir):
    """Pipeline: inverted postings + BM25 top-k retrieval
    (operators/retrieval — Robertson/Zaragoza 2009, Lucene positive
    idf): the corpus-search primitive behind decontamination audits
    and corpus QA. build_postings tokenizes documents into a
    (term, doc_id, tf, dl) postings frame; bm25_topk filters to the
    query terms (InSet, bucket-prunable against a prepare_postings
    table), broadcasts the per-term dfs + one-row corpus stats, and
    ranks with TakeOrderedAndProject. Per-doc double summation follows
    the lm_score fold-order contract (round-6 partials, sorted
    explicit left fold) so the oracle hash-matches; k exceeds the
    qualifying-doc count so the result set is cut-free and stable."""
    from go_htmldate_spark.operators.retrieval import (
        bm25_topk, build_postings, corpus_stats,
    )

    d = _ts(spark, sf_dir, "documents", "doc_id")
    postings = build_postings(d.select("doc_id", "text"))
    return bm25_topk(
        postings, corpus_stats(postings), ["merge", "spark", "window"],
        k=600,
    )


_SQL_BM25_TOPK = """
    WITH tok AS (
      SELECT doc_id,
             unnest(regexp_extract_all(lower(text), '[a-z0-9]+')) AS term
      FROM documents
    ),
    tf AS (
      SELECT term, doc_id, CAST(count(*) AS BIGINT) AS tf
      FROM tok GROUP BY term, doc_id
    ),
    dl AS (SELECT doc_id, CAST(sum(tf) AS BIGINT) AS dl FROM tf GROUP BY doc_id),
    stats AS (
      SELECT CAST(count(*) AS BIGINT) AS n_docs,
             CAST(sum(dl) AS DOUBLE) / count(*) AS avgdl
      FROM dl
    ),
    hits AS (
      SELECT t.term, t.doc_id, t.tf, d.dl
      FROM tf t JOIN dl d USING (doc_id)
      WHERE t.term IN ('merge', 'spark', 'window')
    ),
    dft AS (
      SELECT term, CAST(count(*) AS DOUBLE) AS df FROM hits GROUP BY term
    ),
    scored AS (
      SELECT h.doc_id, h.term,
             round(ln(1.0 + (s.n_docs - d.df + 0.5) / (d.df + 0.5))
                   * ((h.tf * (1.2 + 1.0))
                      / (h.tf + 1.2 * ((1.0 - 0.75)
                                       + (0.75 * h.dl) / s.avgdl))),
                   6) AS sc
      FROM hits h JOIN dft d USING (term) CROSS JOIN stats s
    )
    SELECT doc_id, CAST(count(*) AS BIGINT) AS n_terms,
           round(list_reduce(list(sc ORDER BY term), (x, y) -> x + y), 6)
             AS score
    FROM scored GROUP BY doc_id
"""


def q_cdx_index(spark, sf_dir):
    """§2.1 sources: CDX index build over the WARC fixture
    (sources/warc.cdx_index) — the Common-Crawl lookup sidecar: SURT
    urlkey (host labels reversed for domain-subtree range scans),
    14-digit capture timestamp, mime sans parameters, sha256 body
    digest, body length, shard filename. The oracle reconstructs every
    column closed-form from the documents table (same body/url/date
    law as warc_roundtrip). `offset` is excluded from this projection:
    it depends on gzip member byte sizes no SQL can predict — the
    pytest instead re-parses the shard files and pins each offset to
    the record found there."""
    import os

    from go_htmldate_spark.sources.warc import cdx_index, read_warc

    d = _warc_fixture_dir(spark, sf_dir)
    recs = read_warc(spark, os.path.join(d, "*.warc.gz"))
    return cdx_index(recs).drop("offset")


_SQL_CDX_INDEX = """
    SELECT 'example,warc)/' || lang || '/doc-' || CAST(doc_id AS VARCHAR)
             AS urlkey,
           strftime(TIMESTAMP '2024-01-01 00:00:00'
                    + doc_id * INTERVAL 1 SECOND, '%Y%m%d%H%M%S') AS ts14,
           'https://warc.example/' || lang || '/doc-' ||
             CAST(doc_id AS VARCHAR) AS url,
           'text/html' AS mime,
           CAST(200 AS INT) AS status,
           sha256('<html><body><p>' || text || '</p></body></html>')
             AS digest,
           CAST(strlen('<html><body><p>' || text || '</p></body></html>')
                AS BIGINT) AS length,
           'shard-' || CAST(doc_id % 4 AS VARCHAR) || '.warc.gz' AS filename
    FROM documents
"""


def q_host_trustrank(spark, sf_dir):
    """Pipeline: TrustRank spam demotion
    (plans/hostgraph.host_trustrank — Gyöngyi et al. VLDB'04):
    PageRank with the teleport restricted to a trusted seed set, in the
    same exact integer fixed-point (per-seed base =
    n·scale·(den-num) div (den·|seeds|), truncating divisions), so the
    distributed result is bit-identical to any single-threaded
    evaluation and the oracle (4 unrolled HUGEINT CTE sweeps with the
    seed-gated base) hash-matches. Host link edges synthesized from
    orders; five fixed seed hosts."""
    from go_htmldate_spark.plans.hostgraph import host_trustrank

    o = _t(spark, sf_dir, "orders")
    edges = o.select(
        F.concat(F.lit("m"), (F.col("o_custkey") % 33).cast("string")).alias("src"),
        F.concat(F.lit("m"), (F.col("o_orderkey") % 33).cast("string")).alias("dst"),
    )
    seeds = spark.createDataFrame(
        [("m0",), ("m1",), ("m2",), ("m3",), ("m4",)], "host string"
    )
    return host_trustrank(edges, seeds, iters=4)


def _sql_trustrank_cte(iters: int = 4, scale: int = 10**12,
                       num: int = 85, den: int = 100) -> str:
    """DuckDB oracle for q_host_trustrank: the seed-teleport integer
    recurrence unrolled as chained CTEs, HUGEINT arithmetic with //;
    the per-seed base is computed from the data (n_nodes, n_seeds)
    exactly as the operator does."""
    return f"""
        WITH e AS (
          SELECT DISTINCT 'm' || (o_custkey % 33) AS src,
                          'm' || (o_orderkey % 33) AS dst
          FROM orders WHERE (o_custkey % 33) <> (o_orderkey % 33)
        ),
        nodes AS (SELECT src AS host FROM e UNION SELECT dst FROM e),
        od AS (SELECT src, COUNT(*) AS outdeg FROM e GROUP BY src),
        sd AS (
          SELECT host FROM nodes
          WHERE host IN ('m0', 'm1', 'm2', 'm3', 'm4')
        ),
        bs AS (
          SELECT (CAST((SELECT COUNT(*) FROM nodes) AS HUGEINT)
                  * {scale} * {den - num})
                 // ({den} * (SELECT COUNT(*) FROM sd)) AS b
        ),
        r0 AS (
          SELECT n.host,
                 CASE WHEN s.host IS NOT NULL THEN bs.b
                      ELSE CAST(0 AS HUGEINT) END AS trust
          FROM nodes n LEFT JOIN sd s USING (host) CROSS JOIN bs
        )""" + "".join(f""",
        r{i} AS (
          SELECT n.host,
                 CASE WHEN sd.host IS NOT NULL THEN bs.b
                      ELSE CAST(0 AS HUGEINT) END
                   + (COALESCE(x.in_sum, 0) * {num}) // {den} AS trust
          FROM nodes n
          LEFT JOIN sd USING (host)
          CROSS JOIN bs
          LEFT JOIN (
            SELECT e.dst AS host, SUM(r.trust // od.outdeg) AS in_sum
            FROM e JOIN r{i-1} r ON r.host = e.src
                   JOIN od ON od.src = e.src
            GROUP BY e.dst
          ) x USING (host)
        )""" for i in range(1, iters + 1)) + f"""
        SELECT host, CAST(trust AS BIGINT) AS trust FROM r{iters}"""


def q_host_lang_budgets(spark, sf_dir):
    """Pipeline: language-quota crawl budgets
    (plans/hostgraph.host_lang_budgets) — per-host majority language
    (lexicographic tie-break: deterministic under any partitioning)
    mapped through a language→budget quota table, the allocation law
    of a language-balanced crawl. Hosts synthesized from documents
    (doc_id % 40), languages from the table's lang column; en gets
    quota 8, de 4, the rest the 1.0 floor."""
    from go_htmldate_spark.plans.hostgraph import host_lang_budgets

    d = _t(spark, sf_dir, "documents")
    pages = d.select(
        F.concat(F.lit("https://h"), (F.col("doc_id") % 40).cast("string"),
                 F.lit(".example/d/"), F.col("doc_id").cast("string"))
        .alias("url"),
        "lang",
    )
    return host_lang_budgets(pages, {"en": 8.0, "de": 4.0}, default=1.0)


_SQL_HOST_LANG_BUDGETS = """
    WITH counts AS (
      SELECT 'h' || (doc_id % 40) || '.example' AS host,
             coalesce(lang, 'unknown') AS lang,
             count(*) AS c
      FROM documents GROUP BY 1, 2
    ),
    win AS (
      SELECT host, lang,
             row_number() OVER (PARTITION BY host
                                ORDER BY c DESC, lang ASC) AS rn
      FROM counts
    )
    SELECT host, lang,
           CASE lang WHEN 'en' THEN 8.0 WHEN 'de' THEN 4.0
                ELSE 1.0 END AS politeness_budget
    FROM win WHERE rn = 1
"""


def q_focused_relevance(spark, sf_dir):
    """Pipeline: focused-crawl topic relevance
    (plans/hostgraph.focused_host_relevance — Chakrabarti et al.
    Computer Networks 1999): per-target-host share of in-link anchors
    containing a topic keyword on a word boundary, the signal that
    prioritizes crawl budget toward where the link context says the
    topic lives before fetching. Pages synthesized from orders with two
    planted links each whose anchor text cycles through topical and
    off-topic phrases plus no-href/relative distractors; Spark parses
    the real HTML natively and matches with one codegen'd rlike, the
    oracle rebuilds the link tuples closed-form and decides topicality
    by variant index."""
    from go_htmldate_spark.plans.hostgraph import focused_host_relevance

    o = _ts(spark, sf_dir, "orders", "o_orderkey")
    okey = F.col("o_orderkey")
    site = F.concat(F.lit("https://s"), (F.col("o_custkey") % 20).cast("string"),
                    F.lit(".example/post/"), okey.cast("string"))
    t1 = F.concat(F.lit("https://t"), (okey % 9).cast("string"),
                  F.lit(".example/page/"), (okey % 50).cast("string"))
    t2 = F.concat(F.lit("https://u"), (okey % 5).cast("string"),
                  F.lit(".example/x"))
    a1 = F.element_at(
        F.array(F.lit("cheap pills here"), F.lit("daily news digest"),
                F.lit("sports news update"), F.lit("holiday photos")),
        (okey % 4).cast("int") + 1,
    )
    a2 = F.element_at(
        F.array(F.lit("breaking news"), F.lit("about us"),
                F.lit("news archive")),
        (F.col("o_custkey") % 3).cast("int") + 1,
    )
    html = F.concat(
        F.lit('<html><body><a name="x">not a link</a><a href="'),
        t1, F.lit('">'), a1, F.lit('</a><a href="/rel/skip">rel</a><a href="'),
        t2, F.lit('">'), a2, F.lit("</a></body></html>"),
    )
    pages = o.select(site.alias("url"), html.alias("html"))
    return focused_host_relevance(pages, ["news", "breaking"])


_SQL_FOCUSED_RELEVANCE = """
    WITH links AS (
      SELECT 't' || (o_orderkey % 9) || '.example' AS host,
             CASE WHEN (o_orderkey % 4) IN (1, 2) THEN 1 ELSE 0 END AS hit
      FROM orders
      UNION ALL
      SELECT 'u' || (o_orderkey % 5) || '.example' AS host,
             CASE WHEN (o_custkey % 3) IN (0, 2) THEN 1 ELSE 0 END AS hit
      FROM orders
    )
    SELECT host,
           CAST(COUNT(*) AS BIGINT) AS n_inlinks,
           CAST(SUM(hit) AS BIGINT) AS n_topic_inlinks,
           round(CAST(SUM(hit) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE), 6)
             AS relevance
    FROM links GROUP BY host
"""


def _sql_hits_cte(iters: int = 2, scale: int = 10**12) -> str:
    """DuckDB oracle for q_host_hits: the identical integer law
    unrolled as chained CTEs — per half-sweep a neighbor-sum (ar/hr),
    a nodes-framed COALESCE (af/hf), a one-row global sum (sa/sh) and
    the L1 renormalization (raw·n·scale)//S, all in HUGEINT (// is
    floor division, equal to truncating division on non-negatives)."""
    parts = [f"""
        e AS (
          SELECT DISTINCT 'k' || (o_custkey % 37) AS src,
                          'k' || (o_orderkey % 37) AS dst
          FROM orders WHERE (o_custkey % 37) <> (o_orderkey % 37)
        ),
        nodes AS (SELECT src AS host FROM e UNION SELECT dst FROM e),
        nn AS (SELECT CAST(COUNT(*) AS HUGEINT) * {scale} AS t FROM nodes),
        h0 AS (SELECT host, CAST({scale} AS HUGEINT) AS hub FROM nodes)"""]
    for i in range(1, iters + 1):
        parts.append(f"""
        ar{i} AS (
          SELECT e.dst AS host, SUM(h.hub) AS raw
          FROM e JOIN h{i-1} h ON h.host = e.src GROUP BY e.dst
        ),
        af{i} AS (
          SELECT n.host, COALESCE(a.raw, 0) AS raw
          FROM nodes n LEFT JOIN ar{i} a USING (host)
        ),
        sa{i} AS (SELECT SUM(raw) AS s FROM af{i}),
        a{i} AS (
          SELECT f.host,
                 CASE WHEN sa.s > 0 THEN (f.raw * nn.t) // sa.s
                      ELSE 0 END AS auth
          FROM af{i} f CROSS JOIN sa{i} sa CROSS JOIN nn
        ),
        hr{i} AS (
          SELECT e.src AS host, SUM(a.auth) AS raw
          FROM e JOIN a{i} a ON a.host = e.dst GROUP BY e.src
        ),
        hf{i} AS (
          SELECT n.host, COALESCE(h.raw, 0) AS raw
          FROM nodes n LEFT JOIN hr{i} h USING (host)
        ),
        sh{i} AS (SELECT SUM(raw) AS s FROM hf{i}),
        h{i} AS (
          SELECT f.host,
                 CASE WHEN sh.s > 0 THEN (f.raw * nn.t) // sh.s
                      ELSE 0 END AS hub
          FROM hf{i} f CROSS JOIN sh{i} sh CROSS JOIN nn
        )""")
    return (
        "WITH " + ",".join(parts) + f"""
        SELECT a.host, CAST(a.auth AS BIGINT) AS auth,
               CAST(h.hub AS BIGINT) AS hub
        FROM a{iters} a JOIN h{iters} h USING (host)"""
    )


def _sql_pagerank_cte(iters: int, scale: int = 10**12,
                      num: int = 85, den: int = 100) -> str:
    """DuckDB oracle for q_host_pagerank: the same exact integer
    recurrence unrolled as chained CTEs, HUGEINT arithmetic with //."""
    base = (scale * (den - num)) // den
    parts = [f"""
        e AS (
          SELECT DISTINCT 'h' || (o_custkey % 40) AS src,
                          'h' || (o_orderkey % 40) AS dst
          FROM orders WHERE (o_custkey % 40) <> (o_orderkey % 40)
        ),
        nodes AS (SELECT src AS host FROM e UNION SELECT dst FROM e),
        od AS (SELECT src, COUNT(*) AS outdeg FROM e GROUP BY src),
        r0 AS (SELECT host, CAST({scale} AS HUGEINT) AS rank FROM nodes)"""]
    for i in range(1, iters + 1):
        parts.append(f"""
        r{i} AS (
          SELECT n.host,
                 CAST({base} AS HUGEINT)
                   + (COALESCE(s.in_sum, 0) * {num}) // {den} AS rank
          FROM nodes n LEFT JOIN (
            SELECT e.dst AS host, SUM(r.rank // od.outdeg) AS in_sum
            FROM e JOIN r{i-1} r ON r.host = e.src
                   JOIN od ON od.src = e.src
            GROUP BY e.dst
          ) s USING (host)
        )""")
    return (
        "WITH " + ",".join(parts)
        + f"\nSELECT host, CAST(rank AS BIGINT) AS rank FROM r{iters}"
    )


def q_url_blocklist(spark, sf_dir):
    """Pipeline: UT1-style host-suffix blocklist gate
    (operators/curation.host_blocklist_flag) — a host is blocked iff the
    list holds the host or any parent domain, matched on label
    boundaries via per-depth broadcast joins (the URL table never
    shuffles; plan-pinned in test_plan_shape). Hosts synthesized from
    orders; 'ads.example' blocks a quarter of them by suffix, two
    entries match exact hosts, one matches nothing."""
    from go_htmldate_spark.operators.curation import host_blocklist_flag

    o = _ts(spark, sf_dir, "orders", "o_orderkey")
    part = F.element_at(
        F.array(*[F.lit(p) for p in
                  ("ads.example", "news.example", "blog.example", "shop.example")]),
        (F.col("o_orderkey") % 4).cast("int") + 1,
    )
    hosts = o.select(
        "o_orderkey",
        F.concat(F.lit("h"), (F.col("o_custkey") % 50).cast("string"),
                 F.lit("."), part).alias("host"),
    )
    bl = spark.createDataFrame([(d,) for d in _BLOCKLIST_DOMAINS], "domain string")
    return host_blocklist_flag(hosts, bl)


def q_hll_host_distinct(spark, sf_dir):
    """Frontier sizing: per-host distinct-URL cardinality via mergeable
    HyperLogLog registers (plans/sketches.hll_registers / hll_estimate,
    p=8, Flajolet et al. AofA'07) — each partition reduces to <=256
    three-int rows per host BEFORE the exchange, so the shuffle never
    carries URL strings; register tables from two crawl snapshots merge
    by union+max without re-reading either. Arithmetic synth: 120k
    fetch-log rows over 40 hosts with per-host true distincts
    250/1150/2050/2950, exercising both the linear-counting and the
    raw-estimate branch; z_num is the exact-integer indicator carrier
    (sum of 2^(53-rho), partitioning-invariant) so the hash gate pins
    every register, and est_distinct is the one rounded double."""
    from go_htmldate_spark.plans.sketches import hll_estimate, hll_registers

    df = spark.range(120000)
    i = F.col("id")
    h = i % 40
    n_dist = F.lit(250).cast("long") + (h % 4) * F.lit(900).cast("long")
    page = F.floor(i / F.lit(40)).cast("long") % n_dist
    urls = df.select(
        F.concat(F.lit("h"), h.cast("string"), F.lit(".example")).alias("host"),
        F.concat(
            F.lit("https://h"), h.cast("string"), F.lit(".example/p/"),
            page.cast("string"),
        ).alias("url"),
    )
    return hll_estimate(hll_registers(urls, "host", "url"))


def q_cms_heavy_hosts(spark, sf_dir):
    """Heavy-host screen via a Count-Min sketch (plans/sketches
    .cms_build / cms_point_estimate, Cormode & Muthukrishnan 2005,
    d=4 w=1024): the fetch-log shuffle payload collapses to <=d*w
    counter rows per partition regardless of input size, the kilobyte
    sketch is broadcast back over the candidate hosts, and the
    one-sided estimate (never under-counts) feeds the scheduler's
    skew-salting trigger without a full host groupBy. Arithmetic
    synth: 60k fetches, 2/3 concentrated on 5 heavy hosts, 1/3 spread
    over a 997-host tail; is_heavy applies the phi=1% screen
    (threshold 600 = ceil(.01 * 60000))."""
    from go_htmldate_spark.plans.sketches import cms_build, cms_point_estimate

    df = spark.range(60000)
    i = F.col("id")
    hid = F.when(i % 3 < 2, i % 5).otherwise(i % 997)
    logf = df.select(
        F.concat(F.lit("h"), hid.cast("string"), F.lit(".example")).alias("host")
    )
    sketch = cms_build(logf, "host", d=4, w=1024)
    est = cms_point_estimate(sketch, logf, "host", d=4, w=1024)
    return est.select(
        "key", "est_count", (F.col("est_count") >= 600).alias("is_heavy")
    )


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    # Ordered so the 68 queries that have never drawn a driver
    # CORRECTNESS row lead the dict (r05 verdict task 1: the driver
    # samples 50 per round tracking dict composition; every entry
    # below passes the local replica gate). Pure reordering - no
    # query body or oracle changed.
    return {
        "ccnet_buckets": q_ccnet_buckets,
        "host_boilerplate": q_host_boilerplate,
        "host_opic": q_host_opic,
        "host_hits": q_host_hits,
        "focused_relevance": q_focused_relevance,
        "bm25_topk": q_bm25_topk,
        "host_trustrank": q_host_trustrank,
        "cdx_index": q_cdx_index,
        "host_lang_budgets": q_host_lang_budgets,
        "anchor_text": q_anchor_text,
        "soft404": q_soft404,
        "soft404_demotion": q_soft404_demotion,
        "feed_parse": q_feed_parse,
        "redirect_resolve": q_redirect_resolve,
        "change_rate": q_change_rate,
        "cache_ttl": q_cache_ttl,
        "revalidation_plan": q_revalidation,
        "host_datacard": q_host_datacard,
        "snapshot_diff": q_snapshot_diff,
        "snapshot_diff_stats": q_snapshot_diff_stats,
        "warc_revisit": q_warc_revisit,
        "revisit_stats": q_revisit_stats,
        "revisit_roundtrip": q_revisit_roundtrip,
        "rel_canonical": q_rel_canonical,
        "meta_robots": q_meta_robots,
        "nofollow_links": q_nofollow_links,
        "pagination_chains": q_pagination_chains,
        "hreflang_clusters": q_hreflang_clusters,
        "hreflang_stats": q_hreflang_stats,
        "meta_refresh": q_meta_refresh,
        "page_aliases": q_page_aliases,
        "visible_text": q_visible_text,
        "outlink_discovery": q_outlink_discovery,
        "blockwords": q_blockwords,
        "link_density": q_link_density,
        "gopher_rules": q_gopher_rules,
        "robots_compliance": q_robots_compliance,
        "host_backoff": q_host_backoff,
        "adaptive_delay": q_adaptive_delay,
        "water_fill": q_water_fill,
        "wave_plan": q_wave_plan,
        "parked_flags": q_parked,
        "parked_hosts": q_parked_hosts,
        "registrable_domain": q_registrable,
        "politeness_audit": q_politeness_audit,
        "alloc_fairness": q_alloc_fairness,
        "seed_distance": q_seed_distance,
        "host_reciprocity": q_host_reciprocity,
        "sitemap_coverage": q_sitemap_coverage,
        "typosquat": q_typosquat,
        "typosquat_skeleton": q_typosquat_skeleton,
        "shard_plan": q_shard_plan,
        "shard_stats": q_shard_stats,
        "pattern_yield": q_pattern_yield,
        "yield_prior_apply": q_yield_prior_apply,
        "collocations": q_collocations,
        "frontier_allgates": q_frontier_allgates,
        "frontier_pagegates": q_frontier_pagegates,
        "dust_rules": q_dust_rules,
        "dust_apply": q_dust_apply,
        "mirror_hosts": q_mirror_hosts,
        "warc_roundtrip": q_warc_roundtrip,
        "wet_roundtrip": q_wet_roundtrip,
        "wat_metadata": q_wat_metadata,
        "wat_roundtrip": q_wat_roundtrip,
        "warc_curate": q_warc_curate,
        "hll_host_distinct": q_hll_host_distinct,
        "cms_heavy_hosts": q_cms_heavy_hosts,
        "url_date_extract": q_url_date_extract,
        "plausible_year_count": q_plausible_year_count,
        "candidate_topk": q_candidate_topk,
        "minmax_reference": q_minmax_reference,
        "anti_join_seen": q_anti_join_seen,
        "month_lookup": q_month_lookup,
        "two_digit_year": q_two_digit_year,
        "eval_scoring": q_eval_scoring,
        "token_count": q_token_count,
        "bpe_token_count": q_bpe_token_count,
        "quality_score": q_quality_score,
        "lang_id": q_lang_id,
        "fingerprint": q_fingerprint,
        "exact_dedup": q_exact_dedup,
        "jaccard_pairs": q_jaccard_pairs,
        "ann_cosine_topk": q_ann_cosine_topk,
        "ann_ivf_topk": q_ann_ivf_topk,
        "ann_ivf_pruned": q_ann_ivf_pruned,
        "event_time_windows": q_event_time_windows,
        "canonicalize_url": q_canonicalize_url,
        "priority_recency": q_priority_recency,
        "host_topk": q_host_topk,
        "ip_topk": q_ip_topk,
        "minhash_lsh_pairs": q_minhash_lsh_pairs,
        "incremental_dedup": q_incremental_dedup,
        "simhash_groups": q_simhash_groups,
        "simhash_near_pairs": q_simhash_near_pairs,
        "ann_selfjoin": q_ann_selfjoin,
        "semantic_dedup_components": q_semantic_dedup_components,
        "pipeline_clean": q_pipeline_clean,
        "media_frames": q_media_frames,
        "robots_parse": q_robots_parse,
        "extract_cascade": q_extract_cascade,
        "extract_time": q_extract_time,
        "media_features": q_media_features,
        "media_stats": q_media_stats,
        "mock_corpus_parity": q_mock_corpus_parity,
        "gopher_repetition": q_gopher_repetition,
        "stratified_sample": q_stratified_sample,
        "temporal_rebalance": q_temporal_rebalance,
        "linear_quality": q_linear_quality,
        "host_cap_sample": q_host_cap_sample,
        "ngram_contamination": q_ngram_contamination,
        "dup_span_stats": q_dup_span_stats,
        "dup_span_removal": q_dup_span_removal,
        "pipeline_curate": q_pipeline_curate,
        "pii_scrub": q_pii_scrub,
        "c4_heuristics": q_c4_heuristics,
        "pack_sequences": q_pack_sequences,
        "lm_score": q_lm_score,
        "token_budget_sample": q_token_budget_sample,
        "url_blocklist": q_url_blocklist,
        "line_dedup": q_line_dedup,
        "host_pagerank": q_host_pagerank,
        "sitemap_parse": q_sitemap_parse,
        "robots_sitemaps": q_robots_sitemaps,
        "url_trap_flags": q_url_trap_flags,
    }


# Shared CTE chain for the DUST gates: the arithmetic alias corpus and
# the full mining pipeline (distinct → capped buckets → pairs →
# position-explode lcp/lcs → oriented middles). dust_rules aggregates
# support over `oriented`; dust_apply extends the chain with rule
# application. Mirrors plans/dust.py expression for expression.
_DUST_CTES = """
            WITH b AS (
              SELECT i // 3 AS g, i % 3 AS vv FROM range(6000) t(i)
            ),
            pages AS (
              SELECT 'https://d' || (g % 7) || '.example/art/' || g ||
                     CASE vv WHEN 0 THEN ''
                             WHEN 1 THEN '?sessionid=zz'
                             ELSE '/index.html' END AS url,
                     g AS sig
              FROM b WHERE vv < 2 OR g % 3 = 0
              UNION ALL
              SELECT 'https://noise.example/n/' || i AS url,
                     100000 + i AS sig
              FROM range(500) t(i)
            ),
            dup AS (SELECT DISTINCT url, sig FROM pages),
            capped AS (
              SELECT url, sig FROM (
                SELECT url, sig, row_number() OVER (
                    PARTITION BY sig ORDER BY url) AS rn
                FROM dup
              ) WHERE rn <= 32
            ),
            prs AS (
              SELECT DISTINCT t1.url AS a, t2.url AS b2
              FROM capped t1 JOIN capped t2
                ON t1.sig = t2.sig AND t1.url < t2.url
            ),
            pos AS (
              SELECT a, b2,
                     unnest(generate_series(
                         1, least(length(a), length(b2)))) AS p
              FROM prs
            ),
            mism AS (
              SELECT a, b2,
                COALESCE(MIN(CASE WHEN substr(a, p, 1) <> substr(b2, p, 1)
                                  THEN p END),
                         least(length(a), length(b2)) + 1) AS fm,
                COALESCE(MIN(CASE WHEN substr(reverse(a), p, 1)
                                       <> substr(reverse(b2), p, 1)
                                  THEN p END),
                         least(length(a), length(b2)) + 1) AS rm
              FROM pos GROUP BY a, b2
            ),
            mids AS (
              SELECT
                substr(a, fm, greatest(0, length(a) - (fm - 1)
                    - least(rm - 1,
                            least(length(a), length(b2)) - (fm - 1))))
                  AS x,
                substr(b2, fm, greatest(0, length(b2) - (fm - 1)
                    - least(rm - 1,
                            least(length(a), length(b2)) - (fm - 1))))
                  AS y
              FROM mism
            ),
            oriented AS (
              SELECT CASE WHEN length(y) > length(x)
                            OR (length(y) = length(x) AND y > x)
                          THEN y ELSE x END AS alpha,
                     CASE WHEN length(y) > length(x)
                            OR (length(y) = length(x) AND y > x)
                          THEN x ELSE y END AS beta
              FROM mids
            )
"""


# Shared closed-form rebuild of the _wat_records envelope (used by both
# the direct-extraction and roundtrip WAT oracles).
_WAT_ENVELOPE_SQL = """
    SELECT doc_id,
           'https://wat.example/' || lang || '/doc-' || doc_id AS url,
           '2026-08-01T00:00:00Z' AS warc_date,
           'urn:doc:' || doc_id AS record_id,
           CAST(CASE WHEN doc_id % 7 = 0 THEN 404 ELSE 200 END
                AS INTEGER) AS status,
           'text/html' AS mime,
           CAST(strlen(
             '<html><head><title> Doc  ' || doc_id || chr(10) ||
             ' title</title>' ||
             '<meta name="description" content="d' || (doc_id % 50) ||
             '">' ||
             '<meta name=''keywords'' content=''k' || (doc_id % 9) ||
             ''''  || '>' ||
             '<meta content="rev" name="skipped">' ||
             '</head><body><a href="https://t' || (doc_id % 7) ||
             '.example/p/' || (doc_id % 97) || '">go ' ||
             (doc_id % 13) || '</a>' ||
             ' mid <a class="x" href=''https://hub.example/t/' ||
             (doc_id % 31) || '''>hub</a>' ||
             '<a name="n">skip</a><p>' || text || '</p></body></html>'
           ) AS BIGINT) AS payload_len,
           'Doc ' || doc_id || ' title' AS title,
           'description|keywords' AS meta_names_joined,
           'd' || (doc_id % 50) || '|k' || (doc_id % 9)
             AS meta_contents_joined,
           'https://t' || (doc_id % 7) || '.example/p/' ||
             (doc_id % 97) || '|https://hub.example/t/' ||
             (doc_id % 31) AS links_joined,
           CAST(2 AS BIGINT) AS n_links
    FROM documents
"""


# HLL p=8 estimate numerator alpha_m * m^2 * 2^53 — the SAME Python
# double (same operation order as plans/sketches.hll_estimate's
# F.lit(alpha * m * m * float(scale))) interpolated into the DuckDB
# oracle, so both engines divide an identical literal.
_HLL_ALPHA_NUM = (0.7213 / (1.0 + 1.079 / 256)) * 256 * 256 * float(1 << 53)


def oracle_sql() -> dict[str, str]:
    toks = "string_split(trim(regexp_replace(text, '\\s+', ' ', 'g')), ' ')"
    ltoks = "string_split(lower(trim(regexp_replace(text, '\\s+', ' ', 'g'))), ' ')"

    def marker_hits(lang: str) -> str:
        lst = ", ".join(f"'{w}'" for w in _LANG_MARKERS_SQL[lang])
        return f"len(list_filter({ltoks}, t -> list_contains([{lst}], t)))"

    month_list = ", ".join(f"'{m}'" for m in _EN_MONTHS)

    return {
        "url_date_extract": f"""
            WITH urls AS ({_SQL_SYNTH_URLS})
            SELECT o_orderkey, {_SQL_URL_DATE} AS url_date FROM urls
        """,
        "plausible_year_count": """
            SELECT CAST(year(l_shipdate) AS BIGINT) AS year,
                   CAST(COUNT(*) AS BIGINT) AS n
            FROM lineitem
            WHERE year(l_shipdate) BETWEEN 1995 AND 2030
            GROUP BY 1
        """,
        "candidate_topk": """
            WITH counted AS (
                SELECT strftime(o_orderdate, '%Y-%m') AS pattern,
                       CAST(COUNT(*) AS BIGINT) AS n
                FROM orders GROUP BY 1
            )
            SELECT pattern, n,
                   CAST(row_number() OVER (ORDER BY n DESC, pattern DESC) AS BIGINT) AS rank
            FROM counted
            QUALIFY rank <= 10
        """,
        "minmax_reference": """
            SELECT o_custkey,
                   strftime(MIN(o_orderdate), '%Y-%m-%d') AS first_date,
                   strftime(MAX(o_orderdate), '%Y-%m-%d') AS last_date
            FROM orders GROUP BY o_custkey
        """,
        "anti_join_seen": """
            SELECT o_orderpriority, CAST(COUNT(*) AS BIGINT) AS n
            FROM orders
            WHERE o_custkey NOT IN (
                SELECT c_custkey FROM customer WHERE c_custkey % 10 = 0)
            GROUP BY 1
        """,
        "month_lookup": f"""
            WITH named AS (
                SELECT ([{month_list}])[month(ts)] AS month_name,
                       CAST(month(ts) AS BIGINT) AS month_num
                FROM events
            )
            SELECT month_name, month_num, CAST(COUNT(*) AS BIGINT) AS n
            FROM named GROUP BY 1, 2
        """,
        "two_digit_year": """
            WITH yy AS (
                SELECT CAST(strftime(l_shipdate, '%y') AS INT) AS y2 FROM lineitem
            )
            SELECT CAST(CASE WHEN y2 >= 90 THEN y2 + 1900 ELSE y2 + 2000 END AS BIGINT)
                       AS year_completed,
                   CAST(COUNT(*) AS BIGINT) AS n
            FROM yy GROUP BY 1
        """,
        "eval_scoring": f"""
            WITH urls AS ({_SQL_SYNTH_URLS}),
            preds AS (
                SELECT {_SQL_URL_DATE} AS pred,
                       strftime(o_orderdate, '%Y-%m-%d') AS golden
                FROM urls
            ),
            base AS (
                SELECT CAST(SUM(CASE WHEN pred <> '' AND pred = golden THEN 1 ELSE 0 END) AS BIGINT) AS tp,
                       CAST(SUM(CASE WHEN pred <> '' AND pred <> golden THEN 1 ELSE 0 END) AS BIGINT) AS fp,
                       CAST(SUM(CASE WHEN pred = '' AND golden <> '' THEN 1 ELSE 0 END) AS BIGINT) AS fn,
                       CAST(SUM(CASE WHEN pred = '' AND golden = '' THEN 1 ELSE 0 END) AS BIGINT) AS tn
                FROM preds
            )
            SELECT tp, fp, fn, tn,
                   round(tp / (tp + fp), 6) AS precision,
                   round(tp / (tp + fn), 6) AS recall,
                   round((tp + tn) / (tp + fp + fn + tn), 6) AS accuracy,
                   round(2 * (tp / (tp + fp)) * (tp / (tp + fn))
                         / ((tp / (tp + fp)) + (tp / (tp + fn))), 6) AS f1
            FROM base
        """,
        "token_count": f"""
            SELECT doc_id, CAST(len({toks}) AS BIGINT) AS n_tokens FROM documents
        """,
        "bpe_token_count": r"""
            SELECT doc_id,
                   CAST(len(regexp_extract_all(text, '[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9\s]')) AS BIGINT)
                       AS n_bpe_tokens
            FROM documents
        """,
        "quality_score": f"""
            WITH stats AS (
                SELECT doc_id,
                       length(text) AS n_chars,
                       length(text) - length(regexp_replace(text, '[\\pP]', '', 'g'))
                           AS n_punct,
                       len({toks}) AS n_tok,
                       list_aggregate(list_transform({toks}, t -> length(t)), 'sum')
                           AS tok_chars,
                       len(list_filter({ltoks},
                           t -> list_contains(['the','and','of','to','in','is','that','for','with','on'], t)))
                           AS n_stop
                FROM documents
            )
            SELECT doc_id,
                   round(CASE WHEN n_chars > 0
                              THEN CAST(n_punct AS DOUBLE) / n_chars ELSE 0.0 END, 6)
                       AS punct_ratio,
                   round(CASE WHEN n_tok > 0
                              THEN CAST(n_stop AS DOUBLE) / n_tok ELSE 0.0 END, 6)
                       AS stopword_ratio,
                   round(
                       least(CAST(n_tok AS DOUBLE) / 100.0, 1.0)
                       * greatest(0.0, 1.0 - (CASE WHEN n_chars > 0
                              THEN CAST(n_punct AS DOUBLE) / n_chars ELSE 0.0 END) * 4)
                       * (CASE WHEN n_tok > 0
                               AND CAST(tok_chars AS DOUBLE) / n_tok >= 3
                               AND CAST(tok_chars AS DOUBLE) / n_tok <= 10
                          THEN 1.0 ELSE 0.5 END), 6) AS quality
            FROM stats
        """,
        "lang_id": f"""
            WITH hits AS (
                SELECT doc_id,
                       {marker_hits('en')} AS en_h,
                       {marker_hits('de')} AS de_h,
                       {marker_hits('fr')} AS fr_h,
                       {marker_hits('tr')} AS tr_h,
                       {marker_hits('id')} AS id_h
                FROM documents
            )
            SELECT doc_id,
                   CASE WHEN greatest(en_h, de_h, fr_h, tr_h, id_h) = 0 THEN 'unknown'
                        WHEN en_h = greatest(en_h, de_h, fr_h, tr_h, id_h) THEN 'en'
                        WHEN de_h = greatest(en_h, de_h, fr_h, tr_h, id_h) THEN 'de'
                        WHEN fr_h = greatest(en_h, de_h, fr_h, tr_h, id_h) THEN 'fr'
                        WHEN tr_h = greatest(en_h, de_h, fr_h, tr_h, id_h) THEN 'tr'
                        ELSE 'id' END AS lang_pred
            FROM hits
        """,
        "fingerprint": """
            SELECT doc_id,
                   md5(lower(trim(regexp_replace(text, '\\s+', ' ', 'g')))) AS fp
            FROM documents
        """,
        "exact_dedup": """
            WITH corpus AS (
                SELECT doc_id, text FROM documents
                UNION ALL
                SELECT doc_id + 1000000, text FROM documents WHERE doc_id % 7 = 0
            )
            SELECT md5(text) AS fp,
                   CAST(COUNT(*) AS BIGINT) AS n_dups,
                   MIN(doc_id) AS rep_id
            FROM corpus GROUP BY 1 HAVING COUNT(*) > 1
        """,
        # LSH-candidate generation (same algebra as minhash_lsh_pairs)
        # followed by the exact distinct-token Jaccard verify stage
        "jaccard_pairs": r"""
            WITH corpus AS (
                SELECT doc_id, text FROM documents
                UNION ALL
                SELECT doc_id + 1000000, text FROM documents WHERE doc_id % 11 = 0
            ),
            norm AS (
                SELECT doc_id, lower(trim(regexp_replace(text, '\s+', ' ', 'g'))) AS t
                FROM corpus
            ),
            sh AS (
                SELECT doc_id,
                       CASE WHEN length(t) >= 5
                            THEN list_distinct(list_transform(
                                range(1, length(t) - 3),
                                i -> substr(t, CAST(i AS INT), 5)))
                            ELSE [t] END AS shingles
                FROM norm
            ),
            sig AS (
                SELECT doc_id,
                       list_transform(range(0, 16), j ->
                           list_aggregate(list_transform(shingles, g ->
                               CAST('0x' || substr(md5(j || ':' || g), 1, 15) AS BIGINT)),
                               'min')) AS mh
                FROM sh
            ),
            band AS (
                SELECT doc_id, t.band AS band,
                       array_to_string(
                           mh[CAST(t.band * 4 + 1 AS INT):CAST(t.band * 4 + 4 AS INT)],
                           ',') AS bucket
                FROM sig, range(0, 4) t(band)
            ),
            cand AS (
                SELECT DISTINCT x.doc_id AS a, y.doc_id AS b
                FROM band x JOIN band y
                  ON x.band = y.band AND x.bucket = y.bucket AND x.doc_id < y.doc_id
            ),
            toks AS (
                SELECT doc_id,
                       list_distinct(string_split(t, ' ')) AS tk
                FROM norm
            )
            SELECT c.a, c.b,
                   round(CAST(len(list_intersect(ta.tk, tb.tk)) AS DOUBLE)
                         / (len(ta.tk) + len(tb.tk)
                            - len(list_intersect(ta.tk, tb.tk))), 6) AS jaccard
            FROM cand c
            JOIN toks ta ON ta.doc_id = c.a
            JOIN toks tb ON tb.doc_id = c.b
            WHERE CAST(len(list_intersect(ta.tk, tb.tk)) AS DOUBLE)
                  / (len(ta.tk) + len(tb.tk) - len(list_intersect(ta.tk, tb.tk)))
                  >= 0.5
        """,
        "canonicalize_url": """
            -- independent derivation of the expected canonical form
            SELECT o_orderkey,
                   'https://shop' || (o_custkey % 7) || '.example.org/items/'
                   || o_orderkey
                   || CASE WHEN o_orderkey % 2 = 0 THEN '?a=1&b=2' ELSE '' END
                       AS url_canon
            FROM orders
        """,
        "priority_recency": """
            SELECT o_orderkey,
                   round(((o_custkey % 5) + 1.0)
                         * (1.0 / (1.0 + greatest(0,
                               date_diff('day', CAST(o_orderdate AS DATE),
                                         DATE '2024-06-01')) / 365.0)), 6)
                       AS priority
            FROM orders
        """,
        "host_topk": """
            SELECT user_id, event_id, value,
                   CAST(row_number() OVER (
                       PARTITION BY user_id
                       ORDER BY value DESC, event_id ASC) AS BIGINT) AS rank
            FROM events
            QUALIFY rank <= 3
        """,
        "ip_topk": """
            WITH cand AS (
              SELECT 'https://s' || (i % 500) || '.example/p/' || i AS url,
                     's' || (i % 500) || '.example' AS host,
                     CASE WHEN i % 500 < 300
                          THEN 'ip' || ((i % 500) % 60) END AS ip,
                     (i % 500) % 3 + 1 AS k,
                     ROUND(CAST((i * 2654435761) % 10007 AS DOUBLE)
                           / 10007.0, 6) + 0.0 AS priority
              FROM range(40000) t(i)
            ),
            hosted AS (
              SELECT url, host, ip, priority
              FROM cand
              QUALIFY row_number() OVER (
                  PARTITION BY host ORDER BY priority DESC, url ASC) <= k
            )
            SELECT url, host, COALESCE(ip, host) AS ip_key, priority
            FROM hosted
            QUALIFY row_number() OVER (
                PARTITION BY COALESCE(ip, host)
                ORDER BY priority DESC, url ASC) <= 3
        """,
        "ann_cosine_topk": """
            WITH q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0)
            SELECT vec_id,
                   round(list_cosine_similarity(
                       CAST(embedding AS DOUBLE[]), CAST(qv AS DOUBLE[])), 4) AS cosine
            FROM embeddings, q
            ORDER BY cosine DESC, vec_id ASC
            LIMIT 10
        """,
        "event_time_windows": """
            WITH pages AS (
                SELECT 'h' || CAST(user_id % 7 AS VARCHAR) || '.example'
                           AS host,
                       ts,
                       strftime(ts, '%Y/%m/%d') AS url_date_part
                FROM events
            )
            SELECT time_bucket(INTERVAL '1 hour', ts) AS win_start,
                   time_bucket(INTERVAL '1 hour', ts) + INTERVAL '1 hour'
                       AS win_end,
                   host,
                   CAST(COUNT(*) AS BIGINT) AS n_fetched,
                   CAST(COUNT(*) AS BIGINT) AS n_dated
            FROM pages
            GROUP BY 1, 2, 3
        """,
        # IVF: same left-fold double arithmetic as the Spark cosine()
        # helper (bit-identical, proven by the ann_selfjoin rerank CTE),
        # so cluster argmax and the nprobe probe set match exactly.
        "ann_ivf_topk": f"""
            WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
                       FROM embeddings),
            c AS (SELECT vec_id AS cid, v AS cv FROM e ORDER BY vec_id LIMIT 16),
            scored AS (
                SELECT e.vec_id, c.cid, {_sql_cos('e.v', 'c.cv')} AS cs
                FROM e, c
            ),
            assigned AS (
                SELECT vec_id, cid AS cluster FROM scored
                QUALIFY row_number() OVER (
                    PARTITION BY vec_id ORDER BY cs DESC, cid ASC) = 1
            ),
            q AS (SELECT v AS qv FROM e WHERE vec_id = 0),
            probe AS (
                SELECT cid FROM c, q
                ORDER BY {_sql_cos('cv', 'qv')} DESC, cid ASC
                LIMIT 4
            )
            SELECT e.vec_id, a.cluster,
                   round({_sql_cos('e.v', 'qv')}, 6) AS cosine
            FROM e JOIN assigned a USING (vec_id), q
            WHERE a.cluster IN (SELECT cid FROM probe)
            ORDER BY cosine DESC, e.vec_id ASC
            LIMIT 10
        """,
        "ann_ivf_pruned": f"""
            WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
                       FROM embeddings),
            c AS (SELECT vec_id AS cid, v AS cv FROM e ORDER BY vec_id LIMIT 16),
            scored AS (
                SELECT e.vec_id, c.cid, {_sql_cos('e.v', 'c.cv')} AS cs
                FROM e, c
            ),
            assigned AS (
                SELECT vec_id, cid AS cluster FROM scored
                QUALIFY row_number() OVER (
                    PARTITION BY vec_id ORDER BY cs DESC, cid ASC) = 1
            ),
            q AS (SELECT v AS qv FROM e WHERE vec_id = 0),
            probe AS (
                SELECT cid FROM c, q
                ORDER BY {_sql_cos('cv', 'qv')} DESC, cid ASC
                LIMIT 4
            )
            SELECT e.vec_id, a.cluster,
                   round({_sql_cos('e.v', 'qv')}, 6) AS cosine
            FROM e JOIN assigned a USING (vec_id), q
            WHERE a.cluster IN (SELECT cid FROM probe)
            ORDER BY cosine DESC, e.vec_id ASC
            LIMIT 10
        """,
        # seed-prefixed md5 prefixes (h_j(g) = 60-bit prefix of md5('j:'||g))
        # reproduce the Spark portable hash family exactly.
        "minhash_lsh_pairs": r"""
            WITH corpus AS (
                SELECT doc_id, text FROM documents
                UNION ALL
                SELECT doc_id + 1000000, text FROM documents WHERE doc_id % 11 = 0
            ),
            norm AS (
                SELECT doc_id, lower(trim(regexp_replace(text, '\s+', ' ', 'g'))) AS t
                FROM corpus
            ),
            sh AS (
                SELECT doc_id,
                       CASE WHEN length(t) >= 5
                            THEN list_distinct(list_transform(
                                range(1, length(t) - 3),
                                i -> substr(t, CAST(i AS INT), 5)))
                            ELSE [t] END AS shingles
                FROM norm
            ),
            sig AS (
                SELECT doc_id,
                       list_transform(range(0, 16), j ->
                           list_aggregate(list_transform(shingles, g ->
                               CAST('0x' || substr(md5(j || ':' || g), 1, 15) AS BIGINT)),
                               'min')) AS mh
                FROM sh
            ),
            band AS (
                SELECT doc_id, t.band AS band,
                       array_to_string(
                           mh[CAST(t.band * 4 + 1 AS INT):CAST(t.band * 4 + 4 AS INT)],
                           ',') AS bucket
                FROM sig, range(0, 4) t(band)
            )
            SELECT DISTINCT x.doc_id AS a, y.doc_id AS b
            FROM band x JOIN band y
              ON x.band = y.band AND x.bucket = y.bucket AND x.doc_id < y.doc_id
        """,
        # incremental dedup: the minhash_lsh_pairs algebra with the
        # corpus index on one side and the new batch probing it
        "incremental_dedup": r"""
            WITH newb AS (
                SELECT doc_id + 1000000 AS doc_id, text
                FROM documents WHERE doc_id % 11 = 0
                UNION ALL
                SELECT doc_id + 2000000,
                       text || ' zq unique suffix ' || doc_id
                FROM documents WHERE doc_id % 7 = 3
            ),
            sigc AS (
                SELECT doc_id,
                       list_transform(range(0, 16), j ->
                           list_aggregate(list_transform(
                               CASE WHEN length(t) >= 5
                                    THEN list_transform(
                                        range(1, length(t) - 3),
                                        i -> substr(t, CAST(i AS INT), 5))
                                    ELSE [t] END, g ->
                               CAST('0x' || substr(md5(j || ':' || g), 1, 15) AS BIGINT)),
                               'min')) AS mh
                FROM (SELECT doc_id,
                             lower(trim(regexp_replace(text, '\s+', ' ', 'g'))) AS t
                      FROM documents)
            ),
            sign AS (
                SELECT doc_id,
                       list_transform(range(0, 16), j ->
                           list_aggregate(list_transform(
                               CASE WHEN length(t) >= 5
                                    THEN list_transform(
                                        range(1, length(t) - 3),
                                        i -> substr(t, CAST(i AS INT), 5))
                                    ELSE [t] END, g ->
                               CAST('0x' || substr(md5(j || ':' || g), 1, 15) AS BIGINT)),
                               'min')) AS mh
                FROM (SELECT doc_id,
                             lower(trim(regexp_replace(text, '\s+', ' ', 'g'))) AS t
                      FROM newb)
            ),
            bandc AS (
                SELECT doc_id, t.band AS band,
                       array_to_string(
                           mh[CAST(t.band * 4 + 1 AS INT):CAST(t.band * 4 + 4 AS INT)],
                           ',') AS bucket
                FROM sigc, range(0, 4) t(band)
            ),
            bandn AS (
                SELECT doc_id, t.band AS band,
                       array_to_string(
                           mh[CAST(t.band * 4 + 1 AS INT):CAST(t.band * 4 + 4 AS INT)],
                           ',') AS bucket
                FROM sign, range(0, 4) t(band)
            ),
            cand AS (
                SELECT DISTINCT n.doc_id AS new_id, c.doc_id AS corpus_id
                FROM bandn n JOIN bandc c
                  ON n.band = c.band AND n.bucket = c.bucket
            ),
            est AS (
                SELECT cand.new_id, cand.corpus_id,
                       len(list_filter(range(1, 17),
                           i -> sn.mh[CAST(i AS INT)] = sc.mh[CAST(i AS INT)]))
                         / 16.0 AS e
                FROM cand
                JOIN sign sn ON sn.doc_id = cand.new_id
                JOIN sigc sc ON sc.doc_id = cand.corpus_id
            ),
            best AS (
                SELECT *, row_number() OVER (PARTITION BY new_id
                                             ORDER BY e DESC, corpus_id ASC) AS rn
                FROM est
            )
            SELECT n.doc_id, b.corpus_id AS dup_of,
                   round(b.e, 6) AS est_jaccard,
                   coalesce(b.e >= 0.5, false) AS is_dup
            FROM newb n LEFT JOIN best b
              ON b.new_id = n.doc_id AND b.rn = 1
        """,
        "simhash_groups": r"""
            WITH corpus AS (
                SELECT doc_id, text FROM documents
                UNION ALL
                SELECT doc_id + 1000000, text FROM documents WHERE doc_id % 5 = 0
            ),
            tok AS (
                SELECT doc_id,
                       list_transform(
                           string_split(lower(trim(regexp_replace(text, '\s+', ' ', 'g'))), ' '),
                           t -> CAST('0x' || substr(md5(t), 1, 15) AS BIGINT)) AS hs
                FROM corpus
            ),
            sim AS (
                SELECT doc_id,
                       CAST(list_aggregate(list_transform(range(0, 48), b ->
                           CASE WHEN list_aggregate(list_transform(hs,
                                    h -> CASE WHEN (h >> b) & 1 = 1 THEN 1 ELSE -1 END),
                                    'sum') > 0
                                THEN (CAST(1 AS BIGINT) << b)
                                ELSE CAST(0 AS BIGINT) END), 'sum') AS BIGINT) AS simhash
                FROM tok
            )
            SELECT simhash, CAST(COUNT(*) AS BIGINT) AS n, MIN(doc_id) AS rep_id
            FROM sim GROUP BY 1 HAVING COUNT(*) > 1
        """,
        "simhash_near_pairs": r"""
            WITH corpus AS (
                SELECT doc_id, text FROM documents
                UNION ALL
                SELECT doc_id + 1000000, text FROM documents WHERE doc_id % 6 = 0
            ),
            tok AS (
                SELECT doc_id,
                       list_transform(
                           string_split(lower(trim(regexp_replace(text, '\s+', ' ', 'g'))), ' '),
                           t -> CAST('0x' || substr(md5(t), 1, 15) AS BIGINT)) AS hs
                FROM corpus
            ),
            sim AS (
                SELECT doc_id,
                       CAST(list_aggregate(list_transform(range(0, 48), b ->
                           CASE WHEN list_aggregate(list_transform(hs,
                                    h -> CASE WHEN (h >> b) & 1 = 1 THEN 1 ELSE -1 END),
                                    'sum') > 0
                                THEN (CAST(1 AS BIGINT) << b)
                                ELSE CAST(0 AS BIGINT) END), 'sum') AS BIGINT) AS simhash
                FROM tok
            ),
            band AS (
                SELECT doc_id, t.band AS band,
                       (simhash >> CAST(t.band * 12 AS INT)) & 4095 AS bucket
                FROM sim, range(0, 4) t(band)
            ),
            cand AS (
                SELECT DISTINCT x.doc_id AS a, y.doc_id AS b
                FROM band x JOIN band y
                  ON x.band = y.band AND x.bucket = y.bucket AND x.doc_id < y.doc_id
            )
            SELECT a, b,
                   CAST(bit_count(xor(sa.simhash, sb.simhash)) AS BIGINT) AS hamming
            FROM cand
            JOIN sim sa ON sa.doc_id = a
            JOIN sim sb ON sb.doc_id = b
            WHERE bit_count(xor(sa.simhash, sb.simhash)) <= 3
        """,
        # hyperplane component j of plane (t*1009+p) is
        # ((md5-60bit mod 20000)/10000 - 1); left-fold dot products make
        # every double bit-identical to the Spark expression.
        "ann_selfjoin": f"""
            WITH {_SQL_ANN_CTES}
            SELECT a, b, round(cos, 4) AS cosine FROM rerank WHERE cos >= 0.9
        """,
        # same edge set, components via recursive transitive closure —
        # matches the Spark side's iterative min-label propagation
        "semantic_dedup_components": f"""
            WITH RECURSIVE {_SQL_ANN_CTES},
            edges0 AS (SELECT a, b FROM rerank WHERE cos >= 0.9),
            edges AS (
                SELECT a AS x, b AS y FROM edges0
                UNION
                SELECT b, a FROM edges0
            ),
            reach(x, y) AS (
                SELECT x, y FROM edges
                UNION
                SELECT r.x, e2.y FROM reach r JOIN edges e2 ON r.y = e2.x
            )
            SELECT x AS id, least(x, MIN(y)) AS comp FROM reach GROUP BY x
        """,
        # end-to-end cleaning pipeline: dedup → quality gate → lang ID →
        # per-language stats, one oracle over the whole chain
        "pipeline_clean": f"""
            WITH corpus AS (
                SELECT doc_id, text FROM documents
                UNION ALL
                SELECT doc_id + 1000000, text FROM documents WHERE doc_id % 7 = 0
            ),
            keep AS (SELECT md5(text) AS fp, MIN(doc_id) AS doc_id
                     FROM corpus GROUP BY 1),
            dd AS (SELECT c.doc_id, c.text FROM corpus c
                   JOIN keep k ON c.doc_id = k.doc_id),
            stats AS (
                SELECT doc_id, text,
                       length(text) AS n_chars,
                       length(text) - length(regexp_replace(text, '[\\pP]', '', 'g'))
                           AS n_punct,
                       len({toks}) AS n_tok,
                       list_aggregate(list_transform({toks}, t -> length(t)), 'sum')
                           AS tok_chars
                FROM dd
            ),
            q AS (
                SELECT doc_id, text, n_tok,
                       least(CAST(n_tok AS DOUBLE) / 100.0, 1.0)
                       * greatest(0.0, 1.0 - (CASE WHEN n_chars > 0
                              THEN CAST(n_punct AS DOUBLE) / n_chars ELSE 0.0 END) * 4)
                       * (CASE WHEN n_tok > 0
                               AND CAST(tok_chars AS DOUBLE) / n_tok >= 3
                               AND CAST(tok_chars AS DOUBLE) / n_tok <= 10
                          THEN 1.0 ELSE 0.5 END) AS quality
                FROM stats
            ),
            f AS (SELECT doc_id, text, n_tok FROM q WHERE quality >= 0.5),
            hits AS (
                SELECT doc_id, n_tok,
                       {marker_hits('en')} AS en_h,
                       {marker_hits('de')} AS de_h,
                       {marker_hits('fr')} AS fr_h,
                       {marker_hits('tr')} AS tr_h,
                       {marker_hits('id')} AS id_h
                FROM f
            ),
            lang AS (
                SELECT n_tok,
                       CASE WHEN greatest(en_h, de_h, fr_h, tr_h, id_h) = 0 THEN 'unknown'
                            WHEN en_h = greatest(en_h, de_h, fr_h, tr_h, id_h) THEN 'en'
                            WHEN de_h = greatest(en_h, de_h, fr_h, tr_h, id_h) THEN 'de'
                            WHEN fr_h = greatest(en_h, de_h, fr_h, tr_h, id_h) THEN 'fr'
                            WHEN tr_h = greatest(en_h, de_h, fr_h, tr_h, id_h) THEN 'tr'
                            ELSE 'id' END AS lang_pred
                FROM hits
            )
            SELECT lang_pred, CAST(COUNT(*) AS BIGINT) AS n_docs,
                   CAST(SUM(n_tok) AS BIGINT) AS total_tokens
            FROM lang GROUP BY 1
        """,
        # expected robots rule table from the same arithmetic that
        # synthesized the bodies
        "robots_parse": """
            WITH g AS (SELECT i FROM range(240) t(i)),
            d AS (
                SELECT i,
                       CASE WHEN i % 3 = 0 THEN CAST((i % 7) + 1 AS DOUBLE) END
                           AS crawl_delay
                FROM g
            )
            SELECT 'site' || i || '.example.org' AS host,
                   CAST(0 AS INT) AS rule_idx,
                   '/private-' || i AS path_prefix,
                   FALSE AS allow, crawl_delay
            FROM d
            UNION ALL
            SELECT 'site' || i || '.example.org',
                   CAST(1 AS INT),
                   '/private-' || i || '/ok',
                   TRUE, crawl_delay
            FROM d WHERE i % 2 = 0
        """,
        # independent derivation of what the cascade must return per page:
        # synth_pages_arith plants stage = id%10, date = 2000-01-01 +
        # (id*2654435761)%9000 days; copyright-stage pages resolve to
        # YYYY-01-01, none-stage pages to ''.
        "extract_cascade": """
            WITH g AS (
                SELECT i, CAST(i % 10 AS INT) AS sid,
                       DATE '2000-01-01' + CAST((i * 2654435761) % 9000 AS INT) AS planted
                FROM range(500) t(i)
            )
            SELECT i AS page_id,
                   (['url','meta_published','meta_modified','jsonld','time_tag',
                     'abbr','div_class','idio','copyright','none'])[sid + 1]
                       AS planted_stage,
                   CASE WHEN sid = 8 THEN strftime(planted, '%Y') || '-01-01'
                        WHEN sid = 9 THEN ''
                        ELSE strftime(planted, '%Y-%m-%d') END AS date
            FROM g
        """,
        # time/tz gate: sid=i%5 stage cycle; wall = (i%24, (i*7)%60,
        # (i*13)%60); tz offsets [+02:00, Z, -05:30, +00:00] -> seconds
        # [7200, 0, -19800, 0]; only meta_published/jsonld carry a time
        "extract_time": """
            WITH g AS (
                SELECT i, CAST(i % 5 AS INT) AS sid,
                       DATE '2000-01-01' + CAST((i * 2654435761) % 9000 AS INT)
                           AS planted,
                       lpad(CAST(i % 24 AS VARCHAR), 2, '0') || ':' ||
                       lpad(CAST((i * 7) % 60 AS VARCHAR), 2, '0') || ':' ||
                       lpad(CAST((i * 13) % 60 AS VARCHAR), 2, '0') AS wall,
                       CAST(i % 4 AS INT) AS tzid
                FROM range(500) t(i)
            )
            SELECT i AS page_id,
                   (['meta_published','jsonld','time_tag','div_class','url'])
                       [sid + 1] AS planted_stage,
                   strftime(planted, '%Y-%m-%d') AS date,
                   CASE WHEN sid IN (0, 1)
                        THEN strftime(planted, '%Y-%m-%d') || ' ' || wall
                        ELSE strftime(planted, '%Y-%m-%d') || ' 00:00:00'
                   END AS datetime,
                   sid IN (0, 1) AS has_time,
                   sid IN (0, 1) AS has_tz,
                   CASE WHEN sid IN (0, 1)
                        THEN CAST(([7200, 0, -19800, 0])[tzid + 1] AS INTEGER)
                        ELSE NULL
                   END AS tz_offset
            FROM g
        """,
        # frame sampling: video rows (id%3==2), frames at 0..duration
        # step 1000 inclusive, duration = (id*37)%60000
        "media_frames": """
            SELECT i AS media_id, CAST(f.ts AS BIGINT) AS frame_ts_ms
            FROM range(300) t(i),
                 LATERAL (SELECT unnest(range(0, ((i * 37) % 60000) + 1, 1000)) AS ts) f
            WHERE i % 3 = 2
        """,
        # synth_media payload = UTF-8 bytes of sha256-hex('42' || id); the
        # stub decode path fingerprints the payload with another sha256.
        "media_features": """
            SELECT i AS media_id,
                   CAST(8 AS BIGINT) AS feat_dim,
                   sha256(sha256('42' || i)) AS payload_sha,
                   'ok' AS decode_ok
            FROM range(200) t(i)
        """,
        # synth_media_stdlib's pixel/sample laws in closed form: images
        # (id%3 in 0,1) are w*h solid-R/solid-B with a G ramp of step 1
        # (arithmetic-series sum); wav (id%3=2) is a step-1 int16 ramp.
        # The Spark side DECODES real BMP/PPM/WAV bytes to reach the
        # same numbers.
        "media_stats": """
            SELECT i AS media_id,
                   (['bmp','ppm','wav'])[i % 3 + 1] AS codec,
                   CAST(CASE WHEN i % 3 < 2 THEN 4 + i % 5 END AS INTEGER) AS width,
                   CAST(CASE WHEN i % 3 < 2 THEN 3 + i % 4 END AS INTEGER) AS height,
                   CAST(CASE WHEN i % 3 = 2 THEN 64 + i % 64 END AS BIGINT) AS n_samples,
                   CAST(CASE WHEN i % 3 = 2 THEN 16000 END AS INTEGER) AS sample_rate,
                   CAST(CASE WHEN i % 3 = 2 THEN 1 END AS INTEGER) AS n_channels,
                   CAST(CASE WHEN i % 3 < 2
                        THEN (4 + i % 5) * (3 + i % 4) * (i % 256)
                        ELSE (64 + i % 64) * ((i * 11) % 1000 - 500)
                             + (64 + i % 64) * (64 + i % 64 - 1) // 2
                        END AS BIGINT) AS sum_c0,
                   CAST(CASE WHEN i % 3 < 2
                        THEN (4 + i % 5) * (3 + i % 4) * ((i * 7) % 200)
                             + (4 + i % 5) * (3 + i % 4)
                               * ((4 + i % 5) * (3 + i % 4) - 1) // 2
                        END AS BIGINT) AS sum_c1,
                   CAST(CASE WHEN i % 3 < 2
                        THEN (4 + i % 5) * (3 + i % 4) * ((i * 13) % 256)
                        END AS BIGINT) AS sum_c2,
                   CAST(CASE WHEN i % 3 < 2
                        THEN least(i % 256, (i * 7) % 200, (i * 13) % 256)
                        ELSE (i * 11) % 1000 - 500
                        END AS BIGINT) AS v_min,
                   CAST(CASE WHEN i % 3 < 2
                        THEN greatest(i % 256,
                                      (i * 7) % 200
                                      + (4 + i % 5) * (3 + i % 4) - 1,
                                      (i * 13) % 256)
                        ELSE (i * 11) % 1000 - 500 + 64 + i % 64 - 1
                        END AS BIGINT) AS v_max,
                   'ok' AS decode_ok
            FROM range(300) t(i)
        """,
        # real-HTML kernel parity: the oracle IS the pinned expectation
        # table (core_test.go:33-714), rendered as a VALUES list
        "mock_corpus_parity": _mockcorpus_expected_sql(),
        # Gopher repetition: same normalization, list-comprehension
        # n-grams, max/total per (doc, n); thresholds applied to the
        # ROUNDED fractions exactly like the Spark side
        "gopher_repetition": """
            WITH toks AS (
              SELECT doc_id,
                     string_split(lower(trim(regexp_replace(text, '\\s+', ' ', 'g'))), ' ') AS t
              FROM documents
            ),
            grams AS (
              SELECT doc_id, ns.n AS n,
                     unnest([array_to_string(t[i : i + ns.n - 1], ' ')
                             for i in range(1, len(t) - ns.n + 2)]) AS gram
              FROM toks, (VALUES (1),(2),(3),(4)) ns(n)
            ),
            per_gram AS (
              SELECT doc_id, n, gram, count(*) AS c
              FROM grams GROUP BY 1, 2, 3
            ),
            per_doc AS (
              SELECT doc_id, n, max(c) AS mx, sum(c) AS tot,
                     count(*) AS nd
              FROM per_gram GROUP BY 1, 2
            ),
            wide AS (
              SELECT doc_id,
                     round(max(CASE WHEN n = 2 THEN mx / tot END), 6) AS top_2gram_frac,
                     round(max(CASE WHEN n = 3 THEN mx / tot END), 6) AS top_3gram_frac,
                     round(max(CASE WHEN n = 4 THEN mx / tot END), 6) AS top_4gram_frac,
                     round(1.0 - max(CASE WHEN n = 1 THEN nd / tot END), 6) AS dup_word_frac
              FROM per_doc GROUP BY 1
            )
            SELECT doc_id, top_2gram_frac, top_3gram_frac, top_4gram_frac,
                   dup_word_frac,
                   (coalesce(top_2gram_frac, 0.0) <= 0.20
                    AND coalesce(top_3gram_frac, 0.0) <= 0.18
                    AND coalesce(top_4gram_frac, 0.0) <= 0.16) AS gopher_ok
            FROM wide
        """,
        # stratified sampling: the portable 60-bit md5 uniform
        # (CAST('0x'||substr(md5('7:'||id),1,15) AS BIGINT) / 2^60),
        # thresholded per stratum — bit-identical to sample_uniform
        "stratified_sample": """
            SELECT doc_id, source, lang FROM documents
            WHERE CAST('0x' || substr(md5('7:' || CAST(doc_id AS VARCHAR)), 1, 15) AS BIGINT)
                  / 1152921504606846976.0
                  < CASE lang WHEN 'en' THEN 1.0 WHEN 'de' THEN 0.3 ELSE 0.05 END
        """,
        # temporal rebalance: proportional fitting in closed form —
        # per-year counts, scale = min(n_y/frac_y) over the target
        # years, rate_y = least(1, frac_y*scale/n_y) with the exact
        # operation order of the Python driver (f*scale then /n, all
        # doubles), then the same 60-bit md5 uniform row law.
        "temporal_rebalance": """
            WITH d AS (
              SELECT doc_id,
                     CAST(2015 + (doc_id * 13) % 10 AS INTEGER) AS year
              FROM documents
            ),
            c AS (
              SELECT year, CAST(count(*) AS DOUBLE) AS n FROM d
              WHERE year IN (2016, 2019, 2022) GROUP BY year
            ),
            s AS (
              SELECT min(n / CASE year WHEN 2016 THEN 0.5
                                       WHEN 2019 THEN 0.3
                                       ELSE 0.2 END) AS scale
              FROM c
            ),
            r AS (
              SELECT year,
                     least(1.0, CASE year WHEN 2016 THEN 0.5
                                          WHEN 2019 THEN 0.3
                                          ELSE 0.2 END * scale / n)
                       AS rate
              FROM c, s
            )
            SELECT d.doc_id, d.year FROM d JOIN r USING (year)
            WHERE CAST('0x' || substr(md5('11:' || CAST(d.doc_id AS VARCHAR)), 1, 15)
                       AS BIGINT) / 1152921504606846976.0 < r.rate
        """,
        # adaptive delay: arg_max replays Spark's max_by; durations are
        # int-valued doubles so every sum/avg is exact regardless of
        # fold order; clamp + division replicated with the same
        # operation order.
        "adaptive_delay": """
            WITH l AS (
              SELECT 'h' || (o_orderkey % 40) AS host,
                     o_orderkey AS ts,
                     CAST(50 + (o_orderkey % 700) * 7 AS DOUBLE) AS dur
              FROM orders
            ),
            a AS (
              SELECT host,
                     arg_max(dur, ts) AS last_duration_ms,
                     avg(dur) AS mean_duration_ms,
                     CAST(count(*) AS BIGINT) AS n_fetches
              FROM l GROUP BY host
            )
            SELECT host, last_duration_ms, mean_duration_ms, n_fetches,
                   least(30000.0, greatest(100.0, 5.0 * last_duration_ms))
                     AS crawl_delay_ms,
                   60000.0 /
                   least(30000.0, greatest(100.0, 5.0 * last_duration_ms))
                     AS politeness_budget
            FROM a
        """,
        # water-fill: the closed form replayed — sorted prefix sums,
        # max valid boundary candidate (greatest with the always-valid
        # boundary-0 level B // n), +1 remainder to the first r hosts
        # above the level; all integer arithmetic.
        "water_fill": """
            WITH d AS (
              SELECT 'h' || (c_custkey % 37) AS host,
                     CAST(sum(1 + c_custkey % 211) AS BIGINT) AS demand
              FROM customer GROUP BY 1
            ),
            s AS (
              SELECT host, demand,
                     row_number() OVER (ORDER BY demand, host) AS i,
                     sum(demand) OVER (ORDER BY demand, host
                                       ROWS UNBOUNDED PRECEDING) AS prefix,
                     count(*) OVER () AS n
              FROM d
            ),
            lvl AS (
              SELECT greatest(
                  coalesce(max(CASE
                    WHEN (20000 - prefix) >= demand * (n - i) THEN
                      CASE WHEN i < n THEN (20000 - prefix) // (n - i)
                           ELSE demand END
                  END), 0),
                  20000 // (SELECT count(*) FROM d)) AS t
              FROM s
            ),
            base AS (
              SELECT d.host, d.demand,
                     least(d.demand, l.t) AS lvl_alloc, l.t AS t
              FROM d CROSS JOIN lvl l
            ),
            rem AS (SELECT 20000 - sum(lvl_alloc) AS r FROM base),
            above AS (
              SELECT host, row_number() OVER (ORDER BY host) AS ar
              FROM base WHERE demand > t
            )
            SELECT b.host, b.demand,
                   CAST(b.lvl_alloc
                        + CASE WHEN a.ar IS NOT NULL
                                    AND a.ar <= (SELECT r FROM rem)
                               THEN 1 ELSE 0 END AS BIGINT) AS alloc
            FROM base b LEFT JOIN above a USING (host)
        """,
        # wave plan: per-host rank by (priority desc, url), horizon
        # filter, wave = ceil(rank / budget) — the salted two-phase is
        # plan shape, not semantics, so the oracle ranks directly.
        "wave_plan": """
            WITH f AS (
              SELECT 'h' || (o_custkey % 25) AS host,
                     'https://h' || (o_custkey % 25) || '/p/' || o_orderkey
                       AS url,
                     (o_orderkey % 1000) / 1000.0 AS priority
              FROM orders
            ),
            b AS (
              SELECT host,
                     1 + (CAST(substring(host, 2) AS INT) % 7) AS pb
              FROM (SELECT DISTINCT host FROM f)
            ),
            r AS (
              SELECT f.host, f.url, f.priority, b.pb,
                     row_number() OVER (PARTITION BY f.host
                                        ORDER BY f.priority DESC,
                                                 f.url ASC) AS rnk
              FROM f JOIN b USING (host)
            )
            SELECT host, url, priority,
                   CAST(rnk AS BIGINT) AS host_rank,
                   CAST((rnk - 1) // pb + 1 AS BIGINT) AS wave
            FROM r WHERE rnk <= pb * 3
        """,
        # parked pages: the six planted classes re-synthesized, every
        # signal replayed as RE2-safe regexp/length algebra.
        "parked_flags": """
            WITH t AS (
              SELECT 'https://h' || (o_custkey % 30) || '.example/p/'
                       || o_orderkey AS url,
                     o_orderkey AS okey,
                     o_orderkey % 6 AS cls,
                     CASE o_orderkey % 6
                       WHEN 0 THEN 'This domain is for sale. Buy this '
                                   || 'domain today. ' || o_orderkey
                       WHEN 1 THEN ''
                       WHEN 2 THEN 'cheap flights hotels deals '
                                   || o_orderkey
                       WHEN 3 THEN repeat('lorem ipsum dolor sit amet '
                              || 'consectetur adipiscing elit sed do '
                              || 'eiusmod tempor incididunt ut labore ', 5)
                              || ' domain for sale ' || o_orderkey
                       WHEN 4 THEN repeat('lorem ipsum dolor sit amet '
                              || 'consectetur adipiscing elit sed do '
                              || 'eiusmod tempor incididunt ut labore ', 5)
                              || o_orderkey
                       ELSE 'Article body. '
                            || repeat('lorem ipsum dolor sit amet '
                              || 'consectetur adipiscing elit sed do '
                              || 'eiusmod tempor incididunt ut labore ', 5)
                            || o_orderkey
                     END AS text
              FROM orders
            ),
            p AS (
              SELECT url, text,
                     CASE cls
                       WHEN 1 THEN '<html><head><meta http-equiv='
                         || '"refresh" content="0;url=https://ads.example/'
                         || okey || '"></head><body></body></html>'
                       WHEN 2 THEN repeat('<a href="https://ad.example/x">'
                         || 'ad</a> ', 30) || '<div>' || repeat('x', 200)
                         || '</div>' || okey
                       WHEN 4 THEN '<html><head><meta http-equiv="REFRESH"'
                         || ' content="300"></head><body>'
                         || repeat('lorem ipsum dolor sit amet '
                           || 'consectetur adipiscing elit sed do '
                           || 'eiusmod tempor incididunt ut labore ', 5)
                         || okey || '</body></html>'
                       ELSE '<html><body>' || text || '</body></html>'
                     END AS html
              FROM t
            ),
            f AS (
              SELECT url,
                     CASE WHEN trim(text) = '' THEN 0
                          ELSE CAST(len(string_split(trim(regexp_replace(
                            text, '\\s+', ' ', 'g')), ' ')) AS BIGINT)
                     END AS n_tokens,
                     CAST(len(regexp_extract_all(html, '(?i)<a[\\s>]'))
                          AS BIGINT) AS n_anchors,
                     len(regexp_extract_all(substring(text, 1, 300),
                       '(?i)(this\\s+domain\\s+is\\s+for\\s+sale|domain\\s+for\\s+sale|buy\\s+this\\s+domain|domain\\s+has\\s+expired|domain\\s+name\\s+expired|parked\\s+free|domain\\s+parking|courtesy\\s+of\\s+godaddy|related\\s+searches)'
                       )) > 0 AS park_phrase,
                     len(regexp_extract_all(html,
                       '(?i)<meta[^>]*http-equiv\\s*=\\s*["'']?refresh'
                       )) > 0 AS meta_refresh,
                     length(html) AS hl, length(text) AS tl
              FROM p
            )
            SELECT url, n_tokens, n_anchors, park_phrase, meta_refresh,
                   (n_anchors >= 20 AND n_tokens <= n_anchors * 3.0)
                     AS link_farm,
                   (hl >= 1000 AND tl <= hl * 0.05) AS thin_text,
                   (park_phrase
                    OR (meta_refresh AND n_tokens <= 40)
                    OR ((n_anchors >= 20 AND n_tokens <= n_anchors * 3.0)
                        AND (hl >= 1000 AND tl <= hl * 0.05))) AS parked
            FROM f
        """,
        # parked host roll-up: classes 0/1/2 of 6 are parked by
        # construction, so a host's rate is decided by which okeys it
        # drew — the oracle recomputes the flag and aggregates.
        "parked_hosts": """
            WITH t AS (
              SELECT 'h' || (o_custkey % 30) || '.example' AS host,
                     o_orderkey % 6 AS cls
              FROM orders
            ),
            f AS (
              SELECT host,
                     CASE WHEN cls IN (0, 1, 2) THEN 1 ELSE 0 END AS p
              FROM t
            )
            SELECT host,
                   CAST(count(*) AS BIGINT) AS n_pages,
                   CAST(sum(p) AS BIGINT) AS n_parked,
                   CAST(sum(p) AS DOUBLE) / count(*) AS parked_rate
            FROM f GROUP BY host HAVING count(*) >= 3
        """,
        # seed distance: depth-capped recursive CTE; UNION (distinct)
        # bounds the recursion at hosts x hops, min() collapses to the
        # true BFS distance.
        "seed_distance": """
            WITH RECURSIVE e AS (
              SELECT DISTINCT 'h' || (o_orderkey % 200) AS src,
                     'h' || ((o_orderkey // 200) % 200) AS dst
              FROM orders
              WHERE o_orderkey % 16 = 0
                AND (o_orderkey % 200) <> ((o_orderkey // 200) % 200)
            ),
            r(host, d) AS (
              SELECT 'h0' AS host, 0 AS d
              UNION
              SELECT 'h1', 0
              UNION
              SELECT e.dst, r.d + 1
              FROM r JOIN e ON e.src = r.host
              WHERE r.d < 4
            )
            SELECT host, CAST(min(d) AS BIGINT) AS dist
            FROM r GROUP BY host
        """,
        # reciprocity: the swapped self-join replayed on the deduped
        # edge list; long/long division only at the end.
        "host_reciprocity": """
            WITH e AS (
              SELECT DISTINCT 'h' || (o_orderkey % 200) AS s,
                     'h' || ((o_orderkey // 200) % 200) AS d
              FROM orders
              WHERE o_orderkey % 16 = 0
                AND (o_orderkey % 200) <> ((o_orderkey // 200) % 200)
            )
            SELECT e.s AS host,
                   CAST(count(*) AS BIGINT) AS n_out,
                   CAST(sum(CASE WHEN r.s IS NOT NULL THEN 1 ELSE 0 END)
                        AS BIGINT) AS n_reciprocal,
                   CAST(sum(CASE WHEN r.s IS NOT NULL THEN 1 ELSE 0 END)
                        AS DOUBLE) / count(*) AS reciprocity
            FROM e LEFT JOIN e r ON r.s = e.d AND r.d = e.s
            GROUP BY e.s
        """,
        # sitemap coverage: planted truth closed-form — every 3rd okey
        # uncrawled; the crawled side's #frag URLs count ONLY because
        # the operator canonicalizes, so a fragment surviving into the
        # join key would break this hash.
        "sitemap_coverage": """
            SELECT 'h' || (o_custkey % 30) || '.example' AS host,
                   CAST(count(*) AS BIGINT) AS n_advertised,
                   CAST(sum(CASE WHEN o_orderkey % 3 <> 0
                            THEN 1 ELSE 0 END) AS BIGINT) AS n_crawled,
                   CAST(sum(CASE WHEN o_orderkey % 3 <> 0
                            THEN 1 ELSE 0 END) AS DOUBLE) / count(*)
                     AS coverage
            FROM orders GROUP BY 1
        """,
        "typosquat": """
            WITH syn AS (
                SELECT c_custkey AS k,
                       (['google','wikipedia','amazon','facebook',
                         'youtube'])[CAST(c_custkey % 5 AS INT) + 1] AS b
                FROM customer
            ), hosts AS (
                SELECT CASE CAST(k % 6 AS INT)
                         WHEN 0 THEN b || '.com'
                         WHEN 1 THEN substring(b, 1, 2)
                                     || substring(b, 4) || '.com'
                         WHEN 2 THEN b || '.net'
                         WHEN 3 THEN 'www.' || b || '.com'
                         WHEN 4 THEN substring(b, 1, 1) || 'q'
                                     || substring(b, 3) || '.com'
                         ELSE 'host' || CAST(k AS VARCHAR) || '.com'
                       END AS host
                FROM syn
            ), h AS (
                SELECT host,
                       regexp_extract(host, '([^.]+[.][^.]+)$', 1) AS host_reg
                FROM hosts
            ), hc AS (
                SELECT host, host_reg,
                       split_part(host_reg, '.', 1) AS host_core
                FROM h
                WHERE length(split_part(host_reg, '.', 1)) >= 4
            ), brands AS (
                SELECT b || '.com' AS brand_reg, b AS brand_core
                FROM (SELECT unnest(['google','wikipedia','amazon',
                                     'facebook','youtube']) AS b)
            )
            SELECT hc.host, hc.host_reg, brands.brand_reg,
                   CAST(levenshtein(hc.host_core, brands.brand_core)
                        AS BIGINT) AS core_dist
            FROM hc, brands
            WHERE levenshtein(hc.host_core, brands.brand_core) <= 1
              AND hc.host_reg <> brands.brand_reg
        """,
        "typosquat_skeleton": """
            WITH syn AS (
                SELECT c_custkey AS k,
                       (['google','wikipedia','amazon','facebook',
                         'youtube'])[CAST(c_custkey % 5 AS INT) + 1] AS b
                FROM customer
            ), hosts AS (
                SELECT CASE CAST(k % 4 AS INT)
                         WHEN 0 THEN substring(b, 1, 1) || '0'
                                     || substring(b, 3) || '.com'
                         WHEN 1 THEN replace(b, 'm', 'rn') || '.com'
                         WHEN 2 THEN b || '.com'
                         ELSE 'host' || CAST(k AS VARCHAR) || '.com'
                       END AS host
                FROM syn
            ), h AS (
                SELECT host,
                       regexp_extract(host, '([^.]+[.][^.]+)$', 1) AS host_reg
                FROM hosts
            ), hc AS (
                SELECT host, host_reg,
                       translate(replace(replace(replace(
                           split_part(host_reg, '.', 1),
                           'rn', 'm'), 'vv', 'w'), 'cl', 'd'),
                         '013457', 'oleast') AS host_core
                FROM h
            ), hf AS (
                SELECT * FROM hc WHERE length(host_core) >= 4
            ), brands AS (
                SELECT b || '.com' AS brand_reg,
                       translate(replace(replace(replace(b,
                           'rn', 'm'), 'vv', 'w'), 'cl', 'd'),
                         '013457', 'oleast') AS brand_core
                FROM (SELECT unnest(['google','wikipedia','amazon',
                                     'facebook','youtube']) AS b)
            )
            SELECT hf.host, hf.host_reg, brands.brand_reg,
                   CAST(levenshtein(hf.host_core, brands.brand_core)
                        AS BIGINT) AS core_dist
            FROM hf, brands
            WHERE levenshtein(hf.host_core, brands.brand_core) <= 1
              AND hf.host_reg <> brands.brand_reg
        """,
        "collocations": """
            WITH t AS (
              SELECT string_split(lower(trim(regexp_replace(text,
                     '\\s+', ' ', 'g'))), ' ') AS toks
              FROM documents
            ), u AS (
              SELECT unnest(toks) AS w FROM t
            ), uc AS (
              SELECT w, CAST(count(*) AS BIGINT) AS n_w FROM u GROUP BY w
            ), tot AS (
              SELECT CAST(count(*) AS BIGINT) AS total FROM u
            ), bg AS (
              SELECT toks[i] || ' ' || toks[i + 1] AS b
              FROM t, unnest(range(1, len(toks))) AS r(i)
            ), bc AS (
              SELECT split_part(b, ' ', 1) AS w1,
                     split_part(b, ' ', 2) AS w2,
                     CAST(count(*) AS BIGINT) AS n_pair
              FROM bg GROUP BY b HAVING count(*) >= 25
            )
            SELECT bc.w1, bc.w2, bc.n_pair,
                   u1.n_w AS n_w1, u2.n_w AS n_w2,
                   (CAST(bc.n_pair AS DOUBLE) * tot.total)
                   / (CAST(u1.n_w AS DOUBLE) * u2.n_w) AS lift
            FROM bc
            JOIN uc u1 ON u1.w = bc.w1
            JOIN uc u2 ON u2.w = bc.w2
            CROSS JOIN tot
        """,
        "shard_plan": """
            WITH t AS (
              SELECT doc_id,
                     CAST(len(string_split(trim(regexp_replace(text,
                          '\\s+', ' ', 'g')), ' ')) AS BIGINT) AS n_tok
              FROM documents
            ), r AS (
              SELECT doc_id, n_tok,
                     CAST(row_number() OVER (ORDER BY n_tok DESC, doc_id)
                          AS BIGINT) AS rank
              FROM t
            )
            SELECT doc_id, n_tok, rank,
                   CAST(CASE WHEN CAST(floor((rank - 1) / 7) AS BIGINT) % 2 = 0
                             THEN (rank - 1) % 7
                             ELSE 6 - ((rank - 1) % 7) END AS BIGINT) AS shard
            FROM r
        """,
        "pattern_yield": """
            WITH log AS (
              SELECT 'https://h' || (o_custkey % 20) || '.example' ||
                     CASE CAST(o_orderkey % 5 AS INT)
                       WHEN 0 THEN '/blog/' || CAST(2000 + o_orderkey % 25 AS VARCHAR)
                                   || '/post-' || CAST(o_orderkey AS VARCHAR) || '.html'
                       WHEN 1 THEN '/tag/t' || CAST(o_orderkey % 50 AS VARCHAR)
                       WHEN 2 THEN '/'
                       WHEN 3 THEN '/img/i' || CAST(o_orderkey % 10 AS VARCHAR) || '.png'
                       ELSE '/news/' || CAST(o_orderkey AS VARCHAR) || '.html'
                     END AS url,
                     (o_orderkey % 7) < ([5,1,0,0,3])[CAST(o_orderkey % 5 AS INT) + 1]
                       AS dated
              FROM orders
            ), p1 AS (
              SELECT dated,
                     lower(regexp_extract(url,
                       '^[a-zA-Z][a-zA-Z0-9+.-]*://([^/?#:]*)', 1)) AS host,
                     CASE WHEN regexp_extract(url,
                       '^[a-zA-Z][a-zA-Z0-9+.-]*://[^/?#]*([^?#]*)', 1) = ''
                       THEN '/' ELSE regexp_extract(url,
                       '^[a-zA-Z][a-zA-Z0-9+.-]*://[^/?#]*([^?#]*)', 1) END AS path
              FROM log
            ), p2 AS (
              SELECT dated, host, path,
                     regexp_replace(path, '^/+', '') AS trimmed,
                     lower(regexp_extract(path, '\\.([a-zA-Z0-9]+)$', 1)) AS ext
              FROM p1
            ), p3 AS (
              SELECT dated, host || '|' || split_part(trimmed, '/', 1) || '|' ||
                     CASE WHEN len(list_filter(string_split(trimmed, '/'),
                                               x -> x <> '')) >= 3 THEN '3+'
                          ELSE CAST(len(list_filter(string_split(trimmed, '/'),
                                                    x -> x <> '')) AS VARCHAR) END
                     || '|' ||
                     CASE WHEN regexp_matches(path, '[0-9]{4}') THEN 'd'
                          ELSE '-' END || '|' ||
                     CASE WHEN ext IN ('html','htm','php','asp','aspx','jsp',
                                       'shtml') THEN 'page'
                          WHEN ext IN ('jpg','jpeg','png','gif','svg','webp',
                                       'css','js','ico','pdf','zip','xml','mp4',
                                       'mp3','woff','woff2') THEN 'asset'
                          ELSE 'none' END AS signature
              FROM p2
            ), y AS (
              SELECT signature, CAST(count(*) AS BIGINT) AS n_fetched,
                     CAST(coalesce(sum(CAST(dated AS BIGINT)), 0) AS BIGINT)
                       AS n_dated
              FROM p3 GROUP BY signature
            )
            SELECT signature, n_fetched, n_dated,
                   (n_dated + 1.0) / (n_fetched + 2.0) AS "yield"
            FROM y
        """,
        "yield_prior_apply": """
            WITH log AS (
              SELECT 'https://h' || (o_custkey % 20) || '.example' ||
                     CASE CAST(o_orderkey % 5 AS INT)
                       WHEN 0 THEN '/blog/' || CAST(2000 + o_orderkey % 25 AS VARCHAR)
                                   || '/post-' || CAST(o_orderkey AS VARCHAR) || '.html'
                       WHEN 1 THEN '/tag/t' || CAST(o_orderkey % 50 AS VARCHAR)
                       WHEN 2 THEN '/'
                       WHEN 3 THEN '/img/i' || CAST(o_orderkey % 10 AS VARCHAR) || '.png'
                       ELSE '/news/' || CAST(o_orderkey AS VARCHAR) || '.html'
                     END AS url,
                     (o_orderkey % 7) < ([5,1,0,0,3])[CAST(o_orderkey % 5 AS INT) + 1]
                       AS dated
              FROM orders
            ), lsig AS (
              SELECT dated,
                     lower(regexp_extract(url,
                       '^[a-zA-Z][a-zA-Z0-9+.-]*://([^/?#:]*)', 1)) || '|' ||
                     split_part(regexp_replace(
                       regexp_extract(url,
                         '^[a-zA-Z][a-zA-Z0-9+.-]*://[^/?#]*([^?#]*)', 1),
                       '^/+', ''), '/', 1) || '|' ||
                     CASE WHEN len(list_filter(string_split(regexp_replace(
                              regexp_extract(url,
                                '^[a-zA-Z][a-zA-Z0-9+.-]*://[^/?#]*([^?#]*)', 1),
                              '^/+', ''), '/'), x -> x <> '')) >= 3 THEN '3+'
                          ELSE CAST(len(list_filter(string_split(regexp_replace(
                              regexp_extract(url,
                                '^[a-zA-Z][a-zA-Z0-9+.-]*://[^/?#]*([^?#]*)', 1),
                              '^/+', ''), '/'), x -> x <> '')) AS VARCHAR) END
                     || '|' ||
                     CASE WHEN regexp_matches(
                            CASE WHEN regexp_extract(url,
                              '^[a-zA-Z][a-zA-Z0-9+.-]*://[^/?#]*([^?#]*)', 1) = ''
                              THEN '/' ELSE regexp_extract(url,
                              '^[a-zA-Z][a-zA-Z0-9+.-]*://[^/?#]*([^?#]*)', 1) END,
                            '[0-9]{4}') THEN 'd' ELSE '-' END || '|' ||
                     CASE WHEN lower(regexp_extract(url, '\\.([a-zA-Z0-9]+)$', 1))
                            IN ('html','htm','php','asp','aspx','jsp','shtml')
                            THEN 'page'
                          WHEN lower(regexp_extract(url, '\\.([a-zA-Z0-9]+)$', 1))
                            IN ('jpg','jpeg','png','gif','svg','webp','css','js',
                                'ico','pdf','zip','xml','mp4','mp3','woff','woff2')
                            THEN 'asset'
                          ELSE 'none' END AS signature
              FROM log
            ), yy AS (
              SELECT signature,
                     (CAST(coalesce(sum(CAST(dated AS BIGINT)), 0) AS BIGINT) + 1.0)
                     / (CAST(count(*) AS BIGINT) + 2.0) AS yld
              FROM lsig GROUP BY signature
            ), frontier AS (
              SELECT 'https://h' || (c_custkey % 20) || '.example' ||
                     CASE CAST(c_custkey % 3 AS INT)
                       WHEN 0 THEN '/blog/' || CAST(2000 + c_custkey % 25 AS VARCHAR)
                                   || '/post-' || CAST(c_custkey AS VARCHAR) || '.html'
                       WHEN 1 THEN '/tag/t' || CAST(c_custkey % 50 AS VARCHAR)
                       ELSE '/about'
                     END AS url,
                     (c_custkey % 13 + 1) / 13.0 AS priority
              FROM customer
            ), fs AS (
              SELECT url, priority AS prior_priority,
                     lower(regexp_extract(url,
                       '^[a-zA-Z][a-zA-Z0-9+.-]*://([^/?#:]*)', 1)) || '|' ||
                     split_part(regexp_replace(
                       regexp_extract(url,
                         '^[a-zA-Z][a-zA-Z0-9+.-]*://[^/?#]*([^?#]*)', 1),
                       '^/+', ''), '/', 1) || '|' ||
                     CASE WHEN len(list_filter(string_split(regexp_replace(
                              regexp_extract(url,
                                '^[a-zA-Z][a-zA-Z0-9+.-]*://[^/?#]*([^?#]*)', 1),
                              '^/+', ''), '/'), x -> x <> '')) >= 3 THEN '3+'
                          ELSE CAST(len(list_filter(string_split(regexp_replace(
                              regexp_extract(url,
                                '^[a-zA-Z][a-zA-Z0-9+.-]*://[^/?#]*([^?#]*)', 1),
                              '^/+', ''), '/'), x -> x <> '')) AS VARCHAR) END
                     || '|' ||
                     CASE WHEN regexp_matches(
                            CASE WHEN regexp_extract(url,
                              '^[a-zA-Z][a-zA-Z0-9+.-]*://[^/?#]*([^?#]*)', 1) = ''
                              THEN '/' ELSE regexp_extract(url,
                              '^[a-zA-Z][a-zA-Z0-9+.-]*://[^/?#]*([^?#]*)', 1) END,
                            '[0-9]{4}') THEN 'd' ELSE '-' END || '|' ||
                     CASE WHEN lower(regexp_extract(url, '\\.([a-zA-Z0-9]+)$', 1))
                            IN ('html','htm','php','asp','aspx','jsp','shtml')
                            THEN 'page'
                          WHEN lower(regexp_extract(url, '\\.([a-zA-Z0-9]+)$', 1))
                            IN ('jpg','jpeg','png','gif','svg','webp','css','js',
                                'ico','pdf','zip','xml','mp4','mp3','woff','woff2')
                            THEN 'asset'
                          ELSE 'none' END AS signature
              FROM frontier
            )
            SELECT fs.signature, fs.url,
                   fs.prior_priority * coalesce(yy.yld, 0.5) AS priority,
                   coalesce(yy.yld, 0.5) AS "yield",
                   fs.prior_priority
            FROM fs LEFT JOIN yy USING (signature)
        """,
        "shard_stats": """
            WITH t AS (
              SELECT doc_id,
                     CAST(len(string_split(trim(regexp_replace(text,
                          '\\s+', ' ', 'g')), ' ')) AS BIGINT) AS n_tok
              FROM documents
            ), r AS (
              SELECT doc_id, n_tok,
                     CAST(row_number() OVER (ORDER BY n_tok DESC, doc_id)
                          AS BIGINT) AS rank
              FROM t
            ), s AS (
              SELECT n_tok,
                     CAST(CASE WHEN CAST(floor((rank - 1) / 7) AS BIGINT) % 2 = 0
                               THEN (rank - 1) % 7
                               ELSE 6 - ((rank - 1) % 7) END AS BIGINT) AS shard
              FROM r
            )
            SELECT shard, CAST(count(*) AS BIGINT) AS n_docs,
                   CAST(sum(n_tok) AS BIGINT) AS n_tokens
            FROM s GROUP BY shard
        """,
        # politeness audit: the lag-window gap law replayed; ts are
        # unique integers as doubles so every gap/min/count is exact.
        "politeness_audit": """
            WITH l AS (
              SELECT 'h' || (o_custkey % 40) AS host,
                     CAST(o_orderkey AS DOUBLE) AS ts
              FROM orders
            ),
            d AS (
              SELECT host,
                     (CAST(substring(host, 2) AS INT) % 7) * 20.0 AS delay
              FROM (SELECT DISTINCT host FROM l)
            ),
            g AS (
              SELECT host,
                     ts - lag(ts) OVER (PARTITION BY host ORDER BY ts)
                       AS gap
              FROM l
            ),
            a AS (
              SELECT g.host,
                     CAST(count(*) AS BIGINT) AS n_fetches,
                     min(gap) AS min_gap_s,
                     max(d.delay) AS crawl_delay_s,
                     CAST(coalesce(sum(CASE WHEN gap IS NOT NULL
                                             AND gap < d.delay
                                        THEN 1 ELSE 0 END), 0) AS BIGINT)
                       AS n_violations
              FROM g LEFT JOIN d USING (host)
              GROUP BY g.host
            )
            SELECT host, n_fetches, min_gap_s, crawl_delay_s,
                   n_violations,
                   CASE WHEN n_fetches > 1
                        THEN 1.0 - n_violations
                             / CAST(n_fetches - 1 AS DOUBLE)
                        ELSE 1.0 END AS compliance_rate
            FROM a
        """,
        # fairness: water_fill's closed form (see the water_fill
        # oracle) then Jain + Gini with the same operation order.
        "alloc_fairness": """
            WITH d AS (
              SELECT 'h' || (c_custkey % 37) AS host,
                     CAST(sum(1 + c_custkey % 211) AS BIGINT) AS demand
              FROM customer GROUP BY 1
            ),
            s AS (
              SELECT host, demand,
                     row_number() OVER (ORDER BY demand, host) AS i,
                     sum(demand) OVER (ORDER BY demand, host
                                       ROWS UNBOUNDED PRECEDING) AS prefix,
                     count(*) OVER () AS n
              FROM d
            ),
            lvl AS (
              SELECT greatest(
                  coalesce(max(CASE
                    WHEN (20000 - prefix) >= demand * (n - i) THEN
                      CASE WHEN i < n THEN (20000 - prefix) // (n - i)
                           ELSE demand END
                  END), 0),
                  20000 // (SELECT count(*) FROM d)) AS t
              FROM s
            ),
            base AS (
              SELECT d.host, d.demand,
                     least(d.demand, l.t) AS lvl_alloc, l.t AS t
              FROM d CROSS JOIN lvl l
            ),
            rem AS (SELECT 20000 - sum(lvl_alloc) AS r FROM base),
            above AS (
              SELECT host, row_number() OVER (ORDER BY host) AS ar
              FROM base WHERE demand > t
            ),
            alloc AS (
              SELECT b.host,
                     CAST(b.lvl_alloc
                          + CASE WHEN a.ar IS NOT NULL
                                      AND a.ar <= (SELECT r FROM rem)
                                 THEN 1 ELSE 0 END AS BIGINT) AS x
              FROM base b LEFT JOIN above a USING (host)
            ),
            rk AS (
              SELECT x, row_number() OVER (ORDER BY x, host) AS i
              FROM alloc
            )
            SELECT CAST(count(*) AS BIGINT) AS n_hosts,
                   CAST(sum(x) AS BIGINT) AS total_alloc,
                   CAST((sum(x) * sum(x))
                        / (count(*) * sum(x * x)) AS DOUBLE) AS jain_index,
                   CAST(2.0 * sum(i * x) / (count(*) * sum(x))
                        - (count(*) + 1.0) / count(*) AS DOUBLE) AS gini
            FROM rk
        """,
        # registrable domain: planted truth closed-form per class —
        # cls 4 (www.ck) exercises the exception rule, cls 5 the *.ck
        # wildcard, cls 3 the implicit '*', cls 7 a bare suffix.
        "registrable_domain": """
            WITH h AS (
              SELECT c_custkey AS k, c_custkey % 8 AS cls FROM customer
            )
            SELECT CASE cls
                     WHEN 0 THEN 'a' || k || '.example.com'
                     WHEN 1 THEN 'b.a' || k || '.co.uk'
                     WHEN 2 THEN 'u' || k || '.github.io'
                     WHEN 3 THEN 'x' || k || '.unknowntld'
                     WHEN 4 THEN 'www.ck'
                     WHEN 5 THEN 'shop.z' || k || '.ck'
                     WHEN 6 THEN 'deep.sub.site' || k || '.org.uk'
                     ELSE 'com'
                   END AS host,
                   CASE cls
                     WHEN 0 THEN 'com'
                     WHEN 1 THEN 'co.uk'
                     WHEN 2 THEN 'github.io'
                     WHEN 3 THEN 'unknowntld'
                     WHEN 4 THEN 'ck'
                     WHEN 5 THEN 'z' || k || '.ck'
                     WHEN 6 THEN 'org.uk'
                     ELSE 'com'
                   END AS public_suffix,
                   CASE cls
                     WHEN 0 THEN 'example.com'
                     WHEN 1 THEN 'a' || k || '.co.uk'
                     WHEN 2 THEN 'u' || k || '.github.io'
                     WHEN 3 THEN 'x' || k || '.unknowntld'
                     WHEN 4 THEN 'www.ck'
                     WHEN 5 THEN 'shop.z' || k || '.ck'
                     WHEN 6 THEN 'site' || k || '.org.uk'
                     ELSE NULL
                   END AS registrable_domain
            FROM h
        """,
        # per-host cap: rank by the md5 uniform with doc_id tiebreak,
        # keep rank <= 5 per host (the salted two-phase is plan shape,
        # not semantics — the oracle ranks directly).
        "host_cap_sample": """
            WITH d AS (
              SELECT doc_id,
                     'h' || (CASE WHEN doc_id % 3 = 0 THEN 0
                             ELSE doc_id % 23 END) || '.example' AS host,
                     CAST('0x' || substr(md5('17:' || CAST(doc_id AS VARCHAR)), 1, 15)
                          AS BIGINT) / 1152921504606846976.0 AS u
              FROM documents
            ),
            r AS (
              SELECT doc_id, host,
                     row_number() OVER (PARTITION BY host
                                        ORDER BY u, doc_id) AS rn
              FROM d
            )
            SELECT doc_id, host FROM r WHERE rn <= 5
        """,
        # hashing-trick linear classifier: the dyadic weight vector and
        # token->bucket law replayed exactly; sum(weight) is exact in
        # any order (20 fractional bits), so no fold pinning.
        "linear_quality": """
            WITH w AS (
              SELECT j AS bucket,
                     (CAST('0x' || substr(md5('13w:' || j), 1, 15) AS BIGINT)
                      % 2097152 - 1048576) / 1048576.0 AS weight
              FROM range(4096) t(j)
            ),
            tok AS (
              SELECT doc_id,
                     unnest(string_split(lower(trim(regexp_replace(text,
                       '\\s+', ' ', 'g'))), ' ')) AS tk
              FROM documents
            ),
            b AS (
              SELECT doc_id,
                     CAST('0x' || substr(md5('13f:' || tk), 1, 15) AS BIGINT)
                       % 4096 AS bucket
              FROM tok WHERE tk <> ''
            ),
            s AS (
              SELECT doc_id, sum(weight) AS sw,
                     CAST(count(*) AS BIGINT) AS n_tok
              FROM b JOIN w USING (bucket) GROUP BY doc_id
            )
            SELECT doc_id, n_tok, sw / n_tok AS logit,
                   (sw / n_tok) > 0.0 AS keep
            FROM s
        """,
        # contamination: distinct doc 8-grams left-joined to the distinct
        # benchmark 8-gram set (docs with doc_id % 17 = 0)
        "ngram_contamination": """
            WITH toks AS (
              SELECT doc_id,
                     string_split(lower(trim(regexp_replace(text, '\\s+', ' ', 'g'))), ' ') AS t
              FROM documents
            ),
            dg AS (
              SELECT DISTINCT doc_id,
                     unnest([array_to_string(t[i : i + 7], ' ')
                             for i in range(1, len(t) - 6)]) AS g
              FROM toks
            ),
            dgf AS (SELECT doc_id, g FROM dg WHERE g <> ''),
            bg AS (
              SELECT DISTINCT unnest([array_to_string(t[i : i + 7], ' ')
                                      for i in range(1, len(t) - 6)]) AS g
              FROM toks WHERE doc_id % 17 = 0
            ),
            bgf AS (SELECT g, 1 AS hit FROM bg WHERE g <> '')
            SELECT doc_id,
                   count(*) AS n_grams,
                   CAST(coalesce(sum(hit), 0) AS BIGINT) AS n_contaminated,
                   round(CAST(coalesce(sum(hit), 0) AS BIGINT) / count(*), 6) AS contamination_frac
            FROM dgf LEFT JOIN bgf USING (g)
            GROUP BY doc_id
        """,
        # ExactSubstr duplicated spans (Lee et al. 2022): 8-gram windows
        # occurring >= 2 times corpus-wide mark their token positions;
        # coverage = distinct union of [pos, pos+7] per duplicated start
        "dup_span_stats": """
            WITH toks AS (
              SELECT doc_id,
                     string_split(lower(trim(regexp_replace(text, '\\s+', ' ', 'g'))), ' ') AS t
              FROM documents
            ),
            starts AS (
              SELECT doc_id,
                     unnest([{'pos': i, 'g': array_to_string(t[i : i + 7], ' ')}
                             for i in range(1, len(t) - 6)]) AS s
              FROM toks
            ),
            dupg AS (
              SELECT s.g AS g FROM starts GROUP BY s.g HAVING count(*) >= 2
            ),
            ds AS (
              SELECT doc_id, s.pos AS pos FROM starts JOIN dupg ON s.g = dupg.g
            ),
            cov AS (
              SELECT DISTINCT doc_id, cp
              FROM (SELECT doc_id, unnest(range(pos, pos + 8)) AS cp FROM ds)
            ),
            covc AS (SELECT doc_id, count(*) AS n_cov FROM cov GROUP BY doc_id),
            dsn AS (SELECT doc_id, count(*) AS n_dup FROM ds GROUP BY doc_id),
            base AS (SELECT doc_id, len(t) AS n_tok FROM toks)
            SELECT b.doc_id,
                   CAST(n_tok AS BIGINT) AS n_tok,
                   CAST(greatest(n_tok - 7, 0) AS BIGINT) AS n_windows,
                   CAST(coalesce(n_dup, 0) AS BIGINT) AS n_dup_windows,
                   round(coalesce(n_cov, 0) / n_tok, 6) AS dup_token_frac
            FROM base b LEFT JOIN dsn USING (doc_id) LEFT JOIN covc USING (doc_id)
        """,
        # same coverage set; covered tokens cut, remainder reassembled
        # in original order (string_agg skips the NULLed covered tokens)
        "dup_span_removal": """
            WITH toks AS (
              SELECT doc_id,
                     string_split(lower(trim(regexp_replace(text, '\\s+', ' ', 'g'))), ' ') AS t
              FROM documents
            ),
            tok AS (
              SELECT doc_id,
                     unnest([{'pos': i, 'w': t[i]} for i in range(1, len(t) + 1)]) AS u
              FROM toks
            ),
            starts AS (
              SELECT doc_id,
                     unnest([{'pos': i, 'g': array_to_string(t[i : i + 7], ' ')}
                             for i in range(1, len(t) - 6)]) AS s
              FROM toks
            ),
            dupg AS (SELECT s.g AS g FROM starts GROUP BY s.g HAVING count(*) >= 2),
            ds AS (SELECT doc_id, s.pos AS pos FROM starts JOIN dupg ON s.g = dupg.g),
            cov AS (
              SELECT DISTINCT doc_id, cp
              FROM (SELECT doc_id, unnest(range(pos, pos + 8)) AS cp FROM ds)
            ),
            flagged AS (
              SELECT t.doc_id, t.u.pos AS pos, t.u.w AS w,
                     CASE WHEN c.cp IS NOT NULL THEN 1 ELSE 0 END AS covered
              FROM tok t LEFT JOIN cov c ON t.doc_id = c.doc_id AND t.u.pos = c.cp
            )
            SELECT doc_id,
                   coalesce(string_agg(CASE WHEN covered = 0 THEN w END, ' ' ORDER BY pos), '') AS clean_text,
                   CAST(count(*) AS BIGINT) AS n_tok,
                   CAST(coalesce(sum(covered), 0) AS BIGINT) AS n_removed
            FROM flagged GROUP BY doc_id
        """,
        # full curation chain: dedup -> gopher gate (rounded fracs, the
        # Spark side rounds before thresholding) -> 8-gram decontam
        # (> 0.05 dropped; short docs kept) -> md5-uniform stratified
        # sample (seed 7) -> whitespace token count
        "pipeline_curate": """
            WITH corpus AS (
              SELECT doc_id, text, lang FROM documents
              UNION ALL
              SELECT doc_id + 1000000, text, lang FROM documents WHERE doc_id % 7 = 0
            ),
            keep AS (
              SELECT min(doc_id) AS doc_id FROM corpus GROUP BY md5(text)
            ),
            deduped AS (
              SELECT c.doc_id, c.text, c.lang FROM corpus c JOIN keep USING (doc_id)
            ),
            toks AS (
              SELECT doc_id,
                     string_split(lower(trim(regexp_replace(text, '\\s+', ' ', 'g'))), ' ') AS t
              FROM deduped
            ),
            grams AS (
              SELECT doc_id, ns.n AS n,
                     unnest([array_to_string(t[i : i + ns.n - 1], ' ')
                             for i in range(1, len(t) - ns.n + 2)]) AS gram
              FROM toks, (VALUES (2),(3),(4)) ns(n)
            ),
            per_gram AS (
              SELECT doc_id, n, gram, count(*) AS c FROM grams GROUP BY 1, 2, 3
            ),
            per_doc AS (
              SELECT doc_id, n, max(c) AS mx, sum(c) AS tot
              FROM per_gram GROUP BY 1, 2
            ),
            wide AS (
              SELECT doc_id,
                     round(max(CASE WHEN n = 2 THEN mx / tot END), 6) AS f2,
                     round(max(CASE WHEN n = 3 THEN mx / tot END), 6) AS f3,
                     round(max(CASE WHEN n = 4 THEN mx / tot END), 6) AS f4
              FROM per_doc GROUP BY 1
            ),
            bad AS (
              SELECT doc_id FROM wide
              WHERE NOT (coalesce(f2, 0.0) <= 0.20
                         AND coalesce(f3, 0.0) <= 0.18
                         AND coalesce(f4, 0.0) <= 0.16)
            ),
            gated AS (
              SELECT * FROM deduped
              WHERE doc_id NOT IN (SELECT doc_id FROM bad)
            ),
            gtoks AS (
              SELECT doc_id,
                     string_split(lower(trim(regexp_replace(text, '\\s+', ' ', 'g'))), ' ') AS t
              FROM gated
            ),
            dg AS (
              SELECT DISTINCT doc_id,
                     unnest([array_to_string(t[i : i + 7], ' ')
                             for i in range(1, len(t) - 6)]) AS g
              FROM gtoks
            ),
            dgf AS (SELECT doc_id, g FROM dg WHERE g <> ''),
            bg AS (
              SELECT DISTINCT
                     unnest([array_to_string(t[i : i + 7], ' ')
                             for i in range(1, len(t) - 6)]) AS g
              FROM (SELECT string_split(lower(trim(regexp_replace(text, '\\s+', ' ', 'g'))), ' ') AS t
                    FROM documents WHERE doc_id % 17 = 0)
            ),
            bgf AS (SELECT g, 1 AS hit FROM bg WHERE g <> ''),
            contam AS (
              SELECT doc_id
              FROM dgf LEFT JOIN bgf USING (g)
              GROUP BY doc_id
              HAVING round(coalesce(sum(hit), 0) / count(*), 6) > 0.05
            ),
            decon AS (
              SELECT * FROM gated
              WHERE doc_id NOT IN (SELECT doc_id FROM contam)
            ),
            sampled AS (
              SELECT * FROM decon
              WHERE CAST('0x' || substr(md5('7:' || CAST(doc_id AS VARCHAR)), 1, 15) AS BIGINT)
                    / 1152921504606846976.0
                    < CASE lang WHEN 'en' THEN 1.0 WHEN 'de' THEN 0.3 ELSE 0.05 END
            )
            SELECT doc_id, lang,
                   CAST(len(string_split(trim(regexp_replace(text, '\\s+', ' ', 'g')), ' ')) AS BIGINT) AS n_tok
            FROM sampled
        """,
        # PII scrub: identical injection, identical RE2-subset regexes,
        # identical replace order (email -> ipv4 -> phone)
        "pii_scrub": r"""
            WITH injected AS (
              SELECT doc_id,
                     text
                     || CASE WHEN doc_id % 5 = 0
                             THEN ' contact user' || doc_id || '@test.org' ELSE '' END
                     || CASE WHEN doc_id % 7 = 3
                             THEN ' ip 10.0.' || (doc_id % 256) || '.17' ELSE '' END
                     || CASE WHEN doc_id % 11 = 5
                             THEN ' call +1 (555) 010-' || (doc_id % 90 + 10) ELSE '' END
                     AS text
              FROM documents
            )
            , staged AS (
              -- counts taken on the PROGRESSIVELY-scrubbed text,
              -- matching the Spark side's chained replace order
              SELECT doc_id,
                     text AS t0,
                     regexp_replace(text,
                        '[A-Za-z0-9._%+\-]+@[A-Za-z0-9.\-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g') AS t1
              FROM injected
            ), staged2 AS (
              SELECT doc_id, t0, t1,
                     regexp_replace(t1,
                        '\b[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\b', '<IP>', 'g') AS t2
              FROM staged
            )
            SELECT doc_id,
                   CAST(len(regexp_extract_all(t0,
                        '[A-Za-z0-9._%+\-]+@[A-Za-z0-9.\-]+\.[A-Za-z]{2,}')) AS BIGINT) AS n_email,
                   CAST(len(regexp_extract_all(t1,
                        '\b[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\b')) AS BIGINT) AS n_ipv4,
                   CAST(len(regexp_extract_all(t2,
                        '\+[0-9][0-9 ()./\-]{6,}[0-9]')) AS BIGINT) AS n_phone,
                   regexp_replace(t2,
                        '\+[0-9][0-9 ()./\-]{6,}[0-9]', '<PHONE>', 'g') AS clean_text
            FROM staged2
        """,
        # C4/Gopher heuristics: rounded mean-word-length enters the
        # threshold exactly as on the Spark side
        "c4_heuristics": """
            WITH t AS (
              SELECT doc_id, text,
                     string_split(trim(regexp_replace(text, '\\s+', ' ', 'g')), ' ') AS toks
              FROM documents
            ),
            s AS (
              SELECT doc_id, text, toks,
                     CAST(len(toks) AS BIGINT) AS n_words,
                     round(CAST(list_sum(list_transform(toks, x -> length(x))) AS DOUBLE)
                           / len(toks), 6) AS mean_word_len,
                     regexp_matches(trim(text), '[.!?"'']$') AS ends_punct,
                     (contains(lower(text), '{') OR contains(lower(text), '}')) AS has_brace,
                     contains(lower(text), 'lorem ipsum') AS has_lorem,
                     contains(lower(text), 'javascript') AS has_js
              FROM t
            )
            SELECT doc_id, n_words, mean_word_len, ends_punct, has_brace,
                   has_lorem, has_js,
                   (n_words >= 5 AND n_words <= 100000
                    AND mean_word_len >= 3.0 AND mean_word_len <= 10.0
                    AND ends_punct AND NOT has_brace AND NOT has_lorem
                    AND NOT has_js) AS c4_ok
            FROM s
        """,
        # sequence packing: shard cumsum window, floor-div chunking;
        # HUGEINT window sums cast back to BIGINT for schema parity
        "pack_sequences": """
            WITH t AS (
              SELECT doc_id, doc_id % 8 AS shard,
                     CAST(len(string_split(trim(regexp_replace(text, '\\s+', ' ', 'g')), ' ')) AS BIGINT) AS n_tok
              FROM documents
            ),
            c AS (
              SELECT doc_id, shard, n_tok,
                     sum(n_tok) OVER (PARTITION BY shard ORDER BY doc_id) AS cum
              FROM t
            )
            SELECT doc_id, shard, n_tok,
                   CAST(cum - n_tok AS BIGINT) AS start_offset,
                   CAST(floor((cum - n_tok) / 256.0) AS BIGINT) AS start_seq,
                   CAST(floor((cum - 1) / 256.0) AS BIGINT) AS end_seq
            FROM c
        """,
        # bigram LM: identical tokenization, add-one smoothing, rounded
        # per-bigram ln, position-ordered left fold (list_reduce has no
        # init, but 0.0 + x == x so the folds agree)
        "lm_score": """
            WITH toks AS (
              SELECT doc_id, lang,
                     string_split(lower(trim(regexp_replace(text, '\\s+', ' ', 'g'))), ' ') AS t
              FROM documents
            ),
            uni AS (
              SELECT w, count(*) AS cp FROM (
                SELECT unnest(t) AS w FROM toks WHERE lang = 'en'
              ) WHERE w <> '' GROUP BY w
            ),
            big AS (
              SELECT w1, w2, count(*) AS cb FROM (
                SELECT unnest([{'w1': t[i], 'w2': t[i + 1]}
                               for i in range(1, len(t))], recursive := true)
                FROM toks WHERE lang = 'en'
              ) GROUP BY w1, w2
            ),
            dbg AS (
              SELECT doc_id,
                     unnest([{'pos': i, 'w1': t[i], 'w2': t[i + 1]}
                             for i in range(1, len(t))], recursive := true)
              FROM toks
            ),
            lp AS (
              SELECT d.doc_id, d.pos,
                     round(ln((coalesce(b.cb, 0) + 1.0)
                              / (coalesce(u.cp, 0)
                                 + (SELECT CAST(count(*) AS DOUBLE) FROM uni))), 6) AS lp
              FROM dbg d
              LEFT JOIN uni u ON d.w1 = u.w
              LEFT JOIN big b ON d.w1 = b.w1 AND d.w2 = b.w2
            ),
            agg AS (
              SELECT doc_id,
                     CAST(count(*) AS BIGINT) AS n_bigrams,
                     round(list_reduce(list(lp ORDER BY pos), (x, y) -> x + y)
                           / count(*), 6) AS avg_logp
              FROM lp GROUP BY doc_id
            )
            SELECT doc_id, n_bigrams, avg_logp,
                   round(exp(-avg_logp), 6) AS ppl
            FROM agg
        """,
        # CCNet terciles: the lm_score chain plus a per-language rank
        # window; bucket = floor((rn-1)*3/n) — integer math, same
        # (ppl, doc_id) total order as the Spark window
        "ccnet_buckets": """
            WITH toks AS (
              SELECT doc_id, lang,
                     string_split(lower(trim(regexp_replace(text, '\\s+', ' ', 'g'))), ' ') AS t
              FROM documents
            ),
            uni AS (
              SELECT w, count(*) AS cp FROM (
                SELECT unnest(t) AS w FROM toks WHERE lang = 'en'
              ) WHERE w <> '' GROUP BY w
            ),
            big AS (
              SELECT w1, w2, count(*) AS cb FROM (
                SELECT unnest([{'w1': t[i], 'w2': t[i + 1]}
                               for i in range(1, len(t))], recursive := true)
                FROM toks WHERE lang = 'en'
              ) GROUP BY w1, w2
            ),
            dbg AS (
              SELECT doc_id,
                     unnest([{'pos': i, 'w1': t[i], 'w2': t[i + 1]}
                             for i in range(1, len(t))], recursive := true)
              FROM toks
            ),
            lp AS (
              SELECT d.doc_id, d.pos,
                     round(ln((coalesce(b.cb, 0) + 1.0)
                              / (coalesce(u.cp, 0)
                                 + (SELECT CAST(count(*) AS DOUBLE) FROM uni))), 6) AS lp
              FROM dbg d
              LEFT JOIN uni u ON d.w1 = u.w
              LEFT JOIN big b ON d.w1 = b.w1 AND d.w2 = b.w2
            ),
            agg AS (
              SELECT doc_id,
                     CAST(count(*) AS BIGINT) AS n_bigrams,
                     round(list_reduce(list(lp ORDER BY pos), (x, y) -> x + y)
                           / count(*), 6) AS avg_logp
              FROM lp GROUP BY doc_id
            ),
            scored AS (
              SELECT a.doc_id, coalesce(d.lang, 'unknown') AS lang,
                     a.n_bigrams, a.avg_logp,
                     round(exp(-a.avg_logp), 6) AS ppl
              FROM agg a JOIN documents d ON a.doc_id = d.doc_id
            ),
            ranked AS (
              SELECT *,
                     row_number() OVER (PARTITION BY lang
                                        ORDER BY ppl ASC, doc_id ASC) AS rn,
                     count(*) OVER (PARTITION BY lang) AS n
              FROM scored
            )
            SELECT doc_id, lang, n_bigrams, avg_logp, ppl,
                   (['head', 'middle', 'tail'])[
                     CAST(floor((rn - 1) * 3 / n) AS INT) + 1] AS bucket
            FROM ranked
        """,
        # token-budget sampling: same uniform, same (u, id) order, same
        # budget-crossing rule (start-of-doc < budget)
        "token_budget_sample": """
            WITH t AS (
              SELECT doc_id, lang,
                     CAST(len(string_split(trim(regexp_replace(text, '\\s+', ' ', 'g')), ' ')) AS BIGINT) AS n_tok,
                     CAST('0x' || substr(md5('11:' || CAST(doc_id AS VARCHAR)), 1, 15) AS BIGINT)
                       / 1152921504606846976.0 AS u,
                     CASE lang WHEN 'en' THEN 20000 WHEN 'de' THEN 5000 END AS budget
              FROM documents
            ),
            c AS (
              SELECT doc_id, lang, n_tok, budget,
                     CAST(sum(n_tok) OVER (PARTITION BY lang ORDER BY u, doc_id) AS BIGINT) AS cum_tok
              FROM t WHERE budget IS NOT NULL
            )
            SELECT doc_id, lang, n_tok, cum_tok
            FROM c WHERE cum_tok - n_tok < budget
        """,
        "url_blocklist": f"""
            WITH hosts AS (
              SELECT o_orderkey,
                     'h' || CAST(o_custkey % 50 AS VARCHAR) || '.' ||
                     (['ads.example','news.example','blog.example','shop.example'])[CAST(o_orderkey % 4 AS INT) + 1] AS host
              FROM orders
            ),
            bl(domain) AS (VALUES {", ".join(f"('{d}')" for d in _BLOCKLIST_DOMAINS)})
            SELECT o_orderkey, host,
                   EXISTS (SELECT 1 FROM bl
                           WHERE hosts.host = bl.domain
                              OR hosts.host LIKE '%.' || bl.domain) AS blocked
            FROM hosts
        """,
        "host_pagerank": _sql_pagerank_cte(4),
        "host_opic": _sql_opic_cte(3),
        "host_hits": _sql_hits_cte(2),
        "focused_relevance": _SQL_FOCUSED_RELEVANCE,
        "bm25_topk": _SQL_BM25_TOPK,
        "host_trustrank": _sql_trustrank_cte(4),
        "cdx_index": _SQL_CDX_INDEX,
        "host_lang_budgets": _SQL_HOST_LANG_BUDGETS,
        # anchor-text aggregation: the oracle rebuilds the planted link
        # tuples closed-form from orders (Spark parses them back out of
        # the synthesized HTML with the native regex) and aggregates
        "anchor_text": """
            WITH links AS (
              SELECT 's' || (o_custkey % 20) || '.example' AS src_host,
                     unnest([
                       {'t': 'https://t' || (o_orderkey % 7) || '.example/page/' || (o_orderkey % 97),
                        'a': 'read article ' || (o_orderkey % 13)},
                       {'t': 'https://t' || ((o_orderkey + 1) % 7) || '.example/page/' || (o_orderkey % 53),
                        'a': 'more news ' || (o_custkey % 11)},
                       {'t': 'https://hub.example/topic/' || (o_orderkey % 31), 'a': ''}
                     ]) AS l
              FROM orders
            ),
            flat AS (SELECT src_host, l.t AS target_url, l.a AS anchor FROM links),
            stats AS (
              SELECT target_url,
                     CAST(count(*) AS BIGINT) AS n_links,
                     CAST(count(DISTINCT src_host) AS BIGINT) AS n_src_hosts,
                     CAST(count(DISTINCT CASE WHEN anchor <> '' THEN anchor END) AS BIGINT)
                       AS n_unique_anchors
              FROM flat GROUP BY target_url
            ),
            counts AS (
              SELECT target_url, anchor, count(*) AS c FROM flat WHERE anchor <> ''
              GROUP BY target_url, anchor
            ),
            top AS (
              SELECT target_url, anchor AS top_anchor FROM (
                SELECT target_url, anchor,
                       row_number() OVER (PARTITION BY target_url
                                          ORDER BY c DESC, anchor ASC) AS rn
                FROM counts) WHERE rn = 1
            )
            SELECT s.target_url AS target_url, n_links, n_src_hosts,
                   n_unique_anchors, top_anchor
            FROM stats s LEFT JOIN top USING (target_url)
        """,
        # soft404: replicate the page synthesis closed-form, then the
        # two signals exactly — err phrase in the 400-char head, token
        # count <= 40, and the (host, text) template group spanning
        # >= 5 distinct urls among tiny pages. Grouping on raw text
        # equals Spark's md5(text) grouping (md5 is injective on this
        # corpus and equal text <=> equal digest for the oracle).
        "soft404": """
            WITH pages AS (
              SELECT 'https://h' || (o_custkey % 30) || '.example/p/'
                       || o_orderkey AS url,
                     'h' || (o_custkey % 30) || '.example' AS host,
                     CASE o_orderkey % 9
                       WHEN 0 THEN 'Error 404 - Page Not Found. The page '
                         || 'you requested was not found on this server.'
                       WHEN 1 THEN 'stub ' || o_orderkey
                       WHEN 2 THEN 'How to fix error 404 page not found '
                         || 'responses. '
                         || repeat('lorem ipsum dolor sit amet consectetur '
                                   || 'adipiscing elit sed do eiusmod tempor '
                                   || 'incididunt ut labore ', 5)
                         || o_orderkey
                       WHEN 3 THEN 'welcome to our website under construction'
                       ELSE 'Article body. '
                         || repeat('lorem ipsum dolor sit amet consectetur '
                                   || 'adipiscing elit sed do eiusmod tempor '
                                   || 'incididunt ut labore ', 5)
                         || o_orderkey
                     END AS text
              FROM orders
            ),
            flags AS (
              SELECT url, host, text,
                     regexp_matches(substring(text, 1, 400),
                       '(?i)(page\\s+not\\s+found|404\\s+not\\s+found|'
                       || 'error\\s+404|404\\s+error|file\\s+not\\s+found|'
                       || 'page\\s+does\\s+not\\s+exist|'
                       || 'page\\s+no\\s+longer\\s+available|'
                       || 'page\\s+you\\s+requested\\s+was\\s+not\\s+found)')
                       AS err_phrase,
                     len(string_split_regex(trim(text), '\\s+')) <= 40
                       AS tiny_body
              FROM pages
            ),
            templ AS (
              SELECT host, text FROM flags WHERE tiny_body
              GROUP BY host, text HAVING count(DISTINCT url) >= 5
            )
            SELECT f.url AS url, f.err_phrase AS err_phrase,
                   f.tiny_body AS tiny_body,
                   (t.host IS NOT NULL) AS template_err,
                   ((f.err_phrase AND f.tiny_body)
                    OR t.host IS NOT NULL) AS soft404
            FROM flags f
            LEFT JOIN templ t ON f.host = t.host AND f.text = t.text
        """,
        # soft404_demotion: the oracle scores the PLANTED truth
        # closed-form (error pages are err-phrase+tiny by construction,
        # articles are long and unique so no flag can fire) —
        # independent of the Spark-side flag implementation
        "soft404_demotion": """
            WITH pages AS (
              SELECT 'h' || (o_custkey % 30) || '.example' AS host,
                     (o_orderkey % 10) < ((o_custkey % 30) % 11) AS s4
              FROM orders
            ),
            stats AS (
              SELECT host,
                     CAST(count(*) AS BIGINT) AS n_pages,
                     CAST(sum(CASE WHEN s4 THEN 1 ELSE 0 END) AS BIGINT)
                       AS n_soft404,
                     round(sum(CASE WHEN s4 THEN 1 ELSE 0 END)
                           / count(*), 6) AS soft404_frac
              FROM pages GROUP BY host
            )
            SELECT host, n_pages, n_soft404, soft404_frac,
                   (soft404_frac >= 0.5 AND n_pages >= 20) AS demoted
            FROM stats
        """,
        # per-host data card: the c4_heuristics flag chain aggregated
        # by synthesized host; doubles divided only after exact BIGINT
        # sums, majority lang by (count DESC, lang ASC)
        "host_datacard": """
            WITH t AS (
              SELECT doc_id,
                     'h' || (doc_id % 40) || '.example' AS host,
                     coalesce(lang, 'unknown') AS lang,
                     CAST(length(text) AS BIGINT) AS chars,
                     text,
                     string_split(trim(regexp_replace(text, '\\s+', ' ', 'g')), ' ') AS toks
              FROM documents
            ),
            s AS (
              SELECT host, lang, chars,
                     CAST(len(toks) AS BIGINT) AS n_words,
                     (len(toks) >= 5 AND len(toks) <= 100000
                      AND round(CAST(list_sum(list_transform(toks, x -> length(x))) AS DOUBLE)
                                / len(toks), 6) >= 3.0
                      AND round(CAST(list_sum(list_transform(toks, x -> length(x))) AS DOUBLE)
                                / len(toks), 6) <= 10.0
                      AND regexp_matches(trim(text), '[.!?"'']$')
                      AND NOT (contains(lower(text), '{') OR contains(lower(text), '}'))
                      AND NOT contains(lower(text), 'lorem ipsum')
                      AND NOT contains(lower(text), 'javascript')) AS c4_ok
              FROM t
            ),
            g AS (
              SELECT host, lang, CAST(count(*) AS BIGINT) AS n,
                     CAST(sum(n_words) AS BIGINT) AS tok,
                     CAST(sum(CASE WHEN c4_ok THEN 1 ELSE 0 END) AS BIGINT) AS ok,
                     CAST(sum(chars) AS BIGINT) AS ch
              FROM s GROUP BY host, lang
            ),
            totals AS (
              SELECT host, CAST(sum(n) AS BIGINT) AS n_docs,
                     CAST(sum(tok) AS BIGINT) AS n_tokens,
                     round(sum(ok) / CAST(sum(n) AS DOUBLE), 6) AS pct_c4_ok,
                     round(sum(ch) / CAST(sum(n) AS DOUBLE), 6) AS mean_doc_chars
              FROM g GROUP BY host
            ),
            major AS (
              SELECT host, lang AS major_lang,
                     round(n / CAST(sum(n) OVER (PARTITION BY host) AS DOUBLE), 6)
                       AS major_lang_frac,
                     row_number() OVER (PARTITION BY host
                                        ORDER BY n DESC, lang ASC) AS rn
              FROM g
            )
            SELECT t.host, n_docs, n_tokens, pct_c4_ok, mean_doc_chars,
                   major_lang, major_lang_frac
            FROM totals t JOIN major m ON t.host = m.host AND m.rn = 1
        """,
        # snapshot diff: same full-outer classification; md5 is
        # identical hex in both engines
        "snapshot_diff": """
            WITH o AS (
              SELECT 'https://h' || (doc_id % 40) || '.example/p/' || doc_id AS url,
                     md5(text) AS old_hash
              FROM documents WHERE doc_id % 11 <> 0
            ),
            n AS (
              SELECT 'https://h' || (doc_id % 40) || '.example/p/' || doc_id AS url,
                     md5(CASE WHEN doc_id % 7 = 0
                              THEN text || ' updated' ELSE text END) AS new_hash
              FROM documents WHERE doc_id % 13 <> 0
            )
            SELECT coalesce(o.url, n.url) AS url, old_hash, new_hash,
                   CASE WHEN old_hash IS NULL THEN 'added'
                        WHEN new_hash IS NULL THEN 'removed'
                        WHEN old_hash = new_hash THEN 'unchanged'
                        ELSE 'changed' END AS status
            FROM o FULL OUTER JOIN n ON o.url = n.url
        """,
        "snapshot_diff_stats": """
            WITH o AS (
              SELECT 'https://h' || (doc_id % 40) || '.example/p/' || doc_id AS url,
                     md5(text) AS old_hash
              FROM documents WHERE doc_id % 11 <> 0
            ),
            n AS (
              SELECT 'https://h' || (doc_id % 40) || '.example/p/' || doc_id AS url,
                     md5(CASE WHEN doc_id % 7 = 0
                              THEN text || ' updated' ELSE text END) AS new_hash
              FROM documents WHERE doc_id % 13 <> 0
            ),
            diff AS (
              SELECT CASE WHEN old_hash IS NULL THEN 'added'
                          WHEN new_hash IS NULL THEN 'removed'
                          WHEN old_hash = new_hash THEN 'unchanged'
                          ELSE 'changed' END AS status
              FROM o FULL OUTER JOIN n ON o.url = n.url
            )
            SELECT status, CAST(count(*) AS BIGINT) AS n_urls,
                   round(count(*) / (SELECT CAST(count(*) AS DOUBLE) FROM diff), 6) AS frac
            FROM diff GROUP BY status
        """,
        # WARC 1.1 identical-payload-digest revisit classification:
        # left join of the fetch batch against the prior capture index
        # on url, CASE on digest equality. strlen() is DuckDB's byte
        # length = Spark octet_length; md5 hex matches both engines.
        "warc_revisit": """
            WITH f AS (
              SELECT 'https://h' || (doc_id % 40) || '.example/r/' || doc_id AS url,
                     md5(CASE WHEN doc_id % 6 = 0 THEN text || ' v2'
                              ELSE text END) AS digest,
                     '2026-08-01T00:00:00Z' AS warc_date,
                     CAST(strlen(CASE WHEN doc_id % 6 = 0 THEN text || ' v2'
                                      ELSE text END) AS BIGINT) AS n_bytes
              FROM documents
            ),
            p AS (
              SELECT 'https://h' || (doc_id % 40) || '.example/r/' || doc_id AS url,
                     md5(text) AS prior_digest,
                     '2026-07-01T00:00:00Z' AS prior_date
              FROM documents WHERE doc_id % 9 <> 0
            )
            SELECT f.url, f.digest, f.warc_date,
                   CASE WHEN p.prior_digest = f.digest
                        THEN 'revisit' ELSE 'response' END AS record_type,
                   CASE WHEN p.prior_digest = f.digest
                        THEN 'http://netpreservation.org/warc/1.1/revisit/identical-payload-digest'
                        END AS profile,
                   CASE WHEN p.prior_digest = f.digest
                        THEN p.prior_date END AS refers_to_date,
                   f.n_bytes AS bytes_fetched,
                   CASE WHEN p.prior_digest = f.digest
                        THEN CAST(0 AS BIGINT)
                        ELSE f.n_bytes END AS bytes_stored
            FROM f LEFT JOIN p ON f.url = p.url
        """,
        "revisit_stats": """
            WITH f AS (
              SELECT 'https://h' || (doc_id % 40) || '.example/r/' || doc_id AS url,
                     md5(CASE WHEN doc_id % 6 = 0 THEN text || ' v2'
                              ELSE text END) AS digest,
                     CAST(strlen(CASE WHEN doc_id % 6 = 0 THEN text || ' v2'
                                      ELSE text END) AS BIGINT) AS n_bytes
              FROM documents
            ),
            p AS (
              SELECT 'https://h' || (doc_id % 40) || '.example/r/' || doc_id AS url,
                     md5(text) AS prior_digest
              FROM documents WHERE doc_id % 9 <> 0
            ),
            c AS (
              SELECT CASE WHEN p.prior_digest = f.digest
                          THEN 'revisit' ELSE 'response' END AS record_type,
                     f.n_bytes AS bytes_fetched,
                     CASE WHEN p.prior_digest = f.digest
                          THEN CAST(0 AS BIGINT)
                          ELSE f.n_bytes END AS bytes_stored
              FROM f LEFT JOIN p ON f.url = p.url
            )
            SELECT record_type,
                   CAST(count(*) AS BIGINT) AS n_records,
                   CAST(sum(bytes_fetched) AS BIGINT) AS bytes_fetched,
                   CAST(sum(bytes_stored) AS BIGINT) AS bytes_stored,
                   CAST(sum(bytes_fetched) - sum(bytes_stored) AS BIGINT)
                       AS bytes_saved
            FROM c GROUP BY record_type
        """,
        # dedup-aware WARC roundtrip: record type / profile /
        # refers-to / payload byte length rebuilt closed-form; a
        # revisit body surviving into the archive breaks payload_len.
        "revisit_roundtrip": """
            SELECT doc_id,
                   'https://h' || (doc_id % 40) || '.example/r/' || doc_id
                     AS url,
                   CASE WHEN doc_id % 9 <> 0 AND doc_id % 6 <> 0
                        THEN 'revisit' ELSE 'response' END AS warc_type,
                   '2026-08-01T00:00:00Z' AS warc_date,
                   CASE WHEN doc_id % 9 <> 0 AND doc_id % 6 <> 0
                        THEN 'message/http' ELSE 'text/html' END
                     AS content_type,
                   CASE WHEN doc_id % 9 <> 0 AND doc_id % 6 <> 0
                        THEN 'http://netpreservation.org/warc/1.1/revisit/identical-payload-digest'
                        END AS profile,
                   CASE WHEN doc_id % 9 <> 0 AND doc_id % 6 <> 0
                        THEN '2026-07-01T00:00:00Z' END AS refers_to_date,
                   CASE WHEN doc_id % 9 <> 0 AND doc_id % 6 <> 0
                        THEN CAST(0 AS BIGINT)
                        ELSE CAST(strlen(CASE WHEN doc_id % 6 = 0
                                              THEN text || ' v2'
                                              ELSE text END) AS BIGINT)
                        END AS payload_len
            FROM documents
        """,
        "change_rate": """
            WITH g AS (
              SELECT i, i // 10 AS u, i % 10 AS k FROM range(30000) t(i)
            ),
            h AS (
              SELECT 'https://u' || u || '.example/p' AS url,
                     CAST(k * ((u % 5) + 1) * 17280 + (u % 7) AS DOUBLE)
                         AS ts,
                     CAST((k * ((u % 4) + 1)) // 4 AS VARCHAR) AS sig
              FROM g WHERE k < (u % 9) + 2
            ),
            o AS (
              SELECT url, ts, sig,
                     lag(sig) OVER (PARTITION BY url ORDER BY ts, sig)
                         AS prev
              FROM h
            ),
            a AS (
              SELECT url, COUNT(*) - 1 AS n_intervals,
                     SUM(CASE WHEN prev IS NOT NULL AND sig <> prev
                         THEN 1 ELSE 0 END) AS n_changes,
                     MIN(ts) AS first_ts, MAX(ts) AS last_ts
              FROM o GROUP BY url HAVING COUNT(*) - 1 >= 1
            ),
            r AS (
              SELECT url, n_intervals, n_changes, last_ts,
                     -ln((n_intervals - n_changes + 0.5) /
                         (n_intervals + 0.5))
                       / ((last_ts - first_ts) / n_intervals / 86400.0)
                       AS rate
              FROM a
            )
            SELECT url, CAST(n_intervals AS INT) AS n_intervals,
                   CAST(n_changes AS INT) AS n_changes,
                   ROUND(rate, 6) + 0.0 AS rate_per_day,
                   ROUND(1.0 - exp(-rate * ((2000000.0 - last_ts)
                         / 86400.0)), 6) + 0.0 AS priority
            FROM r
        """,
        "rel_canonical": """
            WITH g AS (
              SELECT i, i % 6 AS cls, i // 6 AS grp, i % 50 AS h,
                     i % 5 AS cdn
              FROM range(24000) t(i)
            )
            SELECT 'https://cl' || h || '.example/p/' || i AS src_url,
                   CASE cls
                     WHEN 0 THEN 'https://cl' || h
                                 || '.example/canon/' || grp
                     WHEN 1 THEN 'https://cl' || h
                                 || '.example/canon/' || grp
                     WHEN 2 THEN 'https://cdn' || cdn
                                 || '.example/c/' || grp
                   END AS dst_url
            FROM g WHERE cls IN (0, 1, 2)
        """,
        # Page-level robots directives: each planted class's flags in
        # closed form (see q_meta_robots for the class table).
        "meta_robots": """
            WITH g AS (
              SELECT o_orderkey AS k, o_orderkey % 8 AS cls FROM orders
            )
            SELECT 'https://mr' || (k % 25) || '.example/p/' || k AS url,
                   cls IN (0, 2, 4) AS noindex,
                   cls IN (0, 1, 2, 4) AS nofollow,
                   cls = 3 AS noarchive
            FROM g
        """,
        # Nofollow-aware anchors: two planted absolute-target anchors
        # per page (the /rel/skip anchor is dropped); anchor 1 is
        # followed unless the page-level meta says nofollow (cls 1),
        # anchor 2 only when its rel is the nofollownot boundary trap
        # on a page without the meta (cls 3).
        "nofollow_links": """
            WITH g AS (
              SELECT o_orderkey AS k, o_orderkey % 4 AS cls FROM orders
            )
            SELECT 'nf' || (k % 20) || '.example' AS src_host,
                   'https://dst' || (k % 7) || '.example/a/' || k
                     AS target_url,
                   'link one ' || (k % 13) AS anchor,
                   cls <> 1 AS followed
            FROM g
            UNION ALL
            SELECT 'nf' || (k % 20) || '.example',
                   'https://dst' || ((k + 3) % 7) || '.example/b/' || k,
                   'second link',
                   cls = 3
            FROM g
        """,
        # Pagination chains: chain c has len=(c%5)+2 members p0..;
        # member j's index is j+1 off root p0, except the planted
        # cycle class c%17==0 (last page declares next back to p0)
        # whose members all resolve to NULL/false.
        "pagination_chains": """
            WITH m AS (
              SELECT i // 6 AS c, i % 6 AS j, (i // 6) % 5 + 2 AS len
              FROM range(18000) t(i)
            ),
            mm AS (SELECT * FROM m WHERE j < len)
            SELECT 'https://pg' || (c % 40) || '.example/s/' || c
                     || '/p' || j AS url,
                   CASE WHEN c % 17 <> 0
                        THEN 'https://pg' || (c % 40) || '.example/s/'
                             || c || '/p0' END AS root_url,
                   CAST(CASE WHEN c % 17 <> 0 THEN j + 1 END
                        AS BIGINT) AS page_idx,
                   CAST(CASE WHEN c % 17 <> 0 THEN len END
                        AS BIGINT) AS chain_len,
                   c % 17 <> 0 AS resolved
            FROM mm
        """,
        # hreflang clusters: cluster c has k=(c%4)+1 variants in lang
        # order de<en<fr<pt, so the cluster key is always the de
        # variant; c%3==0 clusters (k>=2) declare x-default at the en
        # variant, which becomes the representative there.
        "hreflang_clusters": """
            WITH m AS (
              SELECT i // 4 AS c, i % 4 AS v, (i // 4) % 4 + 1 AS k
              FROM range(12000) t(i)
            ),
            mm AS (
              SELECT c, v, k,
                     CASE v WHEN 0 THEN 'de' WHEN 1 THEN 'en'
                            WHEN 2 THEN 'fr' ELSE 'pt' END AS lang,
                     k >= 2 AND c % 3 = 0 AS xd
              FROM m WHERE v < k
            )
            SELECT 'https://' || lang || '.hx' || (c % 30)
                     || '.example/d/' || c AS url,
                   'https://' || CASE WHEN k = 1 THEN lang ELSE 'de' END
                     || '.hx' || (c % 30) || '.example/d/' || c
                     AS cluster_key,
                   'https://' || CASE WHEN k = 1 THEN lang
                                      WHEN xd THEN 'en' ELSE 'de' END
                     || '.hx' || (c % 30) || '.example/d/' || c
                     AS representative,
                   CAST(CASE WHEN k = 1 THEN 0
                             ELSE k + CASE WHEN xd THEN 1 ELSE 0 END END
                        AS BIGINT) AS n_alternates,
                   xd AS has_xdefault,
                   (xd AND v = 1) OR (NOT xd AND (k = 1 OR v = 0))
                     AS is_representative
            FROM mm
        """,
        # hreflang cluster roll-up over the same planted geometry:
        # singletons (k=1) key on their own url with zero declared;
        # k>=2 clusters have k members each declaring the full set
        # (+1 when the cluster carries x-default).
        "hreflang_stats": """
            WITH m AS (
              SELECT i // 4 AS c, i % 4 AS v, (i // 4) % 4 + 1 AS k
              FROM range(12000) t(i)
            ),
            mm AS (
              SELECT c, v, k,
                     CASE v WHEN 0 THEN 'de' WHEN 1 THEN 'en'
                            WHEN 2 THEN 'fr' ELSE 'pt' END AS lang,
                     k >= 2 AND c % 3 = 0 AS xd
              FROM m WHERE v < k
            ),
            keyed AS (
              SELECT 'https://' || CASE WHEN k = 1 THEN lang ELSE 'de' END
                       || '.hx' || (c % 30) || '.example/d/' || c
                       AS cluster_key,
                     CASE WHEN k = 1 THEN 0
                          ELSE k + CASE WHEN xd THEN 1 ELSE 0 END END
                       AS declared,
                     xd
              FROM mm
            )
            SELECT cluster_key,
                   CAST(COUNT(*) AS BIGINT) AS n_members,
                   CAST(MAX(declared) AS BIGINT) AS max_declared,
                   CAST(SUM(CASE WHEN xd THEN 1 ELSE 0 END) AS BIGINT)
                     AS n_with_xdefault
            FROM keyed GROUP BY cluster_key
        """,
        # Client-side redirects: surviving classes 0/1/2 with their
        # analytically-known targets and delays (3 = no url, 4 =
        # boundary trap, 5 = no meta — all dropped).
        "meta_refresh": """
            WITH g AS (
              SELECT o_orderkey AS k, o_orderkey % 6 AS cls FROM orders
            )
            SELECT 'https://rf' || (k % 30) || '.example/p/' || k
                     AS src_url,
                   CASE cls
                     WHEN 0 THEN 'https://mv' || (k % 9)
                                 || '.example/n/' || k
                     WHEN 1 THEN 'https://rf' || (k % 30)
                                 || '.example/moved/' || k
                     WHEN 2 THEN 'https://cdn' || (k % 4)
                                 || '.example/c/' || k
                   END AS dst_url,
                   CAST(CASE cls WHEN 0 THEN 0 WHEN 1 THEN 5
                                 WHEN 2 THEN 2 END AS BIGINT) AS delay_s
            FROM g WHERE cls IN (0, 1, 2)
        """,
        # Alias union: class 0 → amp edge, class 1 → og edge off the
        # tracking-param spelling, class 4 → m-dot mobile edge;
        # class 2's self-declaring og drops, class 3 declares nothing.
        "page_aliases": """
            WITH g AS (
              SELECT o_orderkey AS k, o_orderkey % 5 AS cls FROM orders
            ),
            b AS (
              SELECT k, cls,
                     'https://al' || (k % 20) || '.example/a/' || k AS base
              FROM g
            )
            SELECT CASE WHEN cls = 1 THEN base || '?utm_source=x'
                        ELSE base END AS src_url,
                   CASE WHEN cls = 0 THEN base || '/amp'
                        WHEN cls = 4 THEN base || '/m'
                        ELSE base END AS dst_url,
                   CASE WHEN cls = 0 THEN 'amp'
                        WHEN cls = 4 THEN 'mobile'
                        ELSE 'og' END AS kind
            FROM b WHERE cls IN (0, 1, 4)
        """,
        # Composed 2-round all-gates crawl: the expected fetch log in
        # closed form (see q_frontier_allgates for the derivation).
        # Round 0: one seed per host (h0's /sb loses the k=1 slot to /s
        # by url asc). Round 1: /sb re-enters at 1.0+0.5 aging = 1.5
        # and wins h0's single slot; h1 is capped at 1 by crawl_delay
        # (and /b is robots-disallowed anyway); h3 loses both slots to
        # h2 on their shared IP; /rt always ranks below /a,/b at equal
        # priority; dust/blocklist/trap classes never reach the log.
        "frontier_allgates": """
            WITH hosts AS (SELECT CAST(range AS INT) AS i FROM range(0, 8)),
            r0 AS (
              SELECT 0 AS round,
                     'https://h' || i || '.example/s' AS url,
                     CAST(1.0 AS DOUBLE) AS priority,
                     '2023-06-02' AS date
              FROM hosts
            ),
            r1 AS (
              SELECT 1 AS round, 'https://h0.example/sb' AS url,
                     CAST(1.5 AS DOUBLE) AS priority,
                     '2024-06-01' AS date
              UNION ALL
              SELECT 1, 'https://h1.example/a', CAST(1.0 AS DOUBLE), ''
              UNION ALL
              SELECT 1, 'https://h' || i || '.example/' || p.s,
                     CAST(1.0 AS DOUBLE), ''
              FROM hosts, (VALUES ('a'), ('b')) p(s)
              WHERE i IN (2, 4, 5, 6, 7)
            ),
            logd AS (SELECT * FROM r0 UNION ALL SELECT * FROM r1)
            SELECT round,
                   CAST(row_number() OVER (
                     PARTITION BY round ORDER BY priority DESC, url ASC
                   ) AS INT) AS rank,
                   url, priority, date
            FROM logd
        """,
        # Anchor-derived outlinks under respect_nofollow: class 0 has
        # two resolved targets (dup + dotted dropped), class 1 keeps
        # only the clean anchor, classes 2/3 emit a NULL outer row.
        "outlink_discovery": """
            WITH g AS (
              SELECT o_orderkey AS k, o_orderkey % 4 AS cls FROM orders
            ),
            b AS (
              SELECT k, cls, 'https://ol' || (k % 20) || '.example' AS base
              FROM g
            ),
            e AS (
              SELECT base || '/p/' || k AS url, CAST(0 AS BIGINT) AS pos,
                     'https://ext' || (k % 5) || '.example/t/' || k
                       AS outlink
              FROM b WHERE cls = 0
              UNION ALL
              SELECT base || '/p/' || k, CAST(1 AS BIGINT),
                     base || '/rel/' || k
              FROM b WHERE cls = 0
              UNION ALL
              SELECT base || '/p/' || k, CAST(0 AS BIGINT),
                     base || '/ok/' || k
              FROM b WHERE cls = 1
              UNION ALL
              SELECT base || '/p/' || k, CAST(NULL AS BIGINT), NULL
              FROM b WHERE cls IN (2, 3)
            )
            SELECT url, pos, outlink FROM e
        """,
        # Robots-compliance roll-up: the planted flag law replayed
        # relationally over the same orders keys.
        "robots_compliance": """
            WITH g AS (
              SELECT o_orderkey AS k, o_orderkey % 25 AS h,
                     (o_orderkey % 10) < (o_orderkey % 25 % 11) AS ni,
                     o_orderkey % 7 = 0 AS nf
              FROM orders
            ),
            a AS (
              SELECT 'rc' || h || '.example' AS host,
                     COUNT(*) AS n_pages,
                     SUM(CASE WHEN ni THEN 1 ELSE 0 END) AS n_noindex,
                     SUM(CASE WHEN nf THEN 1 ELSE 0 END) AS n_nofollow
              FROM g GROUP BY h
            )
            SELECT host, CAST(n_pages AS BIGINT) AS n_pages,
                   CAST(n_noindex AS BIGINT) AS n_noindex,
                   CAST(n_nofollow AS BIGINT) AS n_nofollow,
                   ROUND(CAST(n_noindex AS DOUBLE) / n_pages, 6) + 0.0
                     AS noindex_rate
            FROM a
        """,
        # Gopher structural rules: every measured quantity per class
        # in closed form (class 1 trips symbol AND alpha, class 3
        # trips ellipsis AND symbol AND stop-words — the AND reports
        # false either way; only class 0 passes).
        "gopher_rules": """
            WITH g AS (
              SELECT doc_id, doc_id % 6 AS cls FROM documents
            )
            SELECT doc_id,
                   CAST(CASE cls WHEN 0 THEN 18 WHEN 1 THEN 8
                        WHEN 2 THEN 25 WHEN 3 THEN 15
                        WHEN 4 THEN 12 ELSE 5 END AS BIGINT) AS n_words,
                   CASE cls WHEN 1 THEN 0.5
                        WHEN 3 THEN ROUND(5.0/15, 6) + 0.0
                        ELSE 0.0 END AS symbol_ratio,
                   CASE cls WHEN 2 THEN 1.0 ELSE 0.0 END AS bullet_frac,
                   CASE cls WHEN 3 THEN 1.0 ELSE 0.0 END
                     AS ellipsis_frac,
                   CASE cls WHEN 1 THEN 0.5 WHEN 2 THEN 0.8
                        WHEN 4 THEN ROUND(2.0/12, 6) + 0.0
                        ELSE 1.0 END AS alpha_word_frac,
                   CAST(CASE cls WHEN 0 THEN 8 WHEN 1 THEN 4
                        WHEN 2 THEN 2 WHEN 3 THEN 1 WHEN 4 THEN 2
                        ELSE 0 END AS BIGINT) AS n_stopwords,
                   cls = 0 AS gopher_rules_ok
            FROM g
        """,
        # Link density: expected visible text and anchor chars per
        # class in closed form (class 0 nav shell: anchors 19 of 21
        # visible chars; class 1: one 9-char anchor).
        "link_density": """
            WITH g AS (
              SELECT o_orderkey AS k, o_orderkey % 3 AS cls FROM orders
            ),
            t AS (
              SELECT 'https://ld' || (k % 12) || '.example/p/' || k AS url,
                     CASE cls
                       WHEN 0 THEN CAST(19 AS BIGINT)
                       WHEN 1 THEN CAST(9 AS BIGINT)
                       ELSE CAST(0 AS BIGINT) END AS n_anchor_chars,
                     CASE cls
                       WHEN 0 THEN CAST(21 AS BIGINT)
                       WHEN 1 THEN CAST(length(
                         'Article number ' || k || ' prose.') + 10
                         AS BIGINT)
                       ELSE CAST(0 AS BIGINT) END AS n_text_chars
              FROM g
            )
            SELECT url, n_anchor_chars, n_text_chars,
                   CASE WHEN n_text_chars > 0
                        THEN ROUND(CAST(n_anchor_chars AS DOUBLE)
                                   / n_text_chars, 6) + 0.0
                        ELSE 0.0 END AS link_density
            FROM t
        """,
        # Blockword gate: the oracle tokenizes the planted text the
        # same way (whitespace after run-normalization, lowered) and
        # counts list members; class 2's 'zzqxy' is a non-match.
        "blockwords": r"""
            WITH d AS (
              SELECT doc_id, doc_id % 4 AS cls,
                     CASE doc_id % 4
                       WHEN 0 THEN text || ' zzqx'
                       WHEN 1 THEN 'ZZQX leading and QQZZV also ' || text
                       WHEN 2 THEN text || ' zzqxy'
                       ELSE text
                     END AS t
              FROM documents
            ),
            toks AS (
              SELECT doc_id,
                     unnest(string_split(trim(regexp_replace(
                       lower(t), '\s+', ' ', 'g')), ' ')) AS tok
              FROM d
            ),
            hits AS (
              SELECT doc_id,
                     CAST(SUM(CASE WHEN tok IN ('zzqx', 'qqzzv')
                                   THEN 1 ELSE 0 END) AS BIGINT)
                       AS n_blocked
              FROM toks GROUP BY doc_id
            )
            SELECT doc_id, n_blocked, n_blocked = 0 AS blockword_ok
            FROM hits
        """,
        # Visible text: each class's expected output constructed in
        # closed form ('\n' via chr(10)); n_lines = 1 + newline count.
        "visible_text": """
            WITH g AS (
              SELECT o_orderkey AS k, o_orderkey % 5 AS cls FROM orders
            ),
            t AS (
              SELECT k, cls,
                     'https://vt' || (k % 15) || '.example/d/' || k AS url,
                     CASE cls
                       WHEN 0 THEN 'Real content ' || k || '.'
                       WHEN 1 THEN 'Post ' || (k % 7) || chr(10)
                                   || 'Body text ' || k || '.'
                       WHEN 2 THEN 'Fish & Chips ' || k || ' <3 "q"'
                       WHEN 3 THEN 'a b ' || k || chr(10) || 'c'
                       ELSE 'Tail ' || k
                     END AS text
              FROM g
            )
            SELECT url, text,
                   CAST(length(text) AS BIGINT) AS n_chars,
                   CAST(CASE WHEN cls IN (1, 3) THEN 2 ELSE 1 END
                        AS BIGINT) AS n_lines
            FROM t
        """,
        # Composed page-gates crawl: round 0 = the six seeds (h0's
        # seed is on the suppress list but seeds are exempt), round 1
        # = /a of the odd hosts only (even seeds are nofollow so their
        # links never discover; every /deep is suppressed) at
        # default-budget x recency = 2.0 x 0.5 = 1.0 priority.
        "frontier_pagegates": """
            WITH hosts AS (SELECT CAST(range AS INT) AS i FROM range(0, 6)),
            r0 AS (
              SELECT 0 AS round,
                     'https://h' || i || '.example/s' AS url,
                     CAST(1.0 AS DOUBLE) AS priority,
                     '2023-06-02' AS date
              FROM hosts
            ),
            r1 AS (
              SELECT 1, 'https://h' || i || '.example/a',
                     CAST(1.0 AS DOUBLE), ''
              FROM hosts WHERE i % 2 = 1
            ),
            logd AS (SELECT * FROM r0 UNION ALL SELECT * FROM r1)
            SELECT round,
                   CAST(row_number() OVER (
                     PARTITION BY round ORDER BY priority DESC, url ASC
                   ) AS INT) AS rank,
                   url, priority, date
            FROM logd
        """,
        "host_backoff": """
            WITH g AS (
              SELECT i, i // 10 AS u, i % 10 AS k FROM range(30000) t(i)
            ),
            log AS (
              SELECT 'b' || u || '.example' AS host,
                     CAST(k * 100 + u % 7 AS DOUBLE) AS ts,
                     ((u + k) % ((u % 4) + 2)) <> 0 AS ok
              FROM g WHERE k < (u % 9) + 2
            ),
            tagged AS (
              SELECT host, ts, ok,
                     MAX(CASE WHEN ok THEN ts END)
                         OVER (PARTITION BY host) AS tok
              FROM log
            ),
            agg AS (
              SELECT host,
                     CAST(SUM(CASE WHEN NOT ok
                                    AND (tok IS NULL OR ts > tok)
                                   THEN 1 ELSE 0 END) AS INT) AS streak
              FROM tagged GROUP BY host
            )
            SELECT host, streak,
                   ROUND(GREATEST(0.25, 8.0 * POWER(0.5, streak)), 6)
                     + 0.0 AS politeness_budget
            FROM agg
        """,
        "dust_rules": _DUST_CTES + """
            SELECT alpha, beta, COUNT(*) AS support
            FROM oriented GROUP BY alpha, beta HAVING COUNT(*) >= 2
        """,
        "dust_apply": _DUST_CTES + """,
            rules AS (
              SELECT alpha, beta, COUNT(*) AS support
              FROM oriented GROUP BY alpha, beta HAVING COUNT(*) >= 2
            ),
            urls AS (SELECT DISTINCT url FROM pages),
            parts AS (
              SELECT url,
                     regexp_extract(url,
                         '^[a-zA-Z][a-zA-Z0-9+.-]*://', 0) AS auth
              FROM urls
            ),
            split_u AS (
              SELECT url, auth, substr(url, length(auth) + 1) AS rest
              FROM parts
            ),
            best AS (
              SELECT p.url, p.auth, p.rest, r.alpha, r.beta, r.support
              FROM split_u p LEFT JOIN rules r
                ON length(r.alpha) > 0 AND strpos(p.rest, r.alpha) > 0
              QUALIFY row_number() OVER (PARTITION BY p.url
                  ORDER BY r.support DESC NULLS LAST,
                           length(r.alpha) DESC, r.alpha, r.beta) = 1
            )
            SELECT url,
                   CASE WHEN alpha IS NULL THEN url
                        ELSE auth
                             || substr(rest, 1, strpos(rest, alpha) - 1)
                             || beta
                             || substr(rest,
                                       strpos(rest, alpha) + length(alpha))
                   END AS canonical_url,
                   COALESCE(support, 0) AS rule_support
            FROM best
        """,
        "mirror_hosts": """
            WITH full_m AS (
              SELECT CASE WHEN i % 40 < 20 THEN 'ma' ELSE 'mb' END
                       || (i // 40) || '.example' AS host,
                     (i // 40) * 100 + i % 20 AS sig
              FROM range(2000) t(i)
            ),
            partial_m AS (
              SELECT CASE WHEN i % 40 < 20 THEN 'pa' ELSE 'pb' END
                       || (i // 40) || '.example' AS host,
                     100000 + (i // 40) * 100 + i % 20
                       + ((i % 40) // 20) * 10 AS sig
              FROM range(1200) t(i)
            ),
            mega AS (
              SELECT 'noise' || lpad(CAST(i AS VARCHAR), 3, '0')
                       || '.example' AS host,
                     999999 AS sig
              FROM range(200) t(i)
            ),
            docs AS (
              SELECT * FROM full_m
              UNION ALL SELECT * FROM partial_m
              UNION ALL SELECT * FROM mega
            ),
            hs AS (SELECT DISTINCT host, sig FROM docs),
            sizes AS (SELECT host, COUNT(*) AS n FROM hs GROUP BY host),
            capped AS (
              SELECT host, sig FROM (
                SELECT host, sig, row_number() OVER (
                    PARTITION BY sig ORDER BY host) AS rn
                FROM hs
              ) WHERE rn <= 64
            ),
            prs AS (
              SELECT t1.host AS host_a, t2.host AS host_b
              FROM capped t1 JOIN capped t2
                ON t1.sig = t2.sig AND t1.host < t2.host
            ),
            shr AS (
              SELECT host_a, host_b, COUNT(*) AS shared
              FROM prs GROUP BY host_a, host_b HAVING COUNT(*) >= 2
            )
            SELECT s.host_a, s.host_b, s.shared, a.n AS n_a, b.n AS n_b,
                   ROUND(s.shared / (a.n + b.n - s.shared), 6) + 0.0
                     AS resemblance
            FROM shr s
            JOIN sizes a ON s.host_a = a.host
            JOIN sizes b ON s.host_b = b.host
            WHERE s.shared / (a.n + b.n - s.shared) >= 0.25
        """,
        "redirect_resolve": """
            WITH chains AS (
              SELECT c, (c % 5) + 1 AS ln, c % 7 = 0 AS cyc
              FROM range(1000) t(c)
            ),
            pos AS (
              SELECT c, ln, cyc, p
              FROM chains, range(6) r(p)
              WHERE p <= CASE WHEN cyc THEN ln ELSE ln - 1 END
            )
            SELECT 'https://r' || c || '.example/p' || p AS url,
                   CASE WHEN NOT cyc
                        THEN 'https://r' || c || '.example/p' || ln
                   END AS target,
                   NOT cyc AS resolved
            FROM pos
        """,
        "url_trap_flags": """
            WITH g AS (SELECT i FROM range(15000) t(i)),
            u AS (
              SELECT i, i % 6 AS v,
                     'https://h' || (i % 50) || '.example.org' ||
                     CASE i % 6
                       WHEN 0 THEN '/a/b/c' || i
                       WHEN 1 THEN '/seg/seg/seg/x' || i
                       WHEN 2 THEN '/d0/d1/d2/d3/d4/d5/d6/d7/d8/d9/d10/d11/d12/d13/d14/d15/d16'
                       WHEN 3 THEN '/p?k0=1&k1=1&k2=1&k3=1&k4=1&k5=1&k6=1&k7=1&k8=1'
                       WHEN 4 THEN '/p?PHPSESSID=' || i
                       ELSE '/p?tok=' || md5(CAST(i AS VARCHAR))
                     END AS url
              FROM g
            )
            SELECT url,
                   CAST(CASE v WHEN 0 THEN 3 WHEN 1 THEN 4 WHEN 2 THEN 17
                        ELSE 1 END AS INT) AS path_depth,
                   v = 1 AS seg_repeat,
                   CAST(CASE WHEN v IN (0, 1, 2) THEN 0
                        WHEN v = 3 THEN 9 ELSE 1 END AS INT) AS n_params,
                   v IN (4, 5) AS session_like,
                   v <> 0 AS trapped
            FROM u
        """,
        "robots_sitemaps": """
            WITH g AS (SELECT i FROM range(240) t(i))
            SELECT 'site' || i || '.example.org' AS host,
                   CAST(1 AS INT) AS pos,
                   'https://site' || i || '.example.org/sm-a.xml'
                       AS sitemap_url
            FROM g WHERE i % 2 = 0
            UNION ALL
            SELECT 'site' || i || '.example.org',
                   CAST(3 + CASE WHEN i % 2 = 0 THEN 1 ELSE 0 END AS INT),
                   'http://site' || i || '.example.org/sm-b.xml'
            FROM g WHERE i % 3 = 0
        """,
        "feed_parse": r"""
            WITH docs AS (
              SELECT 'https://s' || (o_custkey % 20) || '.example/feed.xml?id='
                       || o_orderkey AS feed_url,
                     CASE WHEN o_orderkey % 3 = 0 THEN
                       '<feed><entry><link rel="alternate" href="https://s'
                       || (o_custkey % 20) || '.example/e/' || o_orderkey
                       || '"/><published>' || strftime(o_orderdate, '%Y-%m-%d')
                       || 'T08:00:00Z</published><updated>2026-01-01T00:00:00Z'
                       || '</updated></entry>'
                       || '<entry><link href="https://s' || (o_custkey % 20)
                       || '.example/f/' || o_orderkey || '"/><updated>'
                       || strftime(o_orderdate, '%Y-%m-%d')
                       || 'T09:00:00Z</updated></entry>'
                       || '<entry><title>no link</title></entry></feed>'
                     ELSE
                       '<rss><channel><item><link>https://s' || (o_custkey % 20)
                       || '.example/a/' || o_orderkey
                       || '</link><pubDate>Mon, '
                       || lpad(CAST(day(o_orderdate) AS VARCHAR), 2, '0') || ' '
                       || (['Jan','Feb','Mar','Apr','May','Jun','Jul','Aug',
                            'Sep','Oct','Nov','Dec'])[month(o_orderdate)]
                       || ' ' || year(o_orderdate)
                       || ' 10:30:00 GMT</pubDate></item><item>' || chr(10)
                       || ' <link> https://s' || (o_custkey % 20)
                       || '.example/b/' || o_orderkey || '?x=1&amp;y=2 </link>'
                       || chr(10) || '<pubDate>not a date</pubDate></item>'
                       || '<item><guid>linkless-dropped</guid></item>'
                       || '</channel></rss>'
                     END AS xml
              FROM orders
            ),
            blocks AS (
              SELECT feed_url, 'rss' AS kind,
                     unnest(regexp_extract_all(xml,
                       '(?s)<item[\s>](.*?)</item\s*>', 1)) AS block
              FROM docs
              UNION ALL
              SELECT feed_url, 'atom' AS kind,
                     unnest(regexp_extract_all(xml,
                       '(?s)<entry[\s>](.*?)</entry\s*>', 1)) AS block
              FROM docs
            ),
            parsed AS (
              SELECT feed_url, kind,
                     replace(replace(replace(replace(replace(
                       CASE WHEN kind = 'rss' THEN
                         regexp_extract(block,
                           '(?s)<link\s*>\s*(.*?)\s*</link\s*>', 1)
                       ELSE
                         regexp_extract(block,
                           '(?s)<link[^>]*href\s*=\s*"([^"]*)"', 1)
                       END,
                       '&lt;', '<'), '&gt;', '>'), '&quot;', '"'),
                       '&apos;', ''''), '&amp;', '&') AS loc,
                     regexp_extract(block,
                       '(?s)<pubDate\s*>[^<]*?(\d{1,2}) ([A-Za-z]{3}) (\d{4})',
                       1) AS r_day,
                     regexp_extract(block,
                       '(?s)<pubDate\s*>[^<]*?(\d{1,2}) ([A-Za-z]{3}) (\d{4})',
                       2) AS r_mon,
                     regexp_extract(block,
                       '(?s)<pubDate\s*>[^<]*?(\d{1,2}) ([A-Za-z]{3}) (\d{4})',
                       3) AS r_yr,
                     regexp_extract(block,
                       '(?s)<published\s*>\s*(\d{4}-\d{2}-\d{2})', 1) AS a_pub,
                     regexp_extract(block,
                       '(?s)<updated\s*>\s*(\d{4}-\d{2}-\d{2})', 1) AS a_upd
              FROM blocks
            ),
            dated AS (
              SELECT feed_url, kind, loc,
                     CASE WHEN kind = 'rss' THEN
                       CASE WHEN r_day <> '' AND list_position(
                              ['Jan','Feb','Mar','Apr','May','Jun','Jul','Aug',
                               'Sep','Oct','Nov','Dec'], r_mon) IS NOT NULL
                            THEN r_yr || '-'
                                 || lpad(CAST(list_position(
                                      ['Jan','Feb','Mar','Apr','May','Jun',
                                       'Jul','Aug','Sep','Oct','Nov','Dec'],
                                      r_mon) AS VARCHAR), 2, '0')
                                 || '-' || lpad(r_day, 2, '0')
                            ELSE '' END
                       WHEN a_pub <> '' THEN a_pub
                       ELSE a_upd END AS pub_date
              FROM parsed
            )
            SELECT feed_url, kind, loc,
                   CASE WHEN pub_date <> '' THEN pub_date END AS pub_date
            FROM dated WHERE loc <> ''
        """,
        "sitemap_parse": r"""
            WITH docs AS (
              SELECT 'https://s' || (o_custkey % 20) || '.example/sitemap.xml?id='
                       || o_orderkey AS sitemap_url,
                     CASE WHEN o_orderkey % 10 = 0 THEN
                       '<sitemapindex><sitemap><loc>https://s' || (o_custkey % 20)
                       || '.example/sitemap-' || o_orderkey || '.xml</loc><lastmod>'
                       || strftime(o_orderdate, '%Y-%m-%d')
                       || '</lastmod></sitemap></sitemapindex>'
                     ELSE
                       '<?xml version="1.0"?><urlset><url><loc>https://s'
                       || (o_custkey % 20) || '.example/o/' || o_orderkey
                       || '</loc><lastmod>' || strftime(o_orderdate, '%Y-%m-%d')
                       || 'T12:00:00+00:00</lastmod><changefreq>'
                       || (['always','hourly','daily','weekly','monthly',
                           'yearly','sometimes'])[CAST(o_orderkey % 7 AS INT) + 1]
                       || '</changefreq><priority>'
                       || (['0.0','0.3','0.5','0.8','1.0','1.2'])[CAST(o_orderkey % 6 AS INT) + 1]
                       || '</priority></url><url>' || chr(10)
                       || ' <loc> https://s' || (o_custkey % 20) || '.example/p/'
                       || o_orderkey || '?a=1&amp;b=2 </loc>' || chr(10)
                       || '</url></urlset>'
                     END AS xml
              FROM orders
            ),
            blocks AS (
              SELECT sitemap_url, 'url' AS kind,
                     unnest(regexp_extract_all(xml,
                       '(?s)<url\s*>(.*?)</url\s*>', 1)) AS block
              FROM docs
              UNION ALL
              SELECT sitemap_url, 'sitemap' AS kind,
                     unnest(regexp_extract_all(xml,
                       '(?s)<sitemap\s*>(.*?)</sitemap\s*>', 1)) AS block
              FROM docs
            ),
            parsed AS (
              SELECT sitemap_url, kind,
                     replace(replace(replace(replace(replace(
                       regexp_extract(block, '(?s)<loc\s*>\s*(.*?)\s*</loc\s*>', 1),
                       '&lt;', '<'), '&gt;', '>'), '&quot;', '"'),
                       '&apos;', ''''), '&amp;', '&') AS loc,
                     regexp_extract(block,
                       '(?s)<lastmod\s*>\s*(\d{4}-\d{2}-\d{2})', 1) AS lastmod,
                     regexp_extract(block,
                       '(?s)<priority\s*>\s*([0-9]+(?:\.[0-9]+)?)', 1) AS prio,
                     lower(regexp_extract(block,
                       '(?s)<changefreq\s*>\s*([A-Za-z]+)', 1)) AS freq
              FROM blocks
            )
            SELECT sitemap_url, kind, loc,
                   CASE WHEN lastmod <> '' THEN lastmod END AS lastmod,
                   CASE WHEN prio <> '' THEN
                     least(greatest(CAST(prio AS DOUBLE), 0.0), 1.0)
                   END AS priority,
                   CASE WHEN freq IN ('always','hourly','daily','weekly',
                                      'monthly','yearly','never')
                        THEN freq END AS changefreq
            FROM parsed WHERE loc <> ''
        """,
        "line_dedup": """
            WITH synth AS (
              SELECT doc_id,
                     concat_ws(chr(10),
                       'Home | News | Sign in',
                       'title ' || doc_id,
                       substr(text, 1, 60),
                       '',
                       'promo ' || (doc_id % 3),
                       CASE WHEN doc_id % 2 = 0 THEN 'subscribe to our newsletter'
                            ELSE 'body ' || doc_id || ' unique tail' END,
                       'copyright ' || (doc_id % 5)) AS text
              FROM documents
            ),
            lines AS (
              SELECT doc_id, unnest(ls) AS line, generate_subscripts(ls, 1) AS pos
              FROM (SELECT doc_id, string_split(text, chr(10)) AS ls FROM synth)
            ),
            dups AS (
              SELECT line FROM lines WHERE trim(line) <> ''
              GROUP BY line HAVING COUNT(DISTINCT doc_id) >= 3
            ),
            kept AS (
              SELECT l.doc_id, l.pos, l.line FROM lines l
              WHERE NOT EXISTS (SELECT 1 FROM dups d WHERE d.line = l.line)
            ),
            reasm AS (
              SELECT doc_id, string_agg(line, chr(10) ORDER BY pos) AS clean_text,
                     CAST(COUNT(*) AS BIGINT) AS n_lines
              FROM kept GROUP BY doc_id
            )
            SELECT s.doc_id,
                   COALESCE(r.clean_text, '') AS clean_text,
                   CAST(COALESCE(r.n_lines, 0) AS BIGINT) AS n_lines,
                   CAST(len(string_split(s.text, chr(10))) - COALESCE(r.n_lines, 0)
                        AS BIGINT) AS n_removed
            FROM synth s LEFT JOIN reasm r USING (doc_id)
        """,
        "host_boilerplate": """
            WITH synth AS (
              SELECT doc_id,
                     'h' || (doc_id % 37) AS host,
                     concat_ws(chr(10),
                       'nav h' || (doc_id % 37),
                       'promo ' || (doc_id % 3),
                       substr(text, 1, 60),
                       '',
                       CASE WHEN doc_id % 2 = 0
                            THEN 'copyright h' || (doc_id % 37)
                            ELSE 'body ' || doc_id || ' unique tail' END
                       ) AS text
              FROM documents
            ),
            hd AS (
              SELECT host, COUNT(DISTINCT doc_id) AS host_docs
              FROM synth GROUP BY host
            ),
            lines AS (
              SELECT doc_id, host, unnest(ls) AS line,
                     generate_subscripts(ls, 1) AS pos
              FROM (SELECT doc_id, host, string_split(text, chr(10)) AS ls
                    FROM synth)
            ),
            rem AS (
              SELECT l.host, l.line
              FROM lines l JOIN hd USING (host)
              WHERE trim(l.line) <> ''
              GROUP BY l.host, l.line, hd.host_docs
              HAVING COUNT(DISTINCT l.doc_id) >= 2
                 AND hd.host_docs >= 2
                 AND 100 * COUNT(DISTINCT l.doc_id) >= 30 * hd.host_docs
            ),
            kept AS (
              SELECT l.doc_id, l.pos, l.line FROM lines l
              WHERE NOT EXISTS (SELECT 1 FROM rem r
                                WHERE r.host = l.host AND r.line = l.line)
            ),
            reasm AS (
              SELECT doc_id, string_agg(line, chr(10) ORDER BY pos) AS clean_text,
                     CAST(COUNT(*) AS BIGINT) AS n_lines
              FROM kept GROUP BY doc_id
            )
            SELECT s.doc_id, s.host,
                   COALESCE(r.clean_text, '') AS clean_text,
                   CAST(COALESCE(r.n_lines, 0) AS BIGINT) AS n_lines,
                   CAST(len(string_split(s.text, chr(10))) - COALESCE(r.n_lines, 0)
                        AS BIGINT) AS n_removed
            FROM synth s LEFT JOIN reasm r USING (doc_id)
        """,
        "warc_roundtrip": """
            WITH recs AS (
              SELECT doc_id,
                     'https://warc.example/' || lang || '/doc-' ||
                       CAST(doc_id AS VARCHAR) AS url,
                     TIMESTAMP '2024-01-01 00:00:00'
                       + doc_id * INTERVAL 1 SECOND AS warc_ts,
                     '<html><body><p>' || text || '</p></body></html>' AS body
              FROM documents
            )
            SELECT doc_id, url, warc_ts,
                   CAST(200 AS INT) AS http_status,
                   'text/html; charset=utf-8' AS http_content_type,
                   CAST(strlen(body) AS BIGINT) AS n_bytes,
                   md5(body) AS body_md5
            FROM recs
        """,
        "wet_roundtrip": """
            SELECT doc_id,
                   'https://wet.example/' || lang || '/doc-' ||
                     CAST(doc_id AS VARCHAR) AS url,
                   TIMESTAMP '2024-01-01 00:00:00'
                     + doc_id * INTERVAL 1 SECOND AS warc_ts,
                   CAST(length(text) AS BIGINT) AS n_chars,
                   md5(text) AS text_md5
            FROM documents
        """,
        # WAT envelope metadata: every field a closed-form function of
        # doc_id — including strlen of the FULL planted page, so a
        # single byte of drift in the Spark-side synthesis or decode
        # breaks payload_len. The content-before-name meta and the
        # no-href anchor are planted distractors the extractor must
        # skip; they appear only inside the strlen reconstruction.
        "wat_metadata": _WAT_ENVELOPE_SQL,
        # Same closed form: the roundtrip must reproduce the direct
        # extraction bit-for-bit after JSON serialize → gzip → WARC →
        # from_json.
        "wat_roundtrip": _WAT_ENVELOPE_SQL,
        "warc_curate": """
            WITH t AS (
              SELECT doc_id, lang, text,
                     CAST('0x' || substr(md5('5:' || CAST(doc_id AS VARCHAR)), 1, 15) AS BIGINT)
                       / 1152921504606846976.0 AS u,
                     CASE lang WHEN 'en' THEN 1.0 WHEN 'de' THEN 0.5
                          ELSE 0.1 END AS frac
              FROM documents
            )
            SELECT doc_id, lang,
                   CAST(len(string_split(trim(regexp_replace(text, '\\s+', ' ', 'g')), ' ')) AS BIGINT) AS n_tok,
                   md5(text) AS text_md5
            FROM t WHERE u < frac
        """,
        # RFC 9111 TTL derivation replayed in closed form from the
        # same arithmetic that synthesized the fetch log (directive
        # precedence: no-store/no-cache > s-maxage > max-age >
        # Expires > heuristic > default; explicit capped at 1 y,
        # heuristic floor(age/10) clamped [60, 30 d]).
        "cache_ttl": """
            WITH g AS (SELECT i FROM range(20000) t(i)),
            f AS (
              SELECT i, 1000000 + i * 7 AS fts FROM g
            ),
            d AS (
              SELECT i, fts,
                CASE
                  WHEN i % 7 = 0 THEN 0
                  WHEN i % 7 = 1 THEN 0
                  WHEN i % 7 = 3 THEN least(i % 500, 31536000)
                  WHEN i % 7 = 2 THEN least((i % 1000) * 10, 31536000)
                  WHEN i % 3 = 0 THEN
                       least(greatest((i % 2000) - 500, 0), 31536000)
                  WHEN i % 2 = 0 AND 3 * i > 0 THEN
                       least(greatest(
                         CAST(floor((3 * i) / 10.0) AS BIGINT), 60),
                         2592000)
                  ELSE 86400
                END AS ttl,
                CASE
                  WHEN i % 7 = 0 THEN 'no-store'
                  WHEN i % 7 = 1 THEN 'no-cache'
                  WHEN i % 7 = 3 THEN 's-maxage'
                  WHEN i % 7 = 2 THEN 'max-age'
                  WHEN i % 3 = 0 THEN 'expires'
                  WHEN i % 2 = 0 AND 3 * i > 0 THEN 'heuristic'
                  ELSE 'default'
                END AS src
              FROM f
            )
            SELECT 'https://c' || (i % 40) || '.example/p/' || i AS url,
                   CAST(fts AS BIGINT) AS fetch_ts,
                   CAST(ttl AS BIGINT) AS ttl_s,
                   CAST(fts + ttl AS BIGINT) AS fresh_until,
                   (i % 5 = 0 OR i % 2 = 0) AS has_validator,
                   src AS ttl_source
            FROM d
        """,
        # the revalidation planner's one groupBy replayed directly
        "revalidation_plan": """
            WITH g AS (
              SELECT i, i // 8 AS u, i % 8 AS k FROM range(40000) t(i)
              WHERE i % 8 < (i // 8) % 7 + 2
            ),
            h AS (
              SELECT 'https://r' || u || '.example/d' AS url,
                     1000 + k * 100 + u % 13 AS ts,
                     CASE WHEN k > 0 AND (u + k) % 3 = 0
                          THEN 304 ELSE 200 END AS status,
                     CASE WHEN k > 0 AND (u + k) % 3 = 0 THEN 0
                          ELSE (k + 1) * 1000 + (u % 11) * 7 END AS nbytes,
                     (u % 4 <> 0 OR u % 5 = 0) AS has_val
              FROM g
            ),
            a AS (
              SELECT url, COUNT(*) AS n_fetches,
                     SUM(CASE WHEN status = 304 THEN 1 ELSE 0 END) AS n304,
                     SUM(CASE WHEN status = 200 THEN nbytes ELSE 0 END)
                         AS btot,
                     SUM(CASE WHEN status = 200 THEN 1 ELSE 0 END) AS n200,
                     MAX(ts) AS last_ts,
                     bool_or(has_val) AS hv
              FROM h GROUP BY url
            ),
            b AS (
              SELECT url, n_fetches, n304, last_ts, hv,
                     CASE WHEN n_fetches > 1 THEN
                          CAST(n304 AS DOUBLE) / (n_fetches - 1) END AS rate,
                     CAST(CASE WHEN n200 > 0 THEN
                          floor(CAST(btot AS DOUBLE) / n200)
                          ELSE 0 END AS BIGINT) AS avg_body
              FROM a
            )
            SELECT url,
                   CAST(n_fetches AS INT) AS n_fetches,
                   CAST(n304 AS INT) AS n_not_modified,
                   ROUND(rate, 6) + 0.0 AS revalidate_rate,
                   avg_body AS avg_body_bytes,
                   CASE WHEN hv THEN 'conditional' ELSE 'full' END AS mode,
                   CAST(CASE WHEN hv THEN
                        floor(CAST(avg_body AS DOUBLE)
                              * (1.0 - coalesce(rate, 0.0)))
                        ELSE avg_body END AS BIGINT) AS est_fetch_bytes,
                   CAST(last_ts AS BIGINT) AS last_fetch_ts
            FROM b
        """,
        # HLL: replay plans/sketches.py's exact register law — index =
        # first 2 hex chars of md5 (p=8), rank word = next 13 hex chars
        # (52 bits), rho = 53 - bit_length — and the exact-integer
        # indicator numerator; alpha_m*m^2*2^53 is the identical Python
        # double literal on both engines.
        "hll_host_distinct": f"""
            WITH base AS (SELECT i FROM range(120000) t(i)),
            urls AS (
              SELECT 'h' || (i % 40) || '.example' AS key,
                     'https://h' || (i % 40) || '.example/p/' ||
                       ((i // 40) % (250 + ((i % 40) % 4) * 900)) AS url
              FROM base
            ),
            regs AS (
              SELECT key,
                     CAST('0x' || substr(md5(url), 1, 2) AS BIGINT) % 256
                         AS register,
                     CASE WHEN CAST('0x' || substr(md5(url), 3, 13)
                                    AS BIGINT) = 0 THEN 53
                          ELSE 53 - length(bin(CAST(
                                 '0x' || substr(md5(url), 3, 13)
                                 AS BIGINT)))
                     END AS rho
              FROM urls
            ),
            mx AS (
              SELECT key, register, MAX(rho) AS rho
              FROM regs GROUP BY key, register
            ),
            agg AS (
              SELECT key,
                     CAST(COUNT(*) AS BIGINT) AS n_registers,
                     CAST(SUM(CAST(1 AS BIGINT) << (53 - rho))
                          AS BIGINT) AS z_hit
              FROM mx GROUP BY key
            ),
            est AS (
              SELECT key, n_registers,
                     z_hit + (256 - n_registers)
                             * (CAST(1 AS BIGINT) << 53) AS z_num
              FROM agg
            )
            SELECT key, n_registers, z_num,
                   ROUND(CASE WHEN (256 - n_registers) > 0
                               AND {_HLL_ALPHA_NUM!r}
                                   / CAST(z_num AS DOUBLE) <= 640.0
                              THEN 256.0 * ln(256.0 /
                                   CAST(256 - n_registers AS DOUBLE))
                              ELSE {_HLL_ALPHA_NUM!r}
                                   / CAST(z_num AS DOUBLE)
                         END, 6) + 0.0 AS est_distinct
            FROM est
        """,
        # CMS: replay the d=4 x w=1024 cell law (first 7 hex chars of
        # md5('row:host') mod w), the cell-sum sketch, and the min-over-
        # rows point estimate; is_heavy is the phi=1% screen.
        "cms_heavy_hosts": """
            WITH base AS (SELECT i FROM range(60000) t(i)),
            logf AS (
              SELECT 'h' || (CASE WHEN i % 3 < 2 THEN i % 5
                                  ELSE i % 997 END)
                         || '.example' AS host
              FROM base
            ),
            hrows AS (SELECT r FROM range(4) t(r)),
            cells AS (
              SELECT r.r AS hrow,
                     CAST('0x' || substr(md5(r.r || ':' || l.host), 1, 7)
                          AS BIGINT) % 1024 AS col
              FROM logf l CROSS JOIN hrows r
            ),
            sketch AS (
              SELECT hrow, col, CAST(COUNT(*) AS BIGINT) AS cnt
              FROM cells GROUP BY hrow, col
            ),
            cand AS (SELECT DISTINCT host FROM logf),
            probes AS (
              SELECT c.host AS key, r.r AS hrow,
                     CAST('0x' || substr(md5(r.r || ':' || c.host), 1, 7)
                          AS BIGINT) % 1024 AS col
              FROM cand c CROSS JOIN hrows r
            ),
            est AS (
              SELECT key,
                     CAST(MIN(COALESCE(s.cnt, 0)) AS BIGINT) AS est_count
              FROM probes p LEFT JOIN sketch s USING (hrow, col)
              GROUP BY key
            )
            SELECT key, est_count, est_count >= 600 AS is_heavy
            FROM est
        """,
    }
