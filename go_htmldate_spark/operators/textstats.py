"""Text-analysis operators for a large-scale training-data pipeline.

All hot-path expressions are native Catalyst (whole-stage codegen, no
Python): language-ID by marker-word hits, quality scoring from
length/punctuation/stopword ratios, token counting (whitespace + a
BPE-ish regex split), and md5 document fingerprinting over normalized
text. Each has an exact ANSI-SQL oracle (see __spark_entry__.py).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# small deterministic marker-word sets per language (n-gram-heuristic
# stand-in; the point is the distributed plumbing, not NLP quality)
LANG_MARKERS: dict[str, list[str]] = {
    "en": ["the", "and", "of", "to", "in", "is", "that", "for", "with", "on"],
    "de": ["der", "die", "das", "und", "nicht", "ist", "ein", "mit", "für", "auf"],
    "fr": ["le", "la", "les", "et", "est", "pour", "dans", "que", "une", "des"],
    "tr": ["ve", "bir", "bu", "için", "ile", "olarak", "daha", "gibi", "çok", "en"],
    "id": ["yang", "dan", "di", "itu", "dengan", "untuk", "tidak", "ini", "dari", "akan"],
}

STOPWORDS = LANG_MARKERS["en"]


def tokens(text: Column) -> Column:
    """Whitespace tokenization (normalize runs first)."""
    return F.split(F.trim(F.regexp_replace(text, r"\s+", " ")), " ")


def token_count(text: Column) -> Column:
    return F.size(tokens(text))


def bpe_ish_token_count(text: Column) -> Column:
    """Sub-word-ish token count: letter runs / digit runs / single symbols
    (GPT-2-ish boundary classes), cheap proxy for BPE token budgeting.
    regexp_extract_all so the same RE2 pattern runs in the DuckDB oracle."""
    return F.size(
        F.regexp_extract_all(text, F.lit(r"[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9\s]"), 0)
    )


def text_stats_struct(text: Column) -> Column:
    """All token-derived counters in ONE pass: a single aggregate() fold
    with a struct accumulator. Interpreted HOFs get no common-subexpression
    elimination, so deriving each stat separately re-tokenizes per stat —
    this computes (n_tok, tok_chars, n_stop) in one traversal and punct
    from one regexp."""
    norm = F.trim(F.regexp_replace(text, r"\s+", " "))
    n_tok = F.size(F.split(norm, " "))
    # sum of token lengths == normalized length minus separator spaces
    tok_chars = F.length(F.replace(norm, F.lit(" "), F.lit("")))
    n_stop = F.size(F.filter(F.split(F.lower(norm), " "), lambda t: t.isin(STOPWORDS)))
    n_chars = F.length(text)
    n_punct = n_chars - F.length(F.regexp_replace(text, r"[\pP]", ""))
    return F.struct(
        n_tok.alias("n_tok"),
        tok_chars.alias("tok_chars"),
        n_stop.alias("n_stop"),
        n_chars.alias("n_chars"),
        n_punct.alias("n_punct"),
    )


def quality_from_stats(s: Column) -> Column:
    """Quality formula over a text_stats_struct (shared with the DuckDB
    oracle formula bit-for-bit)."""
    n_tok = s["n_tok"].cast("double")
    punct = F.when(
        s["n_chars"] > 0, s["n_punct"].cast("double") / s["n_chars"].cast("double")
    ).otherwise(F.lit(0.0))
    wl = F.when(s["n_tok"] > 0, s["tok_chars"].cast("double") / n_tok).otherwise(
        F.lit(0.0)
    )
    len_score = F.least(n_tok / F.lit(100.0), F.lit(1.0))
    punct_penalty = F.greatest(F.lit(0.0), F.lit(1.0) - punct * 4)
    wl_score = F.when((wl >= 3) & (wl <= 10), F.lit(1.0)).otherwise(F.lit(0.5))
    return F.round(len_score * punct_penalty * wl_score, 6)


def _marker_pred(markers: list[str]):
    # NB: a (t, m=markers) default-arg lambda would make PySpark bind the
    # array *index* into m (2-arg HOF form) — build the closure explicitly
    return lambda t: t.isin(markers)


def lang_scores(text: Column) -> list[tuple[str, Column]]:
    toks = tokens(F.lower(text))
    out = []
    for lang, markers in LANG_MARKERS.items():
        hits = F.size(F.filter(toks, _marker_pred(markers)))
        out.append((lang, hits))
    return out


def lang_id(text: Column) -> Column:
    """argmax over marker-hit counts; ties break by language order (en
    first) — deterministic."""
    scores = lang_scores(text)
    pairs = F.array(
        *[F.struct(hits.alias("hits"), F.lit(i).alias("ord"), F.lit(lang).alias("lang"))
          for i, (lang, hits) in enumerate(scores)]
    )
    best = F.array_max(
        F.transform(
            pairs,
            lambda p: F.struct(
                p["hits"].alias("hits"), (-p["ord"]).alias("nord"), p["lang"].alias("lang")
            ),
        )
    )
    return F.when(best["hits"] > 0, best["lang"]).otherwise(F.lit("unknown"))


def fingerprint(text: Column) -> Column:
    """Document fingerprint: md5 of lowercased, whitespace-normalized text
    (md5 so DuckDB can oracle it bit-for-bit)."""
    return F.md5(F.lower(F.trim(F.regexp_replace(text, r"\s+", " "))))


def with_text_stats(df: DataFrame, text_col: str = "text") -> DataFrame:
    t = F.col(text_col)
    s = F.col("_ts")
    # explode-of-one is a Generate node: it evaluates the stats struct
    # exactly once per row; a plain withColumn would be collapsed back
    # into every downstream reference by CollapseProject
    return (
        df.select("*", F.explode(F.array(text_stats_struct(t))).alias("_ts"))
        .select(
            "*",
            s["n_tok"].cast("long").alias("n_tokens"),
            F.round(
                F.when(
                    s["n_chars"] > 0,
                    s["n_punct"].cast("double") / s["n_chars"].cast("double"),
                ).otherwise(F.lit(0.0)),
                6,
            ).alias("punct_ratio"),
            F.round(
                F.when(
                    s["n_tok"] > 0,
                    s["n_stop"].cast("double") / s["n_tok"].cast("double"),
                ).otherwise(F.lit(0.0)),
                6,
            ).alias("stopword_ratio"),
            quality_from_stats(s).alias("quality"),
            lang_id(t).alias("lang_pred"),
            fingerprint(t).alias("fp"),
        )
        .drop("_ts")
    )


# ---------------------------------------------------------------------------
# Gopher/MassiveText-style repetition quality signals
# ---------------------------------------------------------------------------

def word_ngrams(text_col: str, n: int) -> Column:
    """Word n-grams over whitespace tokens (normalized, lowercased) as
    an array of space-joined strings — native HOFs, no Python.

    The token array is BOUND ONCE through a single-element transform
    lambda (`transform(array(toks), t -> …)[first]`): spelling the
    split chain inline put it inside the per-gram lambda, where it
    re-tokenized the whole document for EVERY emitted gram — O(len²)
    per doc (the r06 collocations plan showed the full
    split(lower(trim(regexp_replace(…)))) under the inner lambda).
    A lambda variable is a bound value, so each row now tokenizes
    exactly once. Same grams out."""
    toks = (
        f"split(lower(trim(regexp_replace({text_col}, '\\\\s+', ' '))), ' ')"
    )
    if n == 1:
        return F.expr(toks)
    return F.expr(
        f"""
        element_at(transform(array({toks}), t ->
            CASE WHEN size(t) >= {n}
            THEN transform(sequence(1, size(t) - {n - 1}),
                           i -> concat_ws(' ', slice(t, i, {n})))
            ELSE array() END), 1)
        """
    )


def gopher_repetition(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_top_frac: dict[int, float] | None = None,
) -> DataFrame:
    """Repetition-based quality signals in the style of the Gopher /
    MassiveText filtering rules (Rae et al. 2021, arXiv:2112.11446,
    table A1): the fraction of the document taken by its most frequent
    word n-gram, for n = 2, 3, 4, plus the duplicate-word fraction.
    `gopher_ok` applies the paper's published thresholds (top 2-gram
    <= 0.20, 3-gram <= 0.18, 4-gram <= 0.16). Documents here are
    single-line, so the line-level rules degenerate and the word-level
    family is the meaningful subset.

    Scale shape: ALL n-gram sizes ride ONE exploded stream tagged by n,
    so the whole computation is a single hash exchange on
    (id, n, gram) + a map-side-combined re-aggregation to (id, n) —
    fractions need only the max and total counts per (doc, n), never
    the argmax gram, so no window/tie-break is involved.

    Gram generation is posexplode + lead() windows + stack, NOT
    array-lambda HOFs: transform/slice/concat_ws lambdas fall out of
    whole-stage codegen and evaluate interpreted per gram (measured
    ~16 us/gram — 10.6 s for 21M grams at 32 cores), while the window
    form runs codegen'd (2.6 s on the same input, identical rows). The
    window's exchange is on id, the same key the gram aggregation needs
    anyway."""
    from pyspark.sql import Window

    thresholds = max_top_frac or {2: 0.20, 3: 0.18, 4: 0.16}

    toks_df = df.select(
        F.col(id_col),
        F.expr(
            f"split(lower(trim(regexp_replace({text_col}, '\\\\s+', ' '))), ' ')"
        ).alias("_t"),
    )
    tok = toks_df.select(F.col(id_col), F.posexplode("_t").alias("pos", "w"))
    w = Window.partitionBy(id_col).orderBy("pos")
    l1, l2, l3 = (F.lead("w", i).over(w) for i in (1, 2, 3))
    wide_grams = tok.select(
        F.col(id_col),
        F.col("w").alias("g1"),
        F.when(l1.isNotNull(), F.concat_ws(" ", "w", l1)).alias("g2"),
        F.when(l2.isNotNull(), F.concat_ws(" ", "w", l1, l2)).alias("g3"),
        F.when(l3.isNotNull(), F.concat_ws(" ", "w", l1, l2, l3)).alias("g4"),
    )
    grams = wide_grams.select(
        F.col(id_col),
        F.expr("stack(4, 1, g1, 2, g2, 3, g3, 4, g4) AS (n, gram)"),
    ).filter(F.col("gram").isNotNull())

    per_gram = grams.groupBy(id_col, "n", "gram").agg(
        F.count(F.lit(1)).alias("c")
    )
    per_doc = per_gram.groupBy(id_col, "n").agg(
        F.max("c").alias("mx"),
        F.sum("c").alias("tot"),
        F.count(F.lit(1)).alias("n_distinct"),
    )
    frac = (F.col("mx") / F.col("tot")).cast("double")
    wide = (
        per_doc.groupBy(id_col)
        .pivot("n", [1, 2, 3, 4])
        .agg(
            F.first(F.round(frac, 6)).alias("top_frac"),
            F.first(F.col("n_distinct") / F.col("tot")).alias("uniq_frac"),
        )
    )
    out = wide.select(
        F.col(id_col),
        F.col("2_top_frac").alias("top_2gram_frac"),
        F.col("3_top_frac").alias("top_3gram_frac"),
        F.col("4_top_frac").alias("top_4gram_frac"),
        F.round(1.0 - F.col("1_uniq_frac"), 6).alias("dup_word_frac"),
    )
    ok = (
        (F.coalesce(F.col("top_2gram_frac"), F.lit(0.0)) <= thresholds[2])
        & (F.coalesce(F.col("top_3gram_frac"), F.lit(0.0)) <= thresholds[3])
        & (F.coalesce(F.col("top_4gram_frac"), F.lit(0.0)) <= thresholds[4])
    )
    return out.withColumn("gopher_ok", ok)


def collocations(
    df: DataFrame,
    min_count: int = 5,
    text_col: str = "text",
) -> DataFrame:
    """Bigram collocation mining by lift — the corpus-QA operator that
    surfaces boilerplate phrases ("all rights reserved", "click here
    to") and template residue a per-document quality gate can't see.

    Association is Church & Hanks' pointwise mutual information
    (Computational Linguistics 16(1), 1990) reported as LIFT
    (n_pair * N) / (n_w1 * n_w2) — PMI's argument before the log — so
    the value is one IEEE double division of exact integer counts,
    bit-identical in any engine (no libm log in the contract).

    Scale shape: gram generation is MAP-ONLY (word_ngrams' native
    transform/slice HOFs — no window, no doc-id exchange); the plan
    pays exactly two hash exchanges, one per count table (unigrams,
    bigrams), both map-side combined. The min_count gate runs on the
    bigram AGGREGATE, so the surviving collocation set is kilobytes and
    BROADCASTS into the two unigram-count joins — the O(vocab) unigram
    table streams map-only through both, never reshuffled.

    Returns (w1, w2, n_pair, n_w1, n_w2, lift); tokens lowercased on
    the engine's whitespace law. Reference: no analog in go-htmldate;
    complements gopher_repetition (per-doc repetition) with the
    corpus-level phrase statistic.
    """
    uni = df.select(F.explode(word_ngrams(text_col, 1)).alias("w"))
    uc = uni.groupBy("w").agg(F.count(F.lit(1)).alias("n_w"))
    tot = uni.agg(F.count(F.lit(1)).alias("_total"))

    bc = (
        df.select(F.explode(word_ngrams(text_col, 2)).alias("bg"))
        .groupBy("bg")
        .agg(F.count(F.lit(1)).alias("n_pair"))
        .filter(F.col("n_pair") >= F.lit(int(min_count)))
        .select(
            F.substring_index(F.col("bg"), " ", 1).alias("w1"),
            F.substring_index(F.col("bg"), " ", -1).alias("w2"),
            "n_pair",
        )
    )
    with_w1 = uc.join(
        F.broadcast(bc), uc["w"] == bc["w1"]
    ).select("w1", "w2", "n_pair", F.col("n_w").alias("n_w1"))
    with_w2 = uc.join(
        F.broadcast(with_w1), uc["w"] == with_w1["w2"]
    ).select("w1", "w2", "n_pair", "n_w1", F.col("n_w").alias("n_w2"))
    return with_w2.crossJoin(F.broadcast(tot)).select(
        "w1", "w2", "n_pair", "n_w1", "n_w2",
        (
            (F.col("n_pair").cast("double") * F.col("_total"))
            / (F.col("n_w1").cast("double") * F.col("n_w2"))
        ).alias("lift"),
    )
