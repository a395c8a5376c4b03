"""Mergeable cardinality and frequency sketches for frontier sizing.

Two classic streaming sketches, restated as exact-integer Spark
aggregation laws so every register and counter is bit-reproducible
under any partitioning and replayable in portable SQL:

1. **HyperLogLog host-cardinality registers** (Flajolet, Fusy,
   Gandouet & Meunier, AofA'07 "HyperLogLog: the analysis of a
   near-optimal cardinality estimation algorithm").  The frontier
   needs per-host distinct-URL sizes to seed politeness budgets
   (plans/budget.water_fill_budgets takes a per-host demand) and to
   decide recrawl depth — but an exact COUNT(DISTINCT url) per host
   shuffles every URL string.  ``hll_registers`` reduces each
   partition to at most m=2^p (host, register, rho) rows BEFORE the
   exchange (partial max combines map-side), so the shuffle carries
   O(hosts x m) three-int rows instead of 10^10 URLs.  Registers are
   MERGEABLE: union + max re-aggregates sketches from two crawl
   snapshots without re-reading either corpus — the property exact
   distinct counts lack.  The hash law is the repo's portable md5
   split (operators/dedup.md5_h1): register index = first 2 hex chars
   (p=8, m=256), rank word = next 13 hex chars (52 bits), rho =
   53 - bit_length(word) — pure integer algebra both engines compute
   identically.  The indicator sum Z = sum_j 2^-rho_j is carried as
   the EXACT integer numerator z_num = sum_j 2^(53 - rho_j) (+ 2^53
   per never-hit register), bounded by m * 2^53 < 2^62: addition is
   associative, so z_num is bit-identical under any partitioning and
   fold order, and only the final alpha_m * m^2 * 2^53 / z_num
   division (plus the small-range linear-counting branch
   m * ln(m / V), Flajolet et al. section 4) touches doubles —
   rounded to 6 places like every float the oracle gate hashes.

2. **Count-Min frequency sketch** (Cormode & Muthukrishnan,
   J. Algorithms 55(1) 2005).  Heavy-host detection
   (plans/scheduler.py's salting trigger) wants per-host frequencies
   from a 10^10-row fetch log without a full host groupBy; the CM
   sketch is d x w counters cnt[j][h_j(host)] += 1 — sums, so the
   partial agg collapses every partition to at most d*w rows before
   the exchange: the shuffle payload is O(partitions x d x w)
   REGARDLESS of input size, and sketches from two logs merge by
   cell-wise addition.  Point estimates min over the d rows
   (one-sided: est >= true count, est <= true + e*N/w w.p. 1-2^-d).

Reference: no analog (go-htmldate has no frontier); the sketches feed
the same budget tables (plans/budget.py, plans/scheduler.py step 5)
the exact counters feed, at a fraction of the exchange cost.
"""

from __future__ import annotations

import math

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# 52-bit rank word => rho in [1, 53]; 2^53 is the "empty register"
# indicator weight, so z_num <= m * 2^53 < 2^62 fits a long exactly.
_RANK_BITS = 52


def _hll_alpha(m: int) -> float:
    """Flajolet et al. AofA'07 Table 1 bias correction."""
    if m == 16:
        return 0.673
    if m == 32:
        return 0.697
    if m == 64:
        return 0.709
    return 0.7213 / (1.0 + 1.079 / m)


def hll_register_cols(item: Column, p: int = 8) -> tuple[Column, Column]:
    """(register index, rho) for one item under the portable md5 law.

    index = first ceil(p/4) hex chars of md5 mod 2^p; rank word = the
    NEXT 13 hex chars (52 bits, disjoint from the index bits); rho =
    53 - bit_length(word), with the word-zero case pinned to 53.
    bit_length via length(bin(x)) — both Spark and DuckDB print
    binary without leading zeros ('0' for zero, length 1).
    """
    hexdig = F.md5(item)
    idx_chars = (p + 3) // 4
    idx = (
        F.conv(F.substring(hexdig, 1, idx_chars), 16, 10).cast("int")
        % F.lit(1 << p)
    )
    word = F.conv(
        F.substring(hexdig, idx_chars + 1, 13), 16, 10
    ).cast("long")
    rho = F.when(word == 0, F.lit(_RANK_BITS + 1)).otherwise(
        F.lit(_RANK_BITS + 1) - F.length(F.bin(word))
    )
    return idx.alias("register"), rho.cast("int").alias("rho")


def hll_registers(
    df: DataFrame,
    key_col: str = "host",
    item_col: str = "url",
    p: int = 8,
) -> DataFrame:
    """Per-key HLL register table (key, register, rho) — at most 2^p
    rows per key, max-combined map-side so the exchange never carries
    items.  Mergeable: union two register tables and re-aggregate by
    max — max is idempotent/associative/commutative."""
    idx, rho = hll_register_cols(F.col(item_col), p=p)
    return (
        df.select(F.col(key_col).alias("key"), idx, rho)
        .groupBy("key", "register")
        .agg(F.max("rho").alias("rho"))
    )


def hll_estimate(registers: DataFrame, p: int = 8) -> DataFrame:
    """Register table -> (key, n_registers, z_num, est_distinct).

    n_registers (hit registers) and z_num (the exact integer indicator
    numerator) are the hash-exact carriers; est_distinct is the one
    double: raw = alpha_m * m^2 * 2^53 / z_num, switched to linear
    counting m * ln(m / V) when raw <= 2.5m and V = m - n_registers
    empty registers remain (Flajolet et al. section 4), rounded to 6.
    """
    m = 1 << p
    alpha = _hll_alpha(m)
    scale = 1 << (_RANK_BITS + 1)  # 2^53
    regs = registers.groupBy("key").agg(
        F.count("*").cast("long").alias("n_registers"),
        F.sum(
            F.expr(f"shiftleft(1L, {_RANK_BITS + 1} - rho)")
        ).cast("long").alias("z_hit"),
    )
    z_num = (
        F.col("z_hit")
        + (F.lit(m).cast("long") - F.col("n_registers")) * F.lit(scale).cast("long")
    )
    raw = F.lit(alpha * m * m * float(scale)) / z_num.cast("double")
    v = F.lit(m).cast("long") - F.col("n_registers")
    linear = F.lit(float(m)) * F.log(F.lit(float(m)) / v.cast("double"))
    est = F.when((v > 0) & (raw <= F.lit(2.5 * m)), linear).otherwise(raw)
    return regs.select(
        "key",
        "n_registers",
        z_num.alias("z_num"),
        F.round(est, 6).alias("est_distinct"),
    )


def hll_estimate_py(items, p: int = 8) -> float:
    """Single-machine reference of the full register + estimate law
    (tests): feed any iterable of strings, get est_distinct."""
    import hashlib

    m = 1 << p
    idx_chars = (p + 3) // 4
    regs = {}
    for it in items:
        h = hashlib.md5(str(it).encode()).hexdigest()
        idx = int(h[:idx_chars], 16) % m
        word = int(h[idx_chars : idx_chars + 13], 16)
        rho = (_RANK_BITS + 1) if word == 0 else (_RANK_BITS + 1) - word.bit_length()
        regs[idx] = max(regs.get(idx, 0), rho)
    scale = 1 << (_RANK_BITS + 1)
    z_num = sum(1 << (_RANK_BITS + 1 - r) for r in regs.values())
    z_num += (m - len(regs)) * scale
    raw = _hll_alpha(m) * m * m * float(scale) / z_num
    v = m - len(regs)
    if v > 0 and raw <= 2.5 * m:
        return round(m * math.log(m / v), 6)
    return round(raw, 6)


# ---------------------------------------------------------------- CMS


def cms_cell(key: Column, row: Column, w: int) -> Column:
    """Column of the CM cell index for ``key`` in hash row ``row``:
    first 7 hex chars (28 bits, always positive) of md5('j:key') mod w
    — the same seeded-md5 family as operators/dedup.md5_seeded."""
    return (
        F.conv(
            F.substring(
                F.md5(F.concat(row.cast("string"), F.lit(":"), key)), 1, 7
            ),
            16,
            10,
        ).cast("long")
        % F.lit(w)
    ).cast("int")


def cms_build(
    df: DataFrame,
    key_col: str = "host",
    d: int = 4,
    w: int = 1024,
    weight_col: str | None = None,
) -> DataFrame:
    """d x w Count-Min sketch (row, col, cnt) of ``key_col``
    frequencies (optionally weighted).  The d-way explode happens
    map-side and the partial sum collapses each partition to <= d*w
    rows before the ONE exchange — shuffle payload is O(partitions x
    d x w) whatever the input size.  Merge two sketches by unioning
    and re-summing."""
    weight = (
        F.col(weight_col).cast("long") if weight_col else F.lit(1).cast("long")
    )
    rows = df.select(
        F.col(key_col).alias("_k"),
        weight.alias("_w"),
        F.explode(F.sequence(F.lit(0), F.lit(d - 1))).alias("row"),
    )
    return (
        rows.select(
            "row", cms_cell(F.col("_k"), F.col("row"), w).alias("col"), "_w"
        )
        .groupBy("row", "col")
        .agg(F.sum("_w").alias("cnt"))
    )


def cms_point_estimate(
    sketch: DataFrame,
    candidates: DataFrame,
    key_col: str = "host",
    d: int = 4,
    w: int = 1024,
) -> DataFrame:
    """(key, est_count) for each candidate: min over the d rows of the
    candidate's cell (a missing cell is 0 — only reachable when the
    sketch was built from a disjoint key set).  The candidate table is
    O(distinct candidate keys) and the sketch is <= d*w rows —
    broadcast the sketch; the join never shuffles the candidates."""
    cand = candidates.select(F.col(key_col).alias("key")).distinct()
    probes = cand.select(
        "key",
        F.explode(F.sequence(F.lit(0), F.lit(d - 1))).alias("row"),
    ).select("key", "row", cms_cell(F.col("key"), F.col("row"), w).alias("col"))
    joined = probes.join(F.broadcast(sketch), ["row", "col"], "left")
    return (
        joined.groupBy("key")
        .agg(F.min(F.coalesce("cnt", F.lit(0).cast("long"))).alias("est_count"))
    )

