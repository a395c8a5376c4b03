"""Mega-scale frontier soak: 10+ crawl rounds over a
1.6M-page corpus with every at-scale state path active, verifying that
per-round wall stays flat while the URL-seen set grows to ~10^6.

What it exercises per round:
- bloom URL-seen pre-filter in the COGROUPED no-broadcast mode (state
  sized past bloom_broadcast_max_bytes, so shards never transit the
  driver: probe_blooms_cogrouped) + the exact anti-join backstop; it
  probes from the first round whose seen set has reached
  bloom_min_seen = min(50k, n_pages/10) — each ROUND line reports
  bloom_probed;
- O(new) seen-delta writes (asserted: the round's seen_delta parquet
  holds exactly n_scheduled rows, never O(total seen));
- periodic chain compaction (seen_compact_every=4 → two crossings in a
  12-round soak), with chain integrity asserted after every round
  (union of manifest-listed segments == n_seen exactly — deltas are
  disjoint by construction, so no distinct() is applied);
- manifest-chain integrity (every round dir self-contained: manifest +
  frontier/blooms/seen segments readable).

Usage: python bench_frontier_soak.py [n_pages] [n_rounds]
Prints one RESULT json line; BENCH.md gets the table separately.
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))


def main() -> None:
    n_pages = int(sys.argv[1]) if len(sys.argv) > 1 else 1_600_000
    n_rounds = int(sys.argv[2]) if len(sys.argv) > 2 else 12

    import pyspark.sql.functions as F

    from go_htmldate_spark.plans.scheduler import CrawlConfig, CrawlScheduler
    from go_htmldate_spark.session import get_spark
    from go_htmldate_spark.sources.pages import synth_pages

    cores = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    spark = get_spark(
        app_name="frontier-soak", master=f"local[{cores}]",
        shuffle_partitions=cores,
    )

    pages = synth_pages(
        spark, n_pages, seed=42, heavy_host_share=20,
        partitions=cores * 2, filler_repeats=1,
    )

    cfg = CrawlConfig(
        n_bloom_partitions=16,
        bloom_bits=1 << 20,
        # force the cogrouped (no-broadcast) probe: state_bytes =
        # 16 * (2^20 / 8) = 2 MiB > 1 MiB
        bloom_broadcast_max_bytes=1 << 20,
        # small soaks still cross the threshold within a few rounds
        bloom_min_seen=min(50_000, n_pages // 10),
        seen_compact_every=4,
        default_budget=4.0,
        salt_threshold=10_000,
    )
    assert (cfg.n_bloom_partitions * cfg.bloom_bits // 8
            > cfg.bloom_broadcast_max_bytes), "soak must take the cogrouped probe"
    state_dir = tempfile.mkdtemp(prefix="soak_")
    rows = []
    try:
        sched = CrawlScheduler(
            spark, pages, robots=None, host_budget=None,
            state_dir=state_dir, config=cfg,
        )
        seeds = (
            pages.select("url").limit(100_000)
            .withColumn("priority", F.lit(1.0))
        )
        sched.init_from_seeds(seeds)

        seen_before = 0
        for r in range(n_rounds):
            t0 = time.time()
            m = sched.run_round()
            wall = round(time.time() - t0, 1)

            base = os.path.join(state_dir, f"round_{m['round']}")
            # O(new) assertion: this round's delta holds exactly
            # n_scheduled rows (when it scheduled anything)
            delta_dir = os.path.join(base, "seen_delta")
            delta_rows = (
                spark.read.parquet(delta_dir).count()
                if os.path.exists(delta_dir) and m["n_scheduled"] > 0
                else 0
            )
            assert delta_rows == m["n_scheduled"], (
                f"round {r}: seen_delta {delta_rows} != scheduled "
                f"{m['n_scheduled']} — delta write is not O(new)"
            )
            # chain integrity: union of the manifest's segments is the
            # exact seen set (disjoint deltas, no distinct)
            chain_rows = sched._seen_from_chain(m["seen_chain"]).count()
            assert chain_rows == m["n_seen"], (
                f"round {r}: chain union {chain_rows} != n_seen "
                f"{m['n_seen']} — segments overlap or were lost"
            )
            compacted = any("seen_compact" in s for s in m["seen_chain"])
            rows.append(
                {
                    "round": m["round"],
                    "wall_sec": wall,
                    "sched_wall_sec": round(m["wall_ms"] / 1000, 1),
                    "n_scheduled": m["n_scheduled"],
                    "n_seen": m["n_seen"],
                    "n_frontier": m["n_frontier"],
                    "chain_len": len(m["seen_chain"]),
                    "compacted": compacted,
                    # the round probed the (cogrouped) bloom filter
                    "bloom_probed": seen_before >= cfg.bloom_min_seen,
                }
            )
            seen_before = m["n_seen"]
            print("ROUND " + json.dumps(rows[-1]), flush=True)
            if m["n_scheduled"] == 0:
                break

        # flat-wall check: mean wall of the last 3 rounds vs rounds 2-4
        # (round 0-1 pay bloom-crossing one-time costs). The two windows
        # are disjoint only from 8 rounds on; shorter soaks (including
        # a frontier exhausted early) report growth=None
        growth = None
        if len(rows) >= 8:
            early = [r["wall_sec"] for r in rows[2:5]]
            late = [r["wall_sec"] for r in rows[-3:]]
            growth = round(
                (sum(late) / len(late)) / max(sum(early) / len(early), 0.1), 2
            )
        print(
            "RESULT "
            + json.dumps(
                {
                    "n_pages": n_pages,
                    "n_rounds": len(rows),
                    "final_seen": rows[-1]["n_seen"] if rows else 0,
                    "final_frontier": rows[-1]["n_frontier"] if rows else 0,
                    "wall_growth_late_vs_early": growth,
                    "o_new_assertion": "green all rounds",
                    "chain_integrity": "green all rounds",
                    "rounds": rows,
                }
            )
        )
    finally:
        shutil.rmtree(state_dir, ignore_errors=True)
        spark.stop()


if __name__ == "__main__":
    main()
