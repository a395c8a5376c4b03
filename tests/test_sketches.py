from __future__ import annotations

import math

import pytest
from pyspark.sql import functions as F

from go_htmldate_spark.plans.sketches import (
    cms_build,
    cms_point_estimate,
    hll_estimate,
    hll_estimate_py,
    hll_registers,
)


def _host_urls(spark, n_hosts=6, per_host=None):
    """Synthetic (host, url) rows with a known distinct count per
    host; duplicates interleaved to exercise the register max."""
    rows = []
    for h in range(n_hosts):
        n = per_host[h] if per_host else 50 * (h + 1)
        for i in range(n):
            u = f"https://h{h}.example/p/{i}"
            rows.append((f"h{h}.example", u))
            if i % 3 == 0:  # duplicates must not move any register
                rows.append((f"h{h}.example", u))
    return spark.createDataFrame(rows, "host string, url string")


class TestHLL:
    def test_registers_match_reference_and_ignore_duplicates(self, spark):
        df = _host_urls(spark, n_hosts=3)
        regs = hll_registers(df, "host", "url").collect()
        est = {
            r["key"]: r["est_distinct"]
            for r in hll_estimate(hll_registers(df, "host", "url")).collect()
        }
        for h in range(3):
            truth = [f"https://h{h}.example/p/{i}" for i in range(50 * (h + 1))]
            assert est[f"h{h}.example"] == hll_estimate_py(truth)
        assert all(1 <= r["rho"] <= 53 for r in regs)

    def test_estimate_within_hll_error_bound(self, spark):
        # sigma = 1.04/sqrt(256) ~ 6.5%; assert 4 sigma on real sizes
        df = _host_urls(spark, n_hosts=4, per_host=[100, 400, 1500, 5000])
        est = {
            r["key"]: r["est_distinct"]
            for r in hll_estimate(hll_registers(df, "host", "url")).collect()
        }
        for h, n in enumerate([100, 400, 1500, 5000]):
            rel = abs(est[f"h{h}.example"] - n) / n
            assert rel < 4 * 1.04 / math.sqrt(256), (h, n, est[f"h{h}.example"])

    def test_registers_of_halves_max_merge_to_whole(self, spark):
        # registers are a per-(key, register) max, so shards of one
        # stream combine by max into exactly the single-pass table
        df = _host_urls(spark, n_hosts=3)
        a = df.filter(F.col("url").endswith("0") | F.col("url").endswith("1"))
        b = df.subtract(a)
        merged = (
            hll_registers(a, "host", "url")
            .unionByName(hll_registers(b, "host", "url"))
            .groupBy("key", "register")
            .agg(F.max("rho").alias("rho"))
        )
        whole = hll_registers(df, "host", "url")
        m = {(r["key"], r["register"]): r["rho"] for r in merged.collect()}
        w = {(r["key"], r["register"]): r["rho"] for r in whole.collect()}
        assert m == w

    def test_register_table_bounded_and_deterministic(self, spark):
        df = _host_urls(spark, n_hosts=2, per_host=[4000, 4000])
        regs = hll_registers(df, "host", "url")
        counts = regs.groupBy("key").count().collect()
        assert all(r["count"] <= 256 for r in counts)
        z1 = hll_estimate(regs).agg(F.sum("z_num")).collect()[0][0]
        z2 = hll_estimate(
            hll_registers(df.repartition(7), "host", "url")
        ).agg(F.sum("z_num")).collect()[0][0]
        assert z1 == z2  # exact-integer carrier: partitioning-invariant

    def test_small_range_linear_counting_branch(self, spark):
        df = spark.createDataFrame(
            [("h", f"u{i}") for i in range(5)], "host string, url string"
        )
        got = hll_estimate(hll_registers(df, "host", "url")).collect()[0]
        assert got["est_distinct"] == hll_estimate_py([f"u{i}" for i in range(5)])
        # 5 distinct with m=256 must take the linear-counting branch
        v = 256 - got["n_registers"]
        assert got["est_distinct"] == round(256 * math.log(256 / v), 6)


class TestCMS:
    def _freqs(self, spark):
        rows = []
        for h, n in [("big.example", 3000), ("mid.example", 400)] + [
            (f"t{i}.example", 7) for i in range(200)
        ]:
            rows += [(h,)] * n
        return spark.createDataFrame(rows, "host string"), {
            "big.example": 3000,
            "mid.example": 400,
            **{f"t{i}.example": 7 for i in range(200)},
        }

    def test_point_estimate_one_sided_and_tight(self, spark):
        df, truth = self._freqs(spark)
        sketch = cms_build(df, "host", d=4, w=1024)
        est = {
            r["key"]: r["est_count"]
            for r in cms_point_estimate(
                sketch, df.select("host").distinct(), "host", d=4, w=1024
            ).collect()
        }
        n = sum(truth.values())
        for k, t in truth.items():
            assert est[k] >= t  # CM never under-counts
            assert est[k] <= t + math.ceil(math.e * n / 1024)

    def test_weight_column_equals_multiplicity(self, spark):
        df, _ = self._freqs(spark)
        whole = cms_build(df, "host")
        w = {(r["row"], r["col"]): r["cnt"] for r in whole.collect()}
        weighted = cms_build(
            df.groupBy("host").agg(F.count("*").alias("n")),
            "host",
            weight_col="n",
        )
        wv = {(r["row"], r["col"]): r["cnt"] for r in weighted.collect()}
        assert wv == w  # weight column == pre-aggregated multiplicity


class TestPlanShape:
    def test_hll_partial_max_before_single_exchange(self, spark):
        """The 100 TB contract: registers max-combine map-side so the
        one exchange carries at most hosts x 256 three-int rows."""
        df = _host_urls(spark, n_hosts=3)
        plan = (
            hll_registers(df, "host", "url")
            ._jdf.queryExecution().executedPlan().toString()
        )
        assert plan.count("Exchange") == 1
        assert "partial_max" in plan
        assert plan.index("partial_max") > plan.index("Exchange")  # map-side

    def test_cms_probe_broadcasts_sketch(self, spark):
        """The <=d*w-row sketch is broadcast over the candidates — the
        candidate table never shuffles for the join."""
        df, _ = self._any(spark)
        sketch = cms_build(df, "host")
        plan = (
            cms_point_estimate(sketch, df, "host")
            ._jdf.queryExecution().executedPlan().toString()
        )
        assert "BroadcastHashJoin" in plan
        assert "SortMergeJoin" not in plan

    def _any(self, spark):
        return TestCMS._freqs(TestCMS(), spark)
