"""Typosquat / look-alike host detection (plans/typosquat.py)."""

from __future__ import annotations

from pyspark.sql import functions as F

from go_htmldate_spark.plans.typosquat import (
    confusable_skeleton,
    typosquat_demotion,
    typosquat_pairs,
)


def _tables(spark):
    hosts = spark.createDataFrame(
        [
            ("gogle.com",),          # deletion typo of google -> dist 1
            ("googel.com",),         # transposition = 2 plain edits -> dist 2
            ("google.net",),         # same core, other suffix -> TLD squat, dist 0
            ("www.google.com",),     # brand's own subdomain -> same reg, excluded
            ("google.com",),         # the brand itself -> excluded
            ("wikipedai.org",),      # 2 edits from wikipedia -> dist 2
            ("example.com",),        # unrelated
            ("abc.com",),            # core shorter than min_core_len -> dropped
            ("img2.gogle.com",),     # subdomain of a squat reg -> same pair
        ],
        "host string",
    )
    brands = spark.createDataFrame(
        [("google.com",), ("www.wikipedia.org",)], "brand string"
    )
    return hosts, brands


def test_typosquat_pairs_distance_and_exclusions(spark):
    hosts, brands = _tables(spark)
    got = {
        (r["host"], r["brand_reg"], r["core_dist"])
        for r in typosquat_pairs(hosts, brands, max_dist=1).collect()
    }
    assert got == {
        ("gogle.com", "google.com", 1),
        ("img2.gogle.com", "google.com", 1),
        ("google.net", "google.com", 0),
    }
    # widening the radius admits the 2-edit cores, never the brand reg
    got2 = {
        (r["host"], r["brand_reg"], r["core_dist"])
        for r in typosquat_pairs(hosts, brands, max_dist=2).collect()
    }
    assert ("googel.com", "google.com", 2) in got2
    assert ("wikipedai.org", "wikipedia.org", 2) in got2
    assert all(h != "google.com" and h != "www.google.com" for h, _, _ in got2)


def test_typosquat_demotion(spark):
    hosts, brands = _tables(spark)
    pairs = typosquat_pairs(hosts, brands, max_dist=1)
    demo = {r["host"]: r["politeness_budget"]
            for r in typosquat_demotion(pairs).collect()}
    assert set(demo) == {"gogle.com", "img2.gogle.com", "google.net"}
    assert all(v == 0.0 for v in demo.values())


def test_typosquat_host_side_never_shuffles(spark):
    hosts, brands = _tables(spark)
    plan = (
        typosquat_pairs(hosts, brands)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "BroadcastHashJoin" in plan
    # the only exchanges are the broadcast of the exploded brand band
    # and the brand-side distinct; the host table stays map-only
    for line in plan.splitlines():
        if "Exchange hashpartitioning" in line:
            assert "brand" in line, line
    assert "CartesianProduct" not in plan and "SortMergeJoin" not in plan


def test_typosquat_skeleton_catches_homoglyphs(spark):
    hosts = spark.createDataFrame(
        [("g00gle.com",),        # digit homoglyphs -> skeleton dist 0
         ("rnicrosoft.com",),    # rn ~ m -> skeleton dist 0
         ("paypa1.com",),        # 1 ~ l -> skeleton dist 0
         ("paypal.com",),        # the brand itself -> excluded
         ("zzzzz.com",)],        # unrelated
        "host string",
    )
    brands = spark.createDataFrame(
        [("google.com",), ("microsoft.com",), ("paypal.com",)],
        "brand string",
    )
    # without skeleton folding the homoglyph squats are invisible at d=1
    plain = {r["host"] for r in
             typosquat_pairs(hosts, brands, max_dist=1).collect()}
    assert "g00gle.com" not in plain and "rnicrosoft.com" not in plain
    folded = {
        (r["host"], r["brand_reg"], r["core_dist"])
        for r in typosquat_pairs(hosts, brands, max_dist=1,
                                 skeleton=True).collect()
    }
    assert ("g00gle.com", "google.com", 0) in folded
    assert ("rnicrosoft.com", "microsoft.com", 0) in folded
    assert ("paypa1.com", "paypal.com", 0) in folded
    assert all(h != "paypal.com" and h != "zzzzz.com"
               for h, _, _ in folded)


def test_confusable_skeleton_folds_lookalikes(spark):
    cores = ["g00gle", "paypa1", "rnicrosoft", "vvikipedia", "clomain",
             "google"]
    df = spark.createDataFrame([(c,) for c in cores], "core string")
    got = [r.s for r in df.select(
        confusable_skeleton(F.col("core")).alias("s")
    ).collect()]
    assert got == ["google", "paypal", "microsoft", "wikipedia", "domain",
                   "google"]
