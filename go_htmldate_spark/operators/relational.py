"""Relational operators from the reference tooling, engine-side: the
evaluation harness's confusion-matrix scoring as one native DataFrame
aggregation.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def eval_scores(
    joined: DataFrame, pred_col: str, golden_col: str
) -> DataFrame:
    """TP/FP/FN/TN → precision/recall/accuracy/F1 — the reference eval
    harness aggregation (scripts/comparison/result.go:25-71)."""
    pred = F.col(pred_col)
    gold = F.col(golden_col)
    has_pred = pred.isNotNull() & (pred != "")
    has_gold = gold.isNotNull() & (gold != "")
    tp = F.sum((has_pred & has_gold & (pred == gold)).cast("long")).alias("tp")
    fp = F.sum((has_pred & (~has_gold | (pred != gold))).cast("long")).alias("fp")
    fn = F.sum((~has_pred & has_gold).cast("long")).alias("fn")
    tn = F.sum((~has_pred & ~has_gold).cast("long")).alias("tn")
    base = joined.agg(tp, fp, fn, tn)
    p = F.col("tp") / (F.col("tp") + F.col("fp"))
    r = F.col("tp") / (F.col("tp") + F.col("fn"))
    return base.select(
        "tp", "fp", "fn", "tn",
        F.round(p, 6).alias("precision"),
        F.round(r, 6).alias("recall"),
        F.round((F.col("tp") + F.col("tn")) / (F.col("tp") + F.col("fp") + F.col("fn") + F.col("tn")), 6).alias("accuracy"),
        F.round(2 * p * r / (p + r), 6).alias("f1"),
    )
