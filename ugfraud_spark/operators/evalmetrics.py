"""Model-evaluation operators (reference E1, ``Utils/helper.py:39-63``).

The reference collects score dicts and calls sklearn. Distributed
versions as exact rank statistics:

- ROC-AUC = Mann-Whitney U with average ranks for ties — identical to
  sklearn's trapezoidal ``roc_auc_score``.
- Average precision with sklearn's step-wise definition:
  AP = Σ_k (ΔTP_k / n_pos) · precision_k over distinct thresholds
  descending.

Both are one groupBy(score) plus cumulative sums over *distinct*
scores. The cumulative sums are two-phase (``attrs.running_sums``:
range-partition the distinct scores, per-partition windows,
driver-broadcast partition offsets) — no global single-task
``Window.orderBy`` anywhere, so the plan survives a continuous unbounded
score column whose |distinct| ≈ |rows|.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .attrs import running_sums


def auc_ap(scored: DataFrame, score: str = "score", label: str = "label") -> DataFrame:
    """scored(score, label ∈ {0,1}) → 1 row (auc, ap)."""
    g, tot = running_sums(
        scored.groupBy(F.col(score).alias("s")).agg(
            F.count(F.lit(1)).alias("c"), F.sum(label).alias("pos")
        ),
        "s", ["c", "pos"])
    # count mass strictly below each score, and count/pos mass at or
    # above it
    o = g.select(
        "s", "c", "pos",
        (F.col("_cum_c") - F.col("c")).alias("lower"),
        (F.lit(tot["pos"]) - F.col("_cum_pos") + F.col("pos")).alias("ctp"),
        (F.lit(tot["c"]) - F.col("_cum_c") + F.col("c")).alias("cn"),
    )
    return o.agg(
        (
            (
                F.sum(F.col("pos") * (F.col("lower") + (F.col("c") + 1) / 2.0))
                - F.sum("pos") * (F.sum("pos") + 1) / 2.0
            )
            / (F.sum("pos") * (F.sum("c") - F.sum("pos")))
        ).alias("auc"),
        (
            F.sum(F.col("pos") * F.col("ctp") / F.col("cn")) / F.sum("pos")
        ).alias("ap"),
    )


def ground_truth_users(edges: DataFrame) -> DataFrame:
    """Reference A5 (``helper.py:11-36``): a user is spam (1) iff any of
    its reviews has the spam label; here the deterministic label carrier
    is the edge sign (2 = negative ≙ label −1)."""
    return edges.groupBy(F.col("src").alias("id")).agg(
        F.max(F.when(F.col("sign") == 2, 1).otherwise(0)).alias("gt")
    )


def ground_truth_reviews(edges: DataFrame) -> DataFrame:
    return edges.select(
        "src", "dst", F.when(F.col("sign") == 2, 1).otherwise(0).alias("gt")
    )
