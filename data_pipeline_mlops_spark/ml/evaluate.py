"""Recommender evaluation (SURVEY.md §2.10 M9-M11).

Coverage (M9, reference dags/daily_pipeline.py:483-488) in one
aggregation over eval left-joined to the distinct train users and
items; precision@k (M10, dags/daily_pipeline.py:490-535) computed
EXHAUSTIVELY over all eval users — the reference's unseeded 100-user
sample was a perf hack on pandas; distributed we can afford every user,
deterministically. M11's best-model compare-and-swap is plain driver
logic over a metrics table.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def coverage(
    train: DataFrame,
    eval_df: DataFrame,
    *,
    user_col: str,
    item_col: str,
) -> DataFrame:
    """M9: one row — fraction of eval rows whose user (resp. item)
    appears in training, plus overall row coverage.

    One action: each eval row is left-joined to the distinct train
    users and the distinct train items, each side tagged with a flag
    column, and the four counts come from one aggregation. A null key
    never matches, so it counts as not covered."""
    train_users = train.select(user_col, F.lit(True).alias("__u")).distinct()
    train_items = train.select(item_col, F.lit(True).alias("__i")).distinct()
    both = F.col("__u") & F.col("__i")
    total, user_cov, item_cov, both_cov = (
        eval_df.select(user_col, item_col)
        .join(train_users, user_col, "left")
        .join(train_items, item_col, "left")
        .agg(
            F.count(F.lit(1)),
            F.count("__u"),
            F.count("__i"),
            F.count(F.when(both, True)),
        )
        .collect()[0]
    )
    spark = eval_df.sparkSession
    denom = max(total, 1)
    return spark.createDataFrame(
        [
            (
                total,
                round(user_cov / denom, 6),
                round(item_cov / denom, 6),
                round(both_cov / denom, 6),
            )
        ],
        "eval_rows long, user_coverage double, item_coverage double, overall_coverage double",
    )


def precision_at_k(
    recommendations: DataFrame,
    eval_df: DataFrame,
    *,
    user_col: str,
    item_col: str,
    k: int = 10,
) -> DataFrame:
    """M10: per-user precision = |top-k recs ∩ eval purchases| / k,
    averaged over users that have both recs and eval rows.

    Eval pairs are deduplicated before the hits join (duplicate
    (user, item) eval rows would multiply hits and push per-user
    precision above 1), and the user denominator is semi-joined to the
    eval user set so it matches the docstring contract."""
    recs = recommendations.where(F.col("rank") <= k).select(user_col, item_col)
    eval_pairs = eval_df.select(user_col, item_col).distinct()
    hits = recs.join(eval_pairs, [user_col, item_col])
    per_user = (
        recs.select(user_col)
        .distinct()
        .join(
            eval_pairs.select(user_col).distinct(), user_col, "left_semi"
        )
        .join(
            hits.groupBy(user_col).agg(F.count(F.lit(1)).alias("__hits")),
            user_col,
            "left",
        )
        .select(
            user_col,
            (F.coalesce(F.col("__hits"), F.lit(0)) / F.lit(k)).alias(
                "precision"
            ),
        )
    )
    return per_user.agg(
        F.count(F.lit(1)).alias("evaluated_users"),
        F.round(F.avg("precision"), 6).alias("precision_at_k"),
    )


def is_better_model(
    new_metrics: dict, best_metrics: dict | None, *, tolerance: float = 0.01
) -> bool:
    """M11: the reference's checkpoint compare-and-swap rule
    (dags/daily_pipeline.py:575-623): keep the new model if coverage
    improved, or coverage is within tolerance and precision improved."""
    if best_metrics is None:
        return True
    dc = new_metrics["overall_coverage"] - best_metrics["overall_coverage"]
    if dc > tolerance:
        return True
    if abs(dc) <= tolerance and (
        new_metrics["precision_at_k"] > best_metrics["precision_at_k"]
    ):
        return True
    return False
