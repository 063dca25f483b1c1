"""Recommender evaluation (SURVEY.md §2.10 M9-M11).

Coverage (M9, reference dags/daily_pipeline.py:483-488) and
precision@k (M10, dags/daily_pipeline.py:490-535) are aggregations over
one per-user plan: eval grouped by user, with each row's item and the
user checked against train by a correlated ``EXISTS`` (planned as an
existence join, so no distinct runs over train), and each user's top-k
recommendation list left-joined on user. ``daily_metrics`` takes all
six metrics from that plan in one aggregation and one ``collect()``.
Precision is computed EXHAUSTIVELY over all eval users — the
reference's unseeded 100-user sample was a perf hack on pandas;
distributed we can afford every user, deterministically. M11's
best-model compare-and-swap is plain driver logic over a metrics table.

Expressions are SQL strings where they can be: a ``Column`` call costs
about ten py4j round trips (call-site capture), a string one or a few.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

COVERAGE_SCHEMA = (
    "eval_rows long, user_coverage double, item_coverage double, "
    "overall_coverage double"
)


def _per_user(
    eval_df: DataFrame,
    *,
    user_col: str,
    item_col: str,
    train: DataFrame | None = None,
    recommendations: DataFrame | None = None,
    k: int = 10,
) -> DataFrame:
    """One row per eval user (a null user is one group): ``__rows``
    eval rows and ``__items``, the set of the user's eval items. With
    ``train``: ``__item_cov`` rows whose item is a train item and
    ``__user_cov``, whether the user is a train user. With
    ``recommendations``: ``__hits``, the user's top-k recommendations
    that are eval items, null when the user has none. A null key
    never matches, so it is never covered and never has
    recommendations."""
    ev = eval_df.selectExpr(f"`{user_col}` AS __u", f"`{item_col}` AS __i")
    aggs = ["count(1) AS __rows", "collect_set(__i) AS __items"]
    if train is not None:
        t = train.selectExpr(f"`{user_col}` AS __tu", f"`{item_col}` AS __ti")
        item_known = t.where(F.col("__ti") == F.col("__i").outer()).exists()
        ev = ev.withColumn("__known", item_known)
        aggs.append("count_if(__known) AS __item_cov")
    out = ev.groupBy("__u").agg(*map(F.expr, aggs))
    if train is not None:
        user_known = t.where(F.col("__tu") == F.col("__u").outer()).exists()
        out = out.withColumn("__user_cov", user_known)
    if recommendations is not None:
        recs = (
            recommendations.where(f"rank <= {int(k)}")
            .selectExpr(f"`{user_col}` AS __u", f"`{item_col}` AS __r")
            .groupBy("__u")
            .agg(F.expr("collect_list(__r) AS __recs"))
        )
        out = out.join(recs, "__u", "left").selectExpr(
            "*",
            "IF(__recs IS NULL, NULL,"
            " size(array_intersect(__recs, __items))) AS __hits",
        )
    return out


COVERAGE_AGGS = (
    "sum(__rows) AS eval_rows",
    "sum(IF(__user_cov, __rows, 0)) AS user_rows",
    "sum(__item_cov) AS item_rows",
    "sum(IF(__user_cov, __item_cov, 0)) AS both_rows",
)


def _precision_aggs(k: int) -> tuple:
    return (
        "count(__hits) AS evaluated_users",
        f"round(avg(__hits / {int(k)}), 6) AS precision_at_k",
    )


def _coverage_fractions(row) -> tuple:
    total = row["eval_rows"] or 0
    denom = max(total, 1)
    return (total,) + tuple(
        round((row[c] or 0) / denom, 6)
        for c in ("user_rows", "item_rows", "both_rows")
    )


def coverage(
    train: DataFrame,
    eval_df: DataFrame,
    *,
    user_col: str,
    item_col: str,
) -> DataFrame:
    """M9: one row — fraction of eval rows whose user (resp. item)
    appears in training, plus overall row coverage. A null key never
    matches, so it counts as not covered. One action."""
    (row,) = (
        _per_user(eval_df, user_col=user_col, item_col=item_col, train=train)
        .agg(*map(F.expr, COVERAGE_AGGS))
        .collect()
    )
    return eval_df.sparkSession.createDataFrame(
        [_coverage_fractions(row)], COVERAGE_SCHEMA
    )


def precision_at_k(
    recommendations: DataFrame,
    eval_df: DataFrame,
    *,
    user_col: str,
    item_col: str,
    k: int = 10,
) -> DataFrame:
    """M10: per-user precision = |top-k recs ∩ eval items| / k,
    averaged over users that have both recs and eval rows. The eval
    items are a set, so duplicate eval rows count one hit."""
    return _per_user(
        eval_df,
        user_col=user_col,
        item_col=item_col,
        recommendations=recommendations,
        k=k,
    ).agg(*map(F.expr, _precision_aggs(k)))


def daily_metrics(
    train: DataFrame,
    eval_df: DataFrame,
    recommendations: DataFrame,
    *,
    user_col: str,
    item_col: str,
    k: int = 10,
) -> dict[str, float]:
    """M9 + M10 in one action: the values of :func:`coverage` and
    :func:`precision_at_k` from one aggregation over the per-user
    plan. A day with no evaluated user has precision 0."""
    (row,) = (
        _per_user(
            eval_df,
            user_col=user_col,
            item_col=item_col,
            train=train,
            recommendations=recommendations,
            k=k,
        )
        .agg(*map(F.expr, COVERAGE_AGGS + _precision_aggs(k)))
        .collect()
    )
    total, user_cov, item_cov, both_cov = _coverage_fractions(row)
    return {
        "eval_rows": float(total),
        "user_coverage": user_cov,
        "item_coverage": item_cov,
        "overall_coverage": both_cov,
        "evaluated_users": float(row["evaluated_users"]),
        "precision_at_k": row["precision_at_k"] or 0.0,
    }


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
