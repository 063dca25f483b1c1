"""Distinct / dedup operators (SURVEY.md §2.6 D1-D3).

The reference's keyed "keep last" dedup (D2, reference
dags/daily_pipeline.py:264-270) relies on pandas concat order; at scale
there is no row order, so keep-last needs an explicit ordering — we use
a deterministic (order-ts DESC, tiebreaker DESC) window, which is the
semantics the reference intended (SURVEY.md §7 hard part 2). Implemented
as row_number over a window: a single shuffle on the dedup key, no UDFs.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def distinct_pairs(df: DataFrame, cols: list[str]) -> DataFrame:
    """D1: project + dropDuplicates (reference dags/daily_pipeline.py:202).
    Compiles to a hash aggregate on the pair key — partial agg shrinks
    the shuffle, which is what makes this viable at 100 TB."""
    return df.select(*cols).dropDuplicates()


def dedup_keep_latest(
    df: DataFrame,
    keys: list[str],
    order_cols: list[str],
) -> DataFrame:
    """D2: keep exactly one row per key group — the one ranked first by
    `order_cols` (pass F.col(...).desc() expressions for keep-latest).

    row_number (not rank) guarantees a single survivor; the caller must
    include a unique tiebreaker in order_cols for full determinism.
    """
    w = Window.partitionBy(*keys).orderBy(*order_cols)
    return (
        df.withColumn("__rn", F.row_number().over(w))
        .where(F.col("__rn") == 1)
        .drop("__rn")
    )
