"""Deterministic, order-independent numeric aggregation helpers.

Distributed sums of doubles are order-dependent (partial aggregation
runs in shuffle order), so a Spark SUM(double) and a single-threaded
oracle SUM can differ in the last bits — enough to break value-hash
comparison and top-k tie behavior. The fix used throughout this engine:
cast each addend to an exact DECIMAL before summing. Decimal addition is
associative/commutative, so partial (map-side) aggregation stays exact
and the result is bit-identical regardless of parallelism — on 32 local
threads or 1000 executors.

DECIMAL(38,6) keeps ~1e-6 resolution (double->decimal conversion is
unambiguous: representable doubles are never at a .0000005 boundary)
with 32 integer digits of headroom, so 100 TB-scale sums cannot
overflow. The reference's money columns are DECIMAL(10,2) at the source
degraded to double downstream (SURVEY.md §1.2); we surface rounded
doubles for API parity.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

MONEY_DECIMAL = "decimal(38,6)"


def money_sum(col: Column | str, alias: str, scale: int = 2) -> Column:
    """Exact SUM over a money-ish double column: decimal-sum then round."""
    c = F.col(col) if isinstance(col, str) else col
    return (
        F.round(F.sum(c.cast(MONEY_DECIMAL)), scale).cast("double").alias(alias)
    )


def money_avg(col: Column | str, alias: str, scale: int = 2) -> Column:
    """Deterministic AVG: exact decimal sum / count, rounded once."""
    c = F.col(col) if isinstance(col, str) else col
    return (
        F.round(
            F.sum(c.cast(MONEY_DECIMAL)).cast("double") / F.count(c), scale
        )
        .cast("double")
        .alias(alias)
    )


def long_count(alias: str) -> Column:
    return F.count(F.lit(1)).alias(alias)


def cond_count(cond: Column, alias: str) -> Column:
    """COUNT(*) FILTER (WHERE cond) — conditional aggregation (SURVEY.md
    §2.5 A10, reference scripts/setup_source_db.py:305-314)."""
    return F.sum(F.when(cond, 1).otherwise(0)).cast("long").alias(alias)
