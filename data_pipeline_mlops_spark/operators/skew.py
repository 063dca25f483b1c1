"""Skew-mitigation helpers for hot keys.

First line of defense is AQE (`spark.sql.adaptive.skewJoin.enabled`,
on in session.py) which splits oversized shuffle partitions at runtime.
These helpers cover the cases AQE can't: a groupBy whose single hot key
overwhelms one reducer, and a broadcast-infeasible join against a
skewed fact. Both use deterministic salts (hash of row content, not
rand()) so retried tasks produce identical output — required for
exactly-once sinks.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import IntegralType

# skewfree_rank's tie-group guard: an integral id splits each tie group
# into id ranges of 2^TIE_BUCKET_BITS
TIE_BUCKET_BITS = 20


def salted_sum(
    df: DataFrame,
    keys: list[str],
    sums: dict[str, Column],
    *,
    n_salts: int = 32,
    salt_source: list[str] | None = None,
) -> DataFrame:
    """Two-phase aggregation: partial per (key, salt), final per key.

    Works for any associative aggregate expressed as SUM/COUNT (the
    decimal-routed money sums in operators/exact compose fine). The
    salt derives from `salt_source` columns (default: all non-key
    columns) so it is deterministic under retries.
    """
    src = salt_source or [c for c in df.columns if c not in keys]
    salted = df.withColumn(
        "__salt", F.pmod(F.xxhash64(*[F.col(c) for c in src]), n_salts)
    )
    partial = salted.groupBy(*keys, "__salt").agg(
        *[expr.alias(f"__p_{name}") for name, expr in sums.items()]
    )
    return partial.groupBy(*keys).agg(
        *[F.sum(f"__p_{name}").alias(name) for name in sums]
    )


def salted_join(
    skewed: DataFrame,
    small: DataFrame,
    on: str,
    *,
    n_salts: int = 8,
    salt_source: list[str] | None = None,
) -> DataFrame:
    """Replicate-and-salt join: the small side is replicated n_salts
    times, the skewed side salts each row deterministically, and the
    join key becomes (key, salt) — spreading a hot key over n_salts
    reducers. Use when the small side is too big to broadcast whole but
    n_salts copies still fit the shuffle."""
    src = salt_source or [c for c in skewed.columns if c != on]
    left = skewed.withColumn(
        "__salt", F.pmod(F.xxhash64(*[F.col(c) for c in src]), n_salts)
    )
    right = small.crossJoin(
        F.broadcast(
            left.sparkSession.range(n_salts).select(
                F.col("id").cast("long").alias("__salt")
            )
        )
    )
    out = left.join(right, [on, "__salt"], "inner").drop("__salt")
    return out


def rangepart_rank(
    df: DataFrame,
    *,
    part_col: str,
    order_col: str,
    id_col: str,
    with_order_rank: bool = False,
) -> DataFrame:
    """Global ``row_number``/``rank`` over
    ``(PARTITION BY part ORDER BY order, id)`` with NO per-part
    fact-sized sort — the two-phase shape for CONTINUOUS order
    columns, where :func:`skewfree_rank`'s (part, order-value)
    histogram would itself be fact-sized (VERDICT r13 #8).

    1. ONE balanced range exchange on (part, order, id): the range
       partitioner splits by sampled quantiles of the FULL key, so a
       dominant part value spreads over many partitions instead of
       landing in one sort task. The partition id is pinned by
       materializing the frame once (both the offset aggregation and
       the probe side must see the same assignment).
    2. Per-(range-partition, part) row counts → prefix offsets per
       part (a window over the partition-count-sized segment table,
       broadcast back).
    3. Local ``row_number`` within (range-partition, part) — the
       window's hash exchange is bounded by the range split, never by
       a part's share of the data. Global ``__rn`` = offset + local
       position. Because the full ordering key (order, id) is unique,
       ``__rn`` IS ``rank()``/``row_number()`` of a window ordered by
       (order, id) — the common case. ``with_order_rank`` additionally
       emits ``__rank`` for the ORDER-VALUE-ONLY peer definition
       (`rank() OVER (... ORDER BY order)` — ties share the minimum
       row number) via a (part, order)-keyed min aggregation+join —
       balanced fine-grained keys, not a window.

    The produced values are invariant to where the sampled range
    boundaries land (offsets absorb the split), so the output is
    deterministic even though the boundary sampling is not. Adds
    ``__rn`` (long), ``__n_part`` (long), and ``__rank`` (long, only
    with ``with_order_rank``); (part, order, id) must be unique per
    row (id a tiebreaking key).

    A null part, order or id key raises when the frame is
    materialized: the check sits in the projection that pins
    ``__pid``, so it runs no extra job. Floating-point keys follow
    Spark's SQL ordering, pinned by
    ``test_rangepart_rank_float_key_ordering``: NaN sorts after every
    other value including +inf, NaN equals NaN, and -0.0 equals 0.0.
    So -0.0 and 0.0 orders are peers that ``id_col`` breaks and share
    one ``__rank``, and -0.0 and 0.0 parts are one part.
    """
    from pyspark.sql import Window

    from data_pipeline_mlops_spark.materialize import materialize

    keys = (part_col, order_col, id_col)
    null_key = (
        F.col(part_col).isNull() | F.col(order_col).isNull() | F.col(id_col).isNull()
    )
    rb = materialize(
        df.repartitionByRange(*[F.col(c).asc() for c in keys]).withColumn(
            "__pid",
            F.when(
                null_key,
                F.raise_error(
                    F.lit(f"rangepart_rank: null key in {', '.join(keys)}")
                ),
            ).otherwise(F.spark_partition_id()),
        )
    )
    seg = rb.groupBy("__pid", part_col).agg(F.count(F.lit(1)).alias("__c"))
    w_off = Window.partitionBy(part_col).orderBy("__pid").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    offs = seg.select(
        "__pid",
        F.col(part_col),
        (F.sum("__c").over(w_off) - F.col("__c")).alias("__off"),
        F.sum("__c").over(Window.partitionBy(part_col)).alias("__n_part"),
    )
    w_loc = Window.partitionBy("__pid", part_col).orderBy(
        F.col(order_col).asc(), F.col(id_col).asc()
    )
    out = rb.join(F.broadcast(offs), ["__pid", part_col]).withColumn(
        "__rn", F.col("__off") + F.row_number().over(w_loc)
    )
    if with_order_rank:
        tie = out.groupBy(part_col, order_col).agg(
            F.min("__rn").alias("__rank")
        )
        out = out.join(tie, [part_col, order_col])
    return out.drop("__pid", "__off")


def skewfree_rank(
    df: DataFrame,
    *,
    part_col: str,
    order_col: str,
    id_col: str,
    descending: bool = False,
    with_cumsum: bool = False,
) -> DataFrame:
    """`row_number() OVER (PARTITION BY part ORDER BY order, id)` —
    and optionally the running SUM of ``order_col`` over the same
    frame — WITHOUT a fact-sized per-partition sort.

    A direct window partitioned by a low-cardinality column (language,
    status) puts a whole stratum in ONE sort task: at corpus scale the
    dominant language is ~half the data, so the stage degenerates to a
    single straggler (guide §2.5 — and AQE skew handling cannot split
    windows, only joins). This computes the identical rank in three
    bounded steps:

    1. histogram: count rows per (part, order-value) — value-space
       sized, not fact-sized;
    2. prefix counts over the HISTOGRAM per part (a window over
       |distinct order values| rows, broadcast back);
    3. tie-break `row_number` partitioned by (part, order-value) —
       partitions are tie GROUPS, bounded by the largest set of rows
       sharing one order value, never a whole stratum.

    rank = (#rows strictly before this order value) + (position of
    ``id_col`` within the tie group) — exactly `row_number` of the
    direct window for every row. With ``with_cumsum``, ``__cum`` is
    the running sum of ``order_col`` over the same ordering (all tie
    rows share the order value, so the tie contribution is
    ``order_value * tie_rank`` — exact for integer columns).

    Step 3's bound is the DEGENERATE-TIE hazard (VERDICT r13): a score
    distribution where one (part, order-value) pair owns most rows
    (coarse integer quality scores, a default value) re-creates a
    single large sort task. An INTEGRAL ``id_col`` guards it: the id
    range bucket ``id >> TIE_BUCKET_BITS`` is an order-preserving
    coarsening of the id, so the histogram counts per (part,
    order-value, bucket) and the tie window partitions by the same
    triple. No sort task then exceeds ``2^TIE_BUCKET_BITS`` rows (ids
    being unique) while rank/cumsum stay bit-identical — earlier
    buckets of the same order value fold into the prefix exactly like
    earlier order values. The histogram grows by the number of buckets
    per tie group (id range / 2^TIE_BUCKET_BITS); it stays
    broadcastable while that times the order-value count stays far
    under the fact size. A non-integral id gets no bucket.

    Adds columns: ``__rank`` (long), ``__n_part`` (rows in the
    partition, long), and ``__cum`` (long) when requested.
    ``part_col``/``order_col``/``id_col`` must be non-null (the
    histogram re-attach is a null-unsafe equi-join).
    """
    from pyspark.sql import Window

    o = F.col(order_col).desc() if descending else F.col(order_col).asc()
    tb: list[str] = []
    if isinstance(df.schema[id_col].dataType, IntegralType):
        df = df.withColumn("__tb", F.shiftright(id_col, TIE_BUCKET_BITS))
        tb = ["__tb"]
    hist = df.groupBy(part_col, order_col, *tb).agg(
        F.count(F.lit(1)).alias("__cnt")
    )
    w_h = Window.partitionBy(part_col).orderBy(
        o, *[F.col(c).asc() for c in tb]
    ).rowsBetween(Window.unboundedPreceding, Window.currentRow)
    w_p = Window.partitionBy(part_col)
    cum_cols = [
        F.col(part_col),
        F.col(order_col),
        *[F.col(c) for c in tb],
        (F.sum("__cnt").over(w_h) - F.col("__cnt")).alias("__before"),
        F.sum("__cnt").over(w_p).alias("__n_part"),
    ]
    if with_cumsum:
        contrib = F.col(order_col).cast("long") * F.col("__cnt")
        cum_cols.append(
            (F.sum(contrib).over(w_h) - contrib).alias("__before_sum")
        )
    cuts = hist.select(*cum_cols)
    w_tie = Window.partitionBy(part_col, order_col, *tb).orderBy(
        F.col(id_col).asc()
    )
    out = (
        df.join(F.broadcast(cuts), [part_col, order_col, *tb])
        .withColumn("__tie", F.row_number().over(w_tie))
        .withColumn(
            "__rank", F.col("__before") + F.col("__tie").cast("long")
        )
    )
    if with_cumsum:
        out = out.withColumn(
            "__cum",
            F.col("__before_sum")
            + F.col(order_col).cast("long") * F.col("__tie"),
        )
    return out.drop("__before", "__before_sum", "__tie", *tb)
