"""Sparse item-item collaborative filtering (SURVEY.md §2.10 M4-M8).

The reference densifies a user×item binary matrix and runs sklearn
cosine_similarity over it (reference dags/daily_pipeline.py:361-398) —
O(users·items) memory, impossible at scale. For BINARY interactions,
cosine(item_i, item_j) = cooc(i,j) / sqrt(cnt(i)·cnt(j)) exactly
(provable: dot product of 0/1 vectors = co-occurrence count; vector
norm = sqrt(interaction count)). So the whole similarity model is a
pure DataFrame computation:

    interactions --self-join on user--> pair co-occurrence counts
                 --join item counts--> cosine

The self-join shuffles on user_id once; per-user pair fan-out is
bounded by basket size (salting / AQE skew join handles power users).
No densification anywhere; output is the sparse upper triangle.

Scores are rounded then summed as exact decimals so recommendation
ranking is deterministic across any parallelism (see operators.exact).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

SIM_SCALE = 6  # similarity rounding — stable ranking + compact storage
SIM_DECIMAL = "decimal(18,6)"
INTEGRAL_TYPES = ("tinyint", "smallint", "int", "bigint")


def item_counts(interactions: DataFrame, *, item_col: str) -> DataFrame:
    return interactions.groupBy(item_col).agg(F.count(F.lit(1)).alias("cnt"))


def cap_basket_size(
    df: DataFrame, *, basket_col: str, item_col: str, max_items: int
) -> DataFrame:
    """Deterministic per-basket truncation to ``max_items`` rows: rank
    items inside each basket by md5(item) (an order-free, seed-free,
    engine-portable hash — DuckDB replays it bit-for-bit) and keep the
    first ``max_items``. This is the in-operator bound for basket²
    self-join fan-out: one bot mega-basket of 10k items otherwise
    contributes 10^8 pairs to the shuffle BEFORE any min-support
    filter can run. The reference's generator never exceeds 5 items
    per order (scripts/setup_source_db.py:192-195), so at parity scale
    the cap is a no-op; at 100 TB it is the first thing that matters."""
    w = Window.partitionBy(basket_col).orderBy(
        F.md5(F.col(item_col).cast("string")), F.col(item_col)
    )
    return (
        df.withColumn("__br", F.row_number().over(w))
        .where(F.col("__br") <= int(max_items))
        .drop("__br")
    )


def item_similarity(
    interactions: DataFrame,
    *,
    user_col: str,
    item_col: str,
    min_cooccurrence: int = 1,
    max_basket_size: int | None = None,
    touching_items: DataFrame | None = None,
    pack_pair_keys: bool = False,
) -> DataFrame:
    """M5+M6: upper-triangle item-item cosine similarity.

    Output: item_a < item_b, cooccurrence, cosine_sim (double, rounded
    to 6 dp). Equivalent to the reference's dense
    cosine_similarity + fill_diagonal(0) — the diagonal simply never
    appears (a < b), matching the reference's zeroed self-similarity.

    ``max_basket_size`` (opt-in, changes results for baskets above the
    cap) truncates each user's basket deterministically BEFORE the
    self-join — see :func:`cap_basket_size`. Item counts are taken
    over the capped interactions so cosine stays internally consistent.

    ``touching_items`` (opt-in, PURE PRUNING — surviving rows are
    bit-identical) keeps only pairs where at least one side is in the
    given 1-column item set. A downstream consumer that only ever
    scores a bounded anchor-item set (cf.recommend with
    small_user_band semi-prunes the symmetric similarity to purchased
    items) provably never reads a pair touching no anchor, and each
    pair's (cooccurrence, cosine) depends only on that pair's own
    rows — so dropping untouched pairs BEFORE the pair aggregation
    changes nothing downstream while cutting the pair shuffle to the
    anchors' share of the fan-out (guide §2.3/§3.2: prune the big
    side before the exchange). The filter is two broadcast left
    joins + an IS NOT NULL OR — map-side, no extra shuffle.

    ``pack_pair_keys`` (opt-in, values UNCHANGED) packs the ordered
    pair into ONE int64 — ``(item_a << 32) | item_b`` — before the
    pair-count aggregation, so the model's dominant exchange shuffles
    an 8-byte key instead of two (guide §2.3: narrower types / pack
    the key). Requires integral ids in ``[0, 2^32)``: any other item
    dtype (double, decimal, string) raises ``ValueError`` when the plan
    is built, since ``cast("long")`` would truncate ``1.5`` or
    ``'007'`` silently; the packing expression raises on any
    out-of-range id instead of silently colliding, and the unpacked
    columns are cast back to the source dtype so the schema is
    untouched. For id spaces wider than 32 bits, dictionary-encode
    first (rank join against the item dimension) — not needed for any
    catalog-sized id space.
    """
    if pack_pair_keys:
        item_type = dict(interactions.dtypes)[item_col]
        if item_type not in INTEGRAL_TYPES:
            raise ValueError(
                "pack_pair_keys requires an integral item column; "
                f"{item_col!r} is {item_type}"
            )
    if max_basket_size is not None:
        interactions = cap_basket_size(
            interactions,
            basket_col=user_col,
            item_col=item_col,
            max_items=max_basket_size,
        )
    # Both self-join sides carry the IDENTICAL projection (item column
    # aliased only after the join), so the single materialized
    # user-keyed exchange + ReusedExchange is visible in the STATIC
    # plan shape, not only after AQE canonicalization (verified: the
    # runtime plan reuses the exchange in both the old side-aliased
    # and this shape — canonicalization ignores aliases — so this is
    # plan clarity, not a measured win; guide §2.4). Same join, same
    # filter — results identical.
    l = interactions.select(
        F.col(user_col).alias("__u"), F.col(item_col).alias("__it")
    )
    pairs = (
        l.alias("__l")
        .join(l.alias("__r"), "__u")
        .select(
            F.col("__l.__it").alias("item_a"),
            F.col("__r.__it").alias("item_b"),
        )
        .where(F.col("item_a") < F.col("item_b"))
    )
    if touching_items is not None:
        touch = touching_items.select(
            F.col(touching_items.columns[0]).alias("__ti")
        ).distinct()
        pairs = (
            pairs.join(
                F.broadcast(
                    touch.select(
                        F.col("__ti").alias("item_a"),
                        F.lit(1).alias("__ka"),
                    )
                ),
                "item_a",
                "left",
            )
            .join(
                F.broadcast(
                    touch.select(
                        F.col("__ti").alias("item_b"),
                        F.lit(1).alias("__kb"),
                    )
                ),
                "item_b",
                "left",
            )
            .where(F.col("__ka").isNotNull() | F.col("__kb").isNotNull())
            .drop("__ka", "__kb")
        )
    if pack_pair_keys:
        la, lb = F.col("item_a").cast("long"), F.col("item_b").cast("long")
        in_range = (
            (la >= 0) & (la < F.lit(1 << 32)) & (lb >= 0) & (lb < F.lit(1 << 32))
        )
        pk = F.when(in_range, F.shiftleft(la, 32).bitwiseOR(lb)).otherwise(
            F.raise_error(
                F.lit("pack_pair_keys requires ids in [0, 2^32)")
            ).cast("long")
        )
        cooc = (
            pairs.select(pk.alias("__pk"))
            .groupBy("__pk")
            .agg(F.count(F.lit(1)).alias("cooccurrence"))
            .where(F.col("cooccurrence") >= min_cooccurrence)
            .select(
                F.shiftrightunsigned("__pk", 32)
                .cast(item_type)
                .alias("item_a"),
                F.col("__pk")
                .bitwiseAND(F.lit((1 << 32) - 1))
                .cast(item_type)
                .alias("item_b"),
                "cooccurrence",
            )
        )
    else:
        cooc = (
            pairs.groupBy("item_a", "item_b")
            .agg(F.count(F.lit(1)).alias("cooccurrence"))
            .where(F.col("cooccurrence") >= min_cooccurrence)
        )
    cnt = item_counts(interactions, item_col=item_col)
    cnt_a = cnt.select(F.col(item_col).alias("item_a"), F.col("cnt").alias("cnt_a"))
    cnt_b = cnt.select(F.col(item_col).alias("item_b"), F.col("cnt").alias("cnt_b"))
    return (
        cooc.join(cnt_a, "item_a")
        .join(cnt_b, "item_b")
        .select(
            "item_a",
            "item_b",
            "cooccurrence",
            F.round(
                F.col("cooccurrence")
                / F.sqrt(F.col("cnt_a") * F.col("cnt_b")),
                SIM_SCALE,
            ).alias("cosine_sim"),
        )
    )


def symmetrize(sim_upper: DataFrame) -> DataFrame:
    """Expand the upper triangle to both directions for scoring joins."""
    return sim_upper.select("item_a", "item_b", "cosine_sim").unionByName(
        sim_upper.select(
            F.col("item_b").alias("item_a"),
            F.col("item_a").alias("item_b"),
            "cosine_sim",
        )
    )


def recommend(
    purchases: DataFrame,
    sim_upper: DataFrame,
    *,
    user_col: str,
    item_col: str,
    top_n: int = 10,
    max_neighbors: int | None = None,
    small_user_band: bool = False,
) -> DataFrame:
    """M7: score(user, candidate) = Σ sim(candidate, purchased) over the
    user's purchases; mask already-purchased (anti-join — the
    reference's scores[idx] = -999, dags/daily_pipeline.py:519-520);
    keep positive scores; per-user top-n (O4 window).

    `max_neighbors` (opt-in, changes results) keeps only the top-M
    similarity neighbors per item before scoring — the standard
    item-kNN pruning that bounds the scoring join's fan-out at corpus
    scale (full fan-out is |purchases| × avg item degree).

    `small_user_band` (opt-in, values UNCHANGED) declares that
    `purchases` covers a bounded set of users (a serving request batch,
    an entity band) while `sim_upper` is corpus-sized. The plan then
    (a) semi-join-prunes the symmetric similarity to the purchased
    anchor items BEFORE the neighbor-cap window — per-item window
    partitions stay intact, so row_number results are identical, but
    the sort runs over |purchased items| partitions instead of every
    item in the corpus — and (b) broadcasts the purchase set into the
    scoring join and the ownership anti-join, so the similarity table
    is never shuffled past its build. Without the flag (full-corpus
    scoring, every user at once), the symmetric-hash plan is correct
    and the co-location lever is bucketing both sides on the item key
    (sources/bucketed.py; EXECUTION.md).

    Output: user_col, item_col (candidate), score, rank.
    """
    sim = symmetrize(sim_upper)
    basket = purchases.select(
        F.col(user_col).alias("__user"), F.col(item_col).alias("item_a")
    )
    if small_user_band:
        sim = sim.join(
            F.broadcast(basket.select("item_a").distinct()),
            "item_a",
            "left_semi",
        )
    if max_neighbors is not None:
        wn = Window.partitionBy("item_a").orderBy(
            F.col("cosine_sim").desc(), F.col("item_b").asc()
        )
        sim = (
            sim.withColumn("__nr", F.row_number().over(wn))
            .where(F.col("__nr") <= max_neighbors)
            .drop("__nr")
        )
    scored = (
        (F.broadcast(basket) if small_user_band else basket)
        .join(sim, "item_a")
        .groupBy(F.col("__user"), F.col("item_b").alias("__cand"))
        .agg(
            F.sum(F.col("cosine_sim").cast(SIM_DECIMAL)).alias("__score_dec")
        )
    )
    owned = purchases.select(
        F.col(user_col).alias("__user"), F.col(item_col).alias("__cand")
    )
    if small_user_band:
        owned = F.broadcast(owned)
    w = Window.partitionBy("__user").orderBy(
        F.col("__score_dec").desc(), F.col("__cand").asc()
    )
    return (
        scored.join(owned, ["__user", "__cand"], "left_anti")
        .where(F.col("__score_dec") > 0)
        .withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= top_n)
        .select(
            F.col("__user").alias(user_col),
            F.col("__cand").alias(item_col),
            F.col("__score_dec").cast("double").alias("score"),
            "rank",
        )
    )


def similar_items(
    sim_upper: DataFrame, *, item: int | str, top_n: int = 10
) -> DataFrame:
    """M8: top-n most similar items to one item
    (reference recommendation/main.py:193-221)."""
    return (
        symmetrize(sim_upper)
        .where(F.col("item_a") == F.lit(item))
        .where(F.col("cosine_sim") > 0)
        .orderBy(F.col("cosine_sim").desc(), F.col("item_b").asc())
        .limit(top_n)
        .select(
            F.col("item_a").alias("item"),
            F.col("item_b").alias("similar_item"),
            "cosine_sim",
        )
    )
