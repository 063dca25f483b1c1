"""Operator-level tests: bucketed joins, CF pruning knob."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F


def test_bucketed_join_has_no_shuffle(spark, tmp_path):
    """Two tables bucketed on the join key join without any Exchange
    (the co-location contract that matters at 100 TB)."""
    from data_pipeline_mlops_spark.sources.bucketed import (
        bucketed_join,
        plan_has_shuffle,
        write_bucketed,
    )

    orders = spark.range(0, 1000).select(
        F.col("id").alias("k"), (F.col("id") * 2).alias("a")
    )
    items = spark.range(0, 3000).select(
        (F.col("id") % 1000).alias("k"), F.col("id").alias("b")
    )
    write_bucketed(
        orders, table="t_orders_b", bucket_col="k", n_buckets=8,
        path=str(tmp_path / "t_orders_b"),
    )
    write_bucketed(
        items, table="t_items_b", bucket_col="k", n_buckets=8,
        path=str(tmp_path / "t_items_b"),
    )
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        # disable broadcast so the bucket co-location (not a broadcast)
        # is what eliminates the shuffle
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        joined = bucketed_join(spark, "t_orders_b", "t_items_b", "k")
        assert not plan_has_shuffle(joined)
        assert joined.count() == 3000
        # sanity: the same join on plain parquet DOES shuffle
        plain_l = str(tmp_path / "pl")
        plain_r = str(tmp_path / "pr")
        orders.write.mode("overwrite").parquet(plain_l)
        items.write.mode("overwrite").parquet(plain_r)
        plain = spark.read.parquet(plain_l).join(
            spark.read.parquet(plain_r), "k"
        )
        assert plan_has_shuffle(plain)
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
        spark.sql("DROP TABLE IF EXISTS t_orders_b")
        spark.sql("DROP TABLE IF EXISTS t_items_b")


def test_recommend_max_neighbors_prunes(spark):
    from data_pipeline_mlops_spark.ml import cf

    fixture = [
        ("u1", "A"), ("u1", "B"),
        ("u2", "A"), ("u2", "B"), ("u2", "C"),
        ("u3", "B"), ("u3", "C"),
        ("u4", "C"), ("u4", "D"),
    ]
    inter = spark.createDataFrame(fixture, "user string, item string")
    sim = cf.item_similarity(inter, user_col="user", item_col="item")
    full = cf.recommend(
        inter, sim, user_col="user", item_col="item", top_n=10
    ).collect()
    pruned = cf.recommend(
        inter, sim, user_col="user", item_col="item", top_n=10,
        max_neighbors=1,
    ).collect()
    # pruning can only remove contributions -> scores never increase
    full_scores = {(r["user"], r["item"]): r["score"] for r in full}
    for r in pruned:
        assert r["score"] <= full_scores[(r["user"], r["item"])] + 1e-9
    # with max_neighbors=1, item D keeps only its single neighbor C
    # u1 (owns A,B): reachable candidates shrink but stay valid
    owned = {}
    for u, i in fixture:
        owned.setdefault(u, set()).add(i)
    for r in pruned:
        assert r["item"] not in owned[r["user"]]


def test_rules_from_config(spark):
    from data_pipeline_mlops_spark.operators.alerts import (
        classify_alerts,
        rules_from_config,
    )

    rules = rules_from_config(
        [
            {"name": "BIG", "condition": "amount > 100"},
            {"name": "NEGATIVE", "condition": "amount < 0"},
        ]
    )
    df = spark.createDataFrame(
        [(1, 500.0), (2, 50.0), (3, -1.0)], "id int, amount double"
    )
    out = {r["id"]: r["alert_type"] for r in classify_alerts(df, rules).collect()}
    assert out == {1: "BIG", 3: "NEGATIVE"}


def test_with_stratum_collapses_singletons(spark):
    from data_pipeline_mlops_spark.ml.interactions import with_stratum

    df = spark.createDataFrame(
        [("u1", "A"), ("u1", "B"), ("u2", "C")], "user string, item string"
    )
    out = {(r["user"], r["item"]): r["stratum"] for r in with_stratum(
        df, user_col="user"
    ).collect()}
    assert out[("u1", "A")] == "u1" and out[("u1", "B")] == "u1"
    assert out[("u2", "C")] == "other"


def test_run_range_backfill(spark, tmp_path):
    import datetime as dt

    from data_pipeline_mlops_spark.plans.medallion import run_range

    rows = []
    for d, ds in enumerate(["2024-04-01", "2024-04-02"]):
        day = dt.datetime.fromisoformat(ds + "T10:00")
        rows += [
            (
                f"{ds}-O{i}", day, f"C{i % 3}", f"P{i % 2}", "Books",
                10.0 + i, 1, 10.0 + i, "completed",
            )
            for i in range(5 + d)
        ]
    src = spark.createDataFrame(
        rows,
        "order_id string, order_date timestamp, customer_id string,"
        "product_name string, category string, price double, quantity int,"
        "total double, status string",
    )
    base = str(tmp_path / "lake")
    metrics = run_range(spark, src, base, ["2024-04-02", "2024-04-01"])
    assert set(metrics) == {"2024-04-01", "2024-04-02"}
    gold = spark.read.parquet(f"{base}/gold/daily_summary")
    got = {str(r["date"]): r["total_orders"] for r in gold.collect()}
    assert got == {"2024-04-01": 5, "2024-04-02": 6}


def test_split_clean_quarantines_with_reasons(spark):
    from data_pipeline_mlops_spark.operators.clean import clean_fact, split_clean

    df = spark.createDataFrame(
        [
            (1, 2, 10.0, "ok"),       # clean
            (None, 2, 10.0, "ok"),    # null id
            (3, 0, 10.0, "ok"),       # zero qty
            (4, 2, -10.0, "ok"),      # negative price -> repaired, stays clean
            (5, 0, 10.0, ""),         # two violations
            (6, None, 10.0, "ok"),    # NULL qty -> reject (3VL trap)
        ],
        "id long, qty int, price double, status string",
    )
    clean, rejects = split_clean(
        df, id_col="id", qty_col="qty", price_col="price", status_col="status",
        total_col="total",
    )
    c = {r["id"]: r for r in clean.collect()}
    assert set(c) == {1, 4}
    assert c[4]["price"] == 10.0 and c[4]["total"] == 20.0  # abs repair
    rej = {r["id"]: sorted(r["reject_reasons"]) for r in rejects.collect()}
    assert rej[None] == ["null_id"]
    assert rej[3] == ["non_positive_quantity"]
    assert rej[5] == ["empty_status", "non_positive_quantity"]
    assert rej[6] == ["non_positive_quantity"]
    # quarantine + clean partition the input
    assert clean.count() + rejects.count() == df.count()
    # clean side agrees with the drop-variant operator
    dropped = clean_fact(
        df, id_col="id", qty_col="qty", price_col="price", status_col="status",
        total_col="total",
    )
    assert sorted(map(tuple, dropped.collect())) == sorted(
        map(tuple, clean.collect())
    )


def test_asof_join_semantics(spark):
    """Backward as-of join: non-strict ts ties match, strict excludes
    them, tie among right rows resolves to max tiebreak, unmatched left
    rows keep nulls, tolerance nulls too-old matches."""
    import datetime as dt

    from data_pipeline_mlops_spark.operators.asof import asof_join

    T = lambda s: dt.datetime(2024, 1, 1, 0, 0, s)  # noqa: E731
    left = spark.createDataFrame(
        [(1, T(10), "L10"), (1, T(5), "L5"), (2, T(3), "L3")],
        "k long, ts timestamp, lbl string",
    )
    right = spark.createDataFrame(
        [
            (1, T(5), 100, "r5a"),
            (1, T(5), 101, "r5b"),  # tie at ts=5: max rid wins
            (1, T(8), 102, "r8"),
            (3, T(1), 103, "other-key"),
        ],
        "k long, ts timestamp, rid long, rlbl string",
    )

    def rows(**kw):
        out = asof_join(
            left, right, on="k", left_ts="ts", right_ts="ts",
            payload=["rid", "rlbl"], tiebreak="rid",
            payload_prefix="m_", **kw,
        )
        return {
            (r.k, r.lbl): (r.m_rid, r.m_rlbl)
            for r in out.collect()
        }

    got = rows()
    assert got[(1, "L10")] == (102, "r8")   # latest <= 10
    assert got[(1, "L5")] == (101, "r5b")   # tie included, max rid
    assert got[(2, "L3")] == (None, None)   # no right rows for k=2

    got_strict = rows(strict=True)
    assert got_strict[(1, "L5")] == (None, None)  # tie excluded
    assert got_strict[(1, "L10")] == (102, "r8")

    got_tol = rows(tolerance_sec=1.0)
    assert got_tol[(1, "L10")] == (None, None)  # r8 is 2s old
    assert got_tol[(1, "L5")] == (101, "r5b")   # 0s old

    # FORWARD: earliest >= left ts; ties at the same ts take the
    # SMALLEST tiebreak; strict excludes equal ts; tolerance nulls
    # matches too far in the future.
    got_f = rows(direction="forward")
    assert got_f[(1, "L5")] == (100, "r5a")     # tie -> min rid
    assert got_f[(1, "L10")] == (None, None)    # nothing after 10
    assert got_f[(2, "L3")] == (None, None)
    got_fs = rows(direction="forward", strict=True)
    assert got_fs[(1, "L5")] == (102, "r8")     # equal ts excluded
    got_ft = rows(direction="forward", tolerance_sec=2.0)
    assert got_ft[(1, "L5")] == (100, "r5a")    # 0s ahead

    # NEAREST: smaller absolute gap, exact tie prefers backward.
    got_n = rows(direction="nearest")
    assert got_n[(1, "L10")] == (102, "r8")     # only backward exists
    assert got_n[(1, "L5")] == (101, "r5b")     # 0s tie -> backward
    left2 = spark.createDataFrame(
        [(1, T(7), "L7")], "k long, ts timestamp, lbl string"
    )
    out2 = asof_join(
        left2, right, on="k", left_ts="ts", right_ts="ts",
        payload=["rid", "rlbl"], tiebreak="rid",
        payload_prefix="m_", direction="nearest",
    ).collect()[0]
    # gap to r5 (2s back) vs r8 (1s ahead): forward wins
    assert (out2.m_rid, out2.m_rlbl) == (102, "r8")


def test_synthetic_orders_errors_recovered_exactly(spark):
    """The seeded generator injects the reference's four error classes;
    split_clean must quarantine EXACTLY the labeled rows (per-reason
    counts equal per-label counts, not just similar rates), and
    clean_fact must repair negative prices and recompute totals."""
    from pyspark.sql import functions as F

    from data_pipeline_mlops_spark.operators.clean import (
        clean_fact,
        split_clean,
    )
    from data_pipeline_mlops_spark.sources.synthetic import synthetic_orders

    n = 20_000
    df = synthetic_orders(spark, n, seed=42, with_labels=True).cache()
    labels = df.agg(
        F.sum(F.col("err_zero_qty").cast("long")).alias("zq"),
        F.sum(F.col("err_empty_status").cast("long")).alias("es"),
        F.sum(F.col("err_neg_price").cast("long")).alias("np"),
        F.sum(F.col("err_bad_total").cast("long")).alias("bt"),
    ).first()
    # seeded rates land near nominal (2%/1%/1%/3%)
    assert abs(labels.zq / n - 0.01) < 0.005
    assert abs(labels.es / n - 0.01) < 0.005
    assert abs(labels.np / n - 0.02) < 0.005
    assert abs(labels.bt / n - 0.03) < 0.005

    clean, rejects = split_clean(
        df, id_col="order_id", qty_col="quantity",
        price_col="price", status_col="status", total_col="gross_value",
    )
    reason_counts = dict(
        rejects.select(F.explode("reject_reasons").alias("r"))
        .groupBy("r").count().collect()
    )
    assert reason_counts.get("non_positive_quantity", 0) == labels.zq
    assert reason_counts.get("empty_status", 0) == labels.es
    assert "null_id" not in reason_counts  # generator never nulls ids
    assert clean.count() + rejects.count() == n

    # clean_fact repairs: price is abs()'d, total recomputed exactly
    cleaned = clean_fact(
        df, id_col="order_id", qty_col="quantity",
        price_col="price", status_col="status", total_col="gross_value",
    )
    assert cleaned.where(F.col("price") < 0).count() == 0
    bad = cleaned.where(
        F.col("gross_value")
        != F.round(F.abs(F.col("price")) * F.col("quantity"), 2)
    )
    assert bad.count() == 0

    # determinism: same (n, seed) => identical content, new seed differs
    again = synthetic_orders(spark, n, seed=42, with_labels=True)
    assert df.exceptAll(again).count() == 0
    other = synthetic_orders(spark, n, seed=7, with_labels=True)
    assert other.exceptAll(df).count() > 0
    df.unpersist()


def test_scd2_apply_semantics(spark):
    """Null-safe change detection: NULL->value and value->NULL are
    changes, NULL->NULL is not; new keys insert; absent keys pass
    through; history rows are untouched."""
    import datetime as dt

    from pyspark.sql import functions as F

    from data_pipeline_mlops_spark.operators.scd import scd2_apply

    D = dt.date
    dim = spark.createDataFrame(
        [
            # history row for k=1 (must pass through untouched)
            (1, "old", D(2023, 1, 1), D(2024, 1, 1), False),
            (1, "a", D(2024, 1, 1), None, True),      # will change
            (2, None, D(2024, 1, 1), None, True),     # NULL -> "b": change
            (3, "c", D(2024, 1, 1), None, True),      # "c" -> NULL: change
            (4, None, D(2024, 1, 1), None, True),     # NULL -> NULL: no-op
            (5, "e", D(2024, 1, 1), None, True),      # not in updates
        ],
        "k long, attr string, valid_from date, valid_to date, is_current boolean",
    )
    updates = spark.createDataFrame(
        [(1, "a2"), (2, "b"), (3, None), (4, None), (9, "new")],
        "k long, attr string",
    )
    out = scd2_apply(
        dim, updates, key="k", tracked=["attr"],
        effective_date="2024-02-01",
    )
    rows = {(r.k, r.attr, r.valid_from, r.valid_to, r.is_current)
            for r in out.collect()}
    eff = D(2024, 2, 1)
    assert rows == {
        (1, "old", D(2023, 1, 1), D(2024, 1, 1), False),   # history kept
        (1, "a", D(2024, 1, 1), eff, False),               # closed
        (1, "a2", eff, None, True),                        # reopened
        (2, None, D(2024, 1, 1), eff, False),
        (2, "b", eff, None, True),
        (3, "c", D(2024, 1, 1), eff, False),
        (3, None, eff, None, True),
        (4, None, D(2024, 1, 1), None, True),              # NULL->NULL no-op
        (5, "e", D(2024, 1, 1), None, True),               # untouched
        (9, "new", eff, None, True),                       # brand new
    }


def test_asof_join_carries_payload_atomically(spark):
    """The matched right row travels as ONE struct: when the as-of
    winner has a NULL payload field, that field must stay NULL in the
    result — per-column carries would tear the row by backfilling the
    NULL from an OLDER right row."""
    import datetime as dt

    from data_pipeline_mlops_spark.operators.asof import asof_join

    T = lambda s: dt.datetime(2024, 1, 1, 0, 0, s)  # noqa: E731
    left = spark.createDataFrame(
        [(1, T(10), "L")], "k long, ts timestamp, lbl string"
    )
    right = spark.createDataFrame(
        [
            (1, T(2), 100, "old-full"),   # older row, all fields set
            (1, T(8), None, "new-holey"),  # the true match, rid NULL
        ],
        "k long, ts timestamp, rid long, rlbl string",
    )
    out = asof_join(
        left, right, on="k", left_ts="ts", right_ts="ts",
        payload=["rid", "rlbl"], tiebreak="ts", payload_prefix="m_",
    ).collect()
    assert len(out) == 1
    r = out[0]
    # rid stays NULL (from the ts=8 winner) — NOT 100 from ts=2
    assert (r.m_rid, r.m_rlbl) == (None, "new-holey")
    assert r.m_ts == T(8)


def test_asof_join_non_integer_tiebreak_orders_numerically(spark):
    """A double tiebreak must resolve ties numerically: the old
    hard-coded long cast on the left union side coerced the column to
    string and made 2.0 beat 10.0 lexicographically."""
    import datetime as dt

    from data_pipeline_mlops_spark.operators.asof import asof_join

    T = lambda s: dt.datetime(2024, 1, 1, 0, 0, s)  # noqa: E731
    left = spark.createDataFrame(
        [(1, T(10))], "k long, ts timestamp"
    )
    right = spark.createDataFrame(
        [(1, T(5), 2.0, "lo"), (1, T(5), 10.0, "hi")],
        "k long, ts timestamp, pri double, rlbl string",
    )
    out = asof_join(
        left, right, on="k", left_ts="ts", right_ts="ts",
        payload=["rlbl"], tiebreak="pri", payload_prefix="m_",
    ).collect()
    assert out[0].m_rlbl == "hi"  # 10.0 > 2.0 numerically


def test_asof_join_rejects_output_name_collision(spark):
    """Empty payload_prefix with left_ts == right_ts would emit two
    same-named columns (AMBIGUOUS_REFERENCE downstream); fail fast."""
    import datetime as dt

    from data_pipeline_mlops_spark.operators.asof import asof_join

    t = dt.datetime(2024, 1, 1)
    left = spark.createDataFrame([(1, t)], "k long, ts timestamp")
    right = spark.createDataFrame(
        [(1, t, 9)], "k long, ts timestamp, rid long"
    )
    with pytest.raises(ValueError, match="collide"):
        asof_join(
            left, right, on="k", left_ts="ts", right_ts="ts",
            payload=["rid"], tiebreak="rid", payload_prefix="",
        )


def test_rangepart_rank_matches_direct_window(spark):
    """rangepart_rank's global __rn/__rank/__n_part must equal
    row_number/rank of the direct per-part window — including a
    dominant part, cross-partition tie groups, singleton parts, and
    the derived percent_rank/ntile arithmetic q_event_percentiles
    builds on top."""
    from pyspark.sql import Window

    from data_pipeline_mlops_spark.operators.skew import rangepart_rank

    rows = []
    for i in range(400):  # dominant part with heavy ties
        rows.append(("hot", float(i % 25), i))
    for i in range(400, 430):
        rows.append(("cold", float(i % 3), i))
    rows.append(("one", 9.0, 999))
    df = spark.createDataFrame(rows, "et string, value double, id long")

    w = Window.partitionBy("et").orderBy(F.col("value").asc(), F.col("id").asc())
    w_val = Window.partitionBy("et").orderBy(F.col("value").asc())
    direct = {
        (r["et"], r["id"]): (r["rn"], r["rkv"], r["pct"], r["q"])
        for r in df.select(
            "et", "id",
            # (value, id) is unique, so rank() over w == row_number()
            F.row_number().over(w).alias("rn"),
            # order-value-only peers: the __rank contract
            F.rank().over(w_val).alias("rkv"),
            F.round(F.percent_rank().over(w), 6).alias("pct"),
            F.ntile(4).over(w).alias("q"),
        ).collect()
    }
    rk = rangepart_rank(
        df, part_col="et", order_col="value", id_col="id",
        with_order_rank=True,
    )
    n, rn = F.col("__n_part"), F.col("__rn")
    pct = F.when(n > 1, (rn - 1) / (n - 1)).otherwise(F.lit(0.0))
    bs, rem = F.shiftright(n, 2), n.bitwiseAND(F.lit(3))
    thresh = rem * (bs + 1)
    q = F.when(rn <= thresh, F.floor((rn + bs) / (bs + 1))).otherwise(
        rem + F.floor((rn - thresh + bs - 1) / bs)
    )
    got = {
        (r["et"], r["id"]): (
            r["__rn"], r["__rank"], r["pct"], r["q"]
        )
        for r in rk.select(
            "et", "id", "__rn", "__rank",
            F.round(pct, 6).alias("pct"),
            q.cast("int").alias("q"),
        ).collect()
    }
    assert got == direct


def test_rangepart_rank_float_key_ordering(spark):
    """Planted NaN, +-inf and -0.0 keys: NaN sorts after +inf and
    equals NaN, -0.0 equals 0.0 (``id`` breaks the tie and both share
    one ``__rank``), and -0.0 and 0.0 parts are one part — the same as
    the direct window."""
    from pyspark.sql import Window

    from data_pipeline_mlops_spark.operators.skew import rangepart_rank

    inf, nan = float("inf"), float("nan")
    order = [
        (-inf, 10), (-1.0, 11), (-0.0, 13), (0.0, 12),
        (1.0, 14), (inf, 15), (nan, 17), (nan, 16),
    ]
    rows = [(0.0 if i % 2 else -0.0, v, i) for v, i in order]
    rows += [(nan, 2.0, 20), (nan, nan, 21), (nan, 1.0, 22)]
    df = spark.createDataFrame(rows, "p double, v double, id long")
    rk = rangepart_rank(
        df, part_col="p", order_col="v", id_col="id", with_order_rank=True
    )
    got = {
        r["id"]: (r["__rn"], r["__rank"], r["__n_part"]) for r in rk.collect()
    }
    assert got == {
        10: (1, 1, 8), 11: (2, 2, 8), 12: (3, 3, 8), 13: (4, 3, 8),
        14: (5, 5, 8), 15: (6, 6, 8), 16: (7, 7, 8), 17: (8, 7, 8),
        22: (1, 1, 3), 20: (2, 2, 3), 21: (3, 3, 3),
    }
    w = Window.partitionBy("p").orderBy("v", "id")
    direct = {
        r["id"]: (r["rn"], r["rk"])
        for r in df.select(
            "id",
            F.row_number().over(w).alias("rn"),
            F.rank().over(Window.partitionBy("p").orderBy("v")).alias("rk"),
        ).collect()
    }
    assert {i: v[:2] for i, v in got.items()} == direct


@pytest.mark.parametrize("null_col", ["p", "v", "id"])
def test_rangepart_rank_rejects_null_keys(spark, null_col):
    from data_pipeline_mlops_spark.operators.skew import rangepart_rank

    rows = [("a", 1.0, 1), ("a", 2.0, 2), ("b", 1.0, 3)]
    df = spark.createDataFrame(rows, "p string, v double, id long").withColumn(
        null_col, F.when(F.col("id") == 2, None).otherwise(F.col(null_col))
    )
    with pytest.raises(Exception, match="rangepart_rank: null key"):
        rangepart_rank(df, part_col="p", order_col="v", id_col="id").collect()
