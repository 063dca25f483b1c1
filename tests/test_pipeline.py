"""End-to-end medallion pipeline run (SURVEY §3.1) on a synthetic
e-commerce day with injected DQ errors (the reference generator's
fixture contract, FIXTURES.md §1), plus the serving layer."""

from __future__ import annotations

import datetime as dt
import random
from collections import defaultdict
from decimal import ROUND_HALF_UP, Decimal

import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F
from pyspark.sql.types import DateType

from data_pipeline_mlops_spark.plans.medallion import (
    MedallionConfig,
    run_daily,
    run_range,
)
from data_pipeline_mlops_spark.serve import Recommender
from data_pipeline_mlops_spark.sources import medallion as lake

ORDERS_SCHEMA = (
    "order_id string, order_date timestamp, customer_id string,"
    "product_name string, category string, price double, quantity int,"
    "total double, status string"
)


def _source_orders(spark):
    """~60 orders for 2024-03-01 with reference-style injected errors:
    negative price, zero quantity, empty status, off-date rows."""
    rows = []
    day = dt.datetime(2024, 3, 1, 9, 0)
    for i in range(60):
        price = 50.0 + i
        qty = 1 + (i % 4)
        status = ["completed", "processing", "pending", "cancelled"][i % 4]
        if i == 5:
            price = -120.0  # negative price -> abs() repair
        if i == 9:
            qty = 0  # zero quantity -> dropped
        if i == 13:
            status = ""  # empty status -> dropped (also not extracted)
        rows.append(
            (
                f"ORD{i:07d}",
                day + dt.timedelta(minutes=i * 7),
                f"CUST{i % 12:04d}",
                f"Product {i % 8}",
                ["Electronics", "Books", "Toys"][i % 3],
                price,
                qty,
                price * qty,
                status,
            )
        )
    # off-date row must be excluded by the extract
    rows.append(
        (
            "ORDOFFDAY",
            dt.datetime(2024, 3, 2, 1, 0),
            "CUST0001",
            "Product 1",
            "Books",
            10.0,
            1,
            10.0,
            "completed",
        )
    )
    return spark.createDataFrame(rows, ORDERS_SCHEMA)


def _dense_orders(spark):
    """400 completed orders on 2024-03-01: 40 customers over 15
    products, dense enough that evaluated users get hits."""
    rng = random.Random(7)
    day = dt.datetime(2024, 3, 1, 0, 0)
    rows = [
        (
            f"D{i:05d}",
            day + dt.timedelta(minutes=3 * i),
            f"C{rng.randrange(40):02d}",
            f"P{min(rng.randrange(15), rng.randrange(15)):02d}",
            "Books",
            10.0,
            1,
            10.0,
            "completed",
        )
        for i in range(400)
    ]
    return spark.createDataFrame(rows, ORDERS_SCHEMA)


@pytest.fixture(scope="module")
def pipeline_run(spark, tmp_path_factory):
    base = str(tmp_path_factory.mktemp("lake"))
    cfg = MedallionConfig(base=base, ds="2024-03-01")
    metrics = run_daily(spark, _source_orders(spark), cfg)
    return base, cfg, metrics


@pytest.fixture(scope="module")
def dense_run(spark, tmp_path_factory):
    """run_daily on the dense orders, recording every read-back it
    makes: (read_entity keyword arguments, schema of the frame)."""
    base = str(tmp_path_factory.mktemp("dense_lake"))
    cfg = MedallionConfig(base=base, ds="2024-03-01")
    reads = []
    read_entity = lake.read_entity

    def spy(*args, **kwargs):
        df = read_entity(*args, **kwargs)
        reads.append((kwargs, df.schema))
        return df

    with pytest.MonkeyPatch.context() as mp:
        mp.setattr(lake, "read_entity", spy)
        metrics = run_daily(spark, _dense_orders(spark), cfg)
    return base, cfg, metrics, reads


def test_layers_written_and_pruned(spark, pipeline_run):
    base, cfg, _ = pipeline_run
    bronze = spark.read.parquet(f"{base}/bronze/orders")
    silver = spark.read.parquet(f"{base}/silver/orders")
    # extract kept only the day's completed/processing orders
    assert bronze.where(F.col("order_id") == "ORDOFFDAY").count() == 0
    statuses = {r["status"] for r in bronze.select("status").collect()}
    assert statuses == {"completed", "processing"}
    # silver dropped zero-qty; repaired negative price
    assert silver.where(F.col("quantity") <= 0).count() == 0
    assert silver.where(F.col("price") < 0).count() == 0
    repaired = silver.where(F.col("order_id") == "ORD0000005")
    if repaired.count():  # i=5 is processing -> extracted
        assert repaired.collect()[0]["price"] == 120.0
    # total recomputed as price*quantity
    bad_total = silver.where(
        F.abs(F.col("total") - F.col("price") * F.col("quantity")) > 0.01
    )
    assert bad_total.count() == 0


def test_gold_aggregates_consistent(spark, pipeline_run):
    base, cfg, _ = pipeline_run
    silver = spark.read.parquet(f"{base}/silver/orders")
    gold = spark.read.parquet(f"{base}/gold/daily_summary")
    row = gold.collect()[0]
    assert row["total_orders"] == silver.count()
    cats = spark.read.parquet(f"{base}/gold/category_performance")
    assert cats.count() == silver.select("category").distinct().count()
    # category revenue sums to daily revenue
    total_cat = sum(r["revenue"] for r in cats.collect())
    assert abs(total_cat - row["total_revenue"]) < 0.01


def test_ml_artifacts_and_metrics(spark, pipeline_run):
    base, cfg, metrics = pipeline_run
    train = spark.read.parquet(f"{base}/gold/ml/train")
    ev = spark.read.parquet(f"{base}/gold/ml/eval")
    inter_n = train.count() + ev.count()
    silver = spark.read.parquet(f"{base}/silver/orders")
    distinct_pairs = (
        silver.select("customer_id", "product_name").distinct().count()
    )
    assert inter_n == distinct_pairs  # split is a partition
    assert 0.0 <= metrics["user_coverage"] <= 1.0
    assert 0.0 <= metrics["precision_at_k"] <= 1.0
    assert metrics["eval_rows"] == ev.count()
    sim = spark.read.parquet(f"{base}/gold/ml/item_similarity")
    assert sim.where(F.col("item_a") >= F.col("item_b")).count() == 0


def test_serving_layer(spark, pipeline_run):
    base, cfg, _ = pipeline_run
    cache: dict[str, str] = {}
    rec = Recommender(
        spark,
        similarity_path=f"{base}/gold/ml/item_similarity",
        interactions_path=f"{base}/gold/ml/train",
        user_col="customer_id",
        item_col="product_name",
        cache_get=cache.get,
        cache_set=cache.__setitem__,
    )
    train = spark.read.parquet(f"{base}/gold/ml/train")
    user = train.select("customer_id").first()["customer_id"]
    recs = rec.recommend(user, top_n=5)
    assert len(recs) <= 5
    owned = {
        r["product_name"]
        for r in train.where(F.col("customer_id") == user).collect()
    }
    assert not ({r["item"] for r in recs} & owned)
    # second call served from cache (same payload, cache populated)
    assert cache and rec.recommend(user, top_n=5) == recs
    stats = rec.stats()
    assert stats["n_interactions"] == train.count()
    assert 0 <= stats["sparsity"] < 1
    item = train.select("product_name").first()["product_name"]
    sims = rec.similar(item, top_n=3)
    assert all(s["item"] != item for s in sims)


def test_run_daily_with_registry_promotion(spark, tmp_path):
    """§3.1 tail parity: evaluate >> register — first run promotes."""
    from data_pipeline_mlops_spark.ml import model_registry as reg
    from data_pipeline_mlops_spark.plans.medallion import (
        MedallionConfig,
        run_daily,
    )

    base = str(tmp_path / "lake2")
    rpath = str(tmp_path / "registry")
    cfg = MedallionConfig(base=base, ds="2024-03-01")
    metrics = run_daily(
        spark, _source_orders(spark), cfg, registry_path=rpath
    )
    assert metrics["promoted"] == 1.0
    assert reg.production_version(spark, rpath) == "2024-03-01"
    sim = reg.load_production(
        spark, registry_path=rpath, name="item_similarity"
    )
    assert sim.count() > 0


def _partition_rows(base: str, entity: str, ds: str) -> list[dict]:
    """One written gold partition, read with pyarrow instead of Spark."""
    return pq.read_table(f"{base}/gold/{entity}/date={ds}").to_pylist()


def _recompute_metrics(base: str, cfg: MedallionConfig) -> dict:
    """run_daily's metrics in plain Python from the written train/eval
    split and similarity table: coverage (M9), then each user's top-n
    recommendations (score = sum of cosine over owned items, owned items
    masked, ties by item) and precision@k over them (M7, M10)."""
    u, i = cfg.customer_col, cfg.product_col
    train = [(r[u], r[i]) for r in _partition_rows(base, "ml/train", cfg.ds)]
    ev = [(r[u], r[i]) for r in _partition_rows(base, "ml/eval", cfg.ds)]
    train_users = {x for x, _ in train if x is not None}
    train_items = {y for _, y in train if y is not None}
    n = len(ev)

    def frac(k: int) -> float:
        return round(k / max(n, 1), 6)

    nbrs = defaultdict(dict)
    for r in _partition_rows(base, "ml/item_similarity", cfg.ds):
        s = Decimal(repr(r["cosine_sim"]))
        nbrs[r["item_a"]][r["item_b"]] = nbrs[r["item_b"]][r["item_a"]] = s
    owned = defaultdict(set)
    for x, y in train:
        owned[x].add(y)
    eval_items = defaultdict(set)
    for x, y in ev:
        if x is not None:  # a null item is never recommended
            eval_items[x].add(y)
    per_user = []
    for x, items in owned.items():
        score = defaultdict(Decimal)
        for y in items:
            for c, s in nbrs[y].items():
                score[c] += s
        top = sorted((-s, c) for c, s in score.items() if c not in items and s > 0)
        recs = {c for _, c in top[: cfg.top_n]}
        if recs and x in eval_items:
            per_user.append(len(recs & eval_items[x]) / cfg.top_n)
    prec = 0.0
    if per_user:
        mean = Decimal(repr(sum(per_user) / len(per_user)))
        prec = float(mean.quantize(Decimal("1e-6"), ROUND_HALF_UP))
    return {
        "eval_rows": float(n),
        "user_coverage": frac(sum(x in train_users for x, _ in ev)),
        "item_coverage": frac(sum(y in train_items for _, y in ev)),
        "overall_coverage": frac(
            sum(x in train_users and y in train_items for x, y in ev)
        ),
        "evaluated_users": float(len(per_user)),
        "precision_at_k": prec,
    }


@pytest.mark.parametrize("run", ["pipeline_run", "dense_run"])
def test_metrics_match_recomputation(spark, request, run):
    """run_daily's returned and written metrics equal a plain-Python
    recomputation over its written outputs."""
    base, cfg, metrics = request.getfixturevalue(run)[:3]
    expected = _recompute_metrics(base, cfg)
    if run == "dense_run":  # the small fixture has no evaluated user
        assert expected["evaluated_users"] > 0 and expected["precision_at_k"] > 0
    # precision is a mean of doubles rounded to 6 dp: the summation
    # order may differ from Spark's in the last bit
    assert metrics["precision_at_k"] == pytest.approx(
        expected.pop("precision_at_k"), abs=1e-6
    )
    assert {k: metrics[k] for k in expected} == expected
    (row,) = spark.read.parquet(f"{base}/gold/ml/metrics").collect()
    assert row.asDict() == {**metrics, "date": dt.date(2024, 3, 1)}


def test_read_back_schemas_equal_inferred(spark, dense_run):
    """Each read-back passes the schema just written, which must equal
    what read_entity infers from the files, date type and nullability
    included."""
    base, cfg, _, reads = dense_run
    assert [(kw["layer"], kw["entity"]) for kw, _ in reads] == [
        ("bronze", "orders"),
        ("silver", "orders"),
        ("gold", "ml/train"),
        ("gold", "ml/eval"),
        ("gold", "ml/item_similarity"),
    ]
    for kw, supplied in reads:
        assert kw["schema"] is not None
        inferred = lake.read_entity(
            spark, base=base, layer=kw["layer"], entity=kw["entity"], ds=cfg.ds
        ).schema
        assert supplied == inferred, kw["entity"]
        assert supplied["date"].dataType == DateType()
        assert all(f.nullable for f in supplied.fields)


def test_run_range_with_empty_day(spark, tmp_path, pipeline_run):
    """A backfill over a day with no extracted orders: that day writes
    no data files, so the read-back must not need to infer a schema.
    It completes with all-zero metrics, and the day with orders gets
    the metrics a single-day run computes."""
    _, _, metrics = pipeline_run
    out = run_range(
        spark, _source_orders(spark), str(tmp_path / "lake"),
        ["2024-03-01", "2024-02-29"],
    )
    assert out["2024-02-29"] == dict.fromkeys(metrics, 0.0)
    assert out["2024-03-01"] == metrics
