"""The daily medallion + ML pipeline as one composed Spark job
(SURVEY.md §3.1; reference dags/daily_pipeline.py task graph
extract >> clean >> aggregate >> ml_prep >> train >> evaluate).

Where the reference forks seven Airflow processes with S3 parquet as
the only data channel, here each stage is a pure DataFrame -> DataFrame
function composed lazily in one session; medallion layer boundaries
stay explicit parquet materializations because downstream consumers
(dashboard, Trino-role SQL) read those paths — that's product contract,
not an optimizer choice (SURVEY.md §4).

`run_daily` reads bronze, silver, the ML train/eval split and the
item-similarity table back from the lake right after writing them.
Each later stage then scans one small written partition instead of
re-running the plan above it: without the read-back, the split's
distinct shuffle over silver would run again for training and for
every evaluation action. The read-backs pass the schema just written,
so no job runs to infer it from a parquet footer, and a day with no
orders reads back as an empty frame instead of failing.
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from data_pipeline_mlops_spark.ml import cf, evaluate, interactions
from data_pipeline_mlops_spark.operators import aggregate, clean
from data_pipeline_mlops_spark.sources import medallion as lake


@dataclass
class MedallionConfig:
    base: str  # lake root (bronze/silver/gold subdirs)
    ds: str  # execution date YYYY-MM-DD
    id_col: str = "order_id"
    ts_col: str = "order_date"
    qty_col: str = "quantity"
    price_col: str = "price"
    status_col: str = "status"
    total_col: str = "total"
    customer_col: str = "customer_id"
    product_col: str = "product_name"
    category_col: str = "category"
    statuses: tuple[str, ...] = ("completed", "processing")
    eval_fraction: float = 0.2
    seed: int = 42
    top_n: int = 10
    extra: dict = field(default_factory=dict)


def extract(df: DataFrame, cfg: MedallionConfig) -> DataFrame:
    """Bronze: day slice + status filter + ingestion metadata
    (reference dags/daily_pipeline.py:47-90)."""
    out = (
        df.where(F.to_date(F.col(cfg.ts_col)) == F.lit(cfg.ds))
        .where(F.col(cfg.status_col).isin(*cfg.statuses))
    )
    return clean.with_run_metadata(out, run_date=cfg.ds)


def to_silver(bronze: DataFrame, cfg: MedallionConfig) -> DataFrame:
    """Silver: P2-P6 cleaning, total recomputed
    (reference dags/daily_pipeline.py:93-131)."""
    return clean.clean_fact(
        bronze,
        id_col=cfg.id_col,
        qty_col=cfg.qty_col,
        price_col=cfg.price_col,
        status_col=cfg.status_col,
        total_col=cfg.total_col,
    )


def to_gold(silver: DataFrame, cfg: MedallionConfig) -> dict[str, DataFrame]:
    """Gold: A1 daily summary + A2 category performance
    (reference dags/daily_pipeline.py:134-173)."""
    return {
        "daily_summary": aggregate.daily_summary(
            silver,
            ts_col=cfg.ts_col,
            amount_col=cfg.total_col,
            customer_col=cfg.customer_col,
        ),
        "category_performance": aggregate.group_performance(
            silver,
            group_col=cfg.category_col,
            order_col=cfg.id_col,
            amount=F.col(cfg.total_col),
        ),
    }


def ml_prep(
    silver: DataFrame, cfg: MedallionConfig
) -> tuple[DataFrame, DataFrame]:
    """M1 + M2: interactions then deterministic split
    (reference dags/daily_pipeline.py:180-302)."""
    inter = interactions.extract_interactions(
        silver, user_col=cfg.customer_col, item_col=cfg.product_col
    )
    return interactions.split_train_eval(
        inter,
        user_col=cfg.customer_col,
        item_col=cfg.product_col,
        eval_fraction=cfg.eval_fraction,
        seed=cfg.seed,
    )


def train(train_df: DataFrame, cfg: MedallionConfig) -> DataFrame:
    """M4-M6: the model IS the sparse similarity table — no pickle, no
    dense matrix (reference dags/daily_pipeline.py:309-430)."""
    return cf.item_similarity(
        train_df, user_col=cfg.customer_col, item_col=cfg.product_col
    )


def evaluate_model(
    train_df: DataFrame,
    eval_df: DataFrame,
    sim: DataFrame,
    cfg: MedallionConfig,
) -> dict[str, float]:
    """M9-M10 exhaustively (reference dags/daily_pipeline.py:437-640)."""
    cov = evaluate.coverage(
        train_df, eval_df, user_col=cfg.customer_col, item_col=cfg.product_col
    ).collect()[0]
    recs = cf.recommend(
        train_df, sim,
        user_col=cfg.customer_col, item_col=cfg.product_col,
        top_n=cfg.top_n,
    )
    prec = evaluate.precision_at_k(
        recs, eval_df,
        user_col=cfg.customer_col, item_col=cfg.product_col, k=cfg.top_n,
    ).collect()[0]
    return {
        "eval_rows": float(cov["eval_rows"]),
        "user_coverage": cov["user_coverage"],
        "item_coverage": cov["item_coverage"],
        "overall_coverage": cov["overall_coverage"],
        "evaluated_users": float(prec["evaluated_users"]),
        "precision_at_k": prec["precision_at_k"] or 0.0,
    }


def run_daily(
    spark: SparkSession,
    source_orders: DataFrame,
    cfg: MedallionConfig,
    *,
    registry_path: str | None = None,
) -> dict:
    """The full DAG for one execution date; writes bronze/silver/gold
    partitions + model tables, returns the metrics dict (the
    reference's XCom payloads become a return value). With
    `registry_path`, the trained model is versioned and conditionally
    promoted per the M11 CAS rule — the reference's
    evaluate >> register_to_wandb tail (dags/daily_pipeline.py:647-729)
    without the external registry."""

    def land(df: DataFrame, layer: str, entity: str) -> DataFrame:
        """Write one partition and read it back with the schema just
        written (the read-back includes the partition column)."""
        lake.write_partition(
            df, base=cfg.base, layer=layer, entity=entity, ds=cfg.ds
        )
        return lake.read_entity(
            spark, base=cfg.base, layer=layer, entity=entity, ds=cfg.ds,
            schema=lake.written_schema(df),
        )

    bronze = land(extract(source_orders, cfg), "bronze", "orders")
    silver = land(to_silver(bronze, cfg).drop("date"), "silver", "orders")

    for name, df in to_gold(silver, cfg).items():
        lake.write_partition(
            df, base=cfg.base, layer="gold", entity=name, ds=cfg.ds
        )

    train_df, eval_df = ml_prep(silver, cfg)
    train_df = land(train_df, "gold", "ml/train").drop("date")
    eval_df = land(eval_df, "gold", "ml/eval").drop("date")
    sim = land(train(train_df, cfg), "gold", "ml/item_similarity").drop("date")

    metrics = evaluate_model(train_df, eval_df, sim, cfg)
    metrics_df = spark.createDataFrame(
        [tuple(metrics.values())],
        ", ".join(f"{k} double" for k in metrics),
    )
    lake.write_partition(
        metrics_df, base=cfg.base, layer="gold", entity="ml/metrics",
        ds=cfg.ds,
    )
    if registry_path is not None:
        from data_pipeline_mlops_spark.ml import model_registry

        metrics["promoted"] = float(
            model_registry.save_version(
                spark,
                registry_path=registry_path,
                version=cfg.ds,
                tables={"item_similarity": sim, "interactions": train_df},
                metrics=metrics,
            )
        )
    return metrics


def run_range(
    spark: SparkSession,
    source_orders: DataFrame,
    base: str,
    dates: list[str],
    **cfg_overrides,
) -> dict[str, dict]:
    """Airflow catchup parity (reference daily DAG `catchup=True`,
    dags/daily_pipeline.py:748): sequential per-date backfill, one
    metrics dict per date. Dates process in order so eval accumulation
    and model CAS see history the way the scheduler would provide it."""
    out = {}
    for ds in sorted(dates):
        out[ds] = run_daily(
            spark, source_orders, MedallionConfig(base=base, ds=ds, **cfg_overrides)
        )
    return out
