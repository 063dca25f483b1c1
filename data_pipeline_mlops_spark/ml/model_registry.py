"""Model registry as parquet tables (SURVEY.md §2.10 M11-M12).

The reference pickles numpy matrices to S3 and registers W&B artifacts
with a `production` alias (dags/daily_pipeline.py:647-729). Here a
model version is a directory of parquet tables + one metadata row —
readable by any Spark/DuckDB/pandas consumer, no pickle, no external
registry. The best-model compare-and-swap (M11) runs against the
metadata table.
"""

from __future__ import annotations

import time

from pyspark.sql import DataFrame, Row, SparkSession
from pyspark.sql import functions as F

from data_pipeline_mlops_spark.ml.evaluate import is_better_model

METADATA_SCHEMA = (
    "version string, created_at double, is_production boolean, "
    "overall_coverage double, precision_at_k double, extra string"
)


def save_version(
    spark: SparkSession,
    *,
    registry_path: str,
    version: str,
    tables: dict[str, DataFrame],
    metrics: dict,
    promote: bool | None = None,
    now: float | None = None,
) -> bool:
    """Write a model version; promote to production per the M11 CAS
    rule (or force with `promote`). Returns True if promoted."""
    for name, df in tables.items():
        df.write.mode("overwrite").parquet(
            f"{registry_path}/versions/{version}/{name}"
        )
    current = production_metrics(spark, registry_path)
    if promote is None:
        promote = is_better_model(metrics, current)
    row = [
        (
            version,
            float(now if now is not None else time.time()),
            bool(promote),
            float(metrics.get("overall_coverage", 0.0)),
            float(metrics.get("precision_at_k", 0.0)),
            "",
        )
    ]
    spark.createDataFrame(row, METADATA_SCHEMA).write.mode("append").parquet(
        f"{registry_path}/metadata"
    )
    return bool(promote)


def _metadata(spark: SparkSession, registry_path: str) -> DataFrame | None:
    """The metadata table, or None when the registry has none yet.
    Existence is asked of the Hadoop FileSystem first: a read of a
    missing path would also fail, but only after Spark logs a full
    FileNotFoundException trace to stderr. Anything that exists goes
    to the reader, so an unreadable table raises, or save_version's
    compare-and-swap would promote whatever version comes next."""
    path = f"{registry_path}/metadata"
    jpath = spark._jvm.org.apache.hadoop.fs.Path(path)
    conf = spark._jsparkSession.sessionState().newHadoopConf()
    if not jpath.getFileSystem(conf).exists(jpath):
        return None
    return spark.read.parquet(path)


def _production_row(spark: SparkSession, registry_path: str) -> Row | None:
    """The latest promoted metadata row, or None."""
    md = _metadata(spark, registry_path)
    if md is None:
        return None
    rows = (
        md.where(F.col("is_production"))
        .orderBy(F.col("created_at").desc())
        .limit(1)
        .collect()
    )
    return rows[0] if rows else None


def production_version(spark: SparkSession, registry_path: str) -> str | None:
    """Latest promoted version (the reference's `production` alias)."""
    row = _production_row(spark, registry_path)
    return None if row is None else row["version"]


def production_metrics(spark: SparkSession, registry_path: str) -> dict | None:
    row = _production_row(spark, registry_path)
    if row is None:
        return None
    return {
        "overall_coverage": row["overall_coverage"],
        "precision_at_k": row["precision_at_k"],
    }


def load_table(
    spark: SparkSession, *, registry_path: str, version: str, name: str
) -> DataFrame:
    return spark.read.parquet(f"{registry_path}/versions/{version}/{name}")


def load_production(
    spark: SparkSession, *, registry_path: str, name: str
) -> DataFrame:
    version = production_version(spark, registry_path)
    if version is None:
        raise FileNotFoundError(f"no production model in {registry_path}")
    return load_table(
        spark, registry_path=registry_path, version=version, name=name
    )
