"""Medallion-lake parquet IO (SURVEY.md §2.1 S3-S4, §2.2 K1).

Layout parity with the reference:
`{base}/{layer}/{entity}/date=YYYY-MM-DD/...` (reference
dags/daily_pipeline.py:80-90; README.md:154-157). `partitionBy('date')`
+ dynamic partition overwrite reproduce the per-date overwrite
contract; Spark's partition pruning replaces the reference's manual
single-file point reads, and glob reads replace its boto3
list-and-concat (S4, dags/daily_pipeline.py:250-264).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import DateType, StructField, StructType

from data_pipeline_mlops_spark.schemas import nullable


def layer_path(base: str, layer: str, entity: str) -> str:
    return f"{base}/{layer}/{entity}"


def write_partition(
    df: DataFrame,
    *,
    base: str,
    layer: str,
    entity: str,
    ds: str | None = None,
    partition_col: str = "date",
) -> str:
    """K1: write one date partition (or pass ds=None for a frame that
    already carries the partition column). Dynamic overwrite replaces
    only the partitions present in the frame — the reference's
    overwrite-by-key semantics at any scale."""
    out = df
    if ds is not None:
        out = out.withColumn(partition_col, F.lit(ds))
    path = layer_path(base, layer, entity)
    # enforce per-partition overwrite regardless of the caller's session
    # default (static mode would silently wipe sibling date partitions)
    (
        out.write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy(partition_col)
        .parquet(path)
    )
    return path


def written_schema(df: DataFrame, partition_col: str = "date") -> StructType:
    """The schema :func:`read_entity` infers for a frame that
    :func:`write_partition` wrote with ``ds``: its columns, nested
    ones included, made nullable (a parquet read makes them so), then
    the ``YYYY-MM-DD`` partition column as a date."""
    return StructType(
        [*nullable(df.schema).fields, StructField(partition_col, DateType(), True)]
    )


def read_entity(
    spark: SparkSession,
    *,
    base: str,
    layer: str,
    entity: str,
    ds: str | None = None,
    partition_col: str = "date",
    schema: StructType | None = None,
) -> DataFrame:
    """S3/S4: read an entity; with ds, the filter prunes to one
    partition directory (check .explain for PartitionFilters).

    ``schema`` skips inference, which runs a job that reads a parquet
    footer, and reads an entity with no data files yet (a day with no
    rows) as an empty frame; pass it when the schema is known, e.g.
    :func:`written_schema` of the frame just written."""
    reader = spark.read if schema is None else spark.read.schema(schema)
    df = reader.parquet(layer_path(base, layer, entity))
    if ds is not None:
        df = df.where(F.col(partition_col) == ds)
    return df
