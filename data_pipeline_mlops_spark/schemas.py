"""Explicit StructTypes for every surface (SURVEY.md §1.2-1.3).

The reference mixes fixed DDL (Postgres source,
scripts/setup_source_db.py:48-93; Flink DDL,
flink_job_alert_detection_simple.py:24-59) with pandas inference
everywhere else. Engine rule: correctness-checked paths NEVER rely on
schema inference — these StructTypes are the single source of truth.
Money columns are DECIMAL(10,2) at the source; streaming/CDC paths
degrade them to double (Debezium decimal.handling.mode=double), which
the CDC schema mirrors deliberately (SURVEY.md §7 hard part 5).
"""

from __future__ import annotations

from pyspark.sql import types as T

# --- source-of-truth relational entities (setup_source_db.py:48-93) ---

ORDERS = T.StructType(
    [
        T.StructField("order_id", T.StringType(), False),
        T.StructField("order_date", T.TimestampType(), True),
        T.StructField("customer_id", T.StringType(), True),
        T.StructField("product_id", T.StringType(), True),
        T.StructField("category", T.StringType(), True),
        T.StructField("product_name", T.StringType(), True),
        T.StructField("price", T.DecimalType(10, 2), True),
        T.StructField("quantity", T.IntegerType(), True),
        T.StructField("total", T.DecimalType(10, 2), True),
        T.StructField("status", T.StringType(), True),
        T.StructField("payment_method", T.StringType(), True),
        T.StructField("region", T.StringType(), True),
        T.StructField("created_at", T.TimestampType(), True),
        T.StructField("updated_at", T.TimestampType(), True),
    ]
)

CUSTOMERS = T.StructType(
    [
        T.StructField("customer_id", T.StringType(), False),
        T.StructField("customer_name", T.StringType(), True),
        T.StructField("email", T.StringType(), True),
        T.StructField("phone", T.StringType(), True),
        T.StructField("registration_date", T.DateType(), True),
        T.StructField("customer_segment", T.StringType(), True),
        T.StructField("lifetime_value", T.DecimalType(10, 2), True),
        T.StructField("city", T.StringType(), True),
        T.StructField("country", T.StringType(), True),
        T.StructField("created_at", T.TimestampType(), True),
    ]
)

PRODUCTS = T.StructType(
    [
        T.StructField("product_id", T.StringType(), False),
        T.StructField("product_name", T.StringType(), True),
        T.StructField("category", T.StringType(), True),
        T.StructField("base_price", T.DecimalType(10, 2), True),
        T.StructField("stock_quantity", T.IntegerType(), True),
        T.StructField("created_at", T.TimestampType(), True),
    ]
)

# --- streaming surfaces (double, not decimal — CDC parity) ---
# canonical definitions live with the streaming code
from data_pipeline_mlops_spark.streaming.alert_stream import (  # noqa: E402
    CDC_ORDER_SCHEMA as CDC_ORDER,
)

ALERT = T.StructType(
    [
        T.StructField("alert_type", T.StringType(), False),
        T.StructField("order_id", T.StringType(), True),
        T.StructField("customer_id", T.StringType(), True),
        T.StructField("product_name", T.StringType(), True),
        T.StructField("total", T.DoubleType(), True),
        T.StructField("quantity", T.IntegerType(), True),
    ]
)

# --- ML surfaces ---

INTERACTION = T.StructType(
    [
        T.StructField("customer_id", T.StringType(), False),
        T.StructField("product_name", T.StringType(), False),
        T.StructField("date", T.StringType(), True),
        T.StructField("timestamp", T.TimestampType(), True),
    ]
)

ITEM_SIMILARITY = T.StructType(
    [
        T.StructField("item_a", T.StringType(), False),
        T.StructField("item_b", T.StringType(), False),
        T.StructField("cooccurrence", T.LongType(), False),
        T.StructField("cosine_sim", T.DoubleType(), False),
    ]
)

EVAL_METRICS = T.StructType(
    [
        T.StructField("eval_rows", T.DoubleType(), True),
        T.StructField("user_coverage", T.DoubleType(), True),
        T.StructField("item_coverage", T.DoubleType(), True),
        T.StructField("overall_coverage", T.DoubleType(), True),
        T.StructField("evaluated_users", T.DoubleType(), True),
        T.StructField("precision_at_k", T.DoubleType(), True),
    ]
)


def nullable(dt: T.DataType) -> T.DataType:
    """``dt`` as a parquet read returns it: every field, array element
    and map value nullable, nested ones included."""
    if isinstance(dt, T.StructType):
        return T.StructType(
            [
                T.StructField(f.name, nullable(f.dataType), True, f.metadata)
                for f in dt.fields
            ]
        )
    if isinstance(dt, T.ArrayType):
        return T.ArrayType(nullable(dt.elementType), True)
    if isinstance(dt, T.MapType):
        return T.MapType(nullable(dt.keyType), nullable(dt.valueType), True)
    return dt


__all__ = [
    "ORDERS",
    "CUSTOMERS",
    "PRODUCTS",
    "CDC_ORDER",
    "ALERT",
    "INTERACTION",
    "ITEM_SIMILARITY",
    "EVAL_METRICS",
    "nullable",
]
