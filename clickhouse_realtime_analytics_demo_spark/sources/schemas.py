"""Explicit StructType schemas for the reference's four base tables.

Type mapping per SURVEY.md §1.2 (reference DDL:
init-scripts/01-create-tables.sql:19-80): UInt64→Long, UInt8 flags→
Int 0/1 (so reference arithmetic like SUM(is_premium) works),
Decimal(10,2) money stays DecimalType (exact sums), LowCardinality→
String (parquet dictionary-encodes automatically), MATERIALIZED
event_date → computed-on-write column in the ingest path.

Schema-on-write: ingest validates against these; no inference anywhere.
"""

from __future__ import annotations

from pyspark.sql import types as T

MONEY = T.DecimalType(10, 2)

USERS = T.StructType(
    [
        T.StructField("user_id", T.LongType(), False),
        T.StructField("username", T.StringType(), False),
        T.StructField("email", T.StringType(), False),
        T.StructField("age", T.IntegerType(), False),
        T.StructField("country", T.StringType(), False),
        T.StructField("registration_date", T.DateType(), False),
        T.StructField("registration_timestamp", T.TimestampType(), False),
        T.StructField("is_premium", T.IntegerType(), False),
        T.StructField("total_spent", MONEY, False),
    ]
)

EVENTS = T.StructType(
    [
        T.StructField("event_id", T.LongType(), False),
        T.StructField("user_id", T.LongType(), False),
        T.StructField("event_type", T.StringType(), False),
        T.StructField("event_timestamp", T.TimestampType(), False),
        # MATERIALIZED toDate(event_timestamp) — stored at write time
        T.StructField("event_date", T.DateType(), False),
        T.StructField("page_url", T.StringType(), False),
        T.StructField("session_id", T.StringType(), False),
        T.StructField("device_type", T.StringType(), False),
        T.StructField("browser", T.StringType(), False),
        T.StructField("country", T.StringType(), False),
        T.StructField("duration_seconds", T.LongType(), False),
        T.StructField("revenue", MONEY, False),  # DEFAULT 0 filled at ingest
    ]
)

PRODUCTS = T.StructType(
    [
        T.StructField("product_id", T.LongType(), False),
        T.StructField("product_name", T.StringType(), False),
        T.StructField("category", T.StringType(), False),
        T.StructField("price", MONEY, False),
        T.StructField("created_date", T.DateType(), False),
        T.StructField("is_active", T.IntegerType(), False),
    ]
)

ORDERS = T.StructType(
    [
        T.StructField("order_id", T.LongType(), False),
        T.StructField("user_id", T.LongType(), False),
        T.StructField("product_id", T.LongType(), False),
        T.StructField("quantity", T.LongType(), False),
        T.StructField("order_date", T.DateType(), False),
        T.StructField("order_timestamp", T.TimestampType(), False),
        T.StructField("total_amount", MONEY, False),
        T.StructField("status", T.StringType(), False),
        T.StructField("payment_method", T.StringType(), False),
    ]
)

# The lake's tables by name: what HTTP ingest accepts and the schema
# the lake writer/reader applies to each.
LAKE_TABLES = {
    "users": USERS,
    "products": PRODUCTS,
    "events": EVENTS,
    "orders": ORDERS,
}

# Reference sort keys (01-create-tables.sql ORDER BY) — our writer
# sorts within partitions by these so parquet row-group min/max stats
# give the same granule-skipping effect as the sparse primary index.
SORT_KEYS = {
    "users": ("country", "is_premium", "user_id"),
    "events": ("event_type", "event_date", "user_id", "event_timestamp"),
    "products": ("category", "product_id"),
    "orders": ("status", "order_date", "user_id", "order_timestamp"),
}

# Monthly partition column expressions (PARTITION BY toYYYYMM(...)).
PARTITION_MONTH = {"events": "event_date", "orders": "order_date"}
