"""Seeded, fully-distributed synthetic data generator for the
reference-shaped tables (value domains per SURVEY.md §1.4, from
generate_data.py:64-158 and stream_data_realtime.py:99-170).

Spark-first: rows derive deterministically from ``spark.range`` ids
via xxhash64 — NO driver-side row building, NO ``rand()`` (whose
output depends on partition layout). The same (table, n, seed)
produces identical data at any parallelism, which is what makes the
MV-equivalence and streaming tests reproducible.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

COUNTRIES = ["US", "UK", "DE", "FR", "CA", "AU", "JP", "BR", "IN", "RU"]
EVENT_TYPES = [
    "page_view",
    "click",
    "search",
    "login",
    "logout",
    "purchase",
    "add_to_cart",
    "remove_from_cart",
    "signup",
    "download",
    "share",
]
# Realistic streaming weights (stream_data_realtime.py:109-120):
# 40% page_view, 20% click, 10% search, then a tail.
EVENT_TYPE_CUTOFFS = [
    (40, "page_view"),
    (60, "click"),
    (70, "search"),
    (75, "login"),
    (78, "logout"),
    (85, "purchase"),
    (91, "add_to_cart"),
    (94, "remove_from_cart"),
    (96, "signup"),
    (98, "download"),
    (100, "share"),
]
DEVICES = ["desktop", "mobile", "tablet"]
BROWSERS = ["Chrome", "Firefox", "Safari", "Edge", "Opera"]
STATUSES = ["completed", "pending", "cancelled", "refunded"]
# Order-status weights 75/15/7/3 (stream_data_realtime.py:170).
STATUS_CUTOFFS = [(75, "completed"), (90, "pending"), (97, "cancelled"), (100, "refunded")]
PAYMENT_METHODS = ["credit_card", "paypal", "bank_transfer", "apple_pay", "google_pay"]
CATEGORIES = [
    "Electronics",
    "Clothing",
    "Books",
    "Home & Garden",
    "Sports",
    "Beauty",
    "Toys",
    "Automotive",
    "Health",
    "Food",
]

EPOCH_START = "2024-01-01 00:00:00"  # generation window start
WINDOW_DAYS = 90


def _h(seed: int, *cols: Column) -> Column:
    """Deterministic per-row hash stream: xxhash64(id, seed) ≥ 0."""
    return F.abs(F.xxhash64(*cols, F.lit(seed)))


def _pick(id_col: Column, seed: int, values: list[str]) -> Column:
    arr = F.array(*[F.lit(v) for v in values])
    return F.element_at(arr, (_h(seed, id_col) % len(values) + 1).cast("int"))


def _weighted(id_col: Column, seed: int, cutoffs: list[tuple[int, str]]) -> Column:
    bucket = _h(seed, id_col) % 100
    # build in reverse: the first (smallest) matching cutoff must win
    result = F.lit(cutoffs[-1][1])
    for cut, value in reversed(cutoffs[:-1]):
        result = F.when(bucket < cut, F.lit(value)).otherwise(result)
    return result


def _money(id_col: Column, seed: int, lo: float, hi: float) -> Column:
    cents = (_h(seed, id_col) % int((hi - lo) * 100)).cast("long")
    return (F.lit(lo).cast("decimal(10,2)") + (cents / 100).cast("decimal(10,2)")).cast(
        "decimal(10,2)"
    )


def _ts(id_col: Column, seed: int, days: int = WINDOW_DAYS) -> Column:
    offset_s = _h(seed, id_col) % (days * 86400)
    return F.timestamp_seconds(
        F.unix_timestamp(F.lit(EPOCH_START).cast("timestamp")) + offset_s
    )


def users(spark: SparkSession, n: int = 10_000, seed: int = 42, partitions: int = 8) -> DataFrame:
    ids = spark.range(1, n + 1, numPartitions=partitions).withColumnRenamed("id", "user_id")
    i = F.col("user_id")
    reg_ts = _ts(i, seed + 1, days=730)
    return ids.select(
        i,
        F.concat(F.lit("user_"), i).alias("username"),
        F.concat(F.lit("user_"), i, F.lit("@example.com")).alias("email"),
        (_h(seed + 2, i) % 63 + 18).cast("int").alias("age"),
        _pick(i, seed + 3, COUNTRIES).alias("country"),
        F.to_date(reg_ts).alias("registration_date"),
        reg_ts.alias("registration_timestamp"),
        (_h(seed + 4, i) % 5 == 0).cast("int").alias("is_premium"),  # P=0.2
        _money(i, seed + 5, 0, 5000).alias("total_spent"),
    )


def products(spark: SparkSession, n: int = 1_000, seed: int = 42, partitions: int = 4) -> DataFrame:
    ids = spark.range(1, n + 1, numPartitions=partitions).withColumnRenamed("id", "product_id")
    i = F.col("product_id")
    name = F.when(
        _h(seed + 11, i) % 50 == 0, F.concat(F.lit("Laptop Pro "), i)
    ).otherwise(F.concat(_pick(i, seed + 12, CATEGORIES), F.lit(" Item "), i))
    return ids.select(
        i,
        name.alias("product_name"),
        _pick(i, seed + 13, CATEGORIES).alias("category"),
        _money(i, seed + 14, 5, 500).alias("price"),
        F.to_date(_ts(i, seed + 15, days=365)).alias("created_date"),
        (_h(seed + 16, i) % 10 != 0).cast("int").alias("is_active"),  # P=0.9
    )


def events(
    spark: SparkSession,
    n: int = 500_000,
    n_users: int = 10_000,
    seed: int = 42,
    partitions: int = 32,
    id_offset: int = 0,
) -> DataFrame:
    """Events stream. ``id_offset`` lets streaming ingest generate
    successive non-overlapping batches with the same determinism."""
    ids = spark.range(
        id_offset + 1, id_offset + n + 1, numPartitions=partitions
    ).withColumnRenamed("id", "event_id")
    i = F.col("event_id")
    ts = _ts(i, seed + 21)
    user = (_h(seed + 22, i) % n_users + 1).cast("long")
    # 5-minute session buckets, as the reference generator does
    # (stream_data_realtime.py:137: f"sess-{user_id}-{ts//300}").
    sess = F.concat(
        F.lit("sess-"), user, F.lit("-"), F.floor(F.unix_timestamp(ts) / 300).cast("long")
    )
    etype = _weighted(i, seed + 23, EVENT_TYPE_CUTOFFS)
    return ids.select(
        i,
        user.alias("user_id"),
        etype.alias("event_type"),
        ts.alias("event_timestamp"),
        F.to_date(ts).alias("event_date"),  # MATERIALIZED column, stored
        F.concat(F.lit("/page/"), (_h(seed + 24, i) % 100).cast("int")).alias("page_url"),
        sess.alias("session_id"),
        _pick(i, seed + 25, DEVICES).alias("device_type"),
        _pick(i, seed + 26, BROWSERS).alias("browser"),
        _pick(i, seed + 27, COUNTRIES).alias("country"),
        (_h(seed + 28, i) % 3600).cast("long").alias("duration_seconds"),
        # revenue only on purchases; DEFAULT 0 otherwise (DDL :48)
        F.when(etype == "purchase", _money(i, seed + 29, 1, 500))
        .otherwise(F.lit(0).cast("decimal(10,2)"))
        .alias("revenue"),
    )


def day_events(
    spark: SparkSession, day: int, n: int, n_users: int, id_offset: int
) -> DataFrame:
    """:func:`events` confined to simulated day ``day`` (counted from
    ``EPOCH_START``): timestamps remapped onto [day, day+1)
    deterministically; every other column (and the column ORDER the
    file-stream schema requires) unchanged. Multi-day streaming-state
    and retention runs ingest one of these per day."""
    ev = events(spark, n=n, n_users=n_users, id_offset=id_offset, partitions=4)
    base = F.unix_timestamp(F.lit(EPOCH_START).cast("timestamp"))
    sec = F.abs(F.xxhash64("event_id", F.lit(999))) % 86400
    ts = F.timestamp_seconds(base + day * 86400 + sec)
    return ev.withColumn("event_timestamp", ts).withColumn(
        "event_date", F.to_date(F.col("event_timestamp"))
    )


def orders(
    spark: SparkSession,
    n: int = 25_000,
    n_users: int = 10_000,
    n_products: int = 1_000,
    seed: int = 42,
    partitions: int = 8,
    id_offset: int = 0,
) -> DataFrame:
    ids = spark.range(
        id_offset + 1, id_offset + n + 1, numPartitions=partitions
    ).withColumnRenamed("id", "order_id")
    i = F.col("order_id")
    ts = _ts(i, seed + 31)
    qty = (_h(seed + 32, i) % 5 + 1).cast("long")
    unit = _money(i, seed + 33, 5, 500)
    return ids.select(
        i,
        (_h(seed + 34, i) % n_users + 1).cast("long").alias("user_id"),
        (_h(seed + 35, i) % n_products + 1).cast("long").alias("product_id"),
        qty.alias("quantity"),
        F.to_date(ts).alias("order_date"),
        ts.alias("order_timestamp"),
        (unit * qty).cast("decimal(10,2)").alias("total_amount"),
        _weighted(i, seed + 36, STATUS_CUTOFFS).alias("status"),
        _pick(i, seed + 37, PAYMENT_METHODS).alias("payment_method"),
    )
