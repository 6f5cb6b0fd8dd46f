"""Table catalog: load the driver's parquet tables as DataFrames/views.

The reference declares fixed DDL per table and lets ClickHouse resolve
names (init-scripts/01-create-tables.sql); here the analog is
``spark.read.parquet`` + temp-view registration so both the DataFrame
and ``spark.sql`` surfaces see the same relations.

Scale notes: reads are plain parquet scans — Catalyst handles column
pruning and predicate pushdown, so callers must NOT pre-collect or
cache these. Small dimensions (region, nation, supplier, part,
customer at low SF) broadcast automatically under
``spark.sql.autoBroadcastJoinThreshold``; fact tables (lineitem,
orders, events) stay distributed.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

# Dimensions that are always safe to broadcast (bounded cardinality
# regardless of scale factor — mirrors the reference's in-RAM
# dictionaries, 06-add-dictionaries.sql.disabled:17-128).
BOUNDED_DIMS = frozenset({"region", "nation"})


def table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    if name not in TABLES:
        raise KeyError(f"unknown table {name!r}; expected one of {TABLES}")
    if name == "events":
        # events.ts may be parquet TIMESTAMP(NANOS), which Spark's
        # reader rejects unless the session reads it as a
        # nanos-since-epoch long (spark.sql.legacy.parquet.nanosAsLong,
        # set at session build — session.get_spark / __spark_entry__.entry,
        # never here: a read must not mutate session config). Truncate
        # to micros (same conversion DuckDB applies). Integer `div` —
        # a double roundtrip would lose precision above 2^53 ns.
        df = spark.read.parquet(f"{sf_dir}/{name}.parquet")
        if dict(df.dtypes).get("ts") == "bigint":
            df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
        elif dict(df.dtypes).get("ts") == "timestamp_ntz":
            # tz-naive parquet (inferTimestampNTZ) — normalize to the
            # session-UTC TIMESTAMP every consumer (and every previous
            # testdata generation) sees; value-preserving under UTC.
            df = df.withColumn("ts", F.col("ts").cast("timestamp"))
        return df
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


def load(spark: SparkSession, sf_dir: str, names: tuple[str, ...] = TABLES) -> dict[str, DataFrame]:
    return {name: table(spark, sf_dir, name) for name in names}


def register(spark: SparkSession, sf_dir: str, names: tuple[str, ...] = TABLES) -> None:
    """Register temp views so ``spark.sql`` queries resolve table names,
    plus the engine's logical views."""
    for name, df in load(spark, sf_dir, names).items():
        df.createOrReplaceTempView(name)
    register_views(spark, names)


def register_views(spark: SparkSession, names: tuple[str, ...] = TABLES) -> None:
    """Logical (non-materialized) views — the analog of the reference's
    ``CREATE VIEW user_analytics`` (01-create-tables.sql:171-187: a
    users⟕events join-aggregate recomputed at read time). Here the user
    dimension IS the per-user activity profile over events + the
    customer⟕orders profile over the TPC-H side."""
    if "events" in names:
        spark.sql(
            """
            CREATE OR REPLACE TEMP VIEW user_analytics AS
            SELECT user_id,
                   count(*) AS total_events,
                   count(DISTINCT event_type) AS distinct_event_types,
                   min(ts) AS first_seen,
                   max(ts) AS last_seen,
                   sum(value) AS total_value
            FROM events
            GROUP BY user_id
            """
        )
    if "customer" in names and "orders" in names:
        spark.sql(
            """
            CREATE OR REPLACE TEMP VIEW customer_analytics AS
            SELECT c.c_custkey AS custkey,
                   c.c_mktsegment AS mktsegment,
                   count(o.o_orderkey) AS orders,
                   sum(o.o_totalprice) AS total_spent
            FROM customer c LEFT JOIN orders o ON c.c_custkey = o.o_custkey
            GROUP BY c.c_custkey, c.c_mktsegment
            """
        )
