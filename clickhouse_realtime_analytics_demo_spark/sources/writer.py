"""Lake writer: month-partitioned, sort-keyed parquet tables.

Re-expresses the reference's storage optimizations (SURVEY §4 X1/X2/
X7) as Spark/parquet equivalents:

- ``PARTITION BY toYYYYMM(date)`` → hive-style ``partitionBy(yyyymm)``
  directory partitioning (Catalyst prunes partitions from predicates
  on the partition column — and on the source date column via the
  derived yyyymm predicate helper below).
- ``ORDER BY (k1, k2, …)`` sparse primary index →
  ``sortWithinPartitions(k1, k2, …)`` before write: parquet row-group
  min/max stats on sorted data give the same granule-skipping.
- codecs → ZSTD parquet compression (session default) + dictionary
  encoding (automatic).

At 100 TB: writers also ``repartition(N, partition_col)`` so each
month lands in a bounded number of files; N scales with cluster size.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from clickhouse_realtime_analytics_demo_spark.sources import schemas
from clickhouse_realtime_analytics_demo_spark.sources.schemas import (
    PARTITION_MONTH,
    SORT_KEYS,
)


def yyyymm(col_name: str) -> F.Column:
    return (F.year(col_name) * 100 + F.month(col_name)).cast("int")


def write_table(
    df: DataFrame,
    path: str,
    name: str,
    mode: str = "overwrite",
    files_per_month: int | None = None,
    bloom_cols: tuple[str, ...] = (),
) -> None:
    """Write a reference-shaped table with its partitioning + sort.

    ``bloom_cols`` enables parquet bloom filters per column — the
    analog of the reference's bloom_filter skipping indices
    (02-add-indices.sql:13-24, e.g. session_id): point/IN predicates
    on high-cardinality columns OFF the sort key skip row groups the
    min/max stats can't.
    """
    sort_keys = SORT_KEYS.get(name, ())
    month_src = PARTITION_MONTH.get(name)
    if month_src is not None:
        df = df.withColumn("yyyymm", yyyymm(month_src))
        if files_per_month:
            df = df.repartition(files_per_month, "yyyymm")
        writer = (
            df.sortWithinPartitions("yyyymm", *sort_keys)
            .write.mode(mode)
            .partitionBy("yyyymm")
        )
    else:
        writer = df.sortWithinPartitions(*sort_keys).write.mode(mode)
    for col in bloom_cols:
        writer = writer.option(f"parquet.bloom.filter.enabled#{col}", "true")
    writer.parquet(f"{path}/{name}")


def read_table(spark: SparkSession, path: str, name: str) -> DataFrame:
    """Read a lake table, supplying the known schema when we have one.

    An explicit schema matters twice: (1) scale — schema inference
    reads a parquet footer per file in a driver-side job, which at
    100 TB is a full-metadata pass before the query even plans;
    (2) liveness — the footer-inference job races TTL partition drops
    (``ignoreMissingFiles`` covers scan execution but NOT inference's
    footer reads; a file dropped between listing and footer read
    fails the whole query — reproduced in tests/test_retention_load).
    Partition columns (``yyyymm``) absent from the schema are
    appended by partition discovery, unchanged.

    **TTL-aware listing** (streaming/retention.py; VERDICT r13 #1): a
    table under retention may carry ``_DOOMED``-stamped partitions
    (logically dropped, physically present for the grace window) and
    dot-hidden boundary-trim generations. The fast path — no TTL state
    — is one directory listing; otherwise the live partition dirs are
    passed explicitly (``basePath`` keeps the yyyymm partition column
    and its pruning) and live trim generations (which carry ``yyyymm``
    as a data column) are unioned in. Readers therefore see expired
    rows disappear at marker time, atomically, while every file path
    any in-flight reader resolved stays on disk until its grace
    expires — no reader error, by construction."""
    reader = spark.read
    schema = schemas.LAKE_TABLES.get(name)
    if schema is not None:
        reader = reader.schema(schema)
    table_path = f"{path}/{name}"

    from clickhouse_realtime_analytics_demo_spark.streaming import retention

    listing = retention.ttl_live_listing(table_path)
    if listing is None:
        return reader.parquet(table_path)
    live, gens = listing
    with_month = None
    if schema is not None:  # copy — StructType.add mutates in place
        with_month = T.StructType(
            list(schema.fields) + [T.StructField("yyyymm", T.IntegerType())]
        )
    dfs = []
    if live:
        dfs.append(
            reader.option("basePath", table_path).parquet(*[str(d) for d in live])
        )
    if gens:
        gen_reader = spark.read
        if with_month is not None:
            gen_reader = gen_reader.schema(with_month)
        dfs.append(gen_reader.parquet(*[str(g) for g in gens]))
    if not dfs:
        if with_month is not None:  # fully expired table: empty, typed
            return spark.createDataFrame([], with_month)
        # unknown schema and everything doomed: bounded staleness —
        # serve the doomed bytes until the reap (they still exist)
        return reader.parquet(table_path)
    out = dfs[0]
    for extra in dfs[1:]:
        out = out.unionByName(extra, allowMissingColumns=True)
    return out


def month_predicate(col_name: str, start_yyyymm: int, end_yyyymm: int) -> F.Column:
    """Partition-pruning helper: wrap a date-range filter with the
    derived yyyymm bounds so the scan prunes whole months."""
    return (F.col("yyyymm") >= start_yyyymm) & (F.col("yyyymm") <= end_yyyymm)
