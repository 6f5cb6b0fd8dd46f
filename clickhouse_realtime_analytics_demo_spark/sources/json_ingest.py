"""HTTP-ingest parity: ``INSERT ... FORMAT JSONEachRow`` (S1/S2).

The reference's ingest boundary is HTTP POSTs of newline-delimited
JSON rows (generate_data.py:44-59: ``INSERT INTO {t} FORMAT
JSONEachRow`` batched 500-5000 rows; stream_data.py:254-297 VALUES
batches). This module is the Spark analog:

- parse NDJSON **with the explicit table schema** (schema-on-write,
  SURVEY §1.3 — no inference, bad rows rejected, unknown fields
  ignored exactly like ClickHouse's ``input_format_skip_unknown_fields``
  default-off is NOT mimicked: we validate strictly),
- derive the MATERIALIZED / DEFAULT columns the reference's DDL
  declares (``event_date Date MATERIALIZED toDate(event_timestamp)``,
  ``revenue Decimal(10,2) DEFAULT 0`` — 01-create-tables.sql:40,48),
- append one sorted, month-partitioned part via the lake writer —
  the same write path the streaming ingest loop uses, so MV
  maintenance and the change tail see HTTP-inserted rows identically.

Parsing is pure DataFrame (``from_json`` over a one-column relation):
distributed, codegen'd, no Python row loop — a 5000-row batch or a
5-billion-row backfill run the same plan.
"""

from __future__ import annotations

import functools

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from clickhouse_realtime_analytics_demo_spark.sources import schemas, writer

__all__ = ["parse_json_rows", "insert_json_rows"]

def _derived(table: str) -> dict[str, F.Column]:
    """MATERIALIZED / DEFAULT derivations applied where the parsed
    value is NULL (reference DDL cites in module docstring)."""
    if table == "events":
        return {
            "event_date": F.to_date("event_timestamp"),
            "revenue": F.lit(0).cast(schemas.MONEY),
        }
    if table == "orders":
        return {"order_date": F.to_date("order_timestamp")}
    if table == "users":
        return {"registration_date": F.to_date("registration_timestamp")}
    return {}


class BadRows(ValueError):
    """Raised when NDJSON rows fail schema-on-write validation."""


def parse_json_rows(spark: SparkSession, table: str, ndjson: str) -> DataFrame:
    """NDJSON text -> typed DataFrame in the table's declared schema.

    Raises :class:`BadRows` on unparseable lines or NULLs in required
    columns (after DEFAULT/MATERIALIZED derivation).
    """
    schema = schemas.LAKE_TABLES.get(table)
    if schema is None:
        raise BadRows(f"unknown table {table!r}; ingestable: {sorted(schemas.LAKE_TABLES)}")
    lines = [ln for ln in (s.strip() for s in ndjson.splitlines()) if ln]
    if not lines:
        raise BadRows("empty insert: no JSON rows")
    # nullable parse schema: NULL-required detection happens after the
    # DEFAULT derivations, not inside from_json
    parse_schema = T.StructType([T.StructField(f.name, f.dataType, True) for f in schema])
    raw = spark.createDataFrame([(ln,) for ln in lines], "value string")
    # PERMISSIVE parse: a malformed line yields an all-NULL struct,
    # which the required-column check below rejects with the offender
    parsed = raw.select(F.from_json("value", parse_schema).alias("row"), "value")
    df = parsed.select("value", "row.*")
    for col, expr in _derived(table).items():
        df = df.withColumn(col, F.coalesce(F.col(col), expr))
    required = [f.name for f in schema if not f.nullable]
    any_null = functools.reduce(
        lambda a, b: a | b, [F.col(c).isNull() for c in required], F.lit(False)
    )
    bad = df.filter(any_null)
    bad_rows = bad.select("value").limit(3).collect()
    if bad_rows:
        raise BadRows(
            f"{table}: rows missing required fields after defaults; "
            f"first offender: {bad_rows[0][0][:200]}"
        )
    return df.select(*[F.col(f.name).cast(f.dataType) for f in schema])


def insert_json_rows(spark: SparkSession, lake_dir: str, table: str, ndjson: str) -> int:
    """Parse and append one part to the lake (sorted within month
    partitions — each HTTP insert block becomes one sorted part,
    exactly the MergeTree INSERT analog). Returns rows written."""
    df = parse_json_rows(spark, table, ndjson)
    n = df.count()
    writer.write_table(df, lake_dir, table, mode="append")
    return n
