"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)`` runs the flagship query at sf0.001;
``queries()``/``oracle_sql()`` expose every implemented operator from
SURVEY.md §2 plus the training-data pipeline surface, each paired with
a DuckDB oracle where SQL-expressible.
"""

from __future__ import annotations

import sys
from collections.abc import Callable
from pathlib import Path

from pyspark.sql import DataFrame, SparkSession

_REPO = str(Path(__file__).resolve().parent)
if _REPO not in sys.path:
    sys.path.insert(0, _REPO)

from clickhouse_realtime_analytics_demo_spark.queries import all_queries  # noqa: E402


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query on /root/testdata/sf0.001; driver checks rows>0."""
    # The caller builds this session, not session.get_spark, so the one
    # read setting get_spark applies is set here, once, before any query
    # runs: parquet TIMESTAMP(NANOS) columns read as longs, which
    # catalog.table normalizes (catalog reads never touch conf).
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    q = all_queries()["daily_events"]
    return q.fn(spark, "/root/testdata/sf0.001")


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """One entry per implemented operator from SURVEY.md §2."""
    return {name: q.fn for name, q in all_queries().items()}


def oracle_sql() -> dict[str, str]:
    """DuckDB-runnable ANSI-SQL oracle per query (omitted for
    non-SQL-expressible ops — driver records rows-only checks)."""
    return {name: q.oracle for name, q in all_queries().items() if q.oracle is not None}
