"""Table catalog: load the driver's parquet tables as DataFrames/views.

The reference declares fixed DDL per table and lets ClickHouse resolve
names (init-scripts/01-create-tables.sql); here the analog is
``spark.read.parquet`` + temp-view registration so both the DataFrame
and ``spark.sql`` surfaces see the same relations.

Schema memo: a bare ``spark.read.parquet`` runs one footer
schema-inference Spark job per call, so a query over three tables
would run three jobs before its action on every request.
:func:`read_parquet` memoizes each path's inferred schema for the
process and, on a hit, reads with ``spark.read.schema(s)`` — plan-time
only, no job. The key is the absolute path; the entry is valid while
the path's ``os.stat`` fingerprint (``st_mtime_ns``, ``st_size``) is
unchanged, and for a directory table also the fingerprints of every
data file under it, so a rewritten, added or removed file re-infers on
the next call. A miss infers exactly once and returns the frame that
did the inference, so the first read (``register`` at startup) does the
same work as an unmemoized read. Only the schema is memoized, never the
DataFrame: two ``table()`` calls for one table must carry distinct
attribute ids, or a self-join resolves both sides to one relation. The
schema is inferred, not taken from ``sources/schemas.py``: the physical
type of ``events.ts`` has drifted across data generations (NANOS,
tz-naive micros), and the reader confs that shape inference
(``nanosAsLong``) are fixed at session build, not per read.

Scale notes: reads are plain parquet scans — Catalyst handles column
pruning and predicate pushdown, so callers must NOT pre-collect or
cache these. Small dimensions (region, nation, supplier, part,
customer at low SF) broadcast automatically under
``spark.sql.autoBroadcastJoinThreshold``; fact tables (lineitem,
orders, events) stay distributed.
"""

from __future__ import annotations

import os
import stat

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

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


# absolute path -> (fingerprint, inferred schema); see module docstring.
# No lock: concurrent misses each infer and store a whole tuple whose
# fingerprint was taken BEFORE its inference, so a racing entry is at
# worst stale-keyed and re-infers on the next call, never wrong.
_schemas: dict[str, tuple[tuple, StructType]] = {}


def _fingerprint(path: str) -> tuple:
    """``(path, mtime_ns, size)`` of ``path`` and, for a directory, of every
    data file under it (names starting ``_`` or ``.`` are skipped, as
    Spark's file listing skips them — except ``k=v`` partition dirs)."""
    st = os.stat(path)
    fp = [(path, st.st_mtime_ns, st.st_size)]
    if stat.S_ISDIR(st.st_mode):
        for root, dirs, files in os.walk(path):
            dirs[:] = sorted(d for d in dirs if d[0] not in "_." or "=" in d)
            for f in sorted(files):
                if f[0] not in "_.":
                    fs = os.stat(os.path.join(root, f))
                    fp.append((os.path.join(root, f), fs.st_mtime_ns, fs.st_size))
    return tuple(fp)


def _read(spark: SparkSession, path: str) -> tuple[DataFrame, StructType]:
    key = os.path.abspath(path)
    try:
        fp = _fingerprint(key)
    except OSError:  # remote URI or missing path: unmemoized, same errors
        df = spark.read.parquet(path)
        return df, df.schema
    hit = _schemas.get(key)
    if hit is not None and hit[0] == fp:
        return spark.read.schema(hit[1]).parquet(path), hit[1]
    df = spark.read.parquet(path)
    schema = df.schema
    _schemas[key] = (fp, schema)
    return df, schema


def read_parquet(spark: SparkSession, path: str) -> DataFrame:
    """``spark.read.parquet(path)`` without the per-call schema-inference
    job once the path's schema is known (memo rules in the module
    docstring). A path that cannot be stat'ed reads unmemoized, so its
    errors surface exactly as a bare read's."""
    return _read(spark, path)[0]


def table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    if name not in TABLES:
        raise KeyError(f"unknown table {name!r}; expected one of {TABLES}")
    df, schema = _read(spark, f"{sf_dir}/{name}.parquet")
    if name == "events" and "ts" in schema.fieldNames():
        # events.ts may be parquet TIMESTAMP(NANOS), which Spark's
        # reader rejects unless the session reads it as a
        # nanos-since-epoch long (spark.sql.legacy.parquet.nanosAsLong,
        # set at session build — session.get_spark / __spark_entry__.entry,
        # never here: a read must not mutate session config). Truncate
        # to micros (same conversion DuckDB applies). Integer `div` —
        # a double roundtrip would lose precision above 2^53 ns.
        ts = schema["ts"].dataType.simpleString()
        if ts == "bigint":
            df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
        elif ts == "timestamp_ntz":
            # tz-naive parquet (inferTimestampNTZ) — normalize to the
            # session-UTC TIMESTAMP every consumer (and every previous
            # testdata generation) sees; value-preserving under UTC.
            df = df.withColumn("ts", F.col("ts").cast("timestamp"))
    return df


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
