"""Shared fixtures: one SparkSession per test run + the DuckDB
oracle-comparison helper mirroring the driver's check (row count,
schema shape, order-insensitive exact value comparison with columns
sorted by name)."""

from __future__ import annotations

import math
import sys
import uuid
from pathlib import Path

import duckdb
import pytest

REPO = Path(__file__).resolve().parents[1]
if str(REPO) not in sys.path:
    sys.path.insert(0, str(REPO))

import os

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF", "/root/testdata/sf0.001")
SF_DIR_MID = "/root/testdata/sf0.01"
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


@pytest.fixture(scope="session")
def spark():
    from clickhouse_realtime_analytics_demo_spark.session import get_spark

    s = get_spark(app_name="tests", cpus=8, shuffle_partitions=8)
    yield s
    s.stop()


_JOB_PROPS = ("spark.jobGroup.id", "spark.job.description", "spark.job.interruptOnCancel")


def count_jobs(spark, fn, *args, **kwargs):
    """Call ``fn(*args, **kwargs)`` under a fresh job group; return
    ``(result, number of Spark jobs the call ran)``. The caller's job
    group is restored, and the listener bus is drained first so a job
    whose start event is still queued is counted."""
    sc = spark.sparkContext
    group = f"count_jobs_{uuid.uuid4().hex}"
    prev = {k: sc.getLocalProperty(k) for k in _JOB_PROPS}
    sc.setJobGroup(group, "job-count probe")
    try:
        out = fn(*args, **kwargs)
    finally:
        for k, v in prev.items():
            sc.setLocalProperty(k, v)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return out, len(sc.statusTracker().getJobIdsForGroup(group) or [])


def duck_connection(sf_dir: str) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
    return con


def _norm_cell(v):
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        return v
    if hasattr(v, "isoformat"):
        return v.isoformat()
    if isinstance(v, bytes):
        return v.hex()
    if isinstance(v, list):
        return tuple(_norm_cell(x) for x in v)
    return v


def normalize(rows: list[tuple], cols: list[str]) -> list[tuple]:
    """Sort columns by name, normalize cells, sort rows."""
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    out = [tuple(_norm_cell(r[i]) for i in order) for r in rows]
    return sorted(out, key=repr)


def compare_with_oracle(spark, name: str, sf_dir: str = SF_DIR) -> None:
    """Run a registered query on Spark and its oracle on DuckDB;
    assert exact (bit-identical) equality after normalization."""
    from clickhouse_realtime_analytics_demo_spark.queries import all_queries

    q = all_queries()[name]
    sdf = q.fn(spark, sf_dir)
    s_cols = sdf.columns
    s_rows = [tuple(r) for r in sdf.collect()]

    assert q.oracle is not None, f"{name} has no oracle"
    con = duck_connection(sf_dir)
    res = con.sql(q.oracle)
    d_cols = res.columns
    d_rows = res.fetchall()

    assert sorted(s_cols) == sorted(d_cols), (
        f"{name}: column mismatch spark={sorted(s_cols)} duck={sorted(d_cols)}"
    )
    assert len(s_rows) == len(d_rows), (
        f"{name}: row count spark={len(s_rows)} duck={len(d_rows)}"
    )
    sn = normalize(s_rows, s_cols)
    dn = normalize(d_rows, d_cols)
    mismatches = [(a, b) for a, b in zip(sn, dn) if a != b]
    assert not mismatches, f"{name}: {len(mismatches)} mismatched rows; first 3: {mismatches[:3]}"
