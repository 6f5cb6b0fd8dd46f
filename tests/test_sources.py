"""Generator determinism + writer partitioning/sorting (SURVEY §5 #4)."""

from __future__ import annotations

import os
from pathlib import Path

from pyspark.sql import functions as F

from clickhouse_realtime_analytics_demo_spark.sources import generator, schemas, writer


def test_generator_deterministic_across_parallelism(spark):
    a = generator.events(spark, n=2000, n_users=100, partitions=2).collect()
    b = generator.events(spark, n=2000, n_users=100, partitions=16).collect()
    assert sorted(a) == sorted(b)


def _shape(schema):
    return [(f.name, f.dataType) for f in schema.fields]


def test_generator_schema_matches(spark):
    # names + types must match the declared DDL schemas (nullability is
    # loosened by expression derivation — acceptable)
    assert _shape(generator.events(spark, n=10).schema) == _shape(schemas.EVENTS)
    assert _shape(generator.users(spark, n=10).schema) == _shape(schemas.USERS)
    assert _shape(generator.products(spark, n=10).schema) == _shape(schemas.PRODUCTS)
    assert _shape(generator.orders(spark, n=10).schema) == _shape(schemas.ORDERS)


def test_generator_domains(spark):
    ev = generator.events(spark, n=5000, n_users=50)
    types = {r[0] for r in ev.select("event_type").distinct().collect()}
    assert types <= set(generator.EVENT_TYPES)
    # page_view should dominate (40% weight)
    counts = dict(ev.groupBy("event_type").count().collect())
    assert counts["page_view"] == max(counts.values())
    # revenue only on purchases
    assert ev.filter((F.col("event_type") != "purchase") & (F.col("revenue") != 0)).count() == 0


def test_writer_month_partitions_and_sort(spark, tmp_path):
    ev = generator.events(spark, n=3000, n_users=100)
    writer.write_table(ev, str(tmp_path), "events")
    parts = sorted(p.name for p in Path(tmp_path, "events").glob("yyyymm=*"))
    assert parts, "expected yyyymm=... partition dirs"
    back = writer.read_table(spark, str(tmp_path), "events")
    assert back.count() == 3000
    # partition pruning: filtering one month must read a subset
    one_month = int(parts[0].split("=")[1])
    pruned = back.filter(F.col("yyyymm") == one_month)
    assert 0 < pruned.count() < 3000


def test_writer_bloom_filters(spark, tmp_path):
    """Bloom-filter columns (X3 analog) round-trip and are physically
    written (same deterministic data, bloom files strictly larger —
    pyarrow doesn't expose bloom offsets directly)."""
    ev = generator.events(spark, n=2000, n_users=100)
    writer.write_table(ev, str(tmp_path / "plain"), "events")
    writer.write_table(ev, str(tmp_path / "bloom"), "events", bloom_cols=("session_id",))
    back = writer.read_table(spark, str(tmp_path / "bloom"), "events")
    sid = back.select("session_id").first()[0]
    assert back.filter(F.col("session_id") == sid).count() >= 1

    def total(d):
        return sum(f.stat().st_size for f in Path(d).rglob("*.parquet"))

    assert total(tmp_path / "bloom") > total(tmp_path / "plain")


def test_catalog_normalizes_events_ts_forms(spark, tmp_path):
    """The driver's events.ts physical parquet type has drifted across
    testdata generations (TIMESTAMP(NANOS) in some rounds, tz-naive
    micros -> TIMESTAMP_NTZ in round 5). catalog.table() must present
    session-UTC TIMESTAMP for every form so unix_micros-based
    consumers (gap sessions) never break at a round boundary."""
    import datetime

    import pyarrow as pa
    import pyarrow.parquet as pq

    from clickhouse_realtime_analytics_demo_spark.catalog import table

    base = datetime.datetime(2024, 3, 1, 12, 0, 0)
    rows = [base + datetime.timedelta(seconds=i) for i in range(4)]
    for unit in ("us", "ns"):  # tz-naive micros (NTZ) and nanos forms
        d = tmp_path / f"sf_{unit}"
        (d / "events.parquet").mkdir(parents=True)
        t = pa.table(
            {
                "event_id": pa.array([1, 2, 3, 4], pa.int64()),
                "ts": pa.array(rows, pa.timestamp(unit)),
                "user_id": pa.array([1, 1, 2, 2], pa.int64()),
            }
        )
        pq.write_table(
            t, str(d / "events.parquet" / "part-0.parquet"),
            use_deprecated_int96_timestamps=False,
            coerce_timestamps=None,
            store_schema=False,
        )
        for read in ("cold", "warm"):  # inferred, then memoized schema
            df = table(spark, str(d), "events")
            assert dict(df.dtypes)["ts"] == "timestamp", (unit, read)
            got = [r.ts for r in df.orderBy("event_id").select("ts").collect()]
            assert got == rows, (unit, read)
            # strict consumers work on the normalized column
            micros = df.select(F.unix_micros("ts").alias("us")).orderBy("us").collect()
            assert micros[1].us - micros[0].us == 1_000_000


def test_catalog_table_leaves_session_conf_unchanged(spark):
    """A read never mutates session config (ROADMAP: no query path
    does): the nanos-as-long parquet setting catalog.table relies on is
    applied once by session.get_spark, and an events read leaves every
    conf key as it found it — checked with the key unset, so the
    result does not depend on which test read events first."""
    from clickhouse_realtime_analytics_demo_spark.catalog import table
    from tests.conftest import SF_DIR

    key = "spark.sql.legacy.parquet.nanosAsLong"
    assert spark.conf.get(key) == "true"  # set at session build
    try:
        spark.conf.unset(key)
        before = dict(spark.conf.getAll)
        table(spark, SF_DIR, "events")
        assert dict(spark.conf.getAll) == before
    finally:
        spark.conf.set(key, "true")


def test_catalog_warm_table_runs_no_jobs(spark):
    """The first read of a table infers its schema (one footer job);
    every later read of the unchanged file reuses the memoized schema
    and runs no Spark job before the caller's action."""
    from clickhouse_realtime_analytics_demo_spark.catalog import TABLES, table
    from tests.conftest import SF_DIR, count_jobs

    for name in TABLES:
        table(spark, SF_DIR, name)
    warm = {name: count_jobs(spark, table, spark, SF_DIR, name)[1] for name in TABLES}
    assert warm == dict.fromkeys(TABLES, 0)


def test_catalog_memoized_schema_matches_inference(spark):
    from clickhouse_realtime_analytics_demo_spark import catalog
    from tests.conftest import SF_DIR

    for name in catalog.TABLES:
        path = f"{SF_DIR}/{name}.parquet"
        catalog.table(spark, SF_DIR, name)
        memo = catalog._schemas[os.path.abspath(path)][1]
        assert memo == spark.read.parquet(path).schema, name
        # the non-events tables are returned exactly as read
        if name != "events":
            assert catalog.table(spark, SF_DIR, name).schema == memo, name


def test_catalog_sees_rewritten_table(spark, tmp_path):
    """The memo is keyed on the file's stat fingerprint: a table file
    rewritten in place (here with an extra column) is re-inferred on
    the next read — for a single-file table and for a directory
    table's data file."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from clickhouse_realtime_analytics_demo_spark.catalog import table

    def write(path, extra):
        cols = {"n_nationkey": pa.array([0, 1], pa.int64()), "n_name": ["A", "B"]}
        if extra:
            cols["n_extra"] = pa.array([7, 8], pa.int64())
        pq.write_table(pa.table(cols), str(path))

    single = tmp_path / "single"
    single.mkdir()
    multi = tmp_path / "multi" / "nation.parquet"
    multi.mkdir(parents=True)
    for sf_dir, target in ((single, single / "nation.parquet"), (multi.parent, multi / "part-0.parquet")):
        write(target, extra=False)
        assert table(spark, str(sf_dir), "nation").columns == ["n_nationkey", "n_name"]
        table(spark, str(sf_dir), "nation")  # warm: served from the memo
        write(target, extra=True)
        df = table(spark, str(sf_dir), "nation")
        assert df.columns == ["n_nationkey", "n_name", "n_extra"], sf_dir
        assert sorted(r.n_extra for r in df.collect()) == [7, 8]


def test_catalog_self_join_keeps_distinct_attributes(spark):
    """Only the schema is memoized, never the DataFrame: two reads of
    one table carry distinct attribute ids, so a self-join matches row
    to row (25 on the key) instead of collapsing to a cross product.
    The counts alone cannot tell: Spark re-resolves a trivially-true
    ``df.k == df.k`` self-join condition side by side, so the attribute
    ids are compared directly."""
    from clickhouse_realtime_analytics_demo_spark.catalog import table
    from tests.conftest import SF_DIR

    def attrs(df):
        return df._jdf.queryExecution().analyzed().output().toString()

    for name in ("nation", "events"):
        table(spark, SF_DIR, name)
        assert attrs(table(spark, SF_DIR, name)) != attrs(table(spark, SF_DIR, name)), name
    a = table(spark, SF_DIR, "nation")
    b = table(spark, SF_DIR, "nation")
    assert a.join(b, a.n_nationkey == b.n_nationkey).count() == 25
    # each region key matches the five nations of that region
    assert a.join(b, a.n_nationkey == b.n_regionkey).count() == 25
