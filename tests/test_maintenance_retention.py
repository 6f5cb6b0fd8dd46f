"""Deployed maintenance topology with the retention knob (VERDICT r13
#5): ``mv.maintenance`` = shared insert-triggered stream + background
Compactor, with ``retention_days`` making every threshold-triggered
fold also expire rows past the sliding horizon — the ClickHouse "TTL
applies on merges" cadence riding the max_parts policy. The test
drives 7 simulated days of ingest and NEVER calls compact() itself:
state must converge to the retained window's key space purely through
the background cadence."""

from __future__ import annotations

import time
from pathlib import Path

from pyspark.sql import functions as F

from clickhouse_realtime_analytics_demo_spark.sources.generator import day_events
from clickhouse_realtime_analytics_demo_spark.streaming import mv
from clickhouse_realtime_analytics_demo_spark.streaming import parts as parts_store

RETAIN_DAYS = 3
DAYS = 7
PER_DAY = 400
USERS = 80


def _rows(df, keys):
    cols = sorted(df.columns)
    return sorted(
        [tuple(r[c] for c in cols) for r in df.collect()],
        key=lambda t: tuple(str(x) for x in t),
    )


def test_maintenance_topology_holds_retention(spark, tmp_path):
    spec = mv.mv_specs()["mv_user_funnel"]  # keys (user_id, event_date)
    src = tmp_path / "src"
    src.mkdir()
    path = f"{tmp_path}/mv/{spec.name}"

    clock_holder: dict = {"today": None}
    q, comp = mv.maintenance(
        spark,
        str(src),
        f"{tmp_path}/mv",
        [spec],
        f"{tmp_path}/ckpt",
        retention_days=RETAIN_DAYS,
        max_parts=1,  # every new day's part triggers a fold
        compact_interval_s=0.2,
        max_files_per_trigger=8,
        clock=lambda: clock_holder["today"],
    )
    daily = []
    try:
        for day in range(DAYS):
            b = day_events(
                spark, day, PER_DAY, USERS, id_offset=day * PER_DAY
            ).localCheckpoint()
            daily.append(b)
            clock_holder["today"] = b.select(F.max("event_date")).collect()[0][0]
            b.write.mode("append").parquet(str(src))
            q.processAllAvailable()
            # background cadence only: wait for the Compactor to fold
            # the day back to one merged part (no test-side compact)
            deadline = time.time() + 90
            while (
                time.time() < deadline
                and len(parts_store.live_part_dirs(path)) > 1
            ):
                time.sleep(0.2)
            assert len(parts_store.live_part_dirs(path)) == 1, (
                f"day {day}: compactor never folded"
            )
            # state is bounded at the RETAINED window's key space —
            # never days × keys — at every day's steady point
            cutoff = F.date_sub(F.lit(clock_holder["today"]), RETAIN_DAYS)
            retained = daily[0]
            for extra in daily[1:]:
                retained = retained.unionByName(extra)
            retained = retained.withColumn(
                "event_date", F.to_date("event_timestamp")
            ).filter(F.col("event_date") >= cutoff)
            want_keys = retained.select(*spec.keys).distinct().count()
            stored = spark.read.parquet(
                str(parts_store.live_part_dirs(path)[0])
            ).count()
            assert stored == want_keys, (day, stored, want_keys)
    finally:
        q.stop()
        comp.stop()

    assert comp.stats.get(spec.name, 0) >= DAYS - 1  # folds rode the cadence

    # final content check: MV ≡ batch over the retained window only
    cutoff = F.date_sub(F.lit(clock_holder["today"]), RETAIN_DAYS)
    src_all = spark.read.parquet(str(src))
    retained_src = src_all.withColumn(
        "event_date", F.to_date("event_timestamp")
    ).filter(F.col("event_date") >= cutoff)
    want = mv._canonicalize(mv.batch_equivalent(retained_src, spec), spark, spec)
    got = mv.read_final(spark, path, spec)
    assert _rows(got, spec.keys) == _rows(want, spec.keys)
    # no expired partial survives anywhere in the store
    partials = mv._read_partials(spark, path, spec)
    assert partials.filter(F.col("event_date") < cutoff).count() == 0


def test_retention_predicate_date_free_spec_rejected():
    import pytest

    spec = mv.mv_specs()["mv_product_revenue"]
    # order_date IS a date key — build a spec without one
    from dataclasses import replace

    no_date = replace(spec, keys=("product_id", "status"))
    assert no_date.date_key is None
    with pytest.raises(ValueError, match="no date key"):
        mv.retention_predicate(no_date, 3)
    assert spec.date_key == "order_date"
    assert mv.mv_specs()["daily_user_activity"].date_key == "event_date"
