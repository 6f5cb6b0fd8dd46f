"""Live end-to-end pipeline (SURVEY §3.2): IngestLoop writing 1 s
parts WHILE an incremental MV and the change tail consume them —
ingest → MV update → fresh reads, all concurrent, like the reference's
real-time core (stream → insert-triggered MVs → dashboard queries).

All waits poll read-side state with deadlines; nothing calls
processAllAvailable while the producer runs (a moving target that
never drains)."""

from __future__ import annotations

import time

from pyspark.sql import functions as F

from clickhouse_realtime_analytics_demo_spark.sources import writer
from clickhouse_realtime_analytics_demo_spark.streaming import mv, tail
from clickhouse_realtime_analytics_demo_spark.streaming.ingest import IngestLoop


def _wait(cond, deadline_s: float = 180.0, interval: float = 0.3):
    deadline = time.time() + deadline_s
    while time.time() < deadline:
        v = cond()
        if v:
            return v
        time.sleep(interval)
    return None


def _mv_total(spark, path, spec):
    try:
        return mv.read_final(spark, path, spec).agg(F.sum("total_events")).collect()[0][0] or 0
    except Exception:  # MV table not yet created by the first batch
        return 0


def test_live_ingest_mv_tail(spark, tmp_path):
    d = str(tmp_path)
    events_glob = f"{d}/events/yyyymm=*"  # writer partitions by month

    # 1. continuous ingest in the background (explicitly stopped below)
    loop = IngestLoop(spark, d, events_per_tick=50, orders_per_tick=0, tick_seconds=0.3)
    loop.start(seconds=600.0)
    q = t = None
    try:
        assert _wait(lambda: loop.stats.ticks > 0), "ingest never produced a part"

        # 2. incremental MV + change tail consuming while ingest runs
        spec = mv.mv_specs()["daily_user_activity"]
        q = mv.start_incremental_multi(
            spark, events_glob, d, [spec], f"{d}/ckpt_mv", max_files_per_trigger=32
        )
        t = tail.EventTail(spark, events_glob, f"{d}/ckpt_tail")

        # freshness: MV catches up to a cursor taken while producing
        c1 = loop.stats.events_rows
        assert _wait(lambda: _mv_total(spark, f"{d}/{spec.name}", spec) >= c1), (
            f"MV never reached ingest cursor {c1}"
        )
        # and keeps advancing past a later cursor — live maintenance
        assert _wait(lambda: loop.stats.events_rows >= c1 + 100)
        c2 = loop.stats.events_rows
        assert _wait(lambda: _mv_total(spark, f"{d}/{spec.name}", spec) >= c2), (
            f"MV stalled before later cursor {c2}"
        )

        # tail: drains in id order and its cursor advances with ingest
        assert _wait(lambda: t.drain(0, 10)[0])
        rows, cursor = t.drain(after_event_id=0, limit=10_000)
        ids = [r["event_id"] for r in rows]
        assert ids == sorted(ids) and cursor == ids[-1]
        assert _wait(lambda: t.drain(cursor, 50)[0]), "tail cursor never advanced"
    finally:
        loop.stop()
        if q:
            q.stop()
        if t:
            t.stop()

    # 3. ledger check: rows on disk == rows the loop reported
    assert writer.read_table(spark, d, "events").count() == loop.stats.events_rows
