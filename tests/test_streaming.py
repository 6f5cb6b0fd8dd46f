"""Streaming tests (SURVEY §5 #2/#3): MV-equivalence after arbitrary
ingest prefixes, change-tail cursor semantics, TTL retention."""

from __future__ import annotations

import time
from datetime import date

import pytest
from pyspark.sql import functions as F

from clickhouse_realtime_analytics_demo_spark.sources import generator, writer
from clickhouse_realtime_analytics_demo_spark.streaming import mv, retention, tail


def _rows(df, keys):
    return sorted([tuple(r) for r in df.collect()], key=repr)


def _ingest_batches(spark, src_dir, batches):
    """Write N successive event batches as separate parquet files —
    the INSERT-block stream."""
    offset = 0
    for n in batches:
        generator.events(spark, n=n, n_users=50, id_offset=offset, partitions=2).write.mode(
            "append"
        ).parquet(src_dir)
        offset += n
    return offset


MV_NAMES = (
    "daily_user_activity",
    "mv_country_stats",
    "mv_hourly_events",
    "mv_product_revenue",
    "mv_user_funnel",
)


@pytest.mark.parametrize("mv_name", MV_NAMES)
def test_mv_equivalence_after_stream(spark, tmp_path, mv_name):
    """read_final(mv_table) == direct batch aggregation over all data
    ingested so far — the defining MV invariant."""
    spec = mv.mv_specs()[mv_name]
    src = str(tmp_path / "src")
    mv_path = str(tmp_path / "mv" / spec.name)
    ckpt = str(tmp_path / "ckpt")

    gen = generator.events if spec.source == "events" else generator.orders
    offset = 0
    for n in (400, 300, 300):
        gen(spark, n=n, id_offset=offset, partitions=2).write.mode("append").parquet(src)
        offset += n

    q = mv.start_incremental_multi(
        spark, src, str(tmp_path / "mv"), [spec], ckpt, max_files_per_trigger=2
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()

    got = mv.read_final(spark, mv_path, spec)
    want = mv.batch_equivalent(spark.read.parquet(src), spec)
    assert sorted(got.columns) == sorted(want.columns)
    got_rows = _rows(got.select(*sorted(got.columns)), spec.keys)
    want_rows = _rows(want.select(*sorted(want.columns)), spec.keys)
    assert got_rows == want_rows

    # compaction must not change reader results (commit-gated against
    # the live checkpoint, as a production maintenance job would run it)
    mv.compact(spark, mv_path, spec, checkpoint_dir=ckpt)
    after = _rows(
        mv.read_final(spark, mv_path, spec).select(*sorted(got.columns)), spec.keys
    )
    assert after == got_rows


def test_compact_crash_recovery(spark, tmp_path, monkeypatch):
    """compact() must never lose or permanently duplicate rows, at
    whatever step a crash lands; the next call replays/rolls back."""
    from pathlib import Path

    import pytest as _pytest

    spec = mv.mv_specs()["daily_user_activity"]
    mv_path = str(tmp_path / "mv")
    for b, off in ((0, 0), (1, 150)):
        batch = generator.events(spark, n=150, n_users=50, id_offset=off, partitions=1)
        mv.write_batch(batch, spec, mv_path, batch_id=b)

    def total():
        return mv.read_final(spark, mv_path, spec).agg(F.sum("total_events")).collect()[0][0]

    want_rows = _rows(mv.read_final(spark, mv_path, spec), spec.keys)
    assert total() == 300

    # crash AFTER publish, BEFORE snapshot deletion
    from clickhouse_realtime_analytics_demo_spark.streaming import parts as parts_store

    real_finish = parts_store.finish_deletes
    monkeypatch.setattr(
        parts_store, "finish_deletes", lambda *a: (_ for _ in ()).throw(RuntimeError)
    )
    with _pytest.raises(RuntimeError):
        mv.compact(spark, mv_path, spec)
    monkeypatch.setattr(parts_store, "finish_deletes", real_finish)
    mv.compact(spark, mv_path, spec)  # recovery completes the deletes
    assert total() == 300
    assert _rows(mv.read_final(spark, mv_path, spec), spec.keys) == want_rows

    # crash BEFORE publish: a fresh incomplete hidden dir is discarded
    junk = Path(mv_path) / ".compact-999"
    junk.mkdir()
    (junk / "part-00000.parquet").write_bytes(b"not parquet")
    mv.write_batch(
        generator.events(spark, n=50, n_users=50, id_offset=300, partitions=1),
        spec,
        mv_path,
        batch_id=2,
    )
    mv.compact(spark, mv_path, spec)
    assert not junk.exists()
    assert total() == 350

    # a part landing AFTER the snapshot is never deleted by the
    # manifest-driven cleanup (concurrent-stream safety)
    mv.write_batch(
        generator.events(spark, n=25, n_users=50, id_offset=350, partitions=1),
        spec,
        mv_path,
        batch_id=3,
    )
    assert total() == 375


def test_mv_sink_idempotent_on_replay(spark, tmp_path):
    """Crash-replay (VERDICT round 2 #7): foreachBatch re-delivers a
    batch_id when the data write landed but the checkpoint commit did
    not. Re-running the same batch must not double counts."""
    spec = mv.mv_specs()["daily_user_activity"]
    src = str(tmp_path / "src")
    mv_path = str(tmp_path / "mv")
    _ingest_batches(spark, src, [300])
    batch = spark.read.parquet(src)

    mv.write_batch(batch, spec, mv_path, batch_id=0)
    want = _rows(mv.read_final(spark, mv_path, spec), spec.keys)
    total = mv.read_final(spark, mv_path, spec).agg(F.sum("total_events")).collect()[0][0]
    assert total == 300

    # replay of the same micro-batch (same id, same checkpointed input)
    mv.write_batch(batch, spec, mv_path, batch_id=0)
    assert _rows(mv.read_final(spark, mv_path, spec), spec.keys) == want
    replay_total = mv.read_final(spark, mv_path, spec).agg(F.sum("total_events")).collect()[0][0]
    assert replay_total == 300  # no double counts

    # a NEW batch id still accumulates
    batch2 = generator.events(spark, n=100, n_users=50, id_offset=300, partitions=2)
    mv.write_batch(batch2, spec, mv_path, batch_id=1)
    assert (
        mv.read_final(spark, mv_path, spec).agg(F.sum("total_events")).collect()[0][0] == 400
    )


def test_compact_commit_gate_on_crash_replay(spark, tmp_path):
    """VERDICT r4 #2: a crash between a micro-batch's directory write
    and its checkpoint commit re-delivers that batch id on restart.
    compact(checkpoint_dir=...) must skip the uncommitted batch —
    folding it would let the replayed b=N re-appear next to the merged
    part that already contains it, a permanent double count."""
    from pathlib import Path

    spec = mv.mv_specs()["daily_user_activity"]
    mv_path = str(tmp_path / "mv")
    ckpt = tmp_path / "ckpt"
    commits = ckpt / "commits"
    commits.mkdir(parents=True)

    batches = [
        generator.events(spark, n=n, n_users=50, id_offset=off, partitions=2)
        for off, n in ((0, 200), (200, 150), (350, 100))
    ]
    # batches 0 and 1: data written AND checkpoint-committed
    for i in (0, 1):
        mv.write_batch(batches[i], spec, mv_path, batch_id=i)
        (commits / str(i)).write_text("{}")
    # batch 2: data write landed, then CRASH before the commit record
    mv.write_batch(batches[2], spec, mv_path, batch_id=2)

    mv.compact(spark, mv_path, spec, checkpoint_dir=str(ckpt))
    # committed parts folded (tombstoned out of the live view until
    # their reader grace expires); the uncommitted (replayable) one
    # stays fully live
    from clickhouse_realtime_analytics_demo_spark.streaming import parts as parts_store

    live = {d.name for d in parts_store.live_part_dirs(mv_path)}
    assert "b=0" not in live and "b=1" not in live
    assert "b=2" in live

    # restart: streaming re-delivers batch 2 (same id, same checkpointed
    # input files), the sink overwrites b=2, and the commit lands
    mv.write_batch(batches[2], spec, mv_path, batch_id=2)
    (commits / "2").write_text("{}")

    src_all = batches[0].unionAll(batches[1]).unionAll(batches[2])
    want = _rows(mv.batch_equivalent(src_all, spec), spec.keys)
    assert _rows(mv.read_final(spark, mv_path, spec), spec.keys) == want

    # the next compact may now fold the committed replay + merged part
    mv.compact(spark, mv_path, spec, checkpoint_dir=str(ckpt))
    assert "b=2" not in {d.name for d in parts_store.live_part_dirs(mv_path)}
    assert _rows(mv.read_final(spark, mv_path, spec), spec.keys) == want


def test_tail_poll_cursor(spark, tmp_path):
    src = str(tmp_path / "events")
    _ingest_batches(spark, src, [200])
    events = spark.read.parquet(src)
    first = tail.poll(events, last_event_id=0, limit=50).collect()
    assert [r.event_id for r in first] == list(range(1, 51))
    nxt = tail.poll(events, last_event_id=first[-1].event_id, limit=50).collect()
    assert [r.event_id for r in nxt] == list(range(51, 101))
    # cursor past the end -> empty
    assert tail.poll(events, last_event_id=10_000).count() == 0


def test_event_tail_stream(spark, tmp_path):
    src = str(tmp_path / "src")
    ckpt = str(tmp_path / "ckpt")
    _ingest_batches(spark, src, [100])
    # explicit start_after=0 replays history (legacy behavior, opt-in)
    t = tail.EventTail(spark, src, ckpt, start_after=0)
    try:
        t.query.processAllAvailable()
        rows, cursor = t.drain(after_event_id=0, limit=30)
        assert len(rows) == 30 and cursor == rows[-1]["event_id"]
        more, cursor2 = t.drain(after_event_id=cursor, limit=30)
        assert more and more[0]["event_id"] == cursor + 1 and cursor2 > cursor
    finally:
        t.stop()


def test_event_tail_restart_keeps_cursor(spark, tmp_path):
    """A restart with an existing checkpoint must deliver events that
    arrived while the tail was down — the live-edge cursor is decided
    once per checkpoint and persisted, never recomputed."""
    src, ckpt = str(tmp_path / "src"), str(tmp_path / "ckpt")
    _ingest_batches(spark, src, [100])
    t = tail.EventTail(spark, src, ckpt)
    t.query.processAllAvailable()
    assert t.start_after == 100
    t.stop()
    # events land while the tail is down
    generator.events(spark, n=50, n_users=50, id_offset=100, partitions=1).write.mode(
        "append"
    ).parquet(src)
    t2 = tail.EventTail(spark, src, ckpt)
    try:
        assert t2.start_after == 100  # persisted, NOT recomputed to 150
        t2.query.processAllAvailable()
        rows, cursor = t2.drain(0, 1000)
        assert [r["event_id"] for r in rows] == list(range(101, 151))
    finally:
        t2.stop()


def test_event_tail_start_after_rejects_existing_checkpoint(spark, tmp_path):
    """r3 ADVICE / VERDICT r4 #6: with an existing checkpoint the file
    source never re-delivers committed files, so start_after-replay is
    impossible AND overwriting the persisted cursor would drop events.
    EventTail must refuse instead of silently clobbering the cursor."""
    src, ckpt = str(tmp_path / "src"), str(tmp_path / "ckpt")
    _ingest_batches(spark, src, [100])
    t = tail.EventTail(spark, src, ckpt)
    t.query.processAllAvailable()
    t.stop()
    with pytest.raises(ValueError, match="existing checkpoint"):
        tail.EventTail(spark, src, ckpt, start_after=0)
    # a fresh checkpoint_dir replays fine
    t2 = tail.EventTail(spark, src, str(tmp_path / "ckpt_fresh"), start_after=0)
    try:
        t2.query.processAllAvailable()
        rows, _ = t2.drain(0, 1000)
        assert [r["event_id"] for r in rows] == list(range(1, 101))
    finally:
        t2.stop()


def test_event_tail_bounded_catchup(spark, tmp_path):
    """Restarting a tail over a large pre-existing directory must NOT
    collect history (VERDICT round 2 #5): the cursor starts at the
    live edge, per-batch collects are capped at ring capacity, and
    micro-batches are file-bounded."""
    src = str(tmp_path / "src")
    _ingest_batches(spark, src, [3000])  # pre-existing history
    t = tail.EventTail(
        spark, src, str(tmp_path / "ckpt1"), capacity=100, max_files_per_trigger=2
    )
    try:
        assert t.start_after == 3000
        t.query.processAllAvailable()
        assert t.drain(0, 10_000)[0] == []  # history skipped entirely
        # new data past the live edge flows, bounded by capacity
        for off in (3000, 3300):  # ids 3001..3300, 3301..3600
            generator.events(spark, n=300, n_users=50, id_offset=off, partitions=2).write.mode(
                "append"
            ).parquet(src)
        t.query.processAllAvailable()
        rows, cursor = t.drain(0, 10_000)
        ids = [r["event_id"] for r in rows]
        assert ids == sorted(ids) and len(ids) <= 100
        assert cursor == 3600  # ring holds the newest rows
    finally:
        t.stop()


def test_ttl_partition_drop(spark, tmp_path):
    ev = generator.events(spark, n=2000, n_users=50)  # spans 2024-01..03
    writer.write_table(ev, str(tmp_path), "events")
    path = str(tmp_path / "events")
    before_months = retention.expired_months(path, date(2099, 1, 1))
    assert len(before_months) >= 2
    # grace 0 = quiesced mode: doom AND physically reap in one pass
    report = retention.apply_ttl(
        spark, path, "event_date", date(2024, 2, 1), grace_seconds=0.0
    )
    assert report["dropped_partitions"] == [202401]
    assert report["reaped"] == ["yyyymm=202401"]
    remaining = spark.read.parquet(path)
    assert remaining.filter(F.col("event_date") < F.lit("2024-02-01")).count() == 0


def test_ttl_doom_grace_lifecycle(spark, tmp_path):
    """VERDICT r13 #1: a TTL drop is a logical doom first — every byte
    stays on disk through the grace window (in-flight readers finish),
    marker-aware listings exclude it instantly, and only the reap past
    grace removes it physically."""
    from pathlib import Path

    ev = generator.events(spark, n=2000, n_users=50)
    writer.write_table(ev, str(tmp_path), "events")
    path = str(tmp_path / "events")
    jan = Path(path) / "yyyymm=202401"
    pre_cutoff = (
        writer.read_table(spark, str(tmp_path), "events")
        .filter(F.col("event_date") < F.lit("2024-02-01"))
        .count()
    )
    assert pre_cutoff > 0

    # default grace: logical drop only
    report = retention.apply_ttl(spark, path, "event_date", date(2024, 2, 1))
    assert report["dropped_partitions"] == [202401]
    assert report["reaped"] == []
    assert jan.is_dir(), "doomed partition must survive the grace window"
    # marker-aware reader: expired rows gone at marker time
    ev2 = writer.read_table(spark, str(tmp_path), "events")
    assert ev2.filter(F.col("event_date") < F.lit("2024-02-01")).count() == 0
    # the explicit-dirs listing keeps yyyymm partition PRUNING (the
    # basePath option): a month filter must reach PartitionFilters
    pruned = ev2.filter(F.col("yyyymm") == 202403)
    pruned.count()
    plan = pruned._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters: [isnotnull(yyyymm" in plan and "= 202403" in plan
    # bare-path reader: bounded staleness — still served, never errors
    bare = spark.read.parquet(path)
    assert (
        bare.filter(F.col("event_date") < F.lit("2024-02-01")).count() == pre_cutoff
    )
    # second pass is idempotent: nothing newly doomed, nothing reaped early
    report2 = retention.apply_ttl(spark, path, "event_date", date(2024, 2, 1))
    assert report2["dropped_partitions"] == []
    assert jan.is_dir()
    # grace expiry: physical removal
    assert retention.reap_expired(path, grace_seconds=0.0) == ["yyyymm=202401"]
    assert not jan.exists()
    assert spark.read.parquet(path).filter(
        F.col("event_date") < F.lit("2024-02-01")
    ).count() == 0


def test_ttl_boundary_trim_lifecycle(spark, tmp_path):
    """Boundary-month trim rides the same doom/grace/publish contract:
    old files stay resolvable through grace, listings flip atomically
    to the trimmed generation, late backdated arrivals fold in at
    publish (visible, never lost)."""
    from pathlib import Path

    ev = generator.events(spark, n=2000, n_users=50)
    writer.write_table(ev, str(tmp_path), "events")
    path = str(tmp_path / "events")
    feb = Path(path) / "yyyymm=202402"
    cutoff = date(2024, 2, 10)
    tbl = lambda: writer.read_table(spark, str(tmp_path), "events")  # noqa: E731
    feb_keep = (
        tbl()
        .filter(
            (F.col("event_date") >= F.lit("2024-02-10"))
            & (F.col("event_date") < F.lit("2024-03-01"))
        )
        .count()
    )
    report = retention.apply_ttl(
        spark, path, "event_date", cutoff, trim_boundary_month=True
    )
    assert report["dropped_partitions"] == [202401]
    assert report["trimmed_boundary_rows"] > 0
    # grace window: old boundary files still on disk, generation live
    assert feb.is_dir() and (feb / "_DOOMED").exists()
    gens = list(Path(path).glob(".ttl-trim-202402-*"))
    assert len(gens) == 1
    got = tbl()
    assert got.filter(F.col("event_date") < F.lit("2024-02-10")).count() == 0
    assert got.filter(F.col("yyyymm") == 202402).count() == feb_keep

    # a late backdated arrival lands in the doomed boundary dir
    late = generator.events(
        spark, n=40, n_users=5, seed=99, id_offset=10_000, partitions=1
    ).filter(
        (F.col("event_date") >= F.lit("2024-02-15"))
        & (F.col("event_date") < F.lit("2024-03-01"))
    )
    n_late = late.count()
    assert n_late > 0
    late.coalesce(1).write.mode("append").parquet(str(feb))

    # reap past grace: fold late files, publish the generation
    retention.reap_expired(path, grace_seconds=0.0)
    assert (feb / "_SUCCESS").exists(), "published staged partition"
    assert not (feb / "_DOOMED").exists()
    pub = tbl()
    assert pub.filter(F.col("event_date") < F.lit("2024-02-10")).count() == 0
    assert pub.filter(F.col("yyyymm") == 202402).count() == feb_keep + n_late
    # bare read agrees once published (generation is dot-hidden)
    bare_feb = spark.read.parquet(path).filter(F.col("yyyymm") == 202402)
    assert bare_feb.count() == feb_keep + n_late
    # superseded generation sits out its own grace, then disappears
    assert (gens[0] / "_DOOMED").exists()
    retention.reap_expired(path, grace_seconds=0.0)
    assert not gens[0].exists()


def test_ttl_trim_manifest_is_commit_point(spark, tmp_path):
    """r14 ADVICE retention.py:253: a trim generation whose Spark write
    finished (_SUCCESS) but whose TRIM_MANIFEST never landed is TORN —
    it must never be served, never doom its target, and never fold at
    reap with replaced=∅ (which duplicated every kept row and
    resurrected the trimmed expired rows). It is discarded like any
    uncommitted artifact once old enough."""
    import time as _time
    from pathlib import Path

    ev = generator.events(spark, n=2000, n_users=50)
    writer.write_table(ev, str(tmp_path), "events")
    path = str(tmp_path / "events")
    feb = Path(path) / "yyyymm=202402"
    feb_rows = spark.read.parquet(str(feb)).count()

    # simulate the crash window: the generation's data write landed
    # (_SUCCESS) but the manifest — the commit point — did not, and
    # the boundary dir was never stamped doomed
    gen = Path(path) / f".ttl-trim-202402-{_time.time_ns() // 1_000_000}"
    spark.read.parquet(str(feb)).limit(10).write.parquet(str(gen))
    assert (gen / "_SUCCESS").exists()
    assert not (gen / retention.TRIM_MANIFEST).exists()

    # marker-aware listing: torn gen invisible, pre-trim state served
    tbl = writer.read_table(spark, str(tmp_path), "events")
    assert tbl.filter(F.col("yyyymm") == 202402).count() == feb_rows

    # reap: the torn gen must NOT doom the live boundary dir (the old
    # dir-name fallback did) and must survive its own young-age window
    retention.reap_expired(path, grace_seconds=0.0)
    assert not (feb / "_DOOMED").exists()
    assert feb.is_dir() and gen.is_dir()
    assert spark.read.parquet(str(feb)).count() == feb_rows

    # an OLD torn gen (writing pass certainly dead) is discarded
    old = Path(path) / f".ttl-trim-202402-{_time.time_ns() // 1_000_000 - 120_000}"
    gen.rename(old)
    retention.reap_expired(path, grace_seconds=0.0)
    assert not old.exists()
    assert feb.is_dir() and not (feb / "_DOOMED").exists()


def test_ttl_reap_freeze_rename_resume(spark, tmp_path):
    """r14 ADVICE retention.py:255: the reap freezes the doomed trim
    target with one atomic rename BEFORE folding, so the fold snapshot
    and the removal operate on the same file set. A crash between the
    rename and the removal leaves a .ttl-reap-* dir; the next pass
    resumes the fold (idempotent links) and publishes — no row lost."""
    import time as _time
    from pathlib import Path

    ev = generator.events(spark, n=2000, n_users=50)
    writer.write_table(ev, str(tmp_path), "events")
    path = str(tmp_path / "events")
    feb = Path(path) / "yyyymm=202402"
    cutoff = date(2024, 2, 10)
    feb_keep = (
        writer.read_table(spark, str(tmp_path), "events")
        .filter(
            (F.col("event_date") >= F.lit("2024-02-10"))
            & (F.col("event_date") < F.lit("2024-03-01"))
        )
        .count()
    )
    retention.apply_ttl(spark, path, "event_date", cutoff, trim_boundary_month=True)
    assert (feb / "_DOOMED").exists()

    # late backdated arrival into the doomed dir, then simulate a
    # crash AFTER the freeze-rename but before the fold/removal
    late = generator.events(
        spark, n=40, n_users=5, seed=99, id_offset=10_000, partitions=1
    ).filter(
        (F.col("event_date") >= F.lit("2024-02-15"))
        & (F.col("event_date") < F.lit("2024-03-01"))
    )
    n_late = late.count()
    assert n_late > 0
    late.coalesce(1).write.mode("append").parquet(str(feb))
    frozen = Path(path) / f".ttl-reap-202402-{_time.time_ns() // 1_000_000}"
    feb.rename(frozen)

    # next pass: resumes the leftover fold, removes the frozen dir,
    # publishes the generation with the late rows included
    retention.reap_expired(path, grace_seconds=0.0)
    assert not frozen.exists()
    assert (feb / "_SUCCESS").exists() and not (feb / "_DOOMED").exists()
    got = writer.read_table(spark, str(tmp_path), "events")
    assert got.filter(F.col("yyyymm") == 202402).count() == feb_keep + n_late
    assert got.filter(F.col("event_date") < F.lit("2024-02-10")).count() == 0


def test_ttl_service_background_cadence(spark, tmp_path):
    """r14: the background TTL thread (ClickHouse background-merge TTL
    analog, lake-side twin of mv.Compactor) dooms and reaps on its own
    cadence with a sliding retention horizon — no caller-side
    apply_ttl. Stepped clock; quiesced grace for determinism."""
    from pathlib import Path

    ev = generator.events(spark, n=2000, n_users=50)  # spans 2024-01..03
    writer.write_table(ev, str(tmp_path), "events")
    path = str(tmp_path / "events")

    clock = {"today": date(2024, 3, 15)}
    svc = retention.TTLService(
        targets=[(path, "event_date", 30)],  # keep ~1 month
        spark=spark,
        interval_s=0.1,
        grace_seconds=0.0,
        clock=lambda: clock["today"],
    ).start()
    try:
        deadline = time.time() + 30
        while time.time() < deadline and (Path(path) / "yyyymm=202401").exists():
            time.sleep(0.1)
        assert not (Path(path) / "yyyymm=202401").exists()
        assert (Path(path) / "yyyymm=202402").exists()
        # the horizon slides with the clock: a month later, February
        # crosses the cutoff and the SAME service expires it
        clock["today"] = date(2024, 4, 20)
        deadline = time.time() + 30
        while time.time() < deadline and (Path(path) / "yyyymm=202402").exists():
            time.sleep(0.1)
        assert not (Path(path) / "yyyymm=202402").exists()
        assert (Path(path) / "yyyymm=202403").exists()
    finally:
        svc.stop()
    agg = svc.stats[path]
    assert agg["passes"] >= 2 and agg["doomed"] >= 2 and agg["reaped"] >= 2
    surviving = spark.read.parquet(path)
    assert surviving.count() > 0
    assert surviving.filter(F.col("event_date") < F.lit("2024-03-01")).count() == 0


def test_maybe_compact_threshold(spark, tmp_path):
    """Cadence policy (SCALEPROBE.md MV rows): fold only past
    max_parts; below it the call is a no-op listing."""
    from clickhouse_realtime_analytics_demo_spark.sources import generator

    spec = mv.mv_specs()["daily_user_activity"]
    path = str(tmp_path / "mv")
    for i in range(6):
        batch = generator.events(spark, n=50, n_users=20, seed=i, partitions=1,
                                 id_offset=i * 50)
        mv.write_batch(batch, spec, path, i)
    before = mv.read_final(spark, path, spec).agg(F.sum("total_events")).collect()[0][0]
    from clickhouse_realtime_analytics_demo_spark.streaming import parts as parts_store

    assert mv.maybe_compact(spark, path, spec, max_parts=8) is False
    assert len(parts_store.live_part_dirs(path)) == 6
    assert mv.maybe_compact(spark, path, spec, max_parts=4) is True
    assert len(parts_store.live_part_dirs(path)) == 1
    after = mv.read_final(spark, path, spec).agg(F.sum("total_events")).collect()[0][0]
    assert after == before == 300


def test_compactor_folds_during_live_stream(spark, tmp_path):
    """Background Compactor runs against an MV whose maintenance
    stream is LIVE: only committed batches fold (the commit gate), the
    stream keeps appending afterwards, and totals never double-count."""
    from clickhouse_realtime_analytics_demo_spark.streaming.ingest import IngestLoop

    d = str(tmp_path)
    spec = mv.mv_specs()["daily_user_activity"]
    loop = IngestLoop(spark, d, events_per_tick=40, orders_per_tick=0,
                      tick_seconds=0.2)
    q = mv.start_incremental_multi(
        spark, f"{d}/events/yyyymm=*", d, [spec], f"{d}/ckpt",
        max_files_per_trigger=8,
    )
    comp = mv.Compactor(
        spark, [(f"{d}/{spec.name}", spec, f"{d}/ckpt")], interval_s=0.5, max_parts=3
    ).start()

    def total():
        try:
            return (
                mv.read_final(spark, f"{d}/{spec.name}", spec)
                .agg(F.sum("total_events")).collect()[0][0] or 0
            )
        except Exception:
            return 0

    deadline = time.time() + 240
    loop.start(seconds=600.0)
    try:
        # enough ticks that several compactions can trigger at max_parts=3
        while loop.stats.ticks < 20 and time.time() < deadline:
            time.sleep(0.2)
    finally:
        loop.stop()
    try:
        written = loop.stats.events_rows
        # Deterministic barrier, not a wall-clock poll (the 90 s poll
        # flaked under full-suite CPU contention): the maintenance
        # stream is a stateless file stream, so processAllAvailable()
        # returns exactly when every written input file is consumed.
        q.processAllAvailable()
        assert q.exception() is None, q.exception()
        assert total() == written  # no double counts through any fold
    finally:
        q.stop()
        comp.stop()
    assert comp.stats.get("daily_user_activity", 0) >= 1, comp.stats
    # folding actually bounded the table: live parts stay near max_parts
    # (tombstoned fold inputs awaiting their grace window don't count)
    from clickhouse_realtime_analytics_demo_spark.streaming import parts as parts_store
    parts = len(parts_store.live_part_dirs(f"{d}/{spec.name}"))
    assert parts < 20, parts
    # and the final read still matches after one last quiesced fold
    mv.compact(spark, f"{d}/{spec.name}", spec, checkpoint_dir=f"{d}/ckpt")
    assert total() == written


def test_mv_compact_retain_where_bounds_state(spark, tmp_path):
    """compact(retain_where=...) is the TTL DELETE analog for MV state
    (VERDICT r7 #7): after a retention fold, read_final equals a batch
    recompute over ONLY the retained keys, and expired keys are gone
    from the table (not merely filtered at read time)."""
    spec = mv.mv_specs()["mv_user_funnel"]
    path = str(tmp_path / "mv_funnel")
    offset = 0
    all_batches = []
    for b, n in enumerate((400, 300, 500)):
        batch = generator.events(spark, n=n, n_users=40, id_offset=offset, partitions=2)
        mv.write_batch(batch, spec, path, b)
        all_batches.append(batch)
        offset += n
    src = all_batches[0]
    for extra in all_batches[1:]:
        src = src.unionByName(extra)
    cutoff = src.select(F.date_sub(F.max(F.to_date("event_timestamp")), 29)).collect()[0][0]

    mv.compact(spark, path, spec, retain_where=F.col("event_date") >= F.lit(cutoff))

    # expired keys physically absent from the folded table
    partials = mv._read_partials(spark, path, spec)
    assert partials.filter(F.col("event_date") < F.lit(cutoff)).count() == 0
    # read_final == batch recompute over the retained window
    got = _rows(mv.read_final(spark, path, spec), spec.keys)
    want_df = mv.apply_partial(
        src.withColumn("event_date", F.to_date("event_timestamp")).filter(
            F.col("event_date") >= F.lit(cutoff)
        ),
        spec,
    )
    want = _rows(mv._canonicalize(want_df, spark, spec), spec.keys)
    assert got == want
    # appends after the fold still work and fold again cleanly
    batch = generator.events(spark, n=200, n_users=40, id_offset=offset, partitions=2)
    mv.write_batch(batch, spec, path, 3)
    mv.compact(spark, path, spec, retain_where=F.col("event_date") >= F.lit(cutoff))
    assert mv._read_partials(spark, path, spec).filter(
        F.col("event_date") < F.lit(cutoff)
    ).count() == 0
    # a retention fold is a REWRITE: it must expire rows even when the
    # store is already a single merged part (min_parts=1 path; a plain
    # compact correctly stays a no-op there)
    tighter = src.select(F.date_sub(F.max(F.to_date("event_timestamp")), 9)).collect()[0][0]
    before = mv._read_partials(spark, path, spec).count()
    mv.compact(spark, path, spec)  # no-op merge: already one part
    mv.compact(spark, path, spec, retain_where=F.col("event_date") >= F.lit(tighter))
    after_df = mv._read_partials(spark, path, spec)
    assert after_df.filter(F.col("event_date") < F.lit(tighter)).count() == 0
    assert after_df.count() < before


def test_compactor_applies_retention_on_fold(spark, tmp_path):
    """A Compactor target with a retention callable expires rows when
    the part threshold triggers a fold — the ClickHouse 'TTL applies
    on merges' cadence, wired into the background service."""
    spec = mv.mv_specs()["mv_user_funnel"]
    path = str(tmp_path / "mv_funnel_ttl")
    offset = 0
    batches = []
    for b in range(4):
        batch = generator.events(spark, n=250, n_users=30, id_offset=offset, partitions=1)
        mv.write_batch(batch, spec, path, b)
        batches.append(batch)
        offset += 250
    src = batches[0]
    for extra in batches[1:]:
        src = src.unionByName(extra)
    cutoff = src.select(F.date_sub(F.max(F.to_date("event_timestamp")), 29)).collect()[0][0]

    comp = mv.Compactor(
        spark,
        targets=[(path, spec, None, lambda: F.col("event_date") >= F.lit(cutoff))],
        interval_s=0.2,
        max_parts=2,  # 4 live parts > 2: first tick folds
    ).start()
    try:
        deadline = time.time() + 30
        while time.time() < deadline and comp.stats.get(spec.name, 0) < 1:
            time.sleep(0.2)
    finally:
        comp.stop()
    assert comp.stats.get(spec.name, 0) >= 1
    partials = mv._read_partials(spark, path, spec)
    assert partials.filter(F.col("event_date") < F.lit(cutoff)).count() == 0
    got = _rows(mv.read_final(spark, path, spec), spec.keys)
    want_df = mv.apply_partial(
        src.withColumn("event_date", F.to_date("event_timestamp")).filter(
            F.col("event_date") >= F.lit(cutoff)
        ),
        spec,
    )
    assert got == _rows(mv._canonicalize(want_df, spark, spec), spec.keys)


def test_multi_day_state_growth_policy(spark, tmp_path):
    """r12 (VERDICT r11 #6): the compaction policy's structural claim
    over a multi-day run — for the per-(user,day) key grower
    (mv_user_funnel), stored rows re-converge to the DISTINCT KEY
    SPACE after every policy fold (never days × keys), live part
    count stays bounded by the policy threshold plus the un-folded
    tail, and the MV ≡ batch invariant holds at the horizon. 7
    simulated days, one shared maintenance stream, fold when live
    parts exceed 3 (mv.maybe_compact)."""
    from clickhouse_realtime_analytics_demo_spark.streaming import (
        parts as parts_store,
    )

    spec = mv.mv_specs()["mv_user_funnel"]
    src = str(tmp_path / "src")
    mv_root = str(tmp_path / "mv")
    ckpt = str(tmp_path / "ckpt")
    path = f"{mv_root}/{spec.name}"
    per_day, users, max_parts = 600, 150, 3
    from pathlib import Path

    Path(src).mkdir(parents=True)
    q = mv.start_incremental_multi(
        spark, src, mv_root, [spec], ckpt, max_files_per_trigger=4
    )
    try:
        for day in range(7):
            generator.day_events(
                spark, day, per_day, users, id_offset=day * per_day
            ).write.mode("append").parquet(src)
            q.processAllAvailable()
            folded = mv.maybe_compact(spark, path, spec, max_parts=max_parts)
            live = parts_store.live_part_dirs(path)
            if folded:
                # post-fold: ONE part whose rows == the key space so far
                assert len(live) == 1
                stored = spark.read.parquet(str(live[0])).count()
                keys = mv.read_final(spark, path, spec).count()
                assert stored == keys, (day, stored, keys)
            # bounded: threshold + at most one day's un-folded parts
            assert len(live) <= max_parts + 4, (day, len(live))
    finally:
        q.stop()
    # horizon: force a final fold and re-check convergence + MV ≡ batch
    mv.compact(spark, path, spec)
    live = parts_store.live_part_dirs(path)
    assert len(live) == 1
    stored = spark.read.parquet(str(live[0])).count()
    ingested = spark.read.parquet(src)
    want = mv._canonicalize(mv.batch_equivalent(ingested, spec), spark, spec)
    assert stored == want.count()  # stored rows == key space, exactly
    got = _rows(mv.read_final(spark, path, spec), spec.keys)
    assert got == _rows(want, spec.keys)
    # key space grew ~linearly with days (the data model's term, not a
    # part artifact): distinct (user, day) ≈ active users × days here
    days_seen = ingested.select(F.to_date("event_timestamp").alias("d")).distinct().count()
    assert days_seen == 7
