"""State-store retention (VERDICT r12 #2): the TTL-on-merge analog for
the four State/Merge families. The multi-day growth probe (r12) proved
part count is policy-bounded but the KEY SPACE grows linearly for
date-keyed groups; ``parts.compact(retain_where=...)`` closes that term —
whole expired groups are dropped during the crash-safe fold, the same
contract ClickHouse gets from ``TTL event_date + INTERVAL h DAY
DELETE`` on Summing/AggregatingMergeTree (reference
`init-scripts/04-add-ttl.sql:29,37-38` applies TTL to exactly these
derived tables).

Policy pins, per store: after an H-day retention fold on a >H-day
ingest, (1) stored group keys == the retained-window key space
EXACTLY, (2) merge-on-read ≡ the batch recompute over the retained
window alone, (3) a tighter retention on the already-single-part store
still expires (a retention fold is a rewrite — min_parts=1)."""

from __future__ import annotations

from pyspark.sql import functions as F

from clickhouse_realtime_analytics_demo_spark.streaming import (
    mv,
    parts as parts_store,
    quantile_state,
    tdigest_state,
    topk_state,
)

DAYS, RETAIN = 6, 3
KEYS = ["event_date", "event_type"]


def _days(spark, per_day=400, users=120):
    from clickhouse_realtime_analytics_demo_spark.sources.generator import day_events

    return [
        day_events(spark, d, per_day, users, id_offset=d * per_day)
        for d in range(DAYS)
    ]


def _topk_merge(df):
    return topk_state.merge_states(df, KEYS, counters=4096).coalesce(1)


def _cutoff(batches):
    """Retention horizon: keep the last RETAIN distinct event_dates."""
    dates = sorted(
        {r["event_date"] for b in batches for r in b.select("event_date").distinct().collect()}
    )
    assert len(dates) == DAYS
    return dates[-RETAIN]


def _stored_keys(spark, path):
    live = parts_store.live_part_dirs(path)
    assert len(live) == 1, "retention fold publishes one part"
    return spark.read.parquet(str(live[0])).select(*KEYS)


def _retained_union(batches, cutoff):
    u = batches[0]
    for b in batches[1:]:
        u = u.unionByName(b)
    return u.filter(F.col("event_date") >= F.lit(cutoff))


def _key_rows(df):
    return sorted(tuple(r) for r in df.select(*KEYS).distinct().collect())


def test_topk_retention_fold(spark, tmp_path):
    path = str(tmp_path / "tk")
    batches = _days(spark)
    for i, b in enumerate(batches):
        parts_store.write_part(topk_state.topk_partial(b, KEYS, "user_id", 4096), path, i)
    cutoff = _cutoff(batches)
    assert parts_store.compact(
        spark, path, _topk_merge, retain_where=F.col("event_date") >= F.lit(cutoff)
    )
    stored = _stored_keys(spark, path)
    retained = _retained_union(batches, cutoff)
    assert _key_rows(stored) == _key_rows(retained)
    # merge-on-read over the retained window == batch recompute
    # (untrimmed regime: counters above child cardinality → exact)
    got = topk_state.read_topk(spark, path, KEYS, k=5, counters=4096).collect()
    from tests.test_topk_state import _exact_topk

    want = _exact_topk(retained, KEYS, "user_id", 5).collect()
    assert [tuple(r) for r in got] == [tuple(r) for r in want]
    # a tighter horizon on the single-part store still expires
    tighter = sorted({t[0] for t in _key_rows(retained)})[-1]
    assert parts_store.compact(
        spark, path, _topk_merge, retain_where=F.col("event_date") >= F.lit(tighter)
    )
    assert _key_rows(_stored_keys(spark, path)) == _key_rows(
        _retained_union(batches, tighter)
    )


def test_quantile_retention_fold(spark, tmp_path):
    path = str(tmp_path / "qt")
    batches = _days(spark)
    for i, b in enumerate(batches):
        parts_store.write_part(
            quantile_state.hist_partial(b, KEYS, F.col("duration_seconds")), path, i
        )
    cutoff = _cutoff(batches)
    assert parts_store.compact(
        spark, path, lambda df: quantile_state.merge_states(df, KEYS).coalesce(1),
        retain_where=F.col("event_date") >= F.lit(cutoff),
    )
    stored = _stored_keys(spark, path)
    retained = _retained_union(batches, cutoff)
    assert _key_rows(stored) == _key_rows(retained)
    got = quantile_state.read_quantiles(spark, path, KEYS, [0.5, 0.95]).collect()
    # batch recompute over the retained window alone: one fresh
    # histogram per group through the same pinned nearest-rank extractor
    want = quantile_state.quantiles_from_state(
        quantile_state.hist_partial(retained, KEYS, F.col("duration_seconds")),
        KEYS,
        [0.5, 0.95],
    ).collect()
    assert [tuple(r) for r in got] == [tuple(r) for r in want]


def test_tdigest_retention_fold(spark, tmp_path):
    path = str(tmp_path / "td")
    batches = _days(spark)
    for i, b in enumerate(batches):
        parts_store.write_part(
            tdigest_state.tdigest_partial(b, KEYS, F.col("revenue")), path, i
        )
    cutoff = _cutoff(batches)
    assert parts_store.compact(
        spark, path, lambda df: tdigest_state.merge_states(df, KEYS).coalesce(1),
        retain_where=F.col("event_date") >= F.lit(cutoff),
    )
    stored = _stored_keys(spark, path)
    retained = _retained_union(batches, cutoff)
    assert _key_rows(stored) == _key_rows(retained)
    # the digest read stays within rank tolerance of the exact
    # quantiles over the RETAINED window (same gate as the registered
    # tdigest query): every estimate lands between the exact p±0.05
    # rank neighbors
    got = {
        tuple(r[k] for k in KEYS) + (r["prob"],): r["quantile"]
        for r in tdigest_state.read_quantiles(spark, path, KEYS, [0.5, 0.95]).collect()
    }
    ex = retained.select(*KEYS, F.col("revenue").cast("double").alias("v")).filter(
        F.col("v").isNotNull()
    )
    for (d, et), grp in {
        (r["event_date"], r["event_type"]): None
        for r in ex.select(*KEYS).distinct().collect()
    }.items():
        vals = sorted(
            r["v"]
            for r in ex.filter(
                (F.col("event_date") == F.lit(d)) & (F.col("event_type") == et)
            ).collect()
        )
        n = len(vals)
        for p in (0.5, 0.95):
            est = got[(d, et, p)]
            lo = vals[max(0, int((p - 0.05) * (n - 1)))]
            hi = vals[min(n - 1, int((p + 0.05) * (n - 1)) + 1)]
            assert lo <= est <= hi, (d, et, p, lo, est, hi)


def test_mv_and_states_share_retention_contract(spark, tmp_path):
    """The Compactor-style cadence with a time-relative horizon: drive
    all four stores day by day, folding with a sliding RETAIN-day
    cutoff; at every fold the stored key space equals the retained
    window's — state size is O(retention × daily keys), flat in total
    ingest days (the 100 TB multi-year bound)."""
    batches = _days(spark, per_day=250, users=80)
    dates = sorted(
        {r["event_date"] for b in batches for r in b.select("event_date").distinct().collect()}
    )
    spec = mv.mv_specs()["mv_country_stats"]
    mv_path = str(tmp_path / "mv")
    tk = str(tmp_path / "tk")
    sizes = []
    for i, b in enumerate(batches):
        mv.write_batch(b, spec, mv_path, batch_id=i)
        parts_store.write_part(topk_state.topk_partial(b, KEYS, "user_id", 4096), tk, i)
        cutoff = dates[max(0, i - RETAIN + 1)]
        pred = F.col("event_date") >= F.lit(cutoff)
        mv.compact(spark, mv_path, spec, retain_where=pred)
        parts_store.compact(spark, tk, _topk_merge, retain_where=pred)
        retained = _retained_union(batches[: i + 1], cutoff)
        mv_stored = spark.read.parquet(
            str(parts_store.live_part_dirs(mv_path)[0])
        ).count()
        mv_keys = retained.select(*spec.keys).distinct().count()
        assert mv_stored == mv_keys, (i, mv_stored, mv_keys)
        assert _key_rows(_stored_keys(spark, tk)) == _key_rows(retained)
        sizes.append(mv_stored)
        # MV ≡ batch over the retained window, at every horizon
        got = sorted(
            tuple(r)
            for r in mv.read_final(spark, mv_path, spec)
            .orderBy(*spec.keys)
            .collect()
        )
        want = sorted(
            tuple(r) for r in mv.batch_equivalent(retained, spec).collect()
        )
        assert got == want, f"day {i}"
    # steady state: once the window saturates, size stops growing with
    # ingest days (bounded by retention × daily key space)
    assert max(sizes[RETAIN - 1 :]) <= max(sizes[: RETAIN + 1]) * 1.2
