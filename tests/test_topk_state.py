"""Mergeable top-k MV state (streaming/topk_state.py) — the
topKState/topKMerge analog. Pins: exactness in the untrimmed regime,
the MG undercount bound in the trimmed regime, compaction
equivalence, and the trim's executed plan (one partitioned
WindowExec, no groups-sized join). Replay idempotence and crash-safe
compaction are the shared part-store contract
(tests/test_part_store_contract.py)."""

from __future__ import annotations

import random

from pyspark.sql import functions as F

from clickhouse_realtime_analytics_demo_spark.sources import schemas
from clickhouse_realtime_analytics_demo_spark.streaming import parts as parts_store
from clickhouse_realtime_analytics_demo_spark.streaming import topk_state
from tests.conftest import SF_DIR


def _events(spark):
    from clickhouse_realtime_analytics_demo_spark.catalog import table

    return table(spark, SF_DIR, "events")


def _exact_topk(df, keys, child, k):
    from pyspark.sql import Window

    counts = (
        df.filter(F.col(child).isNotNull())
        .groupBy(*keys, F.col(child).cast("string").alias("child"))
        .agg(F.count("*").alias("est_count"))
    )
    w = Window.partitionBy(*keys).orderBy(
        F.col("est_count").desc(), F.col("child").asc()
    )
    return (
        counts.withColumn("rnk", F.row_number().over(w).cast("int"))
        .filter(F.col("rnk") <= k)
        .orderBy(*keys, "rnk")
    )


def test_merge_read_exact_when_untrimmed(spark, tmp_path):
    """counters above the child cardinality → the state is a full
    count map and merge-on-read reproduces EXACT per-group top-k, no
    matter how the stream was batched."""
    ev = _events(spark)
    path = str(tmp_path / "state")
    for i in range(4):
        batch = ev.filter(F.abs(F.hash("user_id", F.lit(i))) % 4 == i % 4)
        parts_store.write_part(
            topk_state.topk_partial(batch, ["event_type"], "user_id", 4096), path, i
        )
    got = topk_state.read_topk(
        spark, path, ["event_type"], k=5, counters=4096
    ).collect()
    # The 4 hash-filters don't partition the stream exactly (salted per
    # i) — recompute truth over the same union.
    union = None
    for i in range(4):
        b = ev.filter(F.abs(F.hash("user_id", F.lit(i))) % 4 == i % 4)
        union = b if union is None else union.unionByName(b)
    want = _exact_topk(union, ["event_type"], "user_id", 5).collect()
    assert [tuple(r) for r in got] == [tuple(r) for r in want]


def test_trimmed_regime_bound_and_heavy_survival(spark, tmp_path):
    """counters far below cardinality: reported weights are lower
    bounds undercounting by ≤ N/(counters+1), and every child with
    true count > N/(counters+1) survives the merged summary."""
    counters = 16
    rng = random.Random(13)
    rows = (
        [("g", "hot1") for _ in range(800)]
        + [("g", "hot2") for _ in range(500)]
        + [("g", f"tail{i}") for i in range(2000)]
        + [("g", f"tail{rng.randrange(2000)}") for _ in range(1000)]
    )
    rng.shuffle(rows)
    n = len(rows)
    path = str(tmp_path / "state")
    chunk = n // 5 + 1
    for i in range(5):
        b = spark.createDataFrame(rows[i * chunk : (i + 1) * chunk], "g string, child string")
        parts_store.write_part(topk_state.topk_partial(b, ["g"], "child", counters), path, i)
    merged = topk_state.read_topk(spark, path, ["g"], k=counters, counters=counters)
    est = {r["child"]: r["est_count"] for r in merged.collect()}
    truth: dict = {}
    for _, c in rows:
        truth[c] = truth.get(c, 0) + 1
    bound = n / (counters + 1.0)
    for child, w in est.items():
        assert w <= truth[child], (child, w, truth[child])
        assert truth[child] - w <= bound, (child, w, truth[child], bound)
    for child, c in truth.items():
        if c > bound:
            assert child in est, (child, c, bound)


def _merge(df):
    return topk_state.merge_states(df, ["event_type"]).coalesce(1)


def test_compact_preserves_topk(spark, tmp_path):
    ev = _events(spark)
    path = str(tmp_path / "state")
    for i in range(3):
        parts_store.write_part(
            topk_state.topk_partial(
                ev.filter(F.col("user_id") % 3 == i), ["event_type"], "user_id"
            ),
            path,
            i,
        )
    before = topk_state.read_topk(spark, path, ["event_type"], k=5).collect()
    assert parts_store.compact(spark, path, _merge)
    # live set = the fold alone; the folded inputs sit out a tombstone
    # grace window (concurrent-reader TOCTOU cover) before deletion.
    assert len(parts_store.live_part_dirs(path)) == 1
    after = topk_state.read_topk(spark, path, ["event_type"], k=5).collect()
    assert [tuple(r) for r in before] == [tuple(r) for r in after]
    # compact twice: no-op below two live parts
    assert not parts_store.compact(spark, path, _merge)
    again = topk_state.read_topk(spark, path, ["event_type"], k=5).collect()
    assert [tuple(r) for r in after] == [tuple(r) for r in again]


def test_streaming_state_equals_batch_topk(spark, tmp_path):
    """End-to-end Structured Streaming: three ingest blocks stream
    through foreachBatch into state parts; merge-on-read equals the
    exact batch top-k over everything ingested (untrimmed regime) —
    the MV ≡ batch invariant applied to topK state."""
    from clickhouse_realtime_analytics_demo_spark.sources import generator

    src = str(tmp_path / "src")
    state = str(tmp_path / "state")
    ckpt = str(tmp_path / "ckpt")
    offset = 0
    for n in (400, 300, 300):
        generator.events(spark, n=n, n_users=60, id_offset=offset, partitions=2).write.mode(
            "append"
        ).parquet(src)
        offset += n
    q = parts_store.start_stream(
        spark, src, schemas.EVENTS, ckpt,
        parts_store.part_sink(
            {state: lambda b: topk_state.topk_partial(b, ["country"], "user_id", 4096)}
        ),
        max_files_per_trigger=2,
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    got = topk_state.read_topk(spark, state, ["country"], k=3, counters=4096).collect()
    want = _exact_topk(
        spark.read.parquet(src), ["country"], "user_id", 3
    ).collect()
    assert [tuple(r) for r in got] == [tuple(r) for r in want]


def test_trim_plan_one_window_no_join(spark):
    """The MG trim's cut rides a second window function over the SAME
    partition spec — the executed plan must show partitioned
    WindowExec(s) and ZERO join nodes (the groups-sized cut join this
    replaced would be a broadcast bomb at scale)."""
    from tests.test_plan_snapshots import _walk

    df = spark.createDataFrame(
        [("g", f"c{i % 40}") for i in range(400)], "g string, child string"
    )
    counts = df.groupBy("g", "child").agg(F.count("*").alias("w"))
    trimmed = topk_state._trim(counts, ["g"], counters=8)
    trimmed.collect()
    joins = 0
    for node in _walk(trimmed._jdf.queryExecution().executedPlan()):
        cls = node.getClass().getSimpleName()
        if "Join" in cls:
            joins += 1
        if cls == "WindowExec":
            assert node.partitionSpec().size() > 0
    assert joins == 0
