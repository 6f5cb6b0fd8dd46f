"""Mergeable quantile state (streaming/quantile_state.py) — the
quantileExactState/quantileExactMerge analog. Pins: merged-state
quantiles are EXACT (they equal the pinned nearest-rank definition on
the raw rows) across arbitrary batchings, the streaming job
end-to-end, and the executed plan (partitioned windows, no joins).
Replay idempotence and compaction equivalence are the shared
part-store contract (tests/test_part_store_contract.py)."""

from __future__ import annotations

import random

from pyspark.sql import functions as F

from clickhouse_realtime_analytics_demo_spark.sources import schemas
from clickhouse_realtime_analytics_demo_spark.streaming import parts as parts_store
from clickhouse_realtime_analytics_demo_spark.streaming import quantile_state
from tests.conftest import SF_DIR

PROBS = [0.25, 0.5, 0.75, 0.9, 0.99]


def _exact_nearest_rank(rows: list[tuple], probs=PROBS) -> dict:
    """Single-threaded truth: value at rank floor(p*(n-1))+1 per group."""
    by_g: dict = {}
    for g, v in rows:
        by_g.setdefault(g, []).append(v)
    out = {}
    for g, vs in by_g.items():
        vs.sort()
        n = len(vs)
        for p in probs:
            out[(g, p)] = vs[int(p * (n - 1))]
    return out


def test_state_quantiles_exact_across_batchings(spark, tmp_path):
    rng = random.Random(17)
    rows = [("g%d" % (i % 3), rng.randrange(0, 10_000)) for i in range(9_000)]
    truth = _exact_nearest_rank(rows)
    for n_batches, sub in ((1, "a"), (4, "b"), (9, "c")):
        path = str(tmp_path / f"state_{sub}")
        chunk = len(rows) // n_batches + 1
        for i in range(n_batches):
            b = spark.createDataFrame(
                rows[i * chunk : (i + 1) * chunk], "g string, v long"
            )
            parts_store.write_part(quantile_state.hist_partial(b, ["g"], F.col("v")), path, i)
        got = quantile_state.read_quantiles(spark, path, ["g"], PROBS).collect()
        assert len(got) == 3 * len(PROBS)
        for r in got:
            assert r["quantile"] == truth[(r["g"], r["prob"])], (n_batches, dict(r.asDict()))


def test_streaming_state_equals_batch_quantiles(spark, tmp_path):
    """End-to-end Structured Streaming over duration_seconds (integer
    domain): state-served quantiles equal the nearest-rank truth over
    everything ingested."""
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
            {state: lambda b: quantile_state.hist_partial(
                b, ["country"], F.col("duration_seconds"))}
        ),
        max_files_per_trigger=2,
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    got = quantile_state.read_quantiles(spark, state, ["country"], PROBS).collect()
    raw = [
        (r["country"], r["duration_seconds"])
        for r in spark.read.parquet(src).select("country", "duration_seconds").collect()
    ]
    truth = _exact_nearest_rank(raw)
    assert got, "no groups read back"
    for r in got:
        assert r["quantile"] == truth[(r["country"], r["prob"])]


def test_read_plan_partitioned_windows_no_join(spark, tmp_path):
    from tests.test_plan_snapshots import _walk

    rows = [("g%d" % (i % 2), i % 97) for i in range(2_000)]
    path = str(tmp_path / "state")
    b = spark.createDataFrame(rows, "g string, v long")
    parts_store.write_part(quantile_state.hist_partial(b, ["g"], F.col("v")), path, 0)
    df = quantile_state.read_quantiles(spark, path, ["g"], PROBS)
    df.collect()
    for node in _walk(df._jdf.queryExecution().executedPlan()):
        cls = node.getClass().getSimpleName()
        assert "Join" not in cls, cls
        if cls == "WindowExec":
            assert node.partitionSpec().size() > 0
