"""One part-store contract, five stores (``streaming/parts.py``).

Every streaming store — the incremental MVs, the topK, exact-quantile
and t-digest State/Merge families, and the dedup-at-ingest accepted
corpus — is a directory of ``b=<batch_id>`` parts driven by the same
functions: ``parts.write_part`` (idempotent part write),
``parts.read_live`` (the one read policy) and ``parts.compact`` (the
crash-safe, commit-gated fold with the retention rule). Each store
contributes only its algebra: a per-batch partial and a merge. These
tests pin the part store's contract once, over all five:

- replaying ``b=N`` (a crash between data write and checkpoint
  commit) does not double count;
- the commit gate never folds an uncommitted (replayable) batch id;
- a retention fold runs even at one live part (it is a rewrite);
- a crash between publish and delete keeps readers consistent and
  the next call recovers.
"""

from __future__ import annotations

from typing import NamedTuple

import pytest
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from clickhouse_realtime_analytics_demo_spark.sources import generator
from clickhouse_realtime_analytics_demo_spark.streaming import (
    dedup as sdedup,
    mv,
    parts,
    quantile_state,
    tdigest_state,
    topk_state,
)

KEYS = ["event_date", "event_type"]
PROBS = [0.5, 0.9]
SPEC_NAME = "mv_country_stats"
STORE_NAMES = ("dedup_accepted", "mv", "quantile", "tdigest", "topk")


class Store(NamedTuple):
    batch: object  # (spark, i) -> the i-th micro-batch
    write: object  # (spark, batch, path, batch_id) -> None
    merge: object  # DataFrame -> DataFrame: the store's fold
    schema: object  # spark -> explicit read schema, or None
    read: object  # (spark, path) -> the store's final answer
    retain: object  # a key-column retention predicate


def _events(spark, i):
    return generator.events(
        spark, n=200, n_users=30, seed=i, id_offset=i * 200, partitions=1
    )


def _docs(spark, i):
    # overlapping text windows: every batch rejects dups of earlier
    # ones through the accepted-store reference scan AND admits new ones
    rows = [(i * 10 + j, f"text {(i * 3 + j) % 13}") for j in range(5)]
    return spark.createDataFrame(rows, "doc_id long, text string")


def _write_partial(partial):
    return lambda spark, batch, path, bid: parts.write_part(partial(batch), path, bid)


def _rows(df: DataFrame) -> list[tuple]:
    # floats rounded: a t-digest fold may re-associate centroid sums
    def norm(v):
        return round(v, 9) if isinstance(v, float) else v

    return sorted((tuple(norm(v) for v in r) for r in df.collect()), key=repr)


def _stores() -> dict[str, Store]:
    """Built per test: Column expressions need the active session."""
    spec = mv.mv_specs()[SPEC_NAME]
    retain_date = F.col("event_date") >= F.lit("2024-02-15")
    return {
        "mv": Store(
            _events,
            lambda spark, batch, path, bid: mv.write_batch(batch, spec, path, bid),
            mv._merge(spec),
            lambda spark: mv._mv_schema(spark, spec),
            lambda spark, path: _rows(mv.read_final(spark, path, spec)),
            retain_date,
        ),
        "topk": Store(
            _events,
            _write_partial(lambda b: topk_state.topk_partial(b, KEYS, "user_id", 4096)),
            lambda df: topk_state.merge_states(df, KEYS, 4096).coalesce(1),
            lambda spark: None,
            lambda spark, path: _rows(
                topk_state.read_topk(spark, path, KEYS, k=50, counters=4096)
            ),
            retain_date,
        ),
        "quantile": Store(
            _events,
            _write_partial(
                lambda b: quantile_state.hist_partial(b, KEYS, F.col("duration_seconds"))
            ),
            lambda df: quantile_state.merge_states(df, KEYS).coalesce(1),
            lambda spark: None,
            lambda spark, path: _rows(quantile_state.read_quantiles(spark, path, KEYS, PROBS)),
            retain_date,
        ),
        "tdigest": Store(
            _events,
            _write_partial(
                lambda b: tdigest_state.tdigest_partial(b, KEYS, F.col("duration_seconds"))
            ),
            lambda df: tdigest_state.merge_states(df, KEYS).coalesce(1),
            lambda spark: None,
            lambda spark, path: _rows(tdigest_state.read_quantiles(spark, path, KEYS, PROBS)),
            retain_date,
        ),
        "dedup_accepted": Store(
            _docs,
            lambda spark, batch, path, bid: sdedup.dedup_batch(spark, batch, path, bid),
            lambda df: df,  # accepted rows are unique: the fold concatenates
            lambda spark: None,
            lambda spark, path: _rows(
                sdedup.read_accepted(spark, path).select("doc_id", "text")
            ),
            F.col("doc_id") >= F.lit(3),
        ),
    }


@pytest.fixture(params=STORE_NAMES)
def store(request, spark):
    return _stores()[request.param]


def _fill(spark, store, path, n=3) -> list[DataFrame]:
    batches = [store.batch(spark, i).localCheckpoint() for i in range(n)]
    for i, b in enumerate(batches):
        store.write(spark, b, path, i)
    return batches


def _live(path) -> list[str]:
    return [d.name for d in parts.live_part_dirs(path)]


def test_replay_does_not_double_count(spark, tmp_path, store):
    """foreachBatch re-delivers the last batch id after a crash between
    its data write and its checkpoint commit: the rewrite of ``b=N``
    is idempotent, and a NEW batch id still accumulates."""
    path = str(tmp_path / "store")
    batches = _fill(spark, store, path)
    once = store.read(spark, path)
    store.write(spark, batches[-1], path, len(batches) - 1)  # replay
    assert store.read(spark, path) == once
    assert _live(path) == ["b=0", "b=1", "b=2"]
    store.write(spark, store.batch(spark, 3), path, 3)
    assert store.read(spark, path) != once


def test_commit_gate_excludes_uncommitted_ids(spark, tmp_path, store):
    """Only batch ids in the checkpoint's ``commits/`` log fold; the
    uncommitted part stays live, its replay overwrites it, and once it
    commits the next fold takes it — the answer never changes."""
    path, ckpt = str(tmp_path / "store"), tmp_path / "ckpt"
    (ckpt / "commits").mkdir(parents=True)
    batches = _fill(spark, store, path)
    for bid in (0, 1):  # batch 2: data landed, commit did not
        (ckpt / "commits" / str(bid)).write_text("{}")
    want = store.read(spark, path)
    schema = store.schema(spark)

    assert parts.compact(spark, path, store.merge, schema, checkpoint_dir=str(ckpt))
    assert _live(path) == ["b=-1", "b=2"]
    assert store.read(spark, path) == want

    store.write(spark, batches[2], path, 2)  # restart re-delivers batch 2
    (ckpt / "commits" / "2").write_text("{}")
    assert store.read(spark, path) == want
    assert parts.compact(spark, path, store.merge, schema, checkpoint_dir=str(ckpt))
    assert _live(path) == ["b=-2"]
    assert store.read(spark, path) == want


def test_retention_fold_runs_at_one_part(spark, tmp_path, store):
    """A plain compaction of a one-part store is a no-op; a retention
    fold is a rewrite and expires rows even there."""
    path = str(tmp_path / "store")
    _fill(spark, store, path)
    schema = store.schema(spark)
    assert parts.compact(spark, path, store.merge, schema)
    assert _live(path) == ["b=-1"]
    assert not parts.compact(spark, path, store.merge, schema)

    stored = parts.read_live(spark, path, schema)
    n_before, n_expired = stored.count(), stored.filter(~store.retain).count()
    assert 0 < n_expired < n_before, "retention predicate must split the store"
    assert parts.compact(spark, path, store.merge, schema, retain_where=store.retain)
    assert _live(path) == ["b=-2"]
    stored = parts.read_live(spark, path, schema)
    assert stored.filter(~store.retain).count() == 0
    assert stored.count() == n_before - n_expired


def test_crash_between_publish_and_delete_recovers(spark, tmp_path, store, monkeypatch):
    """Kill the fold after its atomic publish, before the inputs are
    tombstoned: readers see exactly one consistent state (the fold
    alone, inputs excluded by its manifest), and the next compaction
    call finishes the deletes."""
    path = str(tmp_path / "store")
    _fill(spark, store, path)
    want = store.read(spark, path)
    schema = store.schema(spark)

    def crash(*_):
        raise RuntimeError("crash between publish and delete")

    monkeypatch.setattr(parts, "finish_deletes", crash)
    with pytest.raises(RuntimeError):
        parts.compact(spark, path, store.merge, schema)
    assert _live(path) == ["b=-1"]
    assert store.read(spark, path) == want

    monkeypatch.undo()
    assert not parts.compact(spark, path, store.merge, schema)  # recovery only
    assert all(
        (tmp_path / "store" / f"b={i}" / parts.DOOMED_MARKER).exists() for i in range(3)
    )
    assert _live(path) == ["b=-1"]
    assert store.read(spark, path) == want
