"""Crash-safe batch-id-keyed part stores: the one implementation behind
every streaming store.

The incremental MVs (``streaming/mv.py``), the State/Merge families
(``topk_state``, ``quantile_state``, ``tdigest_state``) and the
dedup-at-ingest accepted corpus (``streaming/dedup.py``) share one
storage contract: a directory of ``b=<batch_id>`` parquet parts, one
per micro-batch, written idempotently (overwrite) so Structured
Streaming crash-replay rewrites the same directory with the same
content. The stores own only their algebra (partial, merge, finalize);
every mechanic lives here, once:

- **stream launch** (:func:`start_stream`): file-stream reader →
  ``maxFilesPerTrigger`` → ``foreachBatch`` → checkpoint → trigger.
  :func:`part_sink` is the foreachBatch body that writes one part per
  store per micro-batch (several stores fed by one stream share the
  cached block — the ClickHouse insert-triggered MV cascade).
- **part write** (:func:`write_part`): the idempotent
  ``coalesce(1)`` overwrite of ``b=<batch_id>``.
- **live read** (:func:`read_live`): committed-only, manifest-aware
  listing with a bounded re-list on the listing→resolution race.
- **compaction rule** (:func:`compact`, :func:`maybe_compact`): the
  retention fold and the part-count cadence over
  :func:`compact_parts`.
- **compaction** (:func:`compact_parts`): fold many parts into one,
  atomically, with a pluggable ``fold`` (MVs re-aggregate partials;
  the dedup store just concatenates). The merged part is written to a
  dot-hidden directory (invisible to parquet readers), stamped with a
  ``_MANIFEST`` naming the parts it replaces, renamed into place, and
  only then are the inputs deleted — a crash at ANY step is replayed
  or rolled back by :func:`recover_compaction` on the next call.
- **commit gate**: with a ``checkpoint_dir``, only batch ids ≤ the
  last id in the stream checkpoint's ``commits/`` log are folded. A
  batch whose data write landed but whose commit record did not WILL
  be re-delivered with the same id on restart; folding it first would
  let the replayed ``b=N`` re-appear next to a merged part that
  already contains it. Previously-merged parts carry negative ids and
  always pass the gate — they never replay.
- **manifest-aware listing** (:func:`live_part_dirs`): readers see
  either the original parts (merge unpublished) or the merged part
  alone (inputs excluded via its manifest even before their deletion
  finishes), never both — ClickHouse's atomic part-set swap
  semantics, recovered on raw directories.
- **grace-window tombstones**: a folded part is not deleted at
  publish time — it is stamped ``_DOOMED`` (with a wall-clock
  timestamp) and physically removed only once ``GRACE_SECONDS`` have
  passed (:func:`reap_tombstones`). This closes the listing→resolution
  TOCTOU a concurrent reader otherwise hits: a reader that listed the
  old parts BEFORE the merge published can still resolve and scan
  them for the whole grace window; readers listing after the publish
  exclude them via the manifest/marker and see only the merged part.
  (A rename-then-delete scheme would NOT work — renaming destroys the
  very path the in-flight reader resolved.) File-level disappearance
  after grace expiry remains covered by ``ignoreMissingFiles``
  (session.py). At production scale this algebra is what
  snapshot-isolated table formats (Delta/Iceberg) provide natively;
  the grace window is their "retain old snapshots for N minutes"
  vacuum policy recovered on raw directories.
"""

from __future__ import annotations

import json
import shutil
import threading
import time
from collections.abc import Callable
from pathlib import Path

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql.types import StructType

# How long a folded part stays on disk after its merge published.
# Bound: the max listing→consumption latency of any concurrent reader
# (full-suite contention on this box stretches a small read to tens of
# seconds; 120 s gives 5× headroom). Disk cost: one extra copy of the
# last fold's inputs, bounded and transient.
GRACE_SECONDS = 120.0
DOOMED_MARKER = "_DOOMED"
# Bounded re-list budget of :func:`read_live` (backoff 50 ms × attempt,
# ~1 s total) — the backstop behind the tombstone grace window.
READ_RETRIES = 6


def is_transient_listing_race(e: Exception) -> bool:
    """Classify the three known listing→resolution transients a reader
    can hit against a concurrent compaction: a listed dir deleted whole
    (``PATH_NOT_FOUND`` — fails analysis), a footer file deleted
    mid-schema-inference (``FileNotFoundException`` — inference jobs
    don't honor ``ignoreMissingFiles``), or every listed dir drained
    (``UNABLE_TO_INFER_SCHEMA``). Matched on exception TYPE + error
    class first (``AnalysisException`` carries a stable errorClass in
    Spark 4.x), with the message-token match kept as the fallback for
    wrapped Py4J causes; tokens validated against Spark 4.1.2 (this
    container's pinned version)."""
    try:
        from pyspark.errors import AnalysisException
    except ImportError:  # pragma: no cover — pyspark<3.4 layout
        AnalysisException = ()  # type: ignore[assignment]
    if isinstance(e, AnalysisException):
        cond = None
        for attr in ("getCondition", "getErrorClass"):  # 4.x / 3.4 names
            fn = getattr(e, attr, None)
            if callable(fn):
                try:
                    cond = fn()
                except Exception:  # noqa: BLE001 — introspection only
                    cond = None
            if cond:
                break
        if cond and ("PATH_NOT_FOUND" in cond or "UNABLE_TO_INFER_SCHEMA" in cond):
            return True
    msg = str(e)
    return any(
        tok in msg
        for tok in ("PATH_NOT_FOUND", "FileNotFoundException", "UNABLE_TO_INFER_SCHEMA")
    )


def _stamp_doomed(live: Path, doomed: list[str]) -> None:
    for name in doomed:
        victim = live / name
        marker = victim / DOOMED_MARKER
        if victim.exists() and not marker.exists():
            marker.write_text(repr(time.time()))


def reap_tombstones(live: Path, grace_seconds: float | None = None) -> None:
    """Physically delete ``_DOOMED``-stamped parts whose grace expired.
    Safe to call from any thread at any time; cheap when nothing is
    doomed (one directory listing)."""
    grace = GRACE_SECONDS if grace_seconds is None else grace_seconds
    now = time.time()
    for victim in sorted(live.glob("b=*")):
        try:
            stamp = float((victim / DOOMED_MARKER).read_text())
        except (OSError, ValueError):
            continue  # not doomed, or marker mid-write (next pass gets it)
        if now - stamp >= grace:
            shutil.rmtree(victim, ignore_errors=True)


def finish_deletes(
    live: Path,
    published: Path,
    doomed: list[str],
    grace_seconds: float | None = None,
) -> None:
    """Post-publish step: stamp the folded inputs doomed, reap any
    tombstone past its grace, and drop the publish manifest once every
    input is physically gone (until then the manifest keeps excluding
    them from new listings). Idempotent — recovery and the compaction
    cadence both re-drive it until the deletes finish."""
    _stamp_doomed(live, doomed)
    reap_tombstones(live, grace_seconds)
    if not any((live / name).exists() for name in doomed):
        (published / "_MANIFEST").unlink(missing_ok=True)


def recover_compaction(live: Path) -> None:
    """Replay or roll back an interrupted :func:`compact_parts`:

    - a hidden merge dir with ``_SUCCESS`` + ``_MANIFEST`` is complete
      — finish its publish/delete steps;
    - a published part still carrying ``_MANIFEST`` means the snapshot
      deletion was cut short — finish it;
    - a hidden merge dir without both markers is incomplete — discard
      it (its source parts are untouched).
    """
    for d in sorted(live.glob(".compact-*")):
        manifest = d / "_MANIFEST"
        if (d / "_SUCCESS").exists() and manifest.exists():
            publish_as, doomed = json.loads(manifest.read_text())
            target = live / publish_as
            if not target.exists():
                d.rename(target)
                finish_deletes(live, target, doomed)
            else:  # published by a concurrent/previous run
                shutil.rmtree(d)
        else:
            shutil.rmtree(d)
    for target in sorted(live.glob("b=*")):
        manifest = target / "_MANIFEST"
        if manifest.exists():
            _, doomed = json.loads(manifest.read_text())
            finish_deletes(live, target, doomed)


def last_committed_batch(checkpoint_dir: str) -> int:
    """Highest batch id with a commit record in the stream checkpoint's
    ``commits/`` log — the ids Structured Streaming will never replay.
    Returns -1 when nothing has committed yet."""
    commits = Path(checkpoint_dir) / "commits"
    ids = [int(p.name) for p in commits.glob("*") if p.name.isdigit()]
    return max(ids, default=-1)


def _doomed_names(parts: list[Path]) -> set[str]:
    """Parts a published merge has replaced: named in a live part's
    ``_MANIFEST``, or directly ``_DOOMED``-stamped (tombstoned but not
    yet reaped)."""
    doomed: set[str] = set()
    for d in parts:
        manifest = d / "_MANIFEST"
        if manifest.exists():
            try:
                _, names = json.loads(manifest.read_text())
                doomed.update(names)
            except (OSError, ValueError):
                pass  # manifest deleted/incomplete mid-read: its
                # deletes finished (or never published) — nothing to exclude
        if (d / DOOMED_MARKER).exists():
            doomed.add(d.name)
    return doomed


def live_part_dirs(path: str) -> list[Path]:
    """Manifest-aware snapshot listing: every live ``b=*`` part dir,
    excluding parts a published merge has replaced (even while their
    tombstones sit out the grace window)."""
    live = Path(path)
    parts = sorted(d for d in live.glob("b=*") if d.is_dir())
    doomed = _doomed_names(parts)
    return [d for d in parts if d.name not in doomed]


def compact_parts(
    path: str,
    read_parts: Callable[[list[str]], DataFrame],
    fold: Callable[[DataFrame], DataFrame],
    checkpoint_dir: str | None = None,
    min_parts: int = 2,
) -> bool:
    """Fold the store's committed parts into one merged part (see the
    module docstring for the crash-safety and commit-gate contracts).
    ``read_parts`` loads a list of part dirs; ``fold`` produces the
    merged content (identity for concat-only stores). Returns True if
    a merge was published."""
    live = Path(path)
    recover_compaction(live)
    all_parts = sorted(d for d in live.glob("b=*") if d.is_dir())
    doomed = _doomed_names(all_parts)
    # _SUCCESS filter: a dir whose write was cut short mid-job (crash
    # before parquet's job commit) has no footers to fold and will be
    # rewritten by stream replay — never fold a torn part. This does
    # NOT replace the commit gate below: a part can be job-committed
    # (_SUCCESS present) while its STREAM batch is still uncommitted.
    # Doomed (tombstoned) parts are already inside an earlier merge —
    # re-folding one would double its rows.
    snapshot = sorted(
        d
        for d in all_parts
        if d.name not in doomed and (d / "_SUCCESS").exists()
    )
    if checkpoint_dir is not None:
        last = last_committed_batch(checkpoint_dir)
        snapshot = [
            d for d in snapshot if int(d.name.split("=")[1]) <= last
        ]  # negative (already-merged) ids pass this gate by construction
    if len(snapshot) < min_parts:
        return False
    ids = [int(d.name.split("=")[1]) for d in snapshot]
    merged_id = min(min(ids), 0) - 1
    merged = fold(read_parts([str(d) for d in snapshot]))
    hidden = live / f".compact-{abs(merged_id)}"
    merged.write.mode("overwrite").parquet(str(hidden))
    (hidden / "_MANIFEST").write_text(
        json.dumps([f"b={merged_id}", [d.name for d in snapshot]])
    )
    target = live / f"b={merged_id}"
    hidden.rename(target)
    finish_deletes(live, target, [d.name for d in snapshot])
    return True


def compact(
    spark: SparkSession,
    path: str,
    merge: Callable[[DataFrame], DataFrame],
    schema: StructType | None = None,
    checkpoint_dir: str | None = None,
    retain_where: Column | None = None,
) -> bool:
    """Fold a store's committed parts with its ``merge`` (the
    background-merge analog) through :func:`compact_parts`.

    ``retain_where``: optional retention predicate over the store's key
    columns, applied BEFORE the merge — the ClickHouse ``TTL ...
    DELETE``-on-merge analog. A retention fold is a REWRITE, not just a
    merge: it runs even when the store is already one part
    (``min_parts=1``), or an already-compacted store could never
    expire anything. Returns True if a fold published."""

    def fold(df: DataFrame) -> DataFrame:
        if retain_where is not None:
            df = df.filter(retain_where)
        return merge(df)

    return compact_parts(
        path,
        read_parts=lambda dirs: scan_parts(spark, dirs, schema),
        fold=fold,
        checkpoint_dir=checkpoint_dir,
        min_parts=1 if retain_where is not None else 2,
    )


def maybe_compact(
    spark: SparkSession,
    path: str,
    merge: Callable[[DataFrame], DataFrame],
    schema: StructType | None = None,
    checkpoint_dir: str | None = None,
    max_parts: int = 128,
    retain_where: Column | None = None,
) -> bool:
    """The part-count cadence (measured, SCALEPROBE.md "MV maintenance
    vs part count"): appends never list existing parts, so compaction
    exists purely for READERS, whose listing+open cost grows ~linearly
    with live parts; fold only once they exceed ``max_parts``. Cheap to
    call every tick — the no-op path is a listing plus a tombstone
    sweep. Returns True if a fold ran."""
    live = Path(path)
    if not live.exists():
        return False
    if len(live_part_dirs(path)) <= max_parts:
        # tombstoned (already-folded) parts don't count against the
        # threshold, but their grace clocks keep ticking — sweep here
        # so stores that stay under the threshold still shed them.
        reap_tombstones(live)
        return False
    return compact(spark, path, merge, schema, checkpoint_dir, retain_where)


def scan_parts(
    spark: SparkSession, dirs: list[str], schema: StructType | None = None
) -> DataFrame:
    """Scan a list of part dirs — with the store's explicit schema when
    it has one (no footer-inference job, which also races deletes)."""
    reader = spark.read if schema is None else spark.read.schema(schema)
    return reader.parquet(*dirs)


def read_live(
    spark: SparkSession, path: str, schema: StructType | None = None
) -> DataFrame:
    """Snapshot read of a store's live parts — the one read policy.

    - **manifest-aware** (:func:`live_part_dirs`): a reader sees either
      a fold's inputs or the fold alone, never both;
    - **committed-only**: a part dir exists before its write commits
      (only ``_temporary`` inside); parquet's commit protocol drops
      ``_SUCCESS`` exactly at commit, so that marker is the reader's
      visibility boundary;
    - **bounded re-list**: a read slower than the tombstone grace
      window can still lose the listing→resolution race; each retry
      re-lists, and the post-merge listing excludes doomed parts.
      File-level disappearance after resolution stays covered by
      ``ignoreMissingFiles`` (session.py).

    Raises FileNotFoundError when the store has no committed part."""
    last: Exception | None = None
    for attempt in range(READ_RETRIES):
        dirs = [str(d) for d in live_part_dirs(path) if (d / "_SUCCESS").exists()]
        if not dirs:
            raise FileNotFoundError(f"no committed parts under {path}")
        try:
            df = scan_parts(spark, dirs, schema)
            df.schema  # force path resolution INSIDE the retry scope
            return df
        except Exception as e:  # noqa: BLE001 — known transients only
            if not is_transient_listing_race(e):
                raise
            last = e
            time.sleep(0.05 * (attempt + 1))
    raise last  # type: ignore[misc]


def write_part(df: DataFrame, path: str, batch_id: int) -> None:
    """Idempotent micro-batch write: ``df`` lands in ``b=<batch_id>``
    with overwrite mode. A foreachBatch replay (crash between data
    write and checkpoint commit) re-runs the same batch_id over the
    same checkpointed input files and overwrites the directory with
    identical content — no double counts, ever.

    ``coalesce(1)``: one part per micro-batch, the "one part per
    INSERT block" analog. Without it a partial aggregation inherits
    ``spark.sql.shuffle.partitions`` and a ~100-row batch fans out
    into ~30 near-empty files, so after N batches every reader lists
    and opens ~30N tiny files — measured as the dominant term in
    mixed-load freshness lag (MIXEDLOAD.md). A part is bounded by
    |groups touched| (or the accepted rows) per batch, so a single
    output task is the right size by construction."""
    df.coalesce(1).write.mode("overwrite").parquet(f"{path}/b={batch_id}")


def part_sink(
    partials: dict[str, Callable[[DataFrame], DataFrame]],
) -> Callable[[DataFrame, int], None]:
    """foreachBatch body feeding one or more stores from one stream:
    each ``path -> partial`` pair writes ``partial(batch)`` as part
    ``b=<batch_id>`` of the store at ``path``.

    With several stores the block is read once and every store
    aggregates from it (the ClickHouse shape: one INSERT block, every
    attached MV): the micro-batch is persisted, materialized once, and
    the per-store writes — independent tiny jobs — run concurrently
    (serial writes made the 4-MV batch ~1.8 s against a 1 s trigger).
    The shared checkpoint advances every store in lockstep."""

    def sink(batch: DataFrame, batch_id: int) -> None:
        if batch.isEmpty():
            return
        if len(partials) == 1:
            [(path, partial)] = partials.items()
            write_part(partial(batch), path, batch_id)
            return
        batch.persist()
        batch.count()  # materialize once, not N racing computations
        try:
            errors: list[Exception] = []

            def one(path: str, partial: Callable[[DataFrame], DataFrame]) -> None:
                try:
                    write_part(partial(batch), path, batch_id)
                except Exception as exc:  # surface to the stream, don't swallow
                    errors.append(exc)

            threads = [
                threading.Thread(target=one, args=item) for item in partials.items()
            ]
            for t in threads:
                t.start()
            for t in threads:
                t.join()
            if errors:
                raise errors[0]
        finally:
            batch.unpersist()

    return sink


def start_stream(
    spark: SparkSession,
    source_dir: str,
    schema: StructType,
    checkpoint_dir: str,
    sink: Callable[[DataFrame, int], None],
    trigger_seconds: float = 1,
    max_files_per_trigger: int | None = None,
    available_now: bool = False,
):
    """Launch a file-stream maintenance job: parquet drop directory
    (the demo's Kafka stand-in) → ``foreachBatch(sink)`` with a
    checkpoint. Exactly-once is the file source's checkpoint plus an
    idempotent sink (:func:`write_part`). ``available_now`` drains
    what is there and stops; otherwise a processing-time trigger every
    ``trigger_seconds``. Returns the StreamingQuery handle."""
    reader = spark.readStream.schema(schema)
    if max_files_per_trigger:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    writer = (
        reader.parquet(source_dir)
        .writeStream.foreachBatch(sink)
        .option("checkpointLocation", checkpoint_dir)
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    else:
        writer = writer.trigger(
            processingTime=f"{int(trigger_seconds * 1000)} milliseconds"
        )
    return writer.start()
