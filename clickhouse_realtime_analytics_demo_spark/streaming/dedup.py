"""Streaming corpus dedup: admit only never-seen-before documents.

The ingest-time shape of exact dedup (``operators.dedup.exact_dedup``
is the batch shape): documents stream in; a doc is ACCEPTED iff its
normalized-text fingerprint has never been accepted before — within
the same micro-batch, across micro-batches, and against everything
already in the accepted corpus. This is how a training-data pipeline
keeps its corpus duplicate-free continuously instead of re-running a
full-corpus dedup job after every delivery.

Design (per micro-batch, foreachBatch):

1. fingerprint + in-batch dedup — deterministic first-wins
   (min id per fingerprint), not ``dropDuplicates``'s
   arbitrary-row-wins.
2. anti-join against the ACCEPTED corpus — with the join inverted
   into an IN-pushdown: the batch's fingerprints (bounded by the
   trigger size) are collected and pushed as a filter INTO the
   parquet scan of the accepted corpus' fingerprint column. What this
   buys (measured — SCALEPROBE.md "Dedup-at-ingest"): the corpus is
   never SHUFFLED; the scan reads one thin column and the surviving
   match set (≤ |batch|) broadcasts into the anti-join. Random md5
   fingerprints defeat min/max row-group pruning by construction, so
   the scan itself stays linear in corpus size — flat to 2M rows on
   this box, and past ~10^9 rows the documented next step is a
   fingerprint-bucketed store or a compaction-time bloom filter, not
   this path. The plain anti-join (corpus-wide exchange per batch) is
   the fallback for batches larger than ``max_pushdown_fingerprints``
   — correct, and actually faster below ~10^6 accepted rows where
   job-launch overhead dominates, but the wrong shape at scale.
3. idempotent append — accepted rows land in a batch-id-keyed
   subdirectory (``b=<batch_id>``, overwrite — ``parts.write_part``),
   the part-store contract every streaming store shares: a crash
   between data write and checkpoint commit re-delivers the batch,
   which rewrites the SAME directory with the SAME content. Step 2
   excludes the current batch's own directory from the reference
   scan, so a replayed batch does not anti-join against its own
   half-written output (which would silently drop every row of the
   batch).

Exactly-once: file-source checkpoint (processed input files) +
idempotent batch-keyed sink, the ``streaming/parts.py`` contract
(replay tests in tests/test_part_store_contract.py and
tests/test_streaming_dedup.py).
"""

from __future__ import annotations

from pathlib import Path

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType
from pyspark.sql.window import Window

from clickhouse_realtime_analytics_demo_spark.operators.text import fingerprint
from clickhouse_realtime_analytics_demo_spark.streaming import parts as parts_store

# IN-pushdown cap: 100k hex fingerprints ≈ 3 MB of literals — well
# inside driver/plan limits; a trigger delivering more rows than this
# takes the full anti-join path instead.
MAX_PUSHDOWN_FINGERPRINTS = 100_000


def _in_batch_first_wins(batch: DataFrame, id_col: str) -> DataFrame:
    """One row per fingerprint: the min-id row (deterministic across
    partitionings, unlike dropDuplicates)."""
    w = Window.partitionBy("fingerprint").orderBy(F.col(id_col).asc())
    return (
        batch.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn")
    )


def _accepted_dirs(out_dir: str, exclude_batch_id: int) -> list[str]:
    if not Path(out_dir).exists():
        return []
    # Manifest-aware: after a compaction, the merged part (negative
    # batch id) stands in for the parts it replaced.
    return [
        str(d)
        for d in parts_store.live_part_dirs(out_dir)
        if d.name != f"b={exclude_batch_id}"
    ]


def dedup_batch(
    spark: SparkSession,
    batch: DataFrame,
    out_dir: str,
    batch_id: int,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_pushdown_fingerprints: int = MAX_PUSHDOWN_FINGERPRINTS,
) -> None:
    """foreachBatch body: fingerprint → first-wins → anti-join vs
    accepted → idempotent write of b=<batch_id>.

    Null-text docs get a sentinel fingerprint (not NULL): the in-batch
    window groups NULL keys together, but the cross-batch anti-join and
    the IN-pushdown never match NULL = NULL — without the sentinel a
    null-text doc would be deduped within its batch yet re-admitted by
    every later batch. With it, exactly the FIRST null-text doc ever
    delivered is accepted, matching batch ``exact_dedup`` semantics
    (whose groupBy also treats all NULL keys as one group)."""
    fp = batch.withColumn(
        "fingerprint",
        F.coalesce(fingerprint(F.col(text_col)), F.lit("<null-text>")),
    )
    fresh = _in_batch_first_wins(fp, id_col)
    dirs = _accepted_dirs(out_dir, batch_id)
    if dirs:
        accepted = spark.read.parquet(*dirs).select("fingerprint")
        # One LIMIT-capped collect decides the path AND fetches the
        # fingerprints (probed: a separate count() job cost more than
        # the 500k-row anti-join it was optimizing — SCALEPROBE.md
        # "Dedup-at-ingest"). The limit bounds driver memory: cap+1
        # rows back means the batch is over the cap, take the join.
        batch_fps = [
            r["fingerprint"]
            for r in fresh.select("fingerprint")
            .limit(max_pushdown_fingerprints + 1)
            .collect()
        ]
        if len(batch_fps) <= max_pushdown_fingerprints:
            # No corpus shuffle: filter the corpus scan down to the
            # batch's fingerprints (≤ |batch| survivors) → broadcast
            # anti. Random fingerprints defeat row-group stats, so
            # this still READS the corpus' fingerprint column — its
            # win over the full anti-join is avoiding the corpus-wide
            # exchange, which pays only past ~10^6 accepted rows on
            # this box (probed); below that both paths are flat.
            matches = accepted.filter(F.col("fingerprint").isin(batch_fps)).distinct()
            fresh = fresh.join(F.broadcast(matches), "fingerprint", "left_anti")
        else:
            fresh = fresh.join(accepted, "fingerprint", "left_anti")
    # One part per batch: accepted-per-trigger is small; the ingest
    # loop's cadence (maybe_compact_accepted) folds parts as they pile up.
    parts_store.write_part(fresh, out_dir, batch_id)


def start_dedup_ingest(
    spark: SparkSession,
    source_dir: str,
    out_dir: str,
    checkpoint_dir: str,
    schema: StructType,
    id_col: str = "doc_id",
    text_col: str = "text",
    trigger_seconds: float = 1,
    max_files_per_trigger: int | None = None,
    available_now: bool = False,
    compact_max_parts: int | None = 128,
):
    """Launch the dedup-at-ingest stream over a document drop
    directory. Returns the StreamingQuery handle.

    ``compact_max_parts``: fold the accepted store once its part count
    passes this threshold (in the sink thread, commit-gated — see
    :func:`compact_accepted`); None disables."""

    def sink(batch: DataFrame, batch_id: int) -> None:
        dedup_batch(spark, batch, out_dir, batch_id, id_col, text_col)
        if compact_max_parts is not None:
            maybe_compact_accepted(
                spark, out_dir, checkpoint_dir, max_parts=compact_max_parts
            )

    return parts_store.start_stream(
        spark, source_dir, schema, checkpoint_dir, sink,
        trigger_seconds=trigger_seconds,
        max_files_per_trigger=max_files_per_trigger,
        available_now=available_now,
    )


# ------------------------------------------------------ near-dup ingest
#
# The semantic (MinHash-LSH) sibling of the exact path above: admit a
# doc only if it is not a near-duplicate of (a) an earlier doc in the
# same batch or (b) anything already ACCEPTED. Online keep-one
# semantics, the streaming form of arXiv:2107.06499's corpus dedup:
# the accepted corpus only ever grows with cluster representatives.
#
# Deliberate divergence from batch keep-one (documented, tested):
# rejection is judged against the ACCEPTED corpus, not against
# rejected docs. If X was rejected as a near-dup of accepted A, a
# later Y that is near-dup of X but not of A is ACCEPTED — batch CC
# over the full history would have clustered {A, X, Y} and kept only
# A. Online dedup cannot see rejected docs without retaining them;
# retaining them re-grows the corpus the operator exists to bound.
#
# Store layout: accepted parts carry the doc columns PLUS a `bands`
# array (LSH bucket hash per band, computed once at accept time) — the
# scan-side index. The per-batch reference read is (id, bands): two
# thin columns, exploded to (band, band_hash) for the candidate join;
# texts are fetched only for the (few) candidate ids, so per-batch
# cost is index-scan + LSH-candidate-sized work, never corpus-sized
# shingling.


def neardup_batch(
    spark: SparkSession,
    batch: DataFrame,
    out_dir: str,
    batch_id: int,
    id_col: str = "doc_id",
    text_col: str = "text",
    threshold: float = 0.7,
    num_hashes: int = 32,
    bands: int = 8,
    shingle_n: int = 3,
    max_bucket_size: int | None = None,
) -> None:
    """foreachBatch body: in-batch keep-one → LSH candidates vs the
    accepted index → exact-Jaccard verify → reject matches → append
    survivors (with their band index) to ``b=<batch_id>``.

    ``max_bucket_size`` is the quadratic-blowup valve, applied on BOTH
    sides (same trade-off as ``operators.dedup.minhash_lsh_candidates``):
    in-batch band buckets above the cap are dropped before the
    self-join, and accepted-INDEX buckets above the cap are dropped
    before the cross-corpus candidate join — a boilerplate mega-bucket
    in a 10^9-doc accepted corpus would otherwise make every matching
    batch doc verify against the whole bucket. Docs in a dropped
    bucket still collide in their other b-1 bands. Costs one extra
    per-batch aggregate over the index when enabled; None (default)
    reports everything.

    Signatures and shingle sets are each computed ONCE for the batch
    (checkpointed) and reused by every stage — in-batch candidate
    generation, the in-batch Jaccard verify, the stored band index,
    and the cross-corpus verify. The first shape of this function ran
    the MinHash pipeline twice and shingling three times; fusing them
    cut the fixed per-batch cost 2.9 s → 2.1 s and 200k-doc corpus
    seeding 63 s → 30 s (SCALEPROBE.md "Near-dup ingest").
    """
    from clickhouse_realtime_analytics_demo_spark.operators import dedup as ddup
    from clickhouse_realtime_analytics_demo_spark.operators import graph

    sigs = ddup.minhash_signatures(
        batch, text_col, id_col, num_hashes, shingle_n
    ).localCheckpoint(eager=True)
    sh = ddup.shingle_sets(batch, text_col, id_col, shingle_n).localCheckpoint(
        eager=True
    )

    # 1) in-batch near-dup clusters → min-id representative survives
    cands = ddup.lsh_candidates_from_sigs(sigs, num_hashes, bands, max_bucket_size)
    pairs = ddup.verified_jaccard_pairs(cands, sh, threshold).select("id_a", "id_b")
    comp = graph.connected_components(pairs)
    non_reps = comp.filter(F.col("id") != F.col("component")).select("id")
    reps = batch.join(non_reps, batch[id_col] == non_reps["id"], "left_anti")

    rep_bands = (
        sigs.join(non_reps.withColumnRenamed("id", "__nr"), sigs["id"] == F.col("__nr"), "left_anti")
        .select(F.col("id"), ddup.band_array_expr(num_hashes, bands).alias("bands"))
    )

    dirs = _accepted_dirs(out_dir, batch_id)
    if dirs:
        acc_idx = (
            spark.read.parquet(*dirs)
            .select(F.col(id_col).alias("acc_id"), "bands")
            .select("acc_id", F.posexplode("bands").alias("band", "band_hash"))
        )
        if max_bucket_size is not None:
            sizes = acc_idx.groupBy("band", "band_hash").agg(
                F.count("*").alias("bucket_n")
            )
            acc_idx = (
                acc_idx.join(sizes, ["band", "band_hash"])
                .filter(F.col("bucket_n") <= max_bucket_size)
                .drop("bucket_n")
            )
        batch_idx = rep_bands.select(
            F.col("id"), F.posexplode("bands").alias("band", "band_hash")
        )
        cand = (
            batch_idx.join(acc_idx, ["band", "band_hash"])
            .select("id", "acc_id")
            .distinct()
        )
        # verify: exact Jaccard between batch rep text and the (few)
        # candidate accepted docs' texts
        acc_cand_docs = spark.read.parquet(*dirs).join(
            F.broadcast(cand.select(F.col("acc_id").alias(id_col)).distinct()),
            id_col,
            "left_semi",
        )
        acc_sh = ddup.shingle_sets(acc_cand_docs, text_col, id_col, shingle_n).select(
            F.col("id").alias("acc_id"), F.col("sh").alias("acc_sh")
        )
        rejected = (
            cand.join(sh, "id")  # reuse the batch shingles
            .join(acc_sh, "acc_id")
            .filter(ddup.jaccard(F.col("sh"), F.col("acc_sh")) >= threshold)
            .select("id")
            .distinct()
        )
        reps = reps.join(rejected, reps[id_col] == rejected["id"], "left_anti")

    survivors = reps.join(
        rep_bands.withColumnRenamed("id", "__bid"),
        reps[id_col] == F.col("__bid"),
    ).drop("__bid")
    parts_store.write_part(survivors, out_dir, batch_id)


def start_neardup_ingest(
    spark: SparkSession,
    source_dir: str,
    out_dir: str,
    checkpoint_dir: str,
    schema: StructType,
    id_col: str = "doc_id",
    text_col: str = "text",
    threshold: float = 0.7,
    trigger_seconds: float = 1,
    max_files_per_trigger: int | None = None,
    available_now: bool = False,
    compact_max_parts: int | None = 128,
    max_bucket_size: int | None = None,
):
    """Launch the near-dup-dedup-at-ingest stream. Same exactly-once
    contract as :func:`start_dedup_ingest` (idempotent batch-keyed
    sink; the reference scan excludes the in-flight batch).
    ``max_bucket_size``: see :func:`neardup_batch`."""

    def sink(batch: DataFrame, batch_id: int) -> None:
        neardup_batch(
            spark, batch, out_dir, batch_id, id_col, text_col, threshold,
            max_bucket_size=max_bucket_size,
        )
        if compact_max_parts is not None:
            maybe_compact_accepted(
                spark, out_dir, checkpoint_dir, max_parts=compact_max_parts
            )

    return parts_store.start_stream(
        spark, source_dir, schema, checkpoint_dir, sink,
        trigger_seconds=trigger_seconds,
        max_files_per_trigger=max_files_per_trigger,
        available_now=available_now,
    )


def _concat(df: DataFrame) -> DataFrame:
    """The accepted store's fold: rows are unique by construction, so
    merging parts is pure concatenation."""
    return df


def read_accepted(spark: SparkSession, out_dir: str) -> DataFrame:
    """All accepted (duplicate-free) documents — the shared live-part
    read (:func:`parts.read_live`): manifest-aware against a concurrent
    compaction, committed-only (the sink's in-flight batch dir exists
    before its write commits), bounded re-list behind the tombstone
    grace window. Raises FileNotFoundError before the first accepted
    batch commits."""
    return parts_store.read_live(spark, out_dir)


def compact_accepted(
    spark: SparkSession,
    out_dir: str,
    checkpoint_dir: str | None = None,
) -> bool:
    """Fold the accepted store's committed ``b=*`` parts into one
    (:func:`parts.compact` with a concatenating fold).

    Appends never list existing parts, so compaction exists purely for
    READERS — including the per-batch reference scan itself, whose
    file-listing cost grows with part count (SCALEPROBE.md "MV
    maintenance vs part count"). Call it from the ingest loop's own
    cadence (:func:`maybe_compact_accepted` after each batch): inside
    the sink thread the commit gate excludes exactly the in-flight
    batch, and there is no reader/compactor concurrency to reason
    about.
    """
    return parts_store.compact(spark, out_dir, _concat, checkpoint_dir=checkpoint_dir)


def maybe_compact_accepted(
    spark: SparkSession,
    out_dir: str,
    checkpoint_dir: str | None = None,
    max_parts: int = 128,
) -> bool:
    """:func:`compact_accepted` on the part-count cadence
    (:func:`parts.maybe_compact`)."""
    return parts_store.maybe_compact(
        spark, out_dir, _concat, checkpoint_dir=checkpoint_dir, max_parts=max_parts
    )
