"""Incremental materialized views (SURVEY §2.9 ST2, §4 X8).

The reference's 5 insert-triggered MVs (01-create-tables.sql:87-168)
are Summing/AggregatingMergeTree tables: every INSERT block writes
*partial aggregate* rows; background merges fold rows with equal sort
keys; readers still re-aggregate (``SUM(...)``/``uniqMerge(...)``)
to cover not-yet-merged parts (read sites app.py:335-345,
examples/sample_queries.sql:47-58,78-87).

Spark-first re-expression with the SAME part-based algebra:

- **ingest**: a Structured Streaming job per MV; each micro-batch is
  aggregated batch-locally (one partial row per group per batch — the
  analog of one part per INSERT block) and APPENDED to the MV table.
  No streaming state, no watermark, no unbounded state growth — the
  hard part SURVEY §7 flags simply disappears.
- **uniq states**: ``hll_sketch_agg`` binary sketches (DataSketches
  HLL, public Spark 3.5+ API) = ``uniqState``; readers merge with
  ``hll_union_agg`` + ``hll_sketch_estimate`` = ``uniqMerge``.
- **merges**: ``compact()`` folds equal-key rows exactly like a
  background merge; readers are correct whether or not it ever runs.
- **reads**: ``read_final()`` re-aggregates partials — the same outer
  SUM the reference's readers issue.

Scale: appends are tiny (|groups touched per batch|); compaction is a
keyed shuffle over the MV (≪ raw); readers aggregate MV-sized data.

Exactly-once: the file-source checkpoint tracks processed input
files; the sink is IDEMPOTENT on replay — each micro-batch writes
its partial rows to a batch-id-keyed subdirectory
(``<mv>/b=<batch_id>``) with overwrite mode, so a crash between the
data write and the checkpoint commit re-writes the SAME directory
with the SAME content instead of appending a duplicate part
(``tests/test_streaming.py::test_mv_sink_idempotent_on_replay``).
This is the parquet analog of a Delta MERGE keyed on batch_id. The
stream launch, part write, live read and compaction mechanics are the
shared part store's (``streaming/parts.py``); this module owns
only the MV algebra (partials, re-aggregation, finals).
"""

from __future__ import annotations

import threading
from dataclasses import dataclass, field

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from clickhouse_realtime_analytics_demo_spark.sources import schemas
from clickhouse_realtime_analytics_demo_spark.streaming import parts as parts_store


@dataclass(frozen=True)
class MVSpec:
    name: str
    source: str  # "events" | "orders"
    keys: tuple[str, ...]
    # partial-aggregate expressions applied per micro-batch AND by compact()
    partials: dict[str, Column] = field(hash=False)
    # read-time finalization over the re-aggregated partials
    finals: dict[str, Column] = field(hash=False)

    @property
    def date_key(self) -> str | None:
        """The spec's date-grain key column (retention horizon anchor),
        or None for a date-free rollup (no time-based TTL applies)."""
        for k in ("event_date", "order_date"):
            if k in self.keys:
                return k
        return None


def retention_predicate(spec: MVSpec, days: int, clock=None):
    """Zero-arg callable producing the retain-WHERE Column for a
    sliding ``days`` horizon on ``spec``'s date key — the form
    :class:`Compactor` targets take, so "now" re-evaluates at every
    fold (ClickHouse ``TTL date + INTERVAL N DAY``, applied on
    merges). ``clock``: zero-arg callable returning the reference
    date (tests inject a frozen/stepped clock); None = current_date
    at fold time."""
    dk = spec.date_key
    if dk is None:
        raise ValueError(f"{spec.name}: no date key — time TTL undefined")

    def pred() -> Column:
        now = F.lit(clock()) if clock is not None else F.current_date()
        return F.col(dk) >= F.date_sub(now, days)

    return pred


def _resum(col: str) -> Column:
    """Reader/compactor-side re-aggregation of a partial sum column."""
    return F.sum(col).alias(col)


def _sketch_union(col: str) -> Column:
    return F.hll_union_agg(col).alias(col)


def _if(cond: Column, one: int = 1) -> Column:
    return F.sum(F.when(cond, one).otherwise(0))


def mv_specs() -> dict[str, MVSpec]:
    e = F.col("event_type")
    return {
        # 01-create-tables.sql:87-98
        "daily_user_activity": MVSpec(
            name="daily_user_activity",
            source="events",
            keys=("event_date", "user_id"),
            partials={
                "total_events": F.count("*"),
                "total_duration": F.sum("duration_seconds"),
                "total_revenue": F.sum("revenue"),
                "sessions_hll": F.hll_sketch_agg("session_id"),
            },
            finals={"unique_sessions": F.hll_sketch_estimate("sessions_hll")},
        ),
        # 01-create-tables.sql:102-115
        "mv_product_revenue": MVSpec(
            name="mv_product_revenue",
            source="orders",
            keys=("product_id", "order_date", "status"),
            partials={
                "order_count": F.count("*"),
                "total_revenue": F.sum("total_amount"),
                "total_quantity": F.sum("quantity"),
            },
            finals={
                "avg_order_value": (
                    F.col("total_revenue") / F.col("order_count")
                ).cast("decimal(14,4)")
            },
        ),
        # 01-create-tables.sql:119-132 (countState/sumState funnel)
        "mv_user_funnel": MVSpec(
            name="mv_user_funnel",
            source="events",
            keys=("user_id", "event_date"),
            partials={
                "total_events": F.count("*"),
                "page_views": _if(e == "page_view"),
                "cart_adds": _if(e == "add_to_cart"),
                "purchases": _if(e == "purchase"),
                "total_revenue": F.sum("revenue"),
            },
            finals={},
        ),
        # 01-create-tables.sql:136-152
        "mv_hourly_events": MVSpec(
            name="mv_hourly_events",
            source="events",
            keys=("event_date", "event_hour", "event_type", "device_type", "country"),
            partials={
                "event_count": F.count("*"),
                "users_hll": F.hll_sketch_agg("user_id"),
                "total_duration": F.sum("duration_seconds"),
                "total_revenue": F.sum("revenue"),
            },
            finals={
                "unique_users": F.hll_sketch_estimate("users_hll"),
                "avg_duration": (
                    F.col("total_duration") / F.col("event_count")
                ).cast("double"),
            },
        ),
        # 01-create-tables.sql:156-168
        "mv_country_stats": MVSpec(
            name="mv_country_stats",
            source="events",
            keys=("country", "event_date", "event_type"),
            partials={
                "event_count": F.count("*"),
                "users_hll": F.hll_sketch_agg("user_id"),
                "total_revenue": F.sum("revenue"),
            },
            finals={},
        ),
    }


def _with_derived(df: DataFrame, spec: MVSpec) -> DataFrame:
    """Derive MV key columns absent from the base schema."""
    if "event_hour" in spec.keys and "event_hour" not in df.columns:
        df = df.withColumn("event_hour", F.hour("event_timestamp").cast("int"))
    return df


def apply_partial(batch: DataFrame, spec: MVSpec) -> DataFrame:
    """One partial-aggregate row per group for this batch — the analog
    of the rows a ClickHouse MV writes per INSERT block."""
    batch = _with_derived(batch, spec)
    return batch.groupBy(*spec.keys).agg(
        *[expr.alias(name) for name, expr in spec.partials.items()]
    )


def _reagg_exprs(spec: MVSpec) -> list[Column]:
    out = []
    for name in spec.partials:
        if name.endswith("_hll"):
            out.append(_sketch_union(name))
        else:
            out.append(_resum(name))
    return out


def write_batch(batch: DataFrame, spec: MVSpec, mv_path: str, batch_id: int) -> None:
    """Idempotent micro-batch write of the batch's canonical partial
    rows as part ``b=<batch_id>`` (:func:`parts.write_part`)."""
    parts_store.write_part(_stored_partial(batch, spec), mv_path, batch_id)


_SCHEMA_CACHE: dict = {}  # spec name -> canonical partial-table StructType


def _mv_schema(spark: SparkSession, spec: MVSpec):
    """CANONICAL partial-table schema: the spec's partial aggregation
    analyzed over an empty source frame, with decimal columns widened
    to precision 38. Widening makes the type a FIXED POINT of folding:
    Spark's SUM over decimal(p,s) yields decimal(min(38,p+10),s), so a
    decimal(20,2) partial re-aggregates to (30,2) then (38,2) — parts
    written at different fold depths would carry heterogeneous
    physical types (the latent bug this fixes: a fixed read schema hit
    PARQUET_COLUMN_DATA_TYPE_MISMATCH on compacted parts; inference
    only worked by accident of which footer it sampled). At precision
    38 the sum type maps to itself, so every part — fresh or folded N
    times — has the same schema.

    Explicit schemas also mean no per-file footer inference job (a
    full-metadata pass at scale, and it races compactor deletes)."""
    if spec.name not in _SCHEMA_CACHE:
        from pyspark.sql import types as T

        src = schemas.EVENTS if spec.source == "events" else schemas.ORDERS
        empty = spark.createDataFrame([], src)
        base = apply_partial(empty, spec).schema
        fields = [
            T.StructField(
                f.name,
                T.DecimalType(38, f.dataType.scale)
                if isinstance(f.dataType, T.DecimalType)
                else f.dataType,
                f.nullable,
            )
            for f in base
        ]
        _SCHEMA_CACHE[spec.name] = T.StructType(fields)
    return _SCHEMA_CACHE[spec.name]


def _canonicalize(df: DataFrame, spark: SparkSession, spec: MVSpec) -> DataFrame:
    """Cast a partial-aggregate frame to the canonical schema — every
    write path (fresh micro-batch AND compacted merge) lands the same
    physical types."""
    schema = _mv_schema(spark, spec)
    return df.select(
        *[F.col(f.name).cast(f.dataType) for f in schema]
    )


def _stored_partial(batch: DataFrame, spec: MVSpec) -> DataFrame:
    """The partial rows a micro-batch contributes, in canonical types."""
    return _canonicalize(apply_partial(batch, spec), batch.sparkSession, spec)


def _read_partials(spark: SparkSession, mv_path: str, spec: MVSpec) -> DataFrame:
    """The MV's live partial rows through the shared read policy
    (:func:`parts.read_live`: manifest-aware, so a reader sees either a
    fold's inputs or the fold alone — ClickHouse's atomic part-set
    swap on raw directories — committed parts only, bounded re-list),
    with the canonical schema: no footer-inference job. An empty store
    reads as an empty frame."""
    schema = _mv_schema(spark, spec)
    try:
        return parts_store.read_live(spark, mv_path, schema)
    except FileNotFoundError:
        return spark.createDataFrame([], schema)


def _merge(spec: MVSpec):
    """The MV's fold: re-aggregate equal-key partial rows, canonically
    typed (what a Summing/AggregatingMergeTree background merge does)."""

    def merge(df: DataFrame) -> DataFrame:
        return _canonicalize(
            df.groupBy(*spec.keys).agg(*_reagg_exprs(spec)), df.sparkSession, spec
        )

    return merge


def compact(
    spark: SparkSession,
    mv_path: str,
    spec: MVSpec,
    checkpoint_dir: str | None = None,
    retain_where: Column | None = None,
) -> bool:
    """Background-merge analog: fold equal-key partial rows. Readers
    never require this — it bounds MV size, like MergeTree merges.
    Crash safety, the commit gate (pass the maintenance stream's
    ``checkpoint_dir``; without it the caller must guarantee the stream
    is stopped and fully committed) and the retention rule are
    :func:`parts.compact`'s.

    ``retain_where`` bounds the no-watermark design's state: this
    engine keeps no streaming state store (partials append per batch),
    so the MV table itself is the state, its steady-state size is
    ``retention_days × |daily active keys|`` rows, and the fold that
    already runs on the max_parts=128 cadence enforces the bound for
    free (measured in `scale_probe.py funnelstate` / SCALEPROBE.md)."""
    return parts_store.compact(
        spark, mv_path, _merge(spec), _mv_schema(spark, spec),
        checkpoint_dir=checkpoint_dir, retain_where=retain_where,
    )


def maybe_compact(
    spark: SparkSession,
    mv_path: str,
    spec: MVSpec,
    checkpoint_dir: str | None = None,
    max_parts: int = 128,
    retain_where: Column | None = None,
) -> bool:
    """:func:`compact` on the part-count cadence
    (:func:`parts.maybe_compact`). Measured for MVs (`scale_probe.py
    mv` / SCALEPROBE.md "MV maintenance vs part count"): ``read_final``
    degrades ~linearly with live parts (354 ms at 11 parts → 1.7 s at
    515) while a fold costs 0.6–2.2 s over the whole 8–512 range, so
    folding past ~128 parts keeps reads within ~2× their floor at a
    <1% duty cycle. Returns True if a compaction ran."""
    return parts_store.maybe_compact(
        spark, mv_path, _merge(spec), _mv_schema(spark, spec),
        checkpoint_dir=checkpoint_dir, max_parts=max_parts,
        retain_where=retain_where,
    )


@dataclass
class Compactor:
    """Background-merge thread — the ClickHouse background merge pool
    analog. Periodically applies :func:`maybe_compact` (the measured
    cadence policy) to each registered MV, commit-gated against that
    MV's maintenance-stream checkpoint so a crash-replayable batch is
    never folded early (see :func:`compact`). Runs its Spark jobs in
    the ``maintenance`` FAIR pool next to the streams it serves.

    ``targets``: list of (mv_path, spec, checkpoint_dir) or
    (mv_path, spec, checkpoint_dir, retention) where ``retention`` is
    a zero-arg callable returning the retain-predicate Column for this
    fold — a callable, not a Column, so time-relative TTLs
    (event_date >= today - N) re-evaluate "now" at each fold instead
    of freezing it at registration (and tests inject a frozen clock).
    With retention set, every threshold-triggered fold also expires
    rows — the ClickHouse "TTL applies on merges" cadence. ``stats``
    counts compactions performed, for tests and ops introspection.
    """

    spark: SparkSession
    targets: list[tuple]  # (path, spec, ckpt[, retention-callable])
    interval_s: float = 30.0
    max_parts: int = 128
    stats: dict[str, int] = field(default_factory=dict)
    _stop: threading.Event = field(default_factory=threading.Event, repr=False)
    _thread: threading.Thread | None = field(default=None, repr=False)

    def _run(self) -> None:
        self.spark.sparkContext.setLocalProperty("spark.scheduler.pool", "maintenance")
        while not self._stop.is_set():
            for target in self.targets:
                mv_path, spec, ckpt = target[0], target[1], target[2]
                retention = target[3] if len(target) > 3 else None
                if self._stop.is_set():
                    break
                try:
                    if maybe_compact(
                        self.spark, mv_path, spec,
                        checkpoint_dir=ckpt, max_parts=self.max_parts,
                        retain_where=retention() if retention else None,
                    ):
                        self.stats[spec.name] = self.stats.get(spec.name, 0) + 1
                except Exception:
                    # background merges must never kill the pipeline;
                    # a failed fold retries next tick (compact() is
                    # crash-safe against its own interruptions)
                    pass
            self._stop.wait(self.interval_s)

    def start(self) -> "Compactor":
        self._thread = threading.Thread(target=self._run, daemon=True)
        self._thread.start()
        return self

    def stop(self) -> None:
        self._stop.set()
        if self._thread:
            self._thread.join()


def read_final(spark: SparkSession, mv_path: str, spec: MVSpec) -> DataFrame:
    """Reader view: re-aggregate partials (the reference's outer SUM /
    -Merge pattern), then finalize derived metrics."""
    df = _read_partials(spark, mv_path, spec).groupBy(*spec.keys).agg(*_reagg_exprs(spec))
    for name, expr in spec.finals.items():
        df = df.withColumn(name, expr)
    drop = [c for c in df.columns if c.endswith("_hll")]
    return df.drop(*drop)


def batch_equivalent(source_df: DataFrame, spec: MVSpec) -> DataFrame:
    """The defining invariant (SURVEY §5 #2): read_final(mv) must equal
    this direct batch aggregation over the full source table."""
    df = _with_derived(source_df, spec)
    agg = df.groupBy(*spec.keys).agg(
        *[expr.alias(name) for name, expr in spec.partials.items()]
    )
    for name, expr in spec.finals.items():
        agg = agg.withColumn(name, expr)
    return agg.drop(*[c for c in agg.columns if c.endswith("_hll")])


def start_incremental_multi(
    spark: SparkSession,
    source_dir: str,
    mv_root: str,
    specs: list[MVSpec],
    checkpoint_dir: str,
    trigger_seconds: float = 1,
    max_files_per_trigger: int | None = None,
):
    """One maintenance stream serving every MV attached to a source —
    the ClickHouse shape: a single INSERT block is read once and every
    attached MV aggregates from that same block (ARCHITECTURE.md's
    insert-triggered MV cascade), instead of N streams each re-listing
    and re-reading the same input files every trigger.

    Each MV gets its own table dir (``<mv_root>/<name>``) and the
    idempotent ``b=<batch_id>`` part write (:func:`parts.part_sink`);
    the shared checkpoint advances all MVs in lockstep (like the
    reference, where one INSERT commits to all MVs atomically or not
    at all). One spec is the single-MV case. Returns the
    StreamingQuery handle.
    """
    sources = {s.source for s in specs}
    if len(sources) != 1:
        raise ValueError(f"all specs must share one source, got {sources}")
    partials = {
        f"{mv_root}/{spec.name}": (lambda batch, spec=spec: _stored_partial(batch, spec))
        for spec in specs
    }
    return parts_store.start_stream(
        spark,
        source_dir,
        schemas.EVENTS if specs[0].source == "events" else schemas.ORDERS,
        checkpoint_dir,
        parts_store.part_sink(partials),
        trigger_seconds=trigger_seconds,
        max_files_per_trigger=max_files_per_trigger,
    )


def maintenance(
    spark: SparkSession,
    source_dir: str,
    mv_root: str,
    specs: list[MVSpec],
    checkpoint_dir: str,
    retention_days: int | None = None,
    max_parts: int = 128,
    compact_interval_s: float = 30.0,
    trigger_seconds: float = 1,
    max_files_per_trigger: int | None = None,
    clock=None,
):
    """The deployed maintenance topology in one call (VERDICT r13 #5):
    the shared insert-triggered stream (:func:`start_incremental_multi`)
    PLUS the background-merge :class:`Compactor` over the same tables,
    commit-gated on the stream's checkpoint. ``retention_days`` is the
    TTL config knob: every threshold-triggered fold also expires rows
    older than the sliding horizon on each spec's date key — the
    ClickHouse "TTL applies on merges" cadence riding the max_parts
    policy, no caller-side compact() needed. Date-free specs simply
    fold without a retention predicate. Returns (query, compactor);
    stop both on shutdown (query first)."""
    query = start_incremental_multi(
        spark, source_dir, mv_root, specs, checkpoint_dir,
        trigger_seconds=trigger_seconds,
        max_files_per_trigger=max_files_per_trigger,
    )
    targets = []
    for spec in specs:
        ret = (
            retention_predicate(spec, retention_days, clock=clock)
            if retention_days is not None and spec.date_key is not None
            else None
        )
        targets.append((f"{mv_root}/{spec.name}", spec, checkpoint_dir, ret))
    compactor = Compactor(
        spark, targets, interval_s=compact_interval_s, max_parts=max_parts
    ).start()
    return query, compactor
