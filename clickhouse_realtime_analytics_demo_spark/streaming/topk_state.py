"""Mergeable top-k (heavy hitters) MV state — the ClickHouse
``topKState`` / ``topKMerge`` analog (AggregatingMergeTree pattern,
reference `init-scripts/01-create-tables.sql:119-132` uses the same
State/Merge machinery for countState/sumState; topK is the member of
that family the demo's "top users" dashboards would reach for at
scale).

State = per-group Misra-Gries summary stored as a ``map<string,long>``
column, one part per micro-batch in a ``streaming/parts.py`` store
(``parts.part_sink({path: topk_partial})`` feeds it, ``parts.compact``
folds it with :func:`merge_states`). Merge-on-read sums
per-key weights across parts relationally (explode → sum → MG trim) —
the mergeable-summaries theorem (Agarwal et al. 2013) gives the
combined summary the same guarantee as a single pass: every key with
true count > N/(counters+1) survives, and every reported weight is a
lower bound undercounting by at most N/(counters+1).

Everything is JVM-side DataFrame ops — the trim is a rank window
partitioned by the group keys plus a per-group cut join, never a
Python row path.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from clickhouse_realtime_analytics_demo_spark.streaming import parts as store


def _trim(counts: DataFrame, keys: list[str], counters: int) -> DataFrame:
    """MG trim per group: subtract the (counters+1)-th largest weight
    from every counter and keep the positive ones. Input/output:
    (keys..., child, w). Deterministic tie-break (w desc, child asc).
    """
    w = Window.partitionBy(*keys).orderBy(F.col("w").desc(), F.col("child").asc())
    # The cut rides a second window over the SAME partition spec —
    # Catalyst computes both in one WindowExec on one exchange; no
    # groups-sized join/broadcast anywhere.
    wall = Window.partitionBy(*keys).rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    ranked = counts.withColumn("_r", F.row_number().over(w)).withColumn(
        "_cut",
        F.max(F.when(F.col("_r") == counters + 1, F.col("w"))).over(wall),
    )
    return (
        ranked.filter(F.col("_r") <= counters)
        .withColumn("w", F.col("w") - F.coalesce(F.col("_cut"), F.lit(0)))
        .filter(F.col("w") > 0)
        .drop("_r", "_cut")
    )


def topk_partial(
    batch: DataFrame, keys: list[str], child: str, counters: int = 2048
) -> DataFrame:
    """One MG-summary row per group for this micro-batch: exact
    (keys, child) counts trimmed to ``counters`` — an exact count map
    when the batch's per-group child cardinality fits ``counters``
    (the common micro-batch case), a true MG summary beyond it."""
    counts = (
        batch.filter(F.col(child).isNotNull())
        .groupBy(*keys, F.col(child).cast("string").alias("child"))
        .agg(F.count("*").alias("w"))
    )
    trimmed = _trim(counts, keys, counters)
    return trimmed.groupBy(*keys).agg(
        F.map_from_entries(F.collect_list(F.struct("child", "w"))).alias("topk_mg")
    )


def merge_states(
    parts: DataFrame, keys: list[str], counters: int = 2048
) -> DataFrame:
    """topKMerge: fold any number of summary rows per group into one.
    Relational merge — explode the maps, sum per (group, child), MG
    trim — so it distributes like any aggregation and never holds a
    group's summaries in one task's Python heap."""
    exploded = parts.select(*keys, F.explode("topk_mg").alias("child", "w"))
    summed = exploded.groupBy(*keys, "child").agg(F.sum("w").alias("w"))
    trimmed = _trim(summed, keys, counters)
    return trimmed.groupBy(*keys).agg(
        F.map_from_entries(F.collect_list(F.struct("child", "w"))).alias("topk_mg")
    )


def read_topk(
    spark: SparkSession,
    state_path: str,
    keys: list[str],
    k: int,
    counters: int = 2048,
) -> DataFrame:
    """Merge-on-read final: top-k children per group with their
    (lower bound, undercount ≤ N/(counters+1)) weights."""
    parts = store.read_live(spark, state_path)
    merged = merge_states(parts, keys, counters)
    entries = merged.select(*keys, F.explode("topk_mg").alias("child", "w"))
    w = Window.partitionBy(*keys).orderBy(F.col("w").desc(), F.col("child").asc())
    return (
        entries.withColumn("rnk", F.row_number().over(w).cast("int"))
        .filter(F.col("rnk") <= k)
        .withColumnRenamed("w", "est_count")
        .orderBy(*keys, "rnk")
    )
