"""Mergeable quantile state — the ClickHouse ``quantileExactState`` /
``quantileExactMerge`` analog over integer-valued domains.

State = per-group value histogram stored as ``map<long,long>``
(distinct value → count), one part per micro-batch in a
``streaming/parts.py`` store (the idempotent ``b=<id>`` replay
contract every streaming store shares). Merging is plain per-value count
addition, so any batching/ordering of the stream yields the identical
merged multiset — quantiles read from state are EXACT, not sketches
(ClickHouse's quantileExactState holds every value; this holds every
DISTINCT value, strictly smaller).

Boundedness contract: the state is bounded by the DOMAIN cardinality,
not the row count — right for money-in-cents, durations, sizes,
levels; for unbounded real domains pre-bucket the value (a width-w
``floor(v/w)`` column) and accept ≤ w/2 value error, or use the
``percentile_approx`` sketch path (``order_value_quantiles_approx``).

Quantile definition: the pinned nearest-rank form shared with
``operators/quantiles.py`` — value at rank ``floor(p*(n-1)) + 1`` of
the sorted multiset, computed relationally from the histogram's
cumulative sum (both windows share one group-keyed exchange, never
unpartitioned).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from clickhouse_realtime_analytics_demo_spark.streaming import parts as store

_COL = "hist"


def hist_partial(batch: DataFrame, keys: list[str], value) -> DataFrame:
    """One histogram row per group for this micro-batch. ``value``
    must be an integer-typed Column expression (the domain contract
    above)."""
    counts = (
        batch.select(*keys, value.cast("long").alias("bucket"))
        .filter(F.col("bucket").isNotNull())
        .groupBy(*keys, "bucket")
        .agg(F.count("*").alias("w"))
    )
    return counts.groupBy(*keys).agg(
        F.map_from_entries(F.collect_list(F.struct("bucket", "w"))).alias(_COL)
    )


def _sum_entries(parts: DataFrame, keys: list[str]) -> DataFrame:
    """Merged (keys..., bucket, w) entries: per-value count addition
    across parts — the merge itself, before any map materialization."""
    exploded = parts.select(*keys, F.explode(_COL).alias("bucket", "w"))
    return exploded.groupBy(*keys, "bucket").agg(F.sum("w").alias("w"))


def merge_states(parts: DataFrame, keys: list[str]) -> DataFrame:
    """quantileExactMerge producing STORABLE state (the compaction
    write path). Read-only consumers should use ``quantiles_from_state``
    on the parts directly — it skips re-materializing the map just to
    explode it again."""
    return _sum_entries(parts, keys).groupBy(*keys).agg(
        F.map_from_entries(F.collect_list(F.struct("bucket", "w"))).alias(_COL)
    )


def quantiles_from_state(
    merged: DataFrame, keys: list[str], probs: list[float]
) -> DataFrame:
    """Nearest-rank quantiles from summary rows (state parts OR a
    merged frame — any mix re-merges by count addition): cumulative
    and total windows over ONE group-keyed exchange, then for each p
    the smallest value whose cumulative count reaches rank
    floor(p*(n-1))+1. Output: (keys..., prob double, quantile long)."""
    entries = _sum_entries(merged, keys)
    wcum = Window.partitionBy(*keys).orderBy("bucket").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    wall = Window.partitionBy(*keys).rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    e = entries.withColumn("cum", F.sum("w").over(wcum)).withColumn(
        "n", F.sum("w").over(wall)
    )
    picks = [
        F.min(
            F.when(
                F.col("cum")
                >= F.floor(F.lit(float(p)) * (F.col("n") - 1)).cast("long") + 1,
                F.col("bucket"),
            )
        ).alias(f"_q_{i}")
        for i, p in enumerate(probs)
    ]
    per_group = e.groupBy(*keys).agg(*picks)
    pairs = F.array(
        *[
            F.struct(
                F.lit(float(p)).alias("prob"), F.col(f"_q_{i}").alias("quantile")
            )
            for i, p in enumerate(probs)
        ]
    )
    return (
        per_group.select(*keys, F.explode(pairs).alias("pq"))
        .select(*keys, F.col("pq.prob").alias("prob"), F.col("pq.quantile").alias("quantile"))
        .orderBy(*keys, "prob")
    )


def read_quantiles(
    spark: SparkSession, state_path: str, keys: list[str], probs: list[float]
) -> DataFrame:
    # quantiles_from_state re-merges entries itself, so the live parts
    # feed it directly — no map re-materialization.
    parts = store.read_live(spark, state_path)
    return quantiles_from_state(parts, keys, probs)
