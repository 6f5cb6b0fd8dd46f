"""Mergeable APPROXIMATE quantile state — the ClickHouse
``quantileTDigestState`` / ``quantileTDigestMerge`` analog
(the AggregateFunction pattern of reference
`init-scripts/01-create-tables.sql:119-132`, applied to the
quantile member ClickHouse ships for continuous domains).

Why this exists next to ``quantile_state.py`` (VERDICT r11 #3): the
exact histogram state is bounded by DOMAIN cardinality — right for
money-in-cents, unbounded for continuous/high-cardinality domains a
100 TB pipeline will hit. The t-digest is bounded by construction:
O(compression) centroids per group regardless of row count, with
rank error ~O(1/compression), tightest at the tails (Dunning &
Ertl, "Computing extremely accurate quantiles using t-digests").

State = per-group centroid arrays ``(means array<double>, weights
array<double>, vmin, vmax)``, one part per micro-batch in a
``streaming/parts.py`` store (the idempotent ``b=<id>`` replay
contract every streaming store shares); ``parts.compact`` folds it
with :func:`merge_states`.

Execution split (Spark-first):
- digest BUILD is per-partition ``mapInPandas`` (Arrow-batched
  numpy sort + one greedy pass) — the classic combiner shape: each
  task emits O(compression) centroids per group it saw, never raw
  rows, so the shuffle moves sketches, not data;
- digest MERGE is ``applyInPandas`` per group over summary rows —
  input is O(parts × compression), bounded;
- QUANTILE EXTRACTION is fully relational: explode centroids, one
  group-keyed window pair (cumulative + total weight), midpoint
  interpolation via ``lead`` + ``max_by`` — JVM-side, codegen'd.

Scale function: k1, k(q) = (δ/2π)·asin(2q−1) — centroid capacity
shrinks toward the tails, which is where analytics quantiles
(p95/p99) live.
"""

from __future__ import annotations

import math

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from clickhouse_realtime_analytics_demo_spark.streaming import parts as store

DEFAULT_COMPRESSION = 200

_SUMMARY_FIELDS = [
    T.StructField("means", T.ArrayType(T.DoubleType()), False),
    T.StructField("weights", T.ArrayType(T.DoubleType()), False),
    T.StructField("vmin", T.DoubleType(), False),
    T.StructField("vmax", T.DoubleType(), False),
]


def _compress(
    means: np.ndarray, weights: np.ndarray, compression: int
) -> tuple[np.ndarray, np.ndarray]:
    """One merging-digest pass: greedily fuse sorted centroids while
    the running quantile span stays within the k1 scale budget.
    Deterministic for a given (sorted) input."""
    # lexsort on (mean, weight): stable argsort on mean alone would
    # leave equal-mean centroids in arrival order, which varies with
    # shuffle row order — the determinism gate runs every registered
    # query twice and hash-compares
    order = np.lexsort((weights, means))
    m, w = means[order].astype(float), weights[order].astype(float)
    total = float(w.sum())
    if len(m) <= 1 or total <= 0:
        return m, w
    out_m: list[float] = []
    out_w: list[float] = []
    k_of = lambda q: compression / (2 * math.pi) * math.asin(2 * q - 1)  # noqa: E731
    q_of = lambda k: (math.sin(2 * math.pi * k / compression) + 1) / 2  # noqa: E731
    w_done = 0.0
    cur_m, cur_w = m[0], w[0]
    # capacity limit from the current cluster's left quantile edge:
    # merge while cum weight stays under q(k(q_left) + 1)·total
    limit = total * q_of(k_of(1e-12) + 1)
    for i in range(1, len(m)):
        proposed = cur_w + w[i]
        if w_done + proposed <= limit and proposed <= total:
            # fuse: weighted mean update keeps the centroid exact
            cur_m = (cur_m * cur_w + m[i] * w[i]) / proposed
            cur_w = proposed
        else:
            out_m.append(cur_m)
            out_w.append(cur_w)
            w_done += cur_w
            q_left = min(1.0 - 1e-12, max(1e-12, w_done / total))
            limit = total * q_of(min(compression / 4.0, k_of(q_left) + 1))
            cur_m, cur_w = m[i], w[i]
    out_m.append(cur_m)
    out_w.append(cur_w)
    return np.asarray(out_m), np.asarray(out_w)


def _summary_schema(batch: DataFrame, keys: list[str]) -> T.StructType:
    key_fields = [batch.schema[k] for k in keys]
    return T.StructType(list(key_fields) + _SUMMARY_FIELDS)


def tdigest_partial(
    batch: DataFrame,
    keys: list[str],
    value,
    compression: int = DEFAULT_COMPRESSION,
) -> DataFrame:
    """One digest row per group for this micro-batch. Two levels:
    per-partition partial digests (mapInPandas — no shuffle of raw
    rows), then the per-group merge. Output: (keys…, means, weights,
    vmin, vmax)."""
    src = batch.select(*keys, value.cast("double").alias("_v")).filter(
        F.col("_v").isNotNull()
    )
    schema = _summary_schema(src, keys)

    def build(batches):
        for pdf in batches:
            if pdf.empty:
                continue
            rows = []
            for key_vals, grp in pdf.groupby(keys, sort=False, dropna=False):
                v = grp["_v"].to_numpy(dtype=float)
                m, w = _compress(v, np.ones_like(v), compression)
                if not isinstance(key_vals, tuple):
                    key_vals = (key_vals,)
                rows.append(
                    (*key_vals, list(m), list(w), float(v.min()), float(v.max()))
                )
            yield pd.DataFrame(rows, columns=[*keys, "means", "weights", "vmin", "vmax"])

    partials = src.mapInPandas(build, schema=schema)
    return merge_states(partials, keys, compression)


def merge_states(
    parts: DataFrame, keys: list[str], compression: int = DEFAULT_COMPRESSION
) -> DataFrame:
    """tDigestMerge: fold any number of summary rows per group into
    one — concatenate centroids, one compress pass. Input per group is
    O(parts × compression), never row-count-sized."""
    schema = _summary_schema(parts, keys)

    def merge(pdf: pd.DataFrame) -> pd.DataFrame:
        m = np.concatenate([np.asarray(a, dtype=float) for a in pdf["means"]])
        w = np.concatenate([np.asarray(a, dtype=float) for a in pdf["weights"]])
        mm, mw = _compress(m, w, compression)
        out = pdf.iloc[:1][keys].copy()
        out["means"] = [list(mm)]
        out["weights"] = [list(mw)]
        out["vmin"] = float(pdf["vmin"].min())
        out["vmax"] = float(pdf["vmax"].max())
        return out

    return parts.groupBy(*keys).applyInPandas(merge, schema=schema)


def quantiles_from_state(
    merged: DataFrame, keys: list[str], probs: list[float]
) -> DataFrame:
    """Relational quantile estimation from digest rows: each centroid
    covers ranks (cum−w, cum]; its mass centers at mid = cum − w/2.
    The estimate for continuous rank t = p·(n−1)+1 interpolates
    linearly between the bracketing centroid midpoints, clamped to
    [vmin, vmax]. One group-keyed exchange; no Python.
    Output: (keys…, prob double, quantile double)."""
    entries = merged.select(
        *keys,
        "vmin",
        "vmax",
        F.explode(F.arrays_zip(F.col("means").alias("m"), F.col("weights").alias("w"))).alias("c"),
    ).select(*keys, "vmin", "vmax", F.col("c.m").alias("m"), F.col("c.w").alias("w"))
    ordering = [F.col("m").asc(), F.col("w").asc()]
    wcum = Window.partitionBy(*keys).orderBy(*ordering).rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    wall = Window.partitionBy(*keys).rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    wlead = Window.partitionBy(*keys).orderBy(*ordering)
    e = (
        entries.withColumn("cum", F.sum("w").over(wcum))
        .withColumn("n", F.sum("w").over(wall))
        .withColumn("mid", F.col("cum") - F.col("w") / 2 + F.lit(0.5))
        .withColumn("next_mid", F.lead("mid").over(wlead))
        .withColumn("next_m", F.lead("m").over(wlead))
    )
    picks = []
    for i, p in enumerate(probs):
        t = F.lit(float(p)) * (F.col("n") - 1) + 1
        interp = F.when(
            F.col("next_mid").isNull() | (F.col("next_mid") <= F.col("mid")),
            F.col("m"),
        ).otherwise(
            F.col("m")
            + (t - F.col("mid"))
            / (F.col("next_mid") - F.col("mid"))
            * (F.col("next_m") - F.col("m"))
        )
        # the bracketing row = last centroid whose mid ≤ t; below the
        # first mid, clamp to the group's true minimum
        picks.append(
            F.max_by(interp, F.when(F.col("mid") <= t, F.col("mid"))).alias(f"_q_{i}")
        )
    per_group = e.groupBy(*keys).agg(
        F.min("vmin").alias("_vmin"), F.max("vmax").alias("_vmax"), *picks
    )
    pairs = F.array(
        *[
            F.struct(
                F.lit(float(p)).alias("prob"),
                F.least(
                    F.col("_vmax"),
                    F.greatest(F.col("_vmin"), F.coalesce(F.col(f"_q_{i}"), F.col("_vmin"))),
                ).alias("quantile"),
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
    spark: SparkSession,
    state_path: str,
    keys: list[str],
    probs: list[float],
    compression: int = DEFAULT_COMPRESSION,
) -> DataFrame:
    """Merge-on-read over the live part set (``parts.read_live``) →
    relational quantile extraction."""
    parts = store.read_live(spark, state_path)
    return quantiles_from_state(merge_states(parts, keys, compression), keys, probs)
