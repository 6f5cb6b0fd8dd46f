"""``corpus_prep``: passes over the engine's LLM-data batch jobs.

Each pass runs the eight jobs below in a seeded order, each as
``all_queries()[name].fn(spark, sf)`` then ``.collect()``; the pass
time runs from the first call to the last result. The ANN stores the
two ``*_stored``-family jobs read are deleted and rebuilt during set-up
(runs are always cold; the stores live under the checkout's
git-ignored ``spark-warehouse/{quantized,ivf_quantized}_embeddings/``,
keyed by the dataset path, and are removed again at exit). One
untimed pass warms the JVM; the number of measured passes is sized
from ``--seconds`` with the pass time measured at this commit.

Checks: jobs with a registered DuckDB oracle must match it exactly
after the normalisation the repository's tests use
(``tests/conftest.py``: columns sorted by name, cells normalised, rows
sorted); the others must match the sorted-row digest
pinned in ``pins.json`` for the benchmark dataset.
"""

from __future__ import annotations

import hashlib
import json
import random
import shutil
import time
from pathlib import Path

import metrics
import stats
from tests.conftest import duck_connection, normalize

JOBS = (
    "dedup_minhash",
    "corpus_prep_pipeline_lsh",
    "doc_bpe_train_batched",
    "doc_tfidf_topk",
    "doc_token_heavy_hitters",
    "contamination_check",
    "ann_cosine_topk_int8_stored",
    "ann_ivf_topk_rerank",
)
PASS_S = 23.0  # one warm pass at this commit, 4 cores
PINS = Path(__file__).with_name("pins.json")


def digest(rows, cols) -> str:
    return hashlib.sha256(repr(normalize(rows, cols)).encode()).hexdigest()


class Checker:
    def __init__(self, data_dir):
        from clickhouse_realtime_analytics_demo_spark.queries import all_queries

        qs = all_queries()
        pins = json.loads(PINS.read_text()) if PINS.exists() else {}
        self.want: dict[str, tuple[str, object]] = {}
        con = duck_connection(str(data_dir))
        for name in JOBS:
            if qs[name].oracle is not None:
                res = con.sql(qs[name].oracle)
                self.want[name] = ("oracle", normalize(res.fetchall(), res.columns))
            else:
                self.want[name] = ("digest", pins.get(f"{data_dir.name}/{name}"))

    def check(self, name, rows, cols) -> str | None:
        kind, want = self.want[name]
        got = normalize(rows, cols) if kind == "oracle" else digest(rows, cols)
        if got != want:
            return f"{name}: result differs from its {kind}"
        return None


def drop_stores(data_dir) -> None:
    from clickhouse_realtime_analytics_demo_spark.sources import quantized

    for path in (quantized.store_path(str(data_dir)), quantized.ivf_store_path(str(data_dir))):
        shutil.rmtree(path, ignore_errors=True)


def run(ctx) -> metrics.Report:
    from clickhouse_realtime_analytics_demo_spark.queries import all_queries
    from clickhouse_realtime_analytics_demo_spark.sources import quantized

    rep = metrics.Report()
    spark, sf = ctx.spark, str(ctx.data_dir)
    qs = all_queries()
    checker = Checker(ctx.data_dir)
    rng = random.Random(ctx.seed)
    passes = max(2, round(ctx.seconds / PASS_S))
    plan = [rng.sample(JOBS, len(JOBS)) for _ in range(passes)]
    if ctx.tracer is not None:
        from clickhouse_realtime_analytics_demo_spark import catalog

        ctx.tracer.patch(catalog.table, "catalog.table")
        ctx.tracer.patch_query_fns(qs)

    try:
        t0 = time.perf_counter()
        drop_stores(ctx.data_dir)
        quantized.ensure_store(spark, sf)
        quantized.ensure_ivf_store(spark, sf)
        for name in random.Random(-1 - ctx.seed).sample(JOBS, len(JOBS)):
            problem = checker.check(name, *_collect(qs[name].fn(spark, sf)))
            if problem:
                rep.problems.append(f"warm-up {problem}")
        rep.setup_s = time.perf_counter() - t0

        lat, walls, held = [], [], []
        k = 0
        for jobs in plan:
            p0 = time.perf_counter()
            for name in jobs:
                op = f"pb.c.{k}"
                k += 1
                ctx.set_op(op)
                a = time.perf_counter()
                df = qs[name].fn(spark, sf)
                rows, cols = _collect(df)
                lat.append(time.perf_counter() - a)
                held.append((op, df))
                rep.attempted += 1
                problem = checker.check(name, rows, cols)
                if problem:
                    rep.fail(problem)
            walls.append(time.perf_counter() - p0)
    finally:
        drop_stores(ctx.data_dir)

    rep.e2e.update({
        "latency_p50_s": stats.median(lat),
        "latency_tail_s": max(lat),
        "ops_per_s": len(lat) / sum(walls),
        "wall_s": stats.median(walls),
    })
    rep.notes.append(
        f"{passes} passes x {len(JOBS)} jobs; {len(lat)} jobs are too few for the "
        f"tail rule, latency_tail_s is the slowest job")
    if ctx.tracer is not None:
        rep.layers = job_layers(ctx, held, sum(lat))
    return rep


def _collect(df):
    return [tuple(r) for r in df.collect()], df.columns


def job_layers(ctx, held, busy_s: float) -> dict[str, float]:
    from tracing import op_layers

    for op, df in held:
        ctx.tracer.set_op(op)  # attribute each plan's phases to its job
        ctx.tracer.note_plan(df)
    out = op_layers(ctx.spark, ctx.tracer, {op for op, _ in held})
    # fn() to last row, minus construction: the collect action
    out["spark.action_s"] = busy_s - out["queries.construct_s"]
    return out


def pin(ctx) -> None:
    """Record the digests of the oracle-less jobs for this dataset."""
    from clickhouse_realtime_analytics_demo_spark.queries import all_queries

    qs = all_queries()
    pins = json.loads(PINS.read_text()) if PINS.exists() else {}
    try:
        for name in JOBS:
            if qs[name].oracle is None:
                rows = _collect(qs[name].fn(ctx.spark, str(ctx.data_dir)))
                pins[f"{ctx.data_dir.name}/{name}"] = digest(*rows)
    finally:
        drop_stores(ctx.data_dir)
    PINS.write_text(json.dumps(pins, indent=1, sort_keys=True) + "\n")
