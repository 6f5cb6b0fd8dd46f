"""sparkhouse benchmark: one command, three workloads, checked outputs.

    python3 perfbench/run.py --workload dashboard --seed 1 --seconds 20 --trace 0

Workloads (``--workload``):

- ``dashboard``: one closed-loop client polling the dashboard and live
  REST routes plus ClickHouse-dialect ad-hoc POSTs, through
  ``create_app(...).test_client()``; every response is checked against
  DuckDB.
- ``live``: an open-loop NDJSON insert generator posting to
  ``/api/insert/*`` while the MV maintenance streams and their
  Compactor run, and one poller reads the five MVs; measures insert
  latency and ingest-to-MV freshness from outside.
- ``corpus_prep``: passes over eight LLM-data jobs in a seeded order,
  each result checked against its oracle or a pinned digest. A run
  takes about 100 s on 4 cores (cold ANN stores, one warm-up pass, two
  measured passes), twice the others, so BENCHMARK.json lists only the
  first two: repeated runs of all three would not fit in an hour.

``--trace 1`` installs the span wrappers and Spark counters of
``tracing.py`` and reports the per-layer metrics of ``metrics.LAYERS``,
which also records the end-to-end metric each layer metric should move.

The benchmark generates its own sf0.1-shaped dataset (``datagen.py``)
into ``perfbench/.cache`` on first use and pins its own environment
(PYTHONPATH, CPUs, driver memory, data dir, temp dirs); the caller sets
nothing. Each run works in a fresh directory under ``perfbench/.cache``
and removes it at exit.

``--seed`` drives request order, ad-hoc parameters and ingest rows, never
the dataset. Seed 9001 is held out: no run used while writing or tuning
the benchmark used it, so a later performance claim can be re-checked
on it.

A human-readable table goes to stdout, then, as the last line, one JSON
object ``{"correct", "attempted", "failed", "metrics"}``: the
end-to-end metrics with ``--trace 0``, the per-layer metrics with
``--trace 1``. The exit code is 1 when any output was wrong, 2 when the
engine or an input is missing.
"""

from __future__ import annotations

import argparse
import importlib
import json
import os
import shutil
import subprocess
import sys
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
ENGINE = "clickhouse_realtime_analytics_demo_spark"
WORKLOADS = ("dashboard", "live", "corpus_prep")


def pin_environment(run_dir: Path, data_dir: Path) -> int:
    """Everything the engine reads from the environment, set here so a
    run never depends on the caller's shell. Returns the CPU count."""
    cpus = len(os.sched_getaffinity(0))
    # a quarter of host memory for the driver heap, 2-3 GiB: the LSH
    # prep checkpoints need more than the 1 GiB default, and the
    # engine's own 48g default overcommits small hosts
    host_mb = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") // 2**20
    mem_mb = min(3072, max(2048, host_mb // 4))
    tmp = run_dir / "tmp"
    local = run_dir / "spark-local"
    for d in (tmp, local):
        d.mkdir(parents=True, exist_ok=True)
    path = [str(ROOT)] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    os.environ.update({
        # Python UDF workers import the engine package by name
        "PYTHONPATH": os.pathsep.join(path),
        "SPARK_GRAFT_CPUS": str(cpus),
        "SPARK_GRAFT_DRIVER_MEM": f"{mem_mb}m",
        # session sizing reads the data dir's size
        "SPARK_GRAFT_SF_DIR": str(data_dir),
        "SPARK_LOCAL_DIRS": str(local),
        "TMPDIR": str(tmp),
        # -UsePerfData: HotSpot would otherwise write /tmp/hsperfdata_*
        "JAVA_TOOL_OPTIONS": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        "TZ": "UTC",
        "PYSPARK_PYTHON": sys.executable,
    })
    os.environ.pop("SPARK_GRAFT_INITIAL_SHUFFLE", None)
    os.environ.pop("SPARK_GRAFT_SHUFFLE", None)
    time.tzset()
    if str(ROOT) not in sys.path:
        sys.path.insert(0, str(ROOT))
    return cpus


def start_spark(cpus: int):
    from clickhouse_realtime_analytics_demo_spark.session import get_spark

    return get_spark(
        app_name="perfbench",
        cpus=cpus,
        shuffle_partitions=cpus,
        extra_conf={
            "spark.ui.showConsoleProgress": "false",
            # keep every job of a run in the status store for the
            # traced read-back (set in both modes: same session)
            "spark.ui.retainedJobs": "100000",
            "spark.ui.retainedStages": "100000",
        },
    )


def stop_spark(spark) -> None:
    """Stop Spark and wait for its JVM to exit."""
    from py4j.protocol import Py4JError
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    try:
        gateway.shutdown()
    except Py4JError:  # already closed
        pass
    if proc is not None:
        try:
            proc.stdin.close()  # the gateway JVM exits when its stdin closes
        except OSError:
            pass
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def peak_rss_mb() -> float:
    """Peak resident set (VmHWM) of this Python process plus its JVM."""
    from pyspark import SparkContext

    pids = [os.getpid()]
    proc = getattr(SparkContext._gateway, "proc", None)
    if proc is not None:
        pids.append(proc.pid)
    total_kb = 0
    for pid in pids:
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith("VmHWM:"):
                    total_kb += int(line.split()[1])
    return total_kb / 1024.0


class Context:
    """What a workload gets: paths, seed, budget, Spark, the tracer."""

    def __init__(self, args, run_dir: Path, data_dir: Path, spark, tracer):
        self.seed = args.seed
        self.seconds = args.seconds
        self.run_dir = run_dir
        self.data_dir = data_dir
        self.spark = spark
        self.tracer = tracer

    def set_op(self, op: str) -> None:
        if self.tracer is not None:
            self.tracer.set_op(op)


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--data", type=Path,
                    help="read this directory's ten tables instead of the generated "
                         "dataset (to compare profiles with another copy of the data)")
    ap.add_argument("--pin", action="store_true",
                    help="corpus_prep only: record the result digests in pins.json")
    args = ap.parse_args(argv)

    if not (ROOT / ENGINE / "__init__.py").is_file():
        print(f"engine package {ENGINE}/ not found next to perfbench/", file=sys.stderr)
        return 2

    import metrics
    from datagen import build

    cache = HERE / ".cache"
    data_dir = args.data.resolve() if args.data else build(cache)
    run_dir = cache / f"run-{os.getpid()}-{time.time_ns()}"
    run_dir.mkdir(parents=True)
    cpus = pin_environment(run_dir, data_dir)
    workload = importlib.import_module(args.workload)

    spark = None
    try:
        t0 = time.perf_counter()
        spark = start_spark(cpus)
        session_s = time.perf_counter() - t0
        tracer = None
        if args.trace:
            from tracing import Tracer

            tracer = Tracer(spark)
        ctx = Context(args, run_dir, data_dir, spark, tracer)
        if args.pin:
            workload.pin(ctx)
            return 0
        report = workload.run(ctx)
        report.e2e["setup_s"] = session_s + report.setup_s
        report.e2e["peak_rss_mb"] = peak_rss_mb()
        if tracer is not None:
            tracer.restore()
            tracer.dump(cache / f"spans-{args.workload}-seed{args.seed}.jsonl")
    finally:
        if spark is not None:
            stop_spark(spark)
        shutil.rmtree(run_dir, ignore_errors=True)

    correct = report.failed == 0 and not report.problems
    names = metrics.LAYER_NAMES if args.trace else metrics.E2E
    values = report.layers if args.trace else report.e2e
    metrics.print_table(args.workload, report, sys.stdout)
    print(json.dumps({
        "correct": correct,
        "attempted": int(report.attempted),
        "failed": int(report.failed),
        "metrics": {n: {"value": float(values.get(n, 0.0)), "unit": metrics.UNITS[n]}
                    for n in names},
    }))
    sys.stdout.flush()
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
