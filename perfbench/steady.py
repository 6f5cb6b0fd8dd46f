"""Repeat the benchmark to judge its steadiness or its tracing overhead.

    python3 perfbench/steady.py spread live 1 2 3 4 5
    python3 perfbench/steady.py overhead dashboard 7

``spread`` runs one workload once per seed and prints, per end-to-end
metric, the median and the inter-quartile distance as a share of the
median (``statistics.quantiles(values, n=4)``). ``overhead`` runs one
seed untraced and traced and prints traced minus untraced for every
end-to-end number in the table. Runs are sequential; each is a fresh
``run.py`` process.
"""

from __future__ import annotations

import json
import statistics
import subprocess
import sys
from pathlib import Path

import metrics
import stats

RUN = Path(__file__).with_name("run.py")
SECONDS = json.loads((Path(__file__).parents[1] / "BENCHMARK.json").read_text())["run_seconds"]


def run(workload: str, seed: int, trace: int) -> tuple[dict, dict]:
    """(JSON result, table values) of one run."""
    out = subprocess.run(
        [sys.executable, str(RUN), "--workload", workload, "--seed", str(seed),
         "--seconds", str(SECONDS), "--trace", str(trace)],
        capture_output=True, text=True, check=False,
    ).stdout.strip().splitlines()
    table = {}
    for line in out[:-1]:
        parts = line.split()
        if len(parts) >= 2 and parts[0] in metrics.UNITS:
            table[parts[0]] = float(parts[1])
    return json.loads(out[-1]), table


def spread(workload: str, seeds: list[int]) -> None:
    values: dict[str, list[float]] = {}
    for seed in seeds:
        res, _ = run(workload, seed, 0)
        print(f"seed {seed}: correct={res['correct']} "
              + " ".join(f"{k}={v['value']:.4g}" for k, v in res["metrics"].items()), flush=True)
        for k, v in res["metrics"].items():
            values.setdefault(k, []).append(v["value"])
    for k, xs in values.items():
        print(f"{k:20s} median {statistics.median(xs):10.4g}  spread {stats.spread(xs):.3f}")


def overhead(workload: str, seed: int) -> None:
    _, plain = run(workload, seed, 0)
    _, traced = run(workload, seed, 1)
    for k in plain:
        if k in traced and k not in metrics.LAYERS:
            print(f"{k:20s} untraced {plain[k]:10.4g}  traced {traced[k]:10.4g}  "
                  f"overhead {traced[k] - plain[k]:+.4g} {metrics.UNITS[k]}")


if __name__ == "__main__":
    mode, workload, *rest = sys.argv[1:]
    if mode == "spread":
        spread(workload, [int(s) for s in rest])
    else:
        overhead(workload, int(rest[0]))
