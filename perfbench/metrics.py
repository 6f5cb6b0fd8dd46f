"""Metric names, units, the layer-to-end-to-end map, and the report."""

from __future__ import annotations

from dataclasses import dataclass, field

# end-to-end metrics every workload reports (the JSON line with --trace 0)
E2E_UNITS = {
    "setup_s": "s",
    "latency_p50_s": "s",
    "latency_tail_s": "s",
    "ops_per_s": "1/s",
    "peak_rss_mb": "MB",
}
E2E = list(E2E_UNITS)

# workload-specific end-to-end numbers, printed in the table only
# (the JSON line carries one metric set shared by every workload)
EXTRA_UNITS = {
    "wall_s": "s",
    "freshness_tail_s": "s",
    "read_p50_s": "s",
    "rows_per_s": "1/s",
    "insert_p50_s": "s",
    "insert_tail_s": "s",
    "error_rate": "ratio",
}

# per-layer metric -> (unit, end-to-end metrics it should move, workloads)
LAYERS: dict[str, tuple[str, str, str]] = {
    "catalog.table_calls": ("count", "latency_p50_s, ops_per_s", "dashboard; no change on corpus_prep wall_s"),
    "catalog.table_s": ("s", "latency_p50_s, ops_per_s", "dashboard"),
    "catalog.jobs": ("count", "latency_p50_s, ops_per_s", "dashboard"),
    "plans.dialect.rewrite_s": ("s", "latency_p50_s", "dashboard ad-hoc"),
    "plans.gateway.plan_s": ("s", "latency_p50_s", "dashboard ad-hoc"),
    "app.rest.self_s": ("s", "latency_p50_s", "dashboard"),
    "app.rest.response_bytes": ("bytes", "latency_p50_s", "dashboard"),
    "ops.query_log.scan_metrics_s": ("s", "latency_p50_s", "dashboard"),
    "queries.construct_s": ("s", "wall_s; latency_p50_s", "corpus_prep; dashboard"),
    "queries.construct_jobs": ("count", "wall_s; latency_p50_s", "corpus_prep; dashboard"),
    "spark.plan_s": ("s", "latency_p50_s; wall_s", "dashboard; corpus_prep"),
    "spark.action_s": ("s", "latency_p50_s; wall_s", "dashboard; corpus_prep"),
    "spark.jobs": ("count", "latency_p50_s; wall_s", "dashboard; corpus_prep"),
    "spark.stages": ("count", "latency_p50_s; wall_s", "dashboard; corpus_prep"),
    "spark.tasks": ("count", "latency_p50_s; wall_s", "dashboard; corpus_prep"),
    "spark.executor_cpu_s": ("s", "wall_s, peak_rss_mb", "corpus_prep"),
    "spark.shuffle_read_bytes": ("bytes", "wall_s, peak_rss_mb", "corpus_prep"),
    "spark.shuffle_write_bytes": ("bytes", "wall_s, peak_rss_mb", "corpus_prep"),
    "spark.spill_bytes": ("bytes", "wall_s, peak_rss_mb", "corpus_prep"),
    "spark.failed_tasks": ("count", "wall_s", "corpus_prep"),
    "spark.task_wait_s": ("s", "latency_tail_s (MV reads), insert_tail_s", "live"),
    "sources.json_ingest.insert_s": ("s", "insert_p50_s, latency_p50_s (freshness)", "live"),
    "sources.json_ingest.jobs_per_insert": ("count", "insert_p50_s, latency_p50_s (freshness)", "live"),
    "sources.writer.files_written": ("count", "insert_p50_s, latency_p50_s (freshness)", "live"),
    "sources.writer.bytes_per_user_byte": ("ratio", "insert_p50_s, latency_p50_s (freshness)", "live"),
    "streaming.mv.batches": ("count", "latency_p50_s (freshness), freshness_tail_s", "live"),
    "streaming.mv.batch_s": ("s", "latency_p50_s (freshness), freshness_tail_s", "live"),
    "streaming.mv.rows_per_batch": ("count", "latency_p50_s (freshness), freshness_tail_s", "live"),
    "streaming.mv.read_final_s": ("s", "latency_tail_s, ops_per_s (MV reads), latency_p50_s (freshness)", "live"),
    "streaming.parts.live_parts": ("count", "latency_tail_s, ops_per_s (MV reads), latency_p50_s (freshness)", "live"),
    "streaming.mv.bytes_per_source_byte": ("ratio", "latency_tail_s, ops_per_s (MV reads), latency_p50_s (freshness)", "live"),
    "generator.lateness_s": ("s", "insert_tail_s", "live; the largest lateness of the window"),
}
LAYER_NAMES = list(LAYERS)

UNITS = {**E2E_UNITS, **EXTRA_UNITS, **{k: v[0] for k, v in LAYERS.items()}}


@dataclass
class Report:
    setup_s: float = 0.0  # the workload's share of set-up (after session build)
    e2e: dict[str, float] = field(default_factory=dict)
    layers: dict[str, float] = field(default_factory=dict)
    attempted: int = 0
    failed: int = 0
    problems: list[str] = field(default_factory=list)  # first few failures
    notes: list[str] = field(default_factory=list)  # schedule, tail percentiles

    def fail(self, what: str) -> None:
        self.failed += 1
        if len(self.problems) < 20:
            self.problems.append(what)


def print_table(workload: str, report: Report, out) -> None:
    rate = report.failed / report.attempted if report.attempted else 0.0
    rows = [(k, v) for k, v in report.e2e.items()] + [("error_rate", rate)]
    print(f"# perfbench {workload}: attempted={report.attempted} failed={report.failed}", file=out)
    for k, v in rows:
        print(f"{k:40s} {v:14.6g} {UNITS.get(k, '')}", file=out)
    for k, v in report.layers.items():
        print(f"{k:40s} {v:14.6g} {UNITS.get(k, '')}", file=out)
    for note in report.notes:
        print(f"note: {note}", file=out)
    for p in report.problems:
        print(f"FAIL: {p}", file=out)
