"""``live``: inserts stream in while the MVs are maintained and read.

- Ingest: an open-loop generator, one sender thread per table, POSTs
  seeded NDJSON batches to ``/api/insert/events`` and
  ``/api/insert/orders`` (the reference's ``INSERT ... FORMAT
  JSONEachRow`` path) on a fixed schedule (``SCHEDULE``). Payloads are
  built before the window opens; an insert's creation time is its due
  time, and a sender that is still busy starts the next insert late.
- Maintenance: ``streaming.mv.maintenance`` per source table, with its
  Compactor, over a fresh lake seeded with history.
- Reads: one poller thread reads the five MVs round-robin through
  ``mv.read_final`` (re-aggregated, then summed to the visible row
  count).

The run's three shared metrics:

- ``latency_p50_s`` is the median freshness, measured from outside per
  (insert, MV): the completion time of the first read of that MV whose
  visible total covers the insert's cumulative row count, minus the
  insert's due time. The median MV read is not used: reads under bursty
  ingest are bimodal (a read either overlaps an insert or a micro-batch
  or it does not), and their median moved 21% between seeds where
  freshness moved 14%.
- ``latency_tail_s`` is the tail of MV-read latency under load (40 to
  150 reads in a 20 s window, so p73 to p93). A 20 s window holds only 19
  (insert, MV) pairs, too few for a freshness tail: by the tail rule
  that would be p47, a second median. It is printed as
  ``freshness_tail_s`` with its percentile, not used as a gate.
- ``ops_per_s`` is MV reads completed per second under load. Inserted
  rows per second are set by the schedule (an infinitely fast engine
  moves them by less than a fifth), so they are not used.

After the window, the poller keeps reading until every MV covers
everything sent (the drain); then each MV's ``read_final`` must equal
``batch_equivalent`` over the lake, and the event and order totals
must equal the rows sent.

Schedule: one insert costs 1-1.5 s on 4 idle cores and 2.5-4 s when
the host is slow, almost independent of batch size, so batches are
large and spaced, as the reference's generator does with 500-5000 row
batches. At one insert every 2 s the sender fell behind (lateness up
to 3.8 s in 20 s); at one every 3 s, alternating tables, lateness
stayed under 10 ms in every run at this commit.
"""

from __future__ import annotations

import json
import random
import threading
import time
from datetime import datetime, timedelta
from pathlib import Path

import metrics
import stats

# table -> (rows per insert, seconds between inserts, first due offset)
SCHEDULE = {"events": (2000, 6.0, 0.0), "orders": (500, 6.0, 3.0)}
SEED_EVENTS, SEED_ORDERS = 20_000, 4_000
# the Compactor folds an MV once it holds more than MAX_PARTS live parts;
# at 4 it folds each MV about twice per 20 s window
MAX_PARTS, COMPACT_INTERVAL_S, TRIGGER_S = 4, 5.0, 1.0
DRAIN_LIMIT_S = 60.0
MV_COUNT_COL = {
    "daily_user_activity": "total_events",
    "mv_user_funnel": "total_events",
    "mv_hourly_events": "event_count",
    "mv_country_stats": "event_count",
    "mv_product_revenue": "order_count",
}
EVENT_TYPES = ["page_view"] * 8 + ["click"] * 4 + ["search", "add_to_cart", "purchase", "login", "signup"]
COUNTRIES = ["US", "UK", "DE", "FR", "CA", "AU", "JP", "BR", "IN", "RU"]
T0 = datetime(2024, 1, 1)


def event_rows(rng: random.Random, first_id: int, n: int) -> str:
    lines = []
    for i in range(first_id, first_id + n):
        ts = T0 + timedelta(seconds=rng.randrange(90 * 86400))
        user = rng.randint(1, 1000)
        et = rng.choice(EVENT_TYPES)
        row = {
            "event_id": i, "user_id": user, "event_type": et,
            "event_timestamp": ts.isoformat(), "page_url": f"/page/{rng.randrange(100)}",
            "session_id": f"sess-{user}-{int(ts.timestamp()) // 300}",
            "device_type": rng.choice(["desktop", "mobile", "tablet"]),
            "browser": rng.choice(["Chrome", "Firefox", "Safari", "Edge", "Opera"]),
            "country": rng.choice(COUNTRIES), "duration_seconds": rng.randrange(3600),
        }
        if et == "purchase":
            row["revenue"] = round(rng.uniform(1, 500), 2)
        lines.append(json.dumps(row))
    return "\n".join(lines)


def order_rows(rng: random.Random, first_id: int, n: int) -> str:
    lines = []
    for i in range(first_id, first_id + n):
        ts = T0 + timedelta(seconds=rng.randrange(90 * 86400))
        qty = rng.randint(1, 5)
        lines.append(json.dumps({
            "order_id": i, "user_id": rng.randint(1, 1000), "product_id": rng.randint(1, 1000),
            "quantity": qty, "order_timestamp": ts.isoformat(),
            "total_amount": round(qty * rng.uniform(5, 500), 2),
            "status": rng.choice(["completed"] * 15 + ["pending"] * 3 + ["cancelled", "refunded"]),
            "payment_method": rng.choice(["credit_card", "paypal", "bank_transfer", "apple_pay"]),
        }))
    return "\n".join(lines)


def plan_inserts(seed: int, seconds: float, first_id: int = 10_000_000
                 ) -> dict[str, list[tuple[float, int, str]]]:
    """table -> [(due offset, rows, NDJSON)] for a window of ``seconds``.
    Ids start above the seeded history's."""
    rng = random.Random(seed)
    out: dict[str, list] = {}
    for table, (rows, period, first) in SCHEDULE.items():
        make = event_rows if table == "events" else order_rows
        out[table] = [
            (first + k * period, rows, make(rng, first_id + k * rows, rows))
            for k in range(int((seconds - first) // period) + 1)
            if first + k * period < seconds
        ]
    return out


def _files(path: Path) -> dict[str, int]:
    return {str(p): p.stat().st_size for p in path.rglob("*.parquet")} if path.exists() else {}


def _dir_bytes(path: Path) -> int:
    return sum(p.stat().st_size for p in path.rglob("*") if p.is_file())


class Live:
    def __init__(self, ctx):
        from clickhouse_realtime_analytics_demo_spark.streaming import mv

        self.ctx = ctx
        self.spark = ctx.spark
        self.lake = ctx.run_dir / "lake"
        self.mv_root = ctx.run_dir / "mv"
        self.specs = mv.mv_specs()
        self.reads: list[tuple[str, float, float, int]] = []  # (mv, t0, t1, visible)
        self.sent: list[dict] = []
        self.stop_reads = threading.Event()
        self.errors: list[str] = []
        self.lock = threading.Lock()

    # ---- reads ----
    def visible(self, name: str) -> int:
        from pyspark.sql import functions as F

        from clickhouse_realtime_analytics_demo_spark.streaming import mv

        df = mv.read_final(self.spark, str(self.mv_root / name), self.specs[name])
        return int(df.agg(F.sum(MV_COUNT_COL[name])).collect()[0][0] or 0)

    def poller(self) -> None:
        self.spark.sparkContext.setLocalProperty("spark.scheduler.pool", "dashboard")
        names = list(MV_COUNT_COL)
        k = 0
        while not self.stop_reads.is_set():
            name = names[k % len(names)]
            self.ctx.set_op(f"pb.l.read.{k}")
            k += 1
            a = time.perf_counter()
            try:
                n = self.visible(name)
            except Exception as exc:  # noqa: BLE001 — counted as a failed read
                with self.lock:
                    self.errors.append(f"read {name}: {str(exc).splitlines()[0][:200]}")
                continue
            self.reads.append((name, a, time.perf_counter(), n))

    # ---- inserts ----
    def sender(self, table: str, plan, start: float, record: bool = True) -> None:
        client = self.app.test_client()
        self.spark.sparkContext.setLocalProperty("spark.scheduler.pool", "ingest")
        for k, (due, rows, body) in enumerate(plan):
            wait = start + due - time.perf_counter()
            if wait > 0:
                time.sleep(wait)
            self.ctx.set_op(f"pb.l.{'ins' if record else 'warm'}.{table}.{k}")
            t0 = time.perf_counter()
            resp = client.post(f"/api/insert/{table}", data=body, content_type="application/x-ndjson")
            t1 = time.perf_counter()
            ok = resp.status_code == 200 and (resp.get_json(silent=True) or {}).get("rows") == rows
            with self.lock:
                if not record:
                    if not ok:
                        self.errors.append(f"warm-up insert {table}: HTTP {resp.status_code}")
                    continue
                self.sent.append(dict(table=table, due=start + due, t0=t0, t1=t1, rows=rows,
                                      ok=ok, bytes=len(body), status=resp.status_code))

    def wait_covered(self, want: dict[str, int], limit: float) -> bool:
        """Read until every MV shows at least ``want[source]`` rows."""
        deadline = time.perf_counter() + limit
        while time.perf_counter() < deadline:
            try:
                if all(self.visible(n) >= want[self.specs[n].source] for n in MV_COUNT_COL):
                    return True
            except Exception:  # noqa: BLE001 — no micro-batch yet, or a read raced a
                pass  # compaction; retried until the deadline, which reports failure
            time.sleep(0.25)
        return False

    def drained(self, want: dict[str, int], limit: float) -> bool:
        """Wait until the poller's own reads of every MV cover ``want``."""
        deadline = time.perf_counter() + limit
        while time.perf_counter() < deadline:
            seen = {}
            for m, _, _, n in list(self.reads):
                seen[m] = max(seen.get(m, 0), n)
            if all(seen.get(m, 0) >= want[self.specs[m].source] for m in MV_COUNT_COL):
                return True
            time.sleep(0.1)
        return False


def run(ctx) -> metrics.Report:
    from clickhouse_realtime_analytics_demo_spark.app.rest import create_app
    from clickhouse_realtime_analytics_demo_spark.sources import generator, writer
    from clickhouse_realtime_analytics_demo_spark.streaming import mv

    rep = metrics.Report()
    spark = ctx.spark
    L = Live(ctx)
    plan = plan_inserts(ctx.seed, ctx.seconds)
    # one untimed insert per table, due at once, with ids of their own
    warm = {t: [(0.0, rows, body)] for t, [(_, rows, body), *_] in
            plan_inserts(-1 - ctx.seed, 4.0, first_id=9_000_000).items()}
    if ctx.tracer is not None:
        install_tracing(ctx.tracer)

    t_setup = time.perf_counter()
    L.app = create_app(spark, str(ctx.data_dir), lake_dir=str(L.lake))
    writer.write_table(generator.events(spark, n=SEED_EVENTS, n_users=1000, seed=7, partitions=4),
                       str(L.lake), "events", mode="overwrite")
    writer.write_table(generator.orders(spark, n=SEED_ORDERS, n_users=1000, seed=7, partitions=2),
                       str(L.lake), "orders", mode="overwrite")
    pipelines = []
    poll = threading.Thread(target=L.poller, name="mv-poller")
    try:
        # streams copy the starting thread's local properties: their
        # jobs run in the maintenance FAIR pool
        spark.sparkContext.setLocalProperty("spark.scheduler.pool", "maintenance")
        for source in ("events", "orders"):
            specs = [s for s in L.specs.values() if s.source == source]
            pipelines.append(mv.maintenance(
                spark, f"{L.lake}/{source}/yyyymm=*", str(L.mv_root), specs,
                str(ctx.run_dir / f"ckpt_{source}"), max_parts=MAX_PARTS,
                compact_interval_s=COMPACT_INTERVAL_S, trigger_seconds=TRIGGER_S,
                max_files_per_trigger=64))
        spark.sparkContext.setLocalProperty("spark.scheduler.pool", None)
        _run_threads([(L.sender, (t, warm[t], time.perf_counter(), False)) for t in warm])
        base = {t: n + sum(r for _, r, _ in warm[t]) for t, n in
                (("events", SEED_EVENTS), ("orders", SEED_ORDERS))}
        if not L.wait_covered(base, DRAIN_LIMIT_S):
            rep.problems.append("MVs never caught up with the seeded history")
        rep.setup_s = time.perf_counter() - t_setup

        files_before = {t: _files(L.lake / t) for t in plan}
        w0 = time.time()
        poll.start()
        start = time.perf_counter() + 0.05
        _run_threads([(L.sender, (t, plan[t], start)) for t in plan])
        window_end = max(start + ctx.seconds, time.perf_counter())
        final = {t: base[t] + sum(r for _, r, _ in plan[t]) for t in plan}
        drained = L.drained(final, DRAIN_LIMIT_S)
    finally:
        L.stop_reads.set()
        if poll.is_alive():
            poll.join()
        for query, compactor in pipelines:
            query.stop()
            compactor.stop()
    w1 = time.time()
    live_parts = sum(len(_live_parts(L.mv_root / n)) for n in MV_COUNT_COL)
    progress = [p for q, _ in pipelines for p in _progress(q)]

    # ---- checks ----
    in_window = [r for r in L.reads if r[2] <= window_end]
    rep.attempted = len(L.sent) + len(in_window) + len(L.errors)
    for s in L.sent:
        if not s["ok"]:
            rep.fail(f"insert {s['table']} -> HTTP {s['status']}")
    for e in L.errors:
        rep.fail(e)
    if not drained:
        rep.fail("MVs did not cover every inserted row within the drain limit")
    check_mvs(spark, L, final, rep)

    # ---- metrics ----
    reads = [b - a for _, a, b, _ in in_window]
    ins = [s["t1"] - s["due"] for s in L.sent]
    hits = visibility(L, plan, base, start)
    fresh = [hit - due for due, hit in hits]
    late = stats.lateness([s["due"] for s in L.sent], [s["t0"] for s in L.sent])
    p_fr, fr_tail = stats.tail(fresh)
    p_rd, rd_tail = stats.tail(reads)
    # a window holds few inserts; below the rule's minimum the tail is
    # reported as NaN rather than read off a handful of samples
    p_ins, ins_tail = stats.tail(ins) if len(ins) > stats.TAIL_BEYOND else (None, float("nan"))
    rows = sum(r for items in plan.values() for _, r, _ in items)
    rep.e2e.update({
        # an insert's due time until a read of an MV shows its rows
        # (per insert and MV)
        "latency_p50_s": stats.median(fresh),
        # MV reads while inserts and micro-batches run
        "latency_tail_s": rd_tail,
        "ops_per_s": len(in_window) / (window_end - start),
        "freshness_tail_s": fr_tail,
        "read_p50_s": stats.median(reads),
        "insert_p50_s": stats.median(ins),
        "insert_tail_s": ins_tail,
        "rows_per_s": rows / (max(hit for _, hit in hits) - start),
    })
    rep.notes += [
        "schedule: " + ", ".join(f"{t} {r} rows every {p:g} s from +{f:g} s"
                                 for t, (r, p, f) in SCHEDULE.items()),
        f"latency_tail_s is p{p_rd} of {len(reads)} MV reads; freshness_tail_s p{p_fr} "
        f"of {len(fresh)} (insert, MV) pairs; insert_tail_s p{p_ins} of {len(ins)} inserts",
        f"lateness p50 {stats.median(late):.3f} s, max {max(late):.3f} s; insert service s: "
        + " ".join(f"{s['table'][0]}{s['t1'] - s['t0']:.2f}" for s in sorted(L.sent, key=lambda s: s["due"])),
    ]
    if ctx.tracer is not None:
        rep.layers = live_layers(ctx, L, files_before, progress, late, live_parts, (w0, w1))
    return rep


def _run_threads(targets) -> None:
    threads = [threading.Thread(target=f, args=a) for f, a in targets]
    for t in threads:
        t.start()
    for t in threads:
        t.join()


def _live_parts(path: Path) -> list:
    from clickhouse_realtime_analytics_demo_spark.streaming import parts

    return parts.live_part_dirs(str(path)) if path.exists() else []


def _progress(query) -> list[dict]:
    out = []
    for p in query.recentProgress:
        if not isinstance(p, dict):
            p = json.loads(p.json)
        out.append(p)
    return out


def visibility(L: Live, plan, base: dict[str, int], start: float) -> list[tuple[float, float]]:
    """Per (insert, MV): (due time, completion of the first read of that
    MV whose visible total covers the insert's cumulative row count)."""
    out = []
    for name in MV_COUNT_COL:
        table = L.specs[name].source
        reads = sorted((b, n) for m, a, b, n in L.reads if m == name)
        cum = base[table]
        for due, rows, _ in plan[table]:
            cum += rows
            hit = next((b for b, n in reads if n >= cum and b >= start + due), None)
            if hit is not None:
                out.append((start + due, hit))
    return out


def fingerprint(df) -> tuple[int, int]:
    """(row count, exact sum of per-row xxhash64 over sorted columns):
    equal multisets of rows give equal fingerprints."""
    from pyspark.sql import functions as F

    cols = sorted(df.columns)
    row = df.agg(F.count(F.lit(1)), F.sum(F.xxhash64(*cols).cast("decimal(38,0)"))).collect()[0]
    return int(row[0]), int(row[1] or 0)


def check_mvs(spark, L: Live, final: dict[str, int], rep: metrics.Report) -> None:
    from pyspark.sql import functions as F

    from clickhouse_realtime_analytics_demo_spark.sources import writer
    from clickhouse_realtime_analytics_demo_spark.streaming import mv

    lake = {t: writer.read_table(spark, str(L.lake), t).drop("yyyymm") for t in final}
    for t, want in final.items():
        got = lake[t].count()
        if got != want:
            rep.fail(f"lake {t}: {got} rows, sent {want}")
    for name, col in MV_COUNT_COL.items():
        spec = L.specs[name]
        got = mv.read_final(spark, str(L.mv_root / name), spec)
        want = mv.batch_equivalent(lake[spec.source], spec)
        if sorted(got.columns) != sorted(want.columns):
            rep.fail(f"{name}: columns {sorted(got.columns)} != {sorted(want.columns)}")
            continue
        if fingerprint(got) != fingerprint(want):
            rep.fail(f"{name}: read_final differs from batch_equivalent over the lake")
        total = got.agg(F.sum(col)).collect()[0][0]
        if total != final[spec.source]:
            rep.fail(f"{name}: {total} {spec.source} rows visible, sent {final[spec.source]}")


def install_tracing(tracer) -> None:
    from clickhouse_realtime_analytics_demo_spark.sources import json_ingest
    from clickhouse_realtime_analytics_demo_spark.streaming import mv

    tracer.patch(json_ingest.insert_json_rows, "sources.json_ingest.insert")
    tracer.patch(mv.read_final, "streaming.mv.read_final")


def live_layers(ctx, L: Live, files_before, progress, late, live_parts, window) -> dict[str, float]:
    from tracing import spark_counters

    tr = ctx.tracer
    inserts = [s for s in tr.spans_of("sources.json_ingest.insert") if s.op.startswith("pb.l.ins.")]
    reads = [s for s in tr.spans_of("streaming.mv.read_final") if s.op]
    ins_groups = [g for g in tr.groups if g.startswith("pb.l.ins.")]
    new_bytes = new_files = 0
    for t, before in files_before.items():
        for path, size in _files(L.lake / t).items():
            if path not in before:
                new_files += 1
                new_bytes += size
    w0_ms = window[0] * 1e3
    batches = [p for p in progress if p.get("numInputRows", 0) > 0
               and datetime.fromisoformat(p["timestamp"].rstrip("Z")).timestamp() * 1e3 >= w0_ms]
    out = {
        "sources.json_ingest.insert_s": stats.median([s.t1 - s.t0 for s in inserts]),
        "sources.json_ingest.jobs_per_insert": spark_counters(ctx.spark, ins_groups)["jobs"] / len(L.sent),
        "sources.writer.files_written": new_files,
        "sources.writer.bytes_per_user_byte": new_bytes / sum(s["bytes"] for s in L.sent),
        "streaming.mv.batches": len(batches),
        "streaming.mv.batch_s": stats.median([p["durationMs"]["triggerExecution"] / 1e3 for p in batches]) if batches else 0.0,
        "streaming.mv.rows_per_batch": stats.median([p["numInputRows"] for p in batches]) if batches else 0.0,
        "streaming.mv.read_final_s": stats.median([s.t1 - s.t0 for s in reads]),
        "streaming.parts.live_parts": live_parts,
        "streaming.mv.bytes_per_source_byte": _dir_bytes(L.mv_root) / _dir_bytes(L.lake),
        "generator.lateness_s": max(late),
    }
    for k, v in spark_counters(ctx.spark, window=window).items():
        out[f"spark.{k}"] = v
    return out
