"""``dashboard``: one closed-loop client against the REST app.

Each round is a seeded permutation of 13 dashboard and live GET routes
(12 registry-backed routes plus ``/api/search``) and one
ClickHouse-dialect ad-hoc POST per statement template (4 of 17
requests, about a quarter). The seed draws the order, the search terms
and the ad-hoc parameters; in every measured round one of the four
POSTs, chosen by the seed, repeats an earlier statement word for word.
Every round has the same mix, so rounds cost the same and the run's
work is fixed: the number of measured rounds is sized from
``--seconds`` with the round time measured at this commit
(``ROUND_S``), and a faster engine finishes the same requests sooner.
One untimed round first warms the JVM, codegen and class loading.

Every response is checked: GET routes against the DuckDB oracle of
their backing registry query, pivoted into the route's JSON shape;
POSTs against a DuckDB twin written here. ``uniq`` (approximate in
Spark) is checked within ``APPROX_TOL`` of the exact count.
"""

from __future__ import annotations

import json
import math
import random
import time

import metrics
import stats
from tests.conftest import duck_connection

ROUND_S = 11.0  # one warm round at this commit, 4 cores
APPROX_TOL = 0.15  # HLL++ at the default 5% relative SD, three sigma
SEARCH_TERMS = ["ring", "old", "blue b", "cold", "widget", "hot p", "gear", "red"]


def _top_users_by_events(rows):
    by_type: dict[str, list] = {}
    for r in rows:
        by_type.setdefault(r["event_type"], []).append(
            {"user_id": r["user_key"], "event_count": r["est_count"], "rank": r["rnk"]}
        )
    return {"event_types": by_type, "source": "direct", "refreshed_at": None, "staleness_s": 0.0}


# route -> (backing registry query, expected JSON from its oracle rows),
# mirroring the pivots in app/rest.py
ROUTES = {
    "/api/daily-events": ("daily_events", lambda rows: {
        "dates": [r["event_date"] for r in rows],
        "events": [r["events"] for r in rows],
        "unique_users": [r["unique_users"] for r in rows]}),
    "/api/event-types": ("event_type_stats", lambda rows: {
        "labels": [r["event_type"] for r in rows],
        "values": [r["events"] for r in rows]}),
    "/api/top-countries": ("nation_revenue", lambda rows: [
        {"country": r["nation"], "region": r["region"], "order_count": r["orders"],
         "total_spent": r["revenue"]} for r in rows[:10]]),
    "/api/revenue-by-month": ("monthly_order_trend", lambda rows: {
        "months": [str(r["yyyymm"]) for r in rows],
        "revenue": [r["revenue"] for r in rows],
        "orders": [r["orders"] for r in rows]}),
    "/api/top-products": ("top_parts_per_brand", lambda rows: [
        {"product_name": f"part-{r['partkey']}", "category": r["brand"],
         "total_revenue": r["revenue"], "rank_in_category": r["rn"]} for r in rows]),
    "/api/conversion-funnel": ("event_funnel", lambda rows: rows[0]),
    "/api/hourly-activity": ("hourly_event_matrix", lambda rows: {
        "hours": [r["event_hour"] for r in rows],
        "events": [r["events"] for r in rows],
        "users": [r["unique_users"] for r in rows]}),
    "/api/stats": ("table_counts", lambda rows: rows[0]),
    "/api/live/timeline": ("minute_timeline", lambda rows: {
        "minutes": [r["minute"] for r in rows],
        "events": [r["events"] for r in rows]}),
    "/api/live/geographic": ("nation_activity", lambda rows: [
        {"country": r["nation"], "events": r["orders"], "users": r["users"],
         "revenue": r["revenue"] or 0} for r in rows]),
    "/api/live/top-users": ("top_active_users", lambda rows: [
        {"user_id": r["user_id"], "event_count": r["event_count"],
         "event_types": r["event_types"], "total_revenue": r["total_value"] or 0,
         "last_seen": str(r["last_seen"])[11:19]} for r in rows]),
    "/api/live/top-users-by-events": ("event_type_top_users_state", _top_users_by_events),
}


def _day(rng: random.Random) -> str:
    return f"2024-01-{rng.randint(1, 30):02d}"


# ad-hoc statement templates: params(rng) -> dict; ClickHouse dialect
# for the gateway, DuckDB twin for the check; ``approx`` columns come
# from uniq() and are checked within APPROX_TOL
TEMPLATES = {
    "hourly_uniq": dict(
        params=lambda rng: {"et": rng.choice(["view", "click", "purchase", "signup"]), "d": _day(rng)},
        ch="SELECT toStartOfHour(ts) AS hour, count() AS events, uniq(user_id) AS users "
           "FROM events WHERE event_type = '{et}' AND toDate(ts) = '{d}' "
           "GROUP BY hour ORDER BY hour",
        duck="SELECT date_trunc('hour', ts) AS hour, count(*) AS events, "
             "count(DISTINCT user_id) AS users FROM events "
             "WHERE event_type = '{et}' AND CAST(ts AS DATE) = DATE '{d}' GROUP BY 1 ORDER BY 1",
        approx={"users"}),
    "count_if": dict(
        params=lambda rng: {"v": rng.choice([50, 100, 150, 200, 300]), "d1": _day(rng), "n": rng.randint(1, 9)},
        ch="SELECT event_type, count() AS n, countIf(value > {v}) AS big, "
           "sumIf(value, value > {v}) AS big_value FROM events "
           "WHERE toDate(ts) >= '{d1}' AND toDate(ts) < toDate('{d1}') + {n} "
           "GROUP BY event_type ORDER BY event_type",
        duck="SELECT event_type, count(*) AS n, count(*) FILTER (WHERE value > {v}) AS big, "
             # ClickHouse sumIf over no matching rows is 0, not NULL
             "coalesce(sum(value) FILTER (WHERE value > {v}), 0) AS big_value FROM events "
             "WHERE CAST(ts AS DATE) >= DATE '{d1}' AND CAST(ts AS DATE) < DATE '{d1}' + {n} "
             "GROUP BY 1 ORDER BY 1",
        approx=set()),
    "lineitem_flags": dict(
        params=lambda rng: {"y": rng.randint(1995, 2001), "m": rng.randint(1, 12),
                            "disc": rng.choice([0.0, 0.03, 0.05, 0.08])},
        ch="SELECT l_returnflag, l_linestatus, sum(l_quantity) AS qty, count() AS n, "
           "uniqExact(l_suppkey) AS supps FROM lineitem "
           "WHERE l_shipdate < toDate('{y}-{m:02d}-01') AND l_discount >= {disc} "
           "GROUP BY l_returnflag, l_linestatus ORDER BY l_returnflag, l_linestatus",
        duck="SELECT l_returnflag, l_linestatus, sum(l_quantity) AS qty, count(*) AS n, "
             "count(DISTINCT l_suppkey) AS supps FROM lineitem "
             "WHERE l_shipdate < DATE '{y}-{m:02d}-01' AND l_discount >= {disc} "
             "GROUP BY 1, 2 ORDER BY 1, 2",
        approx=set()),
    "monthly_status": dict(
        params=lambda rng: {"y": rng.randint(1995, 2000), "m": rng.randint(1, 12)},
        ch="SELECT toYYYYMM(o_orderdate) AS ym, countIf(o_orderstatus = 'F') AS finished, "
           "count() AS orders FROM orders "
           "WHERE o_orderdate >= toDate('{y}-{m:02d}-01') "
           "AND o_orderdate < toDate('{y}-{m:02d}-01') + 365 GROUP BY ym ORDER BY ym",
        duck="SELECT CAST(year(o_orderdate) * 100 + month(o_orderdate) AS INTEGER) AS ym, "
             "count(*) FILTER (WHERE o_orderstatus = 'F') AS finished, count(*) AS orders "
             "FROM orders WHERE o_orderdate >= DATE '{y}-{m:02d}-01' "
             "AND o_orderdate < DATE '{y}-{m:02d}-01' + 365 GROUP BY 1 ORDER BY 1",
        approx=set()),
}


def jsonable(v):
    """The REST app's cell conversion (dates as ISO text, decimals as
    floats), applied to DuckDB values."""
    from decimal import Decimal

    if hasattr(v, "isoformat"):
        return v.isoformat()
    if isinstance(v, Decimal):
        return float(v)
    return v


def duck_rows(con, sql: str) -> list[dict]:
    cur = con.execute(sql)
    cols = [d[0] for d in cur.description]
    return [{c: jsonable(v) for c, v in zip(cols, row)} for row in cur.fetchall()]


def same(got, want, approx: frozenset = frozenset(), key: str = "") -> bool:
    """Deep JSON equality; floats to 1e-9 relative, ``approx`` keys to
    APPROX_TOL relative."""
    if isinstance(want, dict):
        return (isinstance(got, dict) and got.keys() == want.keys()
                and all(same(got[k], want[k], approx, k) for k in want))
    if isinstance(want, list):
        return (isinstance(got, list) and len(got) == len(want)
                and all(same(g, w, approx, key) for g, w in zip(got, want)))
    if isinstance(want, bool) or want is None or isinstance(want, str):
        return got == want
    if isinstance(want, (int, float)) and isinstance(got, (int, float)):
        if key in approx:
            return abs(got - want) <= max(1.0, APPROX_TOL * abs(want))
        return math.isclose(got, want, rel_tol=1e-9, abs_tol=1e-9)
    return got == want


def plan_round(rng: random.Random, history: dict[str, list[dict]]) -> list[tuple]:
    """One round: ("GET", url) for every route and ("POST", template,
    params) for every template, in a seeded order. Once ``history``
    holds statements, exactly one POST per round (a quarter) repeats an
    earlier statement word for word; the others draw fresh parameters."""
    reqs: list[tuple] = [("GET", r) for r in ROUTES]
    reqs.append(("GET", f"/api/search?q={rng.choice(SEARCH_TERMS)}&limit={rng.choice([20, 50])}"))
    repeat = rng.choice(list(TEMPLATES)) if history else None
    for name, t in TEMPLATES.items():
        seen = history.setdefault(name, [])
        if name == repeat:
            params = rng.choice(seen)
        else:
            params = t["params"](rng)
            seen.append(params)
        reqs.append(("POST", name, params))
    rng.shuffle(reqs)
    return reqs


class Checker:
    def __init__(self, data_dir):
        from clickhouse_realtime_analytics_demo_spark.queries import all_queries

        qs = all_queries()
        self.con = duck_connection(str(data_dir))
        # oracle rows of every route's backing registry query
        self.oracles = {name: duck_rows(self.con, qs[name].oracle) for name, _ in ROUTES.values()}
        self.twins: dict[str, list[dict]] = {}

    def expected(self, req) -> tuple[object, frozenset]:
        if req[0] == "POST":
            t = TEMPLATES[req[1]]
            sql = t["duck"].format(**req[2])
            if sql not in self.twins:
                self.twins[sql] = duck_rows(self.con, sql)
            return self.twins[sql], frozenset(t["approx"])
        url = req[1]
        if url.startswith("/api/search"):
            q = dict(kv.split("=") for kv in url.split("?", 1)[1].split("&"))
            sql = ("SELECT p_partkey, p_name, p_brand, p_retailprice FROM part "
                   f"WHERE p_name ILIKE '%{q['q']}%' ORDER BY p_partkey LIMIT {q['limit']}")
            if sql not in self.twins:
                self.twins[sql] = duck_rows(self.con, sql)
            return self.twins[sql], frozenset()
        name, shape = ROUTES[url]
        return shape(self.oracles[name]), frozenset()

    def check(self, req, status: int, body: bytes) -> str | None:
        """None when the response is right, else a one-line reason."""
        label = req[1] if req[0] == "GET" else f"POST {req[1]} {req[2]}"
        if status != 200:
            return f"{label}: HTTP {status} {body[:200]!r}"
        got = json.loads(body)
        want, approx = self.expected(req)
        if req[0] == "POST":
            got = got["rows"]
        if not same(got, want, approx):
            return f"{label}: response differs from DuckDB"
        return None


def send(client, req):
    if req[0] == "GET":
        return client.get(req[1])
    sql = TEMPLATES[req[1]]["ch"].format(**req[2])
    return client.post("/api/query/execute", json={"query": sql})


def run(ctx) -> metrics.Report:
    from clickhouse_realtime_analytics_demo_spark.app.rest import create_app

    rep = metrics.Report()
    rng = random.Random(ctx.seed)
    checker = Checker(ctx.data_dir)
    rounds = max(2, round(ctx.seconds / ROUND_S))
    history: dict[str, list[dict]] = {}
    warm = plan_round(rng, history)
    plan = [plan_round(rng, history) for _ in range(rounds)]
    if ctx.tracer is not None:
        install_tracing(ctx.tracer)

    t0 = time.perf_counter()
    app = create_app(ctx.spark, str(ctx.data_dir))
    client = app.test_client()
    for req in warm:  # one untimed round: JIT, codegen cache, class loading
        resp = send(client, req)
        problem = checker.check(req, resp.status_code, resp.data)
        if problem:
            rep.problems.append(f"warm-up {problem}")
    rep.setup_s = time.perf_counter() - t0

    lat: list[float] = []
    sent: list[tuple] = []  # (op, t0, t1, bytes)
    kinds: dict[str, str] = {}  # op -> route path or POST template
    start = time.perf_counter()
    for i, req in enumerate(r for rnd in plan for r in rnd):
        op = f"pb.d.{i}"
        ctx.set_op(op)
        a = time.perf_counter()
        resp = send(client, req)
        b = time.perf_counter()
        lat.append(b - a)
        sent.append((op, a, b, len(resp.data)))
        kinds[op] = req[1].split("?", 1)[0] if req[0] == "GET" else f"POST {req[1]}"
        rep.attempted += 1
        problem = checker.check(req, resp.status_code, resp.data)
        if problem:
            rep.fail(problem)
    elapsed = time.perf_counter() - start

    p, tail_v = stats.tail(lat)
    rep.e2e.update({
        "latency_p50_s": stats.median(lat),
        "latency_tail_s": tail_v,
        "ops_per_s": len(lat) / elapsed,
        "wall_s": elapsed,
    })
    rep.notes.append(f"{rounds} rounds x {len(plan[0])} requests; latency_tail_s is p{p} of {len(lat)}")
    if ctx.tracer is not None:
        rep.layers = request_layers(ctx, sent)
        rep.notes += route_profile(ctx, sent, kinds)
    return rep


def install_tracing(tracer) -> None:
    from clickhouse_realtime_analytics_demo_spark import catalog
    from clickhouse_realtime_analytics_demo_spark.app import rest
    from clickhouse_realtime_analytics_demo_spark.ops import query_log
    from clickhouse_realtime_analytics_demo_spark.plans import dialect, gateway
    from clickhouse_realtime_analytics_demo_spark.queries import all_queries

    tracer.patch(catalog.table, "catalog.table")
    tracer.patch(dialect.rewrite, "plans.dialect.rewrite")
    tracer.patch(gateway.execute, "plans.gateway.execute")
    tracer.patch(query_log.scan_metrics, "ops.query_log.scan_metrics", own_group=False)
    tracer.patch(rest._rows, "spark.action", after=lambda args, out: tracer.note_plan(args[0]))
    tracer.patch_query_fns(all_queries())


def request_layers(ctx, sent) -> dict[str, float]:
    """Per-layer totals over the measured requests."""
    from tracing import op_layers

    tr = ctx.tracer
    ops = {s[0] for s in sent}
    by_op: dict[str, list] = {}
    for s in tr.spans:
        if s.op in ops:
            by_op.setdefault(s.op, []).append((s.t0, s.t1))
    tot = tr.span_totals(ops)
    rewrite = tot.get("plans.dialect.rewrite", (0, 0.0))[1]
    return op_layers(ctx.spark, tr, ops) | {
        "plans.dialect.rewrite_s": rewrite,
        # gateway.execute minus its nested dialect rewrite: validation
        # plus spark.sql parse and analysis
        "plans.gateway.plan_s": tot.get("plans.gateway.execute", (0, 0.0))[1] - rewrite,
        # request time not covered by any engine span
        "app.rest.self_s": sum(stats.self_time((a, b), by_op.get(op, [])) for op, a, b, _ in sent),
        "app.rest.response_bytes": sum(s[3] for s in sent),
        "ops.query_log.scan_metrics_s": tot.get("ops.query_log.scan_metrics", (0, 0.0))[1],
        "spark.action_s": tot.get("spark.action", (0, 0.0))[1],
    }


def route_profile(ctx, sent, kinds) -> list[str]:
    """Per route or POST template: median request time and the Spark
    jobs one request ran (every group rooted at its operation)."""
    from tracing import spark_counters

    by_kind: dict[str, list] = {}
    for op, a, b, _ in sent:
        groups = [g for g in ctx.tracer.groups if g.split("/", 1)[0] == op]
        jobs = int(spark_counters(ctx.spark, groups)["jobs"])
        by_kind.setdefault(kinds[op], []).append((b - a, jobs))
    return [
        f"route {k}: p50 {stats.median([t for t, _ in v]):.3f} s, "
        f"jobs {min(j for _, j in v)}-{max(j for _, j in v)}"
        for k, v in sorted(by_kind.items())
    ]
