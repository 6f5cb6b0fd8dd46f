"""REST/SSE surface: every endpoint returns the reference's JSON
contract shape; gateway validation, SSE cursor monotonicity, query log
and introspection endpoints."""

from __future__ import annotations

import json

import pytest

from tests.conftest import SF_DIR

from clickhouse_realtime_analytics_demo_spark.app.rest import create_app
from clickhouse_realtime_analytics_demo_spark.ops.query_log import QueryLog


@pytest.fixture(scope="module")
def client(spark):
    app = create_app(spark, SF_DIR, query_log=QueryLog())
    app.testing = True
    with app.test_client() as c:
        yield c


def test_health(client):
    r = client.get("/health")
    assert r.status_code == 200 and r.get_json()["status"] == "ok"


def test_daily_events_shape(client):
    d = client.get("/api/daily-events").get_json()
    assert set(d) == {"dates", "events", "unique_users"}
    assert len(d["dates"]) == len(d["events"]) == len(d["unique_users"]) > 0
    assert d["dates"] == sorted(d["dates"])  # ascending like the reference


def test_event_types_shape(client):
    d = client.get("/api/event-types").get_json()
    assert set(d) == {"labels", "values"} and len(d["labels"]) == len(d["values"]) > 0


def test_top_countries_records(client):
    d = client.get("/api/top-countries").get_json()
    assert isinstance(d, list) and len(d) <= 10
    assert set(d[0]) == {"country", "region", "order_count", "total_spent"}


def test_revenue_by_month(client):
    d = client.get("/api/revenue-by-month").get_json()
    assert set(d) == {"months", "revenue", "orders"}
    assert d["months"] == sorted(d["months"])


def test_conversion_funnel(client):
    d = client.get("/api/conversion-funnel").get_json()
    assert {"views", "clicks", "purchases", "click_rate", "purchase_rate"} <= set(d)


def test_live_event_types_contract(client):
    """Reference contract app_interactive.py:151-181: list of
    {event_type, count, percentage}, ordered by count desc,
    percentages summing to ~100."""
    d = client.get("/api/live/event-types").get_json()
    assert isinstance(d, list) and len(d) > 0
    assert set(d[0]) == {"event_type", "count", "percentage"}
    counts = [r["count"] for r in d]
    assert counts == sorted(counts, reverse=True)
    assert abs(sum(r["percentage"] for r in d) - 100.0) < 0.5


def test_live_geographic_contract(client):
    """Reference contract app_interactive.py:183-220: ≤10 records of
    {country, events, users, revenue}, ordered by events desc."""
    d = client.get("/api/live/geographic").get_json()
    assert isinstance(d, list) and 0 < len(d) <= 10
    assert set(d[0]) == {"country", "events", "users", "revenue"}
    events = [r["events"] for r in d]
    assert events == sorted(events, reverse=True)
    assert all(r["users"] <= r["events"] for r in d)


def test_live_top_users_contract(client):
    """Reference contract app_interactive.py:306-341: ≤10 records of
    {user_id, event_count, event_types, total_revenue, last_seen},
    last_seen formatted HH:MM:SS."""
    import re

    d = client.get("/api/live/top-users").get_json()
    assert isinstance(d, list) and 0 < len(d) <= 10
    assert set(d[0]) == {
        "user_id", "event_count", "event_types", "total_revenue", "last_seen",
    }
    counts = [r["event_count"] for r in d]
    assert counts == sorted(counts, reverse=True)
    assert all(re.fullmatch(r"\d\d:\d\d:\d\d", r["last_seen"]) for r in d)


def test_live_conversion_rate_contract(client):
    """Reference contract app_interactive.py:343-377: a single object
    with the three funnel counts and three percentage rates."""
    d = client.get("/api/live/conversion-rate").get_json()
    assert set(d) == {
        "page_views", "cart_adds", "purchases",
        "cart_rate", "purchase_rate", "overall_conversion",
    }
    assert d["page_views"] > 0
    # rates are percentages consistent with the counts
    assert d["purchase_rate"] == round(d["purchases"] * 100.0 / d["cart_adds"], 2)


def test_live_conversion_rate_zero_views(spark, tmp_path):
    """ADVICE r7: with no view/click events the funnel rates are NULL
    (Spark double div-by-zero); the route must return 0 rates like the
    reference's nullIf guards (app_interactive.py:343-377) — not 500."""
    import os
    from pathlib import Path

    # all other tables symlinked unchanged (create_app builds its
    # dictionaries from the dims at startup)
    for p in Path(SF_DIR).glob("*.parquet"):
        if p.name != "events.parquet":
            os.symlink(p, tmp_path / p.name)
    events = spark.read.parquet(f"{SF_DIR}/events.parquet")
    events.filter("event_type NOT IN ('view', 'click')").write.parquet(
        str(tmp_path / "events.parquet")
    )
    app = create_app(spark, str(tmp_path), query_log=QueryLog())
    app.testing = True
    with app.test_client() as c:
        r = c.get("/api/live/conversion-rate")
    assert r.status_code == 200
    d = r.get_json()
    assert d["page_views"] == 0 and d["cart_adds"] == 0
    assert d["cart_rate"] == 0 and d["purchase_rate"] == 0
    assert d["overall_conversion"] == 0


def test_search_parameterized(client):
    d = client.get("/api/search?q=green&limit=5").get_json()
    assert isinstance(d, list) and len(d) <= 5
    for row in d:
        assert "green" in row["p_name"].lower()
    # injection-shaped input must not error or leak — parameterized filter
    r = client.get("/api/search?q=%27%3B%20DROP%20TABLE%20part%3B--")
    assert r.status_code == 200 and r.get_json() == []


def test_search_escapes_like_metacharacters(client):
    # '%' as a literal term: no part name contains a literal percent,
    # so an escaped filter returns []; an unescaped one would match
    # EVERY row ('%%%' pattern). Same for '_' (any-char) which would
    # otherwise match any 1-char position.
    r = client.get("/api/search?q=%25")  # term = '%'
    assert r.status_code == 200 and r.get_json() == []
    r = client.get("/api/search?q=x_z")  # '_' literal, not wildcard
    assert r.status_code == 200 and r.get_json() == []
    # sanity: escaping must not break ordinary terms
    d = client.get("/api/search?q=green&limit=3").get_json()
    assert isinstance(d, list) and all("green" in row["p_name"].lower() for row in d)


def test_gateway_executes_clickhouse_dialect(client):
    r = client.post(
        "/api/query/execute",
        json={"query": "SELECT event_type, count() AS n FROM events GROUP BY event_type"},
    )
    d = r.get_json()
    assert r.status_code == 200
    assert d["row_count"] > 0 and set(d["columns"]) == {"event_type", "n"}
    assert d["execution_time"] >= 0


def test_gateway_rejects_writes(client):
    r = client.post("/api/query/execute", json={"query": "DROP TABLE events"})
    assert r.status_code == 400 and "error" in r.get_json()


def test_sse_tail_cursor(client):
    r = client.get("/api/live/events-stream?once=1&cursor=0&limit=5")
    assert r.mimetype == "text/event-stream"
    payload = json.loads(r.get_data(as_text=True).removeprefix("data: "))
    assert len(payload["events"]) == 5
    ids = [e["event_id"] for e in payload["events"]]
    assert ids == sorted(ids) and payload["cursor"] == ids[-1]
    # resume from cursor: strictly later ids
    r2 = client.get(f"/api/live/events-stream?once=1&cursor={payload['cursor']}&limit=5")
    ids2 = [e["event_id"] for e in json.loads(r2.get_data(as_text=True).removeprefix("data: "))["events"]]
    assert min(ids2) > payload["cursor"]


def test_dashboard_pages_render(client):
    """Render-only HTML surfaces (reference dashboard.html /
    interactive_dashboard.html analogs): served pages reference the
    JSON endpoints they consume, and contain no query logic."""
    r = client.get("/")
    html = r.get_data(as_text=True)
    assert r.status_code == 200 and "text/html" in r.content_type
    for ep in ("/api/daily-events", "/api/event-types", "/api/top-countries", "/api/stats"):
        assert ep in html
    r = client.get("/live")
    html = r.get_data(as_text=True)
    assert r.status_code == 200
    for ep in ("/api/live/metrics", "/api/live/timeline", "/api/live/events-stream",
               "/api/query/execute"):
        assert ep in html
    assert "SELECT" not in html.replace("SELECT event_type", "")  # only the sample query


def test_system_parts_ttl_lifecycle(spark, tmp_path):
    """system.parts analog over the TTL lifecycle (r14): partitions
    report active, then doomed-with-age inside the grace window
    (ClickHouse's active=0 replaced parts), and disappear at reap."""
    from datetime import date

    from clickhouse_realtime_analytics_demo_spark.sources import generator, writer
    from clickhouse_realtime_analytics_demo_spark.streaming import retention

    writer.write_table(
        generator.events(spark, n=1500, n_users=40), str(tmp_path), "events"
    )
    app = create_app(spark, SF_DIR, query_log=QueryLog(), lake_dir=str(tmp_path))
    c = app.test_client()

    rows = c.get("/api/system/parts?table=events").get_json()
    assert rows and all(r["state"] == "active" for r in rows)
    assert all(r["rows"] > 0 and r["bytes"] > 0 for r in rows)

    retention.apply_ttl(
        spark, str(tmp_path / "events"), "event_date", date(2024, 2, 1)
    )
    by_name = {
        r["partition"]: r for r in c.get("/api/system/parts?table=events").get_json()
    }
    jan = by_name["yyyymm=202401"]
    assert jan["state"] == "doomed" and jan["doomed_age_s"] >= 0
    assert by_name["yyyymm=202402"]["state"] == "active"

    retention.reap_expired(str(tmp_path / "events"), grace_seconds=0.0)
    names = {
        r["partition"] for r in c.get("/api/system/parts?table=events").get_json()
    }
    assert "yyyymm=202401" not in names

    assert c.get("/api/system/parts?table=nope").status_code == 404
    no_lake = create_app(spark, SF_DIR, query_log=QueryLog()).test_client()
    assert no_lake.get("/api/system/parts").status_code == 503


def test_system_tables(client):
    d = client.get("/api/system/tables").get_json()
    byname = {t["table"]: t for t in d}
    assert byname["events"]["rows"] > 0
    assert byname["events"]["compression_ratio"] is not None
    # compression-effectiveness parity (sample_queries.sql:501-510):
    # readable sizes + ratio consistent with the raw byte columns
    ev = byname["events"]
    assert ev["compressed_size"].split(" ")[1] in {"B", "KiB", "MiB", "GiB", "TiB"}
    assert ev["uncompressed_size"].split(" ")[1] in {"B", "KiB", "MiB", "GiB", "TiB"}
    assert ev["compression_ratio"] == round(
        ev["uncompressed_bytes"] / ev["compressed_bytes"], 2
    )


def test_system_dictionaries(client):
    d = client.get("/api/system/dictionaries").get_json()
    byname = {t["name"]: t for t in d}
    assert byname["dict_country_metadata"]["status"] == "LOADED"
    assert byname["dict_country_metadata"]["element_count"] == 10
    assert byname["dict_users"]["layout"] == "VIEW"


def test_query_log_records(client):
    client.get("/api/daily-events")
    entries = client.get("/api/system/query-log").get_json()
    assert any(e["name"] == "daily_events" and e["ok"] and e["rows"] > 0 for e in entries)


def test_query_log_scan_metrics(client):
    """system.query_log read_rows/read_bytes parity
    (sample_queries.sql:483-495): executor scan metrics recorded."""
    client.get("/api/daily-events")
    entries = client.get("/api/system/query-log").get_json()
    e = [x for x in entries if x["name"] == "daily_events" and x["ok"]][-1]
    assert e["read_rows"] > 0  # events rows produced by the scan
    assert e["read_bytes"] > 0 and e["read_files"] > 0


def test_explain_endpoint(client):
    d = client.get("/api/system/explain/daily_events").get_json()
    assert "Physical Plan" in d["plan"]


def test_explain_unknown_404(client):
    assert client.get("/api/system/explain/nope").status_code == 404


FUNNEL_KEYS = {"levels", "source", "refreshed_at", "staleness_s"}


def _assert_funnel_levels(d):
    levels = d["levels"]
    assert [r["level"] for r in levels] == [1, 2, 3]
    users = [r["users"] for r in levels]
    assert users == sorted(users, reverse=True)
    assert levels[0]["pct_of_entry"] == 100.0
    assert all(0 <= r["pct_of_entry"] <= 100.0 for r in levels)


def test_live_funnel_depth_contract(client):
    """r9: the live windowFunnel route — levels are cumulative
    (monotone non-increasing users), level 1 anchors pct at 100.
    r10: without a refresh_dir the route computes directly and says so
    (source=direct, no refreshed_at)."""
    d = client.get("/api/live/funnel-depth").get_json()
    assert set(d) == FUNNEL_KEYS
    _assert_funnel_levels(d)
    assert d["source"] == "direct"
    assert d["refreshed_at"] is None and d["staleness_s"] == 0.0


def test_live_funnel_depth_mv_served(spark, tmp_path):
    """r10 (VERDICT r9 #2): with a refresh_dir holding a funnel MV
    snapshot the route serves FROM the snapshot and reports its age —
    same levels contract, source=mv, staleness_s measured from the
    snapshot's _SUCCESS commit time. Before the first refresh the
    route falls back to direct compute."""
    from clickhouse_realtime_analytics_demo_spark.queries import all_queries
    from clickhouse_realtime_analytics_demo_spark.streaming.refresh import RefreshScheduler

    refresh_dir = str(tmp_path / "refresh")
    app = create_app(spark, SF_DIR, query_log=QueryLog(), refresh_dir=refresh_dir)
    app.testing = True
    with app.test_client() as c:
        # no snapshot yet -> direct fallback (scheduler not running)
        d = c.get("/api/live/funnel-depth").get_json()
        assert d["source"] == "direct" and d["refreshed_at"] is None

        sched = RefreshScheduler(spark)
        sched.register(
            "funnel_depth",
            lambda s: all_queries()["window_funnel"].fn(s, SF_DIR),
            interval_seconds=9999,
            path=f"{refresh_dir}/funnel_depth",
        )
        sched.refresh_now("funnel_depth")

        d = c.get("/api/live/funnel-depth").get_json()
        assert set(d) == FUNNEL_KEYS
        _assert_funnel_levels(d)
        assert d["source"] == "mv"
        assert d["refreshed_at"] is not None
        assert 0.0 <= d["staleness_s"] < 300.0  # fresh snapshot, sane clock

        # MV-served and direct-computed funnels agree on the data
        direct = create_app(spark, SF_DIR, query_log=QueryLog()).test_client().get(
            "/api/live/funnel-depth"
        ).get_json()
        assert d["levels"] == direct["levels"]


def test_live_top_users_by_events_state_served(spark, tmp_path):
    """r11: with a topk_state_dir holding parts the route serves FROM
    the merged topK state (source=state, staleness from the newest
    part), and agrees exactly with the direct-compute fallback — the
    untrimmed-regime exactness of streaming/topk_state.py on the REST
    surface. Without parts (or without the dir) it falls back to
    direct compute."""
    from clickhouse_realtime_analytics_demo_spark.catalog import table
    from clickhouse_realtime_analytics_demo_spark.streaming import parts as parts_store
    from clickhouse_realtime_analytics_demo_spark.streaming import topk_state

    state_dir = str(tmp_path / "topk_state")
    # counters plumbed through create_app so the route reads with the
    # same width the maintenance job wrote (r11 ADVICE: a mismatched
    # default silently changes the MG trim regime)
    app = create_app(
        spark, SF_DIR, query_log=QueryLog(), topk_state_dir=state_dir,
        topk_counters=65536,
    )
    app.testing = True
    with app.test_client() as c:
        # dir configured but empty -> direct fallback
        d = c.get("/api/live/top-users-by-events").get_json()
        assert d["source"] == "direct" and d["refreshed_at"] is None

        ev = table(spark, SF_DIR, "events")
        from pyspark.sql import functions as F

        for i in range(3):
            parts_store.write_part(
                topk_state.topk_partial(
                    ev.filter(F.pmod(F.hash("event_id"), F.lit(3)) == i),
                    ["event_type"],
                    "user_id",
                    counters=65536,
                ),
                state_dir,
                i,
            )
        d = c.get("/api/live/top-users-by-events").get_json()
        assert d["source"] == "state"
        assert d["refreshed_at"] is not None
        assert 0.0 <= d["staleness_s"] < 300.0
        assert d["event_types"]
        for users in d["event_types"].values():
            assert [u["rank"] for u in users] == list(range(1, len(users) + 1))

    direct = (
        create_app(spark, SF_DIR, query_log=QueryLog())
        .test_client()
        .get("/api/live/top-users-by-events")
        .get_json()
    )
    assert direct["source"] == "direct"
    assert d["event_types"] == direct["event_types"]


def test_live_top_users_state_read_failure_falls_back(spark, tmp_path):
    """r11 ADVICE (rest.py:337): a state-read failure — here a part
    dir with no readable parquet, the shape a racing writer leaves
    mid-write beyond the retry — must degrade to direct compute
    (source=direct, HTTP 200), never a 500."""
    state_dir = tmp_path / "topk_state"
    junk = state_dir / "b=0"
    junk.mkdir(parents=True)
    (junk / "not-parquet.txt").write_text("torn write")
    app = create_app(
        spark, SF_DIR, query_log=QueryLog(), topk_state_dir=str(state_dir)
    )
    app.testing = True
    resp = app.test_client().get("/api/live/top-users-by-events")
    assert resp.status_code == 200
    d = resp.get_json()
    assert d["source"] == "direct"
    assert d["event_types"]


def test_system_functions(client):
    """system.functions analog: every dialect rewrite is listed with
    its Spark form; spot-check entries across the r11 families."""
    rows = client.get("/api/system/functions").get_json()
    by_name = {r["name"]: r for r in rows}
    assert len(rows) >= 80
    assert "todate" in by_name and "to_date" in by_name["todate"]["spark_form"]
    assert "jsonextractint" in by_name
    assert "get_json_object" in by_name["jsonextractint"]["spark_form"]
    # the 3-arg probe renders arrayMap's 2-array form (zip_with)
    assert "arraymap" in by_name and "zip_with" in by_name["arraymap"]["spark_form"]
    assert "todayofweek" in by_name
    assert all(r["origin"] in ("dialect", "parametric") for r in rows)
    # r12: the parametric combinator family is listed too
    assert by_name["quantiletdigest"]["origin"] == "parametric"
    assert "approx_percentile" in by_name["quantiletdigest"]["spark_form"]
    assert "guidance" in by_name["topk"]["spark_form"] or "unsupported" in by_name["topk"]["spark_form"]


def test_examples_index_and_run(spark, tmp_path):
    """r12: the reference's sample_queries.sql corpus on the REST
    surface — /api/examples lists all 35 statements; running one that
    reads only base tables returns rows against the engine's own lake;
    one that reads an mv_* view the serving session hasn't registered
    fails 400 with the analysis error (never 500); directives ack."""
    import pytest as _pytest
    from pathlib import Path as _Path

    from clickhouse_realtime_analytics_demo_spark.plans import corpus as _corpus

    if not _Path(_corpus.DEFAULT_CORPUS).exists():
        _pytest.skip("reference corpus file not available")
    # register the reference-shaped fixture env once (module clients
    # share the Spark session, so base views may already exist — the
    # corpus env makes the mv_*/system_* reads servable too)
    _corpus.prepare_reference_env(spark, str(tmp_path / "fx"))
    app = create_app(spark, SF_DIR, query_log=QueryLog())
    app.testing = True
    with app.test_client() as c:
        idx = c.get("/api/examples").get_json()
        assert len(idx) == 35
        by_label = {r["label"]: r for r in idx}
        assert by_label["use"]["kind"] == "directive"
        # r13: PATCHES is empty — every statement is verbatim
        assert not any(r["patched"] for r in idx)

        r = c.post("/api/examples/ex_1_1")
        assert r.status_code == 200
        d = r.get_json()
        assert d["row_count"] > 0 and "country" in d["columns"]

        assert c.post("/api/examples/use").get_json()["directive"] is True
        assert c.post("/api/examples/nope").status_code == 404

        # unknown-relation / analysis failures surface as 400 + error
        r = c.post("/api/examples/ex_8_4")  # system_query_log view exists via env
        assert r.status_code in (200, 400)
        if r.status_code == 400:
            assert "error" in r.get_json()

        # r12 ADVICE: malformed/negative limit is a 400/clamp, never 500
        r = c.post("/api/examples/ex_1_1?limit=abc")
        assert r.status_code == 400 and "limit" in r.get_json()["error"]
        r = c.post("/api/examples/ex_1_1?limit=-5")
        assert r.status_code == 200 and r.get_json()["row_count"] == 0
