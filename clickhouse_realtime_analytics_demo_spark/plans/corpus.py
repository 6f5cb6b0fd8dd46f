"""Run the reference's ``examples/sample_queries.sql`` corpus — every
statement, verbatim — through the dialect shim + gateway.

The reference ships a 559-line example file (9 sections, 35
statements) that exercises its whole query surface: base analytics,
incremental and refreshable materialized views, projections,
dictionaries, window functions, advanced patterns (gap fill, funnel,
sessionization, PREWHERE), EXPLAIN variants, and the ``system.*``
introspection tables. This module provides everything needed to run
that file against the Spark engine as a user of the reference would:

- :func:`load_corpus` — split the file into statements (quote/
  comment-aware), labeled by their ``-- Example N.N`` headers;
- :func:`pin_clock` — substitute ``today()``/``now()`` with pinned
  literals so the wall-clock-relative filters (``today() - INTERVAL
  7 DAY`` everywhere) land inside the deterministic fixture window;
- :func:`prepare_reference_env` — register the reference-shaped
  fixture tables (sources/generator), the dictionary layer, temp
  views for every ``mv_*`` table the corpus reads (bodies taken from
  the reference DDL and run through the same dialect shim), and the
  ``system_*`` introspection views the rewritten ``system.*`` reads
  resolve to;
- :func:`duck_reference_env` — the same environment in DuckDB over
  the same parquet fixtures, for value-level oracle comparison.

Reference: examples/sample_queries.sql:1-559, init-scripts/
01-create-tables.sql:85-175 (incremental MVs), init-scripts/
05-add-refreshable-mvs.sql:17-223 (refreshable MVs).

Scale note: the mv_* views mirror the reference DDL for the corpus
gate; the engine's production analogs of the same shapes are the
registered queries + streaming/mv.py / streaming/refresh.py state
(partitioned, broadcast-planned, oracle-gated). Two view bodies are
restructured rather than copied verbatim because Spark rejects the
reference's form with the same semantics kept: the affinity score's
correlated scalar subquery inside an aggregate SELECT becomes a
joined per-product distinct-count CTE (Spark:
SCALAR_SUBQUERY_IS_IN_GROUP_BY_OR_AGGREGATE_FUNCTION), and cohort
retention's alias-reuse (aliases consumed by later expressions and
HAVING in the same SELECT) becomes a layered subselect.
"""

from __future__ import annotations

import re
from dataclasses import dataclass
from pathlib import Path

from pyspark.sql import DataFrame, SparkSession

from clickhouse_realtime_analytics_demo_spark import catalog
from clickhouse_realtime_analytics_demo_spark.plans import dialect

# One day before the fixture generation window's end (sources/
# generator.py: EPOCH_START 2024-01-01 + WINDOW_DAYS 90), so
# `today()`-relative filters select populated days.
PINNED_TODAY = "2024-03-30"

DEFAULT_CORPUS = "/root/reference/examples/sample_queries.sql"

# Fixture sizes: big enough that every corpus statement has rows to
# chew on (user_id 1234 exists; co-purchase pairs clear the HAVING
# count >= 5 bar; '%Laptop%' products exist), small enough that the
# whole 35-statement sweep runs in seconds.
FIXTURE_USERS = 2_000
FIXTURE_PRODUCTS = 200
FIXTURE_ORDERS = 40_000
FIXTURE_EVENTS = 30_000


@dataclass(frozen=True)
class CorpusStatement:
    index: int
    label: str  # ex_1_1 … / use / check_… (section 9)
    lineno: int  # 1-based first line of the statement
    sql: str
    kind: str  # "query" | "directive"


def _label_for(header_lines: list[str], index: int) -> str:
    for line in reversed(header_lines):
        m = re.search(r"Example\s+(\d+)\.(\d+)", line)
        if m:
            return f"ex_{m.group(1)}_{m.group(2)}"
    for line in header_lines:
        m = re.match(r"\s*--\s*([A-Za-z][A-Za-z0-9 /-]+)", line)
        if m and "=====" not in line and "SECTION" not in line.upper():
            slug = re.sub(r"[^a-z0-9]+", "_", m.group(1).strip().lower()).strip("_")
            if slug:
                return slug[:48]
    return f"stmt_{index}"


def split_statements(text: str) -> list[tuple[int, str]]:
    """Split SQL text on top-level ``;`` (string- and comment-aware).
    Returns (1-based starting line, statement text) pairs; statements
    keep their interior comments."""
    out: list[tuple[int, str]] = []
    buf: list[str] = []
    start_line = 1
    line = 1
    i = 0
    n = len(text)
    while i < n:
        c = text[i]
        if c == "\n":
            line += 1
        if c == "'":  # string literal
            j = i + 1
            while j < n:
                if text[j] == "\n":
                    line += 1
                if text[j] == "'":
                    if j + 1 < n and text[j + 1] == "'":
                        j += 2
                        continue
                    break
                j += 1
            buf.append(text[i : j + 1])
            i = j + 1
            continue
        if c == "-" and i + 1 < n and text[i + 1] == "-":  # line comment
            j = text.find("\n", i)
            j = n if j < 0 else j
            buf.append(text[i:j])
            i = j
            continue
        if c == ";":
            stmt = "".join(buf)
            if stmt.strip():
                out.append((start_line, stmt))
            buf = []
            start_line = line
            i += 1
            continue
        if not buf and c in " \t\n":
            if c == "\n":
                start_line = line
            i += 1
            continue
        if not buf:
            start_line = line
        buf.append(c)
        i += 1
    tail = "".join(buf)
    if tail.strip():
        out.append((start_line, tail))
    return out


def _strip_leading_comments(stmt: str) -> tuple[list[str], str]:
    """Split a raw statement into (leading comment lines, code)."""
    lines = stmt.split("\n")
    headers: list[str] = []
    k = 0
    for k, line in enumerate(lines):
        s = line.strip()
        if not s or s.startswith("--"):
            headers.append(line)
        else:
            break
    return headers, "\n".join(lines[k:])


def load_corpus(path: str = DEFAULT_CORPUS) -> list[CorpusStatement]:
    text = Path(path).read_text()
    out: list[CorpusStatement] = []
    for idx, (lineno, raw) in enumerate(split_statements(text)):
        headers, code = _strip_leading_comments(raw)
        if not code.strip():
            continue
        kind = "directive" if code.split(None, 1)[0].upper() == "USE" else "query"
        out.append(
            CorpusStatement(
                index=len(out),
                label="use" if kind == "directive" else _label_for(headers, len(out)),
                lineno=lineno + len(headers),
                sql=code.strip(),
                kind=kind,
            )
        )
    return out


_TODAY_CALL = re.compile(r"\btoday\(\)")
_NOW_CALL = re.compile(r"\bnow\(\)")


def pin_clock(sql: str, today: str = PINNED_TODAY) -> str:
    """Replace ``today()`` / ``now()`` with pinned literals (applied
    BEFORE the dialect rewrite, which would otherwise map them to the
    session wall clock). ClickHouse's own clock functions are
    evaluated once per query, so a literal has identical semantics.
    Quote-aware: a ``today()`` inside a string literal or comment is
    left alone (dialect.sub_code_only)."""
    sql = dialect.sub_code_only(_TODAY_CALL, f"DATE '{today}'", sql)
    sql = dialect.sub_code_only(_NOW_CALL, f"TIMESTAMP '{today} 12:00:00'", sql)
    return sql


# --------------------------------------------------------------- MV views
# Bodies in ClickHouse dialect (run through dialect.rewrite + pin_clock
# on registration) — taken from the reference DDL cited per view.

# init-scripts/01-create-tables.sql:102-116
_MV_PRODUCT_REVENUE = """
SELECT
    product_id,
    toDate(order_timestamp) as order_date,
    status,
    count() as order_count,
    sum(total_amount) as total_revenue,
    sum(quantity) as total_quantity,
    avg(total_amount) as avg_order_value
FROM orders
GROUP BY product_id, toDate(order_timestamp), status
"""
# (GROUP BY spells the toDate expression out: Spark resolves a bare
# `order_date` in GROUP BY to the table's column, not the alias —
# ClickHouse prefers the alias. Same values either way, but Spark
# rejects the reference's spelling with MISSING_AGGREGATION.)

# init-scripts/01-create-tables.sql:119-133 (countState/sumState over a
# fully-merged store = the plain aggregates; see dialect.py combinators)
_MV_USER_FUNNEL = """
SELECT
    user_id,
    event_date,
    countState() as total_events,
    sumState(CASE WHEN event_type = 'page_view' THEN 1 ELSE 0 END) as page_views,
    sumState(CASE WHEN event_type = 'add_to_cart' THEN 1 ELSE 0 END) as cart_adds,
    sumState(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) as purchases,
    sumState(revenue) as total_revenue
FROM events
GROUP BY user_id, event_date
"""

# init-scripts/01-create-tables.sql:136-153
_MV_HOURLY_EVENTS = """
SELECT
    event_date,
    toHour(event_timestamp) as event_hour,
    event_type,
    device_type,
    country,
    count() as event_count,
    uniq(user_id) as unique_users,
    sum(duration_seconds) as total_duration,
    avg(duration_seconds) as avg_duration,
    sum(revenue) as total_revenue
FROM events
GROUP BY event_date, event_hour, event_type, device_type, country
"""

# init-scripts/01-create-tables.sql:156-170
_MV_COUNTRY_STATS = """
SELECT
    country,
    event_date,
    event_type,
    count() as event_count,
    uniq(user_id) as unique_users,
    sum(revenue) as total_revenue
FROM events
GROUP BY country, event_date, event_type
"""

# init-scripts/05-add-refreshable-mvs.sql:17-47. Divergence: the
# ranking adds product_id as a deterministic tie-break (the reference
# orders by total_revenue alone, leaving tied ranks engine-ordered).
_MV_TOP_PRODUCTS_RANKING = """
WITH product_stats AS (
    SELECT
        p.product_id,
        p.product_name,
        p.category,
        sum(mv.total_revenue) as total_revenue,
        sum(mv.order_count) as total_orders,
        avg(mv.avg_order_value) as avg_order_value
    FROM mv_product_revenue mv
    JOIN products p ON mv.product_id = p.product_id
    WHERE mv.status = 'completed'
    AND mv.order_date >= today() - INTERVAL 30 DAY
    GROUP BY p.product_id, p.product_name, p.category
)
SELECT
    today() as rank_date,
    row_number() OVER (ORDER BY total_revenue DESC, product_id) as rank,
    product_id,
    product_name,
    category,
    total_revenue,
    total_orders,
    avg_order_value
FROM product_stats
ORDER BY rank
LIMIT 100
"""

# init-scripts/05-add-refreshable-mvs.sql:55-99
_MV_CUSTOMER_LTV = """
SELECT
    u.user_id,
    u.username,
    u.country,
    u.is_premium,
    u.registration_date,
    o.total_orders,
    o.lifetime_value,
    o.first_order_date,
    o.last_order_date,
    o.avg_order_value,
    dateDiff('day', o.first_order_date, o.last_order_date) as customer_age_days,
    dateDiff('day', u.registration_date, today()) as days_since_registration,
    CASE
        WHEN o.lifetime_value >= 1000 THEN 'High Value'
        WHEN o.lifetime_value >= 500 THEN 'Medium Value'
        WHEN o.lifetime_value >= 100 THEN 'Low Value'
        ELSE 'New Customer'
    END as ltv_segment,
    dateDiff('day', o.last_order_date, today()) as recency_days,
    o.total_orders as frequency,
    o.lifetime_value as monetary,
    percent_rank() OVER (ORDER BY dateDiff('day', o.last_order_date, today()) ASC) as recency_percentile,
    percent_rank() OVER (ORDER BY o.total_orders DESC) as frequency_percentile,
    percent_rank() OVER (ORDER BY o.lifetime_value DESC) as monetary_percentile
FROM users u
LEFT JOIN (
    SELECT
        user_id,
        count() as total_orders,
        sum(total_amount) as lifetime_value,
        min(order_date) as first_order_date,
        max(order_date) as last_order_date,
        avg(total_amount) as avg_order_value
    FROM orders
    WHERE status = 'completed'
    GROUP BY user_id
) o ON u.user_id = o.user_id
WHERE o.user_id IS NOT NULL
"""

# init-scripts/05-add-refreshable-mvs.sql:107-147, restructured (see
# module docstring): base aggregate in a CTE, alias-consuming
# percentage columns + the HAVING outside it.
_MV_COHORT_RETENTION = """
WITH user_cohorts AS (
    SELECT
        user_id,
        toStartOfMonth(registration_date) as cohort_month,
        toMonday(registration_date) as cohort_week,
        registration_date
    FROM users
),
user_activity AS (
    SELECT
        e.user_id,
        toStartOfMonth(e.event_date) as activity_month,
        toMonday(e.event_date) as activity_week
    FROM events e
    GROUP BY e.user_id, activity_month, activity_week
),
base AS (
    SELECT
        uc.cohort_month,
        uc.cohort_week,
        count(DISTINCT uc.user_id) as cohort_size,
        count(DISTINCT CASE WHEN dateDiff('month', uc.cohort_month, ua.activity_month) = 0 THEN ua.user_id END) as retained_month_0,
        count(DISTINCT CASE WHEN dateDiff('month', uc.cohort_month, ua.activity_month) = 1 THEN ua.user_id END) as retained_month_1,
        count(DISTINCT CASE WHEN dateDiff('month', uc.cohort_month, ua.activity_month) = 2 THEN ua.user_id END) as retained_month_2,
        count(DISTINCT CASE WHEN dateDiff('month', uc.cohort_month, ua.activity_month) = 3 THEN ua.user_id END) as retained_month_3,
        count(DISTINCT CASE WHEN dateDiff('month', uc.cohort_month, ua.activity_month) = 6 THEN ua.user_id END) as retained_month_6,
        count(DISTINCT ua.user_id) as active_users
    FROM user_cohorts uc
    LEFT JOIN user_activity ua ON uc.user_id = ua.user_id
    GROUP BY uc.cohort_month, uc.cohort_week
)
SELECT
    cohort_month,
    cohort_week,
    cohort_size,
    retained_month_0,
    retained_month_1,
    retained_month_2,
    retained_month_3,
    retained_month_6,
    round(retained_month_1 * 100.0 / cohort_size, 2) as retention_pct_month_1,
    round(retained_month_2 * 100.0 / cohort_size, 2) as retention_pct_month_2,
    round(retained_month_3 * 100.0 / cohort_size, 2) as retention_pct_month_3,
    round(retained_month_6 * 100.0 / cohort_size, 2) as retention_pct_month_6
FROM base
WHERE cohort_size > 0
"""

# init-scripts/05-add-refreshable-mvs.sql:155-190, restructured: the
# correlated scalar subquery (per-p1 distinct purchasers) becomes a
# joined CTE — Spark rejects correlated scalar subqueries inside an
# aggregate SELECT list, and the join is the plan a 100 TB run wants
# anyway (one extra partial aggregate instead of a per-group probe).
_MV_PRODUCT_AFFINITY = """
WITH user_purchases AS (
    SELECT DISTINCT
        user_id,
        product_id
    FROM orders
    WHERE status = 'completed'
    AND order_date >= today() - INTERVAL 90 DAY
),
product_users AS (
    SELECT product_id, count(DISTINCT user_id) as n_users
    FROM user_purchases
    GROUP BY product_id
)
SELECT
    p1.product_id as product_1_id,
    p1_info.product_name as product_1_name,
    p1_info.category as product_1_category,
    p2.product_id as product_2_id,
    p2_info.product_name as product_2_name,
    p2_info.category as product_2_category,
    count(*) as co_purchase_count,
    count(*) * 1.0 / pu.n_users as affinity_score
FROM user_purchases p1
JOIN user_purchases p2 ON p1.user_id = p2.user_id AND p1.product_id < p2.product_id
JOIN products p1_info ON p1.product_id = p1_info.product_id
JOIN products p2_info ON p2.product_id = p2_info.product_id
JOIN product_users pu ON pu.product_id = p1.product_id
GROUP BY
    p1.product_id, p1_info.product_name, p1_info.category,
    p2.product_id, p2_info.product_name, p2_info.category,
    pu.n_users
HAVING co_purchase_count >= 5
ORDER BY co_purchase_count DESC
LIMIT 1000
"""

# init-scripts/05-add-refreshable-mvs.sql:198-223 (uncorrelated scalar
# subqueries; the alias-consuming conversion_rate moved to an outer
# select, same layering as the reference's lateral aliases).
_MV_DAILY_KPI_SUMMARY = """
SELECT
    *,
    round(purchases_today * 100.0 / nullIf(page_views_today, 0), 2) as conversion_rate_today
FROM (
    SELECT
        today() as metric_date,
        now() as last_updated,
        (SELECT count() FROM users) as total_users,
        (SELECT count() FROM users WHERE is_premium = 1) as premium_users,
        (SELECT count() FROM users WHERE registration_date = today()) as new_users_today,
        (SELECT count() FROM events WHERE event_date = today()) as events_today,
        (SELECT uniq(user_id) FROM events WHERE event_date = today()) as active_users_today,
        (SELECT uniq(user_id) FROM events WHERE event_date >= today() - INTERVAL 7 DAY) as active_users_7d,
        (SELECT uniq(user_id) FROM events WHERE event_date >= today() - INTERVAL 30 DAY) as active_users_30d,
        (SELECT sum(total_amount) FROM orders WHERE order_date = today() AND status = 'completed') as revenue_today,
        (SELECT sum(total_amount) FROM orders WHERE order_date >= today() - INTERVAL 7 DAY AND status = 'completed') as revenue_7d,
        (SELECT sum(total_amount) FROM orders WHERE order_date >= today() - INTERVAL 30 DAY AND status = 'completed') as revenue_30d,
        (SELECT count() FROM orders WHERE order_date = today() AND status = 'completed') as orders_today,
        (SELECT avg(total_amount) FROM orders WHERE order_date = today() AND status = 'completed') as avg_order_value_today,
        (SELECT count() FROM events WHERE event_date = today() AND event_type = 'page_view') as page_views_today,
        (SELECT count() FROM events WHERE event_date = today() AND event_type = 'purchase') as purchases_today
)
"""

MV_VIEWS: dict[str, str] = {
    "mv_product_revenue": _MV_PRODUCT_REVENUE,
    "mv_user_funnel": _MV_USER_FUNNEL,
    "mv_hourly_events": _MV_HOURLY_EVENTS,
    "mv_country_stats": _MV_COUNTRY_STATS,
    "mv_top_products_ranking": _MV_TOP_PRODUCTS_RANKING,
    "mv_customer_ltv": _MV_CUSTOMER_LTV,
    "mv_cohort_retention": _MV_COHORT_RETENTION,
    "mv_product_affinity": _MV_PRODUCT_AFFINITY,
    "mv_daily_kpi_summary": _MV_DAILY_KPI_SUMMARY,
}

_BASE_TABLES = ("users", "products", "orders", "events")


def write_fixture_parquet(spark: SparkSession, data_dir: str) -> None:
    """Materialize the reference-shaped fixture tables once (Spark
    reads them back as its base views; DuckDB reads the same files).
    Deterministic: sources/generator is hash-seeded."""
    from clickhouse_realtime_analytics_demo_spark.sources import generator

    root = Path(data_dir)
    root.mkdir(parents=True, exist_ok=True)
    frames = {
        "users": generator.users(spark, n=FIXTURE_USERS, partitions=2),
        "products": generator.products(spark, n=FIXTURE_PRODUCTS, partitions=1),
        "orders": generator.orders(
            spark, n=FIXTURE_ORDERS, n_users=FIXTURE_USERS,
            n_products=FIXTURE_PRODUCTS, partitions=4,
        ),
        "events": generator.events(
            spark, n=FIXTURE_EVENTS, n_users=FIXTURE_USERS, partitions=4
        ),
    }
    for name, df in frames.items():
        target = root / f"{name}.parquet"
        if not target.exists():
            df.write.mode("overwrite").parquet(str(target))


def prepare_reference_env(
    spark: SparkSession,
    data_dir: str,
    query_log=None,
    today: str = PINNED_TODAY,
) -> None:
    """Register every relation the corpus reads: base tables (from the
    fixture parquet), the dictionary layer, the mv_* views (reference
    DDL bodies through pin_clock + dialect.rewrite), and the system_*
    introspection views."""
    from clickhouse_realtime_analytics_demo_spark.plans import dialect
    from clickhouse_realtime_analytics_demo_spark.plans.dictionaries import (
        register_dictionaries,
    )

    write_fixture_parquet(spark, data_dir)
    for name in _BASE_TABLES:
        catalog.read_parquet(spark, f"{data_dir}/{name}.parquet").createOrReplaceTempView(name)
    register_dictionaries(spark)
    for name, body in MV_VIEWS.items():
        spark.sql(dialect.rewrite(pin_clock(body, today))).createOrReplaceTempView(name)
    _register_system_views(spark, data_dir, query_log)


def _register_system_views(spark: SparkSession, data_dir: str, query_log=None) -> None:
    """system.parts / system.tables / system.dictionaries /
    system.query_log analogs with the reference's column names
    (sample_queries.sql:483-543). Stats come from the fixture parquet
    footers via ops/introspect — metadata only, no scan."""
    from clickhouse_realtime_analytics_demo_spark.ops import introspect

    stats = introspect.table_stats(data_dir, tables=_BASE_TABLES)
    mtimes = {
        name: Path(f"{data_dir}/{name}.parquet").stat().st_mtime
        for name in _BASE_TABLES
    }
    # `active` is BOOLEAN here (ClickHouse stores UInt8 but the corpus
    # reads it as a bare predicate, `WHERE active AND …` — Spark's
    # strict typing wants a real boolean).
    parts_rows = [
        (
            "demo_db",
            s["table"],
            True,
            s["rows"],
            s["compressed_bytes"],
            s["uncompressed_bytes"],
            float(mtimes[s["table"]]),
        )
        for s in stats
    ]
    spark.createDataFrame(
        parts_rows,
        "database string, table string, active boolean, rows bigint, "
        "bytes_on_disk bigint, data_uncompressed_bytes bigint, "
        "modification_time double",
    ).createOrReplaceTempView("system_parts")

    tables_rows = [
        ("demo_db", s["table"], "MergeTree", s["rows"], s["compressed_bytes"])
        for s in stats
    ] + [("demo_db", name, "MaterializedView", 0, 0) for name in MV_VIEWS]
    spark.createDataFrame(
        tables_rows,
        "database string, name string, engine string, total_rows bigint, total_bytes bigint",
    ).createOrReplaceTempView("system_tables")

    dict_rows = [
        (
            "demo_db",
            d.get("name"),
            d.get("status", "LOADED"),
            int(d.get("element_count") or 0),
            int(d.get("bytes_allocated") or 0),
            float(d.get("loading_duration") or 0.0),
            str(d.get("last_successful_update_time") or ""),
        )
        for d in introspect.dictionary_stats()
    ]
    spark.createDataFrame(
        dict_rows,
        "database string, name string, status string, element_count bigint, "
        "bytes_allocated bigint, loading_duration double, "
        "last_successful_update_time string",
    ).createOrReplaceTempView("system_dictionaries")

    if query_log is not None:
        log_df = query_log.to_df(spark)
    else:
        from clickhouse_realtime_analytics_demo_spark.ops.query_log import QueryLog

        log_df = QueryLog().to_df(spark)
    from pyspark.sql import functions as F

    log_df.select(
        F.coalesce(F.col("sql"), F.col("name")).alias("query"),
        F.when(F.col("ok"), F.lit("QueryFinish")).otherwise(F.lit("ExceptionWhileProcessing")).alias("type"),
        (F.col("duration_s") * 1000).cast("bigint").alias("query_duration_ms"),
        F.col("read_rows"),
        F.col("read_bytes"),
        F.col("rows").alias("result_rows"),
        F.lit(0).cast("bigint").alias("memory_usage"),
        F.timestamp_seconds(F.col("started_at")).alias("event_time"),
    ).createOrReplaceTempView("system_query_log")

    funcs = introspect.function_stats()
    spark.createDataFrame(
        [(f["name"], f["origin"], f["spark_form"]) for f in funcs],
        "name string, origin string, spark_form string",
    ).createOrReplaceTempView("system_functions")


# Declared per-statement patches. EMPTY since round 13: the last
# divergence (ex_2_4 — ClickHouse resolves a SELECT-list alias with
# precedence over a same-named base column, sample_queries.sql:95)
# is now handled inside the dialect itself
# (dialect._inline_select_aliases), so all 35 reference statements
# execute verbatim. The machinery stays for future dialect gaps.
PATCHES: dict[str, tuple[str, str, str]] = {}


def run_statement(
    spark: SparkSession,
    stmt: CorpusStatement,
    today: str = PINNED_TODAY,
    apply_patches: bool = True,
):
    """Execute one corpus statement through the gateway (pin → rewrite
    → validate → spark.sql). Directives (``USE demo_db``) are session
    no-ops — the fixture views are unqualified and already in scope —
    and return None. ``apply_patches=False`` runs the exact verbatim
    text (identical to the default while PATCHES is empty)."""
    from clickhouse_realtime_analytics_demo_spark.plans import gateway

    if stmt.kind == "directive":
        return None
    sql = stmt.sql
    if apply_patches and stmt.label in PATCHES:
        old, new, _reason = PATCHES[stmt.label]
        assert old in sql, f"{stmt.label}: patch target drifted"
        sql = sql.replace(old, new)
    return gateway.execute(spark, pin_clock(sql, today)).df


# ------------------------------------------------------------ DuckDB twin

_DUCK_MV_VIEWS: dict[str, str] = {
    "mv_product_revenue": """
        SELECT product_id, CAST(order_timestamp AS DATE) AS order_date, status,
               count(*) AS order_count, sum(total_amount) AS total_revenue,
               sum(quantity) AS total_quantity, avg(total_amount) AS avg_order_value
        FROM orders GROUP BY 1, 2, 3
    """,
    "mv_user_funnel": """
        SELECT user_id, event_date,
               count(*) AS total_events,
               sum(CASE WHEN event_type = 'page_view' THEN 1 ELSE 0 END) AS page_views,
               sum(CASE WHEN event_type = 'add_to_cart' THEN 1 ELSE 0 END) AS cart_adds,
               sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS purchases,
               sum(revenue) AS total_revenue
        FROM events GROUP BY 1, 2
    """,
    "mv_hourly_events": """
        SELECT event_date, hour(event_timestamp) AS event_hour, event_type,
               device_type, country, count(*) AS event_count,
               count(DISTINCT user_id) AS unique_users,
               sum(duration_seconds) AS total_duration,
               avg(duration_seconds) AS avg_duration,
               sum(revenue) AS total_revenue
        FROM events GROUP BY 1, 2, 3, 4, 5
    """,
    "mv_country_stats": """
        SELECT country, event_date, event_type, count(*) AS event_count,
               count(DISTINCT user_id) AS unique_users, sum(revenue) AS total_revenue
        FROM events GROUP BY 1, 2, 3
    """,
    "mv_top_products_ranking": """
        WITH product_stats AS (
            SELECT p.product_id, p.product_name, p.category,
                   sum(mv.total_revenue) AS total_revenue,
                   sum(mv.order_count) AS total_orders,
                   avg(mv.avg_order_value) AS avg_order_value
            FROM mv_product_revenue mv
            JOIN products p ON mv.product_id = p.product_id
            WHERE mv.status = 'completed'
              AND mv.order_date >= DATE '{today}' - INTERVAL 30 DAY
            GROUP BY 1, 2, 3
        )
        SELECT DATE '{today}' AS rank_date,
               row_number() OVER (ORDER BY total_revenue DESC, product_id) AS rank,
               product_id, product_name, category, total_revenue, total_orders,
               avg_order_value
        FROM product_stats ORDER BY rank LIMIT 100
    """,
    "mv_customer_ltv": """
        SELECT u.user_id, u.username, u.country, u.is_premium, u.registration_date,
               o.total_orders, o.lifetime_value, o.first_order_date, o.last_order_date,
               o.avg_order_value,
               date_diff('day', o.first_order_date, o.last_order_date) AS customer_age_days,
               date_diff('day', u.registration_date, DATE '{today}') AS days_since_registration,
               CASE WHEN o.lifetime_value >= 1000 THEN 'High Value'
                    WHEN o.lifetime_value >= 500 THEN 'Medium Value'
                    WHEN o.lifetime_value >= 100 THEN 'Low Value'
                    ELSE 'New Customer' END AS ltv_segment,
               date_diff('day', o.last_order_date, DATE '{today}') AS recency_days,
               o.total_orders AS frequency,
               o.lifetime_value AS monetary,
               percent_rank() OVER (ORDER BY date_diff('day', o.last_order_date, DATE '{today}') ASC) AS recency_percentile,
               percent_rank() OVER (ORDER BY o.total_orders DESC) AS frequency_percentile,
               percent_rank() OVER (ORDER BY o.lifetime_value DESC) AS monetary_percentile
        FROM users u
        LEFT JOIN (
            SELECT user_id, count(*) AS total_orders, sum(total_amount) AS lifetime_value,
                   min(order_date) AS first_order_date, max(order_date) AS last_order_date,
                   avg(total_amount) AS avg_order_value
            FROM orders WHERE status = 'completed' GROUP BY user_id
        ) o ON u.user_id = o.user_id
        WHERE o.user_id IS NOT NULL
    """,
    "mv_cohort_retention": """
        WITH user_cohorts AS (
            SELECT user_id,
                   CAST(date_trunc('month', registration_date) AS DATE) AS cohort_month,
                   CAST(date_trunc('week', registration_date) AS DATE) AS cohort_week,
                   registration_date
            FROM users
        ),
        user_activity AS (
            SELECT e.user_id,
                   CAST(date_trunc('month', e.event_date) AS DATE) AS activity_month,
                   CAST(date_trunc('week', e.event_date) AS DATE) AS activity_week
            FROM events e GROUP BY 1, 2, 3
        ),
        base AS (
            SELECT uc.cohort_month, uc.cohort_week,
                   count(DISTINCT uc.user_id) AS cohort_size,
                   count(DISTINCT CASE WHEN date_diff('month', uc.cohort_month, ua.activity_month) = 0 THEN ua.user_id END) AS retained_month_0,
                   count(DISTINCT CASE WHEN date_diff('month', uc.cohort_month, ua.activity_month) = 1 THEN ua.user_id END) AS retained_month_1,
                   count(DISTINCT CASE WHEN date_diff('month', uc.cohort_month, ua.activity_month) = 2 THEN ua.user_id END) AS retained_month_2,
                   count(DISTINCT CASE WHEN date_diff('month', uc.cohort_month, ua.activity_month) = 3 THEN ua.user_id END) AS retained_month_3,
                   count(DISTINCT CASE WHEN date_diff('month', uc.cohort_month, ua.activity_month) = 6 THEN ua.user_id END) AS retained_month_6,
                   count(DISTINCT ua.user_id) AS active_users
            FROM user_cohorts uc
            LEFT JOIN user_activity ua ON uc.user_id = ua.user_id
            GROUP BY 1, 2
        )
        SELECT cohort_month, cohort_week, cohort_size, retained_month_0,
               retained_month_1, retained_month_2, retained_month_3, retained_month_6,
               round(retained_month_1 * 100.0 / cohort_size, 2) AS retention_pct_month_1,
               round(retained_month_2 * 100.0 / cohort_size, 2) AS retention_pct_month_2,
               round(retained_month_3 * 100.0 / cohort_size, 2) AS retention_pct_month_3,
               round(retained_month_6 * 100.0 / cohort_size, 2) AS retention_pct_month_6
        FROM base WHERE cohort_size > 0
    """,
    "mv_product_affinity": """
        WITH user_purchases AS (
            SELECT DISTINCT user_id, product_id FROM orders
            WHERE status = 'completed' AND order_date >= DATE '{today}' - INTERVAL 90 DAY
        ),
        product_users AS (
            SELECT product_id, count(DISTINCT user_id) AS n_users
            FROM user_purchases GROUP BY product_id
        )
        SELECT p1.product_id AS product_1_id, p1_info.product_name AS product_1_name,
               p1_info.category AS product_1_category,
               p2.product_id AS product_2_id, p2_info.product_name AS product_2_name,
               p2_info.category AS product_2_category,
               count(*) AS co_purchase_count,
               count(*) * 1.0 / pu.n_users AS affinity_score
        FROM user_purchases p1
        JOIN user_purchases p2 ON p1.user_id = p2.user_id AND p1.product_id < p2.product_id
        JOIN products p1_info ON p1.product_id = p1_info.product_id
        JOIN products p2_info ON p2.product_id = p2_info.product_id
        JOIN product_users pu ON pu.product_id = p1.product_id
        GROUP BY 1, 2, 3, 4, 5, 6, pu.n_users
        HAVING count(*) >= 5
        ORDER BY co_purchase_count DESC LIMIT 1000
    """,
    "mv_daily_kpi_summary": """
        SELECT *,
               round(purchases_today * 100.0 / nullIf(page_views_today, 0), 2) AS conversion_rate_today
        FROM (
            SELECT DATE '{today}' AS metric_date,
                   TIMESTAMP '{today} 12:00:00' AS last_updated,
                   (SELECT count(*) FROM users) AS total_users,
                   (SELECT count(*) FROM users WHERE is_premium = 1) AS premium_users,
                   (SELECT count(*) FROM users WHERE registration_date = DATE '{today}') AS new_users_today,
                   (SELECT count(*) FROM events WHERE event_date = DATE '{today}') AS events_today,
                   (SELECT count(DISTINCT user_id) FROM events WHERE event_date = DATE '{today}') AS active_users_today,
                   (SELECT count(DISTINCT user_id) FROM events WHERE event_date >= DATE '{today}' - INTERVAL 7 DAY) AS active_users_7d,
                   (SELECT count(DISTINCT user_id) FROM events WHERE event_date >= DATE '{today}' - INTERVAL 30 DAY) AS active_users_30d,
                   (SELECT sum(total_amount) FROM orders WHERE order_date = DATE '{today}' AND status = 'completed') AS revenue_today,
                   (SELECT sum(total_amount) FROM orders WHERE order_date >= DATE '{today}' - INTERVAL 7 DAY AND status = 'completed') AS revenue_7d,
                   (SELECT sum(total_amount) FROM orders WHERE order_date >= DATE '{today}' - INTERVAL 30 DAY AND status = 'completed') AS revenue_30d,
                   (SELECT count(*) FROM orders WHERE order_date = DATE '{today}' AND status = 'completed') AS orders_today,
                   (SELECT avg(total_amount) FROM orders WHERE order_date = DATE '{today}' AND status = 'completed') AS avg_order_value_today,
                   (SELECT count(*) FROM events WHERE event_date = DATE '{today}' AND event_type = 'page_view') AS page_views_today,
                   (SELECT count(*) FROM events WHERE event_date = DATE '{today}' AND event_type = 'purchase') AS purchases_today
        )
    """,
}


def duck_reference_env(data_dir: str, today: str = PINNED_TODAY):
    """A DuckDB connection over the SAME fixture parquet with the same
    base tables and mv_* views (DuckDB dialect, exact-distinct where
    the reference uses uniq — compares exclude uniq-derived columns)."""
    import duckdb

    con = duckdb.connect()
    for name in _BASE_TABLES:
        con.execute(
            f"CREATE VIEW {name} AS SELECT * FROM '{data_dir}/{name}.parquet/*.parquet'"
        )
    for name, body in _DUCK_MV_VIEWS.items():
        con.execute(f"CREATE VIEW {name} AS {body.format(today=today)}")
    return con
