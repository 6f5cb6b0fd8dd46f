"""Construction-job ceiling: building a query's DataFrame runs no Spark
job once the process has read its tables (the schema memo in
``catalog``). A job that runs before the action is paid on every
request and is invisible in the final plan, so each query behind a
dashboard GET route is pinned at zero; a query that needs a
construction job names it at its call site and is pinned here at its
measured count."""

from __future__ import annotations

import pytest

from clickhouse_realtime_analytics_demo_spark.catalog import table
from clickhouse_realtime_analytics_demo_spark.queries import all_queries
from tests.conftest import SF_DIR, count_jobs

# registry queries behind the dashboard GET routes (app/rest.py)
DASHBOARD = (
    "daily_events",
    "event_type_stats",
    "nation_revenue",
    "monthly_order_trend",
    "top_parts_per_brand",
    "event_funnel",
    "hourly_event_matrix",
    "table_counts",
    "minute_timeline",
    "nation_activity",
    "top_active_users",
    "event_type_top_users_state",
)

# dictionary queries register every dictionary, which reloads each
# hashed layout whose source view is registered: one collect each for
# dict_nation and dict_region (the source-view check itself runs none)
DICTIONARY = (
    "dict_customer_segments",
    "dict_multilevel_geo",
    "dict_lookup_defaults",
    "dict_brand_revenue",
)
HASHED_SOURCES = ("nation", "region")

# construction jobs after one warm call; each ran one footer
# schema-inference job per call before the memo
CEILING = {
    **dict.fromkeys(DASHBOARD, 0),
    "user_rfm": 0,
    "dedup_minhash": 0,
    **dict.fromkeys(DICTIONARY, len(HASHED_SOURCES)),
}


@pytest.mark.parametrize("name", sorted(CEILING))
def test_construction_jobs_ceiling(spark, name):
    if name in DICTIONARY:
        # the count must not depend on which views earlier tests left
        for t in HASHED_SOURCES:
            table(spark, SF_DIR, t).createOrReplaceTempView(t)
    fn = all_queries()[name].fn
    fn(spark, SF_DIR)  # warm: first reads infer each table's schema
    _, jobs = count_jobs(spark, fn, spark, SF_DIR)
    assert jobs == CEILING[name], f"{name}: {jobs} jobs before the action"
