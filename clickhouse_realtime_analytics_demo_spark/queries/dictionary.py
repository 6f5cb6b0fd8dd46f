"""Dictionary-enrichment queries (SURVEY.md J7) — oracle-checked.

Each query goes through the FULL gateway path: a ClickHouse-dialect
SQL string containing ``dictGet(...)`` is validated, dialect-rewritten
(plans/dialect.py -> plans/dictionaries.py) and executed by
``spark.sql`` — proving the reference's dictionary enrichment surface
(examples/sample_queries.sql:163-221) end-to-end, not just the
operator in isolation.

Physical plans: hashed-layout dictGets are constant map literals
(zero joins, zero shuffles, codegen-resident); view-layout dictGets
decorrelate into left outer joins whose dim side broadcasts under
AQE — the Spark physical analog of ClickHouse's in-RAM hash lookup.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from clickhouse_realtime_analytics_demo_spark.catalog import table
from clickhouse_realtime_analytics_demo_spark.plans import gateway
from clickhouse_realtime_analytics_demo_spark.plans.dictionaries import (
    dictionaries_named,
    register_dictionaries,
)
from clickhouse_realtime_analytics_demo_spark.queries.registry import register


def _gateway_query(spark: SparkSession, sf_dir: str, tables: tuple[str, ...], sql: str) -> DataFrame:
    for name in tables:
        table(spark, sf_dir, name).createOrReplaceTempView(name)
    register_dictionaries(spark, dictionaries_named(sql))
    return gateway.execute(spark, sql).df


@register(
    "dict_customer_segments",
    oracle="""
    SELECT coalesce(c.c_mktsegment, '') AS segment,
           COUNT(*) AS orders,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue
    FROM orders o LEFT JOIN customer c ON c.c_custkey = o.o_custkey
    WHERE o_orderstatus = 'F'
    GROUP BY 1
    ORDER BY segment
    """,
)
def dict_customer_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """dictGet enrichment replacing a fact⋈dim join (J7).

    Mirror of examples/sample_queries.sql:165-175 (enrich events with
    dict_users attributes) on the TPC-H star: orders enriched with
    ``dictGet('dict_customer', 'c_mktsegment', o_custkey)``. The
    view-layout dictGet decorrelates into a broadcast left outer hash
    join — ClickHouse's RAM hash lookup, Spark-physical.
    """
    return _gateway_query(
        spark,
        sf_dir,
        ("orders", "customer"),
        """
        SELECT segment,
               count() AS orders,
               CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue
        FROM (
            SELECT dictGet('dict_customer', 'c_mktsegment', o_custkey) AS segment,
                   o_totalprice
            FROM orders
            WHERE o_orderstatus = 'F'
        )
        GROUP BY segment
        ORDER BY segment
        """,
    )


@register(
    "dict_multilevel_geo",
    oracle="""
    SELECT coalesce(n.n_name, '') AS nation,
           coalesce(r.r_name, '') AS region,
           COUNT(*) AS orders,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue
    FROM orders o
    LEFT JOIN customer c ON c.c_custkey = o.o_custkey
    LEFT JOIN nation n ON n.n_nationkey = c.c_nationkey
    LEFT JOIN region r ON r.r_regionkey = n.n_regionkey
    GROUP BY 1, 2
    ORDER BY nation
    """,
)
def dict_multilevel_geo(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-level dictionary enrichment (sample_queries.sql:191-203).

    The reference chains dictGets (user -> country_code -> country
    metadata); here orders -> dict_customer (view layout, correlated
    subquery -> broadcast join) -> dict_nation/dict_region (hashed
    layout: 25- and 5-row dims collected into constant map literals,
    ClickHouse LAYOUT(HASHED()) verbatim — zero extra joins for the
    two outer levels).
    """
    return _gateway_query(
        spark,
        sf_dir,
        ("orders", "customer", "nation", "region"),
        """
        SELECT nation, region,
               count() AS orders,
               CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue
        FROM (
            SELECT dictGet('dict_nation', 'n_name', nk) AS nation,
                   dictGet('dict_region', 'r_name',
                           dictGetOrNull('dict_nation', 'n_regionkey', nk)) AS region,
                   o_totalprice
            FROM (
                -- OrNull for the chained key: a defaulted 0 would be a
                -- real n_nationkey and misattribute orphan orders to
                -- nation 0; NULL propagates like the LEFT-JOIN chain
                SELECT dictGetOrNull('dict_customer', 'c_nationkey', o_custkey) AS nk,
                       o_totalprice
                FROM orders
            )
        )
        GROUP BY nation, region
        ORDER BY nation
        """,
    )


@register(
    "dict_lookup_defaults",
    oracle="""
    SELECT s.s_suppkey % 30 AS probe_key,
           coalesce(n.n_name, 'UNKNOWN NATION') AS nation,
           CASE WHEN n.n_nationkey IS NULL THEN 0 ELSE 1 END AS has_key,
           COUNT(*) AS suppliers
    FROM supplier s LEFT JOIN nation n ON n.n_nationkey = s.s_suppkey % 30
    GROUP BY 1, 2, 3
    ORDER BY probe_key
    """,
)
def dict_lookup_defaults(spark: SparkSession, sf_dir: str) -> DataFrame:
    """dictGetOrDefault + dictHas through the gateway (VERDICT r4 #3;
    reference use 06-add-dictionaries.sql.disabled:139-183).

    Probe keys ``s_suppkey % 30`` cover both present (0-24) and absent
    (25-29) dict_nation keys, so the caller-supplied default
    ('UNKNOWN NATION', not the type default '') and the dictHas
    present/absent split are both hash-checked against a LEFT JOIN
    oracle. Hashed layout: both lookups are constant map literals —
    zero joins; dictHas probes a key-presence map, NOT an attribute's
    value map (a present key with a NULL attribute value must report
    1 — unit-tested in tests/test_dictionaries.py)."""
    return _gateway_query(
        spark,
        sf_dir,
        ("supplier", "nation"),
        """
        SELECT probe_key, nation, has_key, count() AS suppliers
        FROM (
            SELECT s_suppkey % 30 AS probe_key,
                   dictGetOrDefault('dict_nation', 'n_name', s_suppkey % 30,
                                    'UNKNOWN NATION') AS nation,
                   CAST(dictHas('dict_nation', s_suppkey % 30) AS INT) AS has_key
            FROM supplier
        )
        GROUP BY probe_key, nation, has_key
        ORDER BY probe_key
        """,
    )


@register(
    "dict_brand_revenue",
    oracle="""
    SELECT coalesce(p.p_brand, '') AS brand,
           COUNT(*) AS line_count,
           CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue
    FROM lineitem l LEFT JOIN part p ON p.p_partkey = l.l_partkey
    GROUP BY 1
    ORDER BY brand
    """,
)
def dict_brand_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fact-scale dictGet (sample_queries.sql:177-189 analog): every
    lineitem row enriched via ``dictGet('dict_part', 'p_brand', ...)``.

    Scale: the decorrelated dict relation is deduplicated on the key
    and broadcast; the fact side never shuffles before the final
    group-by on the enriched (low-cardinality) brand.
    """
    return _gateway_query(
        spark,
        sf_dir,
        ("lineitem", "part"),
        """
        SELECT brand,
               count() AS line_count,
               CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue
        FROM (
            SELECT dictGet('dict_part', 'p_brand', l_partkey) AS brand,
                   l_extendedprice
            FROM lineitem
        )
        GROUP BY brand
        ORDER BY brand
        """,
    )
