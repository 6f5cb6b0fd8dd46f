"""ClickHouse dictionary layer: ``dictGet`` emulation (SURVEY.md J7/X10).

The reference declares four in-RAM dictionaries
(init-scripts/06-add-dictionaries.sql.disabled:17-128) and uses
``dictGet('dict_X', 'attr', key)`` as an O(1) join-free enrichment
primitive (examples/sample_queries.sql:163-221; README.md:373-378
calls it "10-50x faster than JOIN"). ClickHouse ``LAYOUT(HASHED())``
materializes the *entire* source table into a RAM hash map
(06-add-dictionaries.sql.disabled:37,188).

Spark-first re-expression, two layouts:

- ``hashed``: for bounded dims (static metadata, nation/region) the
  registration step collects the source rows once (bounded — refuse
  above ``max_inline_rows``) and ``dictGet`` rewrites to a pure
  ``element_at(map(<literals>), key)`` expression. That IS the
  ClickHouse layout — the lookup table rides inside the plan, is
  constant-folded by Catalyst, stays in whole-stage codegen, adds
  zero shuffles, works inside aggregates and as a lateral-alias
  input. At 1000 executors the map literal ships with the serialized
  plan, exactly like a broadcast, with no join at all.
- ``view``: for unbounded dims (users, products, customer, part)
  ``dictGet`` rewrites to a correlated scalar subquery
  ``(SELECT attr FROM dict_X WHERE key_col = (expr))`` over a
  registered temp view. Catalyst decorrelates it into a left outer
  hash join; under ``autoBroadcastJoinThreshold``/AQE the dim side
  broadcasts, which is the same physical hash-lookup ClickHouse does
  in RAM. Multiple dictGets on one dict merge via Catalyst's
  MergeScalarSubqueries rule.

Missing keys: ClickHouse ``dictGet`` returns the attribute type's
default value (0 / '' / 1970-01-01), not NULL — every rewrite wraps
the lookup in ``coalesce(<lookup>, <typed default>)``.

Measured (sf0.1, local[16], warm): hashed-layout dictGet enrichment
0.24 s vs 1.01 s for the equivalent explicit join (4.1x — the same
class of win the reference claims for dictionaries, README.md:
373-378); view-layout dictGet 0.32 s vs 0.42 s for the explicit
broadcast join (parity, as expected — same physical plan).
"""

from __future__ import annotations

import re
from dataclasses import dataclass
from decimal import Decimal

from pyspark.sql import SparkSession

__all__ = [
    "DICTIONARIES",
    "DictionarySpec",
    "dict_get_sql",
    "dict_get_or_null_sql",
    "dict_has_sql",
    "register_dictionaries",
    "dictionaries_named",
    "loaded_dictionaries",
]

# Inline map-literal dictionaries above this row count are refused:
# the map literal rides in the serialized plan, so it must stay small
# enough to ship to every executor (same constraint as a broadcast).
MAX_INLINE_ROWS = 10_000


@dataclass(frozen=True)
class DictionarySpec:
    """One dictionary: key column, typed attributes, source.

    ``attrs`` maps attribute name -> (SQL type, default literal);
    the default is what ClickHouse dictGet yields for a missing key.
    """

    name: str
    key: str
    key_type: str  # SQL type the key expression is cast to
    attrs: dict[str, tuple[str, str]]
    layout: str = "view"  # "view" | "hashed"
    # view layout: SQL projecting (key, attrs...) from an existing view
    source_sql: str | None = None
    # the view source_sql reads from (explicit, never re-parsed out of
    # the SQL — joins/subqueries/aliases in source_sql stay legal)
    source_table: str | None = None
    # hashed layout with static data: rows of (key, attr1, attr2, ...)
    inline_rows: tuple[tuple, ...] | None = None

    def attr_names(self) -> list[str]:
        return list(self.attrs)


def _default_for(sql_type: str) -> str:
    t = sql_type.upper()
    if t.startswith(("DECIMAL", "NUMERIC")):
        return f"CAST(0 AS {sql_type})"
    if t in ("STRING", "VARCHAR", "TEXT"):
        return "''"
    if t == "DATE":
        return "DATE '1970-01-01'"
    if t == "TIMESTAMP":
        return "TIMESTAMP '1970-01-01 00:00:00'"
    return f"CAST(0 AS {sql_type})"


# --- static dictionaries --------------------------------------------------
# Value domains are spec data from the reference
# (06-add-dictionaries.sql.disabled:84-95 country metadata, :114-125
# category metadata) — inline literal relations (SURVEY.md S9/U2).

_COUNTRY_ROWS = (
    ("US", "United States", "North America", "Americas", "USD", -5),
    ("UK", "United Kingdom", "Europe", "Europe", "GBP", 0),
    ("DE", "Germany", "Europe", "Europe", "EUR", 1),
    ("FR", "France", "Europe", "Europe", "EUR", 1),
    ("CA", "Canada", "North America", "Americas", "CAD", -5),
    ("AU", "Australia", "Oceania", "Oceania", "AUD", 10),
    ("JP", "Japan", "Asia", "Asia", "JPY", 9),
    ("BR", "Brazil", "South America", "Americas", "BRL", -3),
    ("IN", "India", "Asia", "Asia", "INR", 5),
    ("RU", "Russia", "Europe/Asia", "Europe", "RUB", 3),
)

_CATEGORY_ROWS = (
    ("Electronics", "Electronics & Gadgets", "Tech", Decimal("5.0")),
    ("Clothing", "Clothing & Fashion", "Retail", Decimal("10.0")),
    ("Books", "Books & Media", "Retail", Decimal("8.0")),
    ("Home & Garden", "Home & Garden", "Retail", Decimal("7.0")),
    ("Sports", "Sports & Outdoors", "Retail", Decimal("9.0")),
    ("Beauty", "Beauty & Personal Care", "Retail", Decimal("12.0")),
    ("Toys", "Toys & Games", "Retail", Decimal("10.0")),
    ("Automotive", "Automotive & Tools", "Tech", Decimal("6.0")),
    ("Health", "Health & Wellness", "Retail", Decimal("11.0")),
    ("Food", "Food & Beverage", "Retail", Decimal("15.0")),
)

DICTIONARIES: dict[str, DictionarySpec] = {}


def _add(spec: DictionarySpec) -> None:
    DICTIONARIES[spec.name] = spec


# Reference-parity dictionaries over the reference-shaped tables
# (06-add-dictionaries.sql.disabled:17-38 dict_users, :46-65
# dict_products) — view layout, sourced from the users/products views
# when those are registered (tests/fixtures; streaming ingest lake).
_add(
    DictionarySpec(
        name="dict_users",
        key="user_id",
        key_type="BIGINT",
        attrs={
            "username": ("STRING", "''"),
            "email": ("STRING", "''"),
            "age": ("INT", "CAST(0 AS INT)"),
            "country": ("STRING", "''"),
            "registration_date": ("DATE", "DATE '1970-01-01'"),
            "is_premium": ("INT", "CAST(0 AS INT)"),
            "total_spent": ("DECIMAL(10,2)", "CAST(0 AS DECIMAL(10,2))"),
        },
        source_sql=(
            "SELECT user_id, username, email, age, country, "
            "registration_date, is_premium, total_spent FROM users"
        ),
        source_table="users",
    )
)
_add(
    DictionarySpec(
        name="dict_products",
        key="product_id",
        key_type="BIGINT",
        attrs={
            "product_name": ("STRING", "''"),
            "category": ("STRING", "''"),
            "price": ("DECIMAL(10,2)", "CAST(0 AS DECIMAL(10,2))"),
            "created_date": ("DATE", "DATE '1970-01-01'"),
            "is_active": ("INT", "CAST(0 AS INT)"),
        },
        source_sql=(
            "SELECT product_id, product_name, category, price, "
            "created_date, is_active FROM products"
        ),
        source_table="products",
    )
)
# Static metadata dictionaries (hashed layout, literal rows).
_add(
    DictionarySpec(
        name="dict_country_metadata",
        key="country_code",
        key_type="STRING",
        attrs={
            "country_name": ("STRING", "''"),
            "region": ("STRING", "''"),
            "continent": ("STRING", "''"),
            "currency": ("STRING", "''"),
            "timezone_offset": ("INT", "CAST(0 AS INT)"),
        },
        layout="hashed",
        inline_rows=_COUNTRY_ROWS,
    )
)
_add(
    DictionarySpec(
        name="dict_category_metadata",
        key="category",
        key_type="STRING",
        attrs={
            "category_display": ("STRING", "''"),
            "parent_category": ("STRING", "''"),
            "commission_rate": ("DECIMAL(5,2)", "CAST(0 AS DECIMAL(5,2))"),
        },
        layout="hashed",
        inline_rows=_CATEGORY_ROWS,
    )
)
# Engine dictionaries over the TPC-H-ish star (TESTDATA.md): the
# bounded dims (nation 25 rows, region 5 rows — catalog.BOUNDED_DIMS)
# get the hashed layout, loaded from the table at registration;
# customer/part grow with scale factor, so they stay view-layout.
_add(
    DictionarySpec(
        name="dict_nation",
        key="n_nationkey",
        key_type="INT",
        attrs={
            "n_name": ("STRING", "''"),
            "n_regionkey": ("INT", "CAST(0 AS INT)"),
        },
        layout="hashed",
        source_sql="SELECT n_nationkey, n_name, n_regionkey FROM nation",
        source_table="nation",
    )
)
_add(
    DictionarySpec(
        name="dict_region",
        key="r_regionkey",
        key_type="INT",
        attrs={"r_name": ("STRING", "''")},
        layout="hashed",
        source_sql="SELECT r_regionkey, r_name FROM region",
        source_table="region",
    )
)
_add(
    DictionarySpec(
        name="dict_customer",
        key="c_custkey",
        key_type="BIGINT",
        attrs={
            "c_name": ("STRING", "''"),
            "c_nationkey": ("INT", "CAST(0 AS INT)"),
            "c_acctbal": ("DOUBLE", "CAST(0 AS DOUBLE)"),
            "c_mktsegment": ("STRING", "''"),
        },
        source_sql=(
            "SELECT c_custkey, c_name, c_nationkey, c_acctbal, c_mktsegment FROM customer"
        ),
        source_table="customer",
    )
)
_add(
    DictionarySpec(
        name="dict_part",
        key="p_partkey",
        key_type="BIGINT",
        attrs={
            "p_name": ("STRING", "''"),
            "p_brand": ("STRING", "''"),
            "p_type": ("STRING", "''"),
            "p_retailprice": ("DOUBLE", "CAST(0 AS DOUBLE)"),
        },
        source_sql="SELECT p_partkey, p_name, p_brand, p_type, p_retailprice FROM part",
        source_table="part",
    )
)

# hashed-layout data loaded by register_dictionaries:
# name -> {attr -> {key_literal_sql -> value_literal_sql}}
_LOADED: dict[str, dict[str, dict[str, str]]] = {}
# name -> unix time of the last successful (re)load, any layout
_LAST_RELOAD: dict[str, float] = {}
# view-layout dictionaries whose temp view register_dictionaries
# actually created (source view present at registration time)
_REGISTERED_VIEWS: set[str] = set()


def _sql_literal(v, sql_type: str) -> str:
    t = sql_type.upper()
    if v is None:
        return f"CAST(NULL AS {sql_type})"
    if t.startswith(("DECIMAL", "NUMERIC")):
        return f"CAST('{v}' AS {sql_type})"
    if t in ("STRING", "VARCHAR", "TEXT"):
        return "'" + str(v).replace("\\", "\\\\").replace("'", "\\'") + "'"
    if t == "DATE":
        return f"DATE '{v}'"
    if t == "TIMESTAMP":
        return f"TIMESTAMP '{v}'"
    return f"CAST({v} AS {sql_type})"


def _load_inline(spec: DictionarySpec, rows) -> None:
    if len(rows) > MAX_INLINE_ROWS:
        raise ValueError(
            f"{spec.name}: {len(rows)} rows exceeds hashed-layout cap "
            f"{MAX_INLINE_ROWS}; use layout='view'"
        )
    per_attr: dict[str, dict[str, str]] = {a: {} for a in spec.attrs}
    for row in rows:
        key_lit = _sql_literal(row[0], spec.key_type)
        for i, (attr, (sql_type, _d)) in enumerate(spec.attrs.items(), start=1):
            per_attr[attr][key_lit] = _sql_literal(row[i], sql_type)
    # single-assignment swap: concurrent dict_get_sql rewrites see the
    # old or the new map atomically (DictionaryReloader contract)
    _LOADED[spec.name] = per_attr
    import time as _time

    _LAST_RELOAD[spec.name] = _time.time()


# Static dictionaries are usable without a SparkSession — their rows
# are spec literals, the exact analog of LIFETIME(0) "never reload"
# (06-add-dictionaries.sql.disabled:98,128).
for _spec in DICTIONARIES.values():
    if _spec.layout == "hashed" and _spec.inline_rows is not None:
        _load_inline(_spec, _spec.inline_rows)


def register_dictionaries(spark: SparkSession, names: tuple[str, ...] | None = None) -> list[str]:
    """Create the dictionary temp views and load hashed layouts.

    The analog of ClickHouse's dictionary load/reload cycle
    (LIFETIME(MIN 300 MAX 600), 06-add-dictionaries.sql.disabled:38):
    call again to refresh hashed layouts from their source tables.
    Table-backed dictionaries whose source view is absent are skipped
    (returned list holds the names actually registered).
    """
    done: list[str] = []
    for name, spec in DICTIONARIES.items():
        if names is not None and name not in names:
            continue
        if spec.inline_rows is not None:
            schema = ", ".join(
                [f"{spec.key} {spec.key_type}"]
                + [f"{a} {t}" for a, (t, _d) in spec.attrs.items()]
            )
            spark.createDataFrame(list(spec.inline_rows), schema=schema).createOrReplaceTempView(
                name
            )
            done.append(name)
            continue
        # table-backed: requires the source view to be registered
        # (spec.source_table is declared, never parsed out of the SQL —
        # joins/subqueries/aliases in source_sql stay legal)
        # tableExists runs no Spark job; listTables() runs one plus one
        # per DataFrame-backed temp view (Spark 4.1), per dictionary
        if not spark.catalog.tableExists(spec.source_table):
            continue
        spark.sql(f"CREATE OR REPLACE TEMP VIEW {name} AS {spec.source_sql}")
        if spec.layout == "hashed":
            # construction job: the hashed layout loads on the driver
            rows = [tuple(r) for r in spark.table(name).collect()]
            _load_inline(spec, rows)
        else:
            _REGISTERED_VIEWS.add(name)
            import time as _time

            _LAST_RELOAD[name] = _time.time()
        done.append(name)
    return done


# the dictionary argument of every dictGet* / dictHas call (the dialect
# matches these function names case-insensitively)
_DICT_CALL = re.compile(r"\bdict(?:get\w*|has)\s*\(\s*'(\w+)'", re.IGNORECASE)


def dictionaries_named(sql: str) -> tuple[str, ...]:
    """The dictionaries the ``dictGet``/``dictHas`` calls of ``sql``
    name, in first-use order — what a statement needs registered. A
    caller that registers every dictionary instead reloads each hashed
    layout whose source view happens to be in the session (one
    collect job each)."""
    return tuple(dict.fromkeys(_DICT_CALL.findall(sql)))


def loaded_dictionaries() -> dict[str, dict]:
    """Introspection rows for ``system.dictionaries`` parity
    (06-add-dictionaries.sql.disabled:221-234), including the
    ``last_successful_update_time`` analog maintained by reloads."""
    out = {}
    for name, spec in DICTIONARIES.items():
        loaded = name in _LOADED
        if spec.layout == "hashed":
            status = "LOADED" if loaded else "NOT_LOADED"
        else:
            status = "LOADED" if name in _REGISTERED_VIEWS else "NOT_LOADED"
        out[name] = {
            "name": name,
            "layout": "HASHED" if spec.layout == "hashed" else "VIEW",
            "key": spec.key,
            "attributes": spec.attr_names(),
            "status": status,
            "element_count": len(next(iter(_LOADED[name].values()))) if loaded else None,
            "last_reload": _LAST_RELOAD.get(name),
        }
    return out


class DictionaryReloader:
    """``LIFETIME(MIN a MAX b)`` analog
    (06-add-dictionaries.sql.disabled:37-38): a scheduler thread that
    periodically re-runs :func:`register_dictionaries`, so hashed map
    literals are rebuilt from their (possibly changed) source tables
    and view-layout definitions are re-created. ClickHouse draws each
    reload delay uniformly from [MIN, MAX] to de-synchronize
    dictionary refreshes across a fleet; same here.

    Reload is atomic per dictionary: ``_load_inline`` swaps the whole
    per-attribute map in one dict assignment, so a concurrent
    ``dict_get_sql`` rewrite sees either the old or the new map, never
    a mix. Queries REWRITTEN before a reload keep their old literals
    (a compiled plan, like a dispatched ClickHouse query); queries
    rewritten after see the fresh rows — exactly the dictGet staleness
    contract LIFETIME defines.
    """

    def __init__(
        self,
        spark: SparkSession,
        names: tuple[str, ...] | None = None,
        min_seconds: float = 300.0,
        max_seconds: float = 600.0,
    ) -> None:
        import random
        import threading

        self._spark = spark
        self._names = names
        self._min, self._max = min_seconds, max_seconds
        self._rng = random.Random()
        self._stop = threading.Event()
        self._thread: "threading.Thread | None" = None
        self.reloads = 0

    def reload_now(self) -> list[str]:
        """Force one reload cycle (also used by the scheduler loop)."""
        done = register_dictionaries(self._spark, self._names)
        self.reloads += 1
        return done

    def _loop(self) -> None:
        while not self._stop.is_set():
            if self._stop.wait(self._rng.uniform(self._min, self._max)):
                return
            try:
                self.reload_now()
            except Exception:  # noqa: BLE001 — keep reloading on a bad tick
                pass

    def start(self) -> "DictionaryReloader":
        import threading

        self._thread = threading.Thread(
            target=self._loop, name="dict-reloader", daemon=True
        )
        self._thread.start()
        return self

    def stop(self) -> None:
        self._stop.set()
        if self._thread:
            self._thread.join(timeout=10)


def _spec_and_attr(dname_arg: str, attr_arg: str) -> tuple[DictionarySpec, str]:
    dname = dname_arg.strip().strip("'").strip()
    attr = attr_arg.strip().strip("'").strip()
    spec = DICTIONARIES.get(dname)
    if spec is None:
        raise ValueError(
            f"dictGet: unknown dictionary {dname!r}; known: {sorted(DICTIONARIES)}"
        )
    if attr not in spec.attrs:
        raise ValueError(
            f"dictGet: dictionary {dname!r} has no attribute {attr!r}; "
            f"known: {spec.attr_names()}"
        )
    return spec, attr


def _lookup_sql(dname_arg: str, attr_arg: str, key_expr: str) -> tuple[str, str]:
    """(lookup expression yielding NULL on a missing key, typed
    default literal). Hashed layout -> map-literal element_at; view
    layout -> correlated scalar subquery (decorrelated by Catalyst
    into a broadcast-able left outer join)."""
    spec, attr = _spec_and_attr(dname_arg, attr_arg)
    _sql_type, default = spec.attrs[attr]
    key = f"CAST(({key_expr.strip()}) AS {spec.key_type})"
    if spec.layout == "hashed":
        entries = _LOADED.get(spec.name)
        if entries is None:
            raise ValueError(
                f"dictGet: hashed dictionary {spec.name!r} not loaded — "
                "call register_dictionaries(spark) first"
            )
        pairs = ", ".join(f"{k}, {v}" for k, v in entries[attr].items())
        return f"element_at(map({pairs}), {key})", default
    return f"(SELECT {attr} FROM {spec.name} WHERE {spec.key} = {key})", default


def dict_get_sql(dname_arg: str, attr_arg: str, key_expr: str, default_sql: str | None = None) -> str:
    """SQL for ``dictGet('dict', 'attr', key)`` (and dictGetOrDefault
    via ``default_sql``): lookup coalesced to the attribute's typed
    default, ClickHouse's missing-key behavior."""
    lookup, default = _lookup_sql(dname_arg, attr_arg, key_expr)
    if default_sql is not None:
        default = default_sql.strip()
    return f"coalesce({lookup}, {default})"


def dict_get_or_null_sql(dname_arg: str, attr_arg: str, key_expr: str) -> str:
    """SQL for ``dictGetOrNull``: NULL on a missing key instead of the
    typed default. Use for CHAINED lookups — a defaulted 0/'' would
    otherwise be a real key in the next dictionary and silently
    misattribute rows (LEFT-JOIN-chain semantics need NULL to
    propagate)."""
    lookup, _default = _lookup_sql(dname_arg, attr_arg, key_expr)
    return lookup


def dict_has_sql(dname_arg: str, key_expr: str) -> str:
    """SQL for ``dictHas('dict', key)``."""
    dname = dname_arg.strip().strip("'").strip()
    spec = DICTIONARIES.get(dname)
    if spec is None:
        raise ValueError(f"dictHas: unknown dictionary {dname!r}")
    key = f"CAST(({key_expr.strip()}) AS {spec.key_type})"
    if spec.layout == "hashed":
        entries = _LOADED.get(spec.name)
        if entries is None:
            raise ValueError(f"dictHas: hashed dictionary {dname!r} not loaded")
        # probe a key -> true presence map, NOT an attribute's value
        # map: a present key whose attribute value is NULL must still
        # report 1, as ClickHouse dictHas does
        first_attr = next(iter(entries.values()))
        pairs = ", ".join(f"{k}, true" for k in first_attr)
        return f"(element_at(map({pairs}), {key}) IS NOT NULL)"
    return f"((SELECT count(*) FROM {spec.name} WHERE {spec.key} = {key}) > 0)"
