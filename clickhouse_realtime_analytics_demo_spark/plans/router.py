"""Projection router — the engine analog of ClickHouse projections
(SURVEY §4 X4; reference DDL 03-add-projections.sql:18-99, optimizer
mechanism :124-135).

The reference keeps K alternate physical sort orders of a hot table
and lets the server pick the copy whose sort prefix matches a query's
leading filter. Spark has no such rule, so this is deliberate engine
code: a registry of sorted copies per logical table plus a
deterministic resolver that scores each copy by how long a prefix of
its sort key is covered by the query's equality/range predicates.

Physics: every copy is a plain parquet dataset sorted within files by
its key, so parquet row-group min/max stats skip non-matching granules
— the same mechanism as the reference's sparse primary index, on a
different copy per access path. Pre-aggregated projections
(03-add-projections.sql:45-55) are ordinary MVs here (streaming/mv.py)
— not routed by this module.

At 100 TB the copies are maintained by the same partitioned writer the
base table uses (sources/writer.py); storage cost is K×, which is the
same trade the reference makes.
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession

from clickhouse_realtime_analytics_demo_spark import catalog


@dataclass(frozen=True)
class ProjectionCopy:
    name: str  # e.g. "events_by_user"
    sort_key: tuple[str, ...]  # leading-prefix match target
    path: str  # parquet dataset location


@dataclass
class ProjectionRouter:
    """Registry + resolver for sorted copies of logical tables."""

    copies: dict[str, list[ProjectionCopy]] = field(default_factory=dict)
    # query-log style record of routing decisions, mirroring the
    # reference's EXPLAIN "Projection Name:" output (X13).
    decisions: list[tuple[str, frozenset[str], str]] = field(default_factory=list)

    def add_copy(
        self,
        spark: SparkSession,
        table_name: str,
        df: DataFrame,
        sort_key: tuple[str, ...],
        base_path: str,
        copy_name: str | None = None,
        files: int = 1,
    ) -> ProjectionCopy:
        """Materialize a sorted copy (repartition by leading key then
        sort within partitions — the write-side cost of the access
        path, paid once per refresh)."""
        copy_name = copy_name or f"{table_name}_by_{'_'.join(sort_key)}"
        path = f"{base_path}/{copy_name}"
        (
            df.repartition(files, *sort_key[:1])
            .sortWithinPartitions(*sort_key)
            .write.mode("overwrite")
            .parquet(path)
        )
        copy = ProjectionCopy(copy_name, tuple(sort_key), path)
        self.copies.setdefault(table_name, []).append(copy)
        return copy

    def register_existing(self, table_name: str, copy: ProjectionCopy) -> None:
        self.copies.setdefault(table_name, []).append(copy)

    @staticmethod
    def _score(sort_key: tuple[str, ...], filter_cols: frozenset[str]) -> int:
        """Length of the sort-key prefix covered by filtered columns —
        the granule-skipping power of this copy for this query."""
        n = 0
        for col in sort_key:
            if col not in filter_cols:
                break
            n += 1
        return n

    def choose(self, table_name: str, filter_cols: frozenset[str]) -> ProjectionCopy | None:
        """Deterministic pick: longest covered prefix wins, ties break
        by registration order (first wins, like the reference's
        deterministic projection choice)."""
        best: ProjectionCopy | None = None
        best_score = 0
        for copy in self.copies.get(table_name, []):
            s = self._score(copy.sort_key, filter_cols)
            if s > best_score:
                best, best_score = copy, s
        return best

    def resolve(
        self,
        spark: SparkSession,
        table_name: str,
        base_df: DataFrame,
        filter_cols: frozenset[str] | set[str],
    ) -> DataFrame:
        """Return the best physical copy for a query filtering on
        ``filter_cols``; fall back to the base table. Logs the decision
        so EXPLAIN-style introspection can show which copy served a
        query (the reference's ``EXPLAIN indexes=1`` projection line)."""
        filter_cols = frozenset(filter_cols)
        copy = self.choose(table_name, filter_cols)
        if copy is None:
            self.decisions.append((table_name, filter_cols, "<base>"))
            return base_df
        self.decisions.append((table_name, filter_cols, copy.name))
        return catalog.read_parquet(spark, copy.path)
