"""Query catalog registry.

Every operator the engine claims (SURVEY §2 inventory + north-star ops)
registers here as a named query over the driver testdata tables, paired —
wherever ANSI SQL can express it — with a DuckDB oracle twin. The driver
harness consumes this through ``__spark_entry__.queries()`` /
``oracle_sql()``; local tests replay the identical comparison at small SF.

Determinism contract (what makes hash-exact comparison possible):

1. Aggregations over ``double`` columns route through DECIMAL
   intermediates (exact, order-independent under Spark's partial
   aggregation and DuckDB's parallel aggregation alike), cast back to
   ``double`` only at the end. ``AVG`` is always written as
   ``CAST(SUM(decimal) AS DOUBLE) / COUNT(*)`` because Spark's decimal
   AVG and DuckDB's disagree on result type/rounding.
2. Any "pick a row" operator (dedup, latest-per-group, top-k) breaks
   ties on a unique key so both engines select the same row.
3. Column names are aliased identically on both sides (the driver
   sorts columns by name before hashing).
"""

from __future__ import annotations

from collections.abc import Callable
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession

Builder = Callable[[SparkSession, str], DataFrame]


@dataclass
class CatalogQuery:
    name: str
    builder: Builder
    oracle: str  # ANSI SQL for DuckDB
    doc: str = ""
    tags: tuple[str, ...] = ()


@dataclass
class QueryCatalog:
    queries: dict[str, CatalogQuery] = field(default_factory=dict)

    def add(
        self,
        name: str,
        oracle: str,
        doc: str = "",
        tags: tuple[str, ...] = (),
    ) -> Callable[[Builder], Builder]:
        """Decorator: register ``fn(spark, sf_dir) -> DataFrame`` with
        its DuckDB twin ``oracle``."""
        if not oracle:
            raise ValueError(f"catalog query {name} has no oracle SQL")

        def wrap(fn: Builder) -> Builder:
            if name in self.queries:
                raise ValueError(f"duplicate catalog query: {name}")
            self.queries[name] = CatalogQuery(name, fn, oracle, doc, tags)
            return fn

        return wrap

    def merge(self, other: "QueryCatalog") -> None:
        for name, q in other.queries.items():
            if name in self.queries:
                raise ValueError(f"duplicate catalog query: {name}")
            self.queries[name] = q

    def builders(self) -> dict[str, Builder]:
        return {n: q.builder for n, q in self.queries.items()}

    def oracles(self) -> dict[str, str]:
        return {n: q.oracle for n, q in self.queries.items()}
