"""SQL view layer: the catalog as ``spark.sql``-queryable temp views.

The reference serves its analytics through named Postgres views
(``recent_weather_alerts``, ``current_weather_status``,
``daily_weather_summary`` — sql/create_tables.sql:89-218) that users
query with plain SQL. This module gives the engine the same dual entry
point (SURVEY §7.2-5): every catalog query registers as a temp view
named after itself, plus the base tables, so

    spark.sql("SELECT * FROM weather_current_status WHERE city = 'x'")

works alongside the DataFrame API. Views are lazy logical plans —
registering all of them costs nothing until queried, and Catalyst
optimizes THROUGH a view (filters push into the underlying scans).
"""

from __future__ import annotations

from pyspark.sql import SparkSession

from ..sources.tables import register_views
from .catalog import build_catalog


def register_catalog_views(
    spark: SparkSession, sf_dir: str, names: list[str] | None = None
) -> list[str]:
    """Register base tables + catalog queries as temp views.

    ``names`` restricts which catalog entries to register (default:
    every non-iterative query). Returns the registered view names.

    Queries tagged ``iterative`` (connected components) are EXCLUDED
    by default: their builders run Spark actions to convergence, which
    would break this function's registration-is-free contract. Pass
    them explicitly via ``names`` to opt in. A name that is not a
    catalog query raises ``ValueError`` before anything is registered.
    """
    catalog = build_catalog()
    unknown = sorted(set(names or ()) - set(catalog.queries))
    if unknown:
        raise ValueError(f"not catalog queries: {unknown}")
    register_views(spark, sf_dir)
    registered = []
    for name, q in catalog.queries.items():
        if names is None:
            if "iterative" in q.tags:
                continue
        elif name not in names:
            continue
        q.builder(spark, sf_dir).createOrReplaceTempView(name)
        registered.append(name)
    return registered
