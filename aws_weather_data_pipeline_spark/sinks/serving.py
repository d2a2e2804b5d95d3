"""JDBC serving sink + DECIMAL serving boundary (SURVEY §1.2, §2.1 S11).

The reference's serving target is Postgres: Airflow loads transformed
readings with ``INSERT ... ON CONFLICT (station_id, reading_timestamp)
DO NOTHING`` (airflow/src/load_to_postgres.py:275-382) into tables whose
columns are DECLARED as fixed-point — ``temperature_celsius
DECIMAL(5,2)``, ``pressure_hpa DECIMAL(6,2)``, ``latitude
DECIMAL(10,6)``, … (sql/create_tables.sql:15-66) — while the Spark/Glue
compute path works in double throughout. This module re-expresses that
boundary Spark-first:

- compute stays double (Catalyst codegen, no decimal arithmetic in the
  hot path);
- ``to_serving_schema`` applies the declared DECIMAL types exactly once,
  at the serving edge (Spark's double→decimal cast rounds HALF_UP like
  Postgres' assignment cast, so values land as the reference's DB stores
  them);
- ``write_jdbc`` is the actual ``df.write.jdbc`` hop. Parallelism note:
  each input partition opens one JDBC connection and writes its rows —
  at 100 TB-pipeline scale the serving extract is the small end (daily
  summaries, current-status rows), so ``coalesce`` to a handful of
  partitions first rather than hammering the DB with one connection per
  shuffle partition;
- ``jdbc_append_missing`` is ON CONFLICT DO NOTHING as a Spark plan,
  the parquet sink's ``writers.append_missing``: read back only the key
  columns (JDBC source prunes the projection server-side), LEFT ANTI
  join, append the remainder. Unlike the row-at-a-time upsert loop in
  the reference, conflict detection is one distributed join.

Tests run the whole path against Spark's bundled embedded Derby — a
real JDBC driver and database, no external service.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from .writers import append_missing

#: The serving-table fixed-point declarations, straight from
#: sql/create_tables.sql:15-66 (weather_readings + daily_weather_summary
#: share column names and precisions).
SERVING_DECIMALS: dict[str, str] = {
    "latitude": "decimal(10,6)",
    "longitude": "decimal(10,6)",
    "temperature_celsius": "decimal(5,2)",
    "temperature_fahrenheit": "decimal(5,2)",
    "temperature_kelvin": "decimal(6,2)",
    "heat_index_celsius": "decimal(5,2)",
    "humidity_percent": "decimal(5,2)",
    "pressure_hpa": "decimal(6,2)",
    "wind_speed_kmh": "decimal(5,2)",
    "precipitation_mm": "decimal(6,2)",
    "visibility_km": "decimal(5,2)",
    "data_quality_score": "decimal(5,2)",
}


def to_serving_schema(df: DataFrame) -> DataFrame:
    """Cast every serving-declared column present in ``df`` to its
    DECIMAL type; all other columns pass through unchanged.

    The one place doubles become fixed-point — downstream (JDBC write,
    parquet serving extract) then stores exactly what the reference's
    Postgres DDL declares, and two loads of the same data are
    bit-identical (no double re-rounding drift between loads).
    """
    cols = [
        F.col(c).cast(SERVING_DECIMALS[c]).alias(c)
        if c in SERVING_DECIMALS
        else F.col(c)
        for c in df.columns
    ]
    return df.select(*cols)


def write_jdbc(
    df: DataFrame,
    url: str,
    table: str,
    properties: dict[str, str] | None = None,
    max_connections: int = 8,
    column_types: str | None = None,
) -> None:
    """S11's named target: append ``df`` to the serving database with
    ``df.write.jdbc``, creating the table if it does not exist.

    ``max_connections`` caps writer parallelism: each partition opens
    one connection, and a serving RDBMS melts under one-per-shuffle-
    partition (32 here, 1000s on a cluster). Serving extracts are tiny
    relative to the corpus, so the coalesce costs nothing; it never
    raises the partition count, so it needs no job to look first.

    ``column_types`` (``createTableColumnTypes``) declares DDL types
    for table creation, e.g. ``"station_id VARCHAR(50), city
    VARCHAR(100)"`` per the reference's DDL — without it Spark maps
    StringType to the dialect's unbounded text type (CLOB on Derby),
    which many databases can't index or even compare in a predicate.
    """
    writer = df.coalesce(max_connections).write
    if column_types:
        writer = writer.option("createTableColumnTypes", column_types)
    writer.jdbc(url, table, mode="append", properties=properties or {})


def jdbc_append_missing(
    spark: SparkSession,
    new_rows: DataFrame,
    url: str,
    table: str,
    keys: list[str],
    properties: dict[str, str] | None = None,
) -> int:
    """ON CONFLICT (keys) DO NOTHING, Spark-first
    (load_to_postgres.py:294-321): ``writers.append_missing`` against
    the key columns read back from the serving table. Returns rows
    appended.

    An empty append first creates the table if it does not exist (the
    dialect's own existence check), so a first load reads back an
    empty table instead of failing. The read-back selects ONLY the key
    columns — the JDBC source pushes the projection to the database,
    so conflict detection transfers O(existing keys), not the table.
    """
    props = properties or {}
    write_jdbc(new_rows.limit(0), url, table, properties=props)
    existing = spark.read.jdbc(url, table, properties=props).select(*keys)
    return append_missing(
        new_rows,
        existing,
        keys,
        lambda df: write_jdbc(df, url, table, properties=props),
    )
