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
- ``jdbc_append_missing`` is ON CONFLICT DO NOTHING as a Spark plan:
  read back only the key columns (JDBC source prunes the projection
  server-side), LEFT ANTI join, append the remainder. Unlike the row-
  at-a-time upsert loop in the reference, conflict detection is one
  distributed join.

Tests run the whole path against Spark's bundled embedded Derby — a
real JDBC driver and database, no external service.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from ..session import cached
from .writers import missing_keys

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
    mode: str = "append",
    properties: dict[str, str] | None = None,
    max_connections: int = 8,
    column_types: str | None = None,
) -> None:
    """S11's named target: ``df.write.jdbc`` to the serving database.

    ``max_connections`` caps writer parallelism: each partition opens
    one connection, and a serving RDBMS melts under one-per-shuffle-
    partition (32 here, 1000s on a cluster). Serving extracts are tiny
    relative to the corpus, so the coalesce costs nothing.

    ``column_types`` (``createTableColumnTypes``) declares DDL types
    for table creation, e.g. ``"station_id VARCHAR(50), city
    VARCHAR(100)"`` per the reference's DDL — without it Spark maps
    StringType to the dialect's unbounded text type (CLOB on Derby),
    which many databases can't index or even compare in a predicate.
    """
    out = df
    if df.rdd.getNumPartitions() > max_connections:
        out = df.coalesce(max_connections)
    writer = out.write
    if column_types:
        writer = writer.option("createTableColumnTypes", column_types)
    writer.jdbc(url, table, mode=mode, properties=properties or {})


def jdbc_append_missing(
    spark: SparkSession,
    new_rows: DataFrame,
    url: str,
    table: str,
    keys: list[str],
    properties: dict[str, str] | None = None,
) -> int:
    """ON CONFLICT (keys) DO NOTHING, Spark-first
    (load_to_postgres.py:294-321): dedup the batch on the key, LEFT
    ANTI join against the key columns read back from the serving table,
    append only the rows whose key is absent. Returns rows appended.

    The read-back selects ONLY the key columns — the JDBC source pushes
    the projection to the database, so conflict detection transfers
    O(existing keys), not the table. Same shape at any scale; for a
    huge serving table, add a WHERE pushdown on the batch's date scope
    exactly like writers.idempotent_append scopes its anti-join.
    """
    props = properties or {}
    deduped = new_rows.dropDuplicates(keys)
    try:
        existing = spark.read.jdbc(url, table, properties=props).select(
            *keys
        )
    except Exception as exc:
        # first load against a fresh database: the serving table does
        # not exist yet, so there is nothing to conflict with and the
        # append below creates it — the parquet twin's PATH_NOT_FOUND
        # case. Matched conservatively on the driver's own "missing
        # table" wording; anything else (connection refused,
        # permissions) still propagates.
        msg = str(exc).lower()
        if not (
            table.lower() in msg
            and ("not exist" in msg or "not found" in msg)
        ):
            raise
        existing = None
    if existing is None:
        with cached(deduped) as to_insert:
            n = to_insert.count()
            if n:
                write_jdbc(
                    to_insert, url, table, mode="append",
                    properties=props,
                )
        return n
    # persist: count-then-write would otherwise run the anti-join —
    # including the DATABASE read — twice, and rows inserted by a
    # concurrent writer between the two executions would make the
    # returned n disagree with what was actually appended.
    with cached(missing_keys(deduped, existing, keys)) as to_insert:
        n = to_insert.count()
        if n:
            write_jdbc(
                to_insert, url, table, mode="append", properties=props
            )
    return n
