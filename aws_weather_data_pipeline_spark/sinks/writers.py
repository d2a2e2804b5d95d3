"""Batch sinks (SURVEY §2.1 S7-S12).

The reference's sink surface, re-expressed Spark-first:

- S7  partitioned Parquet, hive layout ``year=/month=/day=/hour=`` —
  the reference partitions by columns it never derives
  (scripts/glue_weather_etl.py:483 partitions by year/month/day/hour,
  but no transform adds them: a latent bug). ``write_partitioned``
  derives them from the event timestamp before ``partitionBy``.
- S9  JSON batch sink (scripts/kinesis_to_s3.py:229-252 raw zone).
- S10 CSV sink (scripts/test_transformations.py:303-322).
- S11 idempotent append — the reference's ``INSERT ... ON CONFLICT
  (station_id, reading_timestamp) DO NOTHING``
  (airflow/src/load_to_postgres.py:294-321) becomes dedup + left-anti
  join against the key columns of the existing table
  (``append_missing``, shared by the parquet and JDBC targets).
- S12 aggregate upsert — ``ON CONFLICT DO UPDATE``
  (airflow/src/load_to_postgres.py:395-445) becomes dynamic partition
  overwrite (``overwrite_partitions``): recompute the affected
  (summary_date) partitions and replace exactly those.
"""

from __future__ import annotations

import os
from collections.abc import Callable
from functools import reduce
from operator import and_

from pyspark.sql import DataFrame, SparkSession, functions as F

from ..session import cached

#: Hive partition columns ``with_time_partitions`` derives.
TIME_PARTITIONS = ("year", "month", "day", "hour")


def with_time_partitions(df: DataFrame, ts_col: str) -> DataFrame:
    """Derive hive partition columns year/month/day/hour from ``ts_col``.

    Fixes the reference's S7 latent bug (partitionBy on columns that
    were never created). Zero-padded strings so lexicographic file
    listing equals chronological order, like the reference's consumer
    writes them (scripts/kinesis_to_s3.py:205-206).

    Refuses by name if the frame ALREADY carries any of the derived
    column names: withColumn would silently replace the caller's data
    with the fabricated partition value — the same reserved-name
    hazard the table log refuses loudly (_check_cdc_collisions).
    Rename or drop the colliding column;
    partition columns here are always derived, never trusted from
    the input (the reference's bug was the reverse).
    """
    clash = [c for c in TIME_PARTITIONS if c in df.columns]
    if clash:
        raise ValueError(
            f"with_time_partitions derives {clash} but the frame "
            "already has column(s) of those names — rename or drop "
            "them; derived partition columns are never taken from "
            "the input"
        )
    ts = F.col(ts_col)
    patterns = ("yyyy", "MM", "dd", "HH")
    return df.withColumns(
        {c: F.date_format(ts, p) for c, p in zip(TIME_PARTITIONS, patterns)}
    )


def write_partitioned(df: DataFrame, path: str) -> None:
    """S7: append Parquet partitioned by derived year/month/day/hour.

    Partition pruning on any downstream time-range predicate is then
    free; the partition count is bounded (one per hour), so no
    small-file explosion from over-partitioning by high-cardinality
    keys.
    """
    with_time_partitions(df, "timestamp_parsed").write.mode(
        "append"
    ).partitionBy(*TIME_PARTITIONS).parquet(path)


def overwrite_partitions(df: DataFrame, path: str, *cols: str) -> None:
    """S12: replace exactly the ``cols`` partitions present in ``df``.

    Spark's dynamic partition overwrite leaves every other partition
    untouched, so the reference's ``ON CONFLICT DO UPDATE`` per
    (city, summary_date) becomes "recompute the day, replace the day",
    and replaying a load (the Airflow retry semantics,
    weather_dag.py:376-457) rewrites the same partitions instead of
    duplicating rows.

    The mode is a per-WRITE option, not the session conf: a
    session-global toggle would let a concurrent writer in the same
    SparkSession run its overwrite in STATIC mode while another held
    the toggle — deleting every partition of its table, not just the
    batch's.
    """
    df.write.mode("overwrite").option(
        "partitionOverwriteMode", "dynamic"
    ).partitionBy(*cols).parquet(path)


def missing_keys(
    rows: DataFrame, existing: DataFrame, keys: list[str]
) -> DataFrame:
    """The ``rows`` whose key is absent from ``existing`` (LEFT ANTI).

    Keys match with ``eqNullSafe``: under plain equality a NULL key
    field never matches the identical existing row, so every replay
    would re-append it. ``dropDuplicates`` already treats NULLs as
    equal, so this makes the batch dedup and the anti-join agree.
    """
    ex = existing.select(*keys)
    cond = reduce(and_, [rows[k].eqNullSafe(ex[k]) for k in keys])
    return rows.join(ex, on=cond, how="left_anti")


def append_missing(
    new_rows: DataFrame,
    existing: DataFrame | None,
    keys: list[str],
    append: Callable[[DataFrame], None],
) -> int:
    """S11's one body: dedup ``new_rows`` on ``keys`` (the reference's
    A1 dedup, load_to_postgres.py:229-236), drop the rows whose key is
    in ``existing`` (``None``: the target holds no rows), and pass the
    remainder to ``append``. Returns the number of rows appended.

    The remainder is cached: count-then-write would otherwise run the
    dedup, the anti-join and the read of the target twice, and rows a
    concurrent writer added between the two runs would make the
    returned count disagree with what was appended.
    """
    to_insert = new_rows.dropDuplicates(keys)
    if existing is not None:
        to_insert = missing_keys(to_insert, existing, keys)
    with cached(to_insert) as to_insert:
        n = to_insert.count()
        if n:
            append(to_insert)
    return n


def idempotent_append(
    spark: SparkSession,
    new_rows: DataFrame,
    path: str,
    keys: list[str],
) -> int:
    """S11 into a parquet directory: append only the rows whose key is
    not already present. Returns the number of rows appended.

    The existing table is read with a declared schema of the key
    columns alone, so the anti-join scans only those columns and no
    job infers a schema. ``path`` is a local directory; a missing one
    is created first, so a first load reads an empty table like a
    pre-provisioned empty directory, and with no files to read the
    anti-join is skipped. A table that exists but cannot be read
    raises from the scan.
    """
    os.makedirs(path, exist_ok=True)
    existing = spark.read.schema(new_rows.select(*keys).schema).parquet(path)
    return append_missing(
        new_rows,
        existing if existing.inputFiles() else None,
        keys,
        lambda df: df.write.mode("append").parquet(path),
    )
