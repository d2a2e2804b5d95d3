"""Loaders for the driver-provided parquet tables.

Counterpart of the reference's batch scans (SURVEY §2.1 S4-S6): where the
reference hand-lists S3 keys and pd.concat's per-file reads
(airflow/src/load_to_postgres.py:89-172), we hand the whole directory to
``spark.read.parquet`` and let Catalyst do partition pruning, predicate
pushdown, and column pruning. Explicit schemas are unnecessary here
because parquet is self-describing; JSON/CSV readers (readers.py) always
declare schemas (reference scripts/glue_weather_etl.py:50-57).
"""

from __future__ import annotations

import os
from functools import lru_cache

from pyspark.sql import DataFrame, SparkSession, functions as F

TABLE_NAMES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)


@lru_cache(maxsize=256)
def _timestamp_columns(
    path: str, mtime_ns: int
) -> tuple[tuple[str, ...], tuple[str, ...]]:
    """``(nanos_cols, ntz_cols)`` for the parquet file at ``path``.

    Read from the parquet footer (pyarrow), so the repairs below are
    keyed on each file's actual logical type — not on hardcoded column
    names. ``nanos_cols`` are TIMESTAMP(NANOS) (Spark has no native
    type); ``ntz_cols`` are µs/ms timestamps with isAdjustedToUTC=false,
    which Spark reads as TIMESTAMP_NTZ. ``mtime_ns`` is part of the
    cache key so a file REWRITTEN in-process with a different
    timestamp schema gets a fresh footer read instead of the stale
    repair plan (review r06).
    """
    import pyarrow.parquet as pq
    import pyarrow.types as pat

    schema = pq.read_schema(path)
    ts = [f for f in schema if pat.is_timestamp(f.type)]
    # NESTED timestamps can't be repaired with a top-level withColumn
    # (review r11): a struct<created: timestamp[ns]> used to sail past
    # this footer scan and die inside spark.read with the opaque
    # "Illegal Parquet type: INT64 (TIMESTAMP(NANOS))"; a nested
    # non-UTC µs timestamp silently loaded as TIMESTAMP_NTZ, violating
    # the session-TZ invariant downstream arithmetic assumes. Detect
    # recursively and refuse with a named error — restructure the
    # producer's file (top-level the column, or write µs UTC) rather
    # than silently serving wrong types.
    def _nested_offenders(typ, path_parts):
        out = []
        if pat.is_timestamp(typ):
            if path_parts and (typ.unit == "ns" or typ.tz is None):
                out.append(".".join(path_parts))
        elif pat.is_struct(typ):
            for i in range(typ.num_fields):
                f = typ.field(i)
                out += _nested_offenders(f.type, path_parts + [f.name])
        elif pat.is_list(typ) or pat.is_large_list(typ):
            out += _nested_offenders(
                typ.value_type, path_parts + ["element"]
            )
        elif pat.is_map(typ):
            out += _nested_offenders(typ.item_type, path_parts + ["value"])
        return out

    nested = []
    for f in schema:
        if not pat.is_timestamp(f.type):
            nested += _nested_offenders(f.type, [f.name])
    if nested:
        raise ValueError(
            f"{path}: nested TIMESTAMP(NANOS)/non-UTC timestamp "
            f"column(s) {nested} cannot be repaired in place — "
            "rewrite them as top-level columns or as µs UTC "
            "timestamps (the engine's session-TZ TIMESTAMP invariant)"
        )
    return (
        tuple(f.name for f in ts if f.type.unit == "ns"),
        tuple(
            f.name
            for f in ts
            if f.type.unit != "ns" and f.type.tz is None
        ),
    )


def _read_one(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    path = os.path.join(sf_dir, f"{name}.parquet")
    nanos, ntz = _timestamp_columns(path, os.stat(path).st_mtime_ns)
    if not nanos:
        df = spark.read.parquet(path)
        # Timestamps written without isAdjustedToUTC arrive as
        # TIMESTAMP_NTZ; the engine's invariant is session-TZ TIMESTAMP
        # (everything downstream — unix_micros, window arithmetic, the
        # UTC-pinned oracles — assumes it). The cast reinterprets the
        # wall-clock in the session zone (UTC everywhere here): same
        # instants, codegen-only, no UDF.
        for c in ntz:
            df = df.withColumn(c, F.col(c).cast("timestamp"))
        return df
    # Spark has no TIMESTAMP(NANOS) type; under nanosAsLong it reads such
    # columns as LongType nanos-since-epoch. Convert to µs timestamps with
    # FLOOR division (pmod keeps the remainder non-negative, so pre-epoch
    # values floor like DuckDB rather than truncating toward zero). The
    # whole conversion stays in codegen — no UDF. The session conf is
    # scoped: saved and restored so a caller-provided SparkSession is not
    # permanently mutated.
    prev = spark.conf.get("spark.sql.legacy.parquet.nanosAsLong", None)
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    try:
        df = spark.read.parquet(path)
        # .read.parquet captures the conf at plan time per-scan; safe to
        # restore after the DataFrame is constructed.
        for c in nanos:
            df = df.withColumn(
                c, F.timestamp_micros(F.expr(f"(`{c}` - pmod(`{c}`, 1000)) div 1000"))
            )
        for c in ntz:
            df = df.withColumn(c, F.col(c).cast("timestamp"))
    finally:
        if prev is None:
            spark.conf.unset("spark.sql.legacy.parquet.nanosAsLong")
        else:
            spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", prev)
    return df


def load_tables(
    spark: SparkSession, sf_dir: str, names: tuple[str, ...] = TABLE_NAMES
) -> dict[str, DataFrame]:
    """Load the named parquet tables from ``sf_dir`` as DataFrames.

    Safe under any caller-provided SparkSession (the driver harness
    builds its own): nanos handling is detected from each file's footer.
    """
    return {name: _read_one(spark, sf_dir, name) for name in names}


def register_views(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    """Load tables and register each as a temp view for ``spark.sql``."""
    tables = load_tables(spark, sf_dir)
    for name, df in tables.items():
        df.createOrReplaceTempView(name)
    return tables


def load_spread(
    spark: SparkSession, sf_dir: str, name: str
) -> DataFrame:
    """Load one table, spread across cores if the scan under-splits.

    CPU-bound per-row pipelines (shingling, hashing, mapInPandas) over
    tables that are small ON DISK inherit the scan's partition count —
    a sub-split-size parquet file yields ONE partition and serializes
    all that CPU onto one core. Repartition only when the scan has
    fewer partitions than the cluster has cores; at scale the scan
    already has plenty of splits and this is a no-op (no shuffle).
    """
    df = load_tables(spark, sf_dir, (name,))[name]
    target = spark.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() < target:
        df = df.repartition(target)
    return df
