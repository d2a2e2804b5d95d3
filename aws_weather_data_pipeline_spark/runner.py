"""Daily pipeline runner (SURVEY §2.11 X1-X4).

Thin Spark-native replacement for the reference's Airflow DAG
(airflow/dags/weather_dag.py:376-457: start → check_prerequisites →
load → validate → report → cleanup). Each task is a plain function so a
scheduler (cron, Airflow, anything) can call them individually; ``run``
chains them with the DAG's fail-fast semantics.

The load stage collapses the reference's three substrates into one
lineage: raw JSON → flatten → transforms → hive-partitioned lake AND
idempotent serving append (the Postgres INSERT ON CONFLICT,
load_to_postgres.py:275-382) AND daily-summary partition upsert
(:395-445) — all from a single scan.

The daily run's Spark jobs are small, so each one costs scheduling
latency, not data. Jobs that do not depend on each other therefore run
at the same time (``session.concurrently``): in ``load``, the serving
append and the summary upsert, after the lake write has filled the
shared cache; in ``validate``, the rollup pass and the duplicate-key
pass over the serving table.
"""

from __future__ import annotations

import os
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession, functions as F

from .functions.summary import daily_weather_summary
from .functions.weather import apply_transformations
from .schemas import SERVING_SCHEMA, SUMMARY_SCHEMA
from .session import cached, concurrently
from .sinks.writers import (
    TIME_PARTITIONS,
    idempotent_append,
    overwrite_partitions,
    with_time_partitions,
)
from .sources.readers import read_raw_json

#: P7: rows missing any of these cannot be keyed or located — drop them
#: (reference dropna subset, load_to_postgres.py:264-266).
CRITICAL_FIELDS = ("station_id", "city", "timestamp")

#: The serving table's key (reference ON CONFLICT (station_id,
#: reading_timestamp), load_to_postgres.py:294-321).
SERVING_KEY = ["station_id", "timestamp"]

#: X3 thresholds (weather_dag.py:186-236).
MIN_AVG_QUALITY = 90.0

#: Freshness bound (reference README.md:750-755: "age < 1 day" on
#: ``NOW() - MAX(reading_timestamp)``), in seconds.
MAX_STALENESS_SECONDS = 24 * 3600

#: Producer clock skew tolerated by the freshness check: a station
#: clock running a few minutes fast yields a slightly NEGATIVE age,
#: which must not fail the whole pipeline run (review r11; the
#: reference's own check is only an upper bound, README.md:750-755 —
#: the lower bound here still catches wildly future-dated data).
CLOCK_SKEW_TOLERANCE_SECONDS = 300


@dataclass
class PipelinePaths:
    raw_dir: str
    lake_dir: str
    serving_dir: str
    summary_dir: str


@dataclass
class ValidationResult:
    checks: dict[str, bool] = field(default_factory=dict)
    stats: dict[str, object] = field(default_factory=dict)

    @property
    def ok(self) -> bool:
        return all(self.checks.values())


def check_prerequisites(spark: SparkSession, paths: PipelinePaths) -> None:
    """X2: fail fast before any compute (weather_dag.py:68-138)."""
    if not os.path.isdir(paths.raw_dir):
        raise FileNotFoundError(f"raw dir missing: {paths.raw_dir}")
    has_json = any(
        f.endswith(".json")
        for _, _, files in os.walk(paths.raw_dir)
        for f in files
    )
    if not has_json:
        raise FileNotFoundError(f"no raw JSON batches under {paths.raw_dir}")
    # The SparkSession itself is the "DB reachable" analog.
    spark.sql("SELECT 1").collect()


def load(spark: SparkSession, paths: PipelinePaths) -> DataFrame:
    """Load task: ingest → clean → transform → three sinks, one scan.

    The lake write runs first, alone: it is the first action over the
    cached frame, so it fills the cache; started together, the three
    sinks race to fill it and start more jobs. The serving
    append and the summary upsert then run concurrently over the filled
    cache; neither reads what the other writes.

    The summary aggregates the batch deduplicated on the serving key,
    as the reference summarises the keyed table (load_to_postgres.py:231):
    an exact replay of a reading is counted once.
    """
    raw = read_raw_json(spark, paths.raw_dir)
    # P7 null-drop on critical fields; P9 coercion is implicit in the
    # declared read schema (bad cells are already null, not poison).
    clean = raw.na.drop(subset=list(CRITICAL_FIELDS))
    processed = apply_transformations(clean).withColumn(
        "reading_date", F.to_date("timestamp_parsed")
    )
    # three sinks read this one frame: scan and transform once
    with cached(processed):
        # Partition overwrite, not append: a re-run (retry) rewrites
        # the same hour partitions instead of duplicating them — every
        # sink in this load is idempotent.
        overwrite_partitions(
            with_time_partitions(processed, "timestamp_parsed"),
            paths.lake_dir,
            *TIME_PARTITIONS,
        )
        concurrently(
            lambda: idempotent_append(
                spark, processed, paths.serving_dir, keys=SERVING_KEY
            ),
            lambda: overwrite_partitions(
                daily_weather_summary(processed.dropDuplicates(SERVING_KEY)),
                paths.summary_dir,
                "summary_date",
            ),
        )
    return processed


def validate(
    spark: SparkSession,
    paths: PipelinePaths,
    now: "datetime.datetime | None" = None,
) -> ValidationResult:
    """X3: post-load assertion queries (weather_dag.py:169-241).

    ``now`` anchors the freshness check (reference README.md:750-755);
    callers pass a fixed instant for deterministic replay, ``None``
    means wall-clock UTC.

    The checks read two aggregate passes over the serving table, which
    run concurrently: neither depends on the other, and each is a few
    small jobs whose latency, not data, sets the step's wall time.
    """
    import datetime

    if now is None:
        now = datetime.datetime.now(datetime.timezone.utc)
    if now.tzinfo is None:
        now = now.replace(tzinfo=datetime.timezone.utc)
    res = ValidationResult()
    # Two aggregate passes over one read (one file listing, declared
    # schema): a rollup whose per-level rows are the alert distribution
    # and whose total row carries every table-wide figure, and the
    # duplicate-key count, which needs its own key grouping. The checks
    # share these passes, not a cache; the passes overlap.
    serving = spark.read.schema(SERVING_SCHEMA).parquet(paths.serving_dir)
    rollup = (
        serving.rollup("alert_level")
        .agg(
            F.grouping("alert_level").alias("is_total"),
            F.count(F.lit(1)).alias("n"),
            F.count(
                F.when(
                    F.col("station_id").isNull()
                    | F.col("city").isNull()
                    | F.col("timestamp").isNull(),
                    1,
                )
            ).alias("nulls"),
            F.avg("data_quality_score").alias("avg_q"),
            # Aggregated as epoch micros, not TimestampType: PySpark
            # renders a collected timestamp through the driver process's
            # OS timezone, so a non-UTC driver host would skew the
            # staleness by the UTC offset (up to ±14h against the 24h
            # bound). Epoch arithmetic has no zone.
            F.max(F.unix_micros("timestamp_parsed")).alias("latest_us"),
        )
    )
    dup_keys = serving.groupBy(*SERVING_KEY).count().filter("count > 1")
    groups, dup = concurrently(rollup.collect, dup_keys.count)
    # A rollup over an empty table returns no rows, not even the total.
    empty = {"n": 0, "nulls": 0, "avg_q": None, "latest_us": None}
    totals = next((r for r in groups if r["is_total"]), empty)
    total = totals["n"]
    res.stats["total_rows"] = total
    res.checks["has_rows"] = total > 0

    nulls = totals["nulls"]
    res.stats["null_critical_rows"] = nulls
    res.checks["no_null_critical"] = nulls == 0

    avg_q = totals["avg_q"]
    res.stats["avg_quality"] = avg_q
    res.checks["quality_floor"] = avg_q is not None and avg_q >= MIN_AVG_QUALITY

    # grouping() tells a real NULL alert level from the total row.
    dist = {r["alert_level"]: r["n"] for r in groups if not r["is_total"]}
    res.stats["alert_distribution"] = dist
    res.checks["alert_levels_known"] = set(dist) <= {
        "NORMAL",
        "WATCH",
        "WARNING",
        "CRITICAL",
    }

    res.stats["duplicate_keys"] = dup
    res.checks["unique_key"] = dup == 0

    # Freshness (reference README.md:750-755: NOW() - MAX(ts) < 1 day),
    # compared driver-side on the rollup's single MAX value.
    latest_us = totals["latest_us"]
    latest = (
        datetime.datetime.fromtimestamp(
            latest_us / 1_000_000, datetime.timezone.utc
        )
        if latest_us is not None
        else None
    )
    age = (
        now.timestamp() - latest_us / 1_000_000
        if latest_us is not None
        else None
    )
    res.stats["latest_timestamp"] = latest
    res.stats["staleness_seconds"] = age
    res.checks["fresh"] = (
        age is not None
        and -CLOCK_SKEW_TOLERANCE_SECONDS <= age < MAX_STALENESS_SECONDS
    )
    return res


def report(spark: SparkSession, paths: PipelinePaths) -> str:
    """X4: human-readable report from the summary table
    (weather_dag.py:243-330)."""
    rows = (
        spark.read.schema(SUMMARY_SCHEMA)
        .parquet(paths.summary_dir)
        .orderBy(F.col("summary_date").desc(), "city")
        .limit(50)
        .collect()
    )
    def fmt(v, spec: str) -> str:
        # a (city, day) group can legitimately aggregate to NULL —
        # e.g. every reading null in a non-critical field like
        # temperature — and ':.2f' on None raises TypeError (review
        # r06); the report must print, not crash, on sparse groups
        return format(v, spec) if v is not None else "n/a"

    lines = ["DAILY WEATHER SUMMARY", "=" * 60]
    for r in rows:
        lines.append(
            f"{r['summary_date']} {r['city']:>12}: "
            f"avg {fmt(r['avg_temperature'], '.2f')}C "
            f"[{fmt(r['min_temperature'], '.1f')}.."
            f"{fmt(r['max_temperature'], '.1f')}] "
            f"precip {fmt(r['total_precipitation'], '.2f')}mm "
            f"alerts {fmt(r['alert_percentage'], '.2f')}% "
            f"quality {fmt(r['avg_quality_score'], '.2f')} "
            f"({r['reading_count']} readings, "
            f"dominant: {r['dominant_condition']})"
        )
    return "\n".join(lines)


def run(
    spark: SparkSession,
    paths: PipelinePaths,
    now: "datetime.datetime | None" = None,
) -> ValidationResult:
    """X1: the DAG, linearized with fail-fast semantics."""
    check_prerequisites(spark, paths)
    load(spark, paths)
    result = validate(spark, paths, now=now)
    if not result.ok:
        failed = [k for k, v in result.checks.items() if not v]
        raise RuntimeError(f"validation failed: {failed}; {result.stats}")
    return result


def main(argv: list[str] | None = None) -> int:
    """CLI: python -m aws_weather_data_pipeline_spark.runner RAW LAKE SERVING SUMMARY"""
    import argparse

    from .session import get_spark

    ap = argparse.ArgumentParser(description=__doc__)
    ap.add_argument("raw_dir")
    ap.add_argument("lake_dir")
    ap.add_argument("serving_dir")
    ap.add_argument("summary_dir")
    ap.add_argument("--report", action="store_true", help="print X4 report")
    ap.add_argument(
        "--as-of",
        default=None,
        metavar="ISO_TIMESTAMP",
        help="anchor the freshness check at this UTC instant instead "
        "of wall clock — required for historical backfills, whose "
        "data is legitimately 'stale' relative to now",
    )
    args = ap.parse_args(argv)

    import datetime

    as_of = (
        datetime.datetime.fromisoformat(args.as_of)
        if args.as_of
        else None
    )
    spark = get_spark(app_name="daily-pipeline")
    paths = PipelinePaths(
        args.raw_dir, args.lake_dir, args.serving_dir, args.summary_dir
    )
    result = run(spark, paths, now=as_of)
    print(f"validation: {result.checks}")
    print(f"stats: {result.stats}")
    if args.report:
        print(report(spark, paths))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
