"""End-to-end pipeline runner tests (X1-X4)."""

from __future__ import annotations

import dataclasses
import datetime
from pathlib import Path

import pytest
from pyspark.sql import functions as F

from aws_weather_data_pipeline_spark import runner
from aws_weather_data_pipeline_spark.functions.summary import (
    daily_weather_summary,
)
from aws_weather_data_pipeline_spark.runner import (
    MAX_STALENESS_SECONDS,
    PipelinePaths,
    check_prerequisites,
    load,
    report,
    run,
    validate,
)
from aws_weather_data_pipeline_spark.schemas import (
    SERVING_SCHEMA,
    SUMMARY_SCHEMA,
)
from tests.conftest import count_jobs
from tests.weather_fixtures import make_reading, write_batch_file

#: Fixture readings are stamped 2024-01-15; this "now" is the same
#: evening, so the freshness check sees data a few hours old.
FIXTURE_NOW = datetime.datetime(
    2024, 1, 15, 20, 0, 0, tzinfo=datetime.timezone.utc
)


@pytest.fixture()
def paths(tmp_path):
    raw = tmp_path / "raw"
    raw.mkdir()
    write_batch_file(
        raw / "batch_001.json", [make_reading(i) for i in range(20)]
    )
    write_batch_file(
        raw / "batch_002.json",
        [make_reading(i, hour=14) for i in range(20, 35)],
    )
    return PipelinePaths(
        raw_dir=str(raw),
        lake_dir=str(tmp_path / "lake"),
        serving_dir=str(tmp_path / "serving"),
        summary_dir=str(tmp_path / "summary"),
    )


def test_prerequisites_fail_on_missing_dir(spark, tmp_path):
    bad = PipelinePaths(
        raw_dir=str(tmp_path / "nope"),
        lake_dir="",
        serving_dir="",
        summary_dir="",
    )
    with pytest.raises(FileNotFoundError):
        check_prerequisites(spark, bad)


def test_prerequisites_fail_on_empty_dir(spark, tmp_path):
    empty = tmp_path / "raw"
    empty.mkdir()
    with pytest.raises(FileNotFoundError, match="no raw JSON"):
        check_prerequisites(
            spark, PipelinePaths(str(empty), "", "", "")
        )


def test_full_pipeline_run(spark, paths):
    result = run(spark, paths, now=FIXTURE_NOW)
    assert result.ok
    assert result.stats["total_rows"] == 35
    assert result.stats["duplicate_keys"] == 0
    assert result.stats["avg_quality"] >= 90.0
    assert result.checks["fresh"]
    assert 0 < result.stats["staleness_seconds"] < MAX_STALENESS_SECONDS

    serving = spark.read.parquet(paths.serving_dir)
    assert "alert_level" in serving.columns
    summary = spark.read.parquet(paths.summary_dir)
    cities = {r["city"] for r in summary.select("city").collect()}
    assert cities == {"Mumbai", "Delhi", "Chennai", "Kolkata", "Bengaluru"}
    # Rerunning the whole pipeline is idempotent on EVERY sink:
    # serving via the anti-join, the lake via dynamic partition
    # overwrite (append would double it), summary via partition upsert.
    lake_before = spark.read.parquet(paths.lake_dir).count()
    summary_before = summary.count()  # count now; the rerun replaces files
    result2 = run(spark, paths, now=FIXTURE_NOW)
    assert result2.stats["total_rows"] == 35
    assert spark.read.parquet(paths.lake_dir).count() == lake_before
    assert spark.read.parquet(paths.summary_dir).count() == summary_before

    text = report(spark, paths)
    assert "DAILY WEATHER SUMMARY" in text
    assert "Mumbai" in text
    assert "dominant: Clear" in text


def test_summary_counts_an_exact_replay_once(spark, paths):
    """A batch landed twice holds exact replays of its readings: the
    serving append keeps one row per key, and the summary must count
    the same rows."""
    write_batch_file(
        Path(paths.raw_dir) / "batch_003.json", [make_reading(7)]
    )
    load(spark, paths)
    serving_rows = spark.read.parquet(paths.serving_dir).count()
    summary = spark.read.parquet(paths.summary_dir)
    readings = summary.agg(F.sum("reading_count")).first()[0]
    assert serving_rows == 35
    assert readings == serving_rows


def test_declared_schemas_match_what_load_writes(spark, paths):
    load(spark, paths)
    assert spark.read.parquet(paths.serving_dir).schema == SERVING_SCHEMA
    assert spark.read.parquet(paths.summary_dir).schema == SUMMARY_SCHEMA


def test_cli_main_backfill_with_as_of(spark, paths, capsys):
    """The CLI must support historical backfills: without --as-of the
    freshness check anchors at wall clock and 2024 fixture data is
    'stale'; with --as-of it passes and prints the report.
    """
    from aws_weather_data_pipeline_spark.runner import main

    rc = main(
        [
            paths.raw_dir,
            paths.lake_dir,
            paths.serving_dir,
            paths.summary_dir,
            "--report",
            "--as-of",
            "2024-01-15T20:00:00+00:00",
        ]
    )
    assert rc == 0
    out = capsys.readouterr().out
    assert "'fresh': True" in out
    assert "DAILY WEATHER SUMMARY" in out

    with pytest.raises(RuntimeError, match="fresh"):
        main(
            [
                paths.raw_dir,
                paths.lake_dir,
                paths.serving_dir,
                paths.summary_dir,
            ]
        )


def test_validate_freshness_stale_and_fresh(spark, paths):
    """X3 freshness (reference README.md:750-755, age < 1 day): the
    same serving table passes with a now inside the window and fails
    with a now a week later — and run() surfaces the stale case as a
    pipeline failure.
    """
    run(spark, paths, now=FIXTURE_NOW)

    fresh = validate(spark, paths, now=FIXTURE_NOW)
    assert fresh.checks["fresh"]

    week_later = FIXTURE_NOW + datetime.timedelta(days=7)
    stale = validate(spark, paths, now=week_later)
    assert not stale.checks["fresh"]
    assert stale.stats["staleness_seconds"] > MAX_STALENESS_SECONDS
    # every non-freshness check still passes — the failure is isolated
    others = {k: v for k, v in stale.checks.items() if k != "fresh"}
    assert all(others.values())

    with pytest.raises(RuntimeError, match="fresh"):
        run(spark, paths, now=week_later)


def test_validate_tolerates_producer_clock_skew(spark, paths):
    """Review r11: a station clock running a few minutes fast yields
    a slightly negative age; that must not fail the run — while
    wildly future-dated data still does."""
    from aws_weather_data_pipeline_spark.runner import (
        CLOCK_SKEW_TOLERANCE_SECONDS,
    )

    run(spark, paths, now=FIXTURE_NOW)
    skewed_now = FIXTURE_NOW - datetime.timedelta(
        seconds=CLOCK_SKEW_TOLERANCE_SECONDS // 2
    )
    # NOTE: FIXTURE_NOW is already past the data's max timestamp, so
    # step back to just before it to simulate the fast producer
    latest = validate(spark, paths, now=FIXTURE_NOW).stats[
        "latest_timestamp"
    ]
    just_before = latest - datetime.timedelta(seconds=60)
    res = validate(spark, paths, now=just_before)
    assert res.stats["staleness_seconds"] < 0
    assert res.checks["fresh"], "benign skew must not fail the run"
    far_before = latest - datetime.timedelta(hours=2)
    res2 = validate(spark, paths, now=far_before)
    assert not res2.checks["fresh"], "wild future-dating must fail"


def test_daily_summary_dominant_values(spark):
    """A5: the dominant condition and comfort follow Postgres's
    MODE() WITHIN GROUP — NULLs never win, however many there are, a
    count tie goes to the lowest value, and an all-NULL group is NULL.
    Expected rows are computed by hand from the fixture."""
    t = lambda h: datetime.datetime(2024, 1, 15, h)  # noqa: E731
    cols = (
        "city string, timestamp_parsed timestamp, temperature_celsius double,"
        " heat_index_celsius double, humidity_percent double,"
        " pressure_hpa double, wind_speed_kmh double,"
        " precipitation_mm double, alert_level string,"
        " data_quality_score double, weather_condition string,"
        " comfort_level string"
    )
    processed = spark.createDataFrame(
        [
            # Mumbai: a 1-1 condition tie (Clear < Rain); Hot is the
            # comfort majority
            ("Mumbai", t(1), 20.0, 22.0, 50.0, 1000.0, 10.0, 1.0,
             "NORMAL", 100.0, "Rain", "Hot"),
            ("Mumbai", t(2), 22.0, 24.0, 60.0, 1010.0, 20.0, 2.5,
             "WARNING", 90.0, "Clear", "Hot"),
            ("Mumbai", t(3), 24.0, 26.0, 70.0, 1020.0, 30.0, 0.0,
             "WATCH", 80.0, None, "Mild"),
            # Delhi: two NULL conditions against one Fog; comfort all NULL
            ("Delhi", t(1), 30.0, 33.0, 40.0, 1005.0, 5.0, 0.0,
             "CRITICAL", 100.0, None, None),
            ("Delhi", t(2), 30.0, 33.0, 40.0, 1005.0, 5.0, 0.0,
             "CRITICAL", 100.0, None, None),
            ("Delhi", t(3), 30.0, 33.0, 40.0, 1005.0, 5.0, 0.0,
             "NORMAL", 100.0, "Fog", None),
        ],
        cols,
    )
    out = daily_weather_summary(processed)
    assert out.columns == [
        "city", "summary_date", "avg_temperature", "min_temperature",
        "max_temperature", "avg_heat_index", "avg_humidity", "avg_pressure",
        "avg_wind_speed", "total_precipitation", "max_precipitation",
        "reading_count", "normal_count", "watch_count", "warning_count",
        "critical_count", "alert_percentage", "avg_quality_score",
        "dominant_condition", "dominant_comfort",
    ]
    day = datetime.date(2024, 1, 15)
    assert sorted(tuple(r) for r in out.collect()) == [
        ("Delhi", day, 30.0, 30.0, 30.0, 33.0, 40.0, 1005.0, 5.0, 0.0, 0.0,
         3, 1, 0, 0, 2, 66.67, 100.0, "Fog", None),
        ("Mumbai", day, 22.0, 20.0, 24.0, 24.0, 60.0, 1010.0, 20.0, 3.5, 2.5,
         3, 1, 1, 1, 0, 33.33, 90.0, "Clear", "Hot"),
    ]


def test_validate_flags_dirty_serving_table(spark, tmp_path):
    """X3 on a serving table that breaks every data check at once; a
    NULL alert level is its own distribution key, apart from the
    table total."""
    ts = datetime.datetime(2024, 1, 15, 10)
    serving = tmp_path / "serving"
    spark.createDataFrame(
        [
            ("WS001", "Mumbai", "2024-01-15T10:00:00", "NORMAL", 100.0, ts),
            ("WS001", "Mumbai", "2024-01-15T10:00:00", "NORMAL", 100.0, ts),
            ("WS002", None, "2024-01-15T10:00:00", "WATCH", 80.0, ts),
            ("WS003", "Delhi", "2024-01-15T10:00:00", "SEVERE", 70.0, ts),
            ("WS004", "Chennai", "2024-01-15T10:00:00", None, 60.0, ts),
        ],
        "station_id string, city string, timestamp string,"
        " alert_level string, data_quality_score double,"
        " timestamp_parsed timestamp",
    ).write.parquet(str(serving))

    res = validate(
        spark, PipelinePaths("", "", str(serving), ""), now=FIXTURE_NOW
    )
    assert res.stats["total_rows"] == 5
    assert res.stats["null_critical_rows"] == 1
    assert res.stats["duplicate_keys"] == 1
    assert res.stats["alert_distribution"] == {
        "NORMAL": 2, "WATCH": 1, "SEVERE": 1, None: 1,
    }
    assert res.stats["avg_quality"] == pytest.approx(82.0)
    assert res.checks == {
        "has_rows": True,
        "no_null_critical": False,
        "quality_floor": False,
        "alert_levels_known": False,
        "unique_key": False,
        "fresh": True,
    }


def test_validate_empty_serving_table(spark, tmp_path):
    serving = tmp_path / "serving"
    spark.createDataFrame(
        [],
        "station_id string, city string, timestamp string,"
        " alert_level string, data_quality_score double,"
        " timestamp_parsed timestamp",
    ).write.parquet(str(serving))

    res = validate(
        spark, PipelinePaths("", "", str(serving), ""), now=FIXTURE_NOW
    )
    assert res.stats == {
        "total_rows": 0,
        "null_critical_rows": 0,
        "avg_quality": None,
        "alert_distribution": {},
        "duplicate_keys": 0,
        "latest_timestamp": None,
        "staleness_seconds": None,
    }
    assert [k for k, ok in res.checks.items() if not ok] == [
        "has_rows", "quality_floor", "fresh",
    ]


#: Spark jobs each daily-run step may start on the ``paths`` fixture.
#: Every job pays scheduling latency that dwarfs the work at this size.
DAILY_RUN_MAX_JOBS = {
    "check_prerequisites": 1,
    "load": 9,
    "validate": 5,
    "report": 1,
}


def test_daily_run_job_counts(spark, paths):
    sc = spark.sparkContext
    counts = {}
    for step in DAILY_RUN_MAX_JOBS:
        group = f"test-daily-run-{step}"
        kwargs = {"now": FIXTURE_NOW} if step == "validate" else {}
        sc.setJobGroup(group, step)
        try:
            getattr(runner, step)(spark, paths, **kwargs)
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)
        # the status store is filled from the listener bus: drain it
        sc._jsc.sc().listenerBus().waitUntilEmpty(30_000)
        counts[step] = len(sc.statusTracker().getJobIdsForGroup(group))
    assert all(
        counts[s] <= n for s, n in DAILY_RUN_MAX_JOBS.items()
    ), counts


#: Spark jobs a second ``load`` of the same day may start, on top of the
#: first load's 9: the serving append now reads back the keys it holds.
REPEAT_LOAD_MAX_JOBS = 10


def test_repeat_load_job_count(spark, paths, tmp_path):
    load(spark, paths)
    raw = tmp_path / "raw2"
    raw.mkdir()
    write_batch_file(
        raw / "batch_001.json",
        [make_reading(i, hour=16) for i in range(35, 51)],
    )
    again = dataclasses.replace(paths, raw_dir=str(raw))
    jobs = count_jobs(spark, "test-repeat-load", lambda: load(spark, again))
    assert jobs <= REPEAT_LOAD_MAX_JOBS
    assert spark.read.parquet(paths.serving_dir).count() == 51
