"""``session.concurrently``: independent Spark jobs run at the same time,
under the caller's job group, and none outlives the call."""

from __future__ import annotations

import threading

import pytest

from aws_weather_data_pipeline_spark.session import cached, concurrently
from tests.conftest import count_jobs


def test_jobs_in_a_call_count_under_the_callers_group(spark):
    sc = spark.sparkContext
    results = []

    def run():
        results.extend(
            concurrently(
                lambda: sc.parallelize(range(10), 2).count(),
                lambda: sc.parallelize(range(4), 1).sum(),
            )
        )

    assert count_jobs(spark, "test-concurrently-group", run) == 2
    assert results == [10, 6]


def test_a_failure_surfaces_after_every_call_returns(spark):
    spark.catalog.clearCache()
    failed = threading.Event()
    rows = []

    def fail():
        failed.set()
        raise KeyError("first call failed")

    def job_after_the_failure(df):
        # starts only once the first call has raised
        assert failed.wait(30)
        rows.append(df.count())

    with pytest.raises(KeyError, match="first call failed"):
        with cached(spark.range(100)) as df:
            concurrently(fail, lambda: job_after_the_failure(df))
    assert rows == [100]
    assert spark._jsparkSession.sharedState().cacheManager().isEmpty()
