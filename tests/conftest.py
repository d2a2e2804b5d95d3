from __future__ import annotations

import os
import sys
import time

import pytest

# PySpark's collect() renders TimestampType in the host zone regardless
# of spark.sql.session.timeZone; pin the process to UTC so Spark-vs-
# DuckDB timestamp comparisons hold on any host (ADVICE r01).
os.environ["TZ"] = "UTC"
time.tzset()

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from aws_weather_data_pipeline_spark.session import get_spark  # noqa: E402

#: Example budget for all the hypothesis model machines: 10 is the CI
#: budget, not the confidence ceiling — set SPARK_GRAFT_HYP_EXAMPLES
#: to deepen the hunt on demand. ONE definition (review r14: two
#: hand-copies of this knob could drift).
HYP_EXAMPLES = int(os.environ.get("SPARK_GRAFT_HYP_EXAMPLES", "10"))

SF_SMOKE = "/root/testdata/sf0.001"
# Default to sf0.01 — the driver's correctness gate SF (ADVICE r01).
SF_ORACLE = os.environ.get("SPARK_GRAFT_TEST_SF", "/root/testdata/sf0.01")


@pytest.fixture(scope="session")
def spark():
    s = get_spark(app_name="tests", master="local[4]", shuffle_partitions=4)
    yield s


@pytest.fixture(scope="session")
def sf_dir():
    return SF_ORACLE


def count_jobs(spark, group: str, fn) -> int:
    """Run ``fn()`` under the Spark job group ``group`` and return how
    many jobs it started."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    # the status store is filled from the listener bus: drain it
    sc._jsc.sc().listenerBus().waitUntilEmpty(30_000)
    return len(sc.statusTracker().getJobIdsForGroup(group))
