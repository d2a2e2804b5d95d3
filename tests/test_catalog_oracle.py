"""Every catalog query with an oracle must hash-match DuckDB locally.

This replays the driver's CORRECTNESS gate at small SF; set
SPARK_GRAFT_TEST_SF=/root/testdata/sf0.01 to replay at the driver's SF.
"""

from __future__ import annotations

import pytest

from aws_weather_data_pipeline_spark.plans.catalog import build_catalog

from .oracle import compare

CATALOG = build_catalog()
WITH_ORACLE = [q for q in CATALOG.queries.values() if q.oracle]


@pytest.mark.parametrize("q", WITH_ORACLE, ids=[q.name for q in WITH_ORACLE])
def test_oracle_match(spark, sf_dir, q):
    spark.catalog.clearCache()
    n = compare(spark, sf_dir, q.builder, q.oracle, q.name)
    assert n > 0, f"{q.name}: oracle comparison is vacuous on zero rows"
    # builders release every cache they fill (session.cached); a
    # detached result is checkpointed, not cached, so it does not count
    assert spark._jsparkSession.sharedState().cacheManager().isEmpty(), (
        f"{q.name}: the builder left a cached frame in the session"
    )


def test_every_query_has_an_oracle():
    assert [q.name for q in CATALOG.queries.values() if not q.oracle] == []


def test_catalog_never_shrinks():
    """build_catalog imports every module in OPERATOR_MODULES and
    raises on one that is missing, so a module rename or a packaging
    mistake fails the build instead of dropping queries. Pin that list
    and the floor: every operator module imports, and the catalog
    holds at least the round-4 count. Raise the floor when adding
    queries; never lower it.
    """
    import importlib.util

    from aws_weather_data_pipeline_spark.plans.catalog import (
        OPERATOR_MODULES,
    )

    pkg = "aws_weather_data_pipeline_spark.plans"
    missing = [
        m
        for m in OPERATOR_MODULES
        if importlib.util.find_spec(f"{pkg}.{m}") is None
    ]
    assert not missing, f"operator modules not importable: {missing}"
    assert len(CATALOG.queries) >= 147, sorted(CATALOG.queries)


def test_driver_window_is_first_50_catalog_entries():
    """The driver's correctness harness samples the FIRST 50 catalog
    entries; DRIVER_WINDOW is the policy list. This pins the contract:
    exactly 50 unique names, registered first and in order, so a
    refactor of module merge order can't silently change which queries
    the driver checks.
    """
    from aws_weather_data_pipeline_spark.plans.catalog import (
        DRIVER_WINDOW,
    )

    assert len(DRIVER_WINDOW) == 50
    assert len(set(DRIVER_WINDOW)) == 50
    assert list(CATALOG.queries)[:50] == list(DRIVER_WINDOW)


def test_entry_smoke(spark):
    import __spark_entry__ as e

    df = e.entry(spark)
    rows = df.collect()
    assert len(rows) > 0  # driver requires non-empty smoke output
    qs, os_ = e.queries(), e.oracle_sql()
    assert set(os_) <= set(qs)
    assert len(qs) >= 10
