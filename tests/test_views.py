"""SQL entry-point tests: catalog queries as spark.sql views."""

from __future__ import annotations

from aws_weather_data_pipeline_spark.plans.views import (
    register_catalog_views,
)


def test_views_queryable_via_sql(spark, sf_dir):
    names = register_catalog_views(
        spark,
        sf_dir,
        names=["weather_current_status", "dominant_event_type"],
    )
    assert set(names) == {"weather_current_status", "dominant_event_type"}

    # Plain SQL over the view, with a further filter on top.
    rows = spark.sql(
        "SELECT city, temperature_celsius FROM weather_current_status "
        "ORDER BY city"
    ).collect()
    assert len(rows) == 5

    top = spark.sql(
        "SELECT COUNT(*) AS n FROM dominant_event_type "
        "WHERE dominant_type = 'click'"
    ).first()["n"]
    assert top > 0

    # Base tables registered too; views compose with them in one query.
    joined = spark.sql(
        "SELECT d.dominant_type, COUNT(*) AS n FROM dominant_event_type d "
        "JOIN events e ON e.user_id = d.user_id GROUP BY 1"
    )
    assert joined.count() > 0


def test_filters_push_through_views(spark, sf_dir):
    import contextlib
    import io

    register_catalog_views(spark, sf_dir, names=["null_drop_critical"])
    df = spark.sql(
        "SELECT event_id FROM null_drop_critical WHERE event_id = 42"
    )
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    plan = buf.getvalue()
    # Catalyst optimizes through the view: the literal predicate
    # reaches the parquet scan as a pushed filter.
    assert "EqualTo(event_id,42)" in plan


def test_unknown_view_name_raises_before_registering(spark, sf_dir):
    import pytest

    for view in ("events", "weather_current_status"):
        spark.catalog.dropTempView(view)
    with pytest.raises(ValueError, match="weather_curent_status"):
        register_catalog_views(
            spark,
            sf_dir,
            names=["weather_current_status", "weather_curent_status"],
        )
    assert not spark.catalog.tableExists("events")
    assert not spark.catalog.tableExists("weather_current_status")
