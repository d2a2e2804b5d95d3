"""JDBC serving sink + DECIMAL boundary (SURVEY §1.2, §2.1 S11).

Runs against Spark's bundled embedded Derby — a real JDBC driver and
database in-process, so ``df.write.jdbc`` / ``spark.read.jdbc`` are
exercised end-to-end with no external service.
"""

from __future__ import annotations

from decimal import Decimal

from pyspark.sql import Row, functions as F
from pyspark.sql import types as T

from aws_weather_data_pipeline_spark.sinks.serving import (
    SERVING_DECIMALS,
    jdbc_append_missing,
    to_serving_schema,
    write_jdbc,
)
from tests.conftest import count_jobs

DERBY_PROPS = {"driver": "org.apache.derby.jdbc.EmbeddedDriver"}


def _url(tmp_path) -> str:
    return f"jdbc:derby:{tmp_path}/servingdb;create=true"


def _readings(spark, n=4):
    rows = [
        Row(
            station_id=f"WS{i:03d}",
            temperature_celsius=21.005 + i,  # HALF_UP → x.01 at scale 2
            pressure_hpa=1013.25,
            latitude=40.712776,
            city="X",
        )
        for i in range(n)
    ]
    return spark.createDataFrame(rows)


def test_to_serving_schema_applies_declared_decimals(spark):
    out = to_serving_schema(_readings(spark))
    types = {f.name: f.dataType for f in out.schema.fields}
    assert types["temperature_celsius"] == T.DecimalType(5, 2)
    assert types["pressure_hpa"] == T.DecimalType(6, 2)
    assert types["latitude"] == T.DecimalType(10, 6)
    assert types["city"] == T.StringType()  # untouched passthrough
    row = out.filter(F.col("station_id") == "WS000").first()
    # Spark's double→decimal cast rounds HALF_UP like Postgres'
    # assignment cast: 21.005 → 21.01 (21.005's nearest double is
    # 21.004999…, but the cast goes through the shortest decimal repr).
    assert row.temperature_celsius == Decimal("21.01")
    assert row.latitude == Decimal("40.712776")


def test_write_jdbc_round_trip(spark, tmp_path):
    url = _url(tmp_path)
    df = to_serving_schema(_readings(spark))
    write_jdbc(df, url, "weather_readings", properties=DERBY_PROPS)
    back = spark.read.jdbc(url, "weather_readings", properties=DERBY_PROPS)
    assert back.count() == 4
    # The DECIMAL declaration survives the database round trip.
    types = {f.name: f.dataType for f in back.schema.fields}
    assert types["temperature_celsius"] == T.DecimalType(5, 2)
    vals = {r.station_id: r.temperature_celsius for r in back.collect()}
    assert vals["WS001"] == Decimal("22.01")


def test_write_jdbc_caps_connections(spark, tmp_path):
    url = _url(tmp_path)
    df = to_serving_schema(_readings(spark, n=40)).repartition(32)
    write_jdbc(
        df, url, "capped", properties=DERBY_PROPS, max_connections=4
    )
    back = spark.read.jdbc(url, "capped", properties=DERBY_PROPS)
    assert back.count() == 40


#: Spark jobs ``write_jdbc`` starts on a shuffled frame: the shuffle and
#: the write.
WRITE_JDBC_MAX_JOBS = 2


def test_write_jdbc_runs_a_shuffled_frame_once(spark, tmp_path):
    """Capping the connections must not run the frame's shuffle as a
    job of its own before the write runs it again."""
    url = _url(tmp_path)
    df = to_serving_schema(_readings(spark, n=40)).repartition(32)
    jobs = count_jobs(
        spark,
        "test-write-jdbc-shuffle",
        lambda: write_jdbc(
            df, url, "shuffled", properties=DERBY_PROPS, max_connections=4
        ),
    )
    assert jobs <= WRITE_JDBC_MAX_JOBS


def test_jdbc_append_missing_is_on_conflict_do_nothing(spark, tmp_path):
    url = _url(tmp_path)
    first = to_serving_schema(_readings(spark, n=4))
    # VARCHAR per the reference DDL — Derby's default CLOB mapping for
    # strings cannot appear in the anti-join's pushed-down predicates.
    write_jdbc(
        first,
        url,
        "readings",
        properties=DERBY_PROPS,
        column_types="station_id VARCHAR(50), city VARCHAR(100)",
    )

    # Replay rows 2-3 plus two genuinely new stations: only the new
    # ones may land (load_to_postgres.py:294-321 semantics).
    replay = to_serving_schema(_readings(spark, n=6)).filter(
        F.col("station_id") >= "WS002"
    )
    appended = jdbc_append_missing(
        spark, replay, url, "readings", ["station_id"], DERBY_PROPS
    )
    assert appended == 2
    back = spark.read.jdbc(url, "readings", properties=DERBY_PROPS)
    assert back.count() == 6
    assert back.select("station_id").distinct().count() == 6

    # Full replay is a no-op — the idempotency contract.
    assert (
        jdbc_append_missing(
            spark, replay, url, "readings", ["station_id"], DERBY_PROPS
        )
        == 0
    )
    assert (
        spark.read.jdbc(url, "readings", properties=DERBY_PROPS).count()
        == 6
    )


def test_serving_decimals_cover_reference_ddl():
    # Spot-pin the precisions against sql/create_tables.sql:15-66 so a
    # drive-by edit can't silently widen the serving contract.
    assert SERVING_DECIMALS["temperature_kelvin"] == "decimal(6,2)"
    assert SERVING_DECIMALS["precipitation_mm"] == "decimal(6,2)"
    assert SERVING_DECIMALS["visibility_km"] == "decimal(5,2)"
    assert SERVING_DECIMALS["longitude"] == "decimal(10,6)"


def test_jdbc_append_missing_bootstraps_fresh_database(spark, tmp_path):
    """Review r11: the first load against a fresh database has no
    serving table to read back — that is the 'nothing to conflict
    with' state, so the call must create-and-append (the parquet
    twin's PATH_NOT_FOUND case), not crash on the read-back."""
    url = _url(tmp_path)
    batch = to_serving_schema(_readings(spark, n=3))
    n = jdbc_append_missing(
        spark, batch, url, "fresh_table", ["station_id"], DERBY_PROPS
    )
    assert n == 3
    back = spark.read.jdbc(url, "fresh_table", properties=DERBY_PROPS)
    assert back.count() == 3
    # and the replay is still a no-op through the normal path
    assert (
        jdbc_append_missing(
            spark, batch, url, "fresh_table", ["station_id"],
            DERBY_PROPS,
        )
        == 0
    )


def test_jdbc_append_missing_matches_null_keys(spark, tmp_path):
    """A NULL key field is the same key on replay: the anti-join must
    match it null-safely, like ``idempotent_append``, or every replay
    re-appends the NULL-key row."""
    url = _url(tmp_path)
    batch = spark.createDataFrame(
        [("A", "2024-01-15"), (None, "2024-01-15")],
        "station_id string, reading_date string",
    )
    keys = ["station_id", "reading_date"]
    appended = [
        jdbc_append_missing(spark, batch, url, "nullkeys", keys, DERBY_PROPS)
        for _ in range(3)
    ]
    assert appended == [2, 0, 0]
    back = spark.read.jdbc(url, "nullkeys", properties=DERBY_PROPS)
    assert back.count() == 2
