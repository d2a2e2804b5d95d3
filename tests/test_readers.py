"""Ingest tests: the raw nested-JSON envelope path (S4 + P1-P3).

Fixture files mirror the reference's raw zone — pretty-printed batches
``{"readings": [ {16 fields}, ... ]}`` (scripts/kinesis_to_s3.py:238-246,
sample at local_data/raw/). The declared-schema read must flatten to one
row per reading with the exact 16-column surface, and the in-flight
``from_json`` path must agree with the file path.
"""

from __future__ import annotations

import json

import pytest
from pyspark.sql import Row

from aws_weather_data_pipeline_spark.schemas import FLAT_COLUMNS
from aws_weather_data_pipeline_spark.sources.readers import (
    parse_and_flatten,
    read_raw_json,
)


def _reading(i: int) -> dict:
    return {
        "station_id": f"WS{i:03d}",
        "city": ["Mumbai", "Delhi", "Chennai"][i % 3],
        "country": "India",
        "latitude": 19.0760 + i,
        "longitude": 72.8777 + i,
        "timestamp": f"2024-01-15T10:3{i}:00.123456",
        "temperature_celsius": 30.0 + i,
        "humidity_percent": 70.0 - i,
        "pressure_hpa": 1005.0 + i,
        "wind_speed_kmh": 20.0 + i,
        "wind_direction": "NW",
        "precipitation_mm": float(i),
        "weather_condition": "Clear",
        "visibility_km": 8.0,
        "uv_index": 6,
        "heat_index_celsius": 33.0 + i,
    }


@pytest.fixture()
def raw_dir(tmp_path):
    # Two pretty-printed batch files in nested date dirs, like the raw zone.
    d = tmp_path / "raw" / "year=2024" / "month=01" / "day=15"
    d.mkdir(parents=True)
    (d / "batch_001.json").write_text(
        json.dumps({"readings": [_reading(0), _reading(1)]}, indent=2)
    )
    (d / "batch_002.json").write_text(
        json.dumps({"readings": [_reading(2)]}, indent=2)
    )
    return str(tmp_path / "raw")


def test_read_raw_json_flattens(spark, raw_dir):
    df = read_raw_json(spark, raw_dir)
    assert df.columns == FLAT_COLUMNS
    rows = {r["station_id"]: r for r in df.collect()}
    assert set(rows) == {"WS000", "WS001", "WS002"}
    assert rows["WS001"]["temperature_celsius"] == 31.0
    assert rows["WS002"]["city"] == "Chennai"
    assert rows["WS000"]["uv_index"] == 6


def test_parse_and_flatten_payload_column(spark, raw_dir):
    # In-flight form: the envelope arrives as a string payload column
    # (Kinesis record body). Must agree with the file-scan path.
    payload = json.dumps({"readings": [_reading(0), _reading(1)]})
    raw = spark.createDataFrame([Row(data=payload)])
    df = parse_and_flatten(raw)
    assert df.columns == FLAT_COLUMNS
    assert df.count() == 2
    got = {r["station_id"] for r in df.collect()}
    assert got == {"WS000", "WS001"}


def test_read_raw_json_malformed_nulls_not_crash(spark, tmp_path):
    d = tmp_path / "raw"
    d.mkdir()
    (d / "bad.json").write_text('{"readings": "not-an-array"}')
    (d / "good.json").write_text(
        json.dumps({"readings": [_reading(0)]}, indent=2)
    )
    df = read_raw_json(spark, str(d))
    # Declared schema: the malformed envelope nulls out instead of failing.
    assert df.filter("station_id = 'WS000'").count() == 1


def test_csv_roundtrip_declared_schema(spark, tmp_path):
    # S6: the reference re-reads its own CSV output
    # (load_to_postgres.py:177-209); declared schema, bad cells null.
    from aws_weather_data_pipeline_spark.sources.readers import read_flat_csv
    from pyspark.sql import Row

    out = str(tmp_path / "flat_csv")
    df = spark.createDataFrame(
        [Row(**_reading(0)), Row(**_reading(1))]
    ).select(*FLAT_COLUMNS)
    df.write.option("header", True).mode("overwrite").csv(out)

    back = read_flat_csv(spark, out)
    assert back.columns == FLAT_COLUMNS
    assert back.count() == 2
    got = {r["station_id"]: r for r in back.collect()}
    assert got["WS001"]["temperature_celsius"] == 31.0
    assert got["WS001"]["uv_index"] == 6

    # P9 semantics: a malformed numeric cell nulls, doesn't poison.
    (tmp_path / "flat_csv" / "bad.csv").write_text(
        ",".join(FLAT_COLUMNS)
        + "\nWS999,Delhi,India,not_a_number,72.9,2024-01-15T10:00:00,"
        "30.1,70.0,1005.0,20.0,NW,0.0,Clear,8.0,6,33.0\n"
    )
    back2 = read_flat_csv(spark, out)
    bad = back2.filter("station_id = 'WS999'").first()
    assert bad["latitude"] is None
    assert bad["longitude"] == 72.9


def test_quarantine_splits_malformed_from_good(spark, tmp_path):
    # Dead-letter path: a truncated JSON document must land in the
    # quarantine frame with its original bytes, while well-formed
    # envelopes parse normally — and nothing is silently dropped.
    from aws_weather_data_pipeline_spark.sources.readers import (
        read_raw_json_with_quarantine,
    )

    d = tmp_path / "raw"
    d.mkdir()
    (d / "good.json").write_text(
        json.dumps({"readings": [_reading(0), _reading(1)]}, indent=2)
    )
    truncated = '{"readings": [{"station_id": "WS9'
    (d / "truncated.json").write_text(truncated)

    good, quarantined = read_raw_json_with_quarantine(spark, str(d))
    assert good.count() == 2
    assert set(good.columns) == set(FLAT_COLUMNS)
    q = quarantined.collect()
    assert len(q) == 1
    assert q[0]["raw_payload"] == truncated  # original bytes intact


def test_quarantine_empty_when_all_files_clean(spark, tmp_path):
    from aws_weather_data_pipeline_spark.sources.readers import (
        read_raw_json_with_quarantine,
    )

    d = tmp_path / "raw"
    d.mkdir()
    (d / "good.json").write_text(
        json.dumps({"readings": [_reading(0)]}, indent=2)
    )
    good, quarantined = read_raw_json_with_quarantine(spark, str(d))
    assert good.count() == 1
    assert quarantined.count() == 0


def test_quarantine_captures_partially_corrupt_envelopes(
    spark, tmp_path
):
    """Review r06 (reproduced): under partial-results JSON parsing
    (default since Spark 3.4) a mistyped FIELD sets _corrupt_record
    while `readings` still parses — such envelopes failed both the
    good filter and an old readings-IS-NULL quarantine filter and
    vanished entirely. They must quarantine, with the partial-parse
    diagnostic column set."""
    from aws_weather_data_pipeline_spark.sources.readers import (
        read_raw_json_with_quarantine,
    )

    d = tmp_path / "raw"
    d.mkdir()
    (d / "good.json").write_text(
        json.dumps({"readings": [_reading(0)]}, indent=2)
    )
    partial = json.dumps(
        {"readings": [dict(_reading(1), uv_index="high")]}, indent=2
    )
    (d / "partial.json").write_text(partial)
    (d / "broken.json").write_text('{"readings": [{')

    good, quarantined = read_raw_json_with_quarantine(spark, str(d))
    q = {r["raw_payload"]: r["n_parsed_readings"]
         for r in quarantined.collect()}
    # good + quarantined covers every file; the partial row carries
    # its parsed-reading count, the fully-broken one has none
    assert good.count() == 1
    assert len(q) == 2
    assert q[partial] == 1
    assert q['{"readings": [{'] is None


def test_nested_odd_timestamps_refused_with_named_error(spark, tmp_path):
    """Review r11: a TIMESTAMP(NANOS) nested inside a struct used to
    sail past the top-level footer scan and die inside spark.read
    with the opaque 'Illegal Parquet type'; a nested non-UTC µs
    timestamp silently loaded as TIMESTAMP_NTZ. Both now refuse with
    a named error at the loader boundary."""
    import pyarrow as pa
    import pyarrow.parquet as pq
    import pytest

    from aws_weather_data_pipeline_spark.sources.tables import load_tables

    path = tmp_path / "events.parquet"
    t = pa.table(
        {
            "event_id": pa.array([1], pa.int64()),
            "meta": pa.array(
                [{"created": 1}],
                pa.struct([("created", pa.timestamp("ns"))]),
            ),
        }
    )
    pq.write_table(t, path)
    with pytest.raises(ValueError, match="meta.created"):
        load_tables(spark, str(tmp_path), ("events",))
