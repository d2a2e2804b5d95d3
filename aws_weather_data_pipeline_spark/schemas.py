"""Declared schemas — never infer (reference glue_weather_etl.py:50-57
makes the same call: "This ensures Spark knows the data types and
structure. Important for performance and data quality!").

``WEATHER_RAW_SCHEMA`` mirrors the reference's 16-field
``ArrayType(StructType)`` envelope (glue_weather_etl.py:59-80) exactly:
string station/city/country/timestamp/wind_direction/weather_condition,
double measures, integer uv_index.
"""

from __future__ import annotations

from pyspark.sql import types as T

WEATHER_READING_SCHEMA = T.StructType(
    [
        T.StructField("station_id", T.StringType(), True),
        T.StructField("city", T.StringType(), True),
        T.StructField("country", T.StringType(), True),
        T.StructField("latitude", T.DoubleType(), True),
        T.StructField("longitude", T.DoubleType(), True),
        # ISO-8601 string at ingest; parsed to timestamp by F6
        # (reference keeps it a string until add_time_features).
        T.StructField("timestamp", T.StringType(), True),
        T.StructField("temperature_celsius", T.DoubleType(), True),
        T.StructField("humidity_percent", T.DoubleType(), True),
        T.StructField("pressure_hpa", T.DoubleType(), True),
        T.StructField("wind_speed_kmh", T.DoubleType(), True),
        T.StructField("wind_direction", T.StringType(), True),
        T.StructField("precipitation_mm", T.DoubleType(), True),
        T.StructField("weather_condition", T.StringType(), True),
        T.StructField("visibility_km", T.DoubleType(), True),
        T.StructField("uv_index", T.IntegerType(), True),
        T.StructField("heat_index_celsius", T.DoubleType(), True),
    ]
)

WEATHER_RAW_SCHEMA = T.StructType(
    [T.StructField("readings", T.ArrayType(WEATHER_READING_SCHEMA), True)]
)

#: Column order of the flattened fact table (pre-transform).
FLAT_COLUMNS = [f.name for f in WEATHER_READING_SCHEMA.fields]

#: Columns added by the six transform families F1-F12 (SURVEY §2.8),
#: in the order apply_transformations emits them.
DERIVED_FIELDS = [
    T.StructField(name, dtype, True)
    for name, dtype in [
        ("temperature_fahrenheit", T.DoubleType()),
        ("temperature_kelvin", T.DoubleType()),
        ("comfort_level", T.StringType()),
        ("weather_severity", T.StringType()),
        ("alert_level", T.StringType()),
        ("timestamp_parsed", T.TimestampType()),
        ("hour_of_day", T.IntegerType()),
        ("day_of_week", T.IntegerType()),
        ("is_weekend", T.BooleanType()),
        ("time_of_day", T.StringType()),
        ("season", T.StringType()),
        ("is_valid_temperature", T.BooleanType()),
        ("is_valid_humidity", T.BooleanType()),
        ("is_valid_pressure", T.BooleanType()),
        ("data_quality_score", T.DoubleType()),
    ]
]
DERIVED_COLUMNS = [f.name for f in DERIVED_FIELDS]

#: Full processed-table surface (31 columns, mirroring the reference's
#: processed CSV header local_data/processed/processed_weather_*.csv).
PROCESSED_COLUMNS = FLAT_COLUMNS + DERIVED_COLUMNS

#: Column subset of the alerts feed (reference glue_weather_etl.py:508-523
#: selects 14 of 31 columns for the alerts sink).
ALERT_COLUMNS = [
    "station_id",
    "city",
    "country",
    "timestamp",
    "temperature_celsius",
    "heat_index_celsius",
    "precipitation_mm",
    "wind_speed_kmh",
    "visibility_km",
    "uv_index",
    "weather_condition",
    "weather_severity",
    "alert_level",
    "comfort_level",
]

#: The serving table as ``runner.load`` appends it: every processed
#: column, then the ``reading_date`` conflict-scope column.
SERVING_SCHEMA = T.StructType(
    WEATHER_READING_SCHEMA.fields
    + DERIVED_FIELDS
    + [T.StructField("reading_date", T.DateType(), True)]
)

#: The daily summary table as ``runner.load`` upserts it (one row per
#: city and day, ``functions.summary.daily_weather_summary``). The
#: partition column ``summary_date`` comes last, where a read of the
#: partitioned directory puts it.
SUMMARY_SCHEMA = T.StructType(
    [
        T.StructField(name, dtype, True)
        for name, dtype in [
            ("city", T.StringType()),
            ("avg_temperature", T.DoubleType()),
            ("min_temperature", T.DoubleType()),
            ("max_temperature", T.DoubleType()),
            ("avg_heat_index", T.DoubleType()),
            ("avg_humidity", T.DoubleType()),
            ("avg_pressure", T.DoubleType()),
            ("avg_wind_speed", T.DoubleType()),
            ("total_precipitation", T.DoubleType()),
            ("max_precipitation", T.DoubleType()),
            ("reading_count", T.LongType()),
            ("normal_count", T.LongType()),
            ("watch_count", T.LongType()),
            ("warning_count", T.LongType()),
            ("critical_count", T.LongType()),
            ("alert_percentage", T.DoubleType()),
            ("avg_quality_score", T.DoubleType()),
            ("dominant_condition", T.StringType()),
            ("dominant_comfort", T.StringType()),
            ("summary_date", T.DateType()),
        ]
    ]
)
