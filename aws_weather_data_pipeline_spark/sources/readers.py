"""Batch readers (SURVEY §2.1 S4-S6, §2.2 P1-P3).

The reference's ingest surface:
- raw nested-JSON batches ``{"readings": [ {16 fields}, ... ]}``
  (scripts/test_transformations.py:178-209 globs + json.load them;
  scripts/glue_weather_etl.py:146-178 does from_json → explode →
  flatten on the stream);
- partitioned parquet (airflow/src/load_to_postgres.py:89-172 hand-lists
  S3 keys and pd.concat's — here one ``spark.read.parquet`` with
  automatic partition pruning);
- CSV with a declared schema (airflow/src/load_to_postgres.py:177-209).

Every reader declares its schema — inference is a full extra pass over
100 TB and can mistype sparse columns.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from ..schemas import WEATHER_RAW_SCHEMA, WEATHER_READING_SCHEMA


def flatten_readings(envelopes: DataFrame) -> DataFrame:
    """P2+P3: explode the ``readings`` array and flatten the struct.

    Input: one row per batch envelope with a ``readings`` array column.
    Output: one row per reading, 16 flat columns. ``select("reading.*")``
    replaces the reference's 16 hand-written aliases
    (glue_weather_etl.py:161-178) — Catalyst expands it at analysis time,
    so the physical plan is identical.
    """
    return envelopes.select(
        F.explode(F.col("readings")).alias("reading")
    ).select("reading.*")


def parse_and_flatten(raw: DataFrame, payload_col: str = "data") -> DataFrame:
    """P1-P3 over an in-flight byte/string payload column.

    Mirror of glue_weather_etl.py:146-178: cast → from_json(declared
    schema) → explode → flatten. Used verbatim by the streaming path
    (the source hands us a ``data`` column, e.g. a Kinesis record body).
    """
    envelopes = raw.withColumn(
        payload_col, F.from_json(F.col(payload_col).cast("string"), WEATHER_RAW_SCHEMA)
    ).select(f"{payload_col}.*")
    return flatten_readings(envelopes)


def raw_json_reader(reader, quarantine: bool = False):
    """Apply the raw-zone JSON option set to a ``DataFrameReader`` OR
    ``DataStreamReader`` (both expose the same schema/option
    builders): declared schema (never infer), ``multiLine`` for the
    pretty-printed batches (scripts/kinesis_to_s3.py:238-246),
    recursive lookup for the zero-padded date prefixes — plus, with
    ``quarantine=True``, PERMISSIVE parsing with the corrupt-record
    capture column. ONE place for the contract, shared by the batch
    readers and their streaming twins in ``streaming/pipeline.py``
    (review r13: the hand-copied option blocks are the r06/r11
    pasted-copy drift class — a fix applied to one reader silently
    not applying to the other would classify the same landing file
    differently in batch and streaming)."""
    reader = (
        reader.schema(
            corrupt_capture_schema() if quarantine else WEATHER_RAW_SCHEMA
        )
        .option("multiLine", True)
        .option("recursiveFileLookup", True)
    )
    if quarantine:
        reader = reader.option("mode", "PERMISSIVE").option(
            "columnNameOfCorruptRecord", "_corrupt_record"
        )
    return reader


def read_raw_json(spark: SparkSession, path: str) -> DataFrame:
    """S4: batch-scan raw JSON envelope files → flat readings.

    Option contract in ``raw_json_reader`` (shared with the streaming
    twin); corrupt records become nulls under the declared schema
    instead of poisoning inference.
    """
    envelopes = raw_json_reader(spark.read).json(path)
    return flatten_readings(envelopes)


def corrupt_capture_schema():
    """WEATHER_RAW_SCHEMA widened with the corrupt-record column —
    built FRESH each call (StructType.add mutates the receiver, so
    widening the shared schema in place would change every other
    reader behind its back). One definition for the batch reader and
    the streaming DLQ (review r11: the copy in streaming/pipeline.py
    could drift from a fix applied here)."""
    from pyspark.sql import types as T

    return T.StructType([*WEATHER_RAW_SCHEMA.fields]).add(
        "_corrupt_record", "string"
    )


def quarantine_frame(parsed: DataFrame) -> DataFrame:
    """The quarantine projection over a corrupt-capture parse:
    EVERY row with the corrupt marker set, as (raw_payload,
    n_parsed_readings). Under partial-results JSON parsing
    (spark.sql.json.enablePartialResults, default true since 3.4) a
    mistyped field sets _corrupt_record while ``readings`` still
    parses — an old ``readings IS NULL`` conjunct silently dropped
    those rows from BOTH branches (review r06). Spark rejects plans
    touching ONLY the internal corrupt-record column
    (UNSUPPORTED_FEATURE.QUERY_ONLY_CORRUPT_RECORD_COLUMN), so the
    filter keeps a non-foldable but always-true reference to
    ``readings``; the projection also surfaces how much of the row
    DID parse (the partial-corruption diagnostic). Shared by the
    batch reader and the streaming DLQ."""
    return parsed.filter(
        F.col("_corrupt_record").isNotNull()
        & (F.col("readings").isNull() | (F.size("readings") >= 0))
    ).select(
        F.col("_corrupt_record").alias("raw_payload"),
        F.size("readings").alias("n_parsed_readings"),
    )


def read_raw_json_with_quarantine(
    spark: SparkSession, path: str
) -> tuple[DataFrame, DataFrame]:
    """S4 with a dead-letter path: (readings, quarantined).

    A 100 TB/day raw zone always contains malformed batches (truncated
    uploads, encoding damage, producer bugs). Dropping them silently
    corrupts counts; failing the job on one bad file is worse. The
    production shape is PERMISSIVE parsing with
    ``columnNameOfCorruptRecord``: well-formed envelopes flow to the
    flatten path, malformed documents land — original bytes intact —
    in a quarantine frame the caller writes to a dead-letter sink for
    replay after the producer fix. The split is one predicate on the
    corrupt column (both branches share the scan); quarantine volume
    is the alert metric (``runner.validate`` style).

    Reference parity: the reference's ETL assumes clean input and
    would throw mid-job (glue_weather_etl.py json parsing); this is
    the operational hardening a real pipeline needs.
    """
    parsed = raw_json_reader(spark.read, quarantine=True).json(path)
    good = flatten_readings(
        parsed.filter(F.col("_corrupt_record").isNull()).drop(
            "_corrupt_record"
        )
    )
    # The two branches re-parse independently — deliberately no
    # persist() here, since a library reader must not leave cache
    # entries behind in a long-lived session; a caller materializing
    # both frames in one job can wrap the call in its own
    # persist/unpersist. Quarantine semantics: quarantine_frame above.
    return good, quarantine_frame(parsed)


#: Declared schema of the processed-CSV round-trip (S6): the flat CSV
#: columns ARE the reading fields, so reuse the one schema definition
#: (a hand-copied twin would silently drift — under P9 cast-to-null
#: semantics a mistyped column nulls out instead of erroring).
FLAT_CSV_SCHEMA = WEATHER_READING_SCHEMA


def read_flat_csv(spark: SparkSession, path: str) -> DataFrame:
    """S6: CSV scan with declared schema; bad cells null out (P9
    semantics — Spark casts yield null on failure, matching the
    reference's pd.to_numeric(errors='coerce'))."""
    return spark.read.schema(FLAT_CSV_SCHEMA).option("header", True).csv(path)
