"""Driver-visible evidence for the streaming path (T1-T5).

``tests/test_streaming.py`` already proves stream-equals-batch as a
pytest; this module expresses the same invariant as a CATALOG query so
the external driver's DuckDB oracle checks the streaming pipeline's
OUTPUT VALUES, not just the suite's word for it (VERDICT r04 #4).

Shape: derive 16-field weather envelopes from ``events`` with the same
integer-exact arithmetic the weatherlike family uses, write them as
one-envelope-per-file JSON into a fresh landing directory, drain the
REAL pipeline — ``readStream`` with declared schema, two micro-batches
(``maxFilesPerTrigger=1``), ``foreachBatch`` fan-out to both
checkpointed sinks with dynamic-partition-overwrite idempotence — then
return the processed sink's rows. The oracle recomputes every emitted
column straight from ``events``: the row set only matches if source,
trigger, transform chain, and sink round-trip are all value-exact.

Excluded from the comparison: ``temperature_fahrenheit`` and
``temperature_kelvin`` — ROUND(double, 1) outputs, the one known
cross-engine hash hazard (see weather_conversions' doc); they are
covered fixed-point there and by unit tests.

At 100 TB this query's pattern is the production topology: the landing
scan is partition-parallel, the transform chain is narrow (no shuffle
before the sinks), and each micro-batch's write is bounded by
``maxFilesPerTrigger`` — backlog drains at a deterministic pace.
"""

from __future__ import annotations

import glob
import os
import shutil
from contextlib import contextmanager

from pyspark.sql import Column, DataFrame, SparkSession, functions as F

from ..functions import weather as wx
from ..schemas import DERIVED_COLUMNS, FLAT_COLUMNS
from ..session import cached, detach
from ..sources.tables import load_tables
from .registry import QueryCatalog

CATALOG = QueryCatalog()

#: Deterministic subsample: every 3rd event inside the first two days
#: of the corpus (~220 readings at sf0.01). The DATE CUTOFF, not the
#: mod, is what keeps the query bench-friendly: the processed sink is
#: hive-partitioned by y/m/d/h (the production layout — GBs per hour
#: at 100 TB), so letting the fixture span all 30 days would fan
#: ~720 hourly partitions of near-empty files per sink at sf0.1 —
#: measured 26 s of pure tiny-file commit overhead, a fixture-scale
#: artifact with zero at-scale meaning. Two days bounds the fan-out
#: at ≤48 partitions per epoch while still crossing a midnight
#: boundary and 48 distinct hour cells.
_KEEP_MOD = 3
_TS_CUTOFF = "2024-01-03"

#: Shuffle/state partitions while a fixture stream drains. A streaming
#: query freezes spark.sql.shuffle.partitions into its checkpoint as
#: the STATE STORE partition count at start; the session's batch
#: setting (32 locally, 200 on a vanilla driver session) then pays
#: 32-200 state-store setups per stateful operator per micro-batch
#: for a ≤150-key fixture. Measured on the stream-stream join at
#: sf0.1: 6.8 s at 32 partitions → 2.9 s at 8 (r14) → 2.3 s at 4
#: (r17 interleaved 8-vs-4 A/B: joins −0.7 s, windowed −0.4 s,
#: sessions −0.3 s, dedup/batch-equiv −0.1..−0.3 s; 2 reverses the
#: trend, measured). At 100 TB this maps to the standard deployment
#: rule: size state partitions to key cardinality × executor count,
#: independently of the batch conf.
_STREAM_SHUFFLE = 4

#: The applyInPandasWithState drain keeps MORE partitions: its
#: per-batch cost is Python-side per-key-group compute, which
#: serializes within a partition — the r17 A/B read 3.4 s at 8 vs
#: 4.4 s at 4 while every JVM-state query preferred 4. The general
#: rule: state stores want partitions ∝ keys, Python stateful
#: operators want partitions ∝ available Python workers.
_STREAM_SHUFFLE_PANDAS = 8

#: r17 state-store provider A/B (VERDICT r16 task 1), measured on all
#: 7 drains at sf0.1, 3 reps each: RocksDB is NEVER better outside
#: noise and is 0.9-1.2 s WORSE on the stream-stream joins at 8
#: partitions (4.20 vs 3.01 s; its per-commit SST/snapshot churn
#: dwarfs these ≤few-thousand-row states). The HDFS-backed default
#: stays; RocksDB remains the documented choice only when state
#: outgrows executor heap (100 TB/day sessionization), via session
#: conf — no code path depends on the provider.


@contextmanager
def _stream_shuffle(spark: SparkSession, n: int = _STREAM_SHUFFLE):
    old = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", str(n))
    try:
        yield
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", old)


def _drain(q) -> None:
    """Await an availableNow drain to COMPLETION. awaitTermination
    returns False on timeout without raising — falling through would
    read a half-written sink (reported as a bogus correctness
    failure) while the orphaned query keeps running and contends
    with every later catalog query (review r06). Fail loudly
    instead."""
    if not q.awaitTermination(600):
        q.stop()
        raise RuntimeError(
            "streaming drain did not finish within 600s; sink is "
            "partial — not reading it"
        )


def _collect_sink(spark: SparkSession, path, work, columns=None):
    """Read the drained sink EAGERLY (localCheckpoint) and delete the
    temp work tree. Builders run repeatedly under bench/driver
    sweeps; without this every invocation leaked a full landing +
    sink + checkpoint copy of the fixture into /tmp (review r06).
    The returned frame holds its rows in block storage, independent
    of the deleted files."""
    df = spark.read.parquet(path)
    if columns is not None:
        df = df.select(*columns)
    out = detach(df)
    shutil.rmtree(work, ignore_errors=True)
    return out


def _drain_to_frame(
    spark: SparkSession, stream_df: DataFrame, work: str
) -> DataFrame:
    """Drain ``stream_df`` in append mode into a parquet sink under
    ``work`` with one availableNow run (``_drain``), then read the sink
    back eagerly and delete ``work`` (``_collect_sink``)."""
    outdir = f"{work}/sink"
    with _stream_shuffle(spark):
        q = (
            stream_df.writeStream.outputMode("append")
            .option("checkpointLocation", f"{work}/ckpt")
            .format("parquet")
            .option("path", outdir)
            .trigger(availableNow=True)
            .start()
        )
        _drain(q)
    return _collect_sink(spark, outdir, work)


_CITIES = ("Austin", "Boston", "Chicago", "Denver", "Seattle")
_DIRS = ("N", "NE", "E", "SE", "S", "SW", "W", "NW")
_CONDS = ("Clear", "Cloudy", "Rain", "Snow", "Fog", "Windy", "Hail")


def _case_sql(expr: str, values: tuple[str, ...]) -> str:
    whens = " ".join(
        f"WHEN {i} THEN '{v}'" for i, v in enumerate(values[:-1])
    )
    return f"CASE {expr} {whens} ELSE '{values[-1]}' END"


def _pick(values: tuple[str, ...], idx) -> F.Column:
    arr = F.array(*[F.lit(v) for v in values])
    return F.element_at(arr, (idx + 1).cast("int"))


def synthesize_readings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """events → one 16-field raw reading per kept event, plus the
    ``env_id`` used to split the landing dir into two batch files.

    Same derivation discipline as plans/weatherlike._weatherized: every
    field is integer arithmetic on event_id (exact in double) or a
    string format of ts, so DuckDB re-derives each one bit-identically.
    """
    ev = load_tables(spark, sf_dir, ("events",))["events"]
    eid = F.col("event_id")
    flat = ev.filter(
        (eid % _KEEP_MOD == 0)
        & (F.col("ts") < F.to_timestamp(F.lit(_TS_CUTOFF)))
    ).select(
        (eid % 2).alias("env_id"),
        F.concat(F.lit("ST-"), eid.cast("string")).alias("station_id"),
        _pick(_CITIES, eid % 5).alias("city"),
        F.lit("US").alias("country"),
        ((eid % 180).cast("double") - 90 + 0.5).alias("latitude"),
        ((eid % 360).cast("double") - 180 + 0.25).alias("longitude"),
        F.date_format("ts", "yyyy-MM-dd'T'HH:mm:ss").alias("timestamp"),
        ((eid % 1200).cast("double") / 10 - 60).alias(
            "temperature_celsius"
        ),
        (eid % 110).cast("double").alias("humidity_percent"),
        ((eid % 140) + 930).cast("double").alias("pressure_hpa"),
        (eid % 100).cast("double").alias("wind_speed_kmh"),
        _pick(_DIRS, eid % 8).alias("wind_direction"),
        (eid % 60).cast("double").alias("precipitation_mm"),
        _pick(_CONDS, eid % 7).alias("weather_condition"),
        ((eid % 15).cast("double") / 2).alias("visibility_km"),
        (eid % 13).cast("int").alias("uv_index"),
    )
    return flat.withColumn(
        "heat_index_celsius",
        wx.heat_index_celsius_raw(
            "temperature_celsius", "humidity_percent"
        ),
    )


def write_landing_files(readings: DataFrame, landing_dir: str) -> None:
    """Materialize the raw zone: one ``{"readings": [...]}`` envelope
    per file, the exact shape the reference's kinesis_to_s3.py batches
    write. Each env_id gets its own single-row write so every landing
    file holds exactly one envelope (multiLine JSON requires one
    document per file)."""
    envelopes = readings.groupBy("env_id").agg(
        F.collect_list(F.struct(*FLAT_COLUMNS)).alias("readings")
    )
    # two filtered writes below — build the 2 rows once
    with cached(envelopes) as envelopes:
        for i in (0, 1):
            envelopes.filter(F.col("env_id") == i).select(
                "readings"
            ).coalesce(1).write.mode("append").json(landing_dir)


#: Columns compared against the oracle: the full processed surface
#: minus the two ROUND(double,1) conversion columns (see module
#: docstring). DERIVED from schemas.DERIVED_COLUMNS so a new derived
#: column automatically joins the equivalence check instead of being
#: silently skipped (review r06: the list was re-typed by hand).
COMPARED_COLUMNS = FLAT_COLUMNS + [
    c
    for c in DERIVED_COLUMNS
    if c not in ("temperature_fahrenheit", "temperature_kelvin")
]

#: Shared oracle prefix: events → the fully-enriched reading relation
#: (raw fields + heat index + parsed timestamp), mirroring
#: synthesize_readings + the transform chain's inputs.
_ENRICHED_CTE = f"""
    WITH base AS (
        SELECT event_id AS eid, ts FROM events
        WHERE event_id % {_KEEP_MOD} = 0
          AND ts < TIMESTAMP '{_TS_CUTOFF}'
    ),
    flat AS (
        SELECT 'ST-' || CAST(eid AS VARCHAR) AS station_id,
               {_case_sql("eid % 5", _CITIES)} AS city,
               'US' AS country,
               CAST(eid % 180 AS DOUBLE) - 90 + 0.5 AS latitude,
               CAST(eid % 360 AS DOUBLE) - 180 + 0.25 AS longitude,
               strftime(ts, '%Y-%m-%dT%H:%M:%S') AS "timestamp",
               CAST(eid % 1200 AS DOUBLE) / 10 - 60
                   AS temperature_celsius,
               CAST(eid % 110 AS DOUBLE) AS humidity_percent,
               CAST((eid % 140) + 930 AS DOUBLE) AS pressure_hpa,
               CAST(eid % 100 AS DOUBLE) AS wind_speed_kmh,
               {_case_sql("eid % 8", _DIRS)} AS wind_direction,
               CAST(eid % 60 AS DOUBLE) AS precipitation_mm,
               {_case_sql("eid % 7", _CONDS)} AS weather_condition,
               CAST(eid % 15 AS DOUBLE) / 2 AS visibility_km,
               CAST(eid % 13 AS INTEGER) AS uv_index,
               CAST(date_trunc('second', ts) AS TIMESTAMP)
                   AS timestamp_parsed
        FROM base
    ),
    f1 AS (SELECT *, temperature_celsius * 9 / 5 + 32 AS temp_f
           FROM flat),
    f2 AS (SELECT *,
             0.5 * (temp_f + 61.0 + ((temp_f - 68.0) * 1.2)
                    + (humidity_percent * 0.094)) AS hi_simple
           FROM f1),
    f3 AS (SELECT *,
             CASE WHEN hi_simple > 79 THEN
               -42.379 + 2.04901523 * temp_f
               + 10.14333127 * humidity_percent
               - 0.22475541 * temp_f * humidity_percent
               - 0.00683783 * temp_f * temp_f
               - 0.05481717 * humidity_percent * humidity_percent
               + 0.00122874 * temp_f * temp_f * humidity_percent
               + 0.00085282 * temp_f * humidity_percent
                 * humidity_percent
               - 0.00000199 * temp_f * temp_f * humidity_percent
                 * humidity_percent
             ELSE hi_simple END AS hi_f
           FROM f2),
    enriched AS (SELECT *,
             CASE WHEN temp_f < 80 THEN temperature_celsius
                  ELSE (hi_f - 32) * 5 / 9 END AS heat_index_celsius
           FROM f3)
"""

#: F5 alert classification — weatherlike._ALERT_SQL IS the single
#: definition (it references only envelope columns this module's
#: `enriched` relation also exposes, so it drops in as-is; review
#: r06 removed a verbatim copy whose comment wrongly claimed the
#: column contexts differed).
from .weatherlike import _ALERT_SQL as _ALERT_CASE  # noqa: E402

_ORACLE = f"""
    {_ENRICHED_CTE}
    SELECT station_id, city, country, latitude, longitude, "timestamp",
           temperature_celsius, humidity_percent, pressure_hpa,
           wind_speed_kmh, wind_direction, precipitation_mm,
           weather_condition, visibility_km, uv_index,
           heat_index_celsius,
           CASE WHEN heat_index_celsius < 27 THEN 'Comfortable'
                WHEN heat_index_celsius < 32 THEN 'Caution'
                WHEN heat_index_celsius < 41 THEN 'Extreme Caution'
                WHEN heat_index_celsius < 54 THEN 'Danger'
                ELSE 'Extreme Danger' END AS comfort_level,
           CASE WHEN precipitation_mm > 50 THEN 'Extreme'
                WHEN precipitation_mm > 25 THEN 'Severe'
                WHEN wind_speed_kmh > 60 THEN 'Severe'
                WHEN visibility_km < 1 THEN 'Severe'
                WHEN (precipitation_mm > 10 OR wind_speed_kmh > 40
                      OR visibility_km < 3) THEN 'Moderate'
                WHEN uv_index > 10 THEN 'Moderate'
                ELSE 'Normal' END AS weather_severity,
           {_ALERT_CASE} AS alert_level,
           timestamp_parsed,
           CAST(hour(timestamp_parsed) AS INTEGER) AS hour_of_day,
           CAST(dayofweek(timestamp_parsed) + 1 AS INTEGER)
               AS day_of_week,
           (dayofweek(timestamp_parsed) + 1) IN (1, 7) AS is_weekend,
           CASE WHEN hour(timestamp_parsed) BETWEEN 6 AND 11
                    THEN 'Morning'
                WHEN hour(timestamp_parsed) BETWEEN 12 AND 17
                    THEN 'Afternoon'
                WHEN hour(timestamp_parsed) BETWEEN 18 AND 21
                    THEN 'Evening'
                ELSE 'Night' END AS time_of_day,
           CASE WHEN month(timestamp_parsed) IN (12, 1, 2)
                    THEN 'Winter'
                WHEN month(timestamp_parsed) IN (3, 4, 5)
                    THEN 'Spring'
                WHEN month(timestamp_parsed) IN (6, 7, 8)
                    THEN 'Summer'
                ELSE 'Autumn' END AS season,
           temperature_celsius BETWEEN -50 AND 60
               AS is_valid_temperature,
           humidity_percent BETWEEN 0 AND 100 AS is_valid_humidity,
           pressure_hpa BETWEEN 950 AND 1050 AS is_valid_pressure,
           (CAST(temperature_celsius BETWEEN -50 AND 60 AS INTEGER)
            + CAST(humidity_percent BETWEEN 0 AND 100 AS INTEGER)
            + CAST(pressure_hpa BETWEEN 950 AND 1050 AS INTEGER))
               / 3 * 100 AS data_quality_score
    FROM enriched
"""


@CATALOG.add(
    "streaming_batch_equivalence",
    _ORACLE,
    doc="T1-T5 as an oracle-checked catalog query: events-derived "
    "weather envelopes land as one-document JSON files, the REAL "
    "Structured Streaming pipeline (declared-schema readStream, "
    "maxFilesPerTrigger=1 so the two files become two micro-batches, "
    "append mode, one checkpoint, foreachBatch fan-out to both "
    "dynamic-overwrite sinks) drains them with availableNow, and the "
    "query returns the processed sink's rows. The DuckDB oracle "
    "recomputes all 29 compared columns (16 raw + comfort/severity/"
    "alert + 6 time features + 4 quality) directly from events — a "
    "value-exact end-to-end check of source, trigger, transform, and "
    "sink. The streamed row set matching batch SQL is the §7.1 "
    "one-code-path property, now driver-verified.",
    tags=("streaming", "weather"),
)
def streaming_batch_equivalence(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from ..streaming.pipeline import start_pipeline

    work = _work_dir("spark_graft_stream_equiv_")
    landing = f"{work}/landing"
    processed = f"{work}/processed"
    alerts = f"{work}/alerts"
    ckpt = f"{work}/ckpt"

    write_landing_files(synthesize_readings(spark, sf_dir), landing)
    with _stream_shuffle(spark):
        q = start_pipeline(
            spark, landing, processed, alerts, ckpt,
            max_files_per_trigger=1,
        )
        _drain(q)
    return _collect_sink(spark, processed, work, COMPARED_COLUMNS)


_WINDOWED_ORACLE = f"""
    {_ENRICHED_CTE},
    w AS (
        SELECT time_bucket(INTERVAL '1 hour', timestamp_parsed) AS ws,
               timestamp_parsed,
               {_ALERT_CASE} AS alert_level
        FROM enriched
    )
    SELECT CAST(ws AS TIMESTAMP) AS window_start,
           CAST(ws + INTERVAL 1 HOUR AS TIMESTAMP) AS window_end,
           alert_level,
           CAST(COUNT(*) AS BIGINT) AS n_events
    FROM w, (SELECT max(timestamp_parsed) AS mx FROM enriched) m
    WHERE ws + INTERVAL 1 HOUR <= mx - INTERVAL 1 HOUR
    GROUP BY ws, alert_level
"""


@CATALOG.add(
    "streaming_windowed_alert_counts",
    _WINDOWED_ORACLE,
    doc="STATEFUL streaming with a watermark, driver-checked: the same "
    "landing files drain through readStream → transform chain → "
    "1-hour event-time watermark → tumbling 1-hour window grouped by "
    "alert_level, append output mode to a streaming parquet sink. "
    "Append mode only emits a window once the watermark passes its "
    "end, so the result is exactly the windows closed by the FINAL "
    "watermark (max event time - 1h, advanced by the trailing "
    "no-data micro-batch) — the oracle models that emission rule "
    "explicitly (window_end <= max(ts) - 1h), making late-data "
    "semantics part of the checked contract, not incidental. At "
    "scale this is the canonical streaming rollup: state is one "
    "count per (window, level) key, eviction is watermark-driven, "
    "and the sink receives only finalized rows.",
    tags=("streaming", "weather", "agg", "temporal"),
)
def streaming_windowed_alert_counts(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from ..streaming.pipeline import read_stream_raw_json, transform_stream

    work = _work_dir("spark_graft_stream_window_")
    landing = f"{work}/landing"

    write_landing_files(synthesize_readings(spark, sf_dir), landing)
    # One micro-batch for both files: the watermark then gates only
    # FINAL emission — no mid-stream late-drop dependence on file
    # modification-time ordering, which is not deterministic.
    # the CANONICAL parse->flatten->transform chain, not a local
    # recomposition of its pieces (review r06): an added stage in
    # transform_stream must propagate here for the "same code path"
    # claim to stay true
    proc = transform_stream(read_stream_raw_json(spark, landing))
    agg = (
        proc.withWatermark("timestamp_parsed", "1 hour")
        .groupBy(
            F.window("timestamp_parsed", "1 hour").alias("w"),
            "alert_level",
        )
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            F.col("w.start").alias("window_start"),
            F.col("w.end").alias("window_end"),
            "alert_level",
            "n_events",
        )
    )
    return _drain_to_frame(spark, agg, work)


# --------------------------------------------------------------------------
# Custom stateful operator (applyInPandasWithState), driver-checked
# --------------------------------------------------------------------------

#: Micros-precision round-trip format for the JSON landing fixture —
#: the default JSON timestampFormat truncates to millis, which would
#: let the stream and the oracle order same-millisecond events
#: differently.
_TS_FMT = "yyyy-MM-dd'T'HH:mm:ss.SSSSSS"


def write_event_files(
    spark: SparkSession,
    sf_dir: str,
    files: list[tuple[str, Column | None]],
) -> None:
    """The raw-events landing fixture: the first two days of
    ``events`` (five columns, micros-precision JSON), written as one
    file per ``(directory, predicate)`` entry of ``files``, in order.
    A ``None`` predicate writes every event.

    FileStreamSource orders files by modification time, which
    back-to-back writes cannot be trusted to distinguish, so each
    entry's file is stamped with an explicit, strictly increasing
    mtime: a ``maxFilesPerTrigger=1`` replay reads them in list order.
    """
    ev = (
        load_tables(spark, sf_dir, ("events",))["events"]
        .filter(F.col("ts") < F.to_timestamp(F.lit(_TS_CUTOFF)))
        .select("event_id", "ts", "user_id", "event_type", "value")
    )
    # several filtered writes — scan events once
    with cached(ev) as ev:
        for i, (d, pred) in enumerate(files):
            before = set(glob.glob(f"{d}/part-*"))
            frame = ev if pred is None else ev.filter(pred)
            frame.coalesce(1).write.mode("append").option(
                "timestampFormat", _TS_FMT
            ).json(d)
            stamp = 1_700_000_000 + 60 * i
            for f in set(glob.glob(f"{d}/part-*")) - before:
                os.utime(f, (stamp, stamp))


def _parity_files(landing_dir: str) -> list[tuple[str, Column]]:
    """Two files split by event_id parity, so ``maxFilesPerTrigger=1``
    replays them as two micro-batches whose composition is
    deterministic (not mtime-ordering-dependent)."""
    return [(landing_dir, F.col("event_id") % 2 == i) for i in (0, 1)]


def _typed_files(
    clicks_dir: str, purchases_dir: str
) -> list[tuple[str, Column]]:
    """One landing dir per event_type, for the stream-stream
    attribution fixtures."""
    return [
        (clicks_dir, F.col("event_type") == "click"),
        (purchases_dir, F.col("event_type") == "purchase"),
    ]


# Success paths still rmtree immediately (_collect_sink); the shared
# atexit parent closes the FAILURE paths (review r11: a _drain
# timeout or a writeStream.start error raised before _collect_sink,
# leaking the landing + checkpoint + sink fixture copies until /tmp
# filled under repeated sweeps).
from .fixtures import work_dir as _work_dir


def _typed_stream(
    spark: SparkSession, d: str, max_files_per_trigger: int | None = None
) -> DataFrame:
    """ONE construction of the typed event stream (review r11: the
    schema + timestampFormat + pacing reader was pasted at five
    sites; a _TS_FMT or schema-handling change must reach them all)."""
    from ..streaming.windows import EVENT_STREAM_SCHEMA

    reader = spark.readStream.schema(EVENT_STREAM_SCHEMA)
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    return reader.option("timestampFormat", _TS_FMT).json(d)


@CATALOG.add(
    "streaming_running_user_stats",
    f"""
    WITH base AS (
        -- event_id IS NOT NULL mirrors the operator's
        -- dropna(subset=['ts','event_id']) row gate (review r11: a
        -- NULL-event_id row at the strict ts maximum would win this
        -- election while the operator deliberately excludes it —
        -- the tie-break key must exist for determinism)
        SELECT event_id, date_trunc('microseconds', ts) AS ts,
               user_id, event_type, value
        FROM events
        WHERE ts < TIMESTAMP '{_TS_CUTOFF}'
          AND event_id IS NOT NULL
    ),
    last AS (
        SELECT user_id, event_type,
               ROW_NUMBER() OVER (
                   PARTITION BY user_id
                   ORDER BY ts DESC, event_id DESC
               ) AS rn
        FROM base
    )
    SELECT g.user_id, g.n_events, g.max_value, l.event_type
               AS last_event_type
    FROM (
        SELECT user_id, COUNT(*) AS n_events,
               MAX(value) AS max_value
        FROM base GROUP BY user_id
    ) g
    JOIN (SELECT user_id, event_type FROM last WHERE rn = 1) l
      ON g.user_id = l.user_id
    """,
    doc="The CUSTOM stateful operator (streaming/windows.py "
    "running_user_stats — applyInPandasWithState, per-user profile in "
    "the checkpointed state store) driven end-to-end and checked "
    "against a batch oracle: two deterministic micro-batches of raw "
    "event JSON drain through the operator in update mode, foreachBatch "
    "records each epoch's emitted updates, and the query returns each "
    "user's LAST update — which must equal the all-batch cumulative "
    "profile (count, max, and (ts, event_id)-resolved last event type) "
    "recomputed by plain SQL. This is the state-merge contract: "
    "arrival order and batch boundaries must not be observable in the "
    "final state. State partitions by user_id (one shuffle per batch, "
    "horizontal scale); the Python boundary is Arrow-batched pandas "
    "per key-group, never row-at-a-time.",
    tags=("streaming", "stateful", "agg"),
)
def streaming_running_user_stats(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from ..streaming.windows import running_user_stats

    work = _work_dir("spark_graft_stream_state_")
    landing = f"{work}/landing"
    outdir = f"{work}/updates"
    ckpt = f"{work}/ckpt"

    write_event_files(spark, sf_dir, _parity_files(landing))
    events = _typed_stream(spark, landing, max_files_per_trigger=1)

    def sink(batch_df: DataFrame, epoch_id: int) -> None:
        batch_df.withColumn(
            "batch_id", F.lit(epoch_id).cast("long")
        ).write.mode("append").parquet(outdir)

    with _stream_shuffle(spark, _STREAM_SHUFFLE_PANDAS):
        q = (
            running_user_stats(events)
            .writeStream.outputMode("update")
            .option("checkpointLocation", ckpt)
            .foreachBatch(sink)
            .trigger(availableNow=True)
            .start()
        )
        _drain(q)

    from pyspark.sql import Window

    updates = _collect_sink(spark, outdir, work)
    w = Window.partitionBy("user_id").orderBy(F.desc("batch_id"))
    return (
        updates.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("user_id", "n_events", "max_value", "last_event_type")
    )


# --------------------------------------------------------------------------
# Streaming session windows (merging-window state), driver-checked
# --------------------------------------------------------------------------

#: Session inactivity gap — matches the batch user_session_windows
#: query so the two share semantics.
_SESSION_GAP = "10 minutes"
#: Event-time watermark delay for the streaming session query.
_SESSION_WM = "1 hour"


@CATALOG.add(
    "streaming_session_windows",
    f"""
    WITH base AS (
        SELECT event_id, date_trunc('microseconds', ts) AS ts,
               user_id, value
        FROM events
        WHERE ts < TIMESTAMP '{_TS_CUTOFF}'
    ),
    gaps AS (
        SELECT user_id, ts, value,
               -- strict >: Spark's session_window MERGES an
               -- exact-gap pair (review r06)
               CASE WHEN lag(ts) OVER w IS NULL
                         OR ts - lag(ts) OVER w > INTERVAL '10 minutes'
                    THEN 1 ELSE 0 END AS new_session
        FROM base
        WINDOW w AS (PARTITION BY user_id ORDER BY ts, value)
    ),
    sess AS (
        SELECT user_id, ts,
               SUM(new_session) OVER (
                   PARTITION BY user_id ORDER BY ts, value
                   ROWS UNBOUNDED PRECEDING) AS session_id
        FROM gaps
    )
    SELECT user_id,
           MIN(ts) AS session_start,
           MAX(ts) + INTERVAL '10 minutes' AS session_end,
           COUNT(*) AS n_events
    FROM sess
    GROUP BY user_id, session_id
    HAVING MAX(ts) + INTERVAL '10 minutes'
              <= (SELECT date_trunc('milliseconds', MAX(ts))
                  FROM base) - INTERVAL '1 hour'
    """,
    doc="Session windows under STREAMING (merging-window state), "
    "driver-checked: the two-day raw-event fixture drains through "
    "sessionized_user_activity (streaming/windows.py — native "
    "F.session_window with a 10-minute gap and a 1-hour event-time "
    "watermark) in append mode. Session state is the hardest stateful "
    "shape Structured Streaming has: windows MERGE when a new event "
    "bridges two open sessions, and a session only closes when the "
    "watermark passes its end (last event + gap). The oracle is the "
    "batch gaps-and-islands sessionization (same SQL as "
    "user_session_windows) plus the append-mode emission rule made "
    "explicit: sessions whose end <= final watermark (max event time "
    "- 1h). The fixture lands as ONE micro-batch so the watermark "
    "gates only final emission — mid-stream late-drop would depend on "
    "nondeterministic file ordering. At 100 TB the state store holds "
    "only OPEN sessions per user (bounded by the gap), partitioned by "
    "user_id; closed sessions leave state the moment the watermark "
    "passes them.",
    tags=("streaming", "temporal", "agg"),
)
def streaming_session_windows(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from ..streaming.windows import sessionized_user_activity

    work = _work_dir("spark_graft_stream_sess_")
    landing = f"{work}/landing"

    write_event_files(spark, sf_dir, _parity_files(landing))
    # No maxFilesPerTrigger: both files in one micro-batch (see doc).
    sessions = sessionized_user_activity(
        _typed_stream(spark, landing),
        gap=_SESSION_GAP,
        watermark=_SESSION_WM,
    )
    return _drain_to_frame(spark, sessions, work)


# --------------------------------------------------------------------------
# Stream-stream time-range join, driver-checked
# --------------------------------------------------------------------------

ATTRIBUTION_HORIZON = "12 hours"

#: The stream-stream join watermark and the oracle's eviction
#: interval must BOTH exceed the horizon (buffered clicks may not
#: become evictable before their attribution window ends) — derived
#: here so retuning the horizon cannot break the invariant or
#: desynchronize the oracle (review r11: '13 hours' was an
#: independent literal at two call sites and inside the oracle SQL).
_ATTR_HORIZON_HOURS = int(ATTRIBUTION_HORIZON.split()[0])
ATTRIBUTION_WATERMARK = f"{_ATTR_HORIZON_HOURS + 1} hours"


@CATALOG.add(
    "streaming_attributed_purchases",
    f"""
    WITH base AS (
        SELECT event_id, date_trunc('microseconds', ts) AS ts,
               user_id, event_type, value
        FROM events
        WHERE ts < TIMESTAMP '{_TS_CUTOFF}'
    )
    SELECT c.user_id,
           c.event_id AS click_id,
           c.ts AS click_ts,
           p.event_id AS purchase_id,
           p.ts AS purchase_ts,
           p.value AS purchase_value
    FROM base c JOIN base p
      ON c.user_id = p.user_id
     AND c.event_type = 'click' AND p.event_type = 'purchase'
     AND p.ts >= c.ts
     AND p.ts <= c.ts + INTERVAL {_ATTR_HORIZON_HOURS} HOUR
    """,
    doc="Stream-stream inner join driven end-to-end and value-checked: "
    "clicks and purchases land as separate JSON streams, BOTH sides "
    "are unbounded (each buffers rows in the state store until the "
    "other side can no longer match), and the time-RANGE condition + "
    "per-side watermarks bound that state — the streaming/windows.py "
    "attributed_purchases operator, previously pytest-only. Draining "
    "with availableNow, an INNER join emits every match exactly once "
    "regardless of watermark timing, so the streamed result must "
    "equal the batch range join the oracle computes — source "
    "round-trip (micros-exact timestamps), state buffering, and join "
    "semantics all in one check. At 100 TB/day the state held per "
    "side is one horizon's worth of keys (the range condition tells "
    "the engine exactly when a buffered click is dead), partitioned "
    "by user_id across executors.",
    tags=("streaming", "join", "temporal"),
)
def streaming_attributed_purchases(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from ..streaming.windows import attributed_purchases

    work = _work_dir("spark_graft_stream_join_")
    clicks_dir = f"{work}/clicks"
    purchases_dir = f"{work}/purchases"

    write_event_files(
        spark, sf_dir, _typed_files(clicks_dir, purchases_dir)
    )

    # Watermark > horizon: a buffered click must stay in state for
    # the full attribution window before eviction is allowed.
    joined = attributed_purchases(
        _typed_stream(spark, clicks_dir),
        _typed_stream(spark, purchases_dir),
        horizon=ATTRIBUTION_HORIZON,
        watermark=ATTRIBUTION_WATERMARK,
    )
    return _drain_to_frame(spark, joined, work)


# --------------------------------------------------------------------------
# Stream-static enrichment join, driver-checked
# --------------------------------------------------------------------------


@CATALOG.add(
    "streaming_static_enrichment",
    f"""
    SELECT e.event_id, date_trunc('microseconds', e.ts) AS ts,
           e.user_id, e.event_type,
           c.c_mktsegment AS segment,
           c.c_acctbal AS acctbal
    FROM events e JOIN customer c ON e.user_id = c.c_custkey
    WHERE e.ts < TIMESTAMP '{_TS_CUTOFF}'
    """,
    doc="Stream-STATIC join, driver-checked: the raw-event stream "
    "enriches against the batch customer dimension (user_id = "
    "c_custkey) — the canonical streaming-enrichment topology "
    "(clickstream × user profile, reading × station metadata). "
    "Unlike the stream-stream join this is STATELESS: the static "
    "side re-resolves per micro-batch (two here via "
    "maxFilesPerTrigger=1) and broadcasts under AQE, so there is no "
    "state store, no watermark, and dimension updates between "
    "batches are picked up automatically — the property that makes "
    "this the right tool when only one side is unbounded. The "
    "oracle is the plain batch equi-join, so the check pins that "
    "per-batch re-resolution changes nothing for a static dimension. "
    "At 100 TB/day the dimension side stays broadcast-sized or "
    "becomes a bucketed table co-partitioned with the stream's "
    "shuffle — either way the streaming side never buffers.",
    tags=("streaming", "join"),
)
def streaming_static_enrichment(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    work = _work_dir("spark_graft_stream_enrich_")
    landing = f"{work}/landing"

    write_event_files(spark, sf_dir, _parity_files(landing))
    customer = load_tables(spark, sf_dir, ("customer",))["customer"]
    stream = _typed_stream(spark, landing, max_files_per_trigger=1)
    enriched = (
        stream.join(
            customer, stream.user_id == customer.c_custkey, "inner"
        )
        .select(
            "event_id",
            "ts",
            "user_id",
            "event_type",
            F.col("c_mktsegment").alias("segment"),
            F.col("c_acctbal").alias("acctbal"),
        )
    )
    return _drain_to_frame(spark, enriched, work)


# --------------------------------------------------------------------------
# Stream-stream LEFT OUTER join: attribution with timeouts
# --------------------------------------------------------------------------


@CATALOG.add(
    "streaming_attribution_with_timeouts",
    f"""
    WITH base AS (
        SELECT event_id, date_trunc('microseconds', ts) AS ts,
               user_id, event_type, value
        FROM events
        WHERE ts < TIMESTAMP '{_TS_CUTOFF}'
    ),
    c AS (
        SELECT user_id, event_id AS click_id, ts AS click_ts
        FROM base WHERE event_type = 'click'
    ),
    p AS (
        SELECT user_id AS p_user_id, event_id AS purchase_id,
               ts AS purchase_ts, value AS purchase_value
        FROM base WHERE event_type = 'purchase'
    ),
    m AS (
        SELECT c.user_id, c.click_id, c.click_ts,
               p.purchase_id, p.purchase_ts, p.purchase_value
        FROM c JOIN p
          ON c.user_id = p.p_user_id
         AND p.purchase_ts >= c.click_ts
         AND p.purchase_ts <= c.click_ts + INTERVAL {_ATTR_HORIZON_HOURS} HOUR
    ),
    wm AS (
        -- Spark tracks max event time floored to MILLISECONDS
        -- (EventTimeStats accumulates micros/1000), so the final
        -- watermark each side contributes is floor_ms(max) - delay;
        -- a micros-exact MAX here would claim emissions Spark still
        -- holds when a timeout lands in the sub-ms gap (review r06)
        SELECT LEAST(
                 (SELECT date_trunc('milliseconds', MAX(click_ts))
                  FROM c),
                 (SELECT date_trunc('milliseconds', MAX(purchase_ts))
                  FROM p))
                   - INTERVAL {_ATTR_HORIZON_HOURS + 1} HOUR AS gwm
    ),
    o AS (
        SELECT c.user_id, c.click_id, c.click_ts,
               CAST(NULL AS BIGINT) AS purchase_id,
               CAST(NULL AS TIMESTAMP) AS purchase_ts,
               CAST(NULL AS DOUBLE) AS purchase_value
        FROM c
        WHERE NOT EXISTS (
            SELECT 1 FROM p
            WHERE p.p_user_id = c.user_id
              AND p.purchase_ts >= c.click_ts
              AND p.purchase_ts <= c.click_ts + INTERVAL {_ATTR_HORIZON_HOURS} HOUR
        )
        AND c.click_ts + INTERVAL {_ATTR_HORIZON_HOURS} HOUR <= (SELECT gwm FROM wm)
    )
    SELECT * FROM m UNION ALL SELECT * FROM o
    """,
    doc="Stream-stream LEFT OUTER join — attribution with TIMEOUTS: "
    "clicks that never convert emit a null-purchase row once the "
    "global watermark passes their attribution window, turning "
    "watermark-driven state EVICTION into the emission signal (the "
    "funnel shape where non-conversion is the datum). The oracle "
    "models the outer-emission rule explicitly: unmatched clicks "
    "with click_ts + horizon <= min(max event time per side) - "
    "watermark delay — matched rows emit on match regardless, so "
    "the union is exactly what the sink holds after availableNow's "
    "trailing no-data batch flushes evicted state. This is the "
    "subtlest streaming semantics the engine claims (outer results "
    "CANNOT emit eagerly — a match may still arrive — so "
    "correctness hinges on the eviction timing the oracle pins). "
    "State and scale story are the inner join's: one horizon of "
    "clicks per user partition, ranged eviction, both sides "
    "unbounded.",
    tags=("streaming", "join", "temporal"),
)
def streaming_attribution_with_timeouts(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from ..streaming.windows import attributed_purchases

    work = _work_dir("spark_graft_stream_outer_")
    clicks_dir = f"{work}/clicks"
    purchases_dir = f"{work}/purchases"

    write_event_files(
        spark, sf_dir, _typed_files(clicks_dir, purchases_dir)
    )

    joined = attributed_purchases(
        _typed_stream(spark, clicks_dir),
        _typed_stream(spark, purchases_dir),
        horizon=ATTRIBUTION_HORIZON,
        watermark=ATTRIBUTION_WATERMARK,
        how="left_outer",
    )
    return _drain_to_frame(spark, joined, work)


# --------------------------------------------------------------------------
# Streaming exact dedup under at-least-once replay, driver-checked
# --------------------------------------------------------------------------


@CATALOG.add(
    "streaming_dedup_replay",
    f"""
    SELECT event_id, date_trunc('microseconds', ts) AS ts,
           user_id, event_type, value
    FROM events
    WHERE ts < TIMESTAMP '{_TS_CUTOFF}'
    """,
    doc="At-least-once delivery made exactly-once: the two-day event "
    "fixture lands twice — the full file, then a REPLAYED copy of the "
    "even event_ids (a re-delivered Kinesis shard / re-listed file) as "
    "a second micro-batch — and drains through deduplicated_events "
    "(dropDuplicatesWithinWatermark keyed on event_id, state evicted "
    "by the watermark; streaming/windows.py). The emitted row set "
    "must be EXACTLY the distinct events, whichever copy of each "
    "duplicate arrived first and whether the replay was caught by "
    "keyed state or by the late-row watermark cut — the oracle is "
    "plain SELECT-distinct-by-construction from the source table. "
    "Plain dropDuplicates on a stream retains every key forever and "
    "OOMs at 100 TB/day; the watermark bound makes dedup state one "
    "horizon wide, and the idempotent sink (sinks/writers.py) covers "
    "replays older than the horizon — the standard two-layer "
    "exactly-once story, now driver-verified end to end.",
    tags=("streaming", "dedup"),
)
def streaming_dedup_replay(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from ..streaming.windows import deduplicated_events

    work = _work_dir("spark_graft_stream_dedup_")
    landing = f"{work}/landing"

    # File 1: every event. File 2: the replayed duplicates. The
    # micro-batch ORDER is load-bearing: if the replay file were
    # processed first, the watermark would advance past most odd
    # events and late-drop them in batch 2; write_event_files pins
    # the mtimes to the list order.
    write_event_files(
        spark,
        sf_dir,
        [(landing, None), (landing, F.col("event_id") % 2 == 0)],
    )

    deduped = deduplicated_events(
        _typed_stream(spark, landing, max_files_per_trigger=1)
    )
    return _drain_to_frame(spark, deduped, work)
