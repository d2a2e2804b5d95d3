"""Structured Streaming pipeline (SURVEY §2.9 T1-T6).

The reference's topology (scripts/glue_weather_etl.py:540-595):
Kinesis → parse/flatten → 6 transforms → two parquet sinks (all data +
filtered alerts), each with its own checkpoint. Re-expressed:

- **Source** (T1): file-stream over a landing directory — the stand-in
  for Kinesis this environment supports; ``startingOffsets=earliest``
  becomes "process files already present". ``maxFilesPerTrigger``
  replaces the consumer's 10-records/poll pacing (T5 twin).
- **Transforms**: the SAME pure DataFrame→DataFrame functions the batch
  path uses (functions/weather.py) — one code path, so batch results
  and streaming results provably agree (tested in
  tests/test_streaming.py).
- **Two-sink fan-out** (T4): the reference runs two INDEPENDENT
  checkpointed queries, which can diverge on failure (§7.4-8). Here one
  ``foreachBatch`` writes both sinks per micro-batch from the same
  batch DataFrame: a batch is either fully applied to both sinks on
  replay or reapplied to both — no divergence window.
- **Checkpointing** (T3): one checkpoint for the single query.
- **Append mode** (T2): the stage is stateless (no aggregation), every
  input row is emitted exactly once per sink's semantics.
- **Partition by key** (T6): alerts repartition on ``station_id``
  before the write, mirroring the Kinesis partition-key choice
  (send_to_kinesis.py:183-189) so per-station files cluster.

At scale: the stateless map/filter stages are narrow; the only shuffle
is the optional T6 repartition; sinks write hive-partitioned parquet
(sinks/writers.py) so downstream pruning works on the lake.
"""

from __future__ import annotations

import uuid

from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.sql.streaming import StreamingQuery

from ..functions.weather import apply_transformations
from ..schemas import ALERT_COLUMNS
from ..session import cached
from ..sinks.writers import (
    TIME_PARTITIONS,
    overwrite_partitions,
    with_time_partitions,
)
from ..sources.readers import (
    flatten_readings,
    quarantine_frame,
    raw_json_reader,
)

#: Landing files per micro-batch unless the caller paces otherwise.
MAX_FILES_PER_TRIGGER = 10


def read_stream_raw_json(
    spark: SparkSession,
    landing_dir: str,
    max_files_per_trigger: int = MAX_FILES_PER_TRIGGER,
) -> DataFrame:
    """T1/T5: streaming scan of raw JSON envelopes in a landing dir.

    Declared schema (never infer on a stream); multiLine for the
    pretty-printed batches; existing files are processed first (the
    TRIM_HORIZON analog).
    """
    # one option block shared with the batch twin: without
    # recursiveFileLookup the stream would list zero files under the
    # zero-padded date prefixes while the batch path sees them all
    return (
        raw_json_reader(spark.readStream)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .json(landing_dir)
    )


def transform_stream(raw: DataFrame) -> DataFrame:
    """Parse → flatten → the six transform families (shared code path)."""
    return apply_transformations(flatten_readings(raw))


def alerts_view(processed: DataFrame) -> DataFrame:
    """P4+P5: the filtered alerts projection (glue_weather_etl.py:503-523)."""
    return processed.filter(
        F.col("alert_level").isin("WARNING", "CRITICAL")
    ).select(*ALERT_COLUMNS)


def _query_namespace(batch_df: DataFrame) -> str:
    """The running stream's query id, as 32 hex digits.

    Spark writes the id once into ``<checkpoint>/metadata``, so it is
    the same across restarts on one checkpoint and new after the
    checkpoint is wiped: exactly the lifetime of the epoch ids.
    """
    sc = batch_df.sparkSession.sparkContext
    query_id = sc.getLocalProperty("sql.streaming.queryId")
    if query_id is None:
        raise RuntimeError(
            "no streaming query id: call this inside a foreachBatch"
        )
    return uuid.UUID(query_id).hex


def write_both_sinks(
    batch_df: DataFrame,
    processed_path: str,
    alerts_path: str,
    *,
    epoch_id: int,
    run_ns: str,
) -> None:
    """T4: one micro-batch → both sinks, idempotent under replay.

    After a crash between the two writes, the checkpoint replays the
    whole micro-batch. Plain parquet append would then duplicate rows
    in whichever sink already committed, so each sink partitions by
    ``epoch_id`` and is written through ``overwrite_partitions``: a
    replay rewrites exactly its own epoch partitions, converging both sinks
    to one copy of the batch. (This also removes the cross-sink
    divergence the reference's two independent queries have — both
    writes share one batch and one checkpoint.)

    The partition value is ``<run_ns>-<epoch_id>``. Epoch ids restart
    at 0 per checkpoint, so ``run_ns`` must live exactly as long as
    the checkpoint: ``start_pipeline`` passes the query id, which a
    replay sees again and a checkpoint reset (or a second stream
    sharing the sink) does not, so no run overwrites another's epochs.

    The batch frame is written twice from one lineage; caching it
    avoids recomputing the transforms for the second sink.

    Scale boundary: each micro-batch adds one epoch_id partition to
    BOTH sinks forever — bounded and cheap under the default
    availableNow/hourly-batch cadence this sink is designed for, but
    UNBOUNDED under a 1-second continuous trigger (~600k
    partitions/week: listing, partition discovery, and small files
    degrade until unusable). Long-lived continuous streams belong on
    ``start_tablelog_sink``, whose table has compaction + vacuum +
    checkpoint folding; these plain directory sinks have no
    compaction path by design.
    """
    if "epoch_id" in batch_df.columns:
        # withColumn would silently replace the caller's data with
        # the fabricated replay key — the same reserved-name hazard
        # the table log refuses loudly
        raise ValueError(
            "write_both_sinks fabricates the reserved epoch_id "
            "column but the batch already has one — rename or drop "
            "it"
        )
    epoch_val = f"{run_ns}-{epoch_id}"
    batch_df = batch_df.withColumn("epoch_id", F.lit(epoch_val))
    # two sinks read the batch: compute it once
    with cached(batch_df):
        overwrite_partitions(
            with_time_partitions(batch_df, "timestamp_parsed"),
            processed_path,
            *TIME_PARTITIONS,
            "epoch_id",
        )
        # alerts_view projects the fixed ALERT_COLUMNS (no epoch_id),
        # so the fabricated column is re-added for the sink partition
        alerts = alerts_view(batch_df).withColumn(
            "epoch_id", F.lit(epoch_val)
        )
        # T6: cluster alert files by station like the Kinesis
        # partition key.
        overwrite_partitions(
            alerts.repartition(F.col("station_id")), alerts_path, "epoch_id"
        )


def start_pipeline(
    spark: SparkSession,
    landing_dir: str,
    processed_path: str,
    alerts_path: str,
    checkpoint_dir: str,
    trigger: dict | None = None,
    max_files_per_trigger: int = MAX_FILES_PER_TRIGGER,
) -> StreamingQuery:
    """Wire the full streaming pipeline and start it.

    ``trigger`` defaults to ``availableNow`` (drain everything present,
    then stop — the testable batch-equivalent trigger); pass
    ``{"processingTime": "1 second"}`` for the reference's continuous
    pacing (kinesis_to_s3.py:34-35). ``max_files_per_trigger`` is the
    T5 pacing knob — 1 forces one micro-batch per landing file.

    Each epoch is namespaced by the query id stored in the checkpoint.
    A checkpoint written before the query id became the namespace gets
    a new namespace on its first restart, so a batch it replays then
    lands as a second copy: before upgrading, stop such a stream only
    when its last batch has committed.
    """
    raw = read_stream_raw_json(
        spark, landing_dir, max_files_per_trigger=max_files_per_trigger
    )
    processed = transform_stream(raw)
    writer = (
        processed.writeStream.outputMode("append")  # T2
        .option("checkpointLocation", checkpoint_dir)  # T3
        .foreachBatch(
            lambda df, epoch: write_both_sinks(
                df, processed_path, alerts_path, epoch_id=epoch,
                run_ns=_query_namespace(df),
            )
        )
    )
    writer = writer.trigger(**(trigger or {"availableNow": True}))
    return writer.start()


def start_quarantine_stream(
    spark: SparkSession,
    landing_dir: str,
    quarantine_path: str,
    checkpoint_dir: str,
) -> StreamingQuery:
    """Sidecar dead-letter query: malformed envelopes → quarantine sink.

    The main pipeline is already malformed-tolerant (declared schema
    nulls a bad envelope; the flatten explode drops it) — but silent
    drops hide producer bugs. This companion query tails the SAME
    landing dir with PERMISSIVE parsing + a corrupt-record column and
    appends each malformed document's original bytes to a quarantine
    sink for replay. Running it as a separate query (own checkpoint)
    keeps the hot path untouched: the DLQ can lag, be restarted, or be
    dropped without affecting processed/alerts, and at 100 TB/day its
    input is the same file listing with near-zero matching rows.
    Batch twin: sources/readers.read_raw_json_with_quarantine.
    """
    # schema + quarantine semantics shared with the batch twin
    # (sources/readers: corrupt_capture_schema / quarantine_frame), so
    # a fix to the batch reader cannot miss this stream
    corrupt = quarantine_frame(
        raw_json_reader(spark.readStream, quarantine=True)
        .option("maxFilesPerTrigger", MAX_FILES_PER_TRIGGER)
        .json(landing_dir)
    )
    return (
        corrupt.writeStream.outputMode("append")
        .option("checkpointLocation", checkpoint_dir)
        .format("parquet")
        .option("path", quarantine_path)
        .trigger(availableNow=True)
        .start()
    )


def append_epoch_to_tablelog(
    batch_df: DataFrame, table: str, epoch_id: int, query_ns: str
) -> int:
    """One micro-batch → one atomic table-log commit, replay-proof.

    Structured Streaming guarantees foreachBatch AT-LEAST-once with a
    stable ``epoch_id`` per batch; the log's txn-id dedup
    (sinks/tablelog.py) makes the replay a no-op, which upgrades the
    sink to EXACTLY-once — without the epoch partition column +
    dynamic-overwrite dance ``write_both_sinks`` needs on a bare
    directory sink. The commit is atomic, so a concurrent reader
    sees each micro-batch entirely or not at all (bare parquet
    appends expose half-written batches), and batch writers can
    share the same table: the optimistic-commit protocol serializes
    them with the stream.

    The txn id is ``epoch-<query_ns>-<epoch_id>``. ``query_ns`` scopes
    it to ONE logical stream: epoch ids restart at 0 per checkpoint,
    so a bare ``epoch-{id}`` would make a second stream (or the same
    stream restarted on a fresh checkpoint) collide with the first
    stream's ids and silently drop its batches as "replays".
    """
    from ..sinks import tablelog

    return tablelog.append(
        batch_df, table, txn_id=f"epoch-{query_ns}-{epoch_id}"
    )


def start_tablelog_sink(
    processed: DataFrame,
    table: str,
    checkpoint_dir: str,
) -> StreamingQuery:
    """Exactly-once streaming sink into a manifest-committed table.

    Drains ``processed`` under ``availableNow``, one
    ``append_epoch_to_tablelog`` per micro-batch. Checkpoint + txn id
    together give end-to-end exactly-once across crashes on BOTH sides
    of the seam: the checkpoint replays unacknowledged epochs, the log
    ignores already-committed ones. The txn namespace is the query id
    Spark keeps in the checkpoint, so independent streams never
    collide, a restart on the same checkpoint keeps its namespace
    (epoch replay dedup keeps working), and a checkpoint RESET (wiping
    the dir to reprocess, which legitimately restarts at epoch 0 with
    NEW data) rotates the namespace instead of dropping the first
    batches as replays of the old run. A checkpoint written before the
    query id became the namespace gets a new one on its first restart:
    before upgrading, stop such a stream only when its last batch has
    committed.
    """
    return (
        processed.writeStream.outputMode("append")
        .option("checkpointLocation", checkpoint_dir)
        .foreachBatch(
            lambda df, epoch: append_epoch_to_tablelog(
                df, table, epoch, _query_namespace(df)
            )
        )
        .trigger(availableNow=True)
        .start()
    )
