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

import os

from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.sql.streaming import StreamingQuery

from ..functions.weather import apply_transformations
from ..schemas import ALERT_COLUMNS
from ..session import cached
from ..sinks.writers import DYNAMIC_OVERWRITE, with_time_partitions
from ..sources.readers import (
    flatten_readings,
    quarantine_frame,
    raw_json_reader,
)


def read_stream_raw_json(
    spark: SparkSession, landing_dir: str, max_files_per_trigger: int = 10
) -> DataFrame:
    """T1/T5: streaming scan of raw JSON envelopes in a landing dir.

    Declared schema (never infer on a stream); multiLine for the
    pretty-printed batches; existing files are processed first (the
    TRIM_HORIZON analog).
    """
    # option contract shared with the batch twin via raw_json_reader
    # (review r11: without recursiveFileLookup the stream listed zero
    # top-level files under the zero-padded date prefixes while the
    # batch path saw everything; review r13: the option block itself
    # is now ONE definition, not a pasted copy)
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


def write_both_sinks(
    batch_df: DataFrame,
    processed_path: str,
    alerts_path: str,
    epoch_id: int = 0,
    run_ns: str | None = None,
) -> None:
    """T4: one micro-batch → both sinks, idempotent under replay.

    After a crash between the two writes, the checkpoint replays the
    whole micro-batch. Plain parquet append would then duplicate rows
    in whichever sink already committed, so each sink partitions by
    ``epoch_id`` and uses DYNAMIC partition overwrite: a replay
    rewrites exactly its own epoch partitions, converging both sinks
    to one copy of the batch. (This also removes the cross-sink
    divergence the reference's two independent queries have — both
    writes share one batch and one checkpoint.)

    The batch frame is written twice from one lineage; caching it
    avoids recomputing the transforms for the second sink.

    Scale boundary, stated honestly (review r13): each micro-batch
    adds one epoch_id partition to BOTH sinks forever — bounded and
    cheap under the default availableNow/hourly-batch cadence this
    sink is designed for, but UNBOUNDED under a 1-second continuous
    trigger (~600k partitions/week: listing, partition discovery,
    and small files degrade until unusable). Long-lived continuous
    streams belong on ``start_tablelog_sink``, whose table has
    compaction + vacuum + checkpoint folding; these plain directory
    sinks have no compaction path by design.
    """
    if "epoch_id" in batch_df.columns:
        # withColumn would silently replace the caller's data with
        # the fabricated replay key (review r13) — the same
        # reserved-name hazard the table log refuses loudly
        raise ValueError(
            "write_both_sinks fabricates the reserved epoch_id "
            "column but the batch already has one — rename or drop "
            "it"
        )
    # epoch ids restart at 0 per checkpoint, so a bare epoch_id
    # partition collides across checkpoint resets (or two streams
    # sharing a sink) and the dynamic overwrite would replace the
    # OTHER run's epoch-0 partitions — the same cross-checkpoint
    # collision append_epoch_to_tablelog namespaces its txn ids
    # against (review r08/r11). start_pipeline passes the
    # checkpoint-lifetime namespace; bare ints remain for direct
    # single-run callers.
    epoch_val = f"{run_ns}-{epoch_id}" if run_ns else str(epoch_id)
    batch_df = batch_df.withColumn("epoch_id", F.lit(epoch_val))
    # two sinks read the batch: compute it once
    with cached(batch_df):
        # per-WRITE dynamic overwrite: a session-conf toggle would be
        # shared mutable state — a concurrent writer could run its
        # overwrite in static mode and drop every partition of its sink
        with_time_partitions(batch_df, "timestamp_parsed").write.mode(
            "overwrite"
        ).option(*DYNAMIC_OVERWRITE).partitionBy(
            "year", "month", "day", "hour", "epoch_id"
        ).parquet(processed_path)
        # alerts_view projects the fixed ALERT_COLUMNS (no epoch_id),
        # so the fabricated column is re-added for the sink partition
        alerts = alerts_view(batch_df).withColumn(
            "epoch_id", F.lit(epoch_val)
        )
        # T6: cluster alert files by station like the Kinesis
        # partition key.
        alerts.repartition(F.col("station_id")).write.mode(
            "overwrite"
        ).option(*DYNAMIC_OVERWRITE).partitionBy("epoch_id").parquet(
            alerts_path
        )


def start_pipeline(
    spark: SparkSession,
    landing_dir: str,
    processed_path: str,
    alerts_path: str,
    checkpoint_dir: str,
    trigger: dict | None = None,
    max_files_per_trigger: int = 10,
) -> StreamingQuery:
    """Wire the full streaming pipeline and start it.

    ``trigger`` defaults to ``availableNow`` (drain everything present,
    then stop — the testable batch-equivalent trigger); pass
    ``{"processingTime": "1 second"}`` for the reference's continuous
    pacing (kinesis_to_s3.py:34-35). ``max_files_per_trigger`` is the
    T5 pacing knob — 1 forces one micro-batch per landing file.
    """
    raw = read_stream_raw_json(
        spark, landing_dir, max_files_per_trigger=max_files_per_trigger
    )
    processed = transform_stream(raw)
    # checkpoint-lifetime namespace: epoch partitions stay disjoint
    # across checkpoint resets and across streams sharing a sink
    run_ns = _checkpoint_namespace(checkpoint_dir, spark)
    writer = (
        processed.writeStream.outputMode("append")  # T2
        .option("checkpointLocation", checkpoint_dir)  # T3
        .foreachBatch(
            lambda df, epoch: write_both_sinks(
                df, processed_path, alerts_path, epoch_id=epoch,
                run_ns=run_ns,
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
    max_files_per_trigger: int = 10,
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
    # schema + quarantine semantics SHARED with the batch twin
    # (sources/readers: corrupt_capture_schema / quarantine_frame) —
    # review r11: the pasted copy here could silently diverge from a
    # fix applied to the batch reader (the r06 partial-results filter
    # bug class).
    corrupt = quarantine_frame(
        raw_json_reader(spark.readStream, quarantine=True)
        .option("maxFilesPerTrigger", max_files_per_trigger)
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

    ``query_ns`` scopes the txn id to ONE logical stream: epoch ids
    restart at 0 per checkpoint, so a bare ``epoch-{id}`` would make
    a second stream (or the same stream restarted on a fresh
    checkpoint) collide with the first stream's ids and silently
    drop its batches as "replays" (review r08).
    """
    from ..sinks import tablelog

    return tablelog.append(
        batch_df, table, txn_id=f"epoch-{query_ns}-{epoch_id}"
    )


def _checkpoint_namespace(
    checkpoint_dir: str, spark: SparkSession | None = None
) -> str:
    """The txn namespace bound to this checkpoint's LIFETIME: a uuid
    minted once per checkpoint and stored IN it (so resetting the
    checkpoint also resets the namespace — exactly when epoch ids
    restart). The marker appears ATOMICALLY with its contents —
    written to a tmp name and os.link'd into place — so concurrent
    first-starts converge on one winner's uuid and a loser can never
    read a created-but-not-yet-written marker as an empty namespace
    (ADVICE r08: O_EXCL-create followed by a separate write left that
    window, and two drivers with different namespaces break epoch
    replay dedup silently).

    Checkpoint locations are Hadoop path URIs, not local paths
    (review r11): for any URI with a scheme (``file:``, ``hdfs:``,
    ``s3a:``, ...) the marker lives on the checkpoint's OWN
    filesystem via the Hadoop FileSystem API — local ``os.*`` calls
    on ``s3a://bucket/cp`` would silently write a marker to a local
    directory literally named ``s3a:/bucket/cp`` while Spark's state
    lives in S3, and a driver failover host would then mint a FRESH
    namespace and re-commit a replayed epoch as new data. SCHEMELESS
    paths resolve the same way Spark resolves checkpointLocation —
    against ``fs.defaultFS`` (review r13): on a cluster whose
    defaultFS is hdfs:// or s3a://, a bare ``/ckpt/weather`` is a
    CLUSTER path, and the old local-``os.*`` fallback put the marker
    on the driver's local disk — the same wrong-filesystem bug the
    r11 fix closed for scheme'd paths, shifted to schemeless ones.
    The local branch now runs only when the path actually resolves
    to the local filesystem (file: defaultFS, or no active session —
    the unit-test context). Exclusive ``fs.create(overwrite=False)``
    is atomic on HDFS-compatible filesystems — the same property
    Structured Streaming itself requires of a checkpoint location."""
    import uuid

    import errno
    import time
    import urllib.parse

    scheme = urllib.parse.urlparse(checkpoint_dir).scheme
    if spark is None:
        spark = SparkSession.getActiveSession()
    if not scheme and spark is not None:
        default_fs = spark._jsc.hadoopConfiguration().get(
            "fs.defaultFS", "file:///"
        )
        if urllib.parse.urlparse(default_fs).scheme not in ("", "file"):
            # Spark will resolve this schemeless checkpoint against
            # the cluster defaultFS — the marker must live there too
            scheme = "via-default-fs"
    if scheme:
        if spark is None:
            raise ValueError(
                f"checkpoint location {checkpoint_dir!r} has a "
                "filesystem scheme; resolving its namespace marker "
                "needs an active SparkSession (Hadoop FileSystem API)"
            )
        jvm = spark._jvm
        jpath = jvm.org.apache.hadoop.fs.Path(
            checkpoint_dir.rstrip("/") + "/.tablelog-namespace"
        )
        fs = jpath.getFileSystem(spark._jsc.hadoopConfiguration())
        create_err = None
        if not fs.exists(jpath):
            try:
                out = fs.create(jpath, False)  # exclusive: one winner
                try:
                    out.write(uuid.uuid4().hex[:12].encode("ascii"))
                finally:
                    out.close()
            except Exception as exc:
                # EITHER lost the create race (the winner's content
                # appears below) OR a real failure — permission,
                # quota, outage. Keep the error: if no marker ever
                # appears, IT is the root cause, not the misleading
                # marker-stayed-empty message (review r13)
                create_err = exc
        content = ""
        for _ in range(50):
            if fs.exists(jpath):
                stream = fs.open(jpath)
                try:
                    content = (
                        jvm.org.apache.commons.io.IOUtils.toString(
                            stream, "UTF-8"
                        ).strip()
                    )
                finally:
                    stream.close()
            if content:
                return content
            time.sleep(0.02)
        if create_err is not None and not fs.exists(jpath):
            # nobody created the marker and OUR create failed: the
            # swallowed exception is the actionable diagnosis
            raise RuntimeError(
                f"could not create the namespace marker "
                f"{checkpoint_dir}/.tablelog-namespace: {create_err}"
            ) from create_err
        raise RuntimeError(
            f"namespace marker {checkpoint_dir}/.tablelog-namespace "
            "stayed empty; remove it (or reset the checkpoint) before "
            "restarting the stream"
        )

    os.makedirs(checkpoint_dir, exist_ok=True)
    marker = os.path.join(checkpoint_dir, ".tablelog-namespace")
    if not os.path.exists(marker):
        tmp = f"{marker}.tmp-{uuid.uuid4().hex}"
        with open(tmp, "w") as fh:
            fh.write(uuid.uuid4().hex[:12])
            # durable BEFORE the link publishes it (review r13, the
            # tablelog._publish rule): without the fsync a power loss
            # after the link can leave a published-but-EMPTY marker —
            # every later start reads "" and wedges, and the
            # committed epochs' namespace is unrecoverable
            fh.flush()
            os.fsync(fh.fileno())
        try:
            os.link(tmp, marker)  # atomic publish: EEXIST = lost race
        except FileExistsError:
            pass
        except OSError as exc:
            # Filesystems without hard links (some FUSE/object-store
            # checkpoint mounts). Fall back to O_EXCL create+write;
            # the created-empty window is handled by the reader's
            # retry below (review r09 — os.rename is NOT a safe
            # fallback: last-writer-wins would let two starters each
            # read a different namespace).
            if exc.errno not in (errno.EPERM, errno.ENOTSUP, errno.EOPNOTSUPP):
                raise
            try:
                fd = os.open(marker, os.O_WRONLY | os.O_CREAT | os.O_EXCL)
                try:
                    with open(tmp) as src:
                        os.write(fd, src.read().encode())
                    os.fsync(fd)  # same durability rule as the link path
                finally:
                    os.close(fd)
            except FileExistsError:
                pass
        finally:
            os.unlink(tmp)
    content = ""
    for _ in range(50):  # a racing winner writes within microseconds
        with open(marker) as fh:
            content = fh.read().strip()
        if content:
            return content
        time.sleep(0.02)
    raise RuntimeError(
        f"namespace marker {marker} stayed empty; remove it (or "
        "reset the checkpoint) before restarting the stream"
    )


def start_tablelog_sink(
    processed: DataFrame,
    table: str,
    checkpoint_dir: str,
    trigger: dict | None = None,
) -> StreamingQuery:
    """Exactly-once streaming sink into a manifest-committed table.

    Any streaming frame → ``append_epoch_to_tablelog`` per
    micro-batch. Checkpoint + txn-id together give end-to-end
    exactly-once across crashes on BOTH sides of the seam: the
    checkpoint replays unacknowledged epochs, the log ignores
    already-committed ones. The txn namespace is a uuid marker file
    INSIDE the checkpoint directory — the namespace lives and dies
    with the checkpoint state itself, so independent streams never
    collide, a restart on the same checkpoint keeps its namespace
    (epoch replay dedup keeps working), and a checkpoint RESET
    (wiping the dir to reprocess, which legitimately restarts at
    epoch 0 with NEW data) rotates the namespace instead of silently
    dropping the first batches as replays of the old run (review
    r08: a path-derived namespace survived the wipe).
    """
    ns = _checkpoint_namespace(checkpoint_dir, processed.sparkSession)
    return (
        processed.writeStream.outputMode("append")
        .option("checkpointLocation", checkpoint_dir)
        .foreachBatch(
            lambda df, epoch: append_epoch_to_tablelog(
                df, table, epoch, ns
            )
        )
        .trigger(**(trigger or {"availableNow": True}))
        .start()
    )
