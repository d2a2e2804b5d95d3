"""Streaming event-time windows + custom stateful operators.

The reference's streaming stage is entirely stateless (SURVEY §2.9:
no watermarks, no event-time windows, no state). These are the
Spark-native extensions the north star adds:

- ``windowed_event_counts``: the temporal catalog's tumbling aggregate
  (plans/temporal.py) under ``readStream`` — same expressions, plus a
  watermark so late data is bounded and state is evictable. In append
  mode a window emits exactly once, when the watermark passes its end.
- ``running_user_stats``: a custom stateful operator via
  ``applyInPandasWithState`` — per-key state that Spark's built-in
  operators don't express (a cumulative per-user profile updated every
  micro-batch). State lives in the state store (checkpointed,
  partitioned by key — scales horizontally with executors); each batch
  group arrives as Arrow-backed pandas frames.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.sql import types as T
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

from ..functions.exact import dsum

#: Declared schema for streamed event files (never infer on a stream).
EVENT_STREAM_SCHEMA = T.StructType(
    [
        T.StructField("event_id", T.LongType(), True),
        T.StructField("ts", T.TimestampType(), True),
        T.StructField("user_id", T.LongType(), True),
        T.StructField("event_type", T.StringType(), True),
        T.StructField("value", T.DoubleType(), True),
    ]
)


def read_stream_events(spark: SparkSession, landing_dir: str) -> DataFrame:
    return (
        spark.readStream.schema(EVENT_STREAM_SCHEMA)
        .option("maxFilesPerTrigger", 10)
        .json(landing_dir)
    )


def windowed_event_counts(
    events: DataFrame,
    window: str = "10 minutes",
    watermark: str = "30 minutes",
) -> DataFrame:
    """Tumbling event-time counts per type, watermarked.

    Identical expressions to the batch tumbling_hourly_by_type —
    ONE definition serves both engines' modes; the watermark only
    bounds state/late data and is a no-op in batch.
    """
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.window("ts", window).alias("w"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            dsum("value").alias("sum_value"),
        )
        .select(
            F.col("w.start").alias("window_start"),
            F.col("w.end").alias("window_end"),
            "event_type",
            "n_events",
            "sum_value",
        )
    )


# --------------------------------------------------------------------------
# Custom stateful operator: per-user running profile
# --------------------------------------------------------------------------

USER_STATS_SCHEMA = T.StructType(
    [
        T.StructField("user_id", T.LongType(), False),
        T.StructField("n_events", T.LongType(), True),
        T.StructField("max_value", T.DoubleType(), True),
        T.StructField("last_event_type", T.StringType(), True),
    ]
)

_STATE_SCHEMA = T.StructType(
    [
        T.StructField("n_events", T.LongType(), True),
        T.StructField("max_value", T.DoubleType(), True),
        T.StructField("last_ts", T.TimestampType(), True),
        T.StructField("last_event_id", T.LongType(), True),
        T.StructField("last_event_type", T.StringType(), True),
    ]
)


def _update_user_stats(key, pdf_iter, state: GroupState):
    """Merge this batch's rows for one user into persistent state.

    Emits the updated profile once per (user, batch). Deterministic:
    'last' is resolved by (ts, event_id) max, not arrival order —
    the event_id tie-break is carried in state so equal timestamps
    resolve identically whether the rows share a micro-batch or not.
    """
    import pandas as pd

    (user_id,) = key
    n, mx, last_ts, last_eid, last_type = (
        state.get if state.exists else (0, None, None, None, None)
    )
    for pdf in pdf_iter:
        if pdf.empty:
            continue
        n += len(pdf)
        vals = pdf["value"].dropna()
        if not vals.empty:
            batch_max = float(vals.max())
            mx = batch_max if mx is None else max(mx, batch_max)
        # 'last' resolution only over rows with BOTH tie-break fields:
        # pandas sorts NaT last, so a null-ts row would be elected the
        # batch's latest and — NaT comparisons being always False —
        # freeze last_event_type forever once written to state; a null
        # event_id at that index crashes int(NaN) (review r06). Such
        # rows still count toward n_events; they just can't win
        # "latest".
        valid = pdf.dropna(subset=["ts", "event_id"])
        if valid.empty:
            continue
        idx = valid.sort_values(["ts", "event_id"]).index[-1]
        row_ts = valid.loc[idx, "ts"]
        row_eid = int(valid.loc[idx, "event_id"])
        if last_ts is None or (row_ts, row_eid) >= (last_ts, last_eid):
            last_ts = row_ts
            last_eid = row_eid
            last_type = valid.loc[idx, "event_type"]
    state.update((n, mx, last_ts, last_eid, last_type))
    yield pd.DataFrame(
        {
            "user_id": [user_id],
            "n_events": [n],
            "max_value": [mx],
            "last_event_type": [last_type],
        }
    )


def running_user_stats(events: DataFrame) -> DataFrame:
    """Cumulative per-user profile, updated each micro-batch.

    State is partitioned by user_id in the state store — one shuffle
    per batch on the key, state size O(distinct users), horizontal
    scale with executors. The reference has no stateful surface at
    all; this is the applyInPandasWithState escape hatch for operators
    Spark's built-ins can't express.
    """
    return events.groupBy("user_id").applyInPandasWithState(
        _update_user_stats,
        outputStructType=USER_STATS_SCHEMA,
        stateStructType=_STATE_SCHEMA,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def attributed_purchases(
    clicks: DataFrame,
    purchases: DataFrame,
    horizon: str = "30 minutes",
    watermark: str = "1 hour",
    how: str = "inner",
) -> DataFrame:
    """Stream-stream inner join: purchases attributed to prior clicks.

    The hardest Structured Streaming shape the engine claims: BOTH
    sides are unbounded, so Spark buffers each side's rows in state
    until the other side can no longer match. Two things bound that
    state, and both are expressed here: a watermark on each side, and
    a time-RANGE join condition (purchase within ``horizon`` after the
    click) that tells the engine exactly when a buffered click is dead.
    Without the range condition, click state would grow forever.
    State partitions by the equi-key (user_id), so it scales
    horizontally like every other keyed operator. The same function
    runs in batch (watermarks are no-ops) — the batch-equals-stream
    test pins the join semantics.

    ``how="left_outer"`` adds attribution TIMEOUTS: a click with no
    purchase emits a null-purchase row once the global watermark
    passes the end of its attribution window (watermark-driven state
    eviction doubles as the emission trigger) — the funnel-analysis
    shape where non-conversion is itself the signal.
    """
    c = clicks.withWatermark("ts", watermark).select(
        "user_id",
        F.col("event_id").alias("click_id"),
        F.col("ts").alias("click_ts"),
    )
    p = purchases.withWatermark("ts", watermark).select(
        F.col("user_id").alias("p_user_id"),
        F.col("event_id").alias("purchase_id"),
        F.col("ts").alias("purchase_ts"),
        F.col("value").alias("purchase_value"),
    )
    return c.join(
        p,
        F.expr(
            f"""
            user_id = p_user_id
            AND purchase_ts >= click_ts
            AND purchase_ts <= click_ts + interval {horizon}
            """
        ),
        how,
    ).select(
        "user_id",
        "click_id",
        "click_ts",
        "purchase_id",
        "purchase_ts",
        "purchase_value",
    )


def deduplicated_events(events: DataFrame) -> DataFrame:
    """Streaming exact dedup by event_id, state bounded by a 30-minute
    watermark.

    The streaming head of the dedup cascade (the batch stages are the
    similarity catalog's five variants): an at-least-once source
    (replayed Kinesis shards, re-delivered files) emits duplicates
    across micro-batches, and ``dropDuplicatesWithinWatermark`` filters
    them with per-key state that the watermark EVICTS — plain
    ``dropDuplicates`` on a stream holds every key forever and OOMs at
    100 TB/day. The key is the natural event id, so the operator is one
    shuffle per batch on a uniform key; duplicates arriving within the
    watermark horizon are dropped exactly, later ones are the
    idempotent sink's job (sinks/writers.idempotent_append), giving
    dedup-within-horizon + idempotence-at-rest — the standard two-layer
    exactly-once story.
    """
    return events.withWatermark(
        "ts", "30 minutes"
    ).dropDuplicatesWithinWatermark(["event_id"])


def sessionized_user_activity(
    events: DataFrame,
    gap: str = "10 minutes",
    watermark: str = "30 minutes",
) -> DataFrame:
    """Session windows per user under streaming (or batch — same code).

    F.session_window merges events whose gap is under the timeout;
    state is kept per user until the watermark closes the session.
    Identical expressions to the batch user_session_windows catalog
    query, minus the decimal discipline it needs for oracle hashing.
    """
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.session_window("ts", gap).alias("w"), "user_id")
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            "user_id",
            F.col("w.start").alias("session_start"),
            F.col("w.end").alias("session_end"),
            "n_events",
        )
    )
