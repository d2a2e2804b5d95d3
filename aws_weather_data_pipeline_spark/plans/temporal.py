"""Event-time window catalog queries (SURVEY §2.9 note).

The reference's streaming stage is stateless; its only time-windowing is
daily batch aggregation (A2, airflow/src/load_to_postgres.py:408-437)
and a 7-day view predicate (P6, sql/create_tables.sql:184). This module
supplies the event-time window surface a Spark-native engine owes its
users — tumbling / sliding / session windows over ``events.ts`` — built
on ``F.window`` / ``F.session_window`` so the SAME expressions run under
Structured Streaming with a watermark (streaming/ wires that up).

Scale notes: every query here is one hash-shuffle on (window, key) with
map-side partial aggregation; window structs are flattened to
``window_start``/``window_end`` columns at the serving boundary. Spark
aligns windows to the 1970 epoch and DuckDB's ``time_bucket`` to a 2000
origin — both are midnight-aligned, so hour/day buckets agree exactly.

Oracle twins: tumbling = ``time_bucket``; sliding = each row fans out to
window/slide buckets via ``unnest(range)``; session = the classic
gaps-and-islands (lag + running sum). Value sums route through DECIMAL
(functions/exact.py) so partial-aggregation order can't shift the hash.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from ..functions.exact import davg, dsum
from ..session import cached, detach
from ..sources.tables import load_tables
from .registry import QueryCatalog

CATALOG = QueryCatalog()


def _events(spark: SparkSession, sf_dir: str) -> DataFrame:
    return load_tables(spark, sf_dir, ("events",))["events"]


# --------------------------------------------------------------------------
# Tumbling window
# --------------------------------------------------------------------------


@CATALOG.add(
    "tumbling_hourly_by_type",
    """
    SELECT time_bucket(INTERVAL '1 hour', ts) AS window_start,
           time_bucket(INTERVAL '1 hour', ts) + INTERVAL '1 hour'
               AS window_end,
           event_type,
           COUNT(*) AS n_events,
           CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
    FROM events
    GROUP BY 1, 2, 3
    """,
    doc="Tumbling 1-hour event-time window per event_type — the batch "
    "form of the streaming windowed agg (F.window aligns to the epoch; "
    "hour buckets coincide with DuckDB time_bucket). One shuffle on "
    "(window, event_type), partial agg map-side; at 100 TB the window "
    "key is unskewed by construction (time advances).",
    tags=("temporal", "agg", "window"),
)
def tumbling_hourly_by_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _events(spark, sf_dir)
    return (
        ev.groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
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
# Sliding window
# --------------------------------------------------------------------------


@CATALOG.add(
    "sliding_hourly_activity",
    """
    SELECT ws AS window_start,
           ws + INTERVAL '1 hour' AS window_end,
           COUNT(*) AS n_events,
           CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
    FROM (
        SELECT e.ts, e.value,
               time_bucket(INTERVAL '30 minutes', e.ts)
                   - k.k * INTERVAL '30 minutes' AS ws
        FROM events e
        CROSS JOIN (SELECT unnest([0, 1]) AS k) k
    )
    GROUP BY 1, 2
    """,
    doc="Sliding window: 1-hour span, 30-minute slide. Spark's F.window "
    "assigns each row to window/slide = 2 overlapping windows; the "
    "oracle reproduces the fan-out by unnesting k∈{0,1} shifted "
    "30-minute buckets. Spark's generator does the same expansion "
    "before the hash agg — no shuffle amplification beyond the 2× rows.",
    tags=("temporal", "agg", "window"),
)
def sliding_hourly_activity(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _events(spark, sf_dir)
    return (
        ev.groupBy(F.window("ts", "1 hour", "30 minutes").alias("w"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            dsum("value").alias("sum_value"),
        )
        .select(
            F.col("w.start").alias("window_start"),
            F.col("w.end").alias("window_end"),
            "n_events",
            "sum_value",
        )
    )


# --------------------------------------------------------------------------
# Session window
# --------------------------------------------------------------------------


@CATALOG.add(
    "user_session_windows",
    """
    WITH gaps AS (
        SELECT user_id, ts, value,
               CASE WHEN lag(ts) OVER w IS NULL
                         OR ts - lag(ts) OVER w > INTERVAL '10 minutes'
                    THEN 1 ELSE 0 END AS new_session
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY ts, value)
    ),
    sess AS (
        SELECT user_id, ts, value,
               SUM(new_session) OVER (
                   PARTITION BY user_id ORDER BY ts, value
                   ROWS UNBOUNDED PRECEDING) AS session_id
        FROM gaps
    )
    SELECT user_id,
           MIN(ts) AS session_start,
           MAX(ts) + INTERVAL '10 minutes' AS session_end,
           COUNT(*) AS n_events,
           CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
    FROM sess
    GROUP BY user_id, session_id
    """,
    doc="Per-user session windows, 10-minute inactivity gap "
    "(F.session_window — a new session starts when the gap since the "
    "previous event EXCEEDS the timeout: gap == timeout still MERGES, "
    "verified empirically on Spark 4.1.2, so the oracle's split "
    "predicate is strict > (review r06 caught a >= rule that would "
    "split exact-gap pairs the engine merges); end = last event + "
    "gap). The "
    "oracle is the classic gaps-and-islands: lag → new-session flag → "
    "running sum → group. Spark's native session window is ONE shuffle "
    "on user_id with state merged in the agg — the same shape the "
    "streaming form uses with a watermark.",
    tags=("temporal", "agg", "window"),
)
def user_session_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _events(spark, sf_dir)
    return (
        ev.groupBy(
            F.session_window("ts", "10 minutes").alias("w"), "user_id"
        )
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            dsum("value").alias("sum_value"),
        )
        .select(
            "user_id",
            F.col("w.start").alias("session_start"),
            F.col("w.end").alias("session_end"),
            "n_events",
            "sum_value",
        )
    )


# --------------------------------------------------------------------------
# Daily rollup (the reference's A2 cadence on the events table)
# --------------------------------------------------------------------------


@CATALOG.add(
    "daily_value_rollup",
    """
    SELECT CAST(ts AS DATE) AS event_date,
           event_type,
           COUNT(*) AS n_events,
           CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE)
               / COUNT(value) AS avg_value,
           MIN(value) AS min_value,
           MAX(value) AS max_value
    FROM events
    GROUP BY 1, 2
    """,
    doc="Daily rollup per type — the cadence of the reference's "
    "daily_weather_summary (A2, load_to_postgres.py:408-437) applied to "
    "the events stream: to_date bucket + multi-agg. Day buckets align "
    "in both engines (midnight UTC).",
    tags=("temporal", "agg"),
)
def daily_value_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _events(spark, sf_dir)
    return ev.groupBy(
        F.to_date("ts").alias("event_date"), "event_type"
    ).agg(
        F.count(F.lit(1)).alias("n_events"),
        davg("value").alias("avg_value"),
        F.min("value").alias("min_value"),
        F.max("value").alias("max_value"),
    )


# --------------------------------------------------------------------------
# As-of join (composition — Spark has no native ASOF)
# --------------------------------------------------------------------------


@CATALOG.add(
    "asof_last_click_before_purchase",
    """
    SELECT event_id, user_id, ts, last_click_id, last_click_ts,
           epoch_us(ts) - epoch_us(last_click_ts) AS gap_micros
    FROM (
        SELECT event_id, user_id, ts, event_type,
               last_value(CASE WHEN event_type = 'click'
                               THEN event_id END IGNORE NULLS)
                   OVER w AS last_click_id,
               last_value(CASE WHEN event_type = 'click'
                               THEN ts END IGNORE NULLS)
                   OVER w AS last_click_ts
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
                     ROWS UNBOUNDED PRECEDING)
    )
    WHERE event_type = 'purchase'
    """,
    doc="As-of join: each purchase picks the most recent prior click by "
    "the same user. Spark has no native ASOF JOIN; the scalable "
    "composition is a single window pass — union of both event roles "
    "ordered by (ts, event_id) per user, carrying the last click "
    "forward with last(..., ignorenulls) — ONE shuffle on user_id, no "
    "range join, no per-row subquery. The unique event_id tie-break "
    "makes 'most recent' total, so results are deterministic at any "
    "parallelism. Semantics are AT-OR-BEFORE (pandas merge_asof's "
    "backward-inclusive default): a click sharing the purchase's "
    "exact timestamp with a smaller event_id counts as prior and "
    "yields gap_micros = 0 — consumers needing strictly-before must "
    "filter gap_micros > 0 (review r06 corrected a doc claim of "
    "strict-before). "
    "gap_micros is exact integer µs arithmetic on both engines.",
    tags=("temporal", "join", "window"),
)
def asof_last_click_before_purchase(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from pyspark.sql import Window

    ev = _events(spark, sf_dir)
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    click_id = F.when(F.col("event_type") == "click", F.col("event_id"))
    click_ts = F.when(F.col("event_type") == "click", F.col("ts"))
    enriched = ev.select(
        "event_id",
        "user_id",
        "ts",
        "event_type",
        F.last(click_id, ignorenulls=True).over(w).alias("last_click_id"),
        F.last(click_ts, ignorenulls=True).over(w).alias("last_click_ts"),
    )
    return enriched.filter(F.col("event_type") == "purchase").select(
        "event_id",
        "user_id",
        "ts",
        "last_click_id",
        "last_click_ts",
        (F.unix_micros("ts") - F.unix_micros("last_click_ts")).alias(
            "gap_micros"
        ),
    )


# --------------------------------------------------------------------------
# Interval / range join (bucketized — no nested-loop join at scale)
# --------------------------------------------------------------------------

#: Daily maintenance window: [day 02:00, day 03:30) — 90 minutes,
#: deliberately not hour-aligned so the join is a genuine range
#: predicate, not an equi-join in disguise.
RANGE_WIN_START_MIN = 120
RANGE_WIN_LEN_MIN = 90


_RANGE_JOIN_SQL = f"""
    WITH days AS (
        SELECT DISTINCT CAST(ts AS DATE) AS window_date FROM events
    ),
    wins AS (
        SELECT window_date,
               CAST(window_date AS TIMESTAMP)
                   + INTERVAL '{RANGE_WIN_START_MIN} minutes' AS w_start,
               CAST(window_date AS TIMESTAMP)
                   + INTERVAL
                     '{RANGE_WIN_START_MIN + RANGE_WIN_LEN_MIN} minutes'
                   AS w_end
        FROM days
    )
    SELECT w.window_date,
           COUNT(e.event_id) AS n_events,
           CAST(SUM(CAST(e.value AS DECIMAL(18,2))) AS DOUBLE)
               AS sum_value
    FROM wins w
    LEFT JOIN events e ON e.ts >= w.w_start AND e.ts < w.w_end
    GROUP BY w.window_date
    """


def range_join_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The calendar-sized daily-window frame (lazy, unpersisted)."""
    ev = _events(spark, sf_dir)
    days = ev.select(F.to_date("ts").alias("window_date")).distinct()
    return days.select(
        "window_date",
        (
            F.col("window_date").cast("timestamp")
            + F.expr(f"INTERVAL {RANGE_WIN_START_MIN} MINUTES")
        ).alias("w_start"),
        (
            F.col("window_date").cast("timestamp")
            + F.expr(
                f"INTERVAL {RANGE_WIN_START_MIN + RANGE_WIN_LEN_MIN}"
                " MINUTES"
            )
        ).alias("w_end"),
    )


def range_join_plan(ev: DataFrame, wins: DataFrame) -> DataFrame:
    """LAZY bucketized range-join plan — the inspectable contract.

    Factored out of the catalog builder so ``tests/test_plans.py``
    can assert the BroadcastHashJoin shape on the pre-checkpoint
    frame (the catalog boundary ``detach``es it to release the cached
    ``wins`` frame, which replaces the visible plan with
    ``Scan ExistingRDD``)."""
    # Bucketize: a window row per overlapped hour bucket; an event joins
    # only its own hour bucket, so each event meets ≤1 row per window.
    win_buckets = wins.select(
        "window_date",
        "w_start",
        "w_end",
        F.explode(
            F.sequence(
                F.date_trunc("hour", "w_start"),
                # end is exclusive; subtract 1µs so an exactly
                # hour-aligned w_end doesn't add a dead bucket.
                F.date_trunc(
                    "hour", F.expr("w_end - INTERVAL 1 MICROSECOND")
                ),
                F.expr("INTERVAL 1 HOUR"),
            )
        ).alias("bucket"),
    )
    evb = ev.select(
        "event_id", "ts", "value", F.date_trunc("hour", "ts").alias("bucket")
    )
    # Inner bucket-join + per-window agg; empty windows are restored by
    # a final left join against the (tiny) window list — a left outer
    # join can't broadcast its preserved side, and this keeps the big
    # scan on the probe side of a BroadcastHashJoin.
    joined = evb.join(
        F.broadcast(win_buckets),
        (evb["bucket"] == win_buckets["bucket"])
        & (evb["ts"] >= win_buckets["w_start"])
        & (evb["ts"] < win_buckets["w_end"]),
        "inner",
    )
    counts = joined.groupBy("window_date").agg(
        F.count("event_id").alias("n_events"),
        dsum("value").alias("sum_value"),
    )
    return (
        wins.select("window_date")
        .join(counts, "window_date", "left")
        .select(
            "window_date",
            F.coalesce("n_events", F.lit(0).cast("long")).alias(
                "n_events"
            ),
            "sum_value",
        )
    )


@CATALOG.add(
    "interval_range_join_counts",
    _RANGE_JOIN_SQL,
    doc="Interval/range join: count and sum events inside each daily "
    "maintenance window [02:00, 03:30) — a pure range predicate "
    "(windows are NOT hour-aligned). Naively this is a "
    "BroadcastNestedLoopJoin — O(|events|·|windows|) comparisons, the "
    "classic Spark range-join trap. The engine bucketizes instead: "
    "each window explodes into the hour buckets it overlaps, events "
    "map to their own hour bucket, and the join becomes an equi-join "
    "on bucket with the range as a residual filter — hash join "
    "mechanics, linear scans, verified NestedLoop-free by the plan "
    "test on range_join_plan (the lazy inner builder; the catalog "
    "boundary adds the eager cache-releasing checkpoint). The window "
    "table is calendar-sized (grows with time, not data volume) and "
    "broadcast; LEFT join keeps empty windows. Same rewrite "
    "Databricks' range-join hints automate, expressed explicitly.",
    tags=("temporal", "join"),
)
def interval_range_join_counts(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    ev = _events(spark, sf_dir)
    # wins feeds BOTH the broadcast bucket table and the final
    # empty-window-restoring left join; Spark duplicates the subtree
    # per reference, so without a persist the full events scan +
    # distinct-dates shuffle runs twice per execution — an entire
    # extra fact-table pass at the design point. The frame is
    # calendar-sized, so the persist is ~free. The detach lives here
    # (the catalog boundary), not in range_join_plan, so the plan
    # contract stays inspectable.
    with cached(range_join_windows(ev.sparkSession, sf_dir)) as wins:
        wins.count()
        return detach(range_join_plan(ev, wins))


# --------------------------------------------------------------------------
# Time-based RANGE frame: trailing-hour per-row stats
# --------------------------------------------------------------------------

#: Trailing range width in microseconds (1 hour).
TRAIL_MICROS = 3_600_000_000


@CATALOG.add(
    "trailing_hour_user_stats",
    """
    SELECT user_id, event_id, ts,
           CAST(COUNT(*) OVER w AS BIGINT) AS n_trailing,
           CAST(SUM(CAST(value AS DECIMAL(18,2))) OVER w AS DOUBLE)
               AS sum_trailing
    FROM events
    WINDOW w AS (PARTITION BY user_id ORDER BY ts
                 RANGE BETWEEN INTERVAL 1 HOUR PRECEDING AND CURRENT ROW)
    """,
    doc="Time-based RANGE frame (SQL:2011 sliding interval): for every "
    "event, the count and exact sum of the same user's events in the "
    "trailing hour — the per-row rolling statistic behind rate "
    "limiting, anomaly scoring, and feature engineering. Physically "
    "DISTINCT from both the rows-frame running total "
    "(user_running_totals) and the groupBy sliding window "
    "(sliding_hourly_activity): the frame is bounded by a time "
    "PREDICATE, so peers are determined by value, not position — "
    "Spark expresses it as rangeBetween over unix_micros(ts) [a "
    "numeric range frame; Spark does not accept interval literals "
    "here], DuckDB as RANGE INTERVAL 1 HOUR PRECEDING; both are "
    "inclusive of the boundary instant, and duplicate-ts peers "
    "collapse into the same frame on both engines, which is what "
    "makes ORDER BY ts alone deterministic (a rows frame would need "
    "the event_id tie-break). Sum routes through DECIMAL so frame "
    "evaluation order can't shift the hash. One shuffle on user_id; "
    "Spark evaluates range frames with a sliding two-pointer over "
    "each sorted partition — O(n) per partition at any scale.",
    tags=("window", "temporal"),
)
def trailing_hour_user_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window as W

    from ..functions.exact import dec

    ev = _events(spark, sf_dir)
    w = (
        W.partitionBy("user_id")
        .orderBy(F.unix_micros("ts"))
        .rangeBetween(-TRAIL_MICROS, W.currentRow)
    )
    return ev.select(
        "user_id",
        "event_id",
        "ts",
        F.count(F.lit(1)).over(w).alias("n_trailing"),
        F.sum(dec("value")).over(w).cast("double").alias("sum_trailing"),
    )


# --------------------------------------------------------------------------
# SCD Type-2 dimension build (validity intervals from an event stream)
# --------------------------------------------------------------------------


@CATALOG.add(
    "scd2_user_state",
    """
    WITH chg AS (
        SELECT user_id, event_type, ts, event_id,
               CASE WHEN lag(event_type) OVER w IS NULL
                         OR lag(event_type) OVER w <> event_type
                    THEN 1 ELSE 0 END AS is_change
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ),
    ver AS (
        SELECT user_id, event_type, ts,
               SUM(is_change) OVER (
                   PARTITION BY user_id ORDER BY ts, event_id
                   ROWS UNBOUNDED PRECEDING) AS version
        FROM chg
    ),
    runs AS (
        SELECT user_id, CAST(version AS BIGINT) AS version,
               event_type AS state,
               MIN(ts) AS valid_from,
               CAST(COUNT(*) AS BIGINT) AS n_events
        FROM ver GROUP BY user_id, version, event_type
    )
    SELECT user_id, version, state, valid_from,
           lead(valid_from) OVER pv AS valid_to,
           (lead(valid_from) OVER pv IS NULL) AS is_current,
           n_events
    FROM runs
    WINDOW pv AS (PARTITION BY user_id ORDER BY version)
    """,
    doc="Slowly-Changing-Dimension Type 2 build from an event stream: "
    "per user, consecutive runs of the same event_type (ordered by "
    "(ts, event_id) — a total order, so run boundaries are "
    "deterministic under any partitioning) collapse into versioned "
    "validity intervals [valid_from, valid_to) with an is_current "
    "flag — the warehouse dimension-history primitive every lakehouse "
    "pipeline needs (user state history, label provenance, "
    "consent/policy tracking for training-data governance). Classic "
    "gaps-and-islands: ONE shuffle on user_id serves the change "
    "flags, the running version number, the per-run aggregate, AND "
    "the lead() that closes each interval — Catalyst reuses the "
    "partitioning across all four (same key, no re-shuffle). At "
    "100 TB the incremental form processes only new events: the open "
    "(is_current) row per user is the only carried state, merged via "
    "the same dynamic-partition-overwrite upsert as the aggregate "
    "sink (sinks/writers.py), exactly how SCD2 merge works on a real "
    "lakehouse table.",
    tags=("temporal", "window", "agg"),
)
def scd2_user_state(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window as W

    ev = _events(spark, sf_dir).select(
        "user_id", "event_type", "ts", "event_id"
    )
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    chg = ev.select(
        "user_id",
        "event_type",
        "ts",
        "event_id",
        F.when(
            F.lag("event_type").over(w).isNull()
            | (F.lag("event_type").over(w) != F.col("event_type")),
            1,
        )
        .otherwise(0)
        .alias("is_change"),
    )
    ver = chg.select(
        "user_id",
        "event_type",
        "ts",
        F.sum("is_change")
        .over(w.rowsBetween(W.unboundedPreceding, W.currentRow))
        .alias("version"),
    )
    runs = ver.groupBy(
        "user_id", "version", F.col("event_type").alias("state")
    ).agg(
        F.min("ts").alias("valid_from"),
        F.count(F.lit(1)).alias("n_events"),
    )
    pv = W.partitionBy("user_id").orderBy("version")
    return runs.select(
        "user_id",
        F.col("version").cast("bigint").alias("version"),
        "state",
        "valid_from",
        F.lead("valid_from").over(pv).alias("valid_to"),
        F.lead("valid_from").over(pv).isNull().alias("is_current"),
        "n_events",
    )


# --------------------------------------------------------------------------
# CDC MERGE apply (keyed I/U/D change batch, last-writer-wins)
# --------------------------------------------------------------------------

#: Change-data-capture cutoff: events strictly before it form the base
#: snapshot; events at/after it form the change feed. Mid-span of the
#: synthetic event stream (Jan 1-30) at every SF.
CDC_CUTOFF = "2024-01-16 00:00:00"


@CATALOG.add(
    "cdc_merge_apply",
    f"""
    WITH base AS (
        SELECT user_id, event_type AS state, value, ts AS updated_at,
               TRUE AS in_base
        FROM (
            SELECT user_id, event_type, value, ts,
                   ROW_NUMBER() OVER (
                       PARTITION BY user_id
                       ORDER BY ts DESC, event_id DESC) AS rn
            FROM events WHERE ts < TIMESTAMP '{CDC_CUTOFF}'
        ) WHERE rn = 1
    ),
    last_chg AS (
        SELECT user_id, op, state, value, updated_at
        FROM (
            SELECT user_id,
                   CASE WHEN event_type = 'error' THEN 'D'
                        ELSE 'U' END AS op,
                   event_type AS state, value, ts AS updated_at,
                   ROW_NUMBER() OVER (
                       PARTITION BY user_id
                       ORDER BY ts DESC, event_id DESC) AS rn
            FROM events WHERE ts >= TIMESTAMP '{CDC_CUTOFF}'
        ) WHERE rn = 1
    )
    -- c.op (never NULL on a change row) is the matched-change
    -- discriminator: c.user_id IS NULL would misclassify a NULL-key
    -- change row as 'kept' (NULL keys never join-match, so a NULL-key
    -- change lands as its own inserted row, per SQL join semantics).
    SELECT COALESCE(c.user_id, b.user_id) AS user_id,
           CASE WHEN c.op IS NULL THEN b.state
                ELSE c.state END AS state,
           CASE WHEN c.op IS NULL THEN b.value
                ELSE c.value END AS value,
           CASE WHEN c.op IS NULL THEN b.updated_at
                ELSE c.updated_at END AS updated_at,
           CASE WHEN c.op IS NULL THEN 'kept'
                WHEN b.in_base IS NULL THEN 'inserted'
                ELSE 'updated' END AS action
    FROM base b FULL OUTER JOIN last_chg c ON b.user_id = c.user_id
    WHERE c.op IS NULL OR c.op <> 'D'
    """,
    doc="CDC MERGE apply: reconcile a keyed insert/update/delete change "
    "batch into a base snapshot with last-writer-wins per key — the "
    "Delta-/Iceberg-MERGE semantics the reference's per-row "
    "`ON CONFLICT (city, date) DO UPDATE` upsert "
    "(/root/reference/airflow/src/load_to_postgres.py:439-444) "
    "actually needs at scale. The base snapshot is each user's latest "
    "pre-cutoff state; the change feed is every post-cutoff event "
    "mapped to an op (error -> D, else U). MERGE proper: (1) the feed "
    "is deduplicated per key to the LAST change by the total order "
    "(ts, event_id) — multiple changes per key in one batch collapse "
    "deterministically, the step naive per-row upserts get wrong "
    "under reordering; (2) one FULL OUTER reconcile per key: unmatched "
    "base rows are kept, a last-op delete drops the key (a delete of "
    "an absent key is a no-op), anything else upserts the change's "
    "row, tagged kept/inserted/updated for audit. Plan: both sides "
    "shuffle-sort by user_id for their dedup windows and the join "
    "REUSES that hashpartitioning(user_id) — one exchange per side, "
    "no re-shuffle at the join (pinned in tests/test_plans.py). At "
    "100 TB the change batch is typically <<1% of the base, so the "
    "real deployment prunes base files by the batch's key range "
    "(partition/z-order stats, operators/layout.py) before this same "
    "reconcile; the semantics here are the engine-level contract.",
    tags=("temporal", "join", "window"),
)
def cdc_merge_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    return cdc_merge_plan(_events(spark, sf_dir))


def cdc_merge_plan(ev: DataFrame) -> DataFrame:
    """LAZY merge plan over any events-shaped frame — factored out so
    tests can drive the branches the fixture never exercises (pure
    inserts, deletes of absent keys, NULL keys: the sf0.01 fixture
    has 30 deletes-of-existing but 0 of either other class)."""
    from pyspark.sql import Window as W

    w = W.partitionBy("user_id").orderBy(
        F.col("ts").desc(), F.col("event_id").desc()
    )
    cutoff = F.lit(CDC_CUTOFF).cast("timestamp")

    base = (
        ev.filter(F.col("ts") < cutoff)
        .select(
            "user_id",
            F.col("event_type").alias("state"),
            "value",
            F.col("ts").alias("updated_at"),
            F.lit(True).alias("in_base"),
            F.row_number().over(w).alias("rn"),
        )
        .filter(F.col("rn") == 1)
        .drop("rn")
    )
    chg = (
        ev.filter(F.col("ts") >= cutoff)
        .select(
            "user_id",
            F.when(F.col("event_type") == "error", F.lit("D"))
            .otherwise(F.lit("U"))
            .alias("op"),
            F.col("event_type").alias("state"),
            "value",
            F.col("ts").alias("updated_at"),
            F.row_number().over(w).alias("rn"),
        )
        .filter(F.col("rn") == 1)
        .drop("rn")
    )
    b, c = base.alias("b"), chg.alias("c")
    merged = b.join(c, F.col("b.user_id") == F.col("c.user_id"), "full")
    # op is NOT NULL on every change row even when its key is NULL —
    # c.user_id would misclassify a NULL-key change as 'kept' (NULL
    # keys never join-match; such a change lands as its own inserted
    # row). Same rule in the oracle. The base-side presence marker is
    # the dedicated in_base flag (literal TRUE on every base row, so
    # it is NULL exactly when the full outer join found no base
    # match — no reliance on any data column's nullability).
    changed = F.col("c.op").isNotNull()
    return merged.filter(
        F.col("c.op").isNull() | (F.col("c.op") != "D")
    ).select(
        F.coalesce(F.col("c.user_id"), F.col("b.user_id")).alias(
            "user_id"
        ),
        F.when(changed, F.col("c.state"))
        .otherwise(F.col("b.state"))
        .alias("state"),
        F.when(changed, F.col("c.value"))
        .otherwise(F.col("b.value"))
        .alias("value"),
        F.when(changed, F.col("c.updated_at"))
        .otherwise(F.col("b.updated_at"))
        .alias("updated_at"),
        F.when(~changed, F.lit("kept"))
        .when(F.col("b.in_base").isNull(), F.lit("inserted"))
        .otherwise(F.lit("updated"))
        .alias("action"),
    )
