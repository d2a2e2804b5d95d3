"""Core relational operator catalog (SURVEY §2.2-§2.8).

Each entry demonstrates one operator family from the reference's
inventory on the driver testdata, as an idiomatic Catalyst-optimizable
DataFrame plan plus a DuckDB oracle twin. Reference citations are on
each query's docstring.

Scale notes baked into the plans:
- joins against region/nation/customer/supplier use ``F.broadcast``
  (dimension tables are tiny relative to fact tables at every SF);
- top-k is ``orderBy().limit(k)`` (Spark's TakeOrderedAndProject —
  distributed partial top-k, no single-partition window);
- "pick one row per group" uses row_number with a total order
  (unique-key tie-break) so results are deterministic at any
  parallelism;
- all double aggregations go through DECIMAL (see functions/exact.py).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window as W, functions as F

from ..functions.exact import cnt_when, davg, dec, dsum
from ..sources.tables import load_tables
from .registry import QueryCatalog

CATALOG = QueryCatalog()

_ONE = "CAST(1 AS DECIMAL(3,2))"  # SQL literal 1.00 for decimal arithmetic


def _t(spark: SparkSession, sf_dir: str, *names: str) -> dict[str, DataFrame]:
    return load_tables(spark, sf_dir, names)


# --------------------------------------------------------------------------
# Aggregations (SURVEY §2.4 A2/A4/A8, §2.8 F15)
# --------------------------------------------------------------------------


@CATALOG.add(
    "pricing_summary",
    f"""
    SELECT l_returnflag, l_linestatus,
           CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
           CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_base_price,
           CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))
                    * ({_ONE} - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS sum_disc_price,
           CAST(SUM(CAST(CAST(l_extendedprice AS DECIMAL(18,2))
                         * ({_ONE} - CAST(l_discount AS DECIMAL(18,2))) AS DECIMAL(18,4))
                    * ({_ONE} + CAST(l_tax AS DECIMAL(18,2)))) AS DOUBLE) AS sum_charge,
           CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) / COUNT(l_quantity) AS avg_qty,
           CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) / COUNT(l_extendedprice) AS avg_price,
           CAST(SUM(CAST(l_discount AS DECIMAL(18,2))) AS DOUBLE) / COUNT(l_discount) AS avg_disc,
           COUNT(*) AS count_order
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
    GROUP BY l_returnflag, l_linestatus
    """,
    doc="Grouped multi-agg summary (TPC-H Q1 shape). Reference: the daily "
    "summary GROUP BY city,date with AVG/MIN/MAX/SUM/COUNT at "
    "airflow/src/load_to_postgres.py:408-437 (SURVEY A2).",
    tags=("agg",),
)
def pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")["lineitem"]
    one = F.lit(1).cast("decimal(3,2)")
    disc_price = dec("l_extendedprice") * (one - dec("l_discount"))
    charge = disc_price.cast("decimal(18,4)") * (one + dec("l_tax"))
    return (
        li.filter(F.col("l_shipdate") <= F.lit("1998-09-02 00:00:00").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            dsum("l_quantity").alias("sum_qty"),
            dsum("l_extendedprice").alias("sum_base_price"),
            F.sum(disc_price).cast("double").alias("sum_disc_price"),
            F.sum(charge).cast("double").alias("sum_charge"),
            davg("l_quantity").alias("avg_qty"),
            davg("l_extendedprice").alias("avg_price"),
            davg("l_discount").alias("avg_disc"),
            F.count(F.lit(1)).alias("count_order"),
        )
    )


@CATALOG.add(
    "global_stats",
    """
    SELECT COUNT(*) AS n_rows,
           COUNT(DISTINCT l_orderkey) AS n_orders,
           CAST(MIN(l_extendedprice) AS DOUBLE) AS min_price,
           CAST(MAX(l_extendedprice) AS DOUBLE) AS max_price,
           CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) / COUNT(l_quantity) AS avg_qty,
           MIN(l_shipdate) AS first_ship,
           MAX(l_shipdate) AS last_ship
    FROM lineitem
    """,
    doc="Global scalar stats: min/max/avg/count/countDistinct/max-ts. "
    "Reference: scripts/test_transformations.py:268-271 and the "
    "validation aggregates at airflow/dags/weather_dag.py:186-236 "
    "(SURVEY A8/A9).",
    tags=("agg",),
)
def global_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")["lineitem"]
    return li.agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.countDistinct("l_orderkey").alias("n_orders"),
        F.min("l_extendedprice").cast("double").alias("min_price"),
        F.max("l_extendedprice").cast("double").alias("max_price"),
        davg("l_quantity").alias("avg_qty"),
        F.min("l_shipdate").alias("first_ship"),
        F.max("l_shipdate").alias("last_ship"),
    )


@CATALOG.add(
    "conditional_counts",
    """
    SELECT user_id,
           COUNT(*) AS n_events,
           CAST(SUM(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END) AS BIGINT) AS n_error,
           CAST(SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS BIGINT) AS n_purchase,
           CAST(SUM(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS BIGINT) AS n_click,
           CAST(SUM(CASE WHEN event_type IN ('error', 'purchase') THEN 1 ELSE 0 END) AS DOUBLE)
               * 100.0 / COUNT(*) AS flagged_pct
    FROM events
    GROUP BY user_id
    """,
    doc="Conditional (pivot-style) counts + derived ratio agg. Reference: "
    "SUM(CASE WHEN alert_level=... ) x4 and alert_percentage at "
    "airflow/src/load_to_postgres.py:423-434 (SURVEY A3/A4).",
    tags=("agg",),
)
def conditional_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")["events"]

    cnt = cnt_when

    return ev.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_events"),
        cnt(F.col("event_type") == "error").alias("n_error"),
        cnt(F.col("event_type") == "purchase").alias("n_purchase"),
        cnt(F.col("event_type") == "click").alias("n_click"),
        (
            cnt(F.col("event_type").isin("error", "purchase")).cast("double")
            * F.lit(100.0)
            / F.count(F.lit(1))
        ).alias("flagged_pct"),
    )


@CATALOG.add(
    "dominant_event_type",
    """
    SELECT user_id, event_type AS dominant_type, n
    FROM (
        SELECT user_id, event_type, COUNT(*) AS n,
               ROW_NUMBER() OVER (PARTITION BY user_id
                                  ORDER BY COUNT(*) DESC, event_type ASC) AS rk
        FROM events
        GROUP BY user_id, event_type
    )
    WHERE rk = 1
    """,
    doc="Deterministic per-group mode (dominant value). Reference: "
    "MODE() WITHIN GROUP (ORDER BY weather_condition) at "
    "airflow/src/load_to_postgres.py:420-421 (SURVEY A5); tie-break is "
    "count DESC, value ASC exactly as SURVEY §7.4-2 prescribes. It ranks "
    "the per-value counts rather than calling F.mode because it also "
    "returns the winning count n.",
    tags=("agg", "window"),
)
def dominant_event_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")["events"]
    counts = ev.groupBy("user_id", "event_type").agg(F.count(F.lit(1)).alias("n"))
    w = W.partitionBy("user_id").orderBy(F.col("n").desc(), F.col("event_type").asc())
    return (
        counts.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") == 1)
        .select("user_id", F.col("event_type").alias("dominant_type"), "n")
    )


@CATALOG.add(
    "event_type_share",
    """
    SELECT event_type, COUNT(*) AS n,
           CAST(COUNT(*) AS DOUBLE) * 100.0
               / SUM(COUNT(*)) OVER () AS pct_of_total
    FROM events
    GROUP BY event_type
    """,
    doc="Frequency distribution with share-of-grand-total via an "
    "unpartitioned analytic SUM. Reference: COUNT(*)*100.0/SUM(COUNT(*)) "
    "OVER () at sql/create_tables.sql:244-251 and value_counts()+pct at "
    "scripts/test_transformations.py:273-289 (SURVEY W1/A7).",
    tags=("agg", "window"),
)
def event_type_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")["events"]
    counts = ev.groupBy("event_type").agg(F.count(F.lit(1)).alias("n"))
    return counts.withColumn(
        "pct_of_total",
        F.col("n").cast("double") * F.lit(100.0) / F.sum("n").over(W.partitionBy()),
    )


@CATALOG.add(
    "rollup_returnflag_status",
    """
    SELECT l_returnflag, l_linestatus, COUNT(*) AS n,
           CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
    FROM lineitem
    GROUP BY ROLLUP (l_returnflag, l_linestatus)
    """,
    doc="Hierarchical subtotals via ROLLUP. The reference has no grouping "
    "sets (SURVEY §2.4 notes their absence) — included because the engine "
    "exposes Spark's full grouping-set surface.",
    tags=("agg",),
)
def rollup_returnflag_status(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")["lineitem"]
    return li.rollup("l_returnflag", "l_linestatus").agg(
        F.count(F.lit(1)).alias("n"), dsum("l_quantity").alias("sum_qty")
    )


@CATALOG.add(
    "pivot_status_qty",
    """
    SELECT l_returnflag,
           CAST(SUM(CASE WHEN l_linestatus = 'O'
                         THEN CAST(l_quantity AS DECIMAL(18,2)) END) AS DOUBLE) AS qty_open,
           CAST(SUM(CASE WHEN l_linestatus = 'F'
                         THEN CAST(l_quantity AS DECIMAL(18,2)) END) AS DOUBLE) AS qty_filled
    FROM lineitem
    GROUP BY l_returnflag
    """,
    doc="Pivot (long->wide) with fixed pivot values. Reference expresses "
    "this as CASE-sums (airflow/src/load_to_postgres.py:423-434); here via "
    "Spark's native pivot operator (SURVEY A3).",
    tags=("agg",),
)
def pivot_status_qty(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")["lineitem"]
    return (
        li.groupBy("l_returnflag")
        .pivot("l_linestatus", ["O", "F"])
        .agg(F.sum(dec("l_quantity")).cast("double"))
        .withColumnRenamed("O", "qty_open")
        .withColumnRenamed("F", "qty_filled")
    )


# --------------------------------------------------------------------------
# Dedup / latest-per-group (SURVEY §2.4 A1/A6, §2.5 W2, §2.3 J1)
# --------------------------------------------------------------------------


@CATALOG.add(
    "dedup_user_event_type",
    """
    SELECT event_id, ts, user_id, event_type, value
    FROM (
        SELECT event_id, ts, user_id, event_type, value,
               ROW_NUMBER() OVER (PARTITION BY user_id, event_type
                                  ORDER BY event_id ASC) AS rk
        FROM events
    )
    WHERE rk = 1
    """,
    doc="Dedup by key subset keeping the first row per key. Reference: "
    "drop_duplicates(subset=['station_id','timestamp']) at "
    "airflow/src/load_to_postgres.py:229-236 (SURVEY A1). Spark's "
    "dropDuplicates keeps an arbitrary row, so the engine's deterministic "
    "dedup ranks on a unique key instead.",
    tags=("dedup", "window"),
)
def dedup_user_event_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")["events"]
    w = W.partitionBy("user_id", "event_type").orderBy(F.col("event_id").asc())
    return (
        ev.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") == 1)
        .select("event_id", "ts", "user_id", "event_type", "value")
    )


@CATALOG.add(
    "latest_event_per_user",
    """
    SELECT event_id, ts, user_id, event_type, value
    FROM (
        SELECT event_id, ts, user_id, event_type, value,
               ROW_NUMBER() OVER (PARTITION BY user_id
                                  ORDER BY ts DESC, event_id DESC) AS rk
        FROM events
    )
    WHERE rk = 1
    """,
    doc="Latest-row-per-group. Reference: the current_weather_status view — "
    "CTE of GROUP BY city, MAX(reading_timestamp) joined back at "
    "sql/create_tables.sql:194-218 (SURVEY J1/A6/W2). The ranking form is "
    "one shuffle instead of agg+join's two.",
    tags=("window",),
)
def latest_event_per_user(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")["events"]
    w = W.partitionBy("user_id").orderBy(F.col("ts").desc(), F.col("event_id").desc())
    return (
        ev.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") == 1)
        .select("event_id", "ts", "user_id", "event_type", "value")
    )


@CATALOG.add(
    "top3_events_per_user",
    """
    SELECT user_id, event_id, value, rk
    FROM (
        SELECT user_id, event_id, value,
               ROW_NUMBER() OVER (PARTITION BY user_id
                                  ORDER BY value DESC, event_id ASC) AS rk
        FROM events
    )
    WHERE rk <= 3
    """,
    doc="Top-k per group via ranking window. Generalization of W2; the "
    "reference's top-1-by-name (max(csv_files) at "
    "airflow/src/load_to_postgres.py:198, SURVEY O4) is the k=1 case.",
    tags=("window",),
)
def top3_events_per_user(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")["events"]
    w = W.partitionBy("user_id").orderBy(F.col("value").desc(), F.col("event_id").asc())
    return (
        ev.select("user_id", "event_id", "value")
        .withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= 3)
    )


@CATALOG.add(
    "event_gaps_lag",
    """
    SELECT user_id, event_id, ts,
           epoch_us(ts) - epoch_us(LAG(ts) OVER w) AS gap_us,
           LEAD(event_type) OVER w AS next_type,
           FIRST_VALUE(event_id) OVER w AS first_event_id
    FROM events
    WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    """,
    doc="Window offset functions (lag/lead/first_value): per-user "
    "inter-event gap in exact integer microseconds, the next event's "
    "type, and the session-opening event. One shuffle on user_id, one "
    "in-partition sort — identical cost profile to the ranking "
    "windows; offsets add no extra pass. Ordering ties break on "
    "event_id so both engines pick identical neighbors.",
    tags=("window",),
)
def event_gaps_lag(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")["events"]
    w = W.partitionBy("user_id").orderBy(
        F.col("ts").asc(), F.col("event_id").asc()
    )
    return ev.select(
        "user_id",
        "event_id",
        "ts",
        (
            F.unix_micros("ts") - F.unix_micros(F.lag("ts").over(w))
        ).alias("gap_us"),
        F.lead("event_type").over(w).alias("next_type"),
        F.first("event_id").over(w).alias("first_event_id"),
    )


@CATALOG.add(
    "user_running_totals",
    """
    SELECT user_id, event_id, ts,
           CAST(COUNT(*) OVER w AS BIGINT) AS running_n,
           CAST(SUM(CAST(value AS DECIMAL(18,2))) OVER w AS DOUBLE)
               AS running_sum
    FROM events
    WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
    """,
    doc="Running-frame aggregates (ROWS UNBOUNDED PRECEDING → CURRENT "
    "ROW): cumulative event count and value total per user in event "
    "order. The sum routes through DECIMAL so every prefix total is "
    "exact — a double running sum would accumulate engine-order "
    "rounding. Same single-shuffle window shape; Spark evaluates "
    "running frames incrementally (O(n) per partition, not O(n²)).",
    tags=("window",),
)
def user_running_totals(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")["events"]
    w = (
        W.partitionBy("user_id")
        .orderBy(F.col("ts").asc(), F.col("event_id").asc())
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    return ev.select(
        "user_id",
        "event_id",
        "ts",
        F.count(F.lit(1)).over(w).alias("running_n"),
        F.sum(dec("value")).over(w).cast("double").alias("running_sum"),
    )


@CATALOG.add(
    "event_rank_functions",
    """
    SELECT user_id, event_id, value,
           CAST(RANK() OVER wt AS BIGINT) AS rnk,
           CAST(DENSE_RANK() OVER wt AS BIGINT) AS drnk,
           PERCENT_RANK() OVER wt AS pct_rank,
           CUME_DIST() OVER wt AS cume,
           CAST(NTILE(4) OVER wu AS BIGINT) AS quartile
    FROM events
    WINDOW wt AS (PARTITION BY user_id
                  ORDER BY CAST(floor(value / 100.0) AS BIGINT) DESC),
           wu AS (PARTITION BY user_id ORDER BY value DESC, event_id)
    """,
    doc="The full ranking-function family with correct tie semantics: "
    "rank/dense_rank/percent_rank/cume_dist rank over a COARSE key "
    "(floor(value/100) — peers abound, so gap-vs-dense behavior and "
    "the (rank-1)/(n-1), rows≤current/n rational definitions are "
    "actually exercised), while ntile uses a UNIQUE ordering because "
    "tile assignment of peer rows is position-dependent and would be "
    "nondeterministic under ties. Both windows share one partition "
    "key, so Spark computes them in a single shuffle + sort pass.",
    tags=("window",),
)
def event_rank_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")["events"]
    wt = W.partitionBy("user_id").orderBy(
        F.expr("cast(floor(value / 100.0) as bigint)").desc()
    )
    wu = W.partitionBy("user_id").orderBy(
        F.col("value").desc(), F.col("event_id").asc()
    )
    return ev.select(
        "user_id",
        "event_id",
        "value",
        F.rank().over(wt).cast("bigint").alias("rnk"),
        F.dense_rank().over(wt).cast("bigint").alias("drnk"),
        F.percent_rank().over(wt).alias("pct_rank"),
        F.cume_dist().over(wt).alias("cume"),
        F.ntile(4).over(wu).cast("bigint").alias("quartile"),
    )


@CATALOG.add(
    "gap_based_sessions",
    """
    WITH g AS (
        SELECT user_id, event_id, ts,
               CASE WHEN LAG(ts) OVER w IS NULL
                    OR epoch_us(ts) - epoch_us(LAG(ts) OVER w)
                       > 600000000
                    THEN 1 ELSE 0 END AS is_new
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ),
    s AS (
        SELECT user_id, event_id, ts,
               CAST(SUM(is_new) OVER (
                   PARTITION BY user_id ORDER BY ts, event_id
                   ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_seq
        FROM g
    )
    SELECT user_id, session_seq,
           COUNT(*) AS n_events,
           MIN(ts) AS session_start,
           MAX(ts) AS session_end
    FROM s
    GROUP BY user_id, session_seq
    """,
    doc="Gap-based sessionization as a window COMPOSITION: lag marks "
    "session openers (gap > 10 min in exact integer microseconds), a "
    "running sum turns the marks into session sequence numbers, and a "
    "group-by collapses to one row per session — the classic "
    "formulation that predates F.session_window and still wins when "
    "the session rule is not a plain timeout (user_session_windows "
    "covers the built-in). Both window passes and the aggregate "
    "shuffle on user_id, so the whole plan is ONE exchange.",
    tags=("window", "agg"),
)
def gap_based_sessions(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")["events"]
    w = W.partitionBy("user_id").orderBy(
        F.col("ts").asc(), F.col("event_id").asc()
    )
    gap_us = F.unix_micros("ts") - F.unix_micros(F.lag("ts").over(w))
    is_new = F.when(
        F.lag("ts").over(w).isNull() | (gap_us > 600_000_000), 1
    ).otherwise(0)
    g = ev.select("user_id", "event_id", "ts", is_new.alias("is_new"))
    wrun = w.rowsBetween(W.unboundedPreceding, W.currentRow)
    s = g.select(
        "user_id",
        "event_id",
        "ts",
        F.sum("is_new").over(wrun).cast("bigint").alias("session_seq"),
    )
    return s.groupBy("user_id", "session_seq").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.min("ts").alias("session_start"),
        F.max("ts").alias("session_end"),
    )


@CATALOG.add(
    "grouping_sets_pricing",
    """
    SELECT l_returnflag, l_linestatus,
           CAST(GROUPING(l_returnflag, l_linestatus) AS BIGINT) AS gid,
           COUNT(*) AS n_items,
           CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE)
               AS sum_qty
    FROM lineitem
    GROUP BY GROUPING SETS ((l_returnflag, l_linestatus),
                            (l_returnflag), ())
    """,
    doc="Explicit GROUPING SETS with grouping_id: the general form "
    "rollup/cube specialize (rollup_returnflag_status and "
    "cube_type_user_bucket cover those), emitting exactly the three "
    "chosen granularities in ONE pass — Spark plans a single Expand + "
    "hash aggregate, not one scan per set, so adding a granularity "
    "costs a row-multiplier, not a rescan of 100 TB. grouping_id "
    "disambiguates real NULLs from subtotal rows, the standard "
    "reporting-table contract.",
    tags=("agg",),
)
def grouping_sets_pricing(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")["lineitem"]
    return (
        li.groupingSets(
            [["l_returnflag", "l_linestatus"], ["l_returnflag"], []],
            "l_returnflag",
            "l_linestatus",
        )
        .agg(
            F.grouping_id().cast("bigint").alias("gid"),
            F.count(F.lit(1)).alias("n_items"),
            dsum("l_quantity").alias("sum_qty"),
        )
        .select(
            "l_returnflag", "l_linestatus", "gid", "n_items", "sum_qty"
        )
    )


@CATALOG.add(
    "value_histogram",
    """
    SELECT CAST(floor(value / 25.0) AS INTEGER) AS bucket,
           COUNT(*) AS n_events,
           CAST(MIN(value) AS DOUBLE) AS min_value,
           CAST(MAX(value) AS DOUBLE) AS max_value
    FROM events
    WHERE value IS NOT NULL
    GROUP BY 1
    """,
    doc="Equi-width histogram of events.value (25-unit buckets): the "
    "data-profiling aggregation behind range validation and skew "
    "diagnosis. The bucket id is floor(value/25) — one IEEE division "
    "+ floor, identical in both engines — so binning happens map-side "
    "and the shuffle carries only ~20 bucket keys. The same shape "
    "profiles any column at 100 TB: cost is one scan, output is "
    "O(buckets).",
    tags=("agg",),
)
def value_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")["events"]
    return (
        ev.filter(F.col("value").isNotNull())
        .groupBy(
            F.floor(F.col("value") / 25.0).cast("int").alias("bucket")
        )
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.min("value").cast("double").alias("min_value"),
            F.max("value").cast("double").alias("max_value"),
        )
    )


@CATALOG.add(
    "order_date_arithmetic",
    """
    SELECT o_orderkey,
           CAST(o_orderdate AS DATE) AS order_date,
           date_trunc('month', CAST(o_orderdate AS DATE)) AS month_start,
           CAST(CAST(o_orderdate AS DATE) + INTERVAL 3 MONTH AS DATE)
               AS plus_3_months,
           last_day(CAST(o_orderdate AS DATE)) AS month_end,
           CAST(datediff('day', DATE '1995-01-01',
                         CAST(o_orderdate AS DATE)) AS INTEGER)
               AS days_since_epoch_start
    FROM orders
    WHERE o_orderkey <= 1000
    """,
    doc="Date arithmetic family (F14/F16 depth): to_date truncation, "
    "month truncation, interval addition, last-day-of-month, and "
    "day-difference from a fixed anchor — the derived-date toolkit "
    "the reference's load_to_postgres date handling implies "
    "(airflow/src/load_to_postgres.py:198-266). All per-row scalar "
    "expressions inside codegen; the only cross-engine trap is return "
    "TYPES (Spark add_months: DATE, DuckDB +INTERVAL: TIMESTAMP), "
    "pinned by explicit casts on both sides.",
    tags=("scalar",),
)
def order_date_arithmetic(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = _t(spark, sf_dir, "orders")["orders"]
    d = F.to_date("o_orderdate")
    return o.filter(F.col("o_orderkey") <= 1000).select(
        "o_orderkey",
        d.alias("order_date"),
        F.trunc(d, "month").alias("month_start"),
        F.add_months(d, 3).alias("plus_3_months"),
        F.last_day(d).alias("month_end"),
        F.datediff(d, F.lit("1995-01-01").cast("date"))
        .cast("int")
        .alias("days_since_epoch_start"),
    )


@CATALOG.add(
    "small_quantity_order_revenue",
    """
    WITH pa AS (
        SELECT l_partkey,
               0.2 * (CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE)
                      / COUNT(l_quantity)) AS qty_threshold
        FROM lineitem GROUP BY l_partkey
    )
    SELECT CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) / 7.0
               AS avg_yearly
    FROM lineitem
    JOIN part ON p_partkey = l_partkey
    JOIN pa USING (l_partkey)
    WHERE p_brand = 'Brand#23' AND l_quantity < qty_threshold
    """,
    doc="Correlated scalar-aggregate subquery (TPC-H Q17 shape): "
    "lineitems under 20% of their part's average quantity. The "
    "correlation decorrelates into a per-part aggregate joined back — "
    "the rewrite Catalyst applies to IN/EXISTS subqueries and which "
    "this plan does explicitly for the aggregate case: two shuffles "
    "on l_partkey (partial agg map-side), no per-row subquery "
    "re-execution. Part scales with SF, so no broadcast hint — AQE "
    "picks the strategy. Threshold arithmetic is the identical "
    "0.2 × (decimal-sum / count) expression tree on both engines.",
    tags=("join", "agg", "subquery"),
)
def small_quantity_order_revenue(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    t = _t(spark, sf_dir, "lineitem", "part")
    li, part = t["lineitem"], t["part"]
    pa = li.groupBy("l_partkey").agg(
        (F.lit(0.2) * davg("l_quantity")).alias("qty_threshold")
    )
    return (
        li.join(part, li.l_partkey == part.p_partkey)
        .join(pa, "l_partkey")
        .filter(
            (F.col("p_brand") == "Brand#23")
            & (F.col("l_quantity") < F.col("qty_threshold"))
        )
        .agg(
            (dsum("l_extendedprice") / F.lit(7.0)).alias("avg_yearly")
        )
    )


# --------------------------------------------------------------------------
# Joins (SURVEY §2.3)
# --------------------------------------------------------------------------


@CATALOG.add(
    "top_revenue_orders",
    f"""
    SELECT l_orderkey, o_orderdate, o_orderpriority,
           CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))
                    * ({_ONE} - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS revenue
    FROM customer
    JOIN orders ON c_custkey = o_custkey
    JOIN lineitem ON l_orderkey = o_orderkey
    WHERE c_mktsegment = 'BUILDING'
      AND o_orderdate < TIMESTAMP '1995-03-15 00:00:00'
      AND l_shipdate > TIMESTAMP '1995-03-15 00:00:00'
    GROUP BY l_orderkey, o_orderdate, o_orderpriority
    ORDER BY revenue DESC, l_orderkey ASC
    LIMIT 10
    """,
    doc="Multi-way equi join + group agg + deterministic top-k (TPC-H Q3 "
    "shape). Reference's only join is J1 (sql/create_tables.sql:194-218); "
    "the engine exposes the full join surface per SURVEY §2.3. Customer "
    "scales with SF, so no broadcast hint — AQE picks broadcast at small "
    "SF and shuffle join at scale; top-k is TakeOrderedAndProject.",
    tags=("join", "agg", "topk"),
)
def top_revenue_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = _t(spark, sf_dir, "customer", "orders", "lineitem")
    cutoff = F.lit("1995-03-15 00:00:00").cast("timestamp")
    one = F.lit(1).cast("decimal(3,2)")
    cust = t["customer"].filter(F.col("c_mktsegment") == "BUILDING")
    orders = t["orders"].filter(F.col("o_orderdate") < cutoff)
    li = t["lineitem"].filter(F.col("l_shipdate") > cutoff)
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .groupBy("l_orderkey", "o_orderdate", "o_orderpriority")
        .agg(
            F.sum(dec("l_extendedprice") * (one - dec("l_discount")))
            .cast("double")
            .alias("revenue")
        )
        .orderBy(F.col("revenue").desc(), F.col("l_orderkey").asc())
        .limit(10)
    )


@CATALOG.add(
    "regional_revenue",
    f"""
    SELECT n_name,
           CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))
                    * ({_ONE} - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS revenue
    FROM lineitem
    JOIN orders ON l_orderkey = o_orderkey
    JOIN customer ON o_custkey = c_custkey
    JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
    JOIN nation ON s_nationkey = n_nationkey
    JOIN region ON n_regionkey = r_regionkey
    WHERE r_name = 'ASIA'
    GROUP BY n_name
    """,
    doc="Star-schema join across 6 tables (TPC-H Q5 shape). Only the true "
    "dimensions (region, nation — fixed 5/25 rows at every SF) carry "
    "broadcast hints; customer and supplier scale with SF, so their join "
    "strategy is left to Catalyst+AQE (broadcast at small SF, shuffle "
    "join at the 100 TB design point). (SURVEY §2.3 scope extension.)",
    tags=("join", "agg"),
)
def regional_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = _t(
        spark, sf_dir, "lineitem", "orders", "customer", "supplier", "nation", "region"
    )
    one = F.lit(1).cast("decimal(3,2)")
    nat = (
        t["nation"]
        .join(
            F.broadcast(t["region"].filter(F.col("r_name") == "ASIA")),
            F.col("n_regionkey") == F.col("r_regionkey"),
        )
        .select("n_nationkey", "n_name")
    )
    sup = t["supplier"].join(
        F.broadcast(nat), F.col("s_nationkey") == F.col("n_nationkey")
    )
    return (
        t["lineitem"]
        .join(t["orders"], F.col("l_orderkey") == F.col("o_orderkey"))
        .join(t["customer"], F.col("o_custkey") == F.col("c_custkey"))
        .join(
            sup,
            (F.col("l_suppkey") == F.col("s_suppkey"))
            & (F.col("c_nationkey") == F.col("s_nationkey")),
        )
        .groupBy("n_name")
        .agg(
            F.sum(dec("l_extendedprice") * (one - dec("l_discount")))
            .cast("double")
            .alias("revenue")
        )
    )


@CATALOG.add(
    "customers_without_urgent_orders",
    """
    SELECT c_custkey, c_name, c_mktsegment
    FROM customer c
    WHERE NOT EXISTS (SELECT 1 FROM orders o
                      WHERE o.o_custkey = c.c_custkey
                        AND o.o_orderpriority = '1-URGENT')
    """,
    doc="Left-anti join (NOT EXISTS). This is the engine's idempotent-"
    "append primitive: the reference's INSERT ... ON CONFLICT DO NOTHING "
    "(airflow/src/load_to_postgres.py:294-321, SURVEY S11) becomes an "
    "anti-join against existing keys.",
    tags=("join",),
)
def customers_without_urgent_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = _t(spark, sf_dir, "customer", "orders")
    urgent = t["orders"].filter(F.col("o_orderpriority") == "1-URGENT")
    return t["customer"].join(
        urgent, F.col("c_custkey") == F.col("o_custkey"), "left_anti"
    ).select("c_custkey", "c_name", "c_mktsegment")


@CATALOG.add(
    "customers_with_high_value_orders",
    """
    SELECT c_custkey, c_name
    FROM customer c
    WHERE EXISTS (SELECT 1 FROM orders o
                  WHERE o.o_custkey = c.c_custkey AND o.o_totalprice > 200000)
    """,
    doc="Left-semi join (EXISTS). Part of the full join surface the engine "
    "exposes (SURVEY §2.3).",
    tags=("join",),
)
def customers_with_high_value_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = _t(spark, sf_dir, "customer", "orders")
    big = t["orders"].filter(F.col("o_totalprice") > 200000)
    return t["customer"].join(
        big, F.col("c_custkey") == F.col("o_custkey"), "left_semi"
    ).select("c_custkey", "c_name")


# --------------------------------------------------------------------------
# Filters / projections / set ops / sorts (SURVEY §2.2, §2.6, §2.7)
# --------------------------------------------------------------------------


# filter_isin_projection retired r10 (zero-slack swap: its slot went
# to tablelog_manifest_stats). Its P4/P5 semantics — set-membership
# filter + column-subset projection (glue_weather_etl.py:503-523) —
# are strictly covered by weather_alert_feed (isin on the alert level
# + 9-column projection, green r09 row) and the scan-level pushdown
# shape by date_range_revenue / promo_revenue_ratio (whose
# PushedFilters pin lives in tests/test_plans.py).


@CATALOG.add(
    "date_range_revenue",
    f"""
    SELECT CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))
                    * CAST(l_discount AS DECIMAL(18,2))) AS DOUBLE) AS revenue,
           COUNT(*) AS n_rows
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '1994-01-01 00:00:00'
      AND l_shipdate < TIMESTAMP '1995-01-01 00:00:00'
      AND l_discount BETWEEN 0.05 AND 0.07
      AND l_quantity < 24
    """,
    doc="Date-range + numeric-range predicates feeding a scalar agg "
    "(TPC-H Q6 shape). Reference: the 7-day / yesterday date predicates at "
    "sql/create_tables.sql:184 and load_to_postgres.py:437 (SURVEY P6) and "
    "range predicates P8. All four predicates push down to parquet.",
    tags=("filter", "agg"),
)
def date_range_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")["lineitem"]
    return (
        li.filter(
            (F.col("l_shipdate") >= F.lit("1994-01-01 00:00:00").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1995-01-01 00:00:00").cast("timestamp"))
            & F.col("l_discount").between(0.05, 0.07)
            & (F.col("l_quantity") < 24)
        )
        .agg(
            F.sum(dec("l_extendedprice") * dec("l_discount"))
            .cast("double")
            .alias("revenue"),
            F.count(F.lit(1)).alias("n_rows"),
        )
    )


@CATALOG.add(
    "range_validity_flags",
    """
    SELECT l_orderkey, l_linenumber,
           l_quantity BETWEEN 1 AND 50 AS is_valid_qty,
           l_discount BETWEEN 0.0 AND 0.08 AS is_valid_discount,
           l_tax BETWEEN 0.0 AND 0.06 AS is_valid_tax,
           CAST(CAST(l_quantity BETWEEN 1 AND 50 AS INTEGER)
                + CAST(l_discount BETWEEN 0.0 AND 0.08 AS INTEGER)
                + CAST(l_tax BETWEEN 0.0 AND 0.06 AS INTEGER) AS DOUBLE)
               / 3.0 * 100.0 AS data_quality_score
    FROM lineitem
    """,
    doc="Range-validity boolean columns + quality score. Reference: "
    "is_valid_temperature/humidity/pressure and data_quality_score "
    "(valid_count/3*100) at scripts/glue_weather_etl.py:408-430 "
    "(SURVEY P8/F12). Constraint checks become flags, not aborts, "
    "exactly as the reference chose.",
    tags=("filter", "scalar"),
)
def range_validity_flags(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")["lineitem"]
    vq = F.col("l_quantity").between(1, 50)
    vd = F.col("l_discount").between(0.0, 0.08)
    vt = F.col("l_tax").between(0.0, 0.06)
    score = (
        (vq.cast("int") + vd.cast("int") + vt.cast("int")).cast("double")
        / F.lit(3.0)
        * F.lit(100.0)
    )
    return li.select(
        "l_orderkey",
        "l_linenumber",
        vq.alias("is_valid_qty"),
        vd.alias("is_valid_discount"),
        vt.alias("is_valid_tax"),
        score.alias("data_quality_score"),
    )


@CATALOG.add(
    "lineitem_unpivot_measures",
    """
    SELECT l_orderkey, l_linenumber, metric, val
    FROM (
        SELECT l_orderkey, l_linenumber, l_quantity, l_discount, l_tax
        FROM lineitem WHERE l_orderkey <= 200
    ) UNPIVOT INCLUDE NULLS (val FOR metric IN
                             (l_quantity, l_discount, l_tax))
    """,
    doc="Unpivot (wide→long reshape), the inverse of "
    "pivot_status_qty: three measure columns melt into (metric, val) "
    "rows keyed by the line id — the shape that feeds generic "
    "per-metric pipelines (validation rules, histograms, drift "
    "checks) without one branch per column. Spark plans unpivot as "
    "Expand — a per-row generator, no shuffle, ×3 rows in the scan "
    "stage; at 100 TB melting costs row volume, never a join.",
    tags=("setop",),
)
def lineitem_unpivot_measures(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")["lineitem"]
    return li.filter(F.col("l_orderkey") <= 200).unpivot(
        ["l_orderkey", "l_linenumber"],
        ["l_quantity", "l_discount", "l_tax"],
        "metric",
        "val",
    )


@CATALOG.add(
    "fixed_size_doc_sample",
    f"""
    SELECT doc_id, lang
    FROM documents
    ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id
    LIMIT 25
    """,
    doc="Exact-size deterministic sample: order by a content-keyed "
    "hash and take k — the distributed replacement for reservoir "
    "sampling when the sample must be EXACTLY k rows (the rate-based "
    "Bernoulli form has binomial size jitter). Spark executes it as "
    "TakeOrderedAndProject: per-partition top-k heaps merged at the "
    "driver, O(k) memory, no global sort — the same plan shape as "
    "recent_events_feed, pointed at a hash instead of a metric. "
    "Stable under re-partitioning; ties impossible (hash of unique "
    "key, plus doc_id tie-break).",
    tags=("sampling", "sort"),
)
def fixed_size_doc_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _t(spark, sf_dir, "documents")["documents"]
    return (
        d.select(
            "doc_id",
            "lang",
            F.md5(F.col("doc_id").cast("string")).alias("_h"),
        )
        .orderBy("_h", "doc_id")
        .limit(25)
        .select("doc_id", "lang")
    )


@CATALOG.add(
    "user_activity_coverage",
    """
    WITH p AS (
        SELECT user_id, COUNT(*) AS n_purchases
        FROM events
        WHERE event_type = 'purchase' AND value > 150
        GROUP BY user_id
    ),
    e AS (
        SELECT user_id, COUNT(*) AS n_errors
        FROM events
        WHERE event_type = 'error' AND value > 150
        GROUP BY user_id
    )
    SELECT COALESCE(p.user_id, e.user_id) AS user_id,
           p.n_purchases, e.n_errors,
           CASE WHEN p.user_id IS NULL THEN 'error_only'
                WHEN e.user_id IS NULL THEN 'purchase_only'
                ELSE 'both' END AS coverage
    FROM p FULL OUTER JOIN e ON p.user_id = e.user_id
    """,
    doc="FULL OUTER join of two sparse aggregates (high-value "
    "purchases vs high-value errors per user, value > 150 ≈ the p85) — the join surface's "
    "null-producing member, with COALESCE key recovery and "
    "CASE-on-null coverage tagging (the null-semantics family in its "
    "natural habitat). The rarity filter guarantees genuinely "
    "unmatched rows on BOTH sides. Full outer cannot broadcast "
    "(either side may survive alone), so the plan is a shuffle join "
    "on user_id — correct at any scale.",
    tags=("join", "agg"),
)
def user_activity_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")["events"]
    p = (
        ev.filter(
            (F.col("event_type") == "purchase") & (F.col("value") > 150)
        )
        .groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("n_purchases"))
    )
    e = (
        ev.filter(
            (F.col("event_type") == "error") & (F.col("value") > 150)
        )
        .groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("n_errors"))
    )
    pa, ea = p.alias("p"), e.alias("e")
    joined = pa.join(
        ea, F.col("p.user_id") == F.col("e.user_id"), "full_outer"
    )
    return joined.select(
        F.coalesce(F.col("p.user_id"), F.col("e.user_id")).alias(
            "user_id"
        ),
        "n_purchases",
        "n_errors",
        F.when(F.col("p.user_id").isNull(), "error_only")
        .when(F.col("e.user_id").isNull(), "purchase_only")
        .otherwise("both")
        .alias("coverage"),
    )


# union_distinct_active_users retired r11 (zero-slack swap: its slot
# went to tablelog_nullcount_prune). UNION-with-DISTINCT in Spark IS
# the composition union + Distinct (one hash aggregate over the
# unioned output), and both legs keep independent driver rows: the
# union-all leg via union_segments (identical two-filtered-scans
# unionByName shape, green r10) and the distinct-as-hash-aggregate
# leg via dedup_user_event_type (green r10) — while
# intersect_error_purchase_users / except_users_without_big_events
# (both in the r11 window) keep the set-op family's built-in
# DISTINCT semantics driver-checked every cycle. Same composition
# argument as the r10 filter_isin_projection retirement.


@CATALOG.add(
    "union_segments",
    """
    SELECT o_orderkey, o_totalprice, 'urgent' AS segment
    FROM orders WHERE o_orderpriority = '1-URGENT'
    UNION ALL
    SELECT o_orderkey, o_totalprice, 'big' AS segment
    FROM orders WHERE o_totalprice > 250000
    """,
    doc="Union-all of homogeneous frames. Reference: pd.concat over "
    "per-file parquet reads at airflow/src/load_to_postgres.py:141-166 "
    "(SURVEY U1) — in Spark unionByName, or avoided entirely by "
    "multi-path reads.",
    tags=("setop",),
)
def union_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = _t(spark, sf_dir, "orders")["orders"]
    urgent = orders.filter(F.col("o_orderpriority") == "1-URGENT").select(
        "o_orderkey", "o_totalprice", F.lit("urgent").alias("segment")
    )
    big = orders.filter(F.col("o_totalprice") > 250000).select(
        "o_orderkey", "o_totalprice", F.lit("big").alias("segment")
    )
    return urgent.unionByName(big)


# top10_orders_by_price retired r10 (zero-slack swap: its slot went to
# incremental_agg_maintenance). Its O4 semantics — single-table
# projection + ORDER BY measure DESC with key tie-break + LIMIT,
# physical plan TakeOrderedAndProject — are strictly covered by
# recent_events_feed (identical shape over events; same plan pin, now
# in tests/test_plans.py) and top_revenue_orders (top-k over an agg).


@CATALOG.add(
    "recent_events_feed",
    """
    SELECT event_id, ts, user_id, event_type
    FROM events
    ORDER BY ts DESC, event_id ASC
    LIMIT 100
    """,
    doc="O1 standalone: ORDER BY ts DESC feed — the reference's "
    "recent_weather_alerts view ordering (sql/create_tables.sql:185-"
    "186). Bounded by LIMIT, so the physical plan is "
    "TakeOrderedAndProject (per-partition top-k heaps merged on the "
    "driver), not a global sort; event_id tie-break pins the row set.",
    tags=("sort", "topk"),
)
def recent_events_feed(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")["events"]
    return (
        ev.select("event_id", "ts", "user_id", "event_type")
        .orderBy(F.col("ts").desc(), F.col("event_id").asc())
        .limit(100)
    )


@CATALOG.add(
    "nations_sorted",
    """
    SELECT n_nationkey, n_name, n_regionkey FROM nation
    ORDER BY n_name ASC
    """,
    doc="O2 standalone: full ORDER BY key ASC (the status view's ORDER "
    "BY city, sql/create_tables.sql:218). A complete global sort — "
    "range-partitioned sample + per-partition sort at scale. The "
    "driver hash is order-insensitive, so correctness pins the row "
    "set; the ordering itself is asserted in tests/test_ordering.py.",
    tags=("sort",),
)
def nations_sorted(spark: SparkSession, sf_dir: str) -> DataFrame:
    nation = _t(spark, sf_dir, "nation")["nation"]
    return nation.select("n_nationkey", "n_name", "n_regionkey").orderBy(
        F.col("n_name").asc()
    )


@CATALOG.add(
    "validation_aggregates",
    """
    SELECT COUNT(*) AS total_rows,
           CAST(SUM(CASE WHEN l_orderkey IS NULL THEN 1 ELSE 0 END)
                AS BIGINT) AS null_orderkeys,
           CAST(SUM(CASE WHEN l_quantity NOT BETWEEN 1 AND 50
                         THEN 1 ELSE 0 END) AS BIGINT)
               AS quantity_range_violations,
           CAST(SUM(CASE WHEN l_discount NOT BETWEEN 0.0 AND 0.1
                         THEN 1 ELSE 0 END) AS BIGINT)
               AS discount_range_violations,
           COUNT(DISTINCT l_returnflag) AS distinct_returnflags,
           MAX(l_shipdate) AS max_shipdate
    FROM lineitem
    """,
    doc="A9: the post-load validation aggregates as one assertion query "
    "(weather_dag.py:169-241: total count, null criticals, range "
    "violations, distribution sanity, freshness). One pass, all "
    "checks partial-aggregated map-side; the runner's validate() "
    "(runner.py) executes the same shapes against the serving table.",
    tags=("agg", "validation"),
)
def validation_aggregates(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")["lineitem"]

    viol = cnt_when

    return li.agg(
        F.count(F.lit(1)).alias("total_rows"),
        viol(F.col("l_orderkey").isNull()).alias("null_orderkeys"),
        viol(~F.col("l_quantity").between(1, 50)).alias(
            "quantity_range_violations"
        ),
        viol(~F.col("l_discount").between(0.0, 0.1)).alias(
            "discount_range_violations"
        ),
        F.countDistinct("l_returnflag").alias("distinct_returnflags"),
        F.max("l_shipdate").alias("max_shipdate"),
    )


@CATALOG.add(
    "coercion_null_on_error",
    """
    SELECT event_id,
           TRY_CAST(event_type AS DOUBLE) AS type_as_number,
           COALESCE(TRY_CAST(event_type AS DOUBLE), 0.0)
               AS type_as_number_filled,
           CAST(CAST(event_id AS VARCHAR) AS BIGINT) AS id_roundtrip,
           TRY_CAST(json_extract_string(props, '$.k') AS INTEGER) AS k_int
    FROM events
    """,
    doc="P9: type coercion with null-on-error — the reference's "
    "pd.to_numeric(errors='coerce') + fillna "
    "(load_to_postgres.py:242-262). Spark 4 runs ANSI mode by default "
    "(CAST throws), so the coercion op is try_cast — identical to "
    "DuckDB's TRY_CAST; coalesce supplies the fill. Includes a string "
    "round-trip and a JSON-field coercion.",
    tags=("scalar", "coercion"),
)
def coercion_null_on_error(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")["events"]
    return ev.select(
        "event_id",
        F.col("event_type").try_cast("double").alias("type_as_number"),
        F.coalesce(
            F.col("event_type").try_cast("double"), F.lit(0.0)
        ).alias("type_as_number_filled"),
        F.col("event_id")
        .cast("string")
        .cast("bigint")
        .alias("id_roundtrip"),
        F.get_json_object("props", "$.k").try_cast("int").alias("k_int"),
    )


@CATALOG.add(
    "null_drop_critical",
    """
    SELECT event_id, user_id, event_type, value
    FROM events
    WHERE event_id IS NOT NULL
      AND user_id IS NOT NULL
      AND event_type IS NOT NULL
    """,
    doc="P7: null-drop on critical fields (df.na.drop(subset=...), "
    "reference dropna at load_to_postgres.py:264-266). Expressed as "
    "IS NOT NULL conjunction so the predicate pushes down to the "
    "parquet scan (null-count stats skip whole row groups).",
    tags=("filter",),
)
def null_drop_critical(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")["events"]
    return ev.na.drop(
        subset=["event_id", "user_id", "event_type"]
    ).select("event_id", "user_id", "event_type", "value")


@CATALOG.add(
    "promo_revenue_ratio",
    f"""
    SELECT CAST(SUM(CASE WHEN p_type = 'PROMO'
                    THEN CAST(l_extendedprice AS DECIMAL(18,2))
                         * ({_ONE} - CAST(l_discount AS DECIMAL(18,2)))
                    ELSE CAST(0 AS DECIMAL(18,4)) END) AS DOUBLE) * 100.0
             / CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))
                        * ({_ONE} - CAST(l_discount AS DECIMAL(18,2))))
                    AS DOUBLE) AS promo_revenue_pct,
           COUNT(*) AS n_lines
    FROM lineitem
    JOIN part ON l_partkey = p_partkey
    WHERE l_shipdate >= TIMESTAMP '1995-09-01 00:00:00'
      AND l_shipdate < TIMESTAMP '1995-10-01 00:00:00'
    """,
    doc="TPC-H Q14 shape (promo revenue share): month-sliced "
    "lineitem⋈part equi-join + conditional decimal-exact revenue "
    "ratio. The month filter pushes to the lineitem scan (row-group "
    "skipping on shipdate stats); part scales with SF so the join "
    "strategy is left to Catalyst+AQE — no broadcast hint (at 100 TB "
    "this is a shuffle join on partkey; at bench SF, AQE picks "
    "broadcast from runtime stats).",
    tags=("join", "agg"),
)
def promo_revenue_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = _t(spark, sf_dir, "lineitem", "part")
    li, part = t["lineitem"], t["part"]
    one = F.lit(1).cast("decimal(3,2)")
    disc_price = dec("l_extendedprice") * (one - dec("l_discount"))
    month = li.filter(
        (F.col("l_shipdate") >= F.lit("1995-09-01 00:00:00").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1995-10-01 00:00:00").cast("timestamp"))
    )
    joined = month.join(part, month.l_partkey == part.p_partkey)
    return joined.agg(
        (
            F.sum(
                F.when(F.col("p_type") == "PROMO", disc_price).otherwise(
                    F.lit(0).cast("decimal(18,4)")
                )
            ).cast("double")
            * F.lit(100.0)
            / F.sum(disc_price).cast("double")
        ).alias("promo_revenue_pct"),
        F.count(F.lit(1)).alias("n_lines"),
    )


@CATALOG.add(
    "cube_type_user_bucket",
    """
    SELECT COALESCE(event_type, '(all)') AS event_type,
           COALESCE(CAST(user_id % 10 AS VARCHAR), '(all)') AS user_bucket,
           COUNT(*) AS n,
           CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
    FROM events
    GROUP BY CUBE (event_type, CAST(user_id % 10 AS VARCHAR))
    """,
    doc="CUBE over (event_type, user bucket): all 4 grouping "
    "combinations in one pass — Spark expands grouping sets before the "
    "hash aggregate, so it is still a single shuffle with map-side "
    "partials (rows multiply by the number of grouping sets, the "
    "standard cost). NULL grouping placeholders are coalesced to a "
    "sentinel because the driver hash treats NULL-vs-'(all)' as a "
    "value difference and DuckDB/Spark agree on the sentinel.",
    tags=("agg", "rollup"),
)
def cube_type_user_bucket(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")["events"]
    bucket = (F.col("user_id") % 10).cast("string")
    return (
        ev.cube(
            F.col("event_type").alias("event_type"),
            bucket.alias("user_bucket"),
        )
        .agg(
            F.count(F.lit(1)).alias("n"),
            dsum("value").alias("sum_value"),
        )
        .select(
            F.coalesce("event_type", F.lit("(all)")).alias("event_type"),
            F.coalesce("user_bucket", F.lit("(all)")).alias("user_bucket"),
            "n",
            "sum_value",
        )
    )


@CATALOG.add(
    "intersect_error_purchase_users",
    """
    SELECT user_id FROM events WHERE event_type = 'error'
    INTERSECT
    SELECT user_id FROM events WHERE event_type = 'purchase'
    """,
    doc="INTERSECT (distinct set semantics): users with both error and "
    "purchase events. Spark compiles set intersection to a left-semi "
    "join over distincts — one shuffle per side on the full row as "
    "key. Completes the set-operation family beyond the reference's "
    "single union-all (SURVEY §2.7).",
    tags=("setop",),
)
def intersect_error_purchase_users(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    ev = _t(spark, sf_dir, "events")["events"]
    err = ev.filter(F.col("event_type") == "error").select("user_id")
    pur = ev.filter(F.col("event_type") == "purchase").select("user_id")
    return err.intersect(pur)


@CATALOG.add(
    "except_users_without_big_events",
    """
    SELECT user_id FROM events
    EXCEPT
    SELECT user_id FROM events WHERE value > 300
    """,
    doc="EXCEPT (distinct set difference): users who never produced a "
    "high-value event — the set-op twin of the anti-join "
    "(customers_without_urgent_orders demonstrates the join form). "
    "Spark compiles to left-anti over distincts.",
    tags=("setop",),
)
def except_users_without_big_events(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    ev = _t(spark, sf_dir, "events")["events"]
    allu = ev.select("user_id")
    big = ev.filter(F.col("value") > 300).select("user_id")
    return allu.subtract(big)


@CATALOG.add(
    "price_percentiles_by_flag",
    """
    SELECT l_returnflag,
           quantile_cont(l_extendedprice, 0.5) AS median_price,
           quantile_cont(l_extendedprice, 0.9) AS p90_price,
           quantile_cont(l_extendedprice, 0.99) AS p99_price,
           COUNT(*) AS n
    FROM lineitem
    GROUP BY l_returnflag
    """,
    doc="Exact percentiles per group (percentile ≡ DuckDB quantile_cont "
    "— both use the same linear-interpolation definition, verified "
    "bit-identical). Exact percentile buffers each group's values "
    "(sort-based agg): right for bounded groups like this 3-value "
    "flag; at 100 TB with huge groups, swap in approx_percentile "
    "(t-digest sketch, mergeable map-side, bounded memory) and accept "
    "the documented error bound.",
    tags=("agg", "percentile"),
)
def price_percentiles_by_flag(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")["lineitem"]
    # One percentile call with an array of percentages = ONE buffered
    # sort per group; three separate calls would sort three times.
    pcts = li.groupBy("l_returnflag").agg(
        F.expr(
            "percentile(l_extendedprice, array(0.5, 0.9, 0.99))"
        ).alias("p"),
        F.count(F.lit(1)).alias("n"),
    )
    return pcts.select(
        "l_returnflag",
        F.col("p")[0].alias("median_price"),
        F.col("p")[1].alias("p90_price"),
        F.col("p")[2].alias("p99_price"),
        "n",
    )


# --------------------------------------------------------------------------
# Dataset profiling: one-pass multi-column statistics
# --------------------------------------------------------------------------

#: (column, is_numeric) — ts is profiled for nulls/cardinality but its
#: min/max stay NULL: timestamp→string rendering differs across
#: engines, and the numeric slots are typed DOUBLE.
_PROFILE_COLS = (
    ("event_id", True),
    ("ts", False),
    ("user_id", True),
    ("event_type", False),
    ("value", True),
    ("props", False),
)


@CATALOG.add(
    "events_table_profile",
    "\nUNION ALL\n".join(
        f"""
    SELECT '{c}' AS column_name,
           COUNT(*) - COUNT({c}) AS n_nulls,
           COUNT(DISTINCT {c}) AS n_distinct,
           {f"CAST(MIN({c}) AS DOUBLE)" if num else "CAST(NULL AS DOUBLE)"}
               AS min_numeric,
           {f"CAST(MAX({c}) AS DOUBLE)" if num else "CAST(NULL AS DOUBLE)"}
               AS max_numeric
    FROM events"""
        for c, num in _PROFILE_COLS
    ),
    doc="Dataset profiling: null count, exact distinct cardinality, and "
    "numeric min/max for every column of the events table — the "
    "data-quality report a pipeline runs on each new partition before "
    "accepting it (the engine-level form of runner.py's X3 "
    "validation). ONE scan computes all columns' statistics "
    "(Spark expands multiple DISTINCT aggregates into an Expand node "
    "— rows duplicate ×#distinct-aggs map-side, still a single pass "
    "over the files, where the oracle's UNION ALL form re-scans per "
    "column); the profile then pivots to one row per column via "
    "stack(). At 100 TB swap COUNT(DISTINCT) for approx_count_distinct "
    "per column when ±2% suffices — the plan shape is unchanged.",
    tags=("agg", "profiling"),
)
def events_table_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")["events"]
    aggs = []
    for c, num in _PROFILE_COLS:
        aggs.append(
            (F.count(F.lit(1)) - F.count(c)).alias(f"{c}__nulls")
        )
        aggs.append(F.countDistinct(c).alias(f"{c}__nd"))
        mn = (
            F.min(c).cast("double")
            if num
            else F.lit(None).cast("double")
        )
        mx = (
            F.max(c).cast("double")
            if num
            else F.lit(None).cast("double")
        )
        aggs.append(mn.alias(f"{c}__min"))
        aggs.append(mx.alias(f"{c}__max"))
    wide = ev.agg(*aggs)
    stack = ", ".join(
        f"'{c}', {c}__nulls, {c}__nd, {c}__min, {c}__max"
        for c, _ in _PROFILE_COLS
    )
    return wide.selectExpr(
        f"stack({len(_PROFILE_COLS)}, {stack}) AS "
        "(column_name, n_nulls, n_distinct, min_numeric, max_numeric)"
    )


@CATALOG.add(
    "referential_integrity_audit",
    """
    SELECT 'orders->customer' AS fk, COUNT(*) AS n_orphans
    FROM orders o LEFT JOIN customer c ON o.o_custkey = c.c_custkey
    WHERE c.c_custkey IS NULL
    UNION ALL
    SELECT 'lineitem->orders' AS fk, COUNT(*) AS n_orphans
    FROM lineitem l LEFT JOIN orders o ON l.l_orderkey = o.o_orderkey
    WHERE o.o_orderkey IS NULL
    UNION ALL
    SELECT 'lineitem->part' AS fk, COUNT(*) AS n_orphans
    FROM lineitem l LEFT JOIN part p ON l.l_partkey = p.p_partkey
    WHERE p.p_partkey IS NULL
    """,
    doc="Referential-integrity audit: orphan counts for the three "
    "fact→dimension foreign keys, the cross-table extension of "
    "runner.py's X3 single-table validation (a lake has no FK "
    "constraints — this query IS the constraint). Each check is a "
    "LEFT ANTI-shaped join reduced to one count: shuffle on the key, "
    "zero rows survive when integrity holds, so the post-join "
    "aggregate is near-free. On a bucketed lake the joins are "
    "exchange-free; the audit is the cheap gate a load pipeline runs "
    "before publishing a partition.",
    tags=("join", "profiling"),
)
def referential_integrity_audit(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    t = _t(spark, sf_dir, "orders", "customer", "lineitem", "part")

    def orphans(fact, fk, dim, pk, label):
        return (
            fact.join(dim, fact[fk] == dim[pk], "left_anti")
            .agg(F.count(F.lit(1)).alias("n_orphans"))
            .select(F.lit(label).alias("fk"), "n_orphans")
        )

    return (
        orphans(t["orders"], "o_custkey", t["customer"], "c_custkey",
                "orders->customer")
        .unionAll(
            orphans(t["lineitem"], "l_orderkey", t["orders"],
                    "o_orderkey", "lineitem->orders")
        )
        .unionAll(
            orphans(t["lineitem"], "l_partkey", t["part"], "p_partkey",
                    "lineitem->part")
        )
    )


# --------------------------------------------------------------------------
# Skew-handling operators, driver-checked (operators/skew.py)
# --------------------------------------------------------------------------


@CATALOG.add(
    "salted_hot_key_join",
    """
    WITH dim AS (
        SELECT DISTINCT event_type,
               CAST(length(event_type) AS INTEGER) AS type_len
        FROM events
    )
    SELECT e.event_type,
           COUNT(*) AS n_events,
           CAST(MAX(d.type_len) AS INTEGER) AS type_len
    FROM events e JOIN dim d ON e.event_type = d.event_type
    GROUP BY e.event_type
    """,
    doc="The manual skew escape hatch (operators/skew.salted_join) "
    "driven against a value oracle: events (every key is hot — 5 keys "
    "over the whole table, the worst equi-join skew shape) join a "
    "derived per-type dimension through the salted form — probe rows "
    "salted by pmod(hash(event_id), 8), build side replicated ×8, join "
    "on (key, salt) — and the aggregated result must equal the PLAIN "
    "join the oracle computes. A replication or salt-distribution bug "
    "multiplies counts and fails the hash. This is the shape AQE skew "
    "splitting cannot fix (a single key larger than a partition); the "
    "salt spreads each hot key over 8 reducers at any scale, and "
    "determinism (hash-derived salt, not rand()) makes task retries "
    "converge.",
    tags=("join", "skew", "agg"),
)
def salted_hot_key_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.skew import salted_join

    ev = _t(spark, sf_dir, "events")["events"]
    dim = ev.select("event_type").distinct().select(
        "event_type",
        F.length("event_type").cast("int").alias("type_len"),
    )
    joined = salted_join(
        ev.select("event_id", "event_type"),
        dim,
        key="event_type",
        n_salts=8,
        salt_from="event_id",
    )
    return joined.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.max("type_len").cast("int").alias("type_len"),
    )


@CATALOG.add(
    "salted_user_event_lists",
    """
    SELECT user_id,
           CAST(COUNT(*) AS BIGINT) AS n_values,
           md5(array_to_string(list(event_id ORDER BY event_id), ','))
               AS values_hash
    FROM events
    GROUP BY user_id
    """,
    doc="Two-stage salted collect_list "
    "(operators/skew.salted_collect_list) driver-checked: collect_list "
    "has NO map-side partial aggregation, so a hot key funnels every "
    "row through one reducer — the salted form collects per (key, "
    "salt) partials and flattens ≤8 partial lists per key. The emitted "
    "md5 of the sorted id list must equal the oracle's straight "
    "ordered aggregation: any row lost, duplicated, or mis-salted "
    "changes the hash. Sorting the merged list is what makes the "
    "result independent of salt count, partitioning, and collect "
    "order — the determinism contract that lets the same query run "
    "salted at 100 TB and unsalted in a unit test.",
    tags=("agg", "skew"),
)
def salted_user_event_lists(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from ..operators.skew import salted_collect_list

    ev = _t(spark, sf_dir, "events")["events"]
    lists = salted_collect_list(
        ev.select("user_id", "event_id"),
        key="user_id",
        value="event_id",
        n_salts=8,
        salt_from="event_id",
    )
    return lists.select(
        "user_id",
        F.size("values").cast("bigint").alias("n_values"),
        F.md5(
            F.array_join(
                F.transform("values", lambda x: x.cast("string")), ","
            )
        ).alias("values_hash"),
    )


# --------------------------------------------------------------------------
# Exact-integer 3-sigma outlier detection (anomaly gate)
# --------------------------------------------------------------------------


@CATALOG.add(
    "value_outliers_exact",
    """
    WITH c AS (
        SELECT event_id, event_type, value,
               CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS vc
        FROM events
    ),
    g AS (
        SELECT *, CAST(COUNT(vc) OVER w AS HUGEINT) AS n,
               SUM(CAST(vc AS HUGEINT)) OVER w AS s,
               SUM(CAST(vc AS HUGEINT) * vc) OVER w AS s2
        FROM c WINDOW w AS (PARTITION BY event_type)
    )
    SELECT event_id, event_type, value
    FROM g
    WHERE (CAST(vc AS HUGEINT) * n - s) * (CAST(vc AS HUGEINT) * n - s)
              > 9 * (n * s2 - s * s)
    """,
    doc="Per-group 3-sigma outlier detection in EXACT integer algebra: "
    "the z-score test |v-mean| > 3*stddev cross-multiplies to "
    "(v_c*n - S)^2 > 9*(n*S2 - S^2) over cent-scaled integer value "
    "sums — no mean division, no sqrt, no float accumulation, so the "
    "flagged set is bit-identical on any engine and any partitioning. "
    "Every moment and cross-product is carried in DECIMAL(38,0) "
    "(Spark) / HUGEINT (oracle) from the FIRST multiplication — "
    "BIGINT only holds the cent-scaled raw value, never a sum or "
    "product (ADVICE r05: s*s and n*s2 overflow BIGINT at ~1e9 rows "
    "of ~$1000 values; casting only the result wraps silently). "
    "Exact bound: 9*(n*s2 - s*s) must clear decimal(38,0)/int128, "
    "and var_n2 <= (n*max|v_cents|)^2, so the algebra is exact "
    "while n * max|v_cents| < ~3.3e18 per group — e.g. ~3e13 "
    "rows of $1,000 values or ~3e11 rows of $100k values, still "
    "orders past any single-group size this engine targets "
    "(review r06 corrected an earlier 1e19 claim that the 9x "
    "multiply actually exceeds). Past the bound both engines "
    "fail LOUDLY (ANSI decimal overflow / INT128 OutOfRange), "
    "never silently. This is the "
    "anomaly gate a pipeline runs per ingest partition before "
    "accepting it — population sigma per event_type, each row "
    "charged against its own group. Plan: ONE shuffle on event_type "
    "computes the three moment sums as an unordered window (no sort "
    "frame), then the flag is a per-row predicate over the same "
    "pass; at 100 TB the moments come from a pre-aggregated "
    "(group, n, S, S2) statistics table instead — mergeable across "
    "partitions like every sketch here, with this same final "
    "predicate.",
    tags=("agg", "window", "profiling"),
)
def value_outliers_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")["events"]
    w = W.partitionBy("event_type")
    vc = (
        F.col("value").cast("decimal(18,2)") * 100
    ).cast("bigint")
    # Moments accumulate in decimal(38,0) from the first operation —
    # BIGINT holds only the raw cent value. All three moments in ONE
    # projection so Catalyst folds them into a single Window operator
    # (chained withColumn over a derived column splits the window
    # into two nodes).
    vc38 = vc.cast("decimal(38,0)")
    g = ev.select("event_id", "event_type", "value").select(
        "event_id",
        "event_type",
        "value",
        vc38.alias("vc"),
        # COUNT(vc), not COUNT(*): value is nullable, and a
        # null-skipping sum paired with an all-rows count would
        # compute variance with an inconsistent n on BOTH engines —
        # invisible to the oracle check (review r06)
        F.count(vc38).over(w).cast("decimal(38,0)").alias("n"),
        F.sum(vc38).over(w).alias("s"),
        F.sum(vc38 * vc38).over(w).alias("s2"),
    )
    dev = F.col("vc") * F.col("n") - F.col("s")
    var_n2 = F.col("n") * F.col("s2") - F.col("s") * F.col("s")
    return g.filter(dev * dev > var_n2 * 9).select(
        "event_id", "event_type", "value"
    )
