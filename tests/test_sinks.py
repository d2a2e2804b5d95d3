"""Sink tests (S7-S12): partition derivation, idempotent append, upsert."""

from __future__ import annotations

import os

from pyspark.sql import Row, functions as F

from aws_weather_data_pipeline_spark.sinks.writers import (
    TIME_PARTITIONS,
    idempotent_append,
    overwrite_partitions,
    with_time_partitions,
    write_partitioned,
)


def _frame(spark, n=6, day=15):
    rows = [
        Row(
            station_id=f"WS{i:03d}",
            reading_date=f"2024-01-{day:02d}",
            timestamp_parsed=f"2024-01-{day:02d} {10 + i % 3}:00:00",
            value=float(i),
        )
        for i in range(n)
    ]
    return spark.createDataFrame(rows).withColumn(
        "timestamp_parsed", F.to_timestamp("timestamp_parsed")
    )


def test_write_partitioned_derives_hive_layout(spark, tmp_path):
    # S7: the reference partitions by year/month/day/hour without ever
    # deriving them; write_partitioned must create the hive dirs.
    out = str(tmp_path / "lake")
    write_partitioned(_frame(spark), out)
    assert os.path.isdir(os.path.join(out, "year=2024", "month=01", "day=15"))
    hours = sorted(
        os.listdir(os.path.join(out, "year=2024", "month=01", "day=15"))
    )
    assert hours == ["hour=10", "hour=11", "hour=12"]
    # Partition pruning: an hour filter must read only that partition.
    back = spark.read.parquet(out).filter(
        (F.col("hour") == "10") & (F.col("day") == "15")
    )
    assert back.count() == 2


def test_with_time_partitions_zero_pads(spark):
    df = with_time_partitions(
        spark.createDataFrame(
            [Row(ts="2024-03-05 07:09:00")]
        ).withColumn("ts", F.to_timestamp("ts")),
        "ts",
    )
    r = df.first()
    assert (r["year"], r["month"], r["day"], r["hour"]) == (
        "2024",
        "03",
        "05",
        "07",
    )


def test_idempotent_append_is_noop_on_replay(spark, tmp_path):
    # S11: ON CONFLICT DO NOTHING semantics — replaying the same batch
    # (the Airflow retry case) must append zero rows.
    out = str(tmp_path / "serving")
    df = _frame(spark)
    keys = ["station_id", "timestamp_parsed"]
    assert idempotent_append(spark, df, out, keys) == 6
    assert idempotent_append(spark, df, out, keys) == 0
    assert spark.read.parquet(out).count() == 6


def test_idempotent_append_partition_scoped(spark, tmp_path):
    # Loads of two dates into one table: conflicts only within a date.
    out = str(tmp_path / "serving")
    keys = ["station_id", "timestamp_parsed"]
    day1, day2 = _frame(spark, day=15), _frame(spark, day=16)
    assert idempotent_append(spark, day1, out, keys) == 6
    # Day-2 rows share station_ids but not timestamps — all append.
    assert idempotent_append(spark, day2, out, keys) == 6
    # Replay day 2 with overlap plus one new row.
    day2_plus = day2.unionByName(
        _frame(spark, n=7, day=16).filter("station_id = 'WS006'")
    )
    assert idempotent_append(spark, day2_plus, out, keys) == 1
    assert spark.read.parquet(out).count() == 13


def test_idempotent_append_dedups_within_batch(spark, tmp_path):
    out = str(tmp_path / "serving")
    df = _frame(spark)
    doubled = df.unionByName(df)
    n = idempotent_append(
        spark, doubled, out, ["station_id", "timestamp_parsed"]
    )
    assert n == 6  # A1 dedup inside the batch before the anti-join


def test_upsert_summary_overwrites_only_target_partitions(spark, tmp_path):
    # S12: ON CONFLICT DO UPDATE == dynamic partition overwrite.
    out = str(tmp_path / "summary")
    v1 = spark.createDataFrame(
        [
            Row(city="Mumbai", summary_date="2024-01-15", avg_t=30.0),
            Row(city="Delhi", summary_date="2024-01-16", avg_t=20.0),
        ]
    )
    overwrite_partitions(v1, out, "summary_date")
    # Recompute day 16 with a corrected value; day 15 must survive.
    v2 = spark.createDataFrame(
        [Row(city="Delhi", summary_date="2024-01-16", avg_t=21.5)]
    )
    overwrite_partitions(v2, out, "summary_date")
    # Partition-column type inference reads the date partition back as
    # DateType; stringify for comparison.
    got = {
        (r["city"], str(r["summary_date"])): r["avg_t"]
        for r in spark.read.parquet(out).collect()
    }
    assert got == {
        ("Mumbai", "2024-01-15"): 30.0,
        ("Delhi", "2024-01-16"): 21.5,
    }


def test_idempotent_append_replay_safe_with_null_scope(
    spark, tmp_path
):
    """A replayed batch whose non-key column is NULL appends nothing:
    conflict detection reads every existing key, whatever its row's
    other values."""
    path = str(tmp_path / "serving")
    batch = spark.createDataFrame(
        [(1, None), (2, "2024-01-01")],
        "k LONG, scope STRING",
    )
    n1 = idempotent_append(spark, batch, path, keys=["k"])
    assert n1 == 2
    # replay the identical batch: nothing may append, including the
    # null-scope row
    n2 = idempotent_append(spark, batch, path, keys=["k"])
    assert n2 == 0
    assert spark.read.parquet(path).count() == 2


def test_idempotent_append_null_key_rows_stay_idempotent(
    spark, tmp_path
):
    """Review r11: a NULL key field under plain join equality never
    matches the identical existing row, so every replay re-appended
    it. The null-safe key join makes the anti-join agree with
    dropDuplicates' null-as-equal semantics."""
    from pyspark.sql import functions as F

    out = str(tmp_path / "serving")
    keys = ["station_id", "timestamp_parsed"]
    df = _frame(spark).withColumn(
        "timestamp_parsed",
        F.when(F.col("station_id") == "WS001", None).otherwise(
            F.col("timestamp_parsed")
        ),
    )
    assert idempotent_append(spark, df, out, keys) == 6
    # replay: the null-key row must be recognized as already present
    assert idempotent_append(spark, df, out, keys) == 0
    assert spark.read.parquet(out).count() == 6


def test_idempotent_append_tolerates_preprovisioned_empty_dir(
    spark, tmp_path
):
    """Review r11: an existing-but-EMPTY serving directory (infra
    mkdir -p) is the same first-load state as an absent one — the
    guard must bootstrap, not crash on UNABLE_TO_INFER_SCHEMA."""
    out = tmp_path / "serving"
    out.mkdir()
    keys = ["station_id", "timestamp_parsed"]
    assert idempotent_append(spark, _frame(spark), str(out), keys) == 6
    assert spark.read.parquet(str(out)).count() == 6


def test_concurrent_dynamic_overwrites_do_not_interfere(
    spark, tmp_path
):
    """Review r11: dynamic partition overwrite is now a per-WRITE
    option, not a session-conf toggle — two threads overwriting
    different partitions of different tables concurrently must each
    replace only their own partitions (the session-global toggle let
    one thread's restore flip the other's write to STATIC mode,
    deleting every partition of its table)."""
    from concurrent.futures import ThreadPoolExecutor

    paths = [str(tmp_path / f"t{i}") for i in range(2)]
    # seed both tables with an hour-10 partition
    for p in paths:
        write_partitioned(_frame(spark), p)
    before = [spark.read.parquet(p).count() for p in paths]

    def overwrite_other_hour(p):
        from pyspark.sql import functions as F

        df = _frame(spark).withColumn(
            "timestamp_parsed",
            F.col("timestamp_parsed") + F.expr("INTERVAL 3 HOURS"),
        )
        overwrite_partitions(
            with_time_partitions(df, "timestamp_parsed"), p, *TIME_PARTITIONS
        )

    with ThreadPoolExecutor(max_workers=2) as pool:
        list(pool.map(overwrite_other_hour, paths))
    for p, n in zip(paths, before):
        # the seed partition must survive: static mode would drop it
        assert spark.read.parquet(p).count() == n + 6
