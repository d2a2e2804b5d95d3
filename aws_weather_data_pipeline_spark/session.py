"""SparkSession factory.

One place to encode the scale-aware defaults:

- AQE on (runtime re-plan, skew-join splitting, partition coalescing) —
  at the 100 TB design point this is what turns a statically-wrong
  shuffle-partition count into a runtime-right one.
- ``spark.sql.session.timeZone=UTC`` — the DuckDB oracle compares
  naive timestamps; Spark must not shift them through a local zone.
- Arrow enabled — every pandas_udf / applyInPandas path is Arrow-batched.
- shuffle partitions default to the local core count, not 200; on a real
  cluster the caller passes ``shuffle_partitions`` sized to
  ~2-3× total executor cores (AQE coalesces the rest).
"""

from __future__ import annotations

import os
from collections.abc import Callable, Iterator
from contextlib import contextmanager
from typing import Any

import pyspark
from pyspark.sql import DataFrame, SparkSession

_DEF_SHUFFLE = max(4, os.cpu_count() or 4)


def get_spark(
    app_name: str = "aws_weather_data_pipeline_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) the configured SparkSession.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]`` (env, else all
    cores) so tests, bench, and the driver harness share one code path;
    on a cluster, pass ``master=None`` with a spark-submit-provided
    master and these configs still apply.
    """
    if master is None:
        cpus = os.environ.get("SPARK_GRAFT_CPUS", "*")
        master = f"local[{cpus}]"
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config(
            "spark.sql.shuffle.partitions",
            str(shuffle_partitions or _DEF_SHUFFLE),
        )
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.parquet.filterPushdown", "true")
        # NOT set: spark.sql.parquet.aggregatePushdown — it only
        # applies on the DataSource V2 path, and parquet sits in the
        # default spark.sql.sources.useV1SourceList, so the flag was a
        # silent no-op (review r11, verified: the executed plan shows
        # a plain FileScan with no PushedAggregation). Flipping
        # parquet to V2 session-wide is a bigger behavioral change
        # than a footer-count is worth; the table log's manifest
        # stats (sinks/tablelog.py snapshot_row_count/column_minmax)
        # are this engine's real metadata fast path. (Bloom-filter
        # runtime join pruning is already on by default in Spark 4.)
        # Reliable RDD/DataFrame checkpoints are cleaned when their
        # frames are GC'd (review r11: connected_components takes one
        # every few rounds; the Spark default leaks them to disk
        # forever in a long-lived maintenance session).
        .config("spark.cleaner.referenceTracking.cleanCheckpoints",
                "true")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "8g"))
    )
    if extra_conf:
        for k, v in extra_conf.items():
            builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


@contextmanager
def cached(df: DataFrame) -> Iterator[DataFrame]:
    """Persist ``df`` for the body of a ``with`` block and unpersist it
    on every exit, normal or exceptional.

    The cache fills lazily, on the first action over it. A body that
    needs it filled before several branches read it calls ``count()``
    itself, so every Spark job stays visible at the call site.
    """
    df.persist()
    try:
        yield df
    finally:
        df.unpersist()


def detach(df: DataFrame) -> DataFrame:
    """Evaluate ``df`` now and cut its lineage (``localCheckpoint``), so
    the caches it was computed from can be released before it is
    read."""
    return df.localCheckpoint(eager=True)


def concurrently(*calls: Callable[[], Any]) -> list:
    """Run each zero-argument call on its own thread and return their
    results in call order.

    Each thread inherits the caller's Spark local properties (job
    group, description, scheduler pool) and tags, so its jobs are
    counted and cancelled with the caller's. Every call runs to its
    end before anything is returned or raised: a failure re-raises the
    first exception in call order only after all calls have returned,
    so no job outlives a ``cached`` block around the call.
    """
    session = SparkSession.active()
    results: list = [None] * len(calls)
    errors: list[BaseException | None] = [None] * len(calls)

    def run(i: int, call: Callable[[], Any]) -> None:
        try:
            results[i] = call()
        except BaseException as exc:  # re-raised below, in call order
            errors[i] = exc

    threads = [
        pyspark.InheritableThread(run, args=(i, call), session=session)
        for i, call in enumerate(calls)
    ]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    for exc in errors:
        if exc is not None:
            raise exc
    return results
