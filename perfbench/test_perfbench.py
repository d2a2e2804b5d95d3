"""Tests of the benchmark's own arithmetic and failure accounting.

    python3 -m pytest perfbench -q

The pure tests need no Spark. The two ``spark`` tests start a small
local session and show that a wrong query result, or a micro-batch that
never reached the lake, is counted as a failed operation.
"""

from __future__ import annotations

import json
import os
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [HERE, ROOT]

import datagen  # noqa: E402
import pipeline  # noqa: E402
from spans import Span, attribute_jobs, interval_union, percentile, spark_totals  # noqa: E402


# -- percentiles and their sample counts ------------------------------------

def test_percentile_interpolates_between_ranks():
    xs = list(range(1, 11))  # 10 samples
    assert percentile(xs, 50) == 5.5
    assert percentile(xs, 90) == pytest.approx(9.1)
    assert percentile(xs, 0) == 1 and percentile(xs, 100) == 10


def test_percentile_small_samples():
    assert percentile([3.0], 90) == 3.0
    assert percentile([2.0, 1.0], 50) == 1.5  # order of input is irrelevant
    with pytest.raises(ValueError):
        percentile([], 50)


# -- job-interval union ------------------------------------------------------

def test_interval_union_merges_overlaps_and_clips():
    assert interval_union([], 0, 10) == 0
    assert interval_union([(1, 3), (2, 5), (7, 8)], 0, 10) == 5
    assert interval_union([(-5, 2), (9, 20)], 0, 10) == 3  # clipped to the window
    assert interval_union([(1, 2), (1, 2)], 0, 10) == 1  # duplicates count once
    assert interval_union([(11, 12)], 0, 10) == 0


def test_outside_jobs_is_wall_minus_job_union():
    s = Span("plans.build", "q", start=0.0, end=10.0)
    s.job_intervals = [(1, 4), (3, 6), (8, 9)]
    assert s.outside_jobs_s == 10 - 6


def test_attribute_jobs_by_group_and_window():
    jobs = [
        {"id": 1, "group": "perfbench-1-a", "start": 0.5},
        {"id": 2, "group": "perfbench-2-b", "start": 1.5},  # another span's
        {"id": 3, "group": "stream-run-id", "start": 1.6},  # stream thread
        {"id": 4, "group": None, "start": 9.0},  # outside the window
    ]
    got = attribute_jobs(jobs, "perfbench-1-a", 1.0, 2.0)
    assert [j["id"] for j in got] == [1, 3]


def test_spark_totals_sums_counts_and_maxes_peaks():
    recs = [
        {"jobs": 2, "outside_jobs_s": 0.5, "stages": 3, "tasks": 8,
         "input_bytes": 1 << 20, "shuffle_read_bytes": 0, "shuffle_write_bytes": 0,
         "peak_task_input": 1 << 20, "peak_task_shuffle_read": 0,
         "executor_run_s": 1.0, "executor_cpu_s": 0.5, "spill_bytes": 0},
        {"jobs": 1, "outside_jobs_s": 0.25, "stages": 1, "tasks": 4,
         "input_bytes": 1 << 21, "shuffle_read_bytes": 0, "shuffle_write_bytes": 0,
         "peak_task_input": 1 << 19, "peak_task_shuffle_read": 0,
         "executor_run_s": 2.0, "executor_cpu_s": 1.0, "spill_bytes": 0},
    ]
    t = spark_totals(recs)
    assert t["spark.jobs"] == 3 and t["spark.stages"] == 4 and t["spark.tasks"] == 12
    assert t["spark.input_mb"] == 3 and t["spark.peak_task_input_mb"] == 1
    assert t["spark.outside_jobs_s"] == 0.75 and t["spark.executor_run_s"] == 3.0


# -- file to micro-batch mapping --------------------------------------------

def _write_source_log(cp, batch_id, names, compact=False):
    d = os.path.join(cp, "sources", "0")
    os.makedirs(d, exist_ok=True)
    fname = f"{batch_id}.compact" if compact else str(batch_id)
    with open(os.path.join(d, fname), "w") as fh:
        fh.write("v1\n")
        for b, n in names:
            fh.write(json.dumps({"path": f"file:///x/landing/{n}",
                                 "timestamp": 1, "batchId": b}) + "\n")


def test_file_batches_reads_plain_and_compacted_logs(tmp_path):
    cp = str(tmp_path)
    _write_source_log(cp, 9, [(b, f"f{b}.json") for b in range(10)], compact=True)
    _write_source_log(cp, 10, [(10, "f10.json"), (10, "f11.json")])
    fb = pipeline.file_batches(cp)
    assert fb["f0.json"] == 0 and fb["f9.json"] == 9
    assert fb["f10.json"] == fb["f11.json"] == 10


def test_latency_is_batch_end_minus_due_time():
    progress = [
        {"batchId": 4, "timestamp": "2026-01-01T00:00:10.000Z",
         "numInputRows": 2, "durationMs": {"triggerExecution": 500}},
        {"batchId": 5, "timestamp": "2026-01-01T00:00:11.000Z",
         "numInputRows": 0, "durationMs": {"triggerExecution": 3}},
    ]
    ends = pipeline.batch_ends(progress)
    assert list(ends) == [4]  # no-data progress is not a batch end
    base = ends[4] - 10.5
    due = {"a": base + 9.0, "b": base + 10.0, "lost": base + 10.2}
    lat = pipeline.ingest_latencies(due, {"a": 4, "b": 4}, ends)
    assert lat == pytest.approx({"a": 1.5, "b": 0.5})  # "lost" has no batch


def test_backlog_and_short_batches():
    assert pipeline.backlog_max([1, 2, 3], [1.5, 2.5, 3.5]) == 1
    assert pipeline.backlog_max([1, 2, 3], [4, 4, 4]) == 3
    fb = {"a": 0, "b": 0, "c": 1}
    readings = {"a": 10, "b": 5, "c": 7}
    assert pipeline.short_batches({0: 15, 1: 7}, fb, readings) == 0
    assert pipeline.short_batches({0: 15}, fb, readings) == 1  # batch 1 lost


def test_generator_is_seeded_and_counts_valid_keys():
    a, b = datagen.WeatherGenerator(7, 50), datagen.WeatherGenerator(7, 50)
    assert a.envelope() == b.envelope()
    env = a.envelope()
    assert len(env["readings"]) == 50 and a.n_generated == 100
    assert all(set(r) == {f.name for f in _reading_fields()} for r in env["readings"])
    assert 0 < len(a.valid_keys) <= a.n_generated


def _reading_fields():
    from aws_weather_data_pipeline_spark.schemas import WEATHER_READING_SCHEMA

    return WEATHER_READING_SCHEMA.fields


# -- failures are counted (Spark) -------------------------------------------

@pytest.fixture(scope="module")
def spark():
    from aws_weather_data_pipeline_spark.session import get_spark

    os.environ["TZ"] = "UTC"
    s = get_spark(app_name="perfbench-tests", master="local[2]",
                  shuffle_partitions=2,
                  extra_conf={"spark.driver.memory": "1g"})
    yield s
    s.stop()


def test_wrong_query_result_counts_as_failed(spark, tmp_path):
    import catalog as workload
    from aws_weather_data_pipeline_spark.plans.catalog import build_catalog
    from spans import Tracer

    sf_dir = str(tmp_path / "tables")
    datagen.write_catalog_tables(sf_dir, seed=3, sf=0.001)
    cat = build_catalog()
    names = {"scan": ["pricing_summary", "nations_sorted"]}
    ok = workload.run(spark, Tracer(spark, False), sf_dir, names, 0, cat)
    assert ok["failed"] == 0 and ok["attempted"] == 4

    right = cat.queries["nations_sorted"].builder
    cat.queries["nations_sorted"].builder = lambda s, d: right(s, d).limit(3)
    bad = workload.run(spark, Tracer(spark, False), sf_dir, names, 0, cat)
    assert bad["failed"] == 1 and bad["attempted"] == 4


def test_lost_micro_batch_counts_as_failed(spark, tmp_path, monkeypatch):
    from spans import Tracer

    cfg = {"readings_per_file": 20, "files_per_s": 4, "trigger": "500 milliseconds",
           "warm_files": 1}
    ok = pipeline.run(spark, Tracer(spark, False), str(tmp_path / "ok"), 5, 1.0, cfg)
    assert ok["failed"] == 0 and ok["attempted"] == 4 + 5

    real = pipeline.stream.write_both_sinks

    def drop_second_batch(batch_df, *a, epoch_id=0, **kw):
        if epoch_id != 1:
            real(batch_df, *a, epoch_id=epoch_id, **kw)

    monkeypatch.setattr(pipeline.stream, "write_both_sinks", drop_second_batch)
    bad = pipeline.run(spark, Tracer(spark, False), str(tmp_path / "bad"), 5, 1.0, cfg)
    assert bad["failed"] > 0
