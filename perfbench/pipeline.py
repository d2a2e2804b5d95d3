"""The ``weather_pipeline`` workload: the paper's own ingest path.

An open-loop generator on the calling thread lands seeded envelopes in
a landing directory on a fixed schedule; ``streaming.pipeline``
drains them into the lake and alerts sinks under a processing-time
trigger; then ``runner.run`` and ``runner.report`` load the landed day.
Ingest latency runs from each file's due time to the end of the
micro-batch that committed it to both sinks.
"""

from __future__ import annotations

import bisect
import datetime as dt
import glob
import json
import os
import time

from aws_weather_data_pipeline_spark import runner
from aws_weather_data_pipeline_spark.functions.weather import apply_transformations
from aws_weather_data_pipeline_spark.sources import readers
from aws_weather_data_pipeline_spark.streaming import pipeline as stream

from datagen import WeatherGenerator, land_atomically
from spans import percentile, spark_totals

#: The runner functions ``runner.run`` calls, each traced as its own span.
RUNNER_STEPS = ("check_prerequisites", "load", "validate", "report")

#: Micro-batch phases read from ``recentProgress`` ``durationMs``.
PHASES = ("addBatch", "walCommit", "commitOffsets", "latestOffset",
          "queryPlanning", "getBatch", "triggerExecution")


#: Golden-ratio fraction: the arrival offsets inside successive slots
#: never repeat and cover the slot evenly.
_PHI = (5 ** 0.5 - 1) / 2


def schedule(n_files: int, rate: float) -> list[float]:
    """Due times (seconds from the start) of an open-loop schedule at
    ``rate`` files per second: one file per 1/rate slot, placed inside
    its slot by a low-discrepancy sequence, so the files sample every
    phase of the trigger interval evenly in every run."""
    return [(i + (i * _PHI) % 1.0) / rate for i in range(n_files)]


def _seconds(interval: str) -> float:
    """``"2 seconds"`` / ``"500 milliseconds"`` → seconds."""
    n, unit = interval.split()
    return float(n) / (1000 if unit.startswith("milli") else 1)


def file_batches(checkpoint_dir: str) -> dict[str, int]:
    """Map each landed file's basename to the micro-batch that read it,
    from the file source's metadata log in the checkpoint
    (``sources/0/<batchId>`` and its ``.compact`` roll-ups)."""
    out: dict[str, int] = {}
    for path in glob.glob(os.path.join(checkpoint_dir, "sources", "0", "*")):
        if os.path.basename(path).startswith("."):
            continue
        with open(path) as fh:
            for line in fh:
                line = line.strip()
                if line.startswith("{"):
                    entry = json.loads(line)
                    out[os.path.basename(entry["path"])] = entry["batchId"]
    return out


def _epoch_s(iso: str) -> float:
    return dt.datetime.fromisoformat(iso.replace("Z", "+00:00")).timestamp()


def batch_ends(progress: list[dict]) -> dict[int, float]:
    """End time (epoch seconds) of each micro-batch that read data."""
    return {
        p["batchId"]: _epoch_s(p["timestamp"])
        + p["durationMs"]["triggerExecution"] / 1000
        for p in progress
        if p.get("numInputRows", 0) > 0
    }


def ingest_latencies(due: dict[str, float], fb: dict[str, int],
                     ends: dict[int, float]) -> dict[str, float]:
    """Due-to-commit latency of every file whose batch is known."""
    return {
        f: ends[fb[f]] - t for f, t in due.items()
        if f in fb and fb[f] in ends
    }


def short_batches(lake_rows_per_batch: dict[int, int], fb: dict[str, int],
                  readings: dict[str, int]) -> int:
    """Micro-batches whose lake rows differ from the readings in the
    files they read (a batch that never reached the lake has none)."""
    expected: dict[int, int] = {}
    for f, b in fb.items():
        expected[b] = expected.get(b, 0) + readings[f]
    return sum(lake_rows_per_batch.get(b, 0) != n for b, n in expected.items())


def backlog_max(landed: list[float], committed: list[float]) -> int:
    """Largest number of landed-but-uncommitted files seen at any landing."""
    committed = sorted(committed)
    worst = 0
    for i, t in enumerate(sorted(landed)):
        done = bisect.bisect_right(committed, t)
        worst = max(worst, i + 1 - done)
    return worst


def run(spark, tracer, work: str, seed: int, seconds: float, cfg: dict) -> dict:
    d = {k: os.path.join(work, k) for k in (
        "landing", "staging", "lake", "alerts", "checkpoint",
        "daily_lake", "serving", "summary")}
    for k in ("landing", "staging"):
        os.makedirs(d[k])
    gen = WeatherGenerator(seed, cfg["readings_per_file"])
    readings: dict[str, int] = {}

    def land(i: int) -> str:
        name = f"batch-{i:05d}.json"
        env = gen.envelope()
        readings[name] = len(env["readings"])
        land_atomically(d["landing"], d["staging"], name, env)
        return name

    query = stream.start_pipeline(
        spark, d["landing"], d["lake"], d["alerts"], d["checkpoint"],
        trigger={"processingTime": cfg["trigger"]},
    )
    try:
        # Warm batches: JIT and first-use costs land here, not in the
        # latency samples; the schedule starts after the last one.
        n_warm = cfg["warm_files"]
        for w in range(n_warm):
            land(w)
            _wait_batches(query, d["checkpoint"], w + 1, timeout=120)
        rate = cfg["files_per_s"]
        n_files = int(seconds * rate)
        offsets = schedule(n_files, rate)
        trigger_s = _seconds(cfg["trigger"])
        due: dict[str, float] = {}
        landed_at: dict[str, float] = {}
        with tracer.span("streaming.run", "open-loop ingest"):
            # The processing-time trigger fires on multiples of its
            # interval since the epoch; starting on that grid makes the
            # files' phases against the trigger the same in every run.
            t0 = (time.time() // trigger_s + 1) * trigger_s
            for i, off in enumerate(offsets):
                target = t0 + off
                wait = target - time.time()
                if wait > 0:
                    time.sleep(wait)
                name = land(n_warm + i)
                landed_at[name] = time.time()
                due[name] = target
            _wait_batches(query, d["checkpoint"], n_warm + n_files, timeout=120)
        progress = [json.loads(p.json) for p in query.recentProgress]
    finally:
        query.stop()

    fb = file_batches(d["checkpoint"])
    ends = batch_ends(progress)
    lat = ingest_latencies(due, fb, ends)
    first = min((fb[f] for f in due if f in fb), default=0)
    measured = [p for p in progress
                if p.get("numInputRows", 0) > 0 and p["batchId"] >= first]

    # The daily batch over the landed day.
    now = gen.last_event_time() + dt.timedelta(hours=1)
    paths = runner.PipelinePaths(d["landing"], d["daily_lake"], d["serving"],
                                 d["summary"])
    t_daily = time.perf_counter()
    with _traced_module(tracer, runner, RUNNER_STEPS):
        result = runner.run(spark, paths, now=now)
        report = runner.report(spark, paths)
    daily_s = time.perf_counter() - t_daily

    if tracer.enabled:
        with tracer.span("sources.read_raw_json", "count landed readings"):
            readers.read_raw_json(spark, d["landing"]).count()
    checks, detail = _checks(spark, d, gen, readings, fb, result, report, paths)
    unmatched = sorted(f for f in due if f not in lat)
    lateness = [landed_at[f] - due[f] for f in due]
    layers = {}
    if tracer.enabled:
        layers = _layers(tracer, measured, due, landed_at, fb, ends, d)
        layers["gen.late_s_max"] = max(lateness)
    return {
        "latencies": sorted(lat.values()),
        "throughput": gen.n_generated / daily_s,
        # one operation per landed file, plus one per output check
        "attempted": len(due) + len(checks),
        "failed": len(unmatched) + detail["batches_short"]
        + sum(not ok for ok in checks.values()),
        "layers": layers,
        "record": {
            "files": len(due), "warm_files": n_warm,
            "readings": gen.n_generated, "valid_keys": len(gen.valid_keys),
            "daily_run_s": daily_s, "gen_late_s_max": max(lateness),
            "checks": checks, **detail, "unmatched_files": unmatched,
            "batches": [(p["batchId"], p["numInputRows"],
                         p["durationMs"].get("addBatch"),
                         p["durationMs"]["triggerExecution"]) for p in measured],
        },
    }


def _wait_batches(query, checkpoint_dir: str, n_files: int, timeout: float) -> None:
    """Block until ``n_files`` landed files sit in committed micro-batches.

    Counted from the checkpoint (the source log and ``commits/``), not
    from ``numInputRows``: a batch that never wrote its sinks reports no
    input rows, and must not stall the run."""
    commits = os.path.join(checkpoint_dir, "commits")
    deadline = time.time() + timeout
    while time.time() < deadline:
        if query.exception() is not None:
            raise query.exception()
        done = set(os.listdir(commits)) if os.path.isdir(commits) else set()
        mine = [b for b in file_batches(checkpoint_dir).values() if str(b) in done]
        # the progress event of a batch is posted just after its commit
        reported = max((p.batchId for p in query.recentProgress), default=-1)
        if len(mine) >= n_files and reported >= max(mine):
            return
        time.sleep(0.05)
    raise TimeoutError(f"stream committed fewer than {n_files} files in {timeout}s")


class _traced_module:
    """Wrap public functions of ``module`` in tracer spans while active,
    so a call to ``runner.run`` is split into its steps from outside."""

    def __init__(self, tracer, module, names) -> None:
        self.tracer, self.module, self.names = tracer, module, names
        self.saved = {}

    def __enter__(self):
        if not self.tracer.enabled:
            return self
        for n in self.names:
            fn = getattr(self.module, n)
            self.saved[n] = fn
            layer = f"{self.module.__name__.rsplit('.', 1)[-1]}.{n}"

            def wrapped(*a, _fn=fn, _layer=layer, **kw):
                with self.tracer.span(_layer, _fn.__name__):
                    return _fn(*a, **kw)

            setattr(self.module, n, wrapped)
        return self

    def __exit__(self, *exc):
        for n, fn in self.saved.items():
            setattr(self.module, n, fn)


def _checks(spark, d, gen, readings, fb, result, report, paths):
    """Output checks, outside every timed region."""
    from pyspark.sql import functions as F

    lake = spark.read.parquet(d["lake"])
    per_epoch = {
        int(r["epoch_id"].rsplit("-", 1)[1]): r["n"]
        for r in lake.groupBy("epoch_id").agg(F.count(F.lit(1)).alias("n")).collect()
    }
    batches_short = short_batches(per_epoch, fb, readings)
    lake_rows = sum(per_epoch.values())
    alerts_rows = spark.read.parquet(d["alerts"]).count()
    batch_alerts = stream.alerts_view(
        apply_transformations(readers.read_raw_json(spark, d["landing"]))
    ).count()
    serving_before = spark.read.parquet(d["serving"]).count()
    runner.load(spark, paths)
    serving_after = spark.read.parquet(d["serving"]).count()
    checks = {
        "lake_rows_eq_generated": lake_rows == gen.n_generated,
        "alerts_eq_batch_path": alerts_rows == batch_alerts,
        "reload_adds_no_serving_rows": serving_after == serving_before,
        "serving_eq_valid_keys": serving_before == len(gen.valid_keys),
        "validate_ok": result.ok and "DAILY WEATHER SUMMARY" in report,
    }
    return checks, {
        "batches_short": batches_short, "lake_rows": lake_rows,
        "alerts_rows": alerts_rows, "batch_path_alerts": batch_alerts,
        "serving_rows": serving_before,
    }


def _dir_stats(path: str) -> tuple[int, float]:
    files = [os.path.join(r, f) for r, _, fs in os.walk(path) for f in fs
             if f.endswith(".parquet")]
    return len(files), sum(os.path.getsize(f) for f in files) / (1 << 20)


def _layers(tracer, measured, due, landed_at, fb, ends, d) -> dict:
    out: dict[str, float] = {}
    for ph in PHASES:
        out[f"streaming.{ph}_ms_p50"] = percentile(
            [p["durationMs"].get(ph, 0) for p in measured], 50)
    out["op.write_ms_p50"] = out["streaming.addBatch_ms_p50"]
    out["op.build_ms_p50"] = percentile(
        [p["durationMs"]["triggerExecution"] - p["durationMs"].get("addBatch", 0)
         for p in measured], 50)
    out["streaming.batches"] = len(measured)
    out["streaming.backlog_files_max"] = backlog_max(
        list(landed_at.values()),
        [ends[fb[f]] for f in due if f in fb and fb[f] in ends],
    )
    for sink in ("lake", "alerts", "daily_lake", "serving", "summary"):
        n, mb = _dir_stats(d[sink])
        out[f"sinks.{sink}_files"] = n
        out[f"sinks.{sink}_mb"] = mb
    src = tracer.layer_spans("sources.read_raw_json")[0]
    out["sources.s"] = src.wall_s
    out["sources.jobs"] = src.jobs
    for step in RUNNER_STEPS:
        sp = tracer.layer_spans(f"runner.{step}")[0]
        out[f"runner.{step}_s"] = sp.wall_s
        out[f"runner.{step}_jobs"] = sp.jobs
    # Spark totals over the measured ingest and the daily run.
    work = tracer.layer_spans("streaming.run") + [
        s for s in tracer.spans if s.layer.startswith("runner.")]
    out.update(spark_totals(work))
    # The ingest span is mostly the generator sleeping: driver-side
    # time outside jobs is counted over the daily run only.
    out["spark.outside_jobs_s"] = sum(s.outside_jobs_s for s in work[1:])
    return out
