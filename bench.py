#!/usr/bin/env python
"""Benchmark harness: run the full query catalog and emit one JSON line.

Usage: ``python bench.py`` — runs every catalog query against
``$SPARK_GRAFT_SF_DIR`` (default /root/testdata/sf0.1) on
``local[$SPARK_GRAFT_CPUS]``. The LAST stdout line is a compact JSON
summary guaranteed to fit the driver's 2,000-char tail capture::

    {"metric": "catalog_total_sec", "value": N, "unit": "sec", "sf": 0.1}

The full per-query timing map (several KB — too long for the tail
capture) goes to stderr AND a ``BENCH_DETAIL.json`` sidecar next to
this script.

Execution is forced through the ``noop`` datasource sink — every
operator in the plan runs on the executors (scan, shuffle, agg, join)
but nothing is collected to the driver, so timings measure distributed
execution, not result serialization. All diagnostics go to stderr;
stdout carries only the JSON summary the driver parses.

``bench_session`` and ``run_once`` are also the session and the run
step of every measuring tool in ``tools/``, so their numbers and plans
are the bench's.
"""

from __future__ import annotations

import json
import os
import re
import sys
import time

REPO = os.path.dirname(os.path.abspath(__file__))


def main() -> int:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    m = re.search(r"sf([0-9.]+)", sf_dir)
    sf = float(m.group(1)) if m else 0.0

    from aws_weather_data_pipeline_spark.plans.catalog import build_catalog

    spark = bench_session("bench")
    cpus = spark.sparkContext.defaultParallelism
    catalog = build_catalog()

    # Host-speed canary: a fixed pure-JVM aggregate whose cost is
    # plan-independent, so its seconds measure the HOST, not the
    # catalog. Sampled before, between and after the passes; a slow or
    # spreading canary labels the run as contended.
    def canary_sec() -> float:
        t0 = time.perf_counter()
        spark.range(0, 50_000_000, 1, cpus).selectExpr(
            "sum(id * 3 + 1) AS s"
        ).collect()
        return round(time.perf_counter() - t0, 3)

    # Warm the JVM/codegen/parquet-footer caches on a cheap query so the
    # first measured query doesn't absorb one-time session costs. No
    # measured pass is discarded as a warmup: the per-query minimum
    # already excludes cold outliers, whichever pass they land in.
    first = next(iter(catalog.queries.values()))
    try:
        run_once(spark, first.builder, sf_dir)
    except Exception as exc:  # pragma: no cover - warmup best-effort
        print(f"warmup failed: {exc}", file=sys.stderr)
    canaries = [canary_sec()]
    load_start = os.getloadavg()[0]

    # Three INTERLEAVED passes over the whole catalog (A,B,C,A,B,C...,
    # not A,A,A,B,B,B), keeping the per-query minimum. Interleaving
    # decorrelates each query's samples from transient host noise: a
    # CPU-steal burst that inflates pass 1 of query Q lands minutes away
    # from passes 2-3 of the same query, so the min survives. Back-to-back
    # repeats share the same noise window and can all be inflated
    # together (observed 2-12x on 5 queries in a prior shared-host run).
    passes: dict[str, list[float]] = {name: [] for name in catalog.queries}
    failed: set[str] = set()
    n_passes = int(os.environ.get("SPARK_GRAFT_BENCH_PASSES", "3"))
    for pass_i in range(n_passes):
        for name, q in catalog.queries.items():
            if name in failed:
                continue
            try:
                passes[name].append(run_once(spark, q.builder, sf_dir))
            except Exception as exc:
                print(f"FAIL {name}: {exc}", file=sys.stderr)
                failed.add(name)
        canaries.append(canary_sec())

    timings: dict[str, float] = {
        name: (min(ts) if ts and name not in failed else -1.0)
        for name, ts in passes.items()
    }

    # Sub-2s queries get TWO extra interleaved passes (5 total): three
    # samples of a ~1s query can all sit inside one 30-50s ambient
    # burst, five span it. Cheap by construction: only queries whose
    # current min is already <2s re-run.
    quick = [
        name for name, t in timings.items()
        if 0 <= t < 2.0 and name not in failed
    ]
    for _ in range(2):
        for name in list(quick):
            try:
                q = catalog.queries[name]
                elapsed = run_once(spark, q.builder, sf_dir)
                passes[name].append(elapsed)
                timings[name] = min(timings[name], elapsed)
            except Exception as exc:
                # keep the valid 3-pass minimum: these passes only
                # refine it, so a transient failure here must not flip
                # a measured query to 'failed' (same rule as the
                # outlier retry below)
                print(f"SKIP {name} (quick pass): {exc}", file=sys.stderr)
                quick.remove(name)
        canaries.append(canary_sec())

    # Outlier retry: if even the min of 3 interleaved passes is >3x the
    # catalog median, either the query is genuinely expensive (retry
    # confirms, min unchanged) or all 3 samples were unlucky (retry
    # produces the true steady-state number). Up to 2 extra runs each.
    ok_times = sorted(t for t in timings.values() if t >= 0)
    if ok_times:
        median = ok_times[len(ok_times) // 2]
        threshold = max(3.0 * median, 0.5)
        for name, q in catalog.queries.items():
            if name in failed or timings[name] <= threshold:
                continue
            for _ in range(2):
                try:
                    elapsed = run_once(spark, q.builder, sf_dir)
                    passes[name].append(elapsed)
                    timings[name] = min(timings[name], elapsed)
                except Exception as exc:
                    print(f"FAIL {name} (retry): {exc}", file=sys.stderr)
                    break

    total = round(sum(t for t in timings.values() if t >= 0), 3)
    # Contention self-label: pass dispersion = per-query
    # median-of-passes / min-of-passes, medianed over the catalog. An
    # idle host shows ~1.0-1.2 (passes agree); ambient bursts show
    # >1.4 (the min survived but siblings scattered). Read with the
    # canary trend, it says whether a run's totals are comparable.
    disps = []
    for name, ts in passes.items():
        if name in failed or len(ts) < 2:
            continue
        srt = sorted(ts)
        # floor the denominator: a sub-millisecond pass rounds to 0.0
        disps.append(srt[len(srt) // 2] / max(srt[0], 0.001))
    disps.sort()
    dispersion = round(disps[len(disps) // 2], 3) if disps else None
    # spread over canaries[1:]: the first sample still carries JIT
    # warm-up (measured 0.68s vs a 0.32-0.40s steady state on an
    # idle host) and would mislabel every idle run as contended
    warm = canaries[1:] if len(canaries) > 2 else canaries
    contention = {
        "canary_sec": canaries,
        "canary_spread": (
            round(max(warm) / min(warm), 3) if warm else None
        ),
        "pass_dispersion_median": dispersion,
        "load_avg_start": round(load_start, 2),
        "load_avg_end": round(os.getloadavg()[0], 2),
    }
    detail = {
        "metric": "catalog_total_sec",
        "value": total,
        "unit": "sec",
        "queries": timings,
        "passes": passes,
        "sf": sf,
        "contention": contention,
    }
    # Per-query timings are too long for the driver's 2,000-char stdout
    # tail: stderr + sidecar file only.
    print(json.dumps(detail), file=sys.stderr)
    sidecar = os.path.join(REPO, "BENCH_DETAIL.json")
    try:
        with open(sidecar, "w") as fh:
            json.dump(detail, fh, indent=1, sort_keys=True)
    except OSError as exc:  # pragma: no cover - sidecar best-effort
        print(f"sidecar write failed: {exc}", file=sys.stderr)
    # The ONLY stdout line: compact, < 200 chars, last thing printed.
    print(
        json.dumps(
            {
                "metric": "catalog_total_sec",
                "value": total,
                "unit": "sec",
                "sf": sf,
                "n_queries": len(timings),
                "n_failed": sum(1 for t in timings.values() if t < 0),
                # host self-label: whether the run was contended (the
                # sidecar's "contention" holds the full indicator)
                "canary_min": min(canaries) if canaries else None,
                "disp": dispersion,
            }
        )
    )
    return 1 if any(t < 0 for t in timings.values()) else 0



def bench_session(app_name: str):
    """The bench's Spark session, shared by every measuring tool: UTC,
    ``local[$SPARK_GRAFT_CPUS]`` with one shuffle partition per core,
    1 MB file splits, a 48g driver heap, log level ERROR."""
    os.environ["TZ"] = "UTC"
    time.tzset()
    from aws_weather_data_pipeline_spark.session import get_spark

    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    spark = get_spark(
        app_name=app_name,
        master=f"local[{cpus}]",
        shuffle_partitions=int(cpus),
        # The sf0.1 tables are single ≤11 MB parquet files; at the
        # default 128 MB split size every scan is ONE partition and
        # all but one core idle. Split at 1 MB so scans parallelize.
        # This is the local-bench analog of sizing maxPartitionBytes
        # to (input size / total cores) on a cluster — at 100 TB the
        # default 128 MB is already right and this override is unset.
        extra_conf={
            "spark.sql.files.maxPartitionBytes": str(1 << 20),
            # local[N] runs driver AND all executor threads in one
            # JVM; the 8g default heap GC-thrashes by the tail of a
            # full-catalog run (measured 2-10x slowdowns on late
            # queries).
            "spark.driver.memory": "48g",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def run_once(spark, builder, sf_dir: str) -> float:
    """Run one catalog query to completion through the ``noop`` sink,
    then drop every cached frame, and return the wall seconds of both.
    Each call builds new DataFrames, so caches a pipeline query left
    behind are garbage that would add storage-memory pressure and GC
    work to every later query."""
    t0 = time.perf_counter()
    builder(spark, sf_dir).write.format("noop").mode("overwrite").save()
    spark.catalog.clearCache()
    return round(time.perf_counter() - t0, 3)


if __name__ == "__main__":
    sys.exit(main())
