"""Isolated per-query bench probe — the drift-attribution inner loop.

Usage: python tools/bench_probe.py name [name ...] [--runs N]

Runs ONLY the named catalog queries under bench.py's own session and
run step (``bench_session``, ``run_once``) on an otherwise idle
session, printing every sample. Comparing these isolated numbers with
the full-catalog BENCH_DETAIL.json figures separates plan regressions
(isolated time matches the inflated catalog time) from ambient host
drift (isolated time recovers the old level).
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from bench import bench_session, run_once  # noqa: E402


def main() -> int:
    names, runs = [], 5
    argv = sys.argv[1:]
    i = 0
    while i < len(argv):
        if argv[i] == "--runs":
            if i + 1 >= len(argv):
                print("--runs needs a value", file=sys.stderr)
                return 2
            runs = int(argv[i + 1])
            i += 2
        else:
            names.append(argv[i])
            i += 1
    if not names:
        print(__doc__)
        return 2

    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

    from aws_weather_data_pipeline_spark.plans.catalog import build_catalog

    spark = bench_session("bench-probe")
    catalog = build_catalog()

    # Same warmup as bench.py so run 1 doesn't absorb session costs.
    run_once(spark, next(iter(catalog.queries.values())).builder, sf_dir)

    for name in names:
        q = catalog.queries[name]
        samples = [run_once(spark, q.builder, sf_dir) for _ in range(runs)]
        print(f"{name}: min={min(samples)} samples={samples}")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
