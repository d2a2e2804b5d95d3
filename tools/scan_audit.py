"""Audit every catalog query for funnel-class duplicate table scans.

A funnel-class defect is a plan that references an unpersisted
aggregate twice, so Spark evaluates the whole subtree twice per
execution. This tool sweeps ALL catalog queries:
for each, it builds the plan at sf0.001 and reports how many times
each parquet table is physically scanned. A table scanned more than
once is either (a) a deliberate multi-pass algorithm (self-join,
2-pass heavy hitters, base-vs-batch dedup) or (b) a funnel-class
defect — the report is the review list separating the two.

Usage: python tools/scan_audit.py [sf_dir]
"""

from __future__ import annotations

import contextlib
import io
import os
import re
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from bench import bench_session  # noqa: E402

SF = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"


def main() -> int:
    from aws_weather_data_pipeline_spark.plans.catalog import build_catalog

    spark = bench_session("scan-audit")

    multi = {}
    errs = {}
    for name, q in build_catalog().queries.items():
        try:
            df = q.builder(spark, SF)
            buf = io.StringIO()
            with contextlib.redirect_stdout(buf):
                df.explain("formatted")
            plan = buf.getvalue()
        except Exception as exc:  # noqa: BLE001 — report, keep sweeping
            errs[name] = f"{type(exc).__name__}: {exc}"
            continue
        finally:
            spark.catalog.clearCache()
        # Each physical scan's detail block carries its file-index
        # location; count scans per table file.
        tables = re.findall(
            r"InMemoryFileIndex(?:\(\d+ paths\))?\[?[^\n]*?/(\w+)\.parquet",
            plan,
        )
        counts: dict[str, int] = {}
        for t in tables:
            counts[t] = counts.get(t, 0) + 1
        dups = {t: c for t, c in counts.items() if c > 1}
        if dups:
            multi[name] = dups
        print(f"{name:45s} {counts if counts else '(no parquet scan: materialized/streaming)'}")
    print("\n=== tables scanned more than once (review list) ===")
    for name, dups in sorted(multi.items()):
        print(f"{name:45s} {dups}")
    if errs:
        print("\n=== errors ===")
        for name, e in errs.items():
            print(f"{name:45s} {e}")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
