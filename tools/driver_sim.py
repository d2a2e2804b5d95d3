"""Simulate the driver harness: vanilla SparkSession (none of the
engine's tuned confs), import __spark_entry__, run queries()[name] at
sf0.01 and compare each with oracle_sql()[name] in DuckDB through
``tests.oracle.compare`` (schema, row count, and bit-exact values
after an order-insensitive sort).

Usage: python tools/driver_sim.py [name ...]

With no names, runs the entry() smoke and every catalog query. With
names, checks only those queries; an unknown name exits 2.
Env: SPARK_GRAFT_SIM_SF overrides the sf dir (default sf0.01).

Python-UDF queries run on worker processes that import the package, so
the repo must be on their path: run from the repo root or put it on
PYTHONPATH.
"""

import os
import sys

from pyspark.sql import SparkSession

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)
import __spark_entry__ as e  # noqa: E402
from tests.oracle import compare  # noqa: E402

SF = os.environ.get("SPARK_GRAFT_SIM_SF", "/root/testdata/sf0.01")


def main(names: list[str]) -> int:
    qs, osql = e.queries(), e.oracle_sql()
    unknown = [n for n in names if n not in qs]
    if unknown:
        print(f"unknown queries: {unknown}", file=sys.stderr)
        return 2

    # vanilla session — deliberately NOT the engine's factory
    spark = (
        SparkSession.builder.master("local[8]").appName("driver-sim")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")

    if not names:
        df = e.entry(spark)
        rows = df.collect()
        print(f"SMOKE entry(): {len(rows)} rows, "
              f"schema={[f.name for f in df.schema.fields]}")
        assert len(rows) > 0
        print(f"catalog: {len(qs)} queries, {len(osql)} with oracle")

    fails = []
    for name in names or sorted(qs):
        try:
            n = compare(spark, SF, qs[name], osql[name], name)
            print(f"  MATCH    {name}: {n} rows")
        except Exception as exc:  # noqa: BLE001 - report, keep checking
            fails.append(name)
            print(f"  MISMATCH {name}: {type(exc).__name__}: {exc}")

    print("RESULT:", "ALL MATCH" if not fails else f"FAILURES: {fails}")
    return 1 if fails else 0


if __name__ == "__main__":
    raise SystemExit(main(sys.argv[1:]))
