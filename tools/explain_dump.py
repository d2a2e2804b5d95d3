"""Dump ``explain("formatted")`` for catalog queries to files.

Usage: python tools/explain_dump.py OUTDIR [name ...]

With no names, dumps every catalog query. Each query's BUILDER runs
(so fixture-constructing queries pay their fixture cost and iterative
algorithms run their loops — the returned frame's plan is what the
bench times via the noop sink), then the formatted physical plan of
the returned DataFrame is written to ``OUTDIR/<name>.txt``.

A builder that detaches its result (``localCheckpoint``) or
checkpoints inside a loop returns a frame whose plan is one
``Scan ExistingRDD``. So while a builder runs, every frame handed to
``localCheckpoint`` or ``checkpoint`` has its plan captured too, and
those plans follow the returned frame's as numbered sections, in call
order.

Runs under bench.py's ``bench_session`` so the captured plans are the
bench's plans (shuffle partitions, split size, AQE flags).
"""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from bench import bench_session  # noqa: E402


def _formatted(df) -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )


def dump(spark, catalog, name: str, sf_dir: str) -> str:
    """Run ``name``'s builder and return its formatted plan followed by
    the plan of every frame the builder checkpointed."""
    cls = type(spark.range(0))
    saved = {m: getattr(cls, m) for m in ("localCheckpoint", "checkpoint")}
    handed = []

    def capture(method):
        def wrapped(df, *args, **kwargs):
            handed.append(_formatted(df))
            return method(df, *args, **kwargs)

        return wrapped

    for m, method in saved.items():
        setattr(cls, m, capture(method))
    try:
        df = catalog.queries[name].builder(spark, sf_dir)
    finally:
        for m, method in saved.items():
            setattr(cls, m, method)
    sections = [_formatted(df)] + [
        f"== checkpointed frame {i} ==\n{plan}"
        for i, plan in enumerate(handed, 1)
    ]
    return "\n".join(sections)


def main() -> int:
    if len(sys.argv) < 2:
        print(__doc__)
        return 2
    outdir = sys.argv[1]
    names = sys.argv[2:]
    os.makedirs(outdir, exist_ok=True)

    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

    from aws_weather_data_pipeline_spark.plans.catalog import build_catalog

    spark = bench_session("explain-dump")

    catalog = build_catalog()
    targets = names or list(catalog.queries)
    unknown = [n for n in targets if n not in catalog.queries]
    if unknown:
        print(f"unknown queries: {unknown}", file=sys.stderr)
        return 2

    failed = []
    for name in targets:
        t0 = time.perf_counter()
        try:
            plan = dump(spark, catalog, name, sf_dir)
            with open(os.path.join(outdir, f"{name}.txt"), "w") as fh:
                fh.write(plan)
            print(
                f"ok   {name}  build={time.perf_counter() - t0:.2f}s",
                file=sys.stderr,
            )
        except Exception as exc:  # noqa: BLE001 - record and continue
            failed.append(name)
            print(f"FAIL {name}: {exc}", file=sys.stderr)
        finally:
            spark.catalog.clearCache()
    if failed:
        print(f"failed: {failed}", file=sys.stderr)
    return 1 if failed else 0


if __name__ == "__main__":
    sys.exit(main())
