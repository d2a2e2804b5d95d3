"""Dump the LAZY ``explain("formatted")`` of detach-hygiene queries.

Usage: python tools/explain_lazy.py OUTDIR [suffix]

Catalog builders that eagerly ``localCheckpoint`` their result (cache
hygiene — pagerank, k-means, SemDeDup, tfidf, bm25) dump as a bare
``Scan ExistingRDD`` under tools/explain_dump.py, hiding the plan the
optimization work actually changed. This tool captures the honest
shape two ways:

- ``pagerank_trade_graph``: the factored-out lazy pieces
  (``pagerank_edges_deg``, the edges-and-degree frame).
- the others: the REGISTERED builder runs with
  ``DataFrame.localCheckpoint`` patched to identity, so the returned
  frame keeps its full lineage (persisted intermediates surface as
  InMemoryTableScan — exactly what executes). Only applied to
  builders with no internal convergence loops, where the patch
  cannot change behaviour, just visibility.

Runs under bench.py's ``bench_session`` so the captured plans are the
bench's plans. A ``suffix`` of e.g. ``_before`` names the files
``<query>_before.txt``.
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from bench import bench_session  # noqa: E402

PATCHED = (
    "kmeans_lloyd_assignments",
    "semantic_dedup_keep_list",
    "tfidf_top_terms",
    "bm25_topk",
)


def main() -> int:
    if len(sys.argv) < 2:
        print(__doc__)
        return 2
    outdir = sys.argv[1]
    suffix = sys.argv[2] if len(sys.argv) > 2 else ""
    os.makedirs(outdir, exist_ok=True)

    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

    # Patch the CLASSIC DataFrame class: in Spark 4 the runtime object
    # is pyspark.sql.classic.dataframe.DataFrame, which OVERRIDES
    # localCheckpoint — patching the pyspark.sql.DataFrame base class
    # silently does nothing.
    from pyspark.sql.classic.dataframe import DataFrame

    from aws_weather_data_pipeline_spark.plans.catalog import build_catalog

    spark = bench_session("explain-lazy")
    catalog = build_catalog()

    def write(name: str, df) -> None:
        path = os.path.join(outdir, f"{name}{suffix}.txt")
        with open(path, "w") as fh:
            fh.write(df._jdf.queryExecution().explainString(
                spark._jvm.org.apache.spark.sql.execution.ExplainMode
                .fromString("formatted")
            ))
        print("wrote", path)

    # pagerank: the lazy edges+degree frame.
    from aws_weather_data_pipeline_spark.plans import graph as g

    write("pagerank_edges_deg", g.pagerank_edges_deg(spark, sf_dir))

    real_lc = DataFrame.localCheckpoint
    DataFrame.localCheckpoint = lambda self, eager=True: self
    try:
        for name in PATCHED:
            q = catalog.queries[name]
            write(name, q.builder(spark, sf_dir))
    finally:
        DataFrame.localCheckpoint = real_lc
    spark.stop()
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
