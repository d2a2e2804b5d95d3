"""The catalog workload: a closed loop, one client, over two frozen
lists of catalog queries at a fixed scale factor. ``scan`` queries
start at most two jobs and spend their time executing; ``iterative``
queries start many jobs and spend their time in the builder.

Each query is first checked against its DuckDB oracle twin (untimed;
this pass also warms the JVM and the Python workers). The timed loop
then cycles through the list until the run's seconds are spent, always
finishing at least one full pass. One operation is: build the query's
DataFrame, execute it into the ``noop`` sink, ``clearCache``.
"""

from __future__ import annotations

import statistics
import sys
import time

from aws_weather_data_pipeline_spark.sources.tables import load_tables

from spans import percentile, spark_totals


def check_query(spark, sf_dir: str, query) -> str | None:
    """Compare one query with its oracle twin; the mismatch, or None."""
    from tests import oracle

    try:
        oracle.compare(spark, sf_dir, query.builder, query.oracle, query.name)
    except AssertionError as exc:
        return f"mismatch: {exc}"
    except Exception as exc:  # a query that raises is a failed operation
        return f"error: {exc!r}"
    finally:
        spark.catalog.clearCache()
    return None


def run(spark, tracer, sf_dir: str, subsets: dict[str, list[str]], seconds: float,
        catalog) -> dict:
    """Run the queries of every subset (``scan``, ``iterative``) as one
    closed loop; per-subset numbers go to the record and the layers."""
    queries = [catalog.queries[n] for ns in subsets.values() for n in ns]
    failures: dict[str, str] = {}
    check_s: dict[str, float] = {}
    for q in queries:
        t_check = time.perf_counter()
        err = check_query(spark, sf_dir, q)
        check_s[q.name] = time.perf_counter() - t_check
        if err:
            failures[q.name] = err
            print(f"perfbench: {q.name}: {err[:500]}", file=sys.stderr)

    times: dict[str, list[float]] = {q.name: [] for q in queries}
    per_query: dict[str, list[dict]] = {q.name: [] for q in queries}
    failed_runs = 0
    executed = 0
    deadline = time.perf_counter() + seconds
    i = 0
    while i < len(queries) or time.perf_counter() < deadline:
        q = queries[i % len(queries)]
        i += 1
        if tracer.enabled:
            with tracer.span("sources.load_tables", q.name):
                load_tables(spark, sf_dir)
        executed += 1
        t0 = time.perf_counter()
        try:
            with tracer.span("plans.build", q.name) as b:
                df = q.builder(spark, sf_dir)
            with tracer.span("plans.exec", q.name) as e:
                df.write.format("noop").mode("overwrite").save()
        except Exception as exc:
            failed_runs += 1
            print(f"perfbench: {q.name} failed: {exc!r}", file=sys.stderr)
            continue
        finally:
            spark.catalog.clearCache()
        times[q.name].append(time.perf_counter() - t0)
        per_query[q.name].append({"build": b, "exec": e})

    medians = {n: statistics.median(ts) for n, ts in times.items() if ts}
    reps = sorted(medians.values())
    # A query that never completed keeps its place in the pass: it
    # counts in ``failed`` and drives throughput to 0 instead of
    # leaving the sum, which would make the pass look faster.
    complete = len(medians) == len(queries)
    return {
        "latencies": reps,
        "throughput": len(reps) / sum(reps) if complete else 0.0,
        "attempted": len(queries) + executed,
        "failed": len(failures) + failed_runs,
        "layers": _layers(tracer, per_query, subsets, catalog)
        if tracer.enabled and reps else {},
        "record": {
            "oracle_failures": failures,
            "executions": executed,
            "check_s": check_s,
            "timed_s": time.perf_counter() - deadline + seconds,
            "query_median_s": medians,
            "subset_pass_s": {sub: sum(medians.get(n, 0.0) for n in ns)
                              for sub, ns in subsets.items()},
            "samples_per_query": {n: len(ts) for n, ts in times.items()},
        },
    }


def _median_record(samples: list[dict]) -> dict:
    """One query's build+exec span records, each field the median over
    the query's timed executions."""
    recs = []
    for s in samples:
        b, e = s["build"].record(), s["exec"].record()
        recs.append({
            k: max(b[k], e[k]) if k.startswith("peak_") else b[k] + e[k]
            for k in b if k not in ("layer", "name")
        })
    return {k: statistics.median(r[k] for r in recs) for k in recs[0]}


def _layers(tracer, per_query: dict[str, list[dict]], subsets: dict[str, list[str]],
            catalog) -> dict:
    """Per-pass layer numbers: for every query the median over its
    timed executions, summed over the list. ``plans.<subset>.build_share``
    is the builder's share of the subset's build+exec time."""
    done = {n: s for n, s in per_query.items() if s}
    build = {n: statistics.median(x["build"].wall_s for x in s) for n, s in done.items()}
    execs = {n: statistics.median(x["exec"].wall_s for x in s) for n, s in done.items()}
    medians = {n: _median_record(s) for n, s in done.items()}
    loads = tracer.layer_spans("sources.load_tables")
    out = {
        "sources.s": statistics.median(s.wall_s for s in loads),
        "sources.jobs": statistics.median(s.jobs for s in loads),
        "plans.build_s": sum(build.values()),
        "plans.exec_s": sum(execs.values()),
        "plans.build_jobs": sum(
            statistics.median(x["build"].jobs for x in s) for s in done.values()),
        "op.build_ms_p50": percentile(build.values(), 50) * 1000,
        "op.write_ms_p50": percentile(execs.values(), 50) * 1000,
        **spark_totals(medians.values()),
    }
    for sub, ns in subsets.items():
        b = sum(build.get(n, 0.0) for n in ns)
        x = sum(execs.get(n, 0.0) for n in ns)
        out[f"plans.{sub}.build_share"] = b / (b + x) if b + x else 0.0
    out["spark.multimodal_executor_run_s"] = sum(
        r["executor_run_s"] for n, r in medians.items()
        if "multimodal" in catalog.queries[n].tags)
    return out
