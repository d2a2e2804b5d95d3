"""Benchmark entry point.

    python3 perfbench/run.py --workload catalog --seed 1 --seconds 10 --trace 0

Run from the root of a checkout. It makes the workload's inputs from
``--seed`` under ``.perfbench/`` in the checkout, starts Spark through
``session.get_spark`` with the confs in ``perfbench/config.json``,
measures for ``--seconds``, checks every output, and prints one
``name value unit`` line per metric followed by, as the last line, the
JSON result. ``--trace 1`` is the traced run: it reports the per-layer
metrics instead of the end-to-end ones. The full run record, with the
host self-label, goes to ``.perfbench/results/``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time

T_PROCESS = time.perf_counter()
HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
STATE = os.path.join(ROOT, ".perfbench")


def _vm_hwm_mb(pid: int) -> float:
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024
    raise RuntimeError(f"no VmHWM for pid {pid}")


class Session:
    """Owns the Spark JVM for one run: start, timed restarts, shutdown."""

    def __init__(self, cfg: dict, work: str) -> None:
        self.nproc = len(os.sched_getaffinity(0))
        self.conf = {k: v.replace("{work}", work) for k, v in cfg["spark_conf"].items()}
        self.spark = None
        self.jvm_pid = None

    def start(self) -> float:
        """Start (or restart) the session and run one tiny job; seconds taken."""
        from aws_weather_data_pipeline_spark.session import get_spark

        t0 = time.perf_counter()
        self.spark = get_spark(
            app_name="perfbench",
            master=f"local[{self.nproc}]",
            shuffle_partitions=self.nproc,
            extra_conf=self.conf,
        )
        self.spark.range(1).count()
        took = time.perf_counter() - t0
        self.spark.sparkContext.setLogLevel("ERROR")
        if self.jvm_pid is None:
            self.jvm_pid = self.spark._jvm.java.lang.ProcessHandle.current().pid()
        return took

    def restart(self) -> float:
        self.spark.stop()
        return self.start()

    def canary_s(self) -> float:
        """A fixed pure-JVM aggregate: its time measures the host."""
        t0 = time.perf_counter()
        self.spark.range(0, 20_000_000, 1, self.nproc).selectExpr(
            "sum(id * 3 + 1) AS s").collect()
        return time.perf_counter() - t0

    def peak_rss_mb(self) -> float:
        return _vm_hwm_mb(os.getpid()) + _vm_hwm_mb(self.jvm_pid)

    def close(self) -> None:
        """Stop Spark and wait for the JVM (and its Python workers) to exit."""
        from pyspark import SparkContext

        if self.spark is not None:
            self.spark.stop()
        gw = SparkContext._gateway
        if gw is None:
            return
        proc = getattr(gw, "proc", None)
        gw.shutdown()
        SparkContext._gateway = None
        SparkContext._jvm = None
        if proc is not None:
            proc.stdin.close()
            proc.wait(timeout=60)


def parse_args(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def main(argv=None) -> int:
    args = parse_args(argv)
    with open(os.path.join(HERE, "config.json")) as fh:
        cfg = json.load(fh)
    if args.workload not in cfg["workloads"]:
        print(f"unknown workload {args.workload!r}", file=sys.stderr)
        return 2
    try:
        sys.path[:0] = [ROOT]
        import aws_weather_data_pipeline_spark  # noqa: F401
        from aws_weather_data_pipeline_spark.plans.catalog import build_catalog
    except ImportError as exc:
        print(f"perfbench: the program is not in this checkout: {exc}", file=sys.stderr)
        return 3

    work = os.path.join(STATE, f"{args.workload}-{args.seed}-{os.getpid()}")
    os.makedirs(os.path.join(work, "tmp"))
    # Everything Spark, the Python workers and the catalog's fixtures
    # write stays inside the checkout.
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["TZ"] = "UTC"
    time.tzset()
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    import tempfile
    tempfile.tempdir = None

    session = Session(cfg, work)
    try:
        return _run(args, cfg, session, work, build_catalog)
    finally:
        session.close()
        shutil.rmtree(work, ignore_errors=True)


def _run(args, cfg, session, work, build_catalog) -> int:
    import catalog as catalog_workload
    import datagen
    import pipeline as pipeline_workload
    from spans import Tracer

    wl = cfg["workloads"][args.workload]
    marks = {"start": time.perf_counter()}
    label = {"nproc": session.nproc, "load_avg_start": os.getloadavg()[0]}
    if wl["kind"] == "catalog":
        sf_dir = os.path.join(work, "tables")
        datagen.write_catalog_tables(sf_dir, args.seed, cfg["sf"])

    marks["datagen"] = time.perf_counter()
    jvm_start_s = session.start()
    starts = [session.restart() for _ in range(cfg["setup_repeats"])]
    setup_s = statistics.median(starts)

    marks["setup"] = time.perf_counter()
    tracer = Tracer(session.spark, enabled=bool(args.trace))
    if wl["kind"] == "catalog":
        subsets = {k: wl[k] for k in ("scan", "iterative")}
        res = catalog_workload.run(session.spark, tracer, sf_dir, subsets,
                                   args.seconds, build_catalog())
    else:
        res = pipeline_workload.run(session.spark, tracer, work, args.seed,
                                    args.seconds, wl)
    marks["workload"] = time.perf_counter()
    label["canary_s"] = session.canary_s()
    label["load_avg_end"] = os.getloadavg()[0]
    lat = res["latencies"]
    e2e = {
        "setup_s": setup_s,
        "throughput_per_s": res["throughput"],
        "latency_p50_s": _pct(lat, 50),
        "latency_p90_s": _pct(lat, 90),
        "peak_rss_mb": session.peak_rss_mb(),
    }
    layers = {
        "session.start_s": setup_s,
        "session.jvm_start_s": jvm_start_s,
        "trace.read_s": tracer.read_s,
        **res["layers"],
    }
    record = {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
        "trace": args.trace, "host": label, "spark_conf": session.conf,
        "setup_starts_s": starts, "latency_samples": len(lat),
        "end_to_end": e2e, "layers": layers, "attempted": res["attempted"],
        "failed": res["failed"], **res["record"],
        "phase_s": {k: marks[k] - marks[p] for p, k in zip(marks, list(marks)[1:])},
        "process_s": time.perf_counter() - T_PROCESS,
    }
    os.makedirs(os.path.join(STATE, "results"), exist_ok=True)
    out = os.path.join(STATE, "results",
                       f"{args.workload}-seed{args.seed}-trace{args.trace}.json")
    with open(out, "w") as fh:
        json.dump(record, fh, indent=1, default=str)

    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    wanted = bench["per_layer"] if args.trace else bench["end_to_end"]
    source = layers if args.trace else e2e
    # A layer the workload does not exercise (the catalog never
    # streams, the pipeline builds no catalog plans) reads 0.
    metrics = {m["name"]: {"value": float(source.get(m["name"], 0.0)), "unit": m["unit"]}
               for m in wanted}
    for k, m in metrics.items():
        print(f"{k} {m['value']:.6g} {m['unit']}")
    print(f"host nproc={label['nproc']} load_avg={label['load_avg_start']:.2f}"
          f"->{label['load_avg_end']:.2f} canary_s={label['canary_s']:.3f}"
          f" latency_samples={len(lat)}")
    print(json.dumps({
        "correct": res["failed"] == 0,
        "attempted": res["attempted"],
        "failed": res["failed"],
        "metrics": metrics,
    }))
    return 0


def _pct(values, q):
    """Percentile of the latency samples; NaN when every operation
    failed, so the run still prints its result with ``correct`` false."""
    from spans import percentile

    return percentile(values, q) if values else float("nan")


if __name__ == "__main__":
    sys.path.insert(0, HERE)
    sys.exit(main())
