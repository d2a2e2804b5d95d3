"""Measured scale evidence for the 100 TB claims (VERDICT r14 task 2).

The plan pins in tests/test_plans.py argue every heavy pipeline's
SHAPE (bucket equi-joins, no cartesian fallback, persisted iterative
state); this tool measures the SLOPE: the same catalog plans over a
~10x documents/embeddings set, recording wall time, shuffle bytes,
and peak per-task bytes at both scales, plus a changefeed probe
(commit + sync cost vs batch size, per-commit file counts — the r14
merge-sizing fix's slope datum). Near-linear slopes demonstrate what
sf0.1 alone cannot; a superlinear slope is a bug report.

Usage:
    python tools/scale_probe.py gen [SCALE]   # build .scaleprobe/x<SCALE>
                                              # (default 10 -> "sf1x")
    python tools/scale_probe.py run [--runs N] [--scales 3,10]
                                    [--only name,name...]
        # probe sf0.1 + each --scales set (default: 10), print JSON
        # and merge into SCALE_PROBE.json; --only re-measures just
        # the named rows (previously committed scale points for
        # other labels are preserved)
    python tools/scale_probe.py changefeed    # tablelog commit/sync probe
    python tools/scale_probe.py graph         # iterative-graph probe
        # (PageRank + CC over 1x/3x/10x block-diagonal copies of the
        # trade graph -> SCALE_PROBE_GRAPH.json)

The 10x generator is structure-preserving, NOT naive replication —
replicating rows 10x verbatim would multiply every doc's exact-dup
group to 10 members (pair output jumps 45x per group, a DATA change
masquerading as engine superlinearity). Instead it bootstrap-resamples
the sf0.1 corpus: i.i.d. word draws from the empirical unigram
distribution at empirical document lengths, the measured (lang,
source) joint mix, exact-duplicate and mutated near-duplicate
injection at the measured per-doc RATES (so true-pair counts scale
linearly, as in real corpora), and per-label embedding resampling
with intra-label-scaled Gaussian noise (cluster geometry preserved
for SemDeDup/ANN). Deterministic (numpy seed 42). Non-document
tables are symlinked from sf0.1 so any incidental load resolves.
"""

from __future__ import annotations

import json
import os
import sys
import time
from contextlib import nullcontext

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from bench import bench_session, run_once  # noqa: E402
from perfbench.spans import STAGE_FIELDS, Tracer  # noqa: E402

SF01 = "/root/testdata/sf0.1"
SCALE = 10


def out_dir(scale: int) -> str:
    # historical name: the 10x set is "sf1x" (sf1-equivalent)
    tag = "sf1x" if scale == SCALE else f"x{scale}"
    return os.path.join(REPO, ".scaleprobe", tag)

#: the 4 heaviest multi-stage pipelines named by VERDICT r14 task 2,
#: plus the other member of the cell-bounded-quadratic class the
#: probe's SemDeDup finding exposed (near_dup_pairs_embedding pairs
#: within the DATA-provided label cells — fixed cell count, so the
#: intra-cell pair law applies; its scale knob lives upstream, in
#: the now-k-scalable clustering that produces the cells)
QUERIES = (
    "near_dup_pairs_minhash",
    "semantic_dedup_keep_list",
    "dedup_cascade_keep_list",
    "corpus_build_manifest",
    "near_dup_pairs_embedding",
    # the remaining candidate-generation strategies (late r15): each
    # near-dup variant blocks candidates differently (simhash bands,
    # ngram prefix filter + PPJoin cuts, editdist length buckets,
    # winnowing fingerprints), so the minhash slope does not transfer
    # — and the incremental probe's O(batch + probed buckets) claim
    # deserves its own slope datum
    "near_dup_pairs_simhash",
    "near_dup_pairs_ngram",
    "near_dup_pairs_editdist",
    "near_dup_pairs_winnow",
    "dedup_incremental_near",
    # the ANN / retrieval class (late r15): the north-star claim is
    # "bucket equi-joins + broadcast query side — no all-pairs at any
    # scale"; these four measure it (LSH buckets, IVF cells, the
    # IVF-PQ composite, exact kNN with a bounded broadcast query
    # set), plus the two remaining corpus plans without a datum: the
    # span-fingerprint self-join and the broadcast-benchmark
    # decontamination scan
    "ann_hyperplane_lsh_topk",
    "ann_ivf_probe_topk",
    "ivf_pq_search_topk",
    "knn_cosine_topk",
    "doc_duplicated_spans",
    "decontaminate_ngram_overlap",
)


# ---------------------------------------------------------------- gen

def gen(scale: int = SCALE) -> None:
    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq

    OUT = out_dir(scale)
    rng = np.random.default_rng(42)
    os.makedirs(OUT, exist_ok=True)

    docs = pq.read_table(os.path.join(SF01, "documents.parquet"))
    texts = docs.column("text").to_pylist()
    langs = docs.column("lang").to_pylist()
    sources = docs.column("source").to_pylist()

    # empirical unigram distribution + doc lengths (in words)
    from collections import Counter

    words: Counter = Counter()
    lengths = []
    for t in texts:
        ws = t.split()
        lengths.append(len(ws))
        words.update(ws)
    vocab = sorted(words)
    freq = np.array([words[w] for w in vocab], dtype=np.float64)
    freq /= freq.sum()
    lengths = np.array(lengths)
    pairs = list(zip(langs, sources))

    n = len(texts) * scale
    # measured rates at sf0.1: 8 exact-dup pairs / 5000 docs; inject
    # near-dups at the same per-doc rate so true pairs grow LINEARLY
    dup_rate = 8 / 5000
    n_dup = int(n * dup_rate)
    n_near = int(n * dup_rate)

    out_texts: list[str] = []
    lens = rng.choice(lengths, size=n)
    for i in range(n):
        idx = rng.choice(len(vocab), size=int(lens[i]), p=freq)
        out_texts.append(" ".join(vocab[j] for j in idx))
    # exact dups: copy an earlier doc verbatim
    for _ in range(n_dup):
        a, b = rng.integers(0, n, size=2)
        out_texts[int(a)] = out_texts[int(b)]
    # near dups: copy + mutate ~10% of words
    for _ in range(n_near):
        a, b = rng.integers(0, n, size=2)
        ws = out_texts[int(b)].split()
        for k in rng.choice(len(ws), size=max(1, len(ws) // 10),
                            replace=False):
            ws[int(k)] = vocab[int(rng.integers(0, len(vocab)))]
        out_texts[int(a)] = " ".join(ws)
    pick = rng.integers(0, len(pairs), size=n)
    table = pa.table(
        {
            "doc_id": pa.array(range(n), pa.int64()),
            "text": pa.array(out_texts, pa.string()),
            "lang": pa.array([pairs[i][0] for i in pick], pa.string()),
            "source": pa.array([pairs[i][1] for i in pick], pa.string()),
            "n_chars": pa.array([len(t) for t in out_texts], pa.int64()),
        }
    )
    pq.write_table(table, os.path.join(OUT, "documents.parquet"))

    emb = pq.read_table(os.path.join(SF01, "embeddings.parquet"))
    vecs = np.array(emb.column("embedding").to_pylist(), dtype=np.float32)
    labels = np.array(emb.column("label").to_pylist())
    m = len(vecs) * scale
    # per-label std scales the jitter: resampled vectors stay in
    # their cluster but are not exact copies
    stds = {
        lab: vecs[labels == lab].std(axis=0) for lab in set(labels)
    }
    src_idx = rng.integers(0, len(vecs), size=m)
    out_vecs = np.empty((m, vecs.shape[1]), dtype=np.float32)
    out_labels = np.empty(m, dtype=np.int32)
    for i, s in enumerate(src_idx):
        lab = labels[s]
        out_vecs[i] = vecs[s] + rng.normal(
            0, 0.25, vecs.shape[1]
        ).astype(np.float32) * stds[lab]
        out_labels[i] = lab
    pq.write_table(
        pa.table(
            {
                "vec_id": pa.array(range(m), pa.int64()),
                "embedding": pa.array(
                    [v.tolist() for v in out_vecs],
                    pa.list_(pa.float32()),
                ),
                "label": pa.array(out_labels, pa.int32()),
            }
        ),
        os.path.join(OUT, "embeddings.parquet"),
    )

    for name in (
        "region nation customer supplier part orders lineitem events"
    ).split():
        link = os.path.join(OUT, f"{name}.parquet")
        if not os.path.lexists(link):
            os.symlink(os.path.join(SF01, f"{name}.parquet"), link)
    print(f"wrote {OUT}: documents={n} embeddings={m}")


# ---------------------------------------------------------------- run

def _measure(tracer, runs: int, fn):
    """Run ``fn`` ``runs`` times, each in its own traced span, and pair
    the span's job count and stage counters — and any extra dict ``fn``
    returns (e.g. CC's round count) — with the SAME run the wall
    minimum comes from, so a row never mixes two executions."""
    walls, best = [], None
    for _ in range(runs):
        with tracer.span("probe", "run") as span:
            extra = fn() or {}
        wall = round(span.wall_s, 3)
        walls.append(wall)
        if best is None or wall < best[0]:
            # the first seven counters are the probe's stored field set
            metrics = {k: span.counters[k] for k in STAGE_FIELDS[:7]}
            best = (wall, {"jobs": span.jobs, **metrics}, extra)
    return {"wall_min": best[0], "walls": walls, **best[1], **best[2]}


#: slope fields: (name, numerator field, divide-by-zero floor)
_SLOPE_KEYS = (
    ("wall", "wall_min", 1e-9),
    ("shuffle", "shuffle_read_bytes", 1),
    ("input", "input_bytes", 1),
)


def _slopes(points: dict, keys=_SLOPE_KEYS) -> dict:
    """Per-scale-point ratios vs the ``sf0.1`` row — always equal to
    the stored-value ratios an auditor would divide."""
    s0 = points["sf0.1"]
    return {
        label: {
            name: round(e[field] / max(s0[field], floor), 2)
            for name, field, floor in keys
        }
        for label, e in points.items()
        if label not in ("sf0.1", "slopes")
    }


def run(runs: int, scales: list[int], only: list[str] | None = None) -> int:
    from aws_weather_data_pipeline_spark.plans.catalog import build_catalog

    for s in scales:
        if not os.path.exists(
            os.path.join(out_dir(s), "documents.parquet")
        ):
            print(f"run `gen {s}` first", file=sys.stderr)
            return 2
    catalog = build_catalog()

    # the scale-path variants of the two pipelines the raw probe
    # measured superlinear: hot-bucket-capped LSH candidates (cap=50
    # is a no-op at sf0.1 — max bucket there is 21 — so the sf0.1
    # numbers double as the exact-semantics baseline) and SemDeDup
    # at the paper's k ≈ √n
    from aws_weather_data_pipeline_spark.plans import (
        clustering as cl,
        similarity as sim,
    )

    def _semdedup_sqrt_k(spark, sf_dir):
        # r16: k=None IS the library default now (resolves
        # max(KMEANS_K, ceil(sqrt(n))) via one in-engine count), so
        # this row measures exactly what an un-knobbed caller gets;
        # the catalog row above stays the fixed-k oracle fixture.
        return cl.semantic_dedup_keep_list(spark, sf_dir)

    scaled = {
        "near_dup_pairs_minhash[cap=50]": (
            lambda spark, sf_dir: sim.near_dup_pairs_minhash(
                spark, sf_dir, max_bucket=50
            )
        ),
        "semantic_dedup_keep_list[k=sqrt(n)]": _semdedup_sqrt_k,
    }

    targets = [
        (name, catalog.queries[name].builder) for name in QUERIES
    ] + list(scaled.items())
    if only:
        # validate BEFORE the (expensive) session start — a typo'd
        # or shell-globbed name would otherwise warm up Spark,
        # measure nothing, rewrite the artifact unchanged, and
        # exit 0 (review r15)
        unknown = sorted(set(only) - {n for n, _ in targets})
        if unknown:
            print(
                f"unknown --only names: {unknown}; known: "
                f"{sorted(n for n, _ in targets)}",
                file=sys.stderr,
            )
            return 2
        targets = [(n, b) for n, b in targets if n in only]

    spark = bench_session("scale-probe")
    # warmup, as in bench.py / bench_probe.py
    run_once(spark, next(iter(catalog.queries.values())).builder, SF01)
    tracer = Tracer(spark, enabled=True)

    # merge into the existing artifact so --only updates single rows
    out_path = os.path.join(REPO, "SCALE_PROBE.json")
    report = {}
    if os.path.exists(out_path):
        with open(out_path) as fh:
            report = json.load(fh)
    for name, builder in targets:
        entry = {}
        points = [("sf0.1", SF01)] + [
            (f"x{s}", out_dir(s)) for s in scales
        ]
        for label, sf_dir in points:

            def once():
                run_once(spark, builder, sf_dir)

            entry[label] = _measure(tracer, runs, once)
            print(f"{name} @ {label}: {entry[label]}", flush=True)
        # a --scales subset must not drop the row's previously
        # committed points (review r15: --only + --scales 3 used to
        # rebuild the entry from scratch and silently lose x10);
        # slopes are recomputed over the MERGED points so they always
        # equal the stored-wall ratios an auditor would divide
        merged = {
            k: v
            for k, v in report.get(name, {}).items()
            if k != "slopes"
        }
        merged.update(entry)
        merged["slopes"] = _slopes(merged)
        report[name] = merged
    print(json.dumps(report))
    with open(out_path, "w") as fh:
        json.dump(report, fh, indent=1)
    return 0


# -------------------------------------------------------------- graph

def graph_probe(runs: int = 3, scales: tuple = (3, 10)) -> int:
    """Slope datum for the iterative-graph class (PageRank + connected
    components). Scaling is BLOCK-DIAGONAL: k disjoint key-shifted
    copies of the sf0.1 trade graph — degree distribution and
    component diameters are preserved exactly, so per-iteration cost
    should scale with |edges| while the CC round count (diameter-
    bound, not size-bound) should stay CONSTANT; a growing round
    count or a superlinear per-iteration slope is a bug report.
    Naive densification (adding edges between copies) would instead
    change the graph being measured."""
    from pyspark.sql import functions as F

    from aws_weather_data_pipeline_spark.operators.graph import (
        connected_components,
    )
    from aws_weather_data_pipeline_spark.plans import graph as gp
    from aws_weather_data_pipeline_spark.session import cached

    spark = bench_session("scale-probe-graph")
    tracer = Tracer(spark, enabled=True)

    with cached(gp.pagerank_edges_deg(spark, SF01)) as base:
        hi = base.select(
            F.greatest(F.max("src"), F.max("dst")).alias("m")
        ).collect()[0]["m"]
        shift = int(hi) + 1

        def copies(k: int):
            out = None
            for i in range(k):
                c = base.select(
                    (F.col("src") + i * shift).alias("src"),
                    (F.col("dst") + i * shift).alias("dst"),
                    "outdeg",
                )
                out = c if out is None else out.unionAll(c)
            return out

        def noop(df):
            df.write.format("noop").mode("overwrite").save()

        report: dict = {}
        for k in (1,) + tuple(scales):
            # at k=1 the copy would be an identity projection of the
            # already-cached base — reuse it instead of caching the
            # same frame twice
            with nullcontext(base) if k == 1 else cached(copies(k)) as edges:
                n = edges.select("src").distinct().count()
                entry: dict = {"nodes": n}
                entry["pagerank"] = _measure(
                    tracer, runs, lambda: noop(gp.pagerank_plan(edges, n))
                )

                def cc_once():
                    stats: dict = {}
                    noop(connected_components(edges, stats=stats))
                    return {"rounds": stats["rounds"]}

                entry["connected_components"] = _measure(
                    tracer, runs, cc_once
                )
            label = "sf0.1" if k == 1 else f"x{k}"
            report[label] = entry
            print(f"graph @ {label}: {entry}", flush=True)
    keys = _SLOPE_KEYS[:2]  # wall + shuffle; input is table-invariant
    report["slopes"] = {
        label: {
            op: _slopes({"sf0.1": report["sf0.1"][op], label: e[op]},
                        keys)[label]
            for op in ("pagerank", "connected_components")
        }
        for label, e in report.items()
        if label not in ("sf0.1", "slopes")
    }
    print(json.dumps(report))
    with open(
        os.path.join(REPO, "SCALE_PROBE_GRAPH.json"), "w"
    ) as fh:
        json.dump(report, fh, indent=1)
    return 0


# --------------------------------------------------------- changefeed

def changefeed() -> int:
    """Commit + sync cost vs batch size on the table log: 3 appends
    of N rows synced insert-only, then a keyed merge of N/10 change
    rows synced keyed, at N and 10N. Records wall times and
    per-commit file counts — the slope datum for the r14
    byte-sized-merge-output fix."""
    import shutil

    from pyspark.sql import functions as F

    from aws_weather_data_pipeline_spark.sinks import tablelog as tl

    spark = bench_session("scale-probe-cf")
    root = os.path.join(REPO, ".scaleprobe", "cf")
    shutil.rmtree(root, ignore_errors=True)
    # warmup: a tiny end-to-end commit+sync so the first measured
    # scale point doesn't absorb JIT/session costs
    wsrc, wdst = os.path.join(root, "w_src"), os.path.join(root, "w_dst")
    tl.append(spark.range(100).withColumnRenamed("id", "k"), wsrc)
    tl.sync_changes(spark, wsrc, wdst)
    report = {}
    for n in (100_000, 1_000_000):
        src = os.path.join(root, f"src_{n}")
        dst = os.path.join(root, f"dst_{n}")
        def rows_for(lo, hi):
            return (
                spark.range(lo, hi)
                .withColumn("k", F.col("id"))
                .withColumn(
                    "payload", F.sha2(F.col("id").cast("string"), 256)
                )
                .withColumn("v", (F.col("id") % 1000).cast("int"))
                .drop("id")
            )

        t0 = time.perf_counter()
        for i in range(3):  # disjoint key ranges: keys stay unique
            tl.append(rows_for(i * n, (i + 1) * n), src)
        t_append = time.perf_counter() - t0
        t0 = time.perf_counter()
        tl.sync_changes(spark, src, dst)
        t_sync_insert = time.perf_counter() - t0
        # keyed merge of n/10 updates with a changefeed, then a keyed
        # sync of exactly that delta into a second destination
        batch = (
            spark.range(n // 10)
            .withColumn("op", F.lit("U"))
            .withColumn("k", F.col("id") * 7 % n)
            .withColumn(
                "payload", F.sha2(F.col("id").cast("string"), 256)
            )
            .withColumn("v", F.lit(-1))
            .withColumn("seq", F.col("id"))
            .drop("id")
        )
        t0 = time.perf_counter()
        tl.merge_changes(
            spark, src, batch, keys=["k"], order_cols=["seq"],
            write_changefeed=True,
        )
        t_merge = time.perf_counter() - t0
        kdst = os.path.join(root, f"kdst_{n}")
        t0 = time.perf_counter()
        tl.sync_changes(spark, src, kdst, keys=["k"])
        t_bootstrap = time.perf_counter() - t0
        # the O(delta) datum: one more merge, then an INCREMENTAL
        # keyed sync that must read only that commit's cdc files —
        # never the 3n-row table
        batch2 = batch.withColumn("v", F.lit(-2))
        tl.merge_changes(
            spark, src, batch2, keys=["k"], order_cols=["seq"],
            write_changefeed=True,
        )
        t0 = time.perf_counter()
        tl.sync_changes(spark, src, kdst, keys=["k"])
        t_incr = time.perf_counter() - t0
        head = tl.latest_version(src)
        # files WRITTEN by each commit: appends record their delta in
        # 'added'; a merge's full 'files' list IS its rewrite output
        # (review r15 — len(files) alone reported the cumulative
        # snapshot count and mislabeled the per-commit claim)
        files_written_per_commit = [
            len(m.get("added") or m["files"])
            for m in (
                tl._read_manifest(src, v) for v in range(head + 1)
            )
        ]
        cdc_files = len(
            tl._read_manifest(src, head).get("cdc_files") or []
        )
        report[str(n)] = {
            "append3_sec": round(t_append, 2),
            "sync_insert_sec": round(t_sync_insert, 2),
            "merge_changefeed_sec": round(t_merge, 2),
            "keyed_bootstrap_sync_sec": round(t_bootstrap, 2),
            "keyed_incremental_sync_sec": round(t_incr, 2),
            "files_written_per_commit": files_written_per_commit,
            "cdc_files_at_head": cdc_files,
        }
        print(f"n={n}: {report[str(n)]}", flush=True)
    print(json.dumps(report))
    with open(
        os.path.join(REPO, "SCALE_PROBE_CHANGEFEED.json"), "w"
    ) as fh:
        json.dump(report, fh, indent=1)
    return 0


def main() -> int:
    if len(sys.argv) < 2 or sys.argv[1] not in (
        "gen", "run", "changefeed", "graph"
    ):
        print(__doc__)
        return 2
    if sys.argv[1] == "gen":
        gen(int(sys.argv[2]) if len(sys.argv) > 2 else SCALE)
        return 0
    if sys.argv[1] == "changefeed":
        return changefeed()
    # flags parse BEFORE dispatch — a subcommand that silently
    # ignored --runs/--scales would overwrite its artifact with
    # parameters the user did not ask for (review r15, the same
    # silent-no-op class as the --only validation)
    runs = 3
    if "--runs" in sys.argv:
        runs = int(sys.argv[sys.argv.index("--runs") + 1])
    scales = None
    if "--scales" in sys.argv:
        scales = [
            int(x)
            for x in sys.argv[sys.argv.index("--scales") + 1].split(",")
        ]
    if sys.argv[1] == "graph":
        return graph_probe(runs, tuple(scales or (3, SCALE)))
    only = None
    if "--only" in sys.argv:
        only = sys.argv[sys.argv.index("--only") + 1].split(",")
    return run(runs, scales or [SCALE], only)


if __name__ == "__main__":
    raise SystemExit(main())
