"""Deterministic k-means (Lloyd) over the embedding table.

The training loop behind an IVF index (``ann_ivf_probe_topk`` probes
cells; ``label_centroids`` is the update step): seed k centroids, then
alternate assign (nearest centroid) and update (mean of assigned
vectors). Two full iterations run here, unrolled identically in the
DuckDB oracle, with every step engine-exact:

- components scalar-quantized to integers (floor(x·1000) — float→double
  is exact; ``functions/exact.quantized``, shared with the whole
  embedding family);
- distances are exact int64 sums of squared differences (|q| ≤ ~1000 ⇒
  per-dim ≤ 4e6, ×64 dims ≪ 2^63);
- argmin breaks ties on cluster id (lexicographic (dist, cluster) min);
- centroid update is *floored* integer division of exact sums — written
  as (s - pmod(s, n)) div n on both engines: both Spark ``div`` and
  DuckDB ``//`` truncate toward zero (measured: (-7)//3 = -2 on
  both), and quantized sums go negative, so the pmod adjustment is
  what pins FLOOR semantics — not an engine-difference workaround;
- seeding picks the k vectors with smallest md5(vec_id) (deterministic,
  uniformly spread, no RNG).

Scale shape per iteration: one crossJoin of the corpus against the
broadcast k-row centroid table (k is a config constant — always
broadcastable), an argmin aggregate keyed by vec_id (uniform), and an
update aggregate keyed by (cluster, dim) (cardinality k×dims). No
driver-side collect anywhere; iterations chain as narrow DataFrame
plans, which is exactly how MLlib's KMeans structures a round.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, SparkSession, functions as F

from ..functions.exact import QUANT_SCALE, int_sq_dist, quantized, sq_norm
from ..session import cached, detach
from ..sources.tables import load_spread
from .registry import QueryCatalog
from .similarity import _cosine_pairs

CATALOG = QueryCatalog()

KMEANS_K = 8
KMEANS_ITERATIONS = 2

_QUANT_SQL = (
    "list_transform(embedding,"
    f" x -> CAST(floor(CAST(x AS DOUBLE) * {QUANT_SCALE}) AS BIGINT))"
)

#: DuckDB: squared-L2 between two quantized list columns a and b.
def _dist_sql(a: str, b: str) -> str:
    return (
        f"list_sum(list_transform(range(1, len({a}) + 1),"
        f" i -> ({a}[i] - {b}[i]) * ({a}[i] - {b}[i])))"
    )


def _assign_cte(vecs: str, cents: str, out: str) -> str:
    """DuckDB CTE pair assigning each vec to its nearest centroid."""
    return f"""
    {out}_d AS (
        SELECT v.vec_id, c.cluster,
               {_dist_sql("v.v", "c.v")} AS dist
        FROM {vecs} v CROSS JOIN {cents} c
    ),
    {out} AS (
        SELECT vec_id, cluster, dist
        FROM (
            SELECT vec_id, cluster, dist,
                   ROW_NUMBER() OVER (
                       PARTITION BY vec_id ORDER BY dist, cluster
                   ) AS rn
            FROM {out}_d
        )
        WHERE rn = 1
    )"""


def _update_cte(assign: str, out: str) -> str:
    """DuckDB CTE pair recomputing centroids from an assignment."""
    return f"""
    {out}_s AS (
        SELECT a.cluster, s.dim,
               SUM(s.val) AS sv, COUNT(*) AS n
        FROM {assign} a
        JOIN q ON a.vec_id = q.vec_id,
             unnest(list_transform(range(1, len(q.v) + 1),
                    i -> {{'dim': i - 1, 'val': q.v[i]}})) AS u(s)
        GROUP BY a.cluster, s.dim
    ),
    {out} AS (
        SELECT cluster,
               list(CAST((sv - ((sv % n + n) % n)) // n AS BIGINT)
                    ORDER BY dim) AS v
        FROM {out}_s
        GROUP BY cluster
    )"""


def _lloyd_cte_chain(iters: int) -> str:
    """The full Lloyd chain as a CTE prefix, GENERATED from the
    iteration count: ``q`` (quantized vectors) … ``a{iters}`` (final
    assignments). Generated, never hand-unrolled, so retuning
    KMEANS_ITERATIONS retunes the oracle with the Spark loop instead
    of silently diverging from a fixed 2-iteration chain (review
    r06 — the PROBE_TOP_K divergence-trap class)."""
    parts = [
        f"""
    WITH q AS (
        SELECT vec_id, {_QUANT_SQL} AS v FROM embeddings
    ),
    seeds AS (
        SELECT CAST(ROW_NUMBER() OVER (
                   ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id
               ) - 1 AS INTEGER) AS cluster,
               v
        FROM q
        ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id
        LIMIT {KMEANS_K}
    )"""
    ]
    cents = "seeds"
    for i in range(1, iters + 1):
        parts.append(_assign_cte("q", cents, f"a{i}"))
        if i < iters:
            parts.append(_update_cte(f"a{i}", f"c{i}"))
            cents = f"c{i}"
    return ",".join(parts)


_KMEANS_CTE_SQL = _lloyd_cte_chain(KMEANS_ITERATIONS)
#: Name of the chain's final-assignment CTE.
_FINAL_ASSIGN = f"a{KMEANS_ITERATIONS}"


@CATALOG.add(
    "kmeans_lloyd_assignments",
    _KMEANS_CTE_SQL
    + f"""
    SELECT vec_id, CAST(cluster AS INTEGER) AS cluster,
           CAST(dist AS BIGINT) AS dist_q
    FROM {_FINAL_ASSIGN}
    """,
    doc=f"k-means (k = {KMEANS_K}), {KMEANS_ITERATIONS} Lloyd "
    "iterations unrolled: md5-seeded centroids → assign → exact-int "
    "centroid update → assign; returns each vector's final cluster "
    "and quantized squared-L2 distance. Every iteration is corpus × "
    "broadcast(k centroids) with an argmin keyed by vec_id and an "
    "update keyed by (cluster, dim) — the centroid table is bounded "
    "by config k, so the broadcast is always safe, and no step "
    "collects to the driver. Ties (equal distance) break on cluster "
    "id; centroid division floors identically on both engines "
    "(pmod-adjusted div — both engines truncate toward zero, the "
    "pmod is what makes it FLOOR for negative sums). The "
    "same loop body iterated to convergence IS MLlib-shape k-means; "
    "2 rounds keep the oracle CTE chain finite.",
    tags=("similarity", "embedding", "iterative"),
)
def kmeans_lloyd_assignments(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _kmeans_assign(spark, sf_dir, KMEANS_K, keep_v=False)


def _kmeans_assign(
    spark: SparkSession, sf_dir: str, k: int, keep_v: bool
) -> DataFrame:
    """Final Lloyd assignment, eagerly materialized.

    (vec_id, cluster, dist_q[, v]). The in-row argmin already carries
    ``v`` through the last assign pass, so a caller that needs vectors
    per assignment (SemDeDup's intra-cell cosine) passes ``keep_v=True``
    and reads them here instead of re-joining the corpus on vec_id —
    one SortMergeJoin of O(corpus) rows removed (guide §3; r16
    optimization). The catalog query above drops ``v`` before the
    checkpoint so its materialized footprint is unchanged."""
    e = load_spread(spark, sf_dir, "embeddings")
    # q feeds the seed sort plus every iteration's crossJoin and
    # update join (~5 branches at 2 iterations); Spark does not
    # dedupe common subplans, so persist the quantized frame once
    # (similarity.py documents this exact trap).
    with cached(e.select("vec_id", quantized().alias("v"))) as q:
        q.count()

        from pyspark.sql import Window

        order = [F.md5(F.col("vec_id").cast("string")), F.col("vec_id")]
        seeds = (
            q.orderBy(*order)
            .limit(k)
            # Post-limit window over k rows — single tiny partition by
            # construction, not a scale concern.
            .select(
                (F.row_number().over(Window.orderBy(*order)) - 1)
                .cast("int")
                .alias("cluster"),
                "v",
            )
        )

        def assign(cents: DataFrame) -> DataFrame:
            # One-row sorted centroid ARRAY instead of a k-row broadcast
            # relation: the argmin runs IN-ROW (transform + array_min over
            # the k candidates) rather than materializing corpus×k rows
            # through a crossJoin and re-collapsing them with a hash
            # aggregate keyed by vec_id — one Exchange of O(corpus) rows
            # fewer per Lloyd iteration, at any scale. Same integer
            # distance arithmetic and the same
            # (dist, cluster) lexicographic tie-break as the former
            # min(struct(dist, cluster)) hash aggregate — array_min uses
            # identical struct ordering — so assignments are bit-identical
            # (oracle-pinned).
            carr = cents.agg(
                F.array_sort(
                    F.collect_list(F.struct("cluster", "v"))
                ).alias("cents")
            )
            m = F.array_min(
                F.transform(
                    "cents",
                    lambda c: F.struct(
                        int_sq_dist("v", c["v"]).alias("dist"),
                        c["cluster"].alias("cluster"),
                    ),
                )
            )
            # ``v`` rides along so update() explodes it directly instead
            # of joining back to q on vec_id — the iteration's second
            # removed shuffle (the old plan exchanged q AND the argmin
            # output by vec_id to feed the centroid update).
            return q.crossJoin(F.broadcast(carr)).select(
                "vec_id",
                m["cluster"].alias("cluster"),
                m["dist"].alias("dist"),
                "v",
            )

        def update(assigned: DataFrame) -> DataFrame:
            ex = (
                assigned
                .select("cluster", F.posexplode("v").alias("dim", "val"))
                .groupBy("cluster", "dim")
                .agg(
                    F.sum("val").alias("sv"),
                    F.count(F.lit(1)).alias("n"),
                )
                .select(
                    "cluster",
                    "dim",
                    F.expr("(sv - pmod(sv, n)) div n").alias("cq"),
                )
            )
            return ex.groupBy("cluster").agg(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("dim", "cq"))),
                    lambda s: s["cq"],
                ).alias("v")
            )

        cents = seeds
        assigned = None
        for i in range(KMEANS_ITERATIONS):
            assigned = assign(cents)
            if i < KMEANS_ITERATIONS - 1:
                cents = update(assigned)
        cols = [
            F.col("vec_id"),
            F.col("cluster").cast("int").alias("cluster"),
            F.col("dist").cast("long").alias("dist_q"),
        ]
        if keep_v:
            cols.append(F.col("v"))
        return detach(assigned.select(*cols))


# --------------------------------------------------------------------------
# SemDeDup: semantic dedup inside k-means cells (Abbas et al. 2023)
# --------------------------------------------------------------------------

#: Within-cluster cosine at or above this marks the larger vec_id as a
#: semantic duplicate of the smaller.
SEMDEDUP_THRESHOLD = 0.35

_DOT_SQL = (
    "list_sum(list_transform(range(1, len(a.v) + 1),"
    " i -> a.v[i] * b.v[i]))"
)


@CATALOG.add(
    "semantic_dedup_keep_list",
    _KMEANS_CTE_SQL
    + f""",
    n AS (
        SELECT a.vec_id, a.cluster, q.v,
               list_sum(list_transform(q.v, x -> x * x)) AS nrm
        FROM {_FINAL_ASSIGN} a JOIN q ON a.vec_id = q.vec_id
    ),
    dups AS (
        SELECT DISTINCT b.vec_id AS dup_id
        FROM n a JOIN n b
          ON a.cluster = b.cluster AND a.vec_id < b.vec_id
        WHERE a.nrm > 0 AND b.nrm > 0
          AND {_DOT_SQL} / sqrt(a.nrm * b.nrm)
                >= {SEMDEDUP_THRESHOLD}
    )
    SELECT n.vec_id, CAST(n.cluster AS INTEGER) AS cluster,
           d.dup_id IS NULL AS kept
    FROM n LEFT JOIN dups d ON n.vec_id = d.dup_id
    """,
    doc="SemDeDup (Abbas et al. 2023, arXiv:2303.09540): semantic "
    "deduplication that only compares embeddings INSIDE a k-means "
    "cell — the trick that turns O(n²) corpus-wide cosine dedup into "
    "Σ|cell|². Reuses the deterministic 2-iteration Lloyd assignment "
    "above verbatim (same CTE prefix in the oracle, same DataFrame "
    "chain in Spark), then an equi-join on the cluster id generates "
    f"candidate pairs, exact quantized cosine ≥ {SEMDEDUP_THRESHOLD} "
    "marks the larger vec_id a duplicate (deterministic keep rule: "
    "smallest id in a dup pair survives), and a left anti-style join "
    "flags the keep-list. At 100 TB: the corpus is written bucketed "
    "by cluster, so pair generation is shuffle-free within cells, "
    "cell sizes are capped by raising k (paper uses k ≈ √n — the "
    "``k`` parameter; the r15 10× scale probe measured the fixed-k "
    "catalog shape going 19–22× in wall at 10× vectors, exactly the "
    "Σ|cell|² law, and k ≈ √n restoring a near-linear slope), and "
    "the dup set stays a small broadcast against the corpus. The "
    "cosine "
    "arithmetic is the exact integer quantization shared by the whole "
    "embedding family, so the flag column hashes identically across "
    "engines. This catalog fixture PINS k=KMEANS_K so the oracle's "
    "unrolled CTE (which hard-codes the same k) stays engine-exact; "
    "the library function's own default is the scale-safe k=None "
    "→ k≈√n resolution below.",
    tags=("similarity", "embedding", "dedup", "join", "iterative"),
)
def _semantic_dedup_keep_list_fixture(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Catalog/driver entry: k pinned to the oracle's KMEANS_K.

    The DuckDB oracle unrolls the Lloyd CTE at a fixed k, so the
    driver-compared shape must not follow the library default when it
    became data-dependent (VERDICT r15 task 2 — scale-safe defaults
    without touching driver hashes)."""
    return semantic_dedup_keep_list(spark, sf_dir, k=KMEANS_K)


def semantic_dedup_keep_list(
    spark: SparkSession, sf_dir: str, k: int | None = None
) -> DataFrame:
    """SemDeDup keep-list; ``k=None`` (the default) resolves
    k = max(KMEANS_K, ⌈√n⌉) from ONE count of the embedding table at
    call time — the paper's cell sizing (Abbas et al. 2023 §3) and
    the scale-safe shape: the r15 10× probe measured fixed k=8 at
    19–22× wall at 10× vectors (the Σ|cell|² law) vs ~3× for k≈√n
    (committed SCALE_PROBE.json rows ``semantic_dedup_keep_list`` /
    ``[k=sqrt(n)]``). The count is a metadata-only parquet row-count
    scan — negligible next to the two Lloyd corpus×centroids passes
    the plan already pays. Pass an explicit ``k`` to pin cells (the
    catalog fixture above pins KMEANS_K for oracle parity); the
    KMEANS_K floor keeps tiny corpora from degenerating to k≈1
    all-pairs cells."""
    e = load_spread(spark, sf_dir, "embeddings")
    if k is None:
        n_vecs = e.count()
        k = max(KMEANS_K, math.isqrt(max(n_vecs - 1, 0)) + 1)
    # keep_v=True: the Lloyd assign already carries each vector through
    # its last pass, so read (vec_id, cluster, v) straight off the
    # materialized assignment instead of re-quantizing the embedding
    # table and joining it back on vec_id — one corpus-wide
    # SortMergeJoin and one duplicate quantization pass removed (guide
    # §3; r16 optimization, oracle-pinned).
    assigned = _kmeans_assign(spark, sf_dir, k, keep_v=True).select(
        "vec_id", "cluster", "v"
    )
    # The assignment frame is referenced by THREE branches below (pair
    # sides a/b + the final keep-list join); Spark does not dedupe
    # common subplans across join inputs, so persist + fill it once
    # (the frame is O(corpus) rows of quantized vectors — the same
    # footprint the signature cache carries in plans/similarity.py,
    # and the same recompute trap documented there).
    with cached(assigned.withColumn("nrm", sq_norm("v"))) as n:
        n.count()
        dups = (
            _cosine_pairs(n, "cluster", SEMDEDUP_THRESHOLD)
            .select(F.col("vec_b").alias("dup_id"))
            .distinct()
        )
        return detach(
            n.join(dups, n.vec_id == dups.dup_id, "left").select(
                "vec_id",
                F.col("cluster").cast("int").alias("cluster"),
                F.col("dup_id").isNull().alias("kept"),
            )
        )
