"""Link-graph analytics: iterative PageRank in exact integer algebra.

Corpus-curation use: link-graph centrality is a standard quality prior
for web-scale training data (rank pages by the link structure, keep
the head, downweight the tail). The reference has no graph surface at
all (its engine is single-pass ETL); this module supplies the
ITERATIVE-algorithm shape Spark expresses as a chained-join DAG — the
same family as ``operators/graph.py``'s pointer-jumping connected
components, but with per-iteration numeric redistribution instead of
label convergence.

Determinism design: textbook PageRank is float and never hash-stable
across engines; this implementation carries rank mass as integer
micro-units (total mass 1e12) and replaces every division with
explicit integer division — ``div`` in Spark, ``//`` in DuckDB, both
truncating toward zero identically, which equals FLOOR here because
every operand (rank mass, degree, damping term) is non-negative — so
after any number of iterations the per-node rank is bit-identical on
any engine under any partitioning. The damping
split is (15 * base) div 100 + (85 * inflow) div 100 per node. Floor
truncation leaks a few units of mass per node per iteration (bounded
by 2 units/node/iter); ranking order is unaffected and the leak is
deterministic, which is the property that matters for an oracle-
checked pipeline gate.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from ..session import cached, detach
from ..sources.tables import load_tables
from .registry import QueryCatalog

CATALOG = QueryCatalog()

#: PageRank iterations (unrolled in both engines' plans).
PR_ITERS = 3
#: Total rank mass in integer micro-units.
PR_MASS = 1_000_000_000_000

# Node ids are STRUCTURALLY disjoint — customer c -> 2c, supplier
# s -> 2s+1 — never offset-based: an additive offset collides as soon
# as custkey exceeds it (TPC-H custkey = 150k x SF crosses any fixed
# constant; the same defect class as the shard*1e6 pack_id ADVICE
# r05 removed), while parity-tagging is collision-free at every SF.

_EDGE_SQL = """
    e0 AS (
        SELECT DISTINCT o.o_custkey * 2 AS src,
               l.l_suppkey * 2 + 1 AS dst
        FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
    ),
    edges AS (
        SELECT src, dst FROM e0
        UNION
        SELECT dst, src FROM e0
    ),
    deg AS (SELECT src, COUNT(*) AS outdeg FROM edges GROUP BY src),
    nodes AS (SELECT DISTINCT src AS node FROM edges),
    nn AS (SELECT COUNT(*) AS n FROM nodes)
"""


def _iter_sql(prev: int, cur: int) -> str:
    return f""",
    i{cur} AS (
        SELECT e.dst AS node,
               CAST(SUM(r.rank_scaled // d.outdeg) AS BIGINT) AS inflow
        FROM edges e
        JOIN r{prev} r ON e.src = r.node
        JOIN deg d ON e.src = d.src
        GROUP BY e.dst
    ),
    r{cur} AS (
        SELECT node,
               (15 * ({PR_MASS} // n)) // 100
                   + (85 * inflow) // 100 AS rank_scaled
        FROM i{cur}, nn
    )"""


_PR_SQL = (
    "WITH "
    + _EDGE_SQL
    + f""",
    r0 AS (
        SELECT node, {PR_MASS} // n AS rank_scaled FROM nodes, nn
    )"""
    + "".join(_iter_sql(i, i + 1) for i in range(PR_ITERS))
    + f"""
    SELECT node, CAST(rank_scaled AS BIGINT) AS rank_scaled
    FROM r{PR_ITERS}
    """
)


@CATALOG.add(
    "pagerank_trade_graph",
    _PR_SQL,
    doc=f"Iterative PageRank ({PR_ITERS} unrolled iterations, damping "
    "0.85) over the customer-supplier trade graph (symmetrized "
    "distinct (custkey, suppkey) edges from lineitem x orders, node "
    "ids parity-tagged 2c / 2s+1 so the two key spaces are disjoint "
    "at ANY scale factor; symmetrization gives every node "
    "out-degree >= 1, so there is no "
    "dangling-mass case to special-case). Rank mass is integer "
    "micro-units with explicit floor division at every step (Spark "
    "`div` == DuckDB `//`), making the result bit-identical across "
    "engines — the determinism that lets a link-graph quality prior "
    "gate a training corpus reproducibly (the Common-Crawl-style "
    "head/tail cut). Plan: edges and degrees materialize once; each "
    "iteration is ONE equi-join of the (node, rank) frame against "
    "the edge list plus ONE hash aggregation on dst — rank state is "
    "O(nodes), never O(edges). At 100 TB the edge list is "
    "partitioned by src and the rank frame co-partitions with it, so "
    "every iteration reuses the same shuffle layout; like the "
    "pointer-jumping CC in operators/graph.py, lineage is cut with "
    "a checkpoint every few iterations (here the unrolled depth is "
    f"{PR_ITERS}, well under the lineage limit).",
    tags=("join", "agg", "profiling"),
)
def pagerank_trade_graph(spark: SparkSession, sf_dir: str) -> DataFrame:
    # The detach lives at this catalog boundary; pagerank_plan stays
    # lazy and inspectable (tests/test_plans.py pins the persisted-edge
    # reuse there).
    with cached(pagerank_edges_deg(spark, sf_dir)) as edges_deg:
        n = edges_deg.select("src").distinct().count()
        return detach(pagerank_plan(edges_deg, n))


def pagerank_edges_deg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The loop-invariant (src, dst, outdeg) edge frame (lazy).

    The edge list is referenced by every unrolled iteration — the
    catalog builder persists it so the symmetrize+distinct+degree
    build runs once, not once per iteration (the 100 TB analog: a
    materialized, src-partitioned edge table that every iteration's
    join reuses)."""
    t = load_tables(spark, sf_dir, ("lineitem", "orders"))
    e0 = (
        t["lineitem"]
        .join(
            t["orders"],
            t["lineitem"]["l_orderkey"] == t["orders"]["o_orderkey"],
        )
        .select(
            (F.col("o_custkey") * 2).alias("src"),
            (F.col("l_suppkey") * 2 + 1).alias("dst"),
        )
        .distinct()
    )
    # No .distinct() on the symmetrized union (guide §2.4, removed in
    # the r16 optimization pass): e0 is already distinct, its swapped
    # copy is therefore distinct too, and the two sides cannot overlap
    # because node ids are parity-tagged (e0 rows are (even, odd),
    # swapped rows (odd, even)) — so the union is duplicate-free by
    # construction and the old outer distinct was a full extra
    # shuffle+aggregate of the edge list (the query's largest frame)
    # at every scale. Result is bit-identical: same edge set → same
    # degrees → same rank walk (pinned by the unchanged oracle).
    edges = e0.union(
        e0.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    )
    deg = edges.groupBy("src").agg(F.count(F.lit(1)).alias("outdeg"))
    return edges.join(deg, "src")


def pagerank_plan(edges_deg: DataFrame, n: int) -> DataFrame:
    """LAZY unrolled PageRank iteration plan — the inspectable
    contract (tests/test_plans.py asserts every iteration scans the
    SAME persisted edge frame instead of rebuilding it). Like
    connected_components, this is an iterative ALGORITHM, so the
    caller's one count() action both materializes the cache and pins
    N — the per-node base share then folds into the plan as a
    literal instead of a per-iteration scalar cross-join."""
    base = PR_MASS // n
    ranks = (
        edges_deg.select(F.col("src").alias("node"))
        .distinct()
        .select(
            "node", F.lit(base).cast("bigint").alias("rank_scaled")
        )
    )
    for _ in range(PR_ITERS):
        inflow = (
            edges_deg.join(
                ranks.withColumnRenamed("node", "src"), "src"
            )
            .select(
                F.col("dst").alias("node"),
                F.expr("rank_scaled div outdeg").alias("contrib"),
            )
            .groupBy("node")
            .agg(F.sum("contrib").alias("inflow"))
        )
        ranks = inflow.select(
            "node",
            (
                F.lit((15 * base) // 100).cast("bigint")
                + F.expr("(85 * inflow) div 100")
            ).alias("rank_scaled"),
        )
    return ranks.select(
        "node",
        F.col("rank_scaled").cast("bigint").alias("rank_scaled"),
    )
