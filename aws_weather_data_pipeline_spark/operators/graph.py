"""Distributed connected components (DataFrame-only, no GraphX).

The iterative operator behind near-dup clustering: group edge-connected
nodes and label each component with its minimum node id.

Algorithm: min-label propagation PLUS pointer jumping. Each round
first takes the min label over graph neighbors (one hop through the
edge list), then compresses paths by replacing every node's label with
its label's label. Neighbor-min alone needs O(diameter) rounds — a
10,000-doc near-dup chain would need 10,000 shuffles; the jump step
halves label-tree depth every round, bounding rounds at O(log n)
(the standard hybrid from the large-star/small-star family, Kiveris
et al., "Connected Components in MapReduce and Beyond").

Scale shape per round: one join of the edge list against the label
frame (shuffle on node id), one aggregation, one self-join of the
label frame. State between rounds is only the label frame —
O(participating nodes), checkpointed and superseded round over round.
Lineage is truncated EVERY round (localCheckpoint — executor-memory
blocks, free); every ``checkpoint_every``-th round additionally takes
a RELIABLE checkpoint (``DataFrame.checkpoint`` to the configured
checkpoint dir) so a production run at 10⁹+ nodes survives executor
loss mid-iteration — losing a localCheckpoint block after round 12
would otherwise abort the whole job, since the lineage needed to
recompute it was cut. When no checkpoint dir is configured (local
runs, tests that don't ask for it), every round falls back to
localCheckpoint and behavior is unchanged.
"""

from __future__ import annotations

from contextlib import ExitStack

from pyspark.sql import DataFrame, functions as F

from ..session import cached

#: Pointer jumping converges in O(log2 n) rounds; 30 covers 2^30 nodes
#: with margin. Hitting the cap means something is broken, not slow.
CC_MAX_ITERS = 30

#: Reliable-checkpoint cadence: rarely enough that the (disk-write)
#: cost amortizes, often enough that a lost executor replays at most
#: this many rounds.
CC_CHECKPOINT_EVERY = 10


def connected_components(
    edges: DataFrame,
    max_iters: int = CC_MAX_ITERS,
    checkpoint_every: int = CC_CHECKPOINT_EVERY,
    stats: dict | None = None,
) -> DataFrame:
    """(node, cluster_id) for every node in ``edges`` (src, dst).

    Edges are treated as undirected (symmetrized internally);
    ``cluster_id`` is the component's minimum node id. Raises
    ``RuntimeError`` if the fixpoint is not reached in ``max_iters``
    rounds — returning early would split components and elect
    duplicate keepers, which a dedup pass must never do silently.

    Every ``checkpoint_every``-th round writes a reliable checkpoint
    (requires ``sparkContext.setCheckpointDir``; silently falls back
    to localCheckpoint when none is set). ``stats``, if given, receives
    ``{"rounds": N, "reliable_checkpoints": M}`` for observability.

    Runs Spark ACTIONS to convergence (this is an algorithm, not a
    lazy plan); the returned frame is small and checkpoint-backed, so
    it outlives the edge and seed-label caches released here.
    ``max_iters`` and ``checkpoint_every`` below 1 are refused before
    any Spark job runs.
    """
    if max_iters < 1 or checkpoint_every < 1:
        raise ValueError(
            f"connected_components: max_iters={max_iters} and "
            f"checkpoint_every={checkpoint_every} must both be at least 1"
        )
    sc = edges.sparkSession.sparkContext
    can_reliable = sc.getCheckpointDir() is not None
    n_reliable = 0
    converged = False
    rounds = 0
    sym = edges.select("src", "dst").union(
        edges.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    )
    # ``e`` is read by every round's neighbor join; the seed labels
    # only feed round 1, whose checkpoint cuts all later rounds loose,
    # so ``seed`` is closed right after round 1's action.
    with cached(sym) as e, ExitStack() as seed:
        labels = seed.enter_context(
            cached(
                e.select(F.col("src").alias("node"))
                .distinct()
                .withColumn("label", F.col("node"))
            )
        )
        labels.count()  # fill edges+labels before iterating
        # NULL endpoints never equi-join (null != null), so a null edge
        # would silently STOP label propagation across it and leak a
        # phantom node=NULL row into the output — violating the no-
        # silent-split contract. The frames are filled, so this check
        # reads the cache, not the source.
        if e.filter(
            F.col("src").isNull() | F.col("dst").isNull()
        ).limit(1).count():
            raise ValueError(
                "connected_components: edge list contains NULL "
                "endpoints; drop or repair them upstream — a null edge "
                "cannot propagate labels and would split components "
                "silently"
            )
        for rounds in range(1, max_iters + 1):
            nb = e.join(labels, e.dst == labels.node).select(
                F.col("src").alias("node"), "label", F.lit(False).alias("own")
            )
            # Tag each node's OWN current label through the
            # min-aggregation (exactly one own-row per node) so
            # convergence is decidable from the round's output frame
            # alone: one action and two joins per round, with no separate
            # join against the old labels.
            cand = (
                labels.select("node", "label", F.lit(True).alias("own"))
                .union(nb)
                .groupBy("node")
                .agg(
                    F.min("label").alias("label"),
                    F.max(F.when(F.col("own"), F.col("label"))).alias(
                        "old_label"
                    ),
                )
            )
            # Pointer jump: label ← label(label). Every label value is a
            # node id in the same frame, so the inner self-join is total.
            parent = cand.select(
                F.col("node").alias("p_node"), F.col("label").alias("p_label")
            )
            # Lazy truncation, not persist: each round's plan references
            # the previous frame several times, so lineage GROWS ~4× per
            # round — O(log n) rounds is still an exponentially large plan
            # by round ~7 (observed driver OOM on a 100-node chain).
            # Truncating keeps planning O(1) per round; lazy (not eager)
            # so the convergence aggregate below both materializes the
            # checkpoint AND computes the changed-count in ONE action.
            # localCheckpoint normally (executor memory, free); every
            # checkpoint_every-th round a RELIABLE checkpoint instead, so
            # executor loss replays at most checkpoint_every rounds.
            jumped = cand.join(parent, cand.label == parent.p_node).select(
                "node",
                F.col("p_label").alias("label"),
                (F.col("p_label") != F.col("old_label")).alias("changed"),
            )
            if can_reliable and rounds % checkpoint_every == 0:
                jumped = jumped.checkpoint(eager=False)
                n_reliable += 1
            else:
                jumped = jumped.localCheckpoint(eager=False)
            # Single action: materializes the lazy checkpoint AND returns
            # the convergence count (None only on an empty graph).
            changed = (
                jumped.agg(F.sum(F.col("changed").cast("long"))).first()[0]
                or 0
            )
            seed.close()  # no-op after round 1
            # The superseded round's checkpoint blocks are released by
            # ContextCleaner once that frame is garbage collected,
            # which rebinding ``labels`` enables. Peak extra footprint
            # is therefore O(a few label frames), bounded by GC
            # latency, not by round count.
            labels = jumped.select("node", "label")
            if changed == 0:
                converged = True
                break
    if stats is not None:
        stats["rounds"] = rounds
        stats["reliable_checkpoints"] = n_reliable
    if not converged:
        raise RuntimeError(
            f"connected components did not converge in {max_iters} "
            "rounds — with pointer jumping that indicates a bug or a "
            "graph far beyond the configured scale, not a long chain"
        )
    return labels.select("node", F.col("label").alias("cluster_id"))
