"""Connected-components operator tests (synthetic graphs).

The catalog's near_dup_clusters oracle only exercises shallow
components (planted near-dup pairs/triples); these tests drive the
operator itself on adversarial shapes — long chains, multiple
components, duplicate/self edges — and pin the O(log n) convergence
pointer jumping buys.
"""

from __future__ import annotations

import pytest
from pyspark.sql import Row

from aws_weather_data_pipeline_spark.operators.graph import (
    connected_components,
)


def _edges(spark, pairs):
    return spark.createDataFrame(
        [Row(src=a, dst=b) for a, b in pairs]
    )


def _labels(spark, pairs, **kw):
    out = connected_components(_edges(spark, pairs), **kw)
    return {r["node"]: r["cluster_id"] for r in out.collect()}


def test_chain_collapses_to_min(spark):
    # 0-1-2-...-99: one component; diameter 99 would defeat plain
    # min-label propagation at max_iters=30 — pointer jumping must
    # converge in ~log2(100) rounds.
    got = _labels(spark, [(i, i + 1) for i in range(99)])
    assert got == {i: 0 for i in range(100)}


def test_multiple_components_and_orientation(spark):
    # Two components, edges given in mixed orientation; min id wins
    # regardless of direction.
    got = _labels(spark, [(5, 3), (3, 9), (20, 30), (41, 30)])
    assert got == {3: 3, 5: 3, 9: 3, 20: 20, 30: 20, 41: 20}


def test_duplicate_and_self_edges_are_harmless(spark):
    got = _labels(spark, [(1, 2), (2, 1), (1, 2), (7, 7)])
    assert got == {1: 1, 2: 1, 7: 7}


def test_nonconvergence_raises_not_returns(spark):
    # max_iters=1 cannot finish a 16-node chain: the operator must
    # fail loudly, never return split components (which downstream
    # would read as multiple keepers — silently kept duplicates).
    with pytest.raises(RuntimeError, match="did not converge"):
        connected_components(
            _edges(spark, [(i, i + 1) for i in range(15)]), max_iters=1
        ).collect()


@pytest.mark.parametrize(
    "knob, value",
    [("max_iters", 0), ("max_iters", -1),
     ("checkpoint_every", 0), ("checkpoint_every", -2)],
)
def test_round_bounds_below_one_are_refused_before_any_job(
    spark, knob, value
):
    # max_iters=0 would fill the caches and then report non-convergence;
    # checkpoint_every=0 would pass silently without a checkpoint dir and
    # divide by zero in round 1 with one.
    from tests.conftest import count_jobs

    def refuse():
        with pytest.raises(ValueError, match=knob):
            connected_components(_edges(spark, [(1, 2)]), **{knob: value})

    assert count_jobs(spark, f"test-cc-{knob}{value}", refuse) == 0


def test_reliable_checkpoint_cadence_on_deep_chain(spark, tmp_path):
    """checkpoint_every: a >10-round chain takes a reliable checkpoint
    every N rounds once a checkpoint dir is configured — the 100×
    fault-tolerance story as code (losing a localCheckpoint block
    mid-iteration is otherwise unrecoverable, lineage being cut)."""
    import os

    from pyspark.sql import functions as F

    # Without a checkpoint dir the operator must silently fall back to
    # localCheckpoint-only (assert BEFORE setting the dir — the session
    # is shared and setCheckpointDir is sticky).
    assert spark.sparkContext.getCheckpointDir() is None
    stats = {}
    small = spark.range(31).select(
        F.col("id").alias("src"), (F.col("id") + 1).alias("dst")
    )
    connected_components(small, stats=stats).collect()
    assert stats["reliable_checkpoints"] == 0

    ckpt = str(tmp_path / "cc_ckpt")
    spark.sparkContext.setCheckpointDir(ckpt)
    n = 4000  # diameter 3999: 12 pointer-jump rounds (>10)
    edges = spark.range(n - 1).select(
        F.col("id").alias("src"), (F.col("id") + 1).alias("dst")
    )
    stats = {}
    out = connected_components(edges, checkpoint_every=3, stats=stats)
    assert out.filter(F.col("cluster_id") == 0).count() == n
    assert stats["rounds"] > 10
    assert stats["reliable_checkpoints"] == stats["rounds"] // 3
    # the reliable checkpoints actually hit disk
    written = [
        f for _, _, files in os.walk(ckpt) for f in files
    ]
    assert written, "no reliable checkpoint files were written"
