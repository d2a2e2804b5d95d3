"""Incremental aggregate maintenance (sinks/incremental.py):
convergence to the from-scratch GROUP BY, exactly-once replay,
insert-only refusal, crash-resume from the destination alone."""

from __future__ import annotations

import os
from decimal import Decimal

import pytest
from pyspark.sql import functions as F

from aws_weather_data_pipeline_spark.sinks import incremental as inc
from aws_weather_data_pipeline_spark.sinks import tablelog as tl


def _events(spark, rows):
    # (user, value) pairs
    return spark.createDataFrame(rows, "user int, value double")


def _recompute(spark, src):
    return {
        (r["user"],): (r["n_rows"], r["sum_value"])
        for r in tl.read_snapshot(spark, src)
        .groupBy("user")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_rows"),
            F.sum(F.col("value").cast("decimal(28,2)"))
            .cast("decimal(28,2)")
            .alias("sum_value"),
        )
        .collect()
    }


def _folded(spark, dst):
    return {
        (r["user"],): (r["n_rows"], r["sum_value"])
        for r in tl.read_snapshot(spark, dst).collect()
    }


def test_aggregate_converges_to_full_recompute_across_batches(
    spark, tmp_path
):
    src, dst = str(tmp_path / "src"), str(tmp_path / "agg")
    batches = [
        [(1, 10.0), (1, 2.5), (2, 7.0)],
        [(2, 1.0), (3, 4.25)],
        [(1, 0.25), (3, 4.25), (3, 100.0)],
    ]
    for batch in batches:
        tl.append(_events(spark, batch), src)
        v = inc.sync_aggregate(
            spark, src, dst, group_cols=["user"], sum_cols=["value"]
        )
        assert v is not None
        assert _folded(spark, dst) == _recompute(spark, src)
    # exact decimals, not float drift
    assert _folded(spark, dst)[(1,)] == (3, Decimal("12.75"))


def test_fold_racing_between_snapshot_and_commit_conflicts(
    spark, tmp_path, monkeypatch
):
    """Review r10 (confirmed double-count): sync_aggregate must read
    the destination head FIRST and derive the position from that same
    snapshot (the sync_changes shape). Simulate the losing interleave
    deterministically: a second maintainer folds the same source
    range between this worker's snapshot reads and its overwrite —
    the CAS must fail the stale worker into CommitConflict, and a
    plain retry must converge with nothing folded twice."""
    src, dst = str(tmp_path / "src"), str(tmp_path / "agg")
    tl.append(_events(spark, [(1, 10.0), (2, 1.0)]), src)
    inc.sync_aggregate(spark, src, dst, ["user"], ["value"])  # bootstrap
    tl.append(_events(spark, [(1, 100.0), (3, 7.0)]), src)

    real_read_changes = tl.read_changes
    fired = []

    def hijack(spark_, table_, lo, hi):
        if not fired:
            fired.append(True)
            # a further source append lands, then maintainer B folds
            # EVERYTHING — all after this worker snapshotted its
            # position + heads, so B's txn id (a later source head)
            # differs from this worker's and replay dedup cannot
            # catch the overlap; only the CAS can
            tl.append(_events(spark, [(2, 50.0)]), src)
            assert (
                inc.sync_aggregate(spark, src, dst, ["user"], ["value"])
                is not None
            )
        return real_read_changes(spark_, table_, lo, hi)

    monkeypatch.setattr(tl, "read_changes", hijack)
    with pytest.raises(tl.CommitConflict):
        inc.sync_aggregate(spark, src, dst, ["user"], ["value"])
    monkeypatch.setattr(tl, "read_changes", real_read_changes)
    # retry: position re-read from the destination head covers B's
    # fold, so there is nothing left to do — and nothing was doubled
    assert inc.sync_aggregate(spark, src, dst, ["user"], ["value"]) is None
    assert _folded(spark, dst) == _recompute(spark, src)
    # the SAME-source-head interleave is caught one layer earlier:
    # both folds carry the same txn id, so the stale worker's commit
    # replays as a no-op instead of conflicting
    tl.append(_events(spark, [(3, 9.0)]), src)
    fired.clear()

    def hijack_same_head(spark_, table_, lo, hi):
        if not fired:
            fired.append(True)
            assert (
                inc.sync_aggregate(spark, src, dst, ["user"], ["value"])
                is not None
            )
        return real_read_changes(spark_, table_, lo, hi)

    monkeypatch.setattr(tl, "read_changes", hijack_same_head)
    inc.sync_aggregate(spark, src, dst, ["user"], ["value"])  # no raise
    monkeypatch.setattr(tl, "read_changes", real_read_changes)
    assert _folded(spark, dst) == _recompute(spark, src)


def test_aggregate_position_bounded_by_destination_version(
    spark, tmp_path
):
    """aggregate_position(upto=) pins the head-first consistent
    snapshot: bounding the walk to an earlier destination version
    returns the position as of THAT commit, not the newest fold."""
    src, dst = str(tmp_path / "src"), str(tmp_path / "agg")
    tl.append(_events(spark, [(1, 1.0)]), src)
    inc.sync_aggregate(spark, src, dst, ["user"], ["value"])
    first_dst = tl.latest_version(dst)
    first_pos = inc.aggregate_position(dst)
    tl.append(_events(spark, [(2, 2.0)]), src)
    inc.sync_aggregate(spark, src, dst, ["user"], ["value"])
    assert inc.aggregate_position(dst) > first_pos
    assert inc.aggregate_position(dst, upto=first_dst) == first_pos


def test_aggregate_min_max_converge_like_sums(spark, tmp_path):
    """MIN/MAX are foldable under the same insert-only contract as
    counts/sums (inserts only improve an extremum; a delete could
    retract it, and rewrites are refused anyway): the maintained
    min/max match a from-scratch GROUP BY after every batch,
    including all-NULL groups staying NULL and NULL group keys."""
    src, dst = str(tmp_path / "src"), str(tmp_path / "agg")
    batches = [
        [(1, 10.0), (1, 2.5), (None, 7.0), (4, None)],
        [(2, 1.0), (3, 4.25), (4, None), (None, None)],
        [(1, 0.25), (3, 100.0), (2, -5.5), (4, None)],
    ]
    for batch in batches:
        tl.append(_events(spark, batch), src)
        v = inc.sync_aggregate(
            spark, src, dst, group_cols=["user"],
            sum_cols=["value"], min_cols=["value"], max_cols=["value"],
        )
        assert v is not None
        got = {
            (r["user"],): (r["n_rows"], r["sum_value"],
                           r["min_value"], r["max_value"])
            for r in tl.read_snapshot(spark, dst).collect()
        }
        expect = {
            (r["user"],): (r["n"], r["s"], r["lo"], r["hi"])
            for r in tl.read_snapshot(spark, src)
            .groupBy("user")
            .agg(
                F.count(F.lit(1)).cast("bigint").alias("n"),
                F.sum(F.col("value").cast("decimal(28,2)"))
                .cast("decimal(28,2)")
                .alias("s"),
                F.min("value").alias("lo"),
                F.max("value").alias("hi"),
            )
            .collect()
        }
        assert got == expect
    # group 4 saw only NULL values: every measure except the count
    # stays NULL, exactly like the full recompute
    assert got[(4,)][1:] == (None, None, None)
    assert got[(4,)][0] == 3


def test_aggregate_sync_is_idle_and_replay_safe(spark, tmp_path):
    src, dst = str(tmp_path / "src"), str(tmp_path / "agg")
    tl.append(_events(spark, [(1, 1.0), (2, 2.0)]), src)
    inc.sync_aggregate(spark, src, dst, ["user"], ["value"])
    head = tl.latest_version(dst)
    # idle source: nothing committed
    assert inc.sync_aggregate(spark, src, dst, ["user"], ["value"]) is None
    assert tl.latest_version(dst) == head
    # an orchestrator retry covering the same source range replays
    # the (source-qualified, r13) txn id and folds nothing twice
    tl.overwrite(
        tl.read_snapshot(spark, dst), dst,
        txn_id=(
            f"{inc.AGG_TXN_PREFIX}:{tl.source_key(src)}"
            f":{tl.latest_version(src)}"
        ),
    )
    assert tl.latest_version(dst) == head
    assert _folded(spark, dst) == _recompute(spark, src)


def test_aggregate_position_recovers_from_destination_alone(
    spark, tmp_path
):
    src, dst = str(tmp_path / "src"), str(tmp_path / "agg")
    tl.append(_events(spark, [(1, 1.0)]), src)
    inc.sync_aggregate(spark, src, dst, ["user"], ["value"])
    tl.append(_events(spark, [(1, 3.0), (4, 4.0)]), src)
    # a "fresh process" (no state beyond the logs) resumes exactly
    assert inc.aggregate_position(dst) == 0
    inc.sync_aggregate(spark, src, dst, ["user"], ["value"])
    assert inc.aggregate_position(dst) == 1
    assert _folded(spark, dst) == _recompute(spark, src)
    # and survives vacuum via the checkpoint fold
    tl.append(_events(spark, [(9, 9.0)]), dst, txn_id=None)
    tl.append(_events(spark, [(9, 9.0)]), dst, txn_id=None)
    tl.vacuum(dst, retain_last=1, min_age_seconds=0)
    assert inc.aggregate_position(dst) == 1


def test_aggregate_refuses_rewritten_source_range(spark, tmp_path):
    src, dst = str(tmp_path / "src"), str(tmp_path / "agg")
    tl.append(_events(spark, [(1, 1.0)]), src)
    inc.sync_aggregate(spark, src, dst, ["user"], ["value"])
    tl.overwrite(_events(spark, [(1, 99.0)]), src)
    # r13 reordered the checks feed-first (so a behind-retention
    # consumer gets read_changes' named remediation): an unrecorded
    # rewrite in range now surfaces as read_changes' served-
    # incrementally refusal; a feed-recorded rewrite still reaches
    # verify_insert_only's insert-only refusal. Either way: loud.
    with pytest.raises(
        ValueError, match="insert-only|served incrementally"
    ):
        inc.sync_aggregate(spark, src, dst, ["user"], ["value"])


def test_aggregate_count_only_and_compaction_transparent(
    spark, tmp_path
):
    src, dst = str(tmp_path / "src"), str(tmp_path / "agg")
    tl.append(_events(spark, [(1, 1.0), (1, 2.0), (2, 3.0)]), src)
    inc.sync_aggregate(spark, src, dst, group_cols=["user"])
    tl.compact(spark, src, n_files=1)  # rewrites layout, not data
    tl.append(_events(spark, [(2, 4.0)]), src)
    inc.sync_aggregate(spark, src, dst, group_cols=["user"])
    got = {
        r["user"]: r["n_rows"]
        for r in tl.read_snapshot(spark, dst).collect()
    }
    assert got == {1: 2, 2: 2}


def test_stream_to_log_to_aggregate_end_to_end(spark, tmp_path):
    """The full incremental pipeline: Structured Streaming drains
    into the table log exactly-once (start_tablelog_sink), and the
    aggregate maintainer folds each appended epoch — the downstream
    serving table equals a from-scratch GROUP BY of everything the
    stream delivered, with no component ever rescanning the source."""
    from aws_weather_data_pipeline_spark.streaming.pipeline import (
        start_tablelog_sink,
    )

    landing = str(tmp_path / "landing")
    log = str(tmp_path / "log")
    agg = str(tmp_path / "agg")
    ckpt = str(tmp_path / "ckpt")

    _events(spark, [(1, 1.0), (2, 2.0), (1, 3.0)]).write.parquet(landing)
    stream = spark.readStream.schema("user int, value double").parquet(
        landing
    )
    q = start_tablelog_sink(stream, log, ckpt)
    q.awaitTermination(120)
    inc.sync_aggregate(spark, log, agg, ["user"], ["value"])
    assert _folded(spark, agg) == _recompute(spark, log)

    # second micro-batch: new landing file, same checkpoint
    _events(spark, [(2, 5.0), (3, 7.0)]).write.mode("append").parquet(
        landing
    )
    stream = spark.readStream.schema("user int, value double").parquet(
        landing
    )
    q = start_tablelog_sink(stream, log, ckpt)
    q.awaitTermination(120)
    inc.sync_aggregate(spark, log, agg, ["user"], ["value"])
    folded = _folded(spark, agg)
    assert folded == _recompute(spark, log)
    assert folded[(2,)] == (2, Decimal("7.00"))


def test_aggregate_folds_null_group_keys(spark, tmp_path):
    """GROUP BY puts all NULL keys in one group; the fold join must
    be null-safe or the NULL group accumulates one duplicate row per
    batch (review r09)."""
    src, dst = str(tmp_path / "src"), str(tmp_path / "agg")
    tl.append(
        spark.createDataFrame(
            [(None, 1.0), (1, 2.0)], "user int, value double"
        ),
        src,
    )
    inc.sync_aggregate(spark, src, dst, ["user"], ["value"])
    tl.append(
        spark.createDataFrame(
            [(None, 3.0), (None, 4.0)], "user int, value double"
        ),
        src,
    )
    inc.sync_aggregate(spark, src, dst, ["user"], ["value"])
    rows = tl.read_snapshot(spark, dst).collect()
    assert len(rows) == 2  # exactly ONE NULL-group row
    folded = _folded(spark, dst)
    assert folded == _recompute(spark, src)
    assert folded[(None,)] == (3, Decimal("8.00"))


def test_aggregate_bootstrap_schema_matches_fold_schema(spark, tmp_path):
    """The v0 bootstrap and every later fold must write the same
    decimal width — sums are pinned at decimal(38,2) (max precision,
    review r10: narrower widths could overflow-to-NULL and silently
    reset a group's history) and the raw delta used to leak the
    unpinned width into version 0 (review r09)."""
    src, dst = str(tmp_path / "src"), str(tmp_path / "agg")
    tl.append(_events(spark, [(1, 1.0)]), src)
    inc.sync_aggregate(spark, src, dst, ["user"], ["value"])
    v0 = dict(tl.read_snapshot(spark, dst, version=0).dtypes)
    tl.append(_events(spark, [(1, 2.0)]), src)
    inc.sync_aggregate(spark, src, dst, ["user"], ["value"])
    v1 = dict(tl.read_snapshot(spark, dst).dtypes)
    assert v0 == v1
    assert v0["sum_value"] == "decimal(38,2)"


def test_stream_compact_aggregate_composition(spark, tmp_path):
    """The full operational loop on one table: stream drains epochs
    into the log, compact collapses the small files mid-stream,
    the stream keeps appending, and the aggregate maintainer folds
    across the whole history — compaction is invisible to both the
    feed position and the folded numbers."""
    from aws_weather_data_pipeline_spark.streaming.pipeline import (
        start_tablelog_sink,
    )

    landing = str(tmp_path / "landing")
    log, agg = str(tmp_path / "log"), str(tmp_path / "agg")
    ckpt = str(tmp_path / "ckpt")

    _events(spark, [(1, 1.0), (2, 2.0)]).write.parquet(landing)
    q = start_tablelog_sink(
        spark.readStream.schema("user int, value double").parquet(landing),
        log, ckpt,
    )
    q.awaitTermination(120)
    inc.sync_aggregate(spark, log, agg, ["user"], ["value"])
    # maintenance collapses the per-epoch files
    tl.compact(spark, log, n_files=1)
    assert len(tl.files_for(log)) == 1
    # stream continues on the same checkpoint after the compaction
    _events(spark, [(1, 5.0)]).write.mode("append").parquet(landing)
    q = start_tablelog_sink(
        spark.readStream.schema("user int, value double").parquet(landing),
        log, ckpt,
    )
    q.awaitTermination(120)
    inc.sync_aggregate(spark, log, agg, ["user"], ["value"])
    assert _folded(spark, agg) == _recompute(spark, log)
    assert _folded(spark, agg)[(1,)] == (2, Decimal("6.00"))


def test_aggregate_preserves_all_null_sums(spark, tmp_path):
    """SQL SUM over an all-NULL group is NULL; the fold must keep it
    NULL across batches (coalescing to 0 at fold time would diverge
    from the from-scratch GROUP BY the moment a later batch touches
    the group — review r10), while one-sided NULLs add as SUM's
    ignore-NULL semantics."""
    src, dst = str(tmp_path / "src"), str(tmp_path / "agg")
    batches = [
        [(1, None), (2, 2.0)],
        [(1, None), (2, None), (3, None)],
        [(3, 1.5)],
    ]
    for batch in batches:
        tl.append(
            spark.createDataFrame(batch, "user int, value double"), src
        )
        inc.sync_aggregate(spark, src, dst, ["user"], ["value"])
        assert _folded(spark, dst) == _recompute(spark, src)
    folded = _folded(spark, dst)
    assert folded[(1,)] == (2, None)           # all-NULL stays NULL
    assert folded[(2,)] == (2, Decimal("2.00"))  # NULL side adds as 0
    assert folded[(3,)] == (2, Decimal("1.50"))  # NULL-first, value later


def test_threaded_maintainers_converge_over_live_appends(
    spark, tmp_path
):
    """REAL concurrency for the fold path (VERDICT r10 task 5 — the
    threaded twin of the monkeypatched CAS test below): N maintainer
    threads race sync_aggregate while a writer thread keeps appending
    to the source. Losers must surface as CommitConflict and retry;
    when the dust settles the maintained table must equal the
    from-scratch GROUP BY — no lost fold, no double fold, position
    exactly at the source head."""
    import threading
    import time

    src, dst = str(tmp_path / "src"), str(tmp_path / "agg")
    batches = [
        [(b % 5, float(b)), ((b + 1) % 5, 0.25 * b), (7, 1.0)]
        for b in range(8)
    ]
    tl.append(_events(spark, batches[0]), src)

    errors: list[BaseException] = []
    writer_done = threading.Event()

    def writer():
        try:
            for batch in batches[1:]:
                tl.append(_events(spark, batch), src)
                time.sleep(0.05)
        except BaseException as e:  # surfaced after join
            errors.append(e)
        finally:
            writer_done.set()

    def maintainer():
        try:
            while True:
                caught_up = writer_done.is_set() and (
                    inc.aggregate_position(dst)
                    == tl.latest_version(src)
                )
                if caught_up:
                    return
                try:
                    inc.sync_aggregate(
                        spark, src, dst,
                        group_cols=["user"], sum_cols=["value"],
                    )
                except tl.CommitConflict:
                    time.sleep(0.01)  # lost the CAS — clean retry
        except BaseException as e:
            errors.append(e)

    threads = [threading.Thread(target=writer)] + [
        threading.Thread(target=maintainer) for _ in range(3)
    ]
    for t in threads:
        t.start()
    for t in threads:
        t.join(timeout=600)
    assert not errors, errors
    assert all(not t.is_alive() for t in threads)
    assert inc.aggregate_position(dst) == tl.latest_version(src)
    assert _folded(spark, dst) == _recompute(spark, src)


def test_concurrent_maintainer_conflicts_instead_of_silent_lost_fold(
    spark, tmp_path, monkeypatch
):
    """Review r10: two maintainers at DIFFERENT source heads carry
    distinct txn ids, so replay dedup cannot catch the interleave —
    the destination-head compare-and-set must turn the second
    read-modify-write into a CommitConflict, never a silent lost
    fold."""
    src, dst = str(tmp_path / "src"), str(tmp_path / "agg")
    tl.append(_events(spark, [(1, 1.0)]), src)
    inc.sync_aggregate(spark, src, dst, ["user"], ["value"])
    tl.append(_events(spark, [(1, 2.0)]), src)

    real = tl.read_snapshot
    fired = []

    def interleave(spark_, table, *a, **k):
        out = real(spark_, table, *a, **k)
        if table == dst and not fired:
            fired.append(True)
            # a concurrent writer lands on dst between A's read and
            # A's overwrite (a second maintainer at a different head,
            # a manual correction — any commit A's snapshot missed)
            tl.append(
                spark.createDataFrame(
                    [(7, 1, Decimal("7.00"))],
                    "user int, n_rows bigint, sum_value decimal(38,2)",
                ),
                dst,
            )
        return out

    monkeypatch.setattr(tl, "read_snapshot", interleave)
    with pytest.raises(tl.CommitConflict):
        inc.sync_aggregate(spark, src, dst, ["user"], ["value"])
    monkeypatch.undo()
    # the losing maintainer retries from fresh reads and converges —
    # the interloper row is part of the destination it folds onto
    inc.sync_aggregate(spark, src, dst, ["user"], ["value"])
    assert inc.aggregate_position(dst) == tl.latest_version(src)
    folded = _folded(spark, dst)
    assert folded[(1,)] == (2, Decimal("3.00"))
    assert folded[(7,)] == (1, Decimal("7.00"))


def test_multi_source_fan_in_keeps_per_source_positions(
    spark, tmp_path
):
    """Review r13: with bare-version txn ids, two sources folding
    into one destination aliased each other's positions — one source
    silently stalled or silently skipped its prefix. Source-qualified
    ids give each source its own recovered position, so fan-in
    converges to the union's GROUP BY."""
    src_a = str(tmp_path / "src_a")
    src_b = str(tmp_path / "src_b")
    dst = str(tmp_path / "agg")
    # src_a runs ahead to v2 before src_b ever syncs: under the old
    # scheme src_b's head (0) <= recovered position (2) stalled it
    for batch in ([(1, 1.0)], [(1, 2.0)], [(2, 4.0)]):
        tl.append(_events(spark, batch), src_a)
    inc.sync_aggregate(spark, src_a, dst, ["user"], ["value"])
    tl.append(_events(spark, [(1, 10.0), (3, 30.0)]), src_b)
    # ADVICE r13: a never-seen source against existing fold history
    # is refused by default (it is indistinguishable from a moved-
    # path double-count) — onboarding must be explicit
    with pytest.raises(ValueError, match="allow_new_source"):
        inc.sync_aggregate(spark, src_b, dst, ["user"], ["value"])
    assert inc.sync_aggregate(
        spark, src_b, dst, ["user"], ["value"], allow_new_source=True
    ) is not None, "second source stalled on the first's position"
    assert inc.aggregate_position(dst, src_a) == 2
    assert inc.aggregate_position(dst, src_b) == 0
    # both idle now; new commits on each fold independently
    assert inc.sync_aggregate(spark, src_a, dst, ["user"], ["value"]) is None
    assert inc.sync_aggregate(spark, src_b, dst, ["user"], ["value"]) is None
    tl.append(_events(spark, [(3, 3.0)]), src_b)
    inc.sync_aggregate(spark, src_b, dst, ["user"], ["value"])
    folded = _folded(spark, dst)
    assert folded[(1,)] == (3, Decimal("13.00"))
    assert folded[(2,)] == (1, Decimal("4.00"))
    assert folded[(3,)] == (2, Decimal("33.00"))


def test_aggregate_definition_drift_refused_loudly(spark, tmp_path):
    """Review r13: a drifted caller (dropped sum column, narrower
    group key) would silently erase maintained history through
    overwrite's fresh-schema escape hatch — refuse by name instead."""
    src, dst = str(tmp_path / "src"), str(tmp_path / "agg")
    tl.append(_events(spark, [(1, 1.0)]), src)
    inc.sync_aggregate(spark, src, dst, ["user"], ["value"])
    tl.append(_events(spark, [(1, 2.0)]), src)
    with pytest.raises(ValueError, match="definition drift"):
        inc.sync_aggregate(spark, src, dst, ["user"], [])  # dropped sum
    # the maintained table is untouched and the right call proceeds
    inc.sync_aggregate(spark, src, dst, ["user"], ["value"])
    assert _folded(spark, dst)[(1,)] == (2, Decimal("3.00"))


def test_aggregate_output_name_collisions_refused_upfront(
    spark, tmp_path
):
    """Review r13: a group column named n_rows (or duplicate list
    entries) used to die deep inside the bootstrap write as Spark's
    opaque duplicate-column error — now a named refusal before any
    verification or feed read."""
    src, dst = str(tmp_path / "src"), str(tmp_path / "agg")
    tl.append(
        spark.createDataFrame([(1, 2.0)], "n_rows int, value double"),
        src,
    )
    with pytest.raises(ValueError, match="collide"):
        inc.sync_aggregate(spark, src, dst, ["n_rows"], ["value"])
    with pytest.raises(ValueError, match="collide"):
        inc.sync_aggregate(
            spark, src, dst, ["n_rows"], ["value", "value"]
        )


def test_nullable_measure_avg_via_nonnull_counts(spark, tmp_path):
    """Review r13: AVG = sum/n_rows is wrong for nullable measures
    (SQL AVG ignores NULLs; n_rows counts every row). count_cols
    maintains the non-null denominator, folded across batches."""
    src, dst = str(tmp_path / "src"), str(tmp_path / "agg")
    tl.append(_events(spark, [(1, 6.0), (1, None), (1, 4.0)]), src)
    inc.sync_aggregate(
        spark, src, dst, ["user"], ["value"], count_cols=["value"]
    )
    tl.append(_events(spark, [(1, None), (1, 2.0)]), src)
    inc.sync_aggregate(
        spark, src, dst, ["user"], ["value"], count_cols=["value"]
    )
    row = tl.read_snapshot(spark, dst).collect()[0]
    assert row["n_rows"] == 5 and row["cnt_value"] == 3
    assert row["sum_value"] == Decimal("12.00")
    # the correct AVG: 12/3 = 4.0, NOT 12/5 = 2.4
    assert float(row["sum_value"]) / row["cnt_value"] == 4.0


def test_sum_scale_preserves_fine_grained_increments(spark, tmp_path):
    """Review r13: the per-value decimal cast quantizes to sum_scale
    BEFORE summing — at the default 2, increments of 0.004 vanish.
    sum_scale is part of the aggregate definition and keeps them."""
    src, dst = str(tmp_path / "src"), str(tmp_path / "agg")
    rows = [(1, 0.004)] * 5
    tl.append(_events(spark, rows), src)
    inc.sync_aggregate(
        spark, src, dst, ["user"], ["value"], sum_scale=4
    )
    tl.append(_events(spark, rows), src)
    inc.sync_aggregate(
        spark, src, dst, ["user"], ["value"], sum_scale=4
    )
    row = tl.read_snapshot(spark, dst).collect()[0]
    assert row["sum_value"] == Decimal("0.0400")


def test_aggregate_behind_retention_gets_named_remediation(
    spark, tmp_path
):
    """Review r13: the feed read now runs BEFORE the insert-only
    manifest walk, so a consumer behind the vacuum horizon gets
    read_changes' named resync remediation instead of the bare
    no-manifest error out of verify_insert_only."""
    src, dst = str(tmp_path / "src"), str(tmp_path / "agg")
    tl.append(_events(spark, [(1, 1.0)]), src)
    inc.sync_aggregate(spark, src, dst, ["user"], ["value"])
    for i in range(4):
        tl.append(_events(spark, [(1, float(i))]), src)
    tl.vacuum(src, retain_last=2, min_age_seconds=0.0)
    with pytest.raises(
        FileNotFoundError, match="fallen behind the vacuum horizon"
    ):
        inc.sync_aggregate(spark, src, dst, ["user"], ["value"])


def test_sum_scale_drift_refused_by_type_check(spark, tmp_path):
    """ADVICE r13: a changed sum_scale passes the column-NAME drift
    check, and the fold union would coerce mixed decimal scales while
    the accumulated history stays quantized at the old scale —
    silently breaking the bit-identical convergence contract. Types
    are part of the aggregate's definition; drift is refused."""
    src, dst = str(tmp_path / "src"), str(tmp_path / "agg")
    tl.append(_events(spark, [(1, 1.25)]), src)
    inc.sync_aggregate(spark, src, dst, ["user"], ["value"], sum_scale=2)
    tl.append(_events(spark, [(1, 0.004)]), src)
    with pytest.raises(ValueError, match="types differ"):
        inc.sync_aggregate(
            spark, src, dst, ["user"], ["value"], sum_scale=4
        )
    # the original definition still folds
    assert inc.sync_aggregate(
        spark, src, dst, ["user"], ["value"], sum_scale=2
    ) is not None


def test_source_identity_survives_path_respelling(spark, tmp_path):
    """ADVICE r13 (medium): the SAME source reached via a symlink
    must resolve to the same fold position — not a -1 that silently
    re-folds the whole history on top of the aggregate (doubling
    every sum/count). realpath unifies spellings; the new-source
    refusal catches identities realpath cannot unify (e.g. a copied
    or re-mounted source) instead of double-counting."""
    import os
    import shutil

    src, dst = str(tmp_path / "src"), str(tmp_path / "agg")
    tl.append(_events(spark, [(1, 1.0), (2, 2.0)]), src)
    inc.sync_aggregate(spark, src, dst, ["user"], ["value"])
    link = str(tmp_path / "src_link")
    os.symlink(src, link)
    assert tl.source_key(link) == tl.source_key(src)
    # same source through the symlink: idle, NOT a double-fold
    assert inc.sync_aggregate(spark, link, dst, ["user"], ["value"]) is None
    assert _folded(spark, dst)[(1,)] == (1, Decimal("1.00"))
    # a genuinely different path is refused, not silently re-folded
    copy = str(tmp_path / "src_copy")
    shutil.copytree(src, copy)
    with pytest.raises(ValueError, match="allow_new_source"):
        inc.sync_aggregate(spark, copy, dst, ["user"], ["value"])
    # and the aggregate is untouched by the refusal
    assert _folded(spark, dst)[(2,)] == (1, Decimal("2.00"))


# ---------------------------------------------------------------------------
# Model-based property test: multi-source aggregate fan-in (r14)
# ---------------------------------------------------------------------------

from hypothesis import HealthCheck, given, settings, strategies as st

from tests.conftest import HYP_EXAMPLES as _HYP_EXAMPLES

#: per-commit (user, value-in-cents) batches on either source; cents
#: keep the model's arithmetic exact at the aggregate's sum_scale=2
_AGG_FANIN_OPS = st.lists(
    st.one_of(
        st.tuples(
            st.just("append"),
            st.sampled_from(["a", "b"]),
            st.lists(
                st.tuples(st.integers(0, 4), st.integers(-500, 500)),
                min_size=1,
                max_size=3,
            ),
        ),
        st.tuples(
            st.just("fold"),
            st.sampled_from(["a", "b"]),
            st.none(),
        ),
        # late r15: checkpoint-folding vacuum interleaved on a source
        # or the destination — the agg-sync twin of the changefeed
        # machine's fold step (destination vacuums are
        # state-invisible; a source vacuum that expires needed
        # manifests turns every later fold into the NAMED
        # behind-retention error, applied before verify_insert_only's
        # raw manifest walk could misreport it as corruption)
        st.tuples(
            st.just("vacuum"),
            st.sampled_from(["a", "b", "dst"]),
            st.integers(1, 3),
        ),
    ),
    min_size=2,
    max_size=10,
)


@settings(
    max_examples=_HYP_EXAMPLES,
    deadline=None,
    suppress_health_check=[
        HealthCheck.function_scoped_fixture,
        HealthCheck.too_slow,
    ],
)
@given(ops=_AGG_FANIN_OPS)
def test_multi_source_aggregate_fanin_matches_model(
    spark, tmp_path_factory, ops
):
    """VERDICT r13 task 5, aggregate half (the sync_changes half is
    test_tablelog's fan-in machine): two insert-only source logs fold
    into ONE maintained aggregate under random interleavings of
    appends and sync_aggregate calls. The pure-Python model folds
    exact cent-integers per user over each source's SYNCED prefix.
    Invariants after every fold: the aggregate equals the model
    exactly (a position alias shows up as a skipped prefix or a
    double-counted range), each source's recovered position equals
    its last folded head and never regresses, an immediate re-fold is
    idle, and a source's FIRST fold against a destination already fed
    by the other source is refused without allow_new_source=True.
    Interleaved "vacuum" steps (late r15) add the retention contract
    on THIS consumer namespace too: a destination vacuum is invisible
    (fold positions resume through the checkpoint), and once a source
    vacuum expires manifests the fold still needs, every later fold
    of that source raises read_changes' named behind-retention error
    with positions and the aggregate unchanged — the model predicts
    the failures from ``expired_below`` alone."""
    root = tmp_path_factory.mktemp("aggfanin")
    srcs = {"a": str(root / "src_a"), "b": str(root / "src_b")}
    dst = str(root / "agg")

    feed: dict[str, list[list[tuple[int, int]]]] = {"a": [], "b": []}
    folded_upto = {"a": -1, "b": -1}
    onboarded = {"a": False, "b": False}
    expired_below = {"a": 0, "b": 0}

    def check_unmoved(where):
        for t in ("a", "b"):
            assert inc.aggregate_position(dst, srcs[t]) == folded_upto[t], (
                f"{where}: position {t} moved"
            )
        if tl.latest_version(dst) is not None:
            assert _folded(spark, dst) == model(), where

    def model():
        out: dict[int, list[int]] = {}
        for s in ("a", "b"):
            for commit in feed[s][: folded_upto[s] + 1]:
                for user, cents in commit:
                    out.setdefault(user, []).append(cents)
        return {
            (u,): (
                len(vals),
                (Decimal(sum(vals)) / 100).quantize(Decimal("0.01")),
            )
            for u, vals in out.items()
        }

    def do_fold(s, allow):
        return inc.sync_aggregate(
            spark, srcs[s], dst, group_cols=["user"],
            sum_cols=["value"], allow_new_source=allow,
        )

    for op, s, arg in ops:
        if op == "append":
            rows = [(u, c / 100.0) for u, c in arg]
            v = tl.append(_events(spark, rows), srcs[s])
            feed[s].append(list(arg))
            assert v == len(feed[s]) - 1
            continue
        if op == "vacuum":
            if s == "dst":
                if tl.latest_version(dst) is not None:
                    tl.vacuum(dst, retain_last=arg, min_age_seconds=0)
            else:
                head = tl.latest_version(srcs[s])
                if head is not None:
                    tl.vacuum(
                        srcs[s], retain_last=arg, min_age_seconds=0
                    )
                    expired_below[s] = max(
                        expired_below[s], head - arg + 1
                    )
            check_unmoved(f"after vacuum {s}")
            continue
        head = tl.latest_version(srcs[s])
        if head is None or head <= folded_upto[s]:
            assert do_fold(s, True) is None  # idle no-op
            continue
        other = "b" if s == "a" else "a"
        if not onboarded[s] and folded_upto[other] >= 0:
            with pytest.raises(ValueError, match="allow_new_source"):
                do_fold(s, False)
        if folded_upto[s] + 1 < expired_below[s]:
            # the fold needs a vacuum-expired manifest: the NAMED
            # behind-retention error, nothing applied, and the
            # failure is deterministic on every retry
            with pytest.raises(
                FileNotFoundError, match="vacuum horizon"
            ):
                do_fold(s, True)
            check_unmoved(f"after expired fold {s}")
            continue
        assert do_fold(s, True) is not None
        onboarded[s] = True
        folded_upto[s] = head
        for t in ("a", "b"):
            assert inc.aggregate_position(dst, srcs[t]) == folded_upto[t], (
                f"source {t} position after folding {s}"
            )
        assert _folded(spark, dst) == model(), f"after fold {s}"
        assert do_fold(s, True) is None  # drained: idle
    # final drain: both sources fold to their heads (expired sources
    # keep failing deterministically and contribute nothing — the
    # model already omits their unfolded suffix), aggregate = model
    for s in ("a", "b"):
        if feed[s]:
            head = len(feed[s]) - 1
            if head > folded_upto[s] and (
                folded_upto[s] + 1 < expired_below[s]
            ):
                with pytest.raises(
                    FileNotFoundError, match="vacuum horizon"
                ):
                    do_fold(s, True)
            else:
                do_fold(s, True)
                folded_upto[s] = head
    if tl.latest_version(dst) is not None:
        assert _folded(spark, dst) == model(), "final fold"


def test_moved_source_resumes_after_agg_prefix_migration(spark, tmp_path):
    """The remediation sync_aggregate's refusal names: a source whose
    path moved is re-recorded under its new key with
    ``migrate_consumer_position(prefix=AGG_TXN_PREFIX)``, after which
    the next fold applies only the new batch, not the whole history."""
    old, dst = str(tmp_path / "src_a"), str(tmp_path / "agg")
    tl.append(_events(spark, [(1, 10.0), (2, 1.5)]), old)
    tl.append(_events(spark, [(1, 2.25)]), old)
    inc.sync_aggregate(spark, old, dst, ["user"], ["value"])
    old_key = tl.source_key(old)
    new = str(tmp_path / "src_b")
    os.rename(old, new)
    with pytest.raises(ValueError, match="migrate_consumer_position"):
        inc.sync_aggregate(spark, new, dst, ["user"], ["value"])
    tl.migrate_consumer_position(
        dst, new, old_key=old_key, prefix=inc.AGG_TXN_PREFIX
    )
    assert inc.aggregate_position(dst, new) == tl.latest_version(new)
    tl.append(_events(spark, [(1, 0.5), (3, 4.0)]), new)
    v = inc.sync_aggregate(spark, new, dst, ["user"], ["value"])
    assert v == tl.latest_version(dst)
    assert _folded(spark, dst) == _recompute(spark, new)
    assert _folded(spark, dst)[(1,)] == (3, Decimal("12.75"))
    assert inc.aggregate_position(dst, new) == tl.latest_version(new)
