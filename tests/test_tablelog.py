"""Manifest-committed table log (sinks/tablelog.py): atomicity,
snapshot isolation, time travel, optimistic concurrency, idempotent
retries, crash-orphan invisibility, vacuum safety."""

from __future__ import annotations

import json
import os
import shutil
import time

import pytest

from aws_weather_data_pipeline_spark.sinks import tablelog as tl


def _frame(spark, lo, hi):
    return spark.range(lo, hi).withColumnRenamed("id", "v")


def _values(df):
    return sorted(r.v for r in df.collect())


def test_append_accumulates_and_read_sees_only_committed(spark, tmp_path):
    table = str(tmp_path / "t")
    v0 = tl.append(_frame(spark, 0, 5), table)
    v1 = tl.append(_frame(spark, 5, 8), table)
    assert (v0, v1) == (0, 1)
    assert _values(tl.read_snapshot(spark, table)) == list(range(8))
    # time travel: version 0 is exactly the first append
    assert _values(tl.read_snapshot(spark, table, version=0)) == list(range(5))


def test_overwrite_replaces_but_history_remains_readable(spark, tmp_path):
    table = str(tmp_path / "t")
    tl.append(_frame(spark, 0, 5), table)
    tl.overwrite(_frame(spark, 100, 103), table)
    assert _values(tl.read_snapshot(spark, table)) == [100, 101, 102]
    assert _values(tl.read_snapshot(spark, table, version=0)) == list(range(5))
    ops = [m["op"] for m in tl.history(table)]
    assert ops == ["append", "overwrite"]


def test_uncommitted_files_are_invisible_to_readers(spark, tmp_path):
    """Crash between data write and publish leaves the table unchanged:
    readers resolve files from the manifest, never from a listing."""
    table = str(tmp_path / "t")
    tl.append(_frame(spark, 0, 4), table)
    tl._write_data_files(_frame(spark, 900, 950), table)[0]  # no commit
    assert _values(tl.read_snapshot(spark, table)) == [0, 1, 2, 3]
    # and the orphans are exactly what vacuum sweeps
    deleted = tl.vacuum(table, retain_last=1, min_age_seconds=0)
    assert len(deleted) > 0
    assert _values(tl.read_snapshot(spark, table)) == [0, 1, 2, 3]


def test_compact_preserves_data_and_old_snapshot_stays_readable(
    spark, tmp_path
):
    table = str(tmp_path / "t")
    for lo in range(0, 20, 5):
        tl.append(_frame(spark, lo, lo + 5), table)
    head = tl.latest_version(table)
    pre = tl.read_snapshot(spark, table, version=head)
    v = tl.compact(spark, table, n_files=1)
    assert v == head + 1
    manifest = tl.history(table)[-1]
    assert manifest["op"] == "compact" and len(manifest["files"]) == 1
    assert _values(tl.read_snapshot(spark, table)) == list(range(20))
    # snapshot isolation: the pre-compaction frame still evaluates —
    # its files were not deleted by the compaction commit
    assert _values(pre) == list(range(20))


def test_append_rebases_on_lost_race_and_loses_nothing(
    spark, tmp_path, monkeypatch
):
    """An interleaved commit between head resolution and publish makes
    the first publish attempt conflict; append must rebase onto the
    winner so BOTH writers' rows land."""
    table = str(tmp_path / "t")
    tl.append(_frame(spark, 0, 3), table)
    real_publish = tl._publish
    raced = {"done": False}

    def racing_publish(tbl, version, manifest):
        if not raced["done"]:
            raced["done"] = True
            # a real rival commit; its own publish passes straight
            # through to the real one
            tl.append(_frame(spark, 50, 52), tbl)
        return real_publish(tbl, version, manifest)

    monkeypatch.setattr(tl, "_publish", racing_publish)
    tl.append(_frame(spark, 3, 6), table)
    assert _values(tl.read_snapshot(spark, table)) == [0, 1, 2, 3, 4, 5, 50, 51]


def test_overwrite_raises_on_lost_race_instead_of_clobbering(
    spark, tmp_path, monkeypatch
):
    table = str(tmp_path / "t")
    tl.append(_frame(spark, 0, 3), table)
    real_publish = tl._publish
    raced = {"done": False}

    def racing_publish(tbl, version, manifest):
        if not raced["done"]:
            raced["done"] = True
            tl.append(_frame(spark, 50, 52), tbl)
        return real_publish(tbl, version, manifest)

    monkeypatch.setattr(tl, "_publish", racing_publish)
    with pytest.raises(tl.CommitConflict):
        tl.overwrite(_frame(spark, 9, 10), table)
    # the rival's commit is the head; the failed overwrite changed nothing
    assert _values(tl.read_snapshot(spark, table)) == [0, 1, 2, 50, 51]


def test_txn_id_makes_append_retries_exactly_once(spark, tmp_path):
    table = str(tmp_path / "t")
    v_first = tl.append(_frame(spark, 0, 4), table, txn_id="load-2026-08-15")
    v_retry = tl.append(_frame(spark, 0, 4), table, txn_id="load-2026-08-15")
    assert v_retry == v_first
    assert _values(tl.read_snapshot(spark, table)) == [0, 1, 2, 3]
    # a DIFFERENT txn appends normally
    tl.append(_frame(spark, 4, 6), table, txn_id="load-2026-08-16")
    assert _values(tl.read_snapshot(spark, table)) == list(range(6))


def test_vacuum_keeps_retained_versions_and_drops_the_rest(spark, tmp_path):
    table = str(tmp_path / "t")
    tl.append(_frame(spark, 0, 3), table)
    tl.overwrite(_frame(spark, 10, 13), table)
    tl.append(_frame(spark, 13, 15), table)
    deleted = tl.vacuum(table, retain_last=2, min_age_seconds=0)
    # version 0's files are referenced by no retained manifest
    assert len(deleted) > 0
    assert _values(tl.read_snapshot(spark, table)) == [10, 11, 12, 13, 14]
    assert _values(
        tl.read_snapshot(spark, table, version=1)
    ) == [10, 11, 12]
    with pytest.raises(FileNotFoundError):
        tl._read_manifest(table, 0)
    with pytest.raises(ValueError):
        tl.vacuum(table, retain_last=0)


def test_vacuum_age_guard_spares_in_flight_commit_files(spark, tmp_path):
    """A commit stages data files BEFORE publishing its manifest; a
    default-horizon vacuum running in that window must not sweep the
    young unreferenced files (min_age_seconds=0 is the explicit
    no-live-writers override the other tests use)."""
    table = str(tmp_path / "t")
    tl.append(_frame(spark, 0, 4), table)
    staged, _ = tl._write_data_files(_frame(spark, 50, 55), table)
    assert tl.vacuum(table, retain_last=1) == []  # default horizon
    # the in-flight commit can still publish against its staged files
    def build(prev):
        return prev["files"] + staged, prev.get("stats", {})
    tl._commit(table, build, "append", None, rebase=True)
    assert _values(tl.read_snapshot(spark, table)) == [0, 1, 2, 3] + list(
        range(50, 55)
    )


def test_manifest_is_the_only_source_of_truth(spark, tmp_path):
    """Deleting a file NAME from the manifest hides its rows even
    though the bytes are still on disk — proving reads never fall back
    to directory listing."""
    table = str(tmp_path / "t")
    tl.append(_frame(spark, 0, 4), table)
    path = tl._manifest_path(table, 0)
    with open(path) as fh:
        manifest = json.load(fh)
    manifest["files"] = manifest["files"][:0]
    os.unlink(path)
    with open(path, "w") as fh:
        json.dump(manifest, fh)
    with pytest.raises(ValueError):  # empty snapshot: no schema source
        tl.read_snapshot(spark, table)


def test_zone_map_pruning_skips_files_and_keeps_superset(spark, tmp_path):
    """Manifest stats prune whole files from the driver alone; the
    contract is a superset of the range, and the pruned read filtered
    equals the full read filtered."""
    table = str(tmp_path / "t")
    # three appends with disjoint value ranges -> disjoint zone maps
    for lo in (0, 100, 200):
        tl.append(
            _frame(spark, lo, lo + 10).coalesce(1), table
        )
    all_files = tl.files_for(table)
    hot = tl.files_for(table, where=("v", 100, 109))
    assert len(hot) < len(all_files)
    pruned = tl.read_snapshot(spark, table, where=("v", 100, 109))
    assert _values(pruned.filter("v BETWEEN 100 AND 109")) == list(
        range(100, 110)
    )
    # a column with no recorded stats never prunes
    assert tl.files_for(table, where=("no_such_col", 0, 1)) == all_files


def test_merge_changes_applies_iud_batch_atomically(spark, tmp_path):
    table = str(tmp_path / "t")
    base = spark.createDataFrame(
        [(1, "a", 10), (2, "b", 20), (3, "c", 30)], "k int, s string, seq int"
    )
    tl.overwrite(base, table)
    changes = spark.createDataFrame(
        [
            ("U", 2, "b2", 40),   # update existing
            ("U", 4, "d", 41),    # insert new key
            ("D", 3, None, 42),   # delete existing
            ("D", 9, None, 43),   # delete absent: no-op
            ("U", 2, "OLD", 39),  # stale change, loses to seq=40
        ],
        "op string, k int, s string, seq int",
    )
    v = tl.merge_changes(
        spark, table, changes, keys=["k"], order_cols=["seq"]
    )
    got = {
        (r.k, r.s)
        for r in tl.read_snapshot(spark, table, version=v).collect()
    }
    assert got == {(1, "a"), (2, "b2"), (4, "d")}
    # atomic: the pre-merge version is intact
    assert {
        r.k for r in tl.read_snapshot(spark, table, version=0).collect()
    } == {1, 2, 3}
    # idempotent replay by txn id
    v2 = tl.merge_changes(
        spark, table, changes, keys=["k"], order_cols=["seq"],
        txn_id="batch-7",
    )
    v3 = tl.merge_changes(
        spark, table, changes, keys=["k"], order_cols=["seq"],
        txn_id="batch-7",
    )
    assert v3 == v2


#: The rewrites that read the head snapshot and replace it, each with
#: the keys its head holds after an append of k=7 lands mid-commit.
_REWRITES = {
    "merge_changes": (
        lambda spark, t: tl.merge_changes(
            spark, t,
            spark.createDataFrame(
                [("U", 2, "new", 9)], "op string, k int, s string, seq int"
            ),
            keys=["k"], order_cols=["seq"],
        ),
        {1, 2, 7},
    ),
    "compact": (lambda spark, t: tl.compact(spark, t, n_files=1), {1, 7}),
    "delete_where": (
        lambda spark, t: tl.delete_where(spark, t, "k = 1"), {7}
    ),
}


@pytest.mark.parametrize("rewrite", sorted(_REWRITES))
def test_rewrite_recomputes_after_interleaved_commit(
    spark, tmp_path, monkeypatch, rewrite
):
    """A commit landing between a rewrite's snapshot read and its
    publish must not be discarded: the rewrite recomputes against the
    new head, so the interleaved append's rows survive."""
    table = str(tmp_path / "t")
    tl.overwrite(
        spark.createDataFrame([(1, "a", 1)], "k int, s string, seq int"),
        table,
    )
    real_publish = tl._publish
    raced = {"done": False}

    def racing_publish(tbl, version, manifest):
        if not raced["done"]:
            raced["done"] = True
            tl.append(
                spark.createDataFrame(
                    [(7, "mid", 5)], "k int, s string, seq int"
                ),
                tbl,
            )
        return real_publish(tbl, version, manifest)

    monkeypatch.setattr(tl, "_publish", racing_publish)
    run, expected = _REWRITES[rewrite]
    assert run(spark, table) == 2  # v1 is the interleaved append
    got = {r.k for r in tl.read_snapshot(spark, table).collect()}
    assert got == expected


def test_streaming_sink_is_exactly_once_under_epoch_replay(
    spark, tmp_path
):
    """availableNow drain into the log lands every input row once;
    a crash-replay of an already-committed epoch (the at-least-once
    case foreachBatch documents) is a no-op thanks to txn-id dedup."""
    from aws_weather_data_pipeline_spark.streaming.pipeline import (
        append_epoch_to_tablelog,
        start_tablelog_sink,
    )

    src = str(tmp_path / "src")
    table = str(tmp_path / "t")
    ckpt = str(tmp_path / "ckpt")
    _frame(spark, 0, 50).write.parquet(src)
    stream = spark.readStream.schema("v bigint").parquet(src)
    q = start_tablelog_sink(stream, table, ckpt)
    q.awaitTermination(120)
    assert _values(tl.read_snapshot(spark, table)) == list(range(50))
    # epoch ids recorded as txn ids
    assert tl.history(table)[-1]["txn_id"].startswith("epoch-")
    # replay the committed epoch: no duplicate rows, no new version
    head = tl.latest_version(table)
    _, ns, epoch = tl.history(table)[-1]["txn_id"].split("-")
    append_epoch_to_tablelog(_frame(spark, 0, 50), table, int(epoch), ns)
    assert tl.latest_version(table) == head
    assert _values(tl.read_snapshot(spark, table)) == list(range(50))
    # a NEW epoch appends normally
    append_epoch_to_tablelog(
        _frame(spark, 50, 60), table, int(epoch) + 1, ns
    )
    assert _values(tl.read_snapshot(spark, table)) == list(range(60))
    # a DIFFERENT stream reusing epoch 0 is NOT a replay: epoch ids
    # restart per checkpoint, so only the (namespace, epoch) pair
    # identifies a batch (review r08 — bare epoch ids silently
    # dropped the second stream's data)
    append_epoch_to_tablelog(
        _frame(spark, 60, 63), table, int(epoch), "otherstream"
    )
    assert _values(tl.read_snapshot(spark, table)) == list(range(63))


# ---------------------------------------------------------------------------
# Model-based property test: random op sequences vs a pure-Python model
# ---------------------------------------------------------------------------

from collections import Counter

from hypothesis import HealthCheck, given, settings, strategies as st

#: Example budget for all the model machines (shared definition in
#: conftest — review r14; r13 ran the machines clean at 30/60/100).
from tests.conftest import HYP_EXAMPLES as _HYP_EXAMPLES

# s draws None too, so the model also pins the __nulls metadata
# (column_null_count) through every op interaction
_S = st.one_of(st.none(), st.integers(0, 99))
_ROWS = st.lists(
    st.tuples(st.integers(0, 6), _S), min_size=0, max_size=6
)
_OPS = st.lists(
    st.one_of(
        st.tuples(st.just("append"), _ROWS),
        st.tuples(st.just("overwrite"), _ROWS),
        st.tuples(st.just("compact"), st.just(None)),
        st.tuples(
            st.just("merge"),
            st.lists(
                st.tuples(
                    st.sampled_from(["U", "D"]),
                    st.integers(0, 6),
                    _S,
                ),
                min_size=1,
                max_size=5,
            ),
        ),
        st.tuples(st.just("vacuum"), st.integers(1, 3)),
        # copy-on-write DELETE with a zone-map prune pinned to the
        # condition (prune must cover every matching row)
        st.tuples(st.just("delete"), st.integers(0, 6)),
        # restore to a retained version, chosen by index into the
        # live set at execution time
        st.tuples(st.just("restore"), st.integers(0, 9)),
    ),
    min_size=1,
    max_size=7,
)


def _model_merge(base: Counter, changes: list) -> Counter:
    """Reference semantics of merge_changes: last change per key wins
    (here: the LAST list entry, via unique ascending seq); D drops
    every row of the key, U rewrites every base duplicate's value and
    inserts one row for absent keys."""
    last = {}
    for op, k, s in changes:
        last[k] = (op, s)  # later entries override: seq = list index
    out: Counter = Counter()
    for (k, s), n in base.items():
        if k in last:
            op, new_s = last[k]
            if op == "U":
                out[(k, new_s)] += n
        else:
            out[(k, s)] += n
    base_keys = {k for (k, _s) in base}
    for k, (op, new_s) in last.items():
        if op == "U" and k not in base_keys:
            out[(k, new_s)] += 1
    return out


@settings(
    max_examples=_HYP_EXAMPLES,
    deadline=None,
    suppress_health_check=[
        HealthCheck.function_scoped_fixture,
        HealthCheck.too_slow,
    ],
)
@given(ops=_OPS)
def test_tablelog_matches_model_under_random_op_sequences(
    spark, tmp_path_factory, ops
):
    table = str(tmp_path_factory.mktemp("prop") / "t")

    def df_of(rows, with_op=False):
        if with_op:
            return spark.createDataFrame(
                [(op, k, s, i) for i, (op, k, s) in enumerate(rows)],
                "op string, k int, s int, seq int",
            )
        return spark.createDataFrame(list(rows), "k int, s int")

    versions: dict[int, Counter] = {}  # live version -> expected rows
    txns: dict[str, tuple[int, list]] = {}  # txn -> (version, rows)
    restore_txns: dict[str, int] = {}  # restore txn -> version
    for i, (op, arg) in enumerate(ops):
        head = tl.latest_version(table)
        if head is None and op in (
            "compact", "merge", "vacuum", "delete", "restore",
        ):
            continue  # these need an existing table
        if op == "append":
            txn = f"model-append-{i}"
            v = tl.append(df_of(arg), table, txn_id=txn)
            txns[txn] = (v, arg)
            prev = versions.get(v - 1, Counter())
            versions[v] = prev + Counter(arg)
        elif op == "overwrite":
            v = tl.overwrite(df_of(arg), table)
            versions[v] = Counter(arg)
        elif op == "compact":
            v = tl.compact(spark, table, n_files=1)
            versions[v] = Counter(versions[v - 1])
        elif op == "merge":
            v = tl.merge_changes(
                spark, table, df_of(arg, with_op=True),
                keys=["k"], order_cols=["seq"],
            )
            versions[v] = _model_merge(versions[v - 1], arg)
        elif op == "delete":
            v = tl.delete_where(
                spark, table, f"k = {arg}", prune=("k", arg, arg)
            )
            versions[v] = Counter(
                {(k, s): n for (k, s), n in versions[v - 1].items()
                 if k != arg}
            )
        elif op == "restore":
            live = sorted(versions)
            target = live[arg % len(live)]
            txn = f"model-restore-{i}"
            v = tl.restore(table, target, txn_id=txn)
            restore_txns[txn] = v
            versions[v] = Counter(versions[target])
        else:  # vacuum
            tl.vacuum(table, retain_last=arg)
            live = sorted(versions)[-arg:]
            versions = {v: c for v, c in versions.items() if v in live}
    for v, expect in versions.items():
        if not expect and not tl.files_for(table, v):
            continue  # empty snapshot with zero files: unreadable by design
        got = Counter(
            (r.k, r.s)
            for r in tl.read_snapshot(spark, table, version=v).collect()
        )
        assert got == expect, f"version {v}: {got} != {expect}"
        # metadata invariants survive every op interaction: exact
        # manifest-only row and null counts at each live version
        assert tl.snapshot_row_count(table, version=v) == sum(
            expect.values()
        ), f"version {v}: row count"
        model_nulls = sum(
            n for (_k, s), n in expect.items() if s is None
        )
        assert tl.column_null_count(table, "s", version=v) == (
            model_nulls
        ), f"version {v}: null count"
        # null-predicate pruned reads stay supersets
        pruned = tl.read_snapshot(
            spark, table, version=v, where=("s", "isnull")
        )
        assert Counter(
            (r.k, r.s)
            for r in pruned.filter(pruned.s.isNull()).collect()
        ) == Counter(
            {(k, s): n for (k, s), n in expect.items() if s is None}
        ), f"version {v}: isnull prune dropped rows"
    # exactly-once under the model: replaying ANY earlier append txn
    # — including ones whose manifests vacuum expired and folded into
    # the checkpoint — commits nothing and returns its version
    head = tl.latest_version(table)
    for txn, (v, rows) in txns.items():
        assert tl.append(df_of(rows), table, txn_id=txn) == v, txn
    # restore replays too: no model restore ever lost a vacuum race,
    # so the replay guard's rollback check must stay silent and the
    # retry must read as the original success — even when the restore
    # commit's own manifest has since been vacuumed and only the fold
    # remembers its txn (the target version arg is irrelevant on a
    # replay: the short-circuit answers before resolving it)
    for txn, v in restore_txns.items():
        assert tl.restore(table, 0, txn_id=txn) == v, txn
    assert tl.latest_version(table) == head


def test_schema_evolution_append_merges_with_null_backfill(spark, tmp_path):
    """An append that adds a column evolves the snapshot additively:
    merge_schema=True NULL-backfills the new column on old files, and
    zone-map pruning still works on the new column (old files have no
    stats for it, so they are never pruned away)."""
    table = str(tmp_path / "t")
    tl.append(_frame(spark, 0, 3), table)
    evolved = spark.createDataFrame([(10, "x"), (11, "y")], "v long, tag string")
    tl.append(evolved, table)
    df = tl.read_snapshot(spark, table, merge_schema=True)
    assert sorted(df.columns) == ["tag", "v"]
    rows = {r.v: r.tag for r in df.collect()}
    assert rows == {0: None, 1: None, 2: None, 10: "x", 11: "y"}
    # pruning on the NEW column keeps stat-less old files (superset)
    names = tl.files_for(table, where=("v", 10, 11))
    pruned = tl.read_snapshot(
        spark, table, where=("v", 10, 11), merge_schema=True
    )
    assert len(names) < len(tl.files_for(table))
    assert {r.v for r in pruned.filter("v >= 10").collect()} == {10, 11}


def test_zorder_compact_tightens_zone_maps_on_both_columns(spark, tmp_path):
    """After a z-order rewrite every file covers a small (x, y) tile,
    so manifest pruning skips files for a range predicate on EITHER
    column — and the rewrite preserves the data exactly."""
    import random

    table = str(tmp_path / "t")
    rng = random.Random(5)
    rows = [(rng.randrange(1024), rng.randrange(1024)) for _ in range(2000)]
    for i in range(0, 2000, 500):  # four unclustered appends
        tl.append(
            spark.createDataFrame(rows[i : i + 500], "x int, y int"),
            table,
        )
    # unclustered: every file spans ~the full x range -> nothing prunes
    before = tl.files_for(table, where=("x", 0, 127))
    assert len(before) == len(tl.files_for(table))
    v = tl.compact(spark, table, n_files=8, zorder_by=("x", "y"))
    assert tl.history(table)[-1]["zorder_by"] == ["x", "y"]
    after_all = tl.files_for(table, version=v)
    after_x = tl.files_for(table, version=v, where=("x", 0, 127))
    after_y = tl.files_for(table, version=v, where=("y", 0, 127))
    assert len(after_all) == 8
    assert len(after_x) < len(after_all)
    assert len(after_y) < len(after_all)
    got = sorted(
        (r.x, r.y) for r in tl.read_snapshot(spark, table, version=v).collect()
    )
    assert got == sorted(rows)
    # pruned read still returns every row in the range (superset)
    hot = tl.read_snapshot(spark, table, version=v, where=("x", 0, 127))
    assert sorted(
        (r.x, r.y) for r in hot.filter("x <= 127").collect()
    ) == sorted((x, y) for x, y in rows if x <= 127)


def test_compact_and_merge_preserve_evolved_schema(spark, tmp_path):
    """A layout rewrite must not silently drop a column a later
    append introduced (review r08: compact/merge read the snapshot
    without schema merge, committing the loss permanently)."""
    table = str(tmp_path / "t")
    tl.append(_frame(spark, 0, 3), table)
    tl.append(
        spark.createDataFrame([(10, "x")], "v long, tag string"), table
    )
    tl.compact(spark, table, n_files=1)
    df = tl.read_snapshot(spark, table)
    assert sorted(df.columns) == ["tag", "v"]
    assert {(r.v, r.tag) for r in df.collect()} == {
        (0, None), (1, None), (2, None), (10, "x")
    }
    # merge on the evolved table keeps the evolved column too
    changes = spark.createDataFrame(
        [("U", 10, "x2", 1)], "op string, v long, tag string, seq int"
    )
    tl.merge_changes(spark, table, changes, keys=["v"], order_cols=["seq"])
    assert {
        (r.v, r.tag) for r in tl.read_snapshot(spark, table).collect()
    } == {(0, None), (1, None), (2, None), (10, "x2")}


def test_pruned_to_zero_files_reads_as_empty_frame(spark, tmp_path):
    """A where range excluding every file is a legitimate empty
    query, not an error — pruning must stay a pure optimization."""
    table = str(tmp_path / "t")
    tl.append(_frame(spark, 0, 10).coalesce(1), table)
    df = tl.read_snapshot(spark, table, where=("v", 500, 600))
    assert df.columns == ["v"]
    assert df.count() == 0


def test_compact_replay_by_txn_id_is_noop(spark, tmp_path):
    table = str(tmp_path / "t")
    for lo in (0, 5):
        tl.append(_frame(spark, lo, lo + 5), table)
    v = tl.compact(spark, table, n_files=1, txn_id="maint-42")
    v2 = tl.compact(spark, table, n_files=1, txn_id="maint-42")
    assert v2 == v
    assert tl.latest_version(table) == v


def test_vacuum_sweeps_crashed_staging_dirs(spark, tmp_path):
    import os

    table = str(tmp_path / "t")
    tl.append(_frame(spark, 0, 3), table)
    # simulate a writer crash mid-stage: staging dir left behind
    staging = os.path.join(table, "_staging-deadbeef")
    os.makedirs(staging)
    with open(os.path.join(staging, "part-000.parquet"), "wb") as fh:
        fh.write(b"junk")
    tmp_manifest = os.path.join(table, "_log", ".tmp-cafe.json")
    with open(tmp_manifest, "w") as fh:
        fh.write("{}")
    tl.vacuum(table, retain_last=1, min_age_seconds=0)
    assert not os.path.exists(staging)
    assert not os.path.exists(tmp_manifest)
    assert _values(tl.read_snapshot(spark, table)) == [0, 1, 2]


# ---------------------------------------------------------------------------
# change feed


def test_read_changes_serves_appends_from_file_deltas(spark, tmp_path):
    """Append commits stream incrementally with no CDC write at all:
    each commit's rows are exactly the files it added."""
    table = str(tmp_path / "t")
    tl.append(_frame(spark, 0, 3), table)
    tl.append(_frame(spark, 3, 5), table)
    tl.compact(spark, table, n_files=1)  # data-identical: contributes 0
    tl.append(_frame(spark, 5, 6), table)
    changes = tl.read_changes(spark, table, since_version=-1)
    rows = {(r.v, r._change_type, r._commit_version) for r in changes.collect()}
    assert rows == {
        (0, "insert", 0), (1, "insert", 0), (2, "insert", 0),
        (3, "insert", 1), (4, "insert", 1),
        (5, "insert", 3),
    }
    # a bounded range reads only its commits
    tail = tl.read_changes(spark, table, since_version=1)
    assert {(r.v, r._commit_version) for r in tail.collect()} == {(5, 3)}
    # an all-compact range is idle, not an error
    assert tl.read_changes(spark, table, 1, 2) is None


def test_merge_changefeed_records_effective_changes_only(spark, tmp_path):
    table = str(tmp_path / "t")
    base = spark.createDataFrame(
        [(1, "a", 10), (2, "b", 20), (3, "c", 30)], "k int, s string, seq int"
    )
    tl.overwrite(base, table)
    changes = spark.createDataFrame(
        [
            ("U", 2, "b2", 40),   # update existing
            ("U", 4, "d", 41),    # insert new key
            ("D", 3, None, 42),   # delete existing
            ("D", 9, None, 43),   # delete absent: NOT an effective change
        ],
        "op string, k int, s string, seq int",
    )
    v = tl.merge_changes(
        spark, table, changes, keys=["k"], order_cols=["seq"],
        write_changefeed=True,
    )
    feed = tl.read_changes(spark, table, v - 1, v)
    got = {(r.k, r.s, r._change_type) for r in feed.collect()}
    assert got == {
        (2, "b2", "update"), (4, "d", "insert"), (3, None, "delete")
    }
    # the feed files are extra data, not part of the snapshot
    assert {
        r.k for r in tl.read_snapshot(spark, table, version=v).collect()
    } == {1, 2, 4}


def test_read_changes_refuses_unrecorded_rewrites(spark, tmp_path):
    table = str(tmp_path / "t")
    tl.append(_frame(spark, 0, 3), table)
    changes = spark.createDataFrame(
        [("U", 0, 1)], "op string, v long, seq int"
    )
    tl.merge_changes(spark, table, changes, keys=["v"], order_cols=["seq"])
    with pytest.raises(ValueError, match="no recorded change feed"):
        tl.read_changes(spark, table, since_version=0)
    tl.overwrite(_frame(spark, 50, 52), table)
    with pytest.raises(ValueError, match="no recorded change feed"):
        tl.read_changes(spark, table, since_version=1)


def test_change_feed_position_below_minus_one_is_a_caller_bug(
    spark, tmp_path
):
    """-1 (before version 0) is the lowest feed position. A lower one
    is a bad bound, not a consumer behind the vacuum horizon: it must
    not send the operator to resync a healthy table."""
    table = str(tmp_path / "t")
    tl.append(_frame(spark, 0, 3), table)
    with pytest.raises(ValueError, match="below -1"):
        tl.read_changes(spark, table, since_version=-3)
    with pytest.raises(ValueError, match="below -1"):
        tl.ChangefeedCursor(table, start_after=-5).poll(spark)
    feed = tl.read_changes(spark, table, since_version=-1)
    assert sorted(r.v for r in feed.collect()) == [0, 1, 2]
    # The same bound on a table with no commits yet must not idle
    # until the first commit arrives.
    empty = str(tmp_path / "empty")
    with pytest.raises(ValueError, match="below -1"):
        tl.ChangefeedCursor(empty, start_after=-5).poll(spark)
    with pytest.raises(ValueError, match="below -1"):
        tl.read_changes(spark, empty, since_version=-5)


@pytest.mark.parametrize(
    "consumer", ["read_changes", "ChangefeedCursor.poll", "sync_changes"]
)
def test_change_feed_position_past_the_head_is_refused(
    spark, tmp_path, consumer
):
    """A position past the head means the table has fewer versions
    than the consumer applied (it was recreated). Reading that as idle
    would silence the consumer for good; it must fail loudly."""
    src = str(tmp_path / "src")
    tl.append(_frame(spark, 0, 3), src)
    tl.append(_frame(spark, 3, 6), src)  # head 1
    if consumer == "read_changes":
        def call():
            return tl.read_changes(spark, src, since_version=7)
    elif consumer == "ChangefeedCursor.poll":
        def call():
            return tl.ChangefeedCursor(src, start_after=7).poll(spark)
    else:
        dst = str(tmp_path / "dst")
        assert tl.sync_changes(spark, src, dst) == 0  # position 1
        shutil.rmtree(src)
        tl.append(_frame(spark, 0, 3), src)  # recreated: head 0

        def call():
            return tl.sync_changes(spark, src, dst)
    with pytest.raises(ValueError, match="past the head"):
        call()


def test_vacuum_retains_cdc_files_of_retained_manifests(spark, tmp_path):
    table = str(tmp_path / "t")
    tl.overwrite(_frame(spark, 0, 3), table)
    changes = spark.createDataFrame(
        [("U", 1, 1), ("D", 2, 2)], "op string, v long, seq int"
    )
    v = tl.merge_changes(
        spark, table, changes, keys=["v"], order_cols=["seq"],
        write_changefeed=True,
    )
    tl.vacuum(table, retain_last=1, min_age_seconds=0)
    feed = tl.read_changes(spark, table, v - 1, v)
    assert {(r.v, r._change_type) for r in feed.collect()} == {
        (1, "update"), (2, "delete")
    }


def test_changefeed_cursor_polls_with_ack_replay(spark, tmp_path):
    """poll/ack contract (review r11): a batch is re-served until the
    caller acks it — a failed downstream commit can never drop a
    batch — and idle polls return None."""
    table = str(tmp_path / "t")
    cursor = tl.ChangefeedCursor(table)
    assert cursor.poll(spark) is None  # table doesn't exist yet
    tl.append(_frame(spark, 0, 3), table)
    tl.append(_frame(spark, 3, 5), table)
    first, until = cursor.poll(spark)
    assert {r.v for r in first.collect()} == {0, 1, 2, 3, 4}
    # NOT acked (downstream "failed"): the same batch is re-served
    replay, until2 = cursor.poll(spark)
    assert until2 == until
    assert {r.v for r in replay.collect()} == {0, 1, 2, 3, 4}
    cursor.ack(until)
    assert cursor.poll(spark) is None  # idle between commits
    tl.append(_frame(spark, 5, 7), table)
    second, until3 = cursor.poll(spark)
    assert {r.v for r in second.collect()} == {5, 6}
    cursor.ack(until3)
    assert cursor.poll(spark) is None
    # compaction-only range: nothing to ack, auto-advances to idle
    tl.compact(spark, table, n_files=1)
    assert cursor.poll(spark) is None
    assert cursor.position == tl.latest_version(table)


def test_read_changes_backfills_evolved_schema(spark, tmp_path):
    table = str(tmp_path / "t")
    tl.append(_frame(spark, 0, 2), table)
    tl.append(
        spark.createDataFrame([(10, "x")], "v long, tag string"), table
    )
    changes = tl.read_changes(spark, table, since_version=-1)
    assert {(r.v, r.tag) for r in changes.collect()} == {
        (0, None), (1, None), (10, "x")
    }


def test_changefeed_replay_reconstructs_keyed_snapshot(spark, tmp_path):
    """A keyed downstream applying the feed in commit order converges
    to the upstream head snapshot — the contract that makes the feed
    a safe incremental-sync primitive (deletes included)."""
    table = str(tmp_path / "t")
    tl.overwrite(
        spark.createDataFrame([(1, "a"), (2, "b")], "k int, s string"), table
    )
    tl.append(
        spark.createDataFrame([(3, "c")], "k int, s string"), table
    )
    tl.merge_changes(
        spark, table,
        spark.createDataFrame(
            [("U", 2, "b2", 1), ("D", 1, None, 2), ("U", 4, "d", 3)],
            "op string, k int, s string, seq int",
        ),
        keys=["k"], order_cols=["seq"], write_changefeed=True,
    )
    tl.compact(spark, table, n_files=1)
    tl.append(
        spark.createDataFrame([(5, "e")], "k int, s string"), table
    )
    state: dict = {}
    feed = tl.read_changes(spark, table, since_version=-1)
    for r in sorted(feed.collect(), key=lambda r: r._commit_version):
        if r._change_type == "delete":
            state.pop(r.k, None)
        else:
            state[r.k] = r.s
    head = {
        r.k: r.s for r in tl.read_snapshot(spark, table).collect()
    }
    assert state == head == {2: "b2", 3: "c", 4: "d", 5: "e"}


# ---------------------------------------------------------------------------
# log-to-log incremental sync


def test_sync_changes_insert_only_is_incremental_and_replay_safe(
    spark, tmp_path
):
    src, dst = str(tmp_path / "src"), str(tmp_path / "dst")
    tl.append(_frame(spark, 0, 3), src)
    tl.append(_frame(spark, 3, 5), src)
    v = tl.sync_changes(spark, src, dst)
    assert v == 0
    assert _values(tl.read_snapshot(spark, dst)) == list(range(5))
    # idle: nothing new at the source
    assert tl.sync_changes(spark, src, dst) is None
    # a fresh process resumes from the destination's own manifests
    assert tl.sync_position(dst) == 1
    tl.append(_frame(spark, 5, 7), src)
    tl.sync_changes(spark, src, dst)
    assert _values(tl.read_snapshot(spark, dst)) == list(range(7))
    # replayed batch (orchestrator retry covering the same source
    # range → same txn id) is recognized and commits nothing new
    head_dst = tl.latest_version(dst)
    tl.append(
        _frame(spark, 5, 7), dst,
        txn_id=(
            f"{tl.SYNC_TXN_PREFIX}:{tl.source_key(src)}"
            f":{tl.latest_version(src)}"
        ),
    )
    assert tl.latest_version(dst) == head_dst
    assert _values(tl.read_snapshot(spark, dst)) == list(range(7))


def test_sync_changes_keyed_converges_dst_to_src(spark, tmp_path):
    src, dst = str(tmp_path / "src"), str(tmp_path / "dst")
    tl.append(
        spark.createDataFrame([(1, "a"), (2, "b")], "k int, s string"), src
    )
    tl.merge_changes(
        spark, src,
        spark.createDataFrame(
            [("U", 2, "b2", 1), ("D", 1, None, 2), ("U", 3, "c", 3)],
            "op string, k int, s string, seq int",
        ),
        keys=["k"], order_cols=["seq"], write_changefeed=True,
    )
    # bootstrap on an empty destination: insert-then-delete keys must
    # NOT resurrect
    tl.sync_changes(spark, src, dst, keys=["k"])
    assert {
        (r.k, r.s) for r in tl.read_snapshot(spark, dst).collect()
    } == {(2, "b2"), (3, "c")}
    # subsequent keyed batches apply as merges
    tl.merge_changes(
        spark, src,
        spark.createDataFrame(
            [("D", 3, None, 4), ("U", 4, "d", 5)],
            "op string, k int, s string, seq int",
        ),
        keys=["k"], order_cols=["seq"], write_changefeed=True,
    )
    tl.sync_changes(spark, src, dst, keys=["k"])
    src_rows = {
        (r.k, r.s) for r in tl.read_snapshot(spark, src).collect()
    }
    dst_rows = {
        (r.k, r.s) for r in tl.read_snapshot(spark, dst).collect()
    }
    assert dst_rows == src_rows == {(2, "b2"), (4, "d")}


def test_sync_changes_insert_only_refuses_rewrites(spark, tmp_path):
    src, dst = str(tmp_path / "src"), str(tmp_path / "dst")
    tl.append(_frame(spark, 0, 3), src)
    tl.merge_changes(
        spark, src,
        spark.createDataFrame([("D", 0, 1)], "op string, v long, seq int"),
        keys=["v"], order_cols=["seq"], write_changefeed=True,
    )
    with pytest.raises(ValueError, match="insert-only"):
        tl.sync_changes(spark, src, dst)


# ---------------------------------------------------------------------------
# review r08 regressions


def test_append_require_head_is_compare_and_set(spark, tmp_path):
    table = str(tmp_path / "t")
    assert tl.append(_frame(spark, 0, 3), table, require_head=-1) == 0
    # stale expectation (another writer landed meanwhile) conflicts
    # instead of rebasing — the sync primitive
    with pytest.raises(tl.CommitConflict, match="required head"):
        tl.append(_frame(spark, 3, 5), table, require_head=-1)
    assert tl.append(_frame(spark, 3, 5), table, require_head=0) == 1
    assert _values(tl.read_snapshot(spark, table)) == list(range(5))


def test_sync_insert_only_accepts_overwrite_bootstrapped_source(
    spark, tmp_path
):
    """v0 is served as plain inserts whatever its op — an
    overwrite-created source must not be refused (review r08)."""
    src, dst = str(tmp_path / "src"), str(tmp_path / "dst")
    tl.overwrite(_frame(spark, 0, 3), src)
    tl.append(_frame(spark, 3, 5), src)
    tl.sync_changes(spark, src, dst)
    assert _values(tl.read_snapshot(spark, dst)) == list(range(5))


def test_sync_position_survives_many_interleaved_commits(
    spark, tmp_path, monkeypatch
):
    """The position scan walks all retained manifests, not the txn
    dedup horizon — otherwise 64+ foreign commits between syncs would
    silently reset to -1 and re-append the whole feed (review r08)."""
    monkeypatch.setattr(tl, "TXN_DEDUP_HORIZON", 2)
    src, dst = str(tmp_path / "src"), str(tmp_path / "dst")
    tl.append(_frame(spark, 0, 3), src)
    tl.sync_changes(spark, src, dst)
    for lo in (100, 104, 108):  # other writers on dst push the sync
        tl.append(_frame(spark, lo, lo + 2), dst)  # commit past horizon
    assert tl.sync_position(dst) == 0
    tl.append(_frame(spark, 3, 5), src)
    tl.sync_changes(spark, src, dst)
    got = _values(tl.read_snapshot(spark, dst))
    assert got == list(range(5)) + [100, 101, 104, 105, 108, 109]


def test_sync_keyed_propagates_evolved_source_columns(spark, tmp_path):
    """A column added upstream must reach the destination through the
    keyed merge path, not be silently projected away (review r08)."""
    src, dst = str(tmp_path / "src"), str(tmp_path / "dst")
    tl.append(
        spark.createDataFrame([(1, "a")], "k int, s string"), src
    )
    tl.sync_changes(spark, src, dst, keys=["k"])
    # upstream evolves: appends rows carrying a new column
    tl.append(
        spark.createDataFrame(
            [(2, "b", "fresh")], "k int, s string, tag string"
        ),
        src,
    )
    tl.sync_changes(spark, src, dst, keys=["k"])
    rows = {
        (r.k, r.s, r.tag)
        for r in tl.read_snapshot(spark, dst, merge_schema=True).collect()
    }
    assert rows == {(1, "a", None), (2, "b", "fresh")}


def test_pruned_to_zero_respects_merge_schema(spark, tmp_path):
    """The empty pruned read must expose the SAME schema as the
    unpruned merge_schema read — evolved columns included (review
    r08)."""
    table = str(tmp_path / "t")
    tl.append(_frame(spark, 0, 3), table)
    tl.append(
        spark.createDataFrame([(10, "x")], "v long, tag string"), table
    )
    df = tl.read_snapshot(
        spark, table, where=("v", 500, 600), merge_schema=True
    )
    assert sorted(df.columns) == ["tag", "v"]
    assert df.count() == 0


def test_checkpoint_reset_rotates_txn_namespace(spark, tmp_path):
    """The txn namespace is the query id Spark keeps in the checkpoint.
    A restart on the same checkpoint keeps it, or epoch replay dedup
    would stop working. Wiping the checkpoint to reprocess restarts
    epochs at 0 with NEW data, so the namespace must rotate, or the
    new run's first batches would be dropped as replays of the old
    one. Outside a streaming batch there is no query id to take."""
    import shutil
    import uuid

    from aws_weather_data_pipeline_spark.streaming.pipeline import (
        _query_namespace,
        start_tablelog_sink,
    )

    src, table = str(tmp_path / "src"), str(tmp_path / "t")
    ckpt = str(tmp_path / "ckpt")

    def drain(lo, hi):
        _frame(spark, lo, hi).write.mode("append").parquet(src)
        stream = spark.readStream.schema("v bigint").parquet(src)
        q = start_tablelog_sink(stream, table, ckpt)
        assert q.awaitTermination(120)
        return q.id, tl.history(table)[-1]["txn_id"]

    first, txn1 = drain(0, 5)
    restart, txn2 = drain(5, 8)  # restart: same namespace, next epoch
    assert restart == first
    ns = uuid.UUID(first).hex
    assert (txn1, txn2) == (f"epoch-{ns}-0", f"epoch-{ns}-1")
    shutil.rmtree(ckpt)  # reset: reprocess from scratch
    wiped, txn3 = drain(8, 10)
    assert wiped != first
    assert txn3 == f"epoch-{uuid.UUID(wiped).hex}-0"
    # the reprocessed epoch 0 committed instead of being skipped
    assert _values(tl.read_snapshot(spark, table)) == sorted(
        list(range(8)) + list(range(10))
    )
    with pytest.raises(RuntimeError, match="foreachBatch"):
        _query_namespace(spark.range(1))


def test_catalog_query_fixture_folds_prunes_and_isolates(spark, sf_dir):
    """The driver's tablelog_checkpoint_fold query certifies via its
    oracle hash that pruning never DROPS a row, time travel works on
    the folded log, and the checkpoint dedups a post-vacuum replay;
    this pins what the hash compare cannot see: the vacuum actually
    EXPIRED manifests (the fold is load-bearing, not decorative), the
    zone map actually SKIPS files, the replay did not mint a version,
    and the txn ids really live only in the checkpoint."""
    from aws_weather_data_pipeline_spark.plans.tablelog_queries import (
        N_SLICES,
        PRUNE_HI,
        PRUNE_LO,
        RETAIN_LAST,
        TRAVEL_VERSION,
        build_folded_events_log,
    )

    table = build_folded_events_log(spark, sf_dir)
    # the replayed slice-1 append minted NO new version: head is still
    # the last original commit
    assert tl.latest_version(table) == N_SLICES - 1
    # manifests below retention are really gone — time travel to them
    # fails, which is the bound vacuum documents
    retained = tl._list_versions(table)
    assert retained == list(range(N_SLICES - RETAIN_LAST, N_SLICES))
    with pytest.raises(FileNotFoundError):
        tl.read_snapshot(spark, table, version=0)
    # the folded checkpoint carries every slice's txn id, including
    # the vacuumed ones the replay guard needs
    with open(os.path.join(table, "_log", "_checkpoint.json")) as fh:
        ckpt = json.load(fh)
    assert {f"slice-{i}" for i in range(N_SLICES)} <= set(ckpt["txns"])
    # ... and the retained manifests alone could NOT answer slice-1
    assert all(
        tl._read_manifest(table, v).get("txn_id") != "slice-1"
        for v in retained
    )
    # zone-map skip on the retained travel version is real, not a no-op
    all_files = tl.files_for(table, version=TRAVEL_VERSION)
    pruned = tl.files_for(
        table, version=TRAVEL_VERSION, where=("user_id", PRUNE_LO, PRUNE_HI)
    )
    assert len(pruned) < len(all_files), (
        "range-clustered commits must give the zone map files to skip"
    )
    # snapshot isolation through the folded log: the travel version
    # excludes the head slice, the head has it
    from pyspark.sql import functions as F

    head_slice = F.col("event_id") % N_SLICES == N_SLICES - 1
    v = tl.read_snapshot(spark, table, version=TRAVEL_VERSION)
    assert v.filter(head_slice).count() == 0
    assert tl.read_snapshot(spark, table).filter(head_slice).count() > 0


def test_sync_position_snapshot_consistent_read_blocks_racer(
    spark, tmp_path
):
    """ADVICE r08: two workers syncing the same pair race. Worker A
    reads the destination head; worker B's sync (covering a NEWER
    source head, so txn-id dedup cannot collide) commits; worker A
    must NOT be able to pair its stale position with B's advanced
    head — deriving the position from manifests <= the head A read
    keeps A's CAS targeting the head it actually saw, so the append
    fails instead of double-applying B's range."""
    src, dst = str(tmp_path / "src"), str(tmp_path / "dst")
    tl.append(_frame(spark, 0, 3), src)
    tl.sync_changes(spark, src, dst)  # dst v0 covers src v0

    # worker A's snapshot: head first, position bounded by it
    a_head = tl.latest_version(dst)
    tl.append(_frame(spark, 3, 5), src)  # src advances to v1

    # worker B syncs the new range first (the race winner)
    tl.sync_changes(spark, src, dst)
    assert tl.sync_position(dst) == 1

    # A's bounded position ignores B's commit — stale but CONSISTENT
    a_position = tl.sync_position(dst, upto=a_head)
    assert a_position == 0
    # src advances AGAIN so A's batch covers (0, 2] under txn :2 —
    # a DIFFERENT source head than B's :1, the case txn-id replay
    # dedup cannot catch; only the CAS stands between A and
    # double-applying B's (0, 1] range
    tl.append(_frame(spark, 5, 7), src)
    changes = tl.read_changes(spark, src, a_position)
    with pytest.raises(tl.CommitConflict):
        tl.append(
            changes.drop("_change_type", "_commit_version"),
            dst,
            txn_id=f"{tl.SYNC_TXN_PREFIX}:{tl.source_key(src)}:2",
            require_head=a_head,
        )
    # the retry path (what sync_changes' loop does) applies ONLY the
    # remainder: no duplicated rows from B's range
    tl.sync_changes(spark, src, dst)
    assert _values(tl.read_snapshot(spark, dst)) == list(range(7))


def test_read_changes_serves_oldest_retained_version_after_vacuum(
    spark, tmp_path
):
    """ADVICE r08: appends used to serve their delta by diffing the
    PREVIOUS manifest, so polling the oldest retained version blew up
    with FileNotFoundError once vacuum expired its predecessor — a
    version squarely inside the documented retention horizon. The
    delta is now recorded in the commit's own manifest."""
    table = str(tmp_path / "t")
    tl.append(_frame(spark, 0, 3), table)   # v0
    tl.append(_frame(spark, 3, 5), table)   # v1
    tl.append(_frame(spark, 5, 9), table)   # v2
    tl.vacuum(table, retain_last=2, min_age_seconds=0)  # v0 expired
    # cursor at v0: the range (0, 2] starts at v1, whose predecessor
    # manifest is gone — must still serve exactly v1+v2's rows
    changes = tl.read_changes(spark, table, since_version=0)
    assert _values(changes) == list(range(3, 9))
    versions = sorted(
        r["_commit_version"] for r in changes.collect()
    )
    assert versions == [1, 1, 2, 2, 2, 2]


def test_checkpoint_folds_txn_dedup_past_vacuum(spark, tmp_path):
    """The growth path: vacuum folds expired manifests' txn ids into
    _log/_checkpoint.json before deleting them, so exactly-once
    replay dedup survives manifest expiry (previously a documented
    caveat) and _log stays bounded by the vacuum cadence."""
    table = str(tmp_path / "t")
    tl.append(_frame(spark, 0, 3), table, txn_id="batch-A")
    tl.append(_frame(spark, 3, 5), table, txn_id="batch-B")
    tl.append(_frame(spark, 5, 6), table, txn_id="batch-C")
    tl.vacuum(table, retain_last=1, min_age_seconds=0)
    # batch-A and batch-B's manifests are GONE...
    assert tl._list_versions(table) == [2]
    with pytest.raises(FileNotFoundError):
        tl._read_manifest(table, 0)
    # ...but their replay is still recognized from the fold
    assert tl.append(_frame(spark, 0, 3), table, txn_id="batch-A") == 0
    assert tl.append(_frame(spark, 3, 5), table, txn_id="batch-B") == 1
    assert _values(tl.read_snapshot(spark, table)) == list(range(6))
    # incremental re-fold: only manifests above the previous fold read
    assert tl.write_checkpoint(table) == tl.latest_version(table)


def test_checkpoint_preserves_sync_position_past_vacuum(
    spark, tmp_path
):
    """A deep vacuum on the destination used to reset sync_position
    to -1 (every sync manifest expired) and the next sync re-appended
    the whole feed; the fold keeps the consumer offset."""
    src, dst = str(tmp_path / "src"), str(tmp_path / "dst")
    tl.append(_frame(spark, 0, 3), src)
    tl.sync_changes(spark, src, dst)
    tl.append(_frame(spark, 3, 5), src)
    tl.sync_changes(spark, src, dst)
    # bury the sync manifests under non-sync commits, then expire them
    tl.append(_frame(spark, 100, 101), dst)
    tl.append(_frame(spark, 101, 102), dst)
    tl.vacuum(dst, retain_last=2, min_age_seconds=0)
    assert tl.sync_position(dst) == 1  # folded, not reset to -1
    # idle source: nothing re-applied
    assert tl.sync_changes(spark, src, dst) is None
    # new source data: only the remainder moves
    tl.append(_frame(spark, 5, 7), src)
    tl.sync_changes(spark, src, dst)
    assert _values(tl.read_snapshot(spark, dst)) == sorted(
        list(range(7)) + [100, 101]
    )


def test_dedup_contract_horizon_plus_fold_has_no_gap(
    spark, tmp_path, monkeypatch
):
    """The exactly-once contract: a replay is recognized if its commit
    is within TXN_DEDUP_HORIZON of head OR at/below the last
    checkpoint fold. Vacuum folds to HEAD (review r09 — folding only
    the expired prefix left live-but-deeper-than-horizon commits
    uncovered), and write_checkpoint alone provides the same cover
    between vacuums."""
    monkeypatch.setattr(tl, "TXN_DEDUP_HORIZON", 2)
    table = str(tmp_path / "t")
    for i in range(5):
        tl.append(_frame(spark, i * 2, i * 2 + 2), table, txn_id=f"b{i}")
    # b0 is 5 commits deep, horizon is 2, no fold yet: uncovered
    # (the documented middle-gap case) — write_checkpoint covers it
    tl.write_checkpoint(table)
    head = tl.latest_version(table)
    for i in range(5):
        assert tl.append(
            _frame(spark, i * 2, i * 2 + 2), table, txn_id=f"b{i}"
        ) == i
    assert tl.latest_version(table) == head
    # vacuum folds to head too: deep replays stay covered afterwards
    tl.append(_frame(spark, 50, 52), table, txn_id="b5")
    tl.vacuum(table, retain_last=2, min_age_seconds=0)
    for i in range(6):
        tl.append(_frame(spark, 0, 1), table, txn_id=f"b{i}")
    assert tl.latest_version(table) == head + 1
    assert _values(tl.read_snapshot(spark, table)) == list(range(10)) + [50, 51]


def test_delete_where_rewrites_only_pruned_files(spark, tmp_path):
    """Copy-on-write DELETE: the zone-map prune selects the rewrite
    set, untouched files (and their manifest stats) carry over
    unchanged, and the old version stays time-travelable."""
    table = str(tmp_path / "t")
    # range-clustered commit: files get disjoint v-ranges
    tl.append(
        _frame(spark, 0, 100).repartitionByRange(5, "v"), table
    )
    before = tl._read_manifest(table, 0)
    candidates = set(tl.files_for(table, where=("v", 10, 19)))
    assert 0 < len(candidates) < len(before["files"])
    v = tl.delete_where(
        spark, table, "v BETWEEN 10 AND 19", prune=("v", 10, 19)
    )
    assert v == 1
    after = tl._read_manifest(table, 1)
    assert after["op"] == "delete"
    # every non-candidate file survived with its stats
    kept = set(before["files"]) - candidates
    assert kept <= set(after["files"])
    for name in kept:
        assert after["stats"][name] == before["stats"][name]
    assert candidates.isdisjoint(after["files"])
    assert _values(tl.read_snapshot(spark, table)) == (
        list(range(10)) + list(range(20, 100))
    )
    # time travel: the pre-delete snapshot is intact (GDPR erasure =
    # this logical delete + vacuum once retention passes)
    assert _values(tl.read_snapshot(spark, table, version=0)) == list(
        range(100)
    )
    tl.vacuum(table, retain_last=1, min_age_seconds=0)
    with pytest.raises(Exception):
        tl.read_snapshot(spark, table, version=0).collect()


def test_delete_where_changefeed_and_downstream_sync(spark, tmp_path):
    """A delete committed with write_changefeed=True is served
    incrementally by read_changes and applied downstream by a KEYED
    sync; without the feed the change feed refuses the rewrite."""
    src, dst = str(tmp_path / "src"), str(tmp_path / "dst")
    tl.append(_frame(spark, 0, 6), src)
    tl.sync_changes(spark, src, dst, keys=["v"])
    tl.delete_where(
        spark, src, "v >= 4", prune=("v", 4, 1 << 60),
        write_changefeed=True,
    )
    changes = tl.read_changes(spark, src, 0)
    assert {
        (r.v, r["_change_type"]) for r in changes.collect()
    } == {(4, "delete"), (5, "delete")}
    tl.sync_changes(spark, src, dst, keys=["v"])
    assert _values(tl.read_snapshot(spark, dst)) == [0, 1, 2, 3]
    # insert-only sync must refuse the delete range
    dst2 = str(tmp_path / "dst2")
    with pytest.raises(ValueError, match="rewrite"):
        tl.sync_changes(spark, src, dst2)
    # and WITHOUT the feed, read_changes refuses loudly
    tl.delete_where(spark, src, "v = 0")
    with pytest.raises(ValueError, match="no recorded"):
        tl.read_changes(spark, src, 1)


def test_delete_where_noop_replay_and_empty_prune(spark, tmp_path):
    table = str(tmp_path / "t")
    tl.append(_frame(spark, 0, 5).repartitionByRange(2, "v"), table)
    # prune excludes every file: commit is an explicit servable no-op
    v = tl.delete_where(
        spark, table, "v > 1000", prune=("v", 2000, 3000),
        write_changefeed=True, txn_id="del-1",
    )
    assert _values(tl.read_snapshot(spark, table)) == list(range(5))
    assert tl.read_changes(spark, table, 0) is None  # no-op serves idle
    # replay: recognized, no new commit
    assert tl.delete_where(
        spark, table, "v > 1000", prune=("v", 2000, 3000),
        txn_id="del-1",
    ) == v
    assert tl.latest_version(table) == v


def test_delete_where_null_condition_rows_survive(spark, tmp_path):
    """SQL DELETE three-valued logic: only condition=TRUE rows go;
    a NULL-condition row survives (review r09 — filter(~expr) alone
    silently dropped it without recording a delete)."""
    table = str(tmp_path / "t")
    df = spark.createDataFrame(
        [(1, 10.0), (2, None), (3, 200.0)], "k int, temp double"
    )
    tl.append(df, table)
    tl.delete_where(spark, table, "temp > 100", write_changefeed=True)
    rows = {
        (r.k, r.temp)
        for r in tl.read_snapshot(spark, table).collect()
    }
    assert rows == {(1, 10.0), (2, None)}
    feed = tl.read_changes(spark, table, 0)
    assert [(r.k, r["_change_type"]) for r in feed.collect()] == [
        (3, "delete")
    ]


def test_delete_where_preserves_evolved_columns(spark, tmp_path):
    """The rewrite reads candidates with mergeSchema: an evolved
    column must not vanish because the scan inferred one old file's
    schema (review r09 — the same loss compact guards against)."""
    table = str(tmp_path / "t")
    tl.append(_frame(spark, 0, 3), table)
    tl.append(
        spark.createDataFrame([(10, "x"), (11, "y")], "v long, tag string"),
        table,
    )
    tl.delete_where(spark, table, "v = 1")  # no prune: rewrites all
    df = tl.read_snapshot(spark, table, merge_schema=True)
    assert sorted(df.columns) == ["tag", "v"]
    rows = {r.v: r.tag for r in df.collect()}
    assert rows == {0: None, 2: None, 10: "x", 11: "y"}


def test_delete_where_zero_match_changefeed_stays_idle(spark, tmp_path):
    """A changefeed delete matching zero rows must record an EMPTY
    feed (idle signal), not 0-row cdc files — otherwise a downstream
    keyed sync runs a pointless full rewrite (review r09)."""
    table = str(tmp_path / "t")
    tl.append(_frame(spark, 0, 5), table)
    tl.delete_where(spark, table, "v = 999", write_changefeed=True)
    assert tl._read_manifest(table, 1)["cdc_files"] == []
    assert tl.read_changes(spark, table, 0) is None
    assert _values(tl.read_snapshot(spark, table)) == list(range(5))


def test_concurrent_threaded_appenders_all_land(spark, tmp_path):
    """REAL concurrency (not a monkeypatched race): 8 threads append
    simultaneously; optimistic rebase must serialize them into 8
    contiguous versions with every writer's rows in the final
    snapshot and one manifest per version."""
    from concurrent.futures import ThreadPoolExecutor

    table = str(tmp_path / "t")
    ranges = [(i * 10, i * 10 + 10) for i in range(8)]
    with ThreadPoolExecutor(max_workers=8) as pool:
        versions = list(
            pool.map(
                lambda r: tl.append(_frame(spark, r[0], r[1]), table),
                ranges,
            )
        )
    assert sorted(versions) == list(range(8))
    assert _values(tl.read_snapshot(spark, table)) == list(range(80))
    # every intermediate snapshot is internally consistent: version k
    # holds exactly k+1 writers' disjoint ranges
    for v in range(8):
        vals = _values(tl.read_snapshot(spark, table, version=v))
        assert len(vals) == (v + 1) * 10
        assert len(set(vals)) == len(vals)


def test_metadata_only_count_and_minmax(spark, tmp_path):
    """COUNT(*) and global MIN/MAX answered from the manifest alone
    (footer-derived per-file stats recorded at commit time) — exact,
    zero file I/O, and honest Nones where metadata cannot prove the
    answer."""
    table = str(tmp_path / "t")
    tl.append(_frame(spark, 0, 30).repartitionByRange(3, "v"), table)
    tl.append(_frame(spark, 100, 110), table)
    assert tl.snapshot_row_count(table) == 40
    assert tl.snapshot_row_count(table, version=0) == 30
    assert tl.column_minmax(table, "v") == (0, 109)
    assert tl.column_minmax(table, "v", version=0) == (0, 29)
    # deletes keep the carried-over counts consistent
    tl.delete_where(spark, table, "v >= 100", prune=("v", 100, 1 << 40))
    assert tl.snapshot_row_count(table) == 30
    # refuse rather than guess: unknown column
    assert tl.column_minmax(table, "nope") is None
    # an all-null column in ANY file poisons minmax to None
    t2 = str(tmp_path / "t2")
    tl.append(
        spark.createDataFrame([(1, None), (2, None)], "k int, s string"),
        t2,
    )
    assert tl.column_minmax(t2, "s") is None
    assert tl.column_minmax(t2, "k") == (1, 2)


def test_nullcount_prune_query_fixture_actually_skips_files(
    spark, sf_dir
):
    """The driver compare on tablelog_nullcount_prune proves the
    __nulls skip never DROPS a row; this pin proves it isn't a no-op
    on that query's own fixture: value-range clustering makes files
    provably all-NULL or all-present in big_value, so BOTH prune
    directions must strictly shrink the scheduled file list, and
    together they must cover every live file (a file can't be
    skipped by both sides unless it's empty)."""
    from aws_weather_data_pipeline_spark.plans.tablelog_queries import (
        build_enriched_events_log,
    )

    table = build_enriched_events_log(spark, sf_dir)
    all_files = tl.files_for(table)
    notnull = tl.files_for(table, where=("big_value", "notnull"))
    isnull = tl.files_for(table, where=("big_value", "isnull"))
    assert len(notnull) < len(all_files), "notnull prune was a no-op"
    assert len(isnull) < len(all_files), "isnull prune was a no-op"
    assert set(notnull) | set(isnull) == set(all_files)


def test_metadata_only_null_counts(spark, tmp_path):
    """Exact per-column NULL counts from the manifest alone (the
    __nulls footer stats, Delta's nullCount idea): COUNT(col) and
    null-ratio dashboards with zero tasks, honest None where metadata
    cannot prove the answer, and provable all-NULL backfill for
    columns added by additive schema evolution."""
    table = str(tmp_path / "t")
    tl.append(
        spark.createDataFrame(
            [(1, "a"), (2, None), (3, None), (4, "b")], "k long, s string"
        ).repartition(2),
        table,
    )
    tl.append(
        spark.createDataFrame([(5, None), (6, "c")], "k long, s string"),
        table,
    )
    assert tl.column_null_count(table, "k") == 0
    assert tl.column_null_count(table, "s") == 3
    assert tl.column_null_count(table, "s", version=0) == 2
    # an ALL-null column still gets an exact count (min/max refuses)
    t2 = str(tmp_path / "t2")
    tl.append(
        spark.createDataFrame([(1, None), (2, None)], "k long, s string"),
        t2,
    )
    assert tl.column_minmax(t2, "s") is None
    assert tl.column_null_count(t2, "s") == 2
    # additive evolution: the old file's census proves 'tag' is absent
    # there, so its rows count as NULL-backfilled — exact through the
    # merge-schema read contract
    tl.append(
        spark.createDataFrame([(7, "d", "x"), (8, None, None)],
                              "k long, s string, tag string"),
        table,
    )
    assert tl.column_null_count(table, "tag") == 6 + 1
    assert tl.column_null_count(table, "s") == 4
    # matches the scan it replaces
    snap = tl.read_snapshot(spark, table, merge_schema=True)
    assert snap.filter(snap.tag.isNull()).count() == 7
    # unknown column: refuse (a typo must not read as "all NULL")
    assert tl.column_null_count(table, "nope") is None
    # compaction rewrites recompute stats: counts survive exactly
    tl.compact(spark, table, n_files=1)
    assert tl.column_null_count(table, "s") == 4
    assert tl.column_null_count(table, "tag") == 7
    assert tl.snapshot_row_count(table) == 8
    # delete_where rewrites keep counts exact on the survivors
    tl.delete_where(spark, table, "k = 2")
    assert tl.column_null_count(table, "s") == 3
    # footer chunks without the null-count statistic: honest None
    head = tl.latest_version(table)
    path = tl._manifest_path(table, head)
    manifest = json.load(open(path))
    for fstats in manifest["stats"].values():
        fstats.pop("__nulls", None)
    os.unlink(path)
    json.dump(manifest, open(path, "w"))
    assert tl.column_null_count(table, "s") is None
    # reserved names never alias the metadata keys
    assert tl.column_null_count(table, "__rows") is None
    assert tl.column_minmax(table, "__cols") is None


def test_null_predicate_pruning(spark, tmp_path):
    """IS NULL / IS NOT NULL file skipping from the per-file null
    counts: a file provably free of NULLs never serves an IS NULL
    read, an all-NULL file never serves IS NOT NULL, unprovable files
    are kept (superset contract), and the prune composes with
    delete_where's write-path skip."""
    table = str(tmp_path / "t")
    # f0: no nulls; f1: mixed; f2: all-null s
    tl.append(
        spark.createDataFrame([(1, "a"), (2, "b")], "k long, s string")
        .coalesce(1),
        table,
    )
    tl.append(
        spark.createDataFrame([(3, "c"), (4, None)], "k long, s string")
        .coalesce(1),
        table,
    )
    tl.append(
        spark.createDataFrame(
            [(5, None), (6, None)], "k long, s string"
        ).coalesce(1),
        table,
    )
    all_files = tl.files_for(table)
    assert len(all_files) == 3
    isnull = tl.files_for(table, where=("s", "isnull"))
    notnull = tl.files_for(table, where=("s", "notnull"))
    assert len(isnull) == 2  # f0 skipped: provably null-free
    assert len(notnull) == 2  # f2 skipped: provably all-null
    # rows survive the skip exactly (superset + real filter)
    snap = tl.read_snapshot(spark, table, where=("s", "isnull"))
    assert sorted(
        r.k for r in snap.filter(snap.s.isNull()).collect()
    ) == [4, 5, 6]
    snap2 = tl.read_snapshot(spark, table, where=("s", "notnull"))
    assert sorted(
        r.k for r in snap2.filter(snap2.s.isNotNull()).collect()
    ) == [1, 2, 3]
    # a column added later: old files provably all-null via __cols
    tl.append(
        spark.createDataFrame([(7, "d", "x")], "k long, s string, tag string")
        .coalesce(1),
        table,
    )
    assert len(tl.files_for(table, where=("tag", "notnull"))) == 1
    assert len(tl.files_for(table, where=("tag", "isnull"))) == 3
    # bad predicate refused loudly
    with pytest.raises(ValueError, match="isnull"):
        tl.files_for(table, where=("s", "equals"))
    # files without recorded null counts for s (footer chunks lacking
    # the statistic) keep everything
    head = tl.latest_version(table)
    path = tl._manifest_path(table, head)
    manifest = json.load(open(path))
    for fstats in manifest["stats"].values():
        fstats.pop("__nulls", None)
    os.unlink(path)
    json.dump(manifest, open(path, "w"))
    assert len(tl.files_for(table, where=("s", "isnull"))) == 4
    # write-path composition: delete the NULL-s rows, rewriting only
    # the files that provably contain them (f0 carries over untouched)
    t2 = str(tmp_path / "t2")
    tl.append(
        spark.createDataFrame([(1, "a"), (2, "b")], "k long, s string")
        .coalesce(1),
        t2,
    )
    tl.append(
        spark.createDataFrame([(3, None), (4, "c")], "k long, s string")
        .coalesce(1),
        t2,
    )
    before = set(tl.files_for(t2))
    tl.delete_where(spark, t2, "s IS NULL", prune=("s", "isnull"))
    after = set(tl.files_for(t2))
    assert len(before & after) == 1  # the null-free file survived as-is
    assert sorted(
        r.k for r in tl.read_snapshot(spark, t2).collect()
    ) == [1, 2, 4]


def test_schema_on_write_refuses_retyped_columns(spark, tmp_path):
    """Schema enforcement: adding columns is additive evolution,
    omitting columns NULL-backfills on read — but RETYPING an
    existing column is refused, because it poisons every later
    merge-schema read of the snapshot. Overwrite is the declared
    escape hatch."""
    table = str(tmp_path / "t")
    tl.append(_frame(spark, 0, 3), table)  # v bigint
    # additive: new column OK; the recorded schema is the union
    tl.append(
        spark.createDataFrame([(7, "x")], "v long, tag string"), table
    )
    assert [
        f["name"]
        for f in tl._read_manifest(table, 1)["schema"]["fields"]
    ] == ["v", "tag"]
    # column subset OK (tag null-backfills on merge-schema reads)
    tl.append(_frame(spark, 3, 5), table)
    # retype refused — BOTH a v0 column and an evolved column
    with pytest.raises(ValueError, match="retype"):
        tl.append(
            spark.createDataFrame([("nope",)], "v string"), table
        )
    with pytest.raises(ValueError, match="retype"):
        tl.append(
            spark.createDataFrame([(1, 2)], "v long, tag int"), table
        )
    # overwrite declares a new schema unchecked; append then enforces
    # against IT
    tl.overwrite(spark.createDataFrame([("s",)], "v string"), table)
    tl.append(spark.createDataFrame([("t",)], "v string"), table)
    with pytest.raises(ValueError, match="retype"):
        tl.append(_frame(spark, 0, 1), table)


def test_schema_enforcement_survives_maintenance_ops(spark, tmp_path):
    """compact/merge/delete rewrite files but not the column
    contract: each must carry the recorded schema forward, or the
    first maintenance op silently disables append's enforcement
    (review r09). Also: a replayed txn append is a no-op even when
    the schema has since legitimately changed, and pays no data
    write."""
    table = str(tmp_path / "t")
    tl.append(_frame(spark, 0, 4), table, txn_id="first")
    tl.compact(spark, table, n_files=1)
    with pytest.raises(ValueError, match="retype"):
        tl.append(spark.createDataFrame([("x",)], "v string"), table)
    tl.delete_where(spark, table, "v = 0")
    with pytest.raises(ValueError, match="retype"):
        tl.append(spark.createDataFrame([("x",)], "v string"), table)
    tl.merge_changes(
        spark, table,
        spark.createDataFrame([("U", 9, 0)], "op string, v long, seq int")
        .select("op", "v"),
        keys=["v"], order_cols=["v"],
    )
    with pytest.raises(ValueError, match="retype"):
        tl.append(spark.createDataFrame([("x",)], "v string"), table)
    # replay after a legitimate overwrite-retype: no-op, no error,
    # and no orphan data files written
    tl.overwrite(spark.createDataFrame([("s",)], "v string"), table)
    n_data = len(os.listdir(tl._data_dir(table)))
    assert tl.append(_frame(spark, 0, 4), table, txn_id="first") == 0
    assert len(os.listdir(tl._data_dir(table))) == n_data


def test_restore_rolls_back_bad_commit_keeping_history(spark, tmp_path):
    """RESTORE: an earlier version becomes the head as one manifest
    commit — byte-identical contents (stats/schema/counts carry
    over), history stays linear and auditable, feed consumers refuse
    the unrecorded rewrite, replays are no-ops, and a vacuumed
    target is refused loudly."""
    table = str(tmp_path / "t")
    tl.append(_frame(spark, 0, 5), table)              # v0: good
    tl.overwrite(_frame(spark, 900, 903), table)       # v1: bad write
    v = tl.restore(table, 0, txn_id="undo-1")
    assert v == 2
    assert _values(tl.read_snapshot(spark, table)) == list(range(5))
    assert tl.snapshot_row_count(table) == 5
    assert tl.column_minmax(table, "v") == (0, 4)
    m = tl._read_manifest(table, 2)
    assert m["op"] == "restore" and m["restored_from"] == 0
    # the bad commit is still auditable/time-travelable
    assert _values(tl.read_snapshot(spark, table, version=1)) == [
        900, 901, 902,
    ]
    # replay: no new commit
    assert tl.restore(table, 0, txn_id="undo-1") == 2
    assert tl.latest_version(table) == 2
    # schema enforcement continues against the restored schema
    with pytest.raises(ValueError, match="retype"):
        tl.append(spark.createDataFrame([("x",)], "v string"), table)
    # change feed refuses the unrecorded rewrite
    with pytest.raises(ValueError, match="no recorded"):
        tl.read_changes(spark, table, 1)
    # vacuumed target: refuse, don't resurrect half a snapshot —
    # but a REPLAY of the committed restore stays a no-op even after
    # its target manifest expired (review r09: the replay check runs
    # before the target read)
    tl.append(_frame(spark, 5, 6), table)
    tl.vacuum(table, retain_last=1, min_age_seconds=0)
    assert tl.restore(table, 0, txn_id="undo-1") == 2
    with pytest.raises(FileNotFoundError):
        tl.restore(table, 1)


def test_every_commit_writes_the_current_format(spark, tmp_path):
    """The readers depend on what every writer records, with no
    fallback for a missing key: each manifest carries a schema, an
    append names the files it added, every live file's stats carry
    its row count, byte size and column census, and the checkpoint
    fold carries the rollback markers."""
    old, table = str(tmp_path / "src_old"), str(tmp_path / "t")
    tl.append(_frame(spark, 0, 5), old)
    tl.sync_changes(spark, old, table)
    tl.append(_frame(spark, 5, 8), table)
    old_key = tl.source_key(old)
    new = str(tmp_path / "src_new")
    os.rename(old, new)
    tl.migrate_consumer_position(table, new, old_key=old_key)
    tl.overwrite(_frame(spark, 0, 10).repartition(3), table)
    tl.compact(spark, table, n_files=2)
    tl.delete_where(spark, table, "v = 1")
    tl.delete_where(spark, table, "v = 2", write_changefeed=True)
    tl.merge_changes(
        spark, table,
        spark.createDataFrame(
            [("U", 20, 1), ("D", 3, 1)], "op string, v long, seq int"
        ),
        keys=["v"], order_cols=["seq"], write_changefeed=True,
    )
    tl.restore(table, 4)
    tl.vacuum(table, retain_last=100, min_age_seconds=0)
    history = tl.history(table)
    assert [m["op"] for m in history] == [
        "append", "append", "compact", "overwrite", "compact",
        "delete", "delete", "merge", "restore",
    ]
    for m in history:
        assert isinstance(m["schema"], dict) and m["schema"], m
        if m["op"] == "append":
            assert set(m["added"]) <= set(m["files"]), m
        for name in m["files"]:
            fstats = m["stats"][name]
            assert isinstance(fstats["__rows"], int), m
            assert isinstance(fstats["__bytes"], int), m
            assert isinstance(fstats["__cols"], list), m
    assert tl._read_checkpoint(table)["rollbacks"] == []


def test_files_for_keeps_files_with_unorderable_zone_maps(
    spark, tmp_path
):
    """Zone maps that do not order against the caller's bounds (a
    bound of another type, or a hand-edited manifest) must keep the
    file under the superset contract, not crash the prune (review
    r09 — column_minmax already refused with None)."""
    table = str(tmp_path / "t")
    tl.append(_frame(spark, 0, 4), table)
    # a string bound against the int zone maps: every file is kept
    assert tl.files_for(table, where=("v", "a", "z")) == tl.files_for(table)
    head = tl.latest_version(table)
    path = tl._manifest_path(table, head)
    manifest = json.load(open(path))
    name = manifest["files"][0]
    manifest["stats"][name]["v"] = ["a", "b"]  # retyped zone map
    os.unlink(path)
    json.dump(manifest, open(path, "w"))
    kept = tl.files_for(table, where=("v", 0, 10))
    assert name in kept  # unprovable -> kept
    assert tl.column_minmax(table, "v") is None
    assert _values(
        tl.read_snapshot(spark, table, where=("v", 0, 10)).filter(
            "v <= 10"
        )
    ) == [0, 1, 2, 3]


def test_vacuum_folds_checkpoint_even_when_nothing_expires(
    spark, tmp_path, monkeypatch
):
    """Review r10: with deep retain_last and no expiry, vacuum must
    still advance the checkpoint fold — otherwise a replay from
    deeper than TXN_DEDUP_HORIZON retained-but-never-folded commits
    goes unrecognized and double-commits."""
    monkeypatch.setattr(tl, "TXN_DEDUP_HORIZON", 4)
    table = str(tmp_path / "t")
    for i in range(6):
        tl.append(_frame(spark, i, i + 1), table, txn_id=f"t{i}")
    # nothing expires: retain everything
    assert tl.vacuum(table, retain_last=100, min_age_seconds=0) == []
    # t0 is 6 commits deep, past the 4-manifest scan horizon; only
    # the fold vacuum just wrote can recognize the replay
    assert tl.append(_frame(spark, 0, 1), table, txn_id="t0") == 0
    assert tl.latest_version(table) == 5
    assert _values(tl.read_snapshot(spark, table)) == list(range(6))


def test_restore_lost_vacuum_race_detected_and_rolled_back(
    spark, tmp_path, monkeypatch
):
    """Review r10: restore's utime narrows but cannot close the race
    with vacuum's per-file check-then-delete. Simulate the losing
    interleave (a vacuum unlink landing AFTER the restore publishes):
    restore must detect the vanished file, roll the head forward to
    the pre-restore snapshot, and raise — never leave a head naming
    deleted files."""
    table = str(tmp_path / "t")
    tl.append(_frame(spark, 0, 5), table)             # v0: target
    tl.overwrite(_frame(spark, 900, 903), table)      # v1: head
    target_files = tl._read_manifest(table, 0)["files"]
    real_publish = tl._publish
    fired = []

    def sabotage(tbl, version, manifest):
        real_publish(tbl, version, manifest)
        if manifest.get("op") == "restore" and not fired:
            fired.append(version)
            os.unlink(os.path.join(tl._data_dir(tbl), target_files[0]))

    monkeypatch.setattr(tl, "_publish", sabotage)
    with pytest.raises(FileNotFoundError, match="lost the race"):
        tl.restore(table, 0)
    # the compensating commit restored the pre-restore snapshot: the
    # table is readable at head and nothing of v1's contents was lost
    assert _values(tl.read_snapshot(spark, table)) == [900, 901, 902]
    last = tl.history(table)[-1]
    assert last["op"] == "restore" and last["restored_from"] == 1
    # the rolled-back restore's own version is marked damaged (r12):
    # time travel to it gets the named error, not a bare scan death
    assert os.path.exists(tl._damaged_marker_path(table, fired[0]))
    with pytest.raises(FileNotFoundError, match="is damaged"):
        tl.files_for(table, fired[0])


def test_restore_race_with_interleaved_commit_raises_without_rollback(
    spark, tmp_path, monkeypatch
):
    """Review r10: a commit landing after the restore does NOT make
    the lost-vacuum verification moot — append builds on the previous
    manifest's files, so the deleted restored file propagates into
    the new head. Restore must still raise (the corruption must
    surface), but must NOT roll back over the interleaved writer's
    commit: that writer's rows are not restore's to discard."""
    table = str(tmp_path / "t")
    tl.append(_frame(spark, 0, 5), table)             # v0: target
    tl.overwrite(_frame(spark, 900, 903), table)      # v1: head
    target_files = tl._read_manifest(table, 0)["files"]
    real_publish = tl._publish
    fired = []

    def sabotage(tbl, version, manifest):
        real_publish(tbl, version, manifest)
        if manifest.get("op") == "restore" and not fired:
            fired.append(version)
            # the losing vacuum unlinks a restored file AND a
            # concurrent append moves the head, carrying the file
            # list (incl. the deleted name) forward
            os.unlink(os.path.join(tl._data_dir(tbl), target_files[0]))
            tl.append(_frame(spark, 50, 52), tbl)

    monkeypatch.setattr(tl, "_publish", sabotage)
    with pytest.raises(FileNotFoundError, match="still references"):
        tl.restore(table, 0)
    # no rollback was committed over the interleaved append: the head
    # is the append's commit, its rows intact
    assert tl.history(table)[-1]["op"] == "append"
    assert target_files[0] not in tl.files_for(table, version=1)
    # the corruption the raise names: the interleaved append carried
    # the deleted file name into the head manifest
    head = tl.latest_version(table)
    assert target_files[0] in tl._read_manifest(table, head)["files"]
    # BOTH the restore's own commit and the corrupted head are marked
    # damaged (r12): any reader — not just the restoring caller —
    # gets the named error instead of a bare scan death
    with pytest.raises(FileNotFoundError, match="is damaged"):
        tl.files_for(table, fired[0])
    with pytest.raises(FileNotFoundError, match="is damaged"):
        tl.files_for(table)
    # the undamaged pre-restore version stays readable for recovery
    assert _values(tl.read_snapshot(spark, table, version=1)) == [
        900, 901, 902,
    ]


def test_concurrent_delete_append_vacuum_interleave(spark, tmp_path):
    """REAL threads: four appenders, a copy-on-write deleter, and a
    default-horizon vacuum all racing on one table. delete_where
    recomputes on every lost race, so no interleaved append's rows
    are discarded by the rewrite; vacuum's age guard spares the
    writers' staged files. The appended ranges are disjoint from the
    delete condition, so the final snapshot is exactly determined
    whatever the interleave order (review r10: the delete/vacuum
    write paths had race reasoning but only single-writer tests)."""
    from concurrent.futures import ThreadPoolExecutor

    table = str(tmp_path / "t")
    tl.append(_frame(spark, 0, 10), table)

    def appender(lo):
        tl.append(_frame(spark, lo, lo + 10), table)

    def deleter():
        tl.delete_where(spark, table, "v < 5", prune=("v", -1, 4))

    def vac():
        tl.vacuum(table, retain_last=1)  # default min_age horizon

    jobs = [lambda lo=lo: appender(lo) for lo in (10, 20, 30, 40)]
    jobs += [deleter, vac]
    with ThreadPoolExecutor(max_workers=len(jobs)) as pool:
        for f in [pool.submit(j) for j in jobs]:
            f.result()  # propagate any thread's failure
    # delete landed exactly once somewhere in the interleave; every
    # appended row (all >= 10) survived it
    assert _values(tl.read_snapshot(spark, table)) == list(range(5, 50))
    # versions are contiguous: 1 seed + 4 appends + 1 delete
    assert tl.latest_version(table) == 5


# ---------------------------------------------------------------------------
# Review r10 hardening: staged-file aging, txn namespaces, merge op
# validation, keyed-sync CAS, restore replay honesty
# ---------------------------------------------------------------------------


def test_staged_files_age_from_staging_not_spark_write(
    spark, tmp_path, monkeypatch
):
    """Review r10: rename preserves the Spark part-file's mtime, so a
    commit whose Spark job outran min_age_seconds would stage files
    vacuum's age guard already considers deletable. _write_data_files
    must refresh mtime at staging time — simulate 2h-old part files
    and assert the staged copies read as young."""
    import time

    real_rename = os.rename

    def rename_of_old_part(src_path, dst_path):
        real_rename(src_path, dst_path)
        old = time.time() - 7200
        os.utime(dst_path, (old, old))  # the Spark-write-time mtime

    monkeypatch.setattr(tl.os, "rename", rename_of_old_part)
    table = str(tmp_path / "t")
    tl.append(_frame(spark, 0, 3), table)
    monkeypatch.undo()
    for name in tl.files_for(table):
        age = time.time() - os.path.getmtime(
            os.path.join(tl._data_dir(table), name)
        )
        assert age < 600, f"{name} aged {age}s: guard measures Spark write"


def test_reserved_txn_namespaces_enforced_and_recovery_hardened(
    spark, tmp_path
):
    """Review r10: a caller txn id colliding with a consumer-offset
    namespace without an integer position would wedge (ValueError in
    txn_position) or corrupt every later sync on the destination —
    refused at write time by every committing operation; and
    recovery itself skips a malformed id read from disk instead of
    crashing."""
    table = str(tmp_path / "t")
    with pytest.raises(ValueError, match="reserved"):
        tl.append(_frame(spark, 0, 3), table, txn_id="changefeed-sync:run-7")
    tl.append(_frame(spark, 0, 3), table)
    with pytest.raises(ValueError, match="reserved"):
        tl.overwrite(_frame(spark, 0, 3), table, txn_id="agg-sync:batch-x")
    # ADVICE r13: an integer LAST field is not enough — 'nightly' is
    # not a source key, and recovery would read 7 as a consumer
    # position; the full <prefix>:<12-hex>:<int> shape is required
    with pytest.raises(ValueError, match="reserved"):
        tl.append(
            _frame(spark, 0, 3), table, txn_id="changefeed-sync:nightly:7"
        )
    with pytest.raises(ValueError, match="reserved"):
        tl.append(_frame(spark, 0, 3), table, txn_id="agg-sync:7")
    with pytest.raises(ValueError, match="reserved"):
        tl.merge_changes(
            spark, table,
            spark.createDataFrame([("U", 1, 1)], "op string, v long, seq int"),
            keys=["v"], order_cols=["seq"], txn_id="changefeed-sync:nope",
        )
    # the maintenance ops publish their own manifests: the same check
    # holds there, or the fake position 7 would be recovered below
    with pytest.raises(ValueError, match="reserved"):
        tl.compact(spark, table, n_files=1,
                   txn_id="changefeed-sync:nightly:7")
    with pytest.raises(ValueError, match="reserved"):
        tl.delete_where(spark, table, "v = 0", txn_id="agg-sync:7")
    assert [m["op"] for m in tl.history(table)] == ["append"]
    assert tl.sync_position(table) == -1
    # a hand-edited manifest with a malformed reserved txn id (the
    # write-time check never saw it): recovery skips it rather than
    # raising
    head = tl.latest_version(table)
    path = tl._manifest_path(table, head)
    manifest = json.load(open(path))
    manifest["txn_id"] = "changefeed-sync:legacy-garbage"
    os.unlink(path)
    json.dump(manifest, open(path, "w"))
    assert tl.sync_position(table) == -1


def test_merge_changes_rejects_invalid_ops(spark, tmp_path):
    """Review r10: a lowercase 'd' (or NULL) op silently upserted the
    rows the feed meant to delete; ops are now validated eagerly."""
    table = str(tmp_path / "t")
    tl.append(
        spark.createDataFrame([(1, "a")], "k int, s string"), table
    )
    with pytest.raises(ValueError, match="invalid 'op'"):
        tl.merge_changes(
            spark, table,
            spark.createDataFrame(
                [("d", 1, None, 1)], "op string, k int, s string, seq int"
            ),
            keys=["k"], order_cols=["seq"],
        )
    with pytest.raises(ValueError, match="invalid 'op'"):
        tl.merge_changes(
            spark, table,
            spark.createDataFrame(
                [(None, 1, "x", 1)], "op string, k int, s string, seq int"
            ),
            keys=["k"], order_cols=["seq"],
        )
    # the table is untouched
    assert {(r.k, r.s) for r in tl.read_snapshot(spark, table).collect()} == {
        (1, "a")
    }


def test_sync_keyed_stale_racer_cannot_regress_keys(
    spark, tmp_path, monkeypatch
):
    """Review r10: without a CAS the keyed sync path converged only
    eventually — a stale racer's merge landing AFTER a fresher sync
    regressed keys to older values until the next poll. Simulate the
    interleave: a fresher sync completes between this worker's
    snapshot reads and its merge; the stale merge must lose into the
    retry loop and the destination must hold the NEWER value."""
    src, dst = str(tmp_path / "src"), str(tmp_path / "dst")
    tl.append(
        spark.createDataFrame([(1, "v1")], "k int, s string"), src
    )
    tl.sync_changes(spark, src, dst, keys=["k"])  # bootstrap
    tl.merge_changes(
        spark, src,
        spark.createDataFrame(
            [("U", 1, "v2", 1)], "op string, k int, s string, seq int"
        ),
        keys=["k"], order_cols=["seq"], write_changefeed=True,
    )

    real_read_changes = tl.read_changes
    fired = []

    def hijack(spark_, table_, lo, hi):
        changes = real_read_changes(spark_, table_, lo, hi)
        if not fired and table_ == src:
            fired.append(True)
            # a fresher source commit lands AND a competing sync
            # applies everything — after this worker read its range
            tl.merge_changes(
                spark, src,
                spark.createDataFrame(
                    [("U", 1, "v3", 2)],
                    "op string, k int, s string, seq int",
                ),
                keys=["k"], order_cols=["seq"], write_changefeed=True,
            )
            tl.sync_changes(spark, src, dst, keys=["k"])
        return changes

    monkeypatch.setattr(tl, "read_changes", hijack)
    tl.sync_changes(spark, src, dst, keys=["k"])  # stale worker
    monkeypatch.setattr(tl, "read_changes", real_read_changes)
    # the destination holds the NEWER value — never regressed to v2
    assert {
        (r.k, r.s) for r in tl.read_snapshot(spark, dst).collect()
    } == {(1, "v3")}


def test_restore_replay_after_rollback_raises_not_success(
    spark, tmp_path, monkeypatch
):
    """Review r10: a retried restore whose original attempt lost the
    vacuum race (and was rolled back) must not replay as success —
    the head does not hold the target's contents."""
    table = str(tmp_path / "t")
    tl.append(_frame(spark, 0, 5), table)             # v0: target
    tl.overwrite(_frame(spark, 900, 903), table)      # v1: head
    target_files = tl._read_manifest(table, 0)["files"]
    real_publish = tl._publish
    fired = []

    def sabotage(tbl, version, manifest):
        real_publish(tbl, version, manifest)
        if manifest.get("op") == "restore" and not fired:
            fired.append(version)
            os.unlink(os.path.join(tl._data_dir(tbl), target_files[0]))

    monkeypatch.setattr(tl, "_publish", sabotage)
    with pytest.raises(FileNotFoundError, match="lost the race"):
        tl.restore(table, 0, txn_id="restore-run-1")
    monkeypatch.setattr(tl, "_publish", real_publish)
    # the orchestrator retries the same txn: loud failure, not success
    with pytest.raises(FileNotFoundError, match="rolled back"):
        tl.restore(table, 0, txn_id="restore-run-1")
    # head still holds the pre-restore contents
    assert _values(tl.read_snapshot(spark, table)) == [900, 901, 902]
    # ADVICE r10: the guard must survive RETENTION — fold the rollback
    # commit into the checkpoint, expire its manifest, and the retry
    # must still raise (checkpoint-folded marker), never replay as
    # success.
    rollback_v = tl.latest_version(table)
    assert (
        tl._read_manifest(table, rollback_v)["rolled_back_restore"]
        == fired[0]
    )
    tl.write_checkpoint(table)
    assert fired[0] in tl._read_checkpoint(table)["rollbacks"]
    for v in (fired[0], rollback_v):
        os.unlink(tl._manifest_path(table, v))
    tl.append(_frame(spark, 950, 951), table)  # fresh head manifest
    with pytest.raises(FileNotFoundError, match="checkpoint-folded"):
        tl.restore(table, 0, txn_id="restore-run-1")


def test_noop_merge_records_empty_changefeed(spark, tmp_path):
    """Review r11: a merge batch of 'D' ops on absent keys changes
    nothing — it must record an EMPTY cdc feed (read_changes -> None,
    the idle signal that stops a downstream keyed sync from a
    pointless full rewrite), never 0-row cdc files."""
    table = str(tmp_path / "t")
    tl.append(_frame(spark, 0, 3), table)
    changes = spark.createDataFrame(
        [("D", 99, 0), ("D", 98, 1)], "op string, v long, seq int"
    )
    v = tl.merge_changes(
        spark, table, changes, keys=["v"], order_cols=["seq"],
        write_changefeed=True,
    )
    assert tl._read_manifest(table, v)["cdc_files"] == []
    assert tl.read_changes(spark, table, v - 1, v) is None
    # and an effective merge still records a real feed
    eff = spark.createDataFrame(
        [("D", 1, 0)], "op string, v long, seq int"
    )
    v2 = tl.merge_changes(
        spark, table, eff, keys=["v"], order_cols=["seq"],
        write_changefeed=True,
    )
    feed = tl.read_changes(spark, table, v2 - 1, v2)
    assert [(r.v, r._change_type) for r in feed.collect()] == [
        (1, "delete")
    ]


def test_reserved_cdc_column_names_refused_loudly(spark, tmp_path):
    """Review r11: a source data column named _change_type /
    _commit_version (or 'op' on the keyed sync path) would be
    silently clobbered by the feed's fabricated columns — the
    changefeed entry points must refuse it with a named error."""
    src = str(tmp_path / "src")
    tl.append(
        spark.createDataFrame(
            [(1, "x")], "v long, _change_type string"
        ),
        src,
    )
    with pytest.raises(ValueError, match="collide"):
        tl.read_changes(spark, src, -1)
    src2, dst2 = str(tmp_path / "src2"), str(tmp_path / "dst2")
    tl.append(
        spark.createDataFrame([(1, "U")], "v long, op string"), src2
    )
    tl.append(spark.createDataFrame([(1, "U")], "v long, op string"),
              dst2)
    with pytest.raises(ValueError, match="collide"):
        tl.sync_changes(spark, src2, dst2, keys=["v"])
    # merge_changes with a changefeed refuses a _change_type data col
    t3 = str(tmp_path / "t3")
    tl.append(
        spark.createDataFrame(
            [(1, "a")], "v long, _change_type string"
        ),
        t3,
    )
    batch = spark.createDataFrame(
        [("U", 2, "b", 0)],
        "op string, v long, _change_type string, seq int",
    )
    with pytest.raises(ValueError, match="collide"):
        tl.merge_changes(
            spark, t3, batch, keys=["v"], order_cols=["seq"],
            write_changefeed=True,
        )


def test_vacuum_spares_staging_dir_with_fresh_inner_files(
    spark, tmp_path
):
    """Review r11: the staging-dir sweep must age from the NEWEST
    mtime inside the tree — Spark sets the dir mtime at job start, so
    a long write would otherwise be rmtree'd mid-job."""
    table = str(tmp_path / "t")
    tl.append(_frame(spark, 0, 3), table)
    live = os.path.join(table, "_staging-livejob")
    os.makedirs(os.path.join(live, "_temporary"))
    inner = os.path.join(live, "_temporary", "part-0")
    open(inner, "w").write("x")
    old = 1_000_000_000  # well past any age cutoff
    os.utime(live, (old, old))  # job-start dir mtime: ancient
    dead = os.path.join(table, "_staging-deadjob")
    os.makedirs(dead)
    open(os.path.join(dead, "part-0"), "w").write("x")
    os.utime(os.path.join(dead, "part-0"), (old, old))
    os.utime(dead, (old, old))
    tl.vacuum(table, retain_last=1, min_age_seconds=3600)
    assert os.path.isdir(live), "fresh inner file must spare the dir"
    assert not os.path.exists(dead), "all-old staging dir must sweep"


def test_position_walks_tolerate_concurrent_vacuum_unlink(
    spark, tmp_path, monkeypatch
):
    """Review r11: a vacuum unlinking an expired manifest between the
    listing and the read must not crash txn_position /
    _replayed_version — the fold already covers it."""
    table = str(tmp_path / "t")
    key = "ab" * 6  # a well-formed 12-hex source key
    tl.append(_frame(spark, 0, 2), table, txn_id=f"changefeed-sync:{key}:5")
    tl.append(_frame(spark, 2, 4), table)
    tl.write_checkpoint(table)
    real_list = tl._list_versions

    def stale_listing(t):
        # 99's manifest never existed: the newest-first walks hit it
        # FIRST and must skip, not crash
        return real_list(t) + [99]

    monkeypatch.setattr(tl, "_list_versions", stale_listing)
    assert tl.txn_position(table, "changefeed-sync") == 5
    assert tl._replayed_version(table, f"changefeed-sync:{key}:5") == 0


def test_files_for_malformed_where_raises_named_error(spark, tmp_path):
    """ADVICE r10: a 1- or 4-element where tuple must fail with the
    loud, named validation both real arities get — not an opaque
    unpacking ValueError."""
    table = str(tmp_path / "t")
    tl.append(_frame(spark, 0, 3), table)
    for bad in (("v",), ("v", 0, 1, 2)):
        with pytest.raises(ValueError, match="isnull"):
            tl.files_for(table, where=bad)
        with pytest.raises(ValueError, match="isnull"):
            tl.read_snapshot(spark, table, where=bad)


def test_overwrite_replay_short_circuits_before_data_write(
    spark, tmp_path
):
    """Review r10: a replayed overwrite must not pay the Spark write
    only for _commit to discard it — no orphan files appear."""
    table = str(tmp_path / "t")
    tl.overwrite(_frame(spark, 0, 3), table, txn_id="load-1")
    before = set(os.listdir(tl._data_dir(table)))
    assert tl.overwrite(_frame(spark, 50, 99), table, txn_id="load-1") == 0
    assert set(os.listdir(tl._data_dir(table))) == before


def test_nested_nullability_flip_is_not_a_retype(spark, tmp_path):
    """Review r10: joins/aggregations routinely flip NESTED nullable
    flags; schema-on-write must not refuse the parquet-legal append —
    while a genuine nested retype is still caught."""
    from pyspark.sql import types as T

    table = str(tmp_path / "t")
    strict = T.StructType([
        T.StructField("k", T.LongType(), False),
        T.StructField(
            "obs",
            T.StructType([T.StructField("t", T.DoubleType(), False)]),
            True,
        ),
    ])
    relaxed = T.StructType([
        T.StructField("k", T.LongType(), True),
        T.StructField(
            "obs",
            T.StructType([T.StructField("t", T.DoubleType(), True)]),
            True,
        ),
    ])
    retyped = T.StructType([
        T.StructField("k", T.LongType(), True),
        T.StructField(
            "obs",
            T.StructType([T.StructField("t", T.StringType(), True)]),
            True,
        ),
    ])
    tl.append(spark.createDataFrame([(1, (1.5,))], strict), table)
    tl.append(spark.createDataFrame([(2, (2.5,))], relaxed), table)  # OK
    with pytest.raises(ValueError, match="retype"):
        tl.append(spark.createDataFrame([(3, ("no",))], retyped), table)
    assert tl.snapshot_row_count(table) == 2


def test_restore_caveat_success_marks_damaged_version(
    spark, tmp_path, monkeypatch
):
    """ADVICE r11: restore's success-with-caveat path (the head moved
    past our commit AND no longer references the vacuum-deleted
    files) used to return with NO signal, leaving a version whose
    time-travel read died deep inside Spark's scan with a bare
    missing-file error. Now the restore warns, records a damage
    marker, files_for/read_snapshot of that version raise a NAMED
    error carrying the history, every other version stays readable,
    and vacuum retires the marker together with the manifest it
    annotates."""
    table = str(tmp_path / "t")
    tl.append(_frame(spark, 0, 5), table)             # v0: target
    tl.overwrite(_frame(spark, 900, 903), table)      # v1: head
    target_files = tl._read_manifest(table, 0)["files"]
    real_publish = tl._publish
    fired = []

    def sabotage(tbl, version, manifest):
        real_publish(tbl, version, manifest)
        if manifest.get("op") == "restore" and not fired:
            fired.append(version)
            # the losing vacuum unlinks a restored file, and a
            # concurrent OVERWRITE supersedes the restore with a
            # clean file list — head clean, our commit damaged
            os.unlink(os.path.join(tl._data_dir(tbl), target_files[0]))
            tl.overwrite(_frame(spark, 50, 53), tbl)

    monkeypatch.setattr(tl, "_publish", sabotage)
    with pytest.warns(RuntimeWarning, match="marked damaged"):
        committed = tl.restore(table, 0)
    assert committed == fired[0]
    # the damaged version raises a NAMED error, not a bare scan death
    with pytest.raises(FileNotFoundError, match="lost a vacuum race"):
        tl.files_for(table, version=committed)
    with pytest.raises(FileNotFoundError, match="is damaged"):
        tl.read_snapshot(spark, table, version=committed)
    # the head and undamaged history stay readable
    assert _values(tl.read_snapshot(spark, table)) == [50, 51, 52]
    assert _values(tl.read_snapshot(spark, table, version=1)) == [
        900, 901, 902,
    ]
    # vacuum retires the marker with the manifest: the expired
    # version now fails with the standard no-manifest error
    tl.vacuum(table, retain_last=1, min_age_seconds=0.0)
    assert not os.path.exists(tl._damaged_marker_path(table, committed))
    with pytest.raises(FileNotFoundError):
        tl.files_for(table, version=committed)


def test_threaded_changefeed_cursor_races_vacuum_and_fold(spark, tmp_path):
    """REAL threads (the sync_aggregate treatment extended to the
    ack cursor, VERDICT r11 task 7 — aa466cd's poll/ack was only
    sequentially tested): a writer lands 12 appends, a consumer
    polls/acks a ChangefeedCursor and deliberately SKIPS two acks
    (downstream-commit failure), and a maintainer loops
    write_checkpoint + vacuum whose retain_last tracks the cursor so
    manifests genuinely expire behind the consumer mid-run. Invariants
    whatever the interleave: no thread raises; skipped-ack batches are
    re-served (at-least-once); re-served versions carry identical
    rows, so version-keyed dedup converges to exactly-once — the
    union of polled rows is exactly the appended rows."""
    import threading
    import time as _time
    from collections import Counter

    N_APPENDS, BATCH = 12, 5
    table = str(tmp_path / "t")
    tl.append(_frame(spark, 0, BATCH), table)  # v0: seed
    cursor = tl.ChangefeedCursor(table)  # consumes the seed too
    writer_done = threading.Event()
    consumer_done = threading.Event()
    failures: list[BaseException] = []
    seen_rows: Counter = Counter()  # (commit_version, value) -> polls
    skipped: list[int] = []

    def writer():
        try:
            for i in range(1, N_APPENDS + 1):
                tl.append(_frame(spark, 10 * i, 10 * i + BATCH), table)
        except BaseException as e:  # propagate to the main thread
            failures.append(e)
        finally:
            writer_done.set()

    def consumer():
        try:
            while True:
                batch = cursor.poll(spark)
                if batch is None:
                    if writer_done.is_set():
                        break
                    _time.sleep(0.05)
                    continue
                changes, until = batch
                for r in changes.collect():
                    assert r._change_type == "insert"
                    seen_rows[(r._commit_version, r.v)] += 1
                # two simulated downstream failures (the first two
                # distinct batch heads — deterministic whatever the
                # poll/append interleave): process but DON'T ack —
                # the contract is the next poll re-serves
                if len(skipped) < 2 and until not in skipped:
                    skipped.append(until)
                    continue
                cursor.ack(until)
        except BaseException as e:
            failures.append(e)
        finally:
            consumer_done.set()

    def maintainer():
        try:
            while not consumer_done.is_set():
                tl.write_checkpoint(table)
                head = tl.latest_version(table)
                pos = cursor.position
                if head is not None:
                    # retain everything the cursor still needs, +3
                    # margin for commits landing inside the vacuum
                    tl.vacuum(
                        table,
                        retain_last=max(1, head - pos + 3),
                        min_age_seconds=3600.0,  # spare staged files
                    )
                _time.sleep(0.01)
        except BaseException as e:
            failures.append(e)

    threads = [
        threading.Thread(target=writer),
        threading.Thread(target=consumer),
        threading.Thread(target=maintainer),
    ]
    for t in threads:
        t.start()
    for t in threads:
        t.join(timeout=300)
    assert all(not t.is_alive() for t in threads)
    assert not failures, failures
    # the two skipped acks really happened and forced re-serves
    assert len(skipped) == 2
    assert any(n >= 2 for n in seen_rows.values())
    # re-served versions carried identical rows each time: every
    # (version, value) pair of a version appears the same number of
    # times, so dedup by version is lossless
    per_version: dict[int, set[int]] = {}
    for (v, val), _n in seen_rows.items():
        per_version.setdefault(v, set()).add(val)
    # exactly-once after version-keyed dedup: the union of polled rows
    # is exactly the appended rows (seed + 12 batches), no gaps
    got = sorted(val for vals in per_version.values() for val in vals)
    expected = sorted(
        list(range(BATCH))
        + [10 * i + j for i in range(1, N_APPENDS + 1) for j in range(BATCH)]
    )
    assert got == expected
    assert cursor.position == tl.latest_version(table)
    # the maintenance was not vacuous: the fold advanced and manifests
    # expired behind the consumer during/after the run
    tl.write_checkpoint(table)
    head = tl.latest_version(table)
    tl.vacuum(table, retain_last=3, min_age_seconds=3600.0)
    assert tl._read_checkpoint(table)["version"] == head
    assert tl._list_versions(table)[0] == head - 2

def test_txn_replays_race_fresh_appends_and_folding_vacuum(
    spark, tmp_path
):
    """REAL threads on the replay-dedup read path: while fresh
    appenders advance the head and a maintainer loops vacuum —
    folding the checkpoint, then unlinking expired manifests —
    replayer threads re-submit ALREADY-COMMITTED txn ids.
    ``_replayed_version``'s manifest walk can lose any manifest to a
    concurrent unlink mid-walk and must fall through to the folded
    checkpoint; a replay that slips past dedup doubles its rows, one
    that errors kills a crashed writer's legitimate retry. Every
    replay must return its ORIGINAL version and commit nothing.
    (Data files are protected by the default age horizon — only
    manifests expire — so the race under test is walk-vs-unlink,
    exactly the single-maintainer deployment shape.)"""
    import threading

    table = str(tmp_path / "t")
    N_SEED, N_FRESH, N_REPLAYS = 6, 6, 4
    seed_versions = {
        f"seed-{i}": tl.append(
            _frame(spark, i * 10, i * 10 + 10), table, txn_id=f"seed-{i}"
        )
        for i in range(N_SEED)
    }
    failures: list[str] = []
    appends_done = threading.Event()

    def appender():
        try:
            for i in range(N_FRESH):
                lo = (N_SEED + i) * 10
                tl.append(
                    _frame(spark, lo, lo + 10), table,
                    txn_id=f"fresh-{i}",
                )
        except Exception as exc:  # noqa: BLE001
            failures.append(f"appender: {exc!r}")
        finally:
            appends_done.set()

    def replayer(txns):
        try:
            for _ in range(N_REPLAYS):
                for txn in txns:
                    got = tl.append(
                        _frame(spark, 0, 1), table, txn_id=txn
                    )
                    if got != seed_versions[txn]:
                        failures.append(
                            f"replay {txn}: got v{got}, "
                            f"original v{seed_versions[txn]}"
                        )
        except Exception as exc:  # noqa: BLE001
            failures.append(f"replayer: {exc!r}")

    def maintainer():
        try:
            while not appends_done.is_set():
                tl.vacuum(table, retain_last=2)  # default age horizon
            tl.vacuum(table, retain_last=2)  # once more past the head
        except Exception as exc:  # noqa: BLE001
            failures.append(f"maintainer: {exc!r}")

    seed_txns = sorted(seed_versions)
    threads = [
        threading.Thread(target=appender),
        threading.Thread(target=replayer, args=(seed_txns[:3],)),
        threading.Thread(target=replayer, args=(seed_txns[3:],)),
        threading.Thread(target=maintainer),
    ]
    for t in threads:
        t.start()
    for t in threads:
        t.join(timeout=300)
    assert all(not t.is_alive() for t in threads)
    assert not failures, failures
    # no replay minted a version: head is exactly seed + fresh commits
    assert tl.latest_version(table) == N_SEED + N_FRESH - 1
    # and no replay landed rows: the head snapshot is the exact union
    # of the seed and fresh disjoint ranges (a slipped replay would
    # duplicate a seed range or inject its probe row 0 twice)
    assert _values(tl.read_snapshot(spark, table)) == list(
        range((N_SEED + N_FRESH) * 10)
    )
    # the maintenance was real: the fold advanced to a recent head and
    # only the last retained manifests survive
    ckpt = tl._read_checkpoint(table)
    assert ckpt is not None
    assert set(seed_versions.values()) <= set(ckpt["txns"].values())
    assert len(tl._list_versions(table)) <= 3

def test_restore_races_looping_vacuum_threaded(spark, tmp_path):
    """REAL threads on the restore-vs-vacuum race (the interleave the
    directed tests above drive with a monkeypatched publish): a
    restorer cycles through cold targets whose files are unreferenced
    by the head and backdated past the age horizon — exactly what a
    default-horizon vacuum deletes — while a maintainer loops vacuum.
    Outcomes are interleave-dependent (success, target-vacuumed,
    lost-race-rolled-back are all legal); what must hold REGARDLESS:
    only documented errors, a head that always resolves to existing
    files, and every retained version either fully resolvable or
    marked damaged — never a bare missing-file scan death."""
    import threading

    table = str(tmp_path / "t")
    N_TARGETS = 4
    for i in range(N_TARGETS):
        tl.append(_frame(spark, i * 10, i * 10 + 10), table)
    tl.overwrite(_frame(spark, 900, 910), table)  # head drops targets
    old = time.time() - 7200
    data = tl._data_dir(table)
    # target files: referenced only by pre-overwrite manifests; cold
    for v in range(N_TARGETS):
        for n in tl._read_manifest(table, v)["files"]:
            os.utime(os.path.join(data, n), (old, old))
    failures: list[str] = []
    outcomes: list[str] = []
    restorer_done = threading.Event()

    def restorer():
        try:
            for i in range(N_TARGETS):
                try:
                    tl.restore(table, i, txn_id=f"stress-restore-{i}")
                    outcomes.append("restored")
                except FileNotFoundError as exc:
                    msg = str(exc)
                    if not any(
                        s in msg
                        for s in (
                            "lost the race", "were vacuumed",
                            "is damaged", "No such file",
                            "already ran and LOST",
                        )
                    ):
                        failures.append(f"undocumented error: {msg}")
                    outcomes.append("raised")
        except Exception as exc:  # noqa: BLE001
            failures.append(f"restorer: {exc!r}")
        finally:
            restorer_done.set()

    def maintainer():
        try:
            while not restorer_done.is_set():
                tl.vacuum(table, retain_last=2)
            tl.vacuum(table, retain_last=2)
        except Exception as exc:  # noqa: BLE001
            failures.append(f"maintainer: {exc!r}")

    threads = [
        threading.Thread(target=restorer),
        threading.Thread(target=maintainer),
    ]
    for t in threads:
        t.start()
    for t in threads:
        t.join(timeout=300)
    assert all(not t.is_alive() for t in threads)
    assert not failures, failures
    assert len(outcomes) == N_TARGETS
    # the head always resolves, and every file it names exists — with
    # no competing writer, every lost race rolls back successfully
    head_files = tl.files_for(table)
    for n in head_files:
        assert os.path.exists(os.path.join(data, n)), n
    # every retained version is either fully resolvable with files on
    # disk, or carries a damage marker that names the loss — a bare
    # missing-file scan death is the one forbidden state
    for v in tl._list_versions(table):
        try:
            names = tl.files_for(table, v)
        except FileNotFoundError as exc:
            assert "is damaged" in str(exc), (v, str(exc))
            continue
        for n in names:
            assert os.path.exists(os.path.join(data, n)), (v, n)
    # the head snapshot is readable end-to-end
    assert len(_values(tl.read_snapshot(spark, table))) >= 10

def test_snapshot_reads_stay_consistent_during_live_maintenance(
    spark, tmp_path
):
    """REAL threads, reader-side: two readers continuously collect the
    head snapshot WHILE an appender lands disjoint ranges, a
    compactor rewrites the file layout, and a vacuum loops with the
    default age horizon. This is the 100 TB operating mode — queries
    never pause for maintenance. Every read must observe exactly a
    committed prefix of the append history (compaction is
    data-identical, vacuum deletes nothing young): a torn read (half
    an append), a dropped range (compact losing a racing append), or
    a dead file handle would all break the exact-prefix check."""
    import threading

    table = str(tmp_path / "t")
    N_APPENDS = 8
    tl.append(_frame(spark, 0, 10), table)
    failures: list[str] = []
    sizes: set[int] = set()
    writer_done = threading.Event()

    def appender():
        try:
            for i in range(1, N_APPENDS):
                tl.append(_frame(spark, i * 10, i * 10 + 10), table)
        except Exception as exc:  # noqa: BLE001
            failures.append(f"appender: {exc!r}")
        finally:
            writer_done.set()

    def compactor():
        try:
            while not writer_done.is_set():
                tl.compact(spark, table, n_files=2)
        except Exception as exc:  # noqa: BLE001
            failures.append(f"compactor: {exc!r}")

    def maintainer():
        try:
            while not writer_done.is_set():
                tl.vacuum(table, retain_last=5)
        except Exception as exc:  # noqa: BLE001
            failures.append(f"maintainer: {exc!r}")

    def reader():
        try:
            while not writer_done.is_set():
                vals = _values(tl.read_snapshot(spark, table))
                n = len(vals)
                if n % 10 != 0 or vals != list(range(n)):
                    failures.append(
                        f"inconsistent read: n={n} head={vals[-3:]}"
                    )
                    return
                sizes.add(n)
        except Exception as exc:  # noqa: BLE001
            failures.append(f"reader: {exc!r}")

    threads = [
        threading.Thread(target=appender),
        threading.Thread(target=compactor),
        threading.Thread(target=maintainer),
        threading.Thread(target=reader),
        threading.Thread(target=reader),
    ]
    for t in threads:
        t.start()
    for t in threads:
        t.join(timeout=300)
    assert all(not t.is_alive() for t in threads)
    assert not failures, failures
    assert sizes, "readers never completed a read"
    # final state: every append survived every compaction rewrite
    assert _values(tl.read_snapshot(spark, table)) == list(
        range(N_APPENDS * 10)
    )

def test_vacuum_sweeps_orphaned_damage_markers_keeps_live_ones(
    spark, tmp_path
):
    """r12 crash-window hardening: vacuum now unlinks a damage marker
    BEFORE its manifest (a crash between the two must not leave a
    'version v is damaged' error for a version whose manifest is
    gone), and sweeps markers already orphaned by a pre-fix crash —
    while a marker for a RETAINED version must survive the sweep."""
    table = str(tmp_path / "t")
    for i in range(4):
        tl.append(_frame(spark, i * 10, i * 10 + 10), table)
    # orphan: marker for v0 whose manifest we expire below (pre-fix
    # crash shape); live: marker for the retained v2
    tl._write_damage_marker(table, 0, ["ghost-a.parquet"], "test orphan")
    tl._write_damage_marker(table, 2, ["ghost-b.parquet"], "test live")
    tl.vacuum(table, retain_last=2)
    # v0/v1 manifests expired; v0's marker went with them
    assert tl._list_versions(table) == [2, 3]
    assert not os.path.exists(tl._damaged_marker_path(table, 0))
    # the retained version's marker survived and still yields the
    # named error
    assert os.path.exists(tl._damaged_marker_path(table, 2))
    with pytest.raises(FileNotFoundError, match="is damaged"):
        tl.files_for(table, 2)
    # expired version: the STANDARD no-manifest error, not a damage
    # report
    with pytest.raises(FileNotFoundError) as exc:
        tl.read_snapshot(spark, table, version=0)
    assert "damaged" not in str(exc.value)

def test_vacuum_crash_mid_data_deletion_leaves_no_manifest_lying(
    spark, tmp_path, monkeypatch
):
    """r12 crash-ordering pin: vacuum expires manifests BEFORE
    deleting the data files they alone referenced. Inject a crash on
    the first data-file unlink: the interrupted vacuum must leave
    every manifest still on disk fully readable (the old data-first
    order left expired manifests naming deleted files — a bare scan
    death for time-travel readers), and the next vacuum finishes the
    sweep."""
    table = str(tmp_path / "t")
    for i in range(3):
        tl.append(_frame(spark, i * 10, i * 10 + 10), table)
    tl.overwrite(_frame(spark, 900, 905), table)  # v3: old files dead
    data = tl._data_dir(table)
    old = time.time() - 7200
    for v in range(3):
        for n in tl._read_manifest(table, v)["files"]:
            os.utime(os.path.join(data, n), (old, old))

    real_unlink = os.unlink
    crashed = []

    def crash_on_first_parquet(path, *a, **kw):
        if str(path).endswith(".parquet") and not crashed:
            crashed.append(path)
            raise OSError("injected crash during data deletion")
        return real_unlink(path, *a, **kw)

    monkeypatch.setattr(tl.os, "unlink", crash_on_first_parquet)
    with pytest.raises(OSError, match="injected crash"):
        tl.vacuum(table, retain_last=1)
    monkeypatch.setattr(tl.os, "unlink", real_unlink)
    assert crashed, "fixture never reached the data-deletion phase"
    # every manifest still on disk resolves to files that exist —
    # the crash left orphans, never a lying manifest
    versions = tl._list_versions(table)
    assert versions == [3]  # expired manifests went first
    for v in versions:
        for n in tl.files_for(table, v):
            assert os.path.exists(os.path.join(data, n)), (v, n)
    # the interrupted sweep's survivors are plain orphans; the next
    # vacuum deletes them and the head stays intact
    swept = tl.vacuum(table, retain_last=1)
    assert swept, "second vacuum found nothing to sweep"
    assert _values(tl.read_snapshot(spark, table)) == list(
        range(900, 905)
    )

def test_stream_sink_and_batch_appenders_share_one_table(
    spark, tmp_path
):
    """REAL concurrency on the shared-table promise (SCALE.md: 'batch
    writers can share the same table because the optimistic-commit
    protocol serializes them with the stream'): a maxFilesPerTrigger=1
    availableNow drain commits one epoch per source file through
    foreachBatch WHILE batch threads append their own disjoint
    ranges. The stream's epoch appends are rebasable, so lost races
    re-target instead of dropping a micro-batch; every epoch and
    every batch range must land exactly once, in one contiguous
    version chain."""
    import threading

    from aws_weather_data_pipeline_spark.streaming.pipeline import (
        start_tablelog_sink,
    )

    src = str(tmp_path / "src")
    table = str(tmp_path / "t")
    ckpt = str(tmp_path / "ckpt")
    N_FILES, N_BATCH = 4, 6
    for i in range(N_FILES):
        _frame(spark, i * 10, i * 10 + 10).coalesce(1).write.mode(
            "append"
        ).parquet(src)
    failures: list[str] = []

    def batch_appender():
        try:
            for i in range(N_BATCH):
                lo = 1000 + i * 10
                tl.append(_frame(spark, lo, lo + 10), table)
        except Exception as exc:  # noqa: BLE001
            failures.append(f"batch: {exc!r}")

    t = threading.Thread(target=batch_appender)
    t.start()
    stream = (
        spark.readStream.schema("v bigint")
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    q = start_tablelog_sink(stream, table, ckpt)
    assert q.awaitTermination(300), "stream drain did not finish"
    t.join(timeout=120)
    assert not t.is_alive() and not failures, failures
    # exactly once, both sides: stream rows + batch rows, no dupes
    expect = sorted(
        list(range(N_FILES * 10))
        + [1000 + i * 10 + j for i in range(N_BATCH) for j in range(10)]
    )
    assert _values(tl.read_snapshot(spark, table)) == expect
    # one contiguous version chain: every epoch and every batch append
    # serialized into its own commit
    assert tl.latest_version(table) == N_FILES + N_BATCH - 1
    epochs = [
        m["txn_id"] for m in tl.history(table) if m.get("txn_id")
    ]
    assert len(epochs) == N_FILES and len(set(epochs)) == N_FILES

def test_restore_rollback_cas_lost_marks_inherited_head(
    spark, tmp_path, monkeypatch
):
    """Review r12 #2: when restore's rollback CAS loses to a commit
    that landed between the head check and the rollback publish, the
    old code raised a GUESSED 'head still names deleted files'
    without checking and left that head unmarked. Now the branch
    falls through to the head re-evaluation: the interleaved append
    inherited the deleted name, so the head gets a damage marker too
    — every reader sees the named error — and the raise describes
    what the real head references."""
    table = str(tmp_path / "t")
    tl.append(_frame(spark, 0, 5), table)             # v0: target
    tl.overwrite(_frame(spark, 900, 903), table)      # v1: head
    target_files = tl._read_manifest(table, 0)["files"]
    real_publish = tl._publish
    state = {"restored": False, "interleaved": False}

    def sabotage(tbl, version, manifest):
        if (
            manifest.get("op") == "restore"
            and "rolled_back_restore" not in manifest
            and not state["restored"]
        ):
            state["restored"] = True
            real_publish(tbl, version, manifest)
            # the losing vacuum unlinks a restored file AFTER publish
            os.unlink(os.path.join(tl._data_dir(tbl), target_files[0]))
            return
        if (
            "rolled_back_restore" in manifest
            and not state["interleaved"]
        ):
            # the interleaver lands between restore's head check and
            # the rollback publish, so the rollback CAS must lose
            state["interleaved"] = True
            tl.append(_frame(spark, 50, 52), tbl)
        real_publish(tbl, version, manifest)

    monkeypatch.setattr(tl, "_publish", sabotage)
    with pytest.raises(FileNotFoundError, match="still references"):
        tl.restore(table, 0)
    assert state["interleaved"], "fixture never exercised the CAS loss"
    # the interleaved append IS the head, and it is marked damaged
    head = tl.latest_version(table)
    assert tl.history(table)[-1]["op"] == "append"
    with pytest.raises(FileNotFoundError, match="is damaged"):
        tl.files_for(table)
    # restore's own commit carries its marker as well
    with pytest.raises(FileNotFoundError, match="is damaged"):
        tl.files_for(table, head - 1)
    # the pre-restore snapshot is intact for recovery
    assert _values(tl.read_snapshot(spark, table, version=1)) == [
        900, 901, 902,
    ]


def test_restore_rollback_with_expired_prev_manifest_reports_honestly(
    spark, tmp_path, monkeypatch
):
    """ADVICE r12: when the rollback attempt fails because the
    PRE-RESTORE manifest itself expired (a vacuum with retain_last=1
    while our commit is head), the head never moved — reporting 'a
    concurrent commit landed meanwhile' and overwriting the commit's
    damage cause with the interleaved-commit wording is a wrong
    diagnosis. The raise must name the failed rollback, and the
    marker must keep the truthful vacuum-race cause."""
    table = str(tmp_path / "t")
    tl.append(_frame(spark, 0, 5), table)             # v0: target
    tl.overwrite(_frame(spark, 900, 903), table)      # v1: head
    target_files = tl._read_manifest(table, 0)["files"]
    real_publish = tl._publish
    fired = []

    def sabotage(tbl, version, manifest):
        real_publish(tbl, version, manifest)
        if manifest.get("op") == "restore" and not fired:
            fired.append(version)
            # the losing vacuum deletes a restored file AND expires
            # the pre-restore manifest (retain_last=1 keeps only the
            # new head = the restore's own commit)
            os.unlink(os.path.join(tl._data_dir(tbl), target_files[0]))
            os.unlink(tl._manifest_path(tbl, version - 1))

    monkeypatch.setattr(tl, "_publish", sabotage)
    with pytest.raises(
        FileNotFoundError, match=r"rollback to v1 also failed"
    ):
        tl.restore(table, 0)
    # no rollback commit landed; the restore's commit is still head
    assert tl.latest_version(table) == fired[0]
    # the marker keeps the restore-lost-vacuum-race cause — the
    # interleaved-commit wording must NOT have overwritten it
    with open(tl._damaged_marker_path(table, fired[0])) as fh:
        cause = json.load(fh)["cause"]
    assert "restore lost a vacuum race" in cause
    assert "interleaved" not in cause
    with pytest.raises(FileNotFoundError, match="is damaged"):
        tl.files_for(table, fired[0])


def test_restore_rollback_noncas_failure_head_unmoved_is_honest(
    spark, tmp_path, monkeypatch
):
    """ADVICE r12, second failure mode: the rollback _commit raises
    FileNotFoundError for a non-CAS reason (e.g. a racing vacuum
    unlinks the pre-restore manifest between our read and the
    publish). The re-read head still equals our commit, so the
    head-moved fall-through would misreport an interleaved commit —
    the guard must raise the failed-rollback diagnosis instead."""
    table = str(tmp_path / "t")
    tl.append(_frame(spark, 0, 5), table)             # v0: target
    tl.overwrite(_frame(spark, 900, 903), table)      # v1: head
    target_files = tl._read_manifest(table, 0)["files"]
    real_publish = tl._publish
    fired = []

    def sabotage(tbl, version, manifest):
        real_publish(tbl, version, manifest)
        if manifest.get("op") == "restore" and not fired:
            fired.append(version)
            os.unlink(os.path.join(tl._data_dir(tbl), target_files[0]))

    real_commit = tl._commit

    def flaky_commit(tbl, build, op, txn, **kw):
        if op == "restore" and kw.get("require_head") is not None:
            # the rollback attempt (only it passes require_head)
            raise FileNotFoundError("simulated mid-rollback loss")
        return real_commit(tbl, build, op, txn, **kw)

    monkeypatch.setattr(tl, "_publish", sabotage)
    monkeypatch.setattr(tl, "_commit", flaky_commit)
    with pytest.raises(
        FileNotFoundError, match=r"rollback to v1 also failed"
    ):
        tl.restore(table, 0)
    assert tl.latest_version(table) == fired[0]
    with open(tl._damaged_marker_path(table, fired[0])) as fh:
        cause = json.load(fh)["cause"]
    assert "restore lost a vacuum race" in cause
    assert "interleaved" not in cause


# ---------------------------------------------------------------------------
# Model-based property test #2: damage-marker states (VERDICT r12 task 4)
# ---------------------------------------------------------------------------

_DMG_OPS = st.lists(
    st.one_of(
        st.tuples(st.just("append"), _ROWS),
        st.tuples(st.just("overwrite"), _ROWS),
        st.tuples(st.just("compact"), st.just(None)),
        st.tuples(
            st.just("merge"),
            st.lists(
                st.tuples(
                    st.sampled_from(["U", "D"]),
                    st.integers(0, 6),
                    _S,
                ),
                min_size=1,
                max_size=5,
            ),
        ),
        st.tuples(st.just("vacuum"), st.integers(1, 3)),
        st.tuples(st.just("restore"), st.integers(0, 9)),
        st.tuples(st.just("damage"), st.integers(0, 9)),
    ),
    min_size=2,
    max_size=8,
)


@settings(
    max_examples=_HYP_EXAMPLES,
    deadline=None,
    suppress_health_check=[
        HealthCheck.function_scoped_fixture,
        HealthCheck.too_slow,
    ],
)
@given(ops=_DMG_OPS)
def test_tablelog_damage_markers_under_random_op_sequences(
    spark, tmp_path_factory, ops
):
    """The r12 damage-marker scheme under RANDOM op interleavings
    (VERDICT r12 task 4 — the directed tests pin specific races; this
    machine hunts the interleaving they didn't). The 'damage'
    transition simulates the state restore's losing branches leave
    behind — a data file exclusive to a live non-head version
    unlinked by a vacuum race, plus the marker those branches write —
    via the same ``_write_damage_marker`` artifact. Invariants:

    - reading a MARKED live version raises the NAMED ``is damaged``
      error from files_for, never a bare Spark scan death; unmarked
      live versions read exactly the model rows (markers scope to
      versions — damage never leaks into clean snapshots);
    - metadata-only aggregates still answer for marked versions (the
      manifest's commit-time stats stay truthful about the version's
      logical contents);
    - restore TO a marked version refuses with the marker's recorded
      history and commits nothing;
    - vacuum expiry removes a marked version's marker WITH its
      manifest (marker-after-manifest unlink order), after which the
      version reports the standard no-manifest error — a damage
      report for a version whose manifest is gone would be false;
    - ordinary writes (append/merge/compact/overwrite) on the
      undamaged head keep working with marked versions present.

    Head damage (which wedges every head reader by design) stays
    directed-tested: the model keeps the head clean so the sequence
    can always continue."""
    table = str(tmp_path_factory.mktemp("dmgprop") / "t")

    def df_of(rows, with_op=False):
        if with_op:
            return spark.createDataFrame(
                [(op, k, s, i) for i, (op, k, s) in enumerate(rows)],
                "op string, k int, s int, seq int",
            )
        return spark.createDataFrame(list(rows), "k int, s int")

    versions: dict[int, Counter] = {}
    damaged: set[int] = set()
    for i, (op, arg) in enumerate(ops):
        head = tl.latest_version(table)
        if head is None and op in (
            "compact", "merge", "vacuum", "restore", "damage",
        ):
            continue
        if op == "append":
            v = tl.append(df_of(arg), table)
            versions[v] = versions.get(v - 1, Counter()) + Counter(arg)
        elif op == "overwrite":
            v = tl.overwrite(df_of(arg), table)
            versions[v] = Counter(arg)
        elif op == "compact":
            v = tl.compact(spark, table, n_files=1)
            versions[v] = Counter(versions[v - 1])
        elif op == "merge":
            v = tl.merge_changes(
                spark, table, df_of(arg, with_op=True),
                keys=["k"], order_cols=["seq"],
            )
            versions[v] = _model_merge(versions[v - 1], arg)
        elif op == "restore":
            live = sorted(versions)
            target = live[arg % len(live)]
            if target in damaged:
                pre = tl.latest_version(table)
                with pytest.raises(
                    FileNotFoundError, match="is damaged"
                ):
                    tl.restore(table, target)
                assert tl.latest_version(table) == pre, (
                    "refused restore must commit nothing"
                )
            else:
                v = tl.restore(table, target)
                versions[v] = Counter(versions[target])
        elif op == "damage":
            live = sorted(versions)
            candidates = [
                v for v in live[:-1] if v not in damaged
            ]
            if not candidates:
                continue
            v = candidates[arg % len(candidates)]
            v_files = set(tl._read_manifest(table, v)["files"])
            for w in live:
                if w != v:
                    v_files -= set(
                        tl._read_manifest(table, w)["files"]
                    )
            if not v_files:
                continue  # nothing exclusive to unlink: no-op
            lost = sorted(v_files)[0]
            os.unlink(os.path.join(tl._data_dir(table), lost))
            tl._write_damage_marker(
                table, v, [lost],
                "restore lost a vacuum race: its commit names files "
                "a concurrent vacuum deleted",
            )
            damaged.add(v)
        else:  # vacuum
            tl.vacuum(table, retain_last=arg)
            live = set(sorted(versions)[-arg:])
            for v in sorted(versions):
                if v in live:
                    continue
                # marker-after-manifest unlink: an expired version's
                # marker must not outlive its manifest past the sweep
                if v in damaged:
                    assert not os.path.exists(
                        tl._damaged_marker_path(table, v)
                    ), f"v{v}: marker survived its manifest's expiry"
                    damaged.discard(v)
                # and the expired version reports the STANDARD
                # no-manifest error, never a damage report
                try:
                    tl.files_for(table, v)
                    raise AssertionError(f"v{v}: expired but readable")
                except FileNotFoundError as exc:
                    assert "is damaged" not in str(exc)
            versions = {
                v: c for v, c in versions.items() if v in live
            }

    for v, expect in sorted(versions.items()):
        if v in damaged:
            with pytest.raises(FileNotFoundError, match="is damaged"):
                tl.files_for(table, v)
            with pytest.raises(FileNotFoundError, match="is damaged"):
                tl.read_snapshot(spark, table, version=v).collect()
            n = tl.snapshot_row_count(table, version=v)
            assert n == sum(expect.values()), (
                f"v{v}: metadata row count through the marker"
            )
        else:
            if not expect and not tl.files_for(table, v):
                continue
            got = Counter(
                (r.k, r.s)
                for r in tl.read_snapshot(
                    spark, table, version=v
                ).collect()
            )
            assert got == expect, f"version {v}: {got} != {expect}"


# ---------------------------------------------------------------------------
# Model-based property test #3: keyed changefeed consumer (r13)
# ---------------------------------------------------------------------------

#: per-commit key -> value maps: a KEYED source table has at most one
#: row per key per commit (merges guarantee it; the bootstrap append
#: is a keyed snapshot), which is what makes the consumer's per-key
#: collapse by _commit_version deterministic.
_KEYED_ROWS = st.dictionaries(
    st.integers(0, 6), _S, min_size=0, max_size=4
)
_KEYED_CHANGES = st.dictionaries(
    st.integers(0, 6),
    st.tuples(st.sampled_from(["U", "D"]), _S),
    min_size=1,
    max_size=4,
)
_SYNC_OPS = st.lists(
    st.one_of(
        st.tuples(st.just("append"), _KEYED_ROWS),
        st.tuples(st.just("merge"), _KEYED_CHANGES),
        st.tuples(st.just("compact"), st.just(None)),
        st.tuples(st.just("sync"), st.just(None)),
        # vacuum fires only right after a sync (position == head), the
        # documented cadence contract: retention deeper than the sync
        # lag. The arg is retain_last.
        st.tuples(st.just("vacuum"), st.integers(1, 3)),
    ),
    min_size=2,
    max_size=8,
)


@settings(
    max_examples=_HYP_EXAMPLES,
    deadline=None,
    suppress_health_check=[
        HealthCheck.function_scoped_fixture,
        HealthCheck.too_slow,
    ],
)
@given(ops=_SYNC_OPS)
def test_keyed_changefeed_sync_matches_model(
    spark, tmp_path_factory, ops
):
    """The keyed log-to-log consumer under RANDOM commit/sync
    interleavings (the model twin of the r13 driver row
    ``changefeed_keyed_sync``): a source log takes keyed appends,
    keyed merges with a recorded change feed, and compactions; at
    random points ``sync_changes(keys=['k'])`` applies the feed to a
    destination log, and vacuum (only at the documented cadence —
    right after a sync, when nothing unsynced depends on expiring
    manifests) folds and expires source history. The pure-Python
    model folds the same commits in order: insert/update sets the
    key, delete removes it, a delete of an absent key is a no-op.
    Invariants: after every sync the destination snapshot equals the
    model fold EXACTLY (one resurrected delete, reordered commit, or
    double-applied batch diverges), an immediate re-sync is idle
    (None), and ``sync_position`` equals the source head just
    consumed — including after vacuum expired the synced prefix."""
    table_root = tmp_path_factory.mktemp("syncprop")
    src = str(table_root / "src")
    dst = str(table_root / "dst")

    def df_rows(d):
        return spark.createDataFrame(
            [(k, s) for k, s in d.items()], "k int, s int"
        )

    def df_changes(d):
        # seq is pure order_cols metadata (<=1 change per key makes it
        # moot, but order_cols must not name op: merge's dedup
        # window drops non-data order columns after collapsing)
        return spark.createDataFrame(
            [(op, k, s, j) for j, (k, (op, s)) in enumerate(d.items())],
            "op string, k int, s int, seq int",
        )

    state: dict[int, object] = {}   # model of the keyed fold
    synced_state: dict[int, object] = {}
    position = -1                   # last synced source version
    head = None
    for i, (op, arg) in enumerate(ops):
        if op == "append":
            head = tl.append(df_rows(arg), src, txn_id=f"sp-a-{i}")
            state.update(arg)
        elif head is None:
            # merges/compactions need an existing table; a sync of a
            # never-written source must be the idle no-op
            if op == "sync":
                assert tl.sync_changes(spark, src, dst, keys=["k"]) is None
            continue
        elif op == "merge":
            head = tl.merge_changes(
                spark, src, df_changes(arg),
                keys=["k"], order_cols=["seq"],
                write_changefeed=True, txn_id=f"sp-m-{i}",
            )
            for k, (cop, s) in arg.items():
                if cop == "D":
                    state.pop(k, None)
                else:
                    state[k] = s
        elif op == "compact":
            head = tl.compact(spark, src, n_files=1)
        elif op == "sync":
            committed = tl.sync_changes(spark, src, dst, keys=["k"])
            if committed is None:
                # idle, or only data-less commits (compactions, empty
                # appends) in range: no destination commit and the
                # recorded position does NOT advance — the destination
                # must still show exactly the last synced fold
                if tl.latest_version(dst) is not None:
                    got = {
                        r.k: r.s
                        for r in tl.read_snapshot(spark, dst).collect()
                    }
                    assert got == synced_state, (
                        f"no-op sync moved data: {got} != {synced_state}"
                    )
            else:
                got = {
                    r.k: r.s
                    for r in tl.read_snapshot(spark, dst).collect()
                }
                assert got == state, f"after sync: {got} != {state}"
                assert tl.sync_position(dst) == head
                assert tl.sync_changes(spark, src, dst, keys=["k"]) is None
                position = head
                synced_state = dict(state)
        else:  # vacuum, only at the documented cadence
            if position == head:
                tl.vacuum(src, retain_last=arg, min_age_seconds=0.0)
    # final drain: whatever the sequence did, one sync converges the
    # destination to the model (a None return means nothing
    # data-bearing is unsynced, so the destination already matches)
    if head is not None:
        committed = tl.sync_changes(spark, src, dst, keys=["k"])
        if tl.latest_version(dst) is not None:
            got = {
                r.k: r.s
                for r in tl.read_snapshot(spark, dst).collect()
            }
            assert got == state, f"final: {got} != {state}"
            if committed is not None:
                assert tl.sync_position(dst) == head
        else:
            assert not state, "model has rows but dst was never written"


def test_threaded_concurrent_keyed_syncs_race_live_writer(
    spark, tmp_path
):
    """REAL concurrency for the keyed log-to-log consumer (the
    directed CAS tests simulate single interleaves; this races the
    whole protocol): one writer thread lands a bootstrap append and a
    chain of keyed merge commits with recorded feeds while TWO
    consumer threads concurrently loop ``sync_changes(keys=['k'])``
    into the SAME destination. Contract under contention: racing
    syncs resolve to one winner per batch (the loser's CAS fails into
    an internal retry; a worker that exhausts its retries surfaces
    CommitConflict, which a polling consumer treats as 'poll again'),
    no batch is double-applied, no stale racer regresses a key, and
    after a final drain the destination equals the source head's
    keyed state with exactly one row per key."""
    import threading
    from concurrent.futures import ThreadPoolExecutor

    src, dst = str(tmp_path / "src"), str(tmp_path / "dst")
    n_rounds, keys = 6, 5
    tl.append(
        spark.createDataFrame(
            [(k, -1) for k in range(keys)], "k int, s int"
        ),
        src,
        txn_id="stress-base",
    )
    done = threading.Event()

    def writer():
        try:
            for i in range(n_rounds):
                tl.merge_changes(
                    spark, src,
                    spark.createDataFrame(
                        [("U", k, i * 100 + k, 0) for k in range(keys)],
                        "op string, k int, s int, seq int",
                    ),
                    keys=["k"], order_cols=["seq"],
                    write_changefeed=True, txn_id=f"stress-m-{i}",
                )
        finally:
            done.set()

    def consumer():
        applied = []
        while not done.is_set():
            try:
                v = tl.sync_changes(spark, src, dst, keys=["k"])
            except tl.CommitConflict:
                continue  # lost every retry this poll: poll again
            if v is not None:
                applied.append(v)
        return applied

    with ThreadPoolExecutor(max_workers=3) as pool:
        fw = pool.submit(writer)
        fc1, fc2 = pool.submit(consumer), pool.submit(consumer)
        fw.result()
        applied = fc1.result() + fc2.result()
    # final drain (single-threaded): converge whatever remains
    tl.sync_changes(spark, src, dst, keys=["k"])
    got = {
        r.k: r.s for r in tl.read_snapshot(spark, dst).collect()
    }
    expect = {k: (n_rounds - 1) * 100 + k for k in range(keys)}
    assert got == expect, f"{got} != {expect}"
    # exactly one row per key: no double-applied batch survived
    n = tl.read_snapshot(spark, dst).count()
    assert n == keys, f"{n} rows for {keys} keys"
    # both consumers may report the SAME destination version for one
    # batch — that is the txn replay answering "already applied" (the
    # exactly-once mechanism), not a double-apply (the data asserts
    # above prove none happened). The committed versions themselves
    # form a contiguous prefix of the destination's history, and the
    # recovered position ends at the source head.
    if applied:  # may be empty if the writer outran both consumers
        assert set(applied) == set(range(max(applied) + 1)), applied
    assert tl.sync_position(dst) == tl.latest_version(src)


def test_restore_expired_prev_with_interleaved_commit_marks_head(
    spark, tmp_path, monkeypatch
):
    """Review r13 (code-review finding, second pass: the first cut of
    this test landed its interleave inside _publish — BEFORE restore's
    post-verify head check — so head != committed skipped the whole
    rollback block and the test passed against the pre-fix code): the
    interleave must land BETWEEN the head check and the rollback
    attempt's manifest read. When the pre-restore manifest reads as
    expired AND the re-read head has moved, the failed-rollback
    diagnosis would be wrong and the inheriting head unmarked — the
    branch must fall through to the head-moved logic, which marks it.
    Against the pre-fix code this test fails (the old branch raised
    'rollback ... also failed' without re-reading the head)."""
    table = str(tmp_path / "t")
    tl.append(_frame(spark, 0, 5), table)             # v0: target
    tl.overwrite(_frame(spark, 900, 903), table)      # v1: head
    target_files = tl._read_manifest(table, 0)["files"]
    real_publish = tl._publish
    real_read_manifest = tl._read_manifest
    fired, interleaved = [], []

    def sabotage(tbl, version, manifest):
        real_publish(tbl, version, manifest)
        if manifest.get("op") == "restore" and not fired:
            fired.append(version)
            # the losing vacuum deletes a restored file; the restore's
            # post-commit verify will find it gone with head ==
            # committed and enter the rollback block
            os.unlink(os.path.join(tl._data_dir(tbl), target_files[0]))

    def hooked_read_manifest(tbl, v):
        if fired and v == fired[0] - 1 and not interleaved:
            # the rollback attempt's pre-restore manifest read: land
            # the interleaving append NOW — after the head check
            # passed, before the except branch re-reads the head —
            # and report the manifest expired (a vacuum with
            # retain_last=1 racing us)
            interleaved.append(True)
            tl.append(_frame(spark, 50, 52), tbl)
            raise FileNotFoundError("expired by a racing vacuum")
        return real_read_manifest(tbl, v)

    monkeypatch.setattr(tl, "_publish", sabotage)
    monkeypatch.setattr(tl, "_read_manifest", hooked_read_manifest)
    with pytest.raises(FileNotFoundError, match="still references"):
        tl.restore(table, 0)
    assert interleaved, "the hook never reached the rollback branch"
    # the interleaved head inherited the deleted name and is MARKED:
    # every reader gets the named error, not a bare scan death
    head = tl.latest_version(table)
    assert head > fired[0]
    assert target_files[0] in real_read_manifest(table, head)["files"]
    with pytest.raises(FileNotFoundError, match="is damaged"):
        tl.files_for(table)
    # and the error wording is the interleaved-commit diagnosis, not
    # the failed-rollback one (the head DID move)
    with open(tl._damaged_marker_path(table, head)) as fh:
        assert "interleaved" in json.load(fh)["cause"]


def test_restore_refuses_torn_marker_target_by_name(spark, tmp_path):
    """Review r13 (code-review finding): a torn/unreadable damage
    marker on the restore target must produce the same named refusal
    files_for gives, not a raw JSONDecodeError out of _commit."""
    table = str(tmp_path / "t")
    tl.append(_frame(spark, 0, 3), table)             # v0: target
    tl.overwrite(_frame(spark, 900, 902), table)      # v1: head
    with open(tl._damaged_marker_path(table, 0), "w") as fh:
        fh.write("{not json")
    with pytest.raises(FileNotFoundError, match="is damaged"):
        tl.restore(table, 0)
    with pytest.raises(FileNotFoundError, match="unknown number"):
        tl.files_for(table, 0)


def test_changefeed_behind_retention_names_the_incident(
    spark, tmp_path
):
    """Review r13: a consumer whose position fell behind the vacuum
    horizon must get the named behind-retention error with its
    remediation (resync from a snapshot), not the bare no-manifest
    error — for read_changes, the cursor, and sync_changes alike."""
    src, dst = str(tmp_path / "src"), str(tmp_path / "dst")
    for i in range(5):
        tl.append(_frame(spark, i * 10, i * 10 + 3), src)
    tl.sync_changes(spark, src, dst)          # position = 4
    cur = tl.ChangefeedCursor(src)            # position = -1 (behind)
    tl.vacuum(src, retain_last=2, min_age_seconds=0.0)
    with pytest.raises(
        FileNotFoundError, match="fallen behind the vacuum horizon"
    ):
        tl.read_changes(spark, src, since_version=0)
    with pytest.raises(
        FileNotFoundError, match="fallen behind the vacuum horizon"
    ):
        cur.poll(spark)
    # a consumer WITHIN retention still reads incrementally: the
    # synced destination's position (4 = head) is served idle, and
    # after one more commit the O(delta) read works from position 4
    assert tl.sync_changes(spark, src, dst) is None
    tl.append(_frame(spark, 90, 93), src)
    assert tl.sync_changes(spark, src, dst) is not None
    assert sorted(_values(tl.read_snapshot(spark, dst)))[-3:] == [
        90, 91, 92,
    ]


# ---------------------------------------------------------------------------
# Model-based property test #4: multi-source fan-in sync (r14)
# ---------------------------------------------------------------------------

#: Interleaved ops over TWO insert-only source logs feeding one
#: destination: appends land on either source; syncs drain either
#: source. Insert-only is the deterministic fan-in (the destination
#: is the exact multiset union of synced prefixes — keyed fan-in's
#: cross-source ordering is poll-arrival order, which a model cannot
#: pin without replaying the actual interleave).
_FANIN_OPS = st.lists(
    st.one_of(
        st.tuples(st.just("append"), st.just("a"), st.integers(1, 3)),
        st.tuples(st.just("append"), st.just("b"), st.integers(1, 3)),
        st.tuples(st.just("sync"), st.just("a"), st.just(None)),
        st.tuples(st.just("sync"), st.just("b"), st.just(None)),
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
@given(ops=_FANIN_OPS)
def test_multi_source_fanin_sync_matches_model(
    spark, tmp_path_factory, ops
):
    """ADVICE r13 / VERDICT r13 task 5: source-qualified consumer
    positions under RANDOM fan-in interleavings — two insert-only
    source logs sync into ONE destination. Invariants after every
    step: each source's recovered position (``sync_position(dst,
    src)``) never regresses and equals the last source head that
    source synced; the destination's multiset of values equals the
    union of both sources' synced prefixes (a position alias would
    show up as a skipped prefix or a double-applied range); an
    immediate re-sync of a drained source is idle; and a source's
    FIRST sync against a destination already fed by the other source
    is refused without ``allow_new_source=True`` (the onboarding
    gate) and succeeds with it."""
    root = tmp_path_factory.mktemp("fanin")
    srcs = {"a": str(root / "src_a"), "b": str(root / "src_b")}
    dst = str(root / "dst")

    next_val = {"a": 0, "b": 1000}    # disjoint value ranges per source
    feed: dict[str, list[list[int]]] = {"a": [], "b": []}  # per commit
    synced_upto = {"a": -1, "b": -1}  # model: last synced src version
    onboarded = {"a": False, "b": False}

    def model_rows():
        out = []
        for s in ("a", "b"):
            for commit in feed[s][: synced_upto[s] + 1]:
                out.extend(commit)
        return sorted(out)

    for op, s, arg in ops:
        if op == "append":
            rows = list(range(next_val[s], next_val[s] + arg))
            next_val[s] += arg
            v = tl.append(
                spark.createDataFrame([(x,) for x in rows], "v int"),
                srcs[s],
            )
            feed[s].append(rows)
            assert v == len(feed[s]) - 1
        else:  # sync
            head = tl.latest_version(srcs[s])
            if head is None or head <= synced_upto[s]:
                # idle (or the never-written source): must be a no-op
                # regardless of onboarding state
                assert tl.sync_changes(
                    spark, srcs[s], dst, allow_new_source=True
                ) is None
                continue
            other = "b" if s == "a" else "a"
            if not onboarded[s] and synced_upto[other] >= 0:
                # the onboarding gate: a never-seen source against a
                # destination with existing sync history is refused
                with pytest.raises(ValueError, match="allow_new_source"):
                    tl.sync_changes(spark, srcs[s], dst)
            committed = tl.sync_changes(
                spark, srcs[s], dst, allow_new_source=True
            )
            assert committed is not None
            onboarded[s] = True
            synced_upto[s] = head
            # per-source positions: synced source at its head, the
            # other source untouched (the aliasing bug regressed or
            # skipped exactly here)
            for t in ("a", "b"):
                expect = synced_upto[t]
                assert tl.sync_position(dst, srcs[t]) == expect, (
                    f"source {t} position after syncing {s}"
                )
            got = sorted(
                r.v for r in tl.read_snapshot(spark, dst).collect()
            )
            assert got == model_rows(), f"after sync {s}"
            # drained: an immediate re-sync is idle
            assert tl.sync_changes(
                spark, srcs[s], dst, allow_new_source=True
            ) is None
    # final drain of both sources converges to the full union
    for s in ("a", "b"):
        if feed[s]:
            tl.sync_changes(spark, srcs[s], dst, allow_new_source=True)
            synced_upto[s] = len(feed[s]) - 1
    if tl.latest_version(dst) is not None:
        got = sorted(
            r.v for r in tl.read_snapshot(spark, dst).collect()
        )
        assert got == model_rows(), "final union"


def test_sync_changes_source_identity_survives_path_respelling(
    spark, tmp_path
):
    """ADVICE r13 (the medium finding's hazard, sync_changes side):
    the SAME source reached via a symlink or a relative spelling must
    resolve to the SAME consumer identity — not a fresh -1 position
    that re-applies the whole feed. realpath unifies the spellings;
    the new-source refusal backstops identities realpath cannot
    unify."""
    src, dst = str(tmp_path / "src"), str(tmp_path / "dst")
    tl.append(_frame(spark, 0, 3), src)
    tl.sync_changes(spark, src, dst)
    link = str(tmp_path / "src_link")
    os.symlink(src, link)
    assert tl.source_key(link) == tl.source_key(src)
    # same source through the symlink: idle, NOT a re-apply
    assert tl.sync_changes(spark, link, dst) is None
    assert _values(tl.read_snapshot(spark, dst)) == [0, 1, 2]
    # a genuinely different path (a copy, a failover mount realpath
    # cannot unify) is refused, not silently double-applied
    import shutil

    copy = str(tmp_path / "src_copy")
    shutil.copytree(src, copy)
    with pytest.raises(ValueError, match="allow_new_source"):
        tl.sync_changes(spark, copy, dst)


def test_migrate_consumer_position_moved_source_path(spark, tmp_path):
    """ADVICE r14: a moved source path used to mandate a full
    recompute; migrate_consumer_position re-records the position
    under the new realpath key with a zero-rewrite metadata commit,
    and syncing resumes exactly-once from where it left off."""
    old, dst = str(tmp_path / "src_old"), str(tmp_path / "dst")
    tl.append(_frame(spark, 0, 3), old)
    tl.append(_frame(spark, 3, 5), old)
    tl.sync_changes(spark, old, dst)
    old_key = tl.source_key(old)
    new = str(tmp_path / "src_new")
    os.rename(old, new)
    # the moved path is a NEW identity: refused, steered at the helper
    with pytest.raises(ValueError, match="migrate_consumer_position"):
        tl.sync_changes(spark, new, dst)
    dst_head = tl.latest_version(dst)
    snapshot_before = _values(tl.read_snapshot(spark, dst))
    v = tl.migrate_consumer_position(dst, new, old_key=old_key)
    # the carrier is metadata-only: one new manifest, same data files,
    # zero rows contributed to the change feed
    assert v == dst_head + 1
    before = tl._read_manifest(dst, dst_head)
    carrier = tl._read_manifest(dst, v)
    assert carrier["files"] == before["files"]
    assert carrier["op"] == "compact"
    assert tl.read_changes(spark, dst, since_version=dst_head) is None
    assert _values(tl.read_snapshot(spark, dst)) == snapshot_before
    # position carried over: idle, NOT a history re-apply
    assert tl.sync_position(dst, new) == tl.latest_version(new)
    assert tl.sync_changes(spark, new, dst) is None
    # and new source commits apply incrementally, exactly-once
    tl.append(_frame(spark, 5, 8), new)
    tl.sync_changes(spark, new, dst)
    assert _values(tl.read_snapshot(spark, dst)) == list(range(8))


def test_migrate_consumer_position_refusals(spark, tmp_path):
    src, dst = str(tmp_path / "src"), str(tmp_path / "dst")
    tl.append(_frame(spark, 0, 2), src)
    tl.sync_changes(spark, src, dst)
    # already qualified under the current key: nothing to migrate,
    # and re-running with a stale old_key must not regress
    with pytest.raises(ValueError, match="already records"):
        tl.migrate_consumer_position(dst, src, old_key="0" * 12)
    # no position under the old key at all
    fresh = str(tmp_path / "fresh")
    tl.append(_frame(spark, 0, 1), fresh)
    with pytest.raises(ValueError, match="nothing to migrate"):
        tl.migrate_consumer_position(dst, fresh, old_key="f" * 12)


def test_migrate_consumer_position_cas_on_concurrent_sync(
    spark, tmp_path, monkeypatch
):
    """ADVICE r15: a sync under the CURRENT key landing between the
    migration's guard check and its publish must surface as
    CommitConflict — the old rebase=True path committed the stale
    carrier ON TOP of it, regressing the newest-first position walk
    (the next sync would re-apply the already-synced range: a
    double-count for insert-only destinations)."""
    old, dst = str(tmp_path / "src_old"), str(tmp_path / "dst")
    tl.append(_frame(spark, 0, 3), old)
    tl.sync_changes(spark, old, dst)
    old_key = tl.source_key(old)
    new = str(tmp_path / "src_new")
    os.rename(old, new)
    tl.append(_frame(spark, 3, 6), new)  # unsynced range, new identity
    new_key = tl.source_key(new)
    src_head = tl.latest_version(new)
    real_publish = tl._publish
    raced = {"done": False}

    def racing_publish(tbl, version, manifest):
        if not raced["done"]:
            raced["done"] = True
            # a concurrent operator (who already migrated, or synced
            # with allow_new_source) lands the moved source's range
            # under the CURRENT key before the carrier publishes
            tl.append(
                _frame(spark, 3, 6), dst,
                txn_id=f"{tl.SYNC_TXN_PREFIX}:{new_key}:{src_head}",
            )
        return real_publish(tbl, version, manifest)

    monkeypatch.setattr(tl, "_publish", racing_publish)
    with pytest.raises(tl.CommitConflict):
        tl.migrate_consumer_position(dst, new, old_key=old_key)
    monkeypatch.undo()
    # the rival's position survives as the newest record — NOT
    # regressed to the old key's one
    assert tl.sync_position(dst, new) == src_head
    # the cheap operator re-run now refuses (a current-key position
    # exists) instead of silently regressing
    with pytest.raises(ValueError, match="already records"):
        tl.migrate_consumer_position(dst, new, old_key=old_key)
    # and the feed is drained: no range re-applied, no double rows
    assert tl.sync_changes(spark, new, dst) is None
    assert _values(tl.read_snapshot(spark, dst)) == list(range(6))


def test_migrate_consumer_position_refuses_current_key_as_old_key(
    spark, tmp_path, monkeypatch
):
    """ADVICE r15: ``old_key`` equal to the CURRENT key used to get
    two different outcomes by log depth — the carrier txn id coincides
    with the ordinary sync commit's, so inside the txn dedup horizon
    the call returned that sync's version as a 'successful
    migration', and past it raised 'already records'. It must be ONE
    deterministic refusal at any depth."""
    src, dst = str(tmp_path / "src"), str(tmp_path / "dst")
    tl.append(_frame(spark, 0, 2), src)
    tl.sync_changes(spark, src, dst)
    key = tl.source_key(src)
    with pytest.raises(ValueError, match="current source key"):
        tl.migrate_consumer_position(dst, src, old_key=key)
    # age the sync commit out of a shrunken dedup horizon: the
    # refusal (and its message) must not change with depth
    monkeypatch.setattr(tl, "TXN_DEDUP_HORIZON", 2)
    for lo in range(2, 8, 2):
        tl.append(_frame(spark, lo, lo + 2), dst)
    with pytest.raises(ValueError, match="current source key"):
        tl.migrate_consumer_position(dst, src, old_key=key)


#: Keyed fan-in alphabet (VERDICT r14 task 3): writes are keyed merge
#: batches (key -> delete?) against a shared small key space so the
#: two sources genuinely CONTEND per key; "race" syncs both sources
#: from two threads so the CAS retry path actually runs. "fold"
#: (late r15) interleaves checkpoint-folding vacuum on a source or
#: the destination: a destination fold must be invisible (positions
#: resume through the checkpoint — the seam test's property, here
#: under random interleavings), while a source fold that expires
#: manifests a consumer still needs turns every later sync of that
#: source into the NAMED behind-retention error with no partial
#: application — never a silent skip of the vacuumed delta.
_KEYED_FANIN_OPS = st.lists(
    st.one_of(
        st.tuples(
            st.just("write"),
            st.sampled_from(["a", "b"]),
            st.dictionaries(
                st.integers(0, 3), st.booleans(), min_size=1, max_size=3
            ),
        ),
        st.tuples(
            st.just("sync"), st.sampled_from(["a", "b"]), st.none()
        ),
        st.tuples(st.just("race"), st.just(""), st.none()),
        st.tuples(
            st.just("fold"),
            st.sampled_from(["a", "b", "dst"]),
            st.integers(1, 3),
        ),
    ),
    min_size=2,
    max_size=8,
)


@settings(
    max_examples=_HYP_EXAMPLES,
    deadline=None,
    suppress_health_check=[
        HealthCheck.function_scoped_fixture,
        HealthCheck.too_slow,
    ],
)
@given(ops=_KEYED_FANIN_OPS)
def test_multi_source_keyed_fanin_matches_model(
    spark, tmp_path_factory, ops
):
    """VERDICT r14 task 3: the KEYED multi-source fan-in contract
    (``sync_changes`` docstring: per key, converge to the latest
    ``_commit_version`` WITHIN each source; ACROSS sources,
    poll-arrival order) under random interleavings of two keyed-merge
    sources syncing into one destination. The model replays arrival
    order from the DESTINATION's own commit log (txn ids name the
    source and the covered head), which makes even the raced-sync
    steps deterministic post-hoc — exactly the contract's "arrival
    order" — and asserts after every step: per-source positions never
    regress and equal the model's, the destination snapshot equals
    the model's key->value map, drained re-syncs are idle, and raced
    syncs both land through the CAS retry (no lost or double-applied
    range). Interleaved "fold" steps (late r15) add the retention
    contract: a destination vacuum is invisible (positions and the
    snapshot resume through the checkpoint fold), and once a source
    vacuum expires manifests the consumer still needs, EVERY later
    sync of that source raises the named behind-retention error
    (``read_changes``: "vacuum horizon") with position and snapshot
    unchanged — the model predicts exactly which syncs fail from
    ``expired_below`` alone, so a silent skip, a partial apply, or a
    spurious failure all falsify it."""
    import itertools
    import threading

    root = tmp_path_factory.mktemp("keyed_fanin")
    srcs = {"a": str(root / "src_a"), "b": str(root / "src_b")}
    dst = str(root / "dst")
    label_of = {tl.source_key(srcs[s]): s for s in ("a", "b")}

    vals = itertools.count(1)
    #: per source, per commit version: key -> ("U", val) | ("D", None)
    #: — the EFFECTIVE change set (a delete of an absent key is not
    #: in the source's changefeed, mirroring merge_changes)
    feed: dict[str, list[dict[int, tuple]]] = {"a": [], "b": []}
    src_state: dict[str, dict[int, int]] = {"a": {}, "b": {}}
    model: dict[int, int] = {}
    model_pos = {"a": -1, "b": -1}
    seen_pos = {"a": -1, "b": -1}
    applied_dst = -1
    #: source versions below this are vacuum-expired; a sync needing
    #: any of them (model_pos + 1 < expired_below while the head is
    #: ahead) must raise the named behind-retention error
    expired_below = {"a": 0, "b": 0}

    def write(s, batch):
        if tl.latest_version(srcs[s]) is None:
            # bootstrap append: inserts only (a delete draw on an
            # empty table has nothing to delete)
            rows = [(k, next(vals)) for k in sorted(batch)]
            tl.append(
                spark.createDataFrame(rows, "k int, val int"), srcs[s]
            )
            effective = {k: ("U", v) for k, v in rows}
            src_state[s].update(dict(rows))
        else:
            rows = [
                ("D" if dele else "U", k,
                 None if dele else next(vals), i)
                for i, (k, dele) in enumerate(sorted(batch.items()))
            ]
            tl.merge_changes(
                spark, srcs[s],
                spark.createDataFrame(
                    rows, "op string, k int, val int, seq int"
                ),
                keys=["k"], order_cols=["seq"], write_changefeed=True,
            )
            effective = {}
            for op, k, v, _ in rows:
                if op == "D":
                    if k in src_state[s]:
                        del src_state[s][k]
                        effective[k] = ("D", None)
                else:
                    src_state[s][k] = v
                    effective[k] = ("U", v)
        feed[s].append(effective)

    def fold_new_dst_commits():
        """Apply every not-yet-modeled destination commit in VERSION
        order — the definition of arrival order — collapsing each
        synced source range per key to its latest commit."""
        nonlocal applied_dst
        head = tl.latest_version(dst)
        if head is None:
            return
        for v in range(applied_dst + 1, head + 1):
            txn = tl._read_manifest(dst, v).get("txn_id") or ""
            if not txn.startswith(tl.SYNC_TXN_PREFIX + ":"):
                continue
            _, key12, pos = txn.split(":")
            s, pos = label_of[key12], int(pos)
            latest: dict[int, tuple] = {}
            for ver in range(model_pos[s] + 1, pos + 1):
                latest.update(feed[s][ver])
            for k, (op, val) in latest.items():
                if op == "D":
                    model.pop(k, None)
                else:
                    model[k] = val
            model_pos[s] = pos
        applied_dst = head

    def check_invariants(where):
        for t in ("a", "b"):
            p = tl.sync_position(dst, srcs[t])
            assert p >= seen_pos[t], f"{where}: position {t} regressed"
            assert p == model_pos[t], f"{where}: position {t} vs model"
            seen_pos[t] = p
        got = (
            {}
            if tl.latest_version(dst) is None
            else {
                r.k: r.val
                for r in tl.read_snapshot(spark, dst).collect()
            }
        )
        assert got == model, where

    def sync(s):
        return tl.sync_changes(
            spark, srcs[s], dst, keys=["k"], allow_new_source=True
        )

    def expect_expired(t):
        # the NEXT sync of t must fail iff it needs an expired
        # manifest: the feed walk reads (model_pos, head] and the
        # first version it needs is model_pos + 1 (a new source's
        # bootstrap reads the whole feed from -1, so it is NOT
        # exempt — read_changes serves bootstrap too)
        head = tl.latest_version(srcs[t])
        return (
            head is not None
            and head > model_pos[t]
            and model_pos[t] + 1 < expired_below[t]
        )

    def sync_checked(t):
        """Sync t, asserting the model's failure prediction exactly:
        an expired consumer raises the NAMED error and moves nothing;
        a healthy one returns normally."""
        if expect_expired(t):
            with pytest.raises(
                FileNotFoundError, match="vacuum horizon"
            ):
                sync(t)
            return "expired"
        return sync(t)

    for op, s, arg in ops:
        if op == "write":
            write(s, arg)
            continue
        if op == "fold":
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
            # a fold must be state-invisible: positions and snapshot
            # unchanged (destination folds resume through the
            # checkpoint; source folds move no data)
            check_invariants(f"after fold {s}")
            continue
        if op == "sync":
            sync_checked(s)
        else:  # race: both sources sync concurrently
            expected = {t: expect_expired(t) for t in ("a", "b")}
            errors, failed = [], []

            def go(t):
                try:
                    sync(t)
                except FileNotFoundError as exc:
                    if expected[t] and "vacuum horizon" in str(exc):
                        failed.append(t)
                    else:  # pragma: no cover
                        errors.append((t, exc))
                except BaseException as exc:  # pragma: no cover
                    errors.append((t, exc))

            threads = [
                threading.Thread(target=go, args=(t,))
                for t in ("a", "b")
            ]
            for t in threads:
                t.start()
            for t in threads:
                t.join()
            assert not errors, errors
            assert sorted(failed) == sorted(
                t for t in ("a", "b") if expected[t]
            ), "behind-retention failures did not match the model"
        fold_new_dst_commits()
        check_invariants(f"after {op} {s}")
        # drained: an immediate re-sync of every synced source is
        # idle; an expired source fails the same way every time
        for t in ("a", "b") if op == "race" else (s,):
            r = sync_checked(t)
            assert r in (None, "expired"), f"re-sync {t} not idle"
    # final drain from both sources converges to the full model
    # (expired sources keep failing deterministically and contribute
    # nothing — the model already omits their unsynced suffix)
    for t in ("a", "b"):
        sync_checked(t)
    fold_new_dst_commits()
    check_invariants("final drain")


def test_migrate_consumer_position_crash_retry_replays(spark, tmp_path):
    """Review r15: a crashed-and-retried migration (same key, same
    position, within the txn dedup horizon) must RETURN the committed
    carrier version, not refuse with 'already records' — the refusal
    firing first made the documented replay unreachable."""
    old, dst = str(tmp_path / "src_old"), str(tmp_path / "dst")
    tl.append(_frame(spark, 0, 3), old)
    tl.sync_changes(spark, old, dst)
    old_key = tl.source_key(old)
    new = str(tmp_path / "src_new")
    os.rename(old, new)
    v = tl.migrate_consumer_position(dst, new, old_key=old_key)
    # the retry is a no-op replay, not a refusal and not a new commit
    assert tl.migrate_consumer_position(dst, new, old_key=old_key) == v
    assert tl.latest_version(dst) == v
    # the carrier keeps the compact-manifest shape every auditor
    # indexes (zorder_by present, None for a non-clustered head)
    assert "zorder_by" in tl._read_manifest(dst, v)
    # after real syncs advance the qualified position, a stale
    # re-run still resolves as the harmless replay (same key, same
    # old position -> the carrier's txn id) — no new commit, and the
    # ADVANCED position is untouched ("already records" fires only
    # when the replay is unavailable, e.g. the stale-old_key case in
    # test_migrate_consumer_position_refusals)
    tl.append(_frame(spark, 3, 5), new)
    tl.sync_changes(spark, new, dst)
    advanced = tl.sync_position(dst, new)
    head = tl.latest_version(dst)
    assert tl.migrate_consumer_position(dst, new, old_key=old_key) == v
    assert tl.latest_version(dst) == head  # replay, not a commit
    assert tl.sync_position(dst, new) == advanced  # no regression
