"""Manifest-committed table log: atomic, snapshot-isolated parquet
tables (the missing transactional layer under S7/S11/S12).

Why the sinks in ``writers.py`` are not enough at 100 TB: every one
of them publishes by DIRECTORY LISTING — a reader discovers the
table's files by listing the path, so a reader that lists while an
overwrite deletes part-files or a half-failed append leaves orphans
sees a torn table. This module removes that window with the (public)
log-structured table idea behind Delta Lake and Iceberg:

- Data files are IMMUTABLE and uniquely named under ``data/``. No
  operation ever modifies or deletes a live data file.
- The table's contents are defined by a MANIFEST — a JSON file
  ``_log/{version:016d}.json`` listing exactly the data files of that
  snapshot. Readers resolve the latest manifest and read ONLY the
  files it names: files not yet committed are invisible, files being
  replaced stay readable. A crash before commit leaves orphans that
  ``vacuum`` removes; it can never corrupt the table.
- Commits are ATOMIC and OPTIMISTICALLY CONCURRENT: the manifest is
  written to a temp name and published with ``os.link`` — creating
  version N fails with EEXIST if another writer got there first, and
  the loser re-reads the new head and rebases (append, compact,
  delete_where, merge_changes) or aborts (blind overwrite, restore).
  On a POSIX filesystem link-if-absent is atomic; on an object store
  the same protocol needs the store's put-if-absent primitive (S3
  conditional PUT, GCS generation preconditions) — the seam is
  ``_publish``, which only ``_commit`` calls.
- Old manifests are retained, so any historical version is readable
  (``read_snapshot(version=k)`` — time travel) until ``vacuum``
  drops its files.
- Writer retries are made idempotent with an application transaction
  id recorded in the manifest: replaying a committed ``txn_id`` is a
  no-op, the exactly-once contract a foreachBatch epoch or an Airflow
  retry needs (the log-level form of S11's anti-join idempotence).

Scale shape: a manifest is O(number of live files) — ~100k files at
100 TB is a few MB of JSON, read once per query by the driver; the
data plane is untouched (readers still get parquet row-group pruning
and column projection on the listed files). Version resolution lists
``_log/`` (cheap: one small dir); the growth path past ~1e5 commits
is the standard log checkpoint (fold old manifests into one), noted
on ``history``. Commit latency is one small file write + one link —
independent of table size, which is the whole point: compacting a
10 TB table commits in milliseconds, not in a window proportional to
the rename of millions of objects.

The reference has no transactional story at all — its S3 zones are
bare directory listings (scripts/kinesis_to_s3.py:205-252) and its
only conflict handling is row-level ``ON CONFLICT`` in Postgres
(airflow/src/load_to_postgres.py:294-321); this module is the
equivalent guarantee at object-store scale.
"""

from __future__ import annotations

import hashlib
import json
import os
import re
import time
import uuid
import warnings
from contextlib import ExitStack

from pyspark.sql import DataFrame, SparkSession

from ..session import cached


class CommitConflict(Exception):
    """Another writer committed the version this writer targeted."""


#: Python types whose parquet footer min/max are JSON-serializable
#: as-is. Timestamps/decimals/binary are skipped (kept = never
#: pruned), which is always SAFE: pruning is an optimization over a
#: superset contract, not a filter.
_JSONABLE_STATS = (bool, int, float, str)

#: Reserved per-file stats keys (not zone maps): exact footer row
#: count, per-column null counts, the file's column census, and the
#: on-disk byte size (merge output sizing, r14). A real column with
#: one of these names loses its zone map to the reserved key —
#: metadata readers must treat them as absent.
_RESERVED_STATS = frozenset({"__rows", "__nulls", "__cols", "__bytes"})

#: Column names the change-feed layer fabricates alongside the data
#: columns: ``read_changes`` tags every row with ``_change_type`` /
#: ``_commit_version``, and the keyed ``sync_changes`` path derives
#: an ``op`` marker. A SOURCE data column with one of these names
#: would be silently clobbered by the ``withColumn`` (review r11) —
#: the changefeed entry points refuse it loudly instead.
_RESERVED_CDC_COLS = frozenset({"_change_type", "_commit_version"})


def _check_cdc_collisions(cols, where: str, extra: tuple = ()) -> None:
    clash = sorted(set(cols) & (set(_RESERVED_CDC_COLS) | set(extra)))
    if clash:
        raise ValueError(
            f"{where}: data column name(s) {clash} collide with the "
            "change feed's fabricated columns (_change_type / "
            "_commit_version; the keyed sync also derives 'op') — "
            "rename them in the source before serving it as a feed"
        )


#: Retry budget for rebasable commits (append, compact, delete_where,
#: merge_changes) losing the publish race in ``_commit``, and for
#: ``sync_changes``' re-read loop. Conflicts are per-table and
#: resolution is one small JSON read, so a handful of retries rides
#: out realistic contention; past that, something is misconfigured
#: (e.g. an unbounded writer fleet on one table) and failing loudly
#: beats spinning.
MAX_COMMIT_RETRIES = 10

#: How many newest manifests the txn-id replay scan reads. Scanning
#: ALL retained history would make every commit O(history) — 10k
#: epochs in, each streaming append would re-open 10k manifests just
#: to prove a txn id absent (review r08). Real replay sources
#: (foreachBatch epochs, orchestrator retries) re-apply only recent
#: work, so a fixed recent-history horizon preserves exactly-once
#: where replays actually happen and bounds every commit at O(64)
#: small reads PLUS one cached O(1) checkpoint-fold lookup. The
#: precise contract: a replay is recognized if its commit is within
#: the horizon of head OR at/below the last checkpoint fold — fold
#: (vacuum, or ``write_checkpoint`` directly) at least every
#: TXN_DEDUP_HORIZON commits and the guarantee is total; a replay
#: arriving from the uncovered middle gap applies twice (review r09
#: closed the previous, larger gap: vacuum now folds to HEAD, not
#: just to the expired prefix).
TXN_DEDUP_HORIZON = 64


def _log_dir(table: str) -> str:
    return os.path.join(table, "_log")


def _data_dir(table: str) -> str:
    return os.path.join(table, "data")


def _manifest_path(table: str, version: int) -> str:
    return os.path.join(_log_dir(table), f"{version:016d}.json")


def _list_versions(table: str) -> list[int]:
    log = _log_dir(table)
    if not os.path.isdir(log):
        return []
    return sorted(
        int(name[:-5])
        for name in os.listdir(log)
        if name.endswith(".json") and name[:-5].isdigit()
    )


def latest_version(table: str) -> int | None:
    """Current head version, or None for a not-yet-created table."""
    versions = _list_versions(table)
    return versions[-1] if versions else None


def _resolve_version(table: str, version: int | None) -> int:
    """``version``, or the head when None; a table with no commits
    raises FileNotFoundError."""
    if version is None:
        version = latest_version(table)
        if version is None:
            raise FileNotFoundError(f"no commits in table {table}")
    return version


def _read_manifest(table: str, version: int) -> dict:
    with open(_manifest_path(table, version)) as fh:
        return json.load(fh)


def _checkpoint_path(table: str) -> str:
    return os.path.join(_log_dir(table), "_checkpoint.json")


def _damaged_marker_path(table: str, version: int) -> str:
    """Marker naming a version whose manifest survives but whose data
    files a lost vacuum race deleted (every losing branch of
    ``restore``'s post-commit verify). The manifest itself is
    immutable-by-protocol, so the damage record lives beside it;
    ``files_for`` turns it into a named error for time-travel
    readers, and vacuum removes it when the manifest it annotates
    expires."""
    return os.path.join(_log_dir(table), f"_damaged-v{version}.json")


def _write_damage_marker(
    table: str, version: int, missing: list, cause: str
) -> None:
    """Atomically record that ``version``'s manifest names data files
    that no longer exist, so time-travel readers get a named error
    from ``files_for`` instead of a bare missing-file scan death."""
    tmp = os.path.join(
        _log_dir(table), f".tmp-dmg-{uuid.uuid4().hex}.json"
    )
    with open(tmp, "w") as fh:
        json.dump(
            {
                "version": version,
                "missing": sorted(missing),
                "cause": cause,
            },
            fh,
            sort_keys=True,
        )
        fh.flush()
        os.fsync(fh.fileno())
    os.replace(tmp, _damaged_marker_path(table, version))


def _read_damage_marker(table: str, version: int) -> dict | None:
    """Parse a version's damage marker. Returns None when no marker
    exists or a racing vacuum removed it mid-read (the version was
    resolvable a moment ago — serve it normally, the standard
    retention race rather than damage). A torn/unreadable marker
    (OSError, bad JSON) still reports damage — the record is broken,
    not the fact — with ``torn=True`` and an empty ``missing`` list,
    so every consumer (files_for, restore's target check) refuses by
    NAME instead of crashing on the raw parse error (review r13: the
    two hand-copies of this read had already drifted — restore's
    handled only FileNotFoundError)."""
    marker = _damaged_marker_path(table, version)
    if not os.path.exists(marker):
        return None
    torn = {
        "cause": "a restore lost a vacuum race",
        "missing": [],
        "torn": True,
    }
    try:
        with open(marker) as fh:
            info = json.load(fh)
        if not isinstance(info, dict):
            return torn  # valid JSON, wrong shape: the record is torn
        return {
            "cause": info.get("cause", "a restore lost a vacuum race"),
            "missing": info.get("missing", []),
            "torn": False,
        }
    except FileNotFoundError:
        return None
    except (OSError, json.JSONDecodeError):
        return torn


#: (path -> (mtime_ns, parsed)) cache for _read_checkpoint: the fold
#: is consulted on every txn-bearing commit, and re-parsing a
#: multi-MB fold per commit at the 1e5-commit scale it exists for
#: would defeat it. mtime-keyed: a vacuum's atomic os.replace bumps
#: the mtime and invalidates (review r09).
_CKPT_CACHE: dict[str, tuple[int, dict]] = {}


def _read_checkpoint(table: str) -> dict | None:
    path = _checkpoint_path(table)
    try:
        mtime = os.stat(path).st_mtime_ns
    except FileNotFoundError:
        return None
    cached = _CKPT_CACHE.get(path)
    if cached is not None and cached[0] == mtime:
        return cached[1]
    try:
        with open(path) as fh:
            parsed = json.load(fh)
    except FileNotFoundError:  # raced a first-ever... replace is
        return None  # atomic, but the stat itself may have raced
    _CKPT_CACHE[path] = (mtime, parsed)
    return parsed


def write_checkpoint(table: str, upto: int | None = None) -> int:
    """Fold manifests <= ``upto`` (default: the head) into
    ``_log/_checkpoint.json`` — the standard log-checkpoint growth
    path past ~1e5 commits (see ``history``).

    The fold records what the WALKS over old manifests need so those
    manifests can be deleted without losing correctness: the txn-id →
    version map (exactly-once replay dedup, which also covers
    ``sync_position``'s consumer offsets — they are txn ids). Each
    manifest is already a self-contained snapshot, so version
    RESOLUTION never needed the old files; the checkpoint makes the
    O(commits) walks start at the fold instead of version 0, and it
    is consulted as an O(1) dict lookup. ``vacuum`` folds before it
    deletes expired manifests, so expiring a manifest no longer
    weakens the dedup horizon (the caveat previously documented on
    ``vacuum`` — now closed).

    Incremental: a fold starts from the previous checkpoint and reads
    only manifests in (prev_version, upto]. Like ``vacuum``, this is
    a maintenance operation assumed to run without a concurrent
    checkpointer (concurrent COMMITS are fine — they only add
    manifests above ``upto``); the file is replaced atomically so
    readers always see a complete fold. Fold at least every
    TXN_DEDUP_HORIZON commits (vacuum does this automatically) to
    keep the replay-dedup contract gap-free. The txns map grows
    O(txn-bearing commits) — that is the price of permanent replay
    protection; readers pay one mtime-cached parse per rewrite, not
    per commit (_read_checkpoint).
    """
    versions = _list_versions(table)
    if not versions:
        raise FileNotFoundError(f"no commits in table {table}")
    if upto is None:
        upto = versions[-1]
    prev = _read_checkpoint(table) or {
        "version": -1, "txns": {}, "rollbacks": []
    }
    if upto <= prev["version"]:
        return prev["version"]  # already folded this far
    txns = dict(prev["txns"])
    # rollback markers must survive the fold too: the restore replay
    # guard asks "was my replayed commit rolled back by a LATER
    # commit?", and once vacuum expires that later commit's manifest
    # only the checkpoint can still answer — without this a retried
    # restore whose original lost the vacuum race replays as success
    # after retention even though the head never held the target's
    # contents.
    rollbacks = set(prev["rollbacks"])
    for v in versions:
        if prev["version"] < v <= upto:
            m = _read_manifest(table, v)
            txn = m.get("txn_id")
            if txn:
                txns[txn] = v
            victim = m.get("rolled_back_restore")
            if victim is not None:
                rollbacks.add(victim)
    tmp = os.path.join(
        _log_dir(table), f".tmp-ckpt-{uuid.uuid4().hex}.json"
    )
    folded = {
        "version": upto,
        "txns": txns,
        "rollbacks": sorted(rollbacks),
    }
    with open(tmp, "w") as fh:
        json.dump(folded, fh, sort_keys=True)
        fh.flush()
        os.fsync(fh.fileno())
    path = _checkpoint_path(table)
    os.replace(tmp, path)
    # Update the cache with what was just written rather than relying
    # on the mtime alone: two folds inside one coarse-timestamp tick
    # would otherwise leave THIS process on the stale fold, reopening
    # the dedup gap the cache serves (review r09; other processes
    # still key off mtime — the single-maintainer assumption covers
    # concurrent writers, not concurrent readers, who at worst see
    # the older of two folds that are both valid supersets of every
    # manifest <= their version).
    _CKPT_CACHE[path] = (os.stat(path).st_mtime_ns, folded)
    return folded["version"]


#: txn-id prefixes reserved for consumer-offset recovery: a reserved
#: id is exactly ``<prefix>:<source key>:<position>`` (``source_key``
#: / ``txn_position``). "changefeed-sync" = tablelog.sync_changes;
#: "agg-sync" = sinks/incremental.sync_aggregate (named here rather
#: than imported — incremental depends on this module, not the
#: reverse).
_RESERVED_TXN_PREFIXES = ("changefeed-sync", "agg-sync")


def source_key(src_table: str) -> str:
    """Stable short identity of a source path for txn-id
    qualification: ``sha256(realpath)[:12]``. A hash, not the path
    itself: txn ids are parsed by rsplit on ':' and paths may contain
    anything. The PATH is the source's identity (resolved via
    ``os.path.realpath`` so symlink and relative spellings of one
    directory agree): moving or re-mounting a source under a new path
    makes it a NEW source to every consumer-offset walk, which the
    sync entry points refuse loudly (never silently re-apply history)
    — see ``require_known_source`` and ``migrate_consumer_position``.

    Upgrade condition: the table log reads only the formats its
    current writers produce. A log written before r13 (bare
    ``<prefix>:<version>`` consumer ids, abspath-hashed source keys,
    manifests without ``added``/``schema``/per-file ``__rows``/
    ``__bytes``/``__cols``) no longer reads correctly, and neither
    does a checkpoint written before r11 (no ``rollbacks``). Rewrite
    such a table with ``overwrite`` from a snapshot before
    upgrading."""
    return hashlib.sha256(
        os.path.realpath(src_table).encode()
    ).hexdigest()[:12]


def _check_txn_id(txn_id: str | None) -> None:
    """Refuse caller txn ids inside a reserved offset namespace
    unless they carry the exact consumer shape
    ``<prefix>:<12-hex source key>:<int position>``: anything looser
    would wedge (non-integer last field) or corrupt (arbitrary
    integer recovered as a position) every later consumer-position
    recovery on the destination (review r10). ADVICE r13 tightened
    the old last-field-is-an-integer relaxation: a caller id like
    ``changefeed-sync:nightly:7`` used to pass and then be recovered
    as position 7 — exactly the corruption the check documents. Ids
    matching the full shape are assumed to BE legitimate consumers —
    the namespaces are documented as reserved."""
    if txn_id is None:
        return
    for prefix in _RESERVED_TXN_PREFIXES:
        if txn_id.startswith(prefix + ":"):
            fields = txn_id[len(prefix) + 1:].split(":")
            ok = (
                len(fields) == 2
                and len(fields[0]) == 12
                and all(c in "0123456789abcdef" for c in fields[0])
                # exactly what txn_position's int() parses — a loose
                # isdigit-after-lstrip let '--5' through at write
                # time only to be skipped at recovery (review r14)
                and re.fullmatch(r"-?\d+", fields[1]) is not None
            )
            if not ok:
                raise ValueError(
                    f"txn_id {txn_id!r} collides with the reserved "
                    f"{prefix!r} consumer-offset namespace but is not "
                    "a '<prefix>:<12-hex source key>:<int position>' "
                    "consumer id — choose a txn id outside the "
                    "reserved prefixes"
                )


def _replayed_version(table: str, txn_id: str | None) -> int | None:
    """Version already committed under ``txn_id`` within the dedup
    horizon, or None. Shared by every committing operation so the
    exactly-once contract is uniform (review r08: compact recorded
    txn ids but never checked them). The checkpoint fold extends the
    horizon past vacuumed manifests as one O(1) dict lookup."""
    if txn_id is None:
        return None
    for v in reversed(_list_versions(table)[-TXN_DEDUP_HORIZON:]):
        try:
            if _read_manifest(table, v).get("txn_id") == txn_id:
                return v
        except FileNotFoundError:
            # concurrent vacuum unlinked this expired manifest between
            # the listing and the read (review r11) — it was folded
            # into the checkpoint first, which the fallback consults
            continue
    ckpt = _read_checkpoint(table)
    if ckpt is not None:
        return ckpt["txns"].get(txn_id)
    return None


def _publish(table: str, version: int, manifest: dict) -> None:
    """Atomically create manifest ``version`` or raise CommitConflict.

    write-temp + link-if-absent: ``os.link`` to an existing path
    raises, so exactly one writer wins each version — the object-store
    port swaps this one function for a conditional PUT.
    """
    os.makedirs(_log_dir(table), exist_ok=True)
    final = _manifest_path(table, version)
    tmp = os.path.join(_log_dir(table), f".tmp-{uuid.uuid4().hex}.json")
    with open(tmp, "w") as fh:
        json.dump(manifest, fh, sort_keys=True)
        fh.flush()
        os.fsync(fh.fileno())
    try:
        os.link(tmp, final)
    except FileExistsError:
        raise CommitConflict(
            f"version {version} of {table} was committed concurrently"
        ) from None
    finally:
        os.unlink(tmp)


def _file_stats(path: str) -> dict[str, list]:
    """Per-column [min, max] zone map from the parquet FOOTER — no
    data pages are read, so cost is O(columns), not O(rows).

    Columns whose min/max are absent (all-null chunks) or not plainly
    JSON-serializable (timestamps, decimals, binary) are omitted;
    omission means "never prune on this column for this file". The
    exact footer row count rides under the reserved ``__rows`` key,
    and exact per-column NULL counts under ``__nulls`` (Delta's
    nullCount idea — tracked independently of min/max usability, so
    an all-null or timestamp column still gets its count; a column
    any of whose chunks lacks a recorded null count is omitted from
    the map, the same poison rule as the zone maps). Both are
    recorded here so the footer is opened ONCE per file — real
    columns named ``__rows``/``__nulls`` lose their zone maps to the
    reserved keys (see ``snapshot_row_count`` / ``column_null_count``).
    """
    import pyarrow.parquet as pq

    meta = pq.ParquetFile(path).metadata
    mins: dict[str, object] = {}
    maxs: dict[str, object] = {}
    skip: set[str] = set()
    nulls: dict[str, int] = {}
    null_skip: set[str] = set()
    for rg in range(meta.num_row_groups):
        group = meta.row_group(rg)
        for ci in range(group.num_columns):
            col = group.column(ci)
            name = col.path_in_schema
            stats = col.statistics
            if (
                name not in null_skip
                and stats is not None
                and stats.has_null_count
            ):
                nulls[name] = nulls.get(name, 0) + stats.null_count
            else:
                null_skip.add(name)
                nulls.pop(name, None)
            if (
                name in skip
                or stats is None
                or not stats.has_min_max
                or not isinstance(stats.min, _JSONABLE_STATS)
            ):
                # one chunk without usable stats poisons the column
                # for the whole file — a partial zone map would prune
                # rows the uncovered chunk might hold
                skip.add(name)
                mins.pop(name, None)
                maxs.pop(name, None)
                continue
            mins[name] = (
                stats.min if name not in mins else min(mins[name], stats.min)
            )
            maxs[name] = (
                stats.max if name not in maxs else max(maxs[name], stats.max)
            )
    stats: dict[str, object] = {
        name: [mins[name], maxs[name]] for name in mins
    }
    stats["__rows"] = meta.num_rows
    # on-disk size, for metadata-only output sizing (merge rewrites
    # pick their file count from the head's byte total, r14) — one
    # stat call on a footer we already opened
    stats["__bytes"] = os.path.getsize(path)
    if nulls:
        stats["__nulls"] = nulls
    # the file's own column census (leaf paths), so metadata readers
    # can PROVE a column is absent from an old file (additive schema
    # evolution: absent = null-backfilled on read = all rows NULL)
    # rather than refusing on every evolved table
    stats["__cols"] = sorted(
        meta.schema.column(i).path for i in range(meta.num_columns)
    )
    return stats


#: Target on-disk bytes per written data file — Spark's default scan
#: split size (spark.sql.files.maxPartitionBytes), so a file is big
#: enough not to flood the manifest and small enough to read in one
#: split.
TARGET_FILE_BYTES = 128 * 1024 * 1024


#: Bytes-per-row estimate when the head holds no rows: deliberately
#: LARGE — n_out = ceil(rows * bpr / target), so overestimating the
#: row width errs toward MORE output files / more write parallelism,
#: never toward funneling a big rewrite through too few tasks (a small
#: bpr UNDERSIZES n_out). The cost of guessing high is only smaller
#: files, which the next sized rewrite corrects.
FALLBACK_ROW_BYTES = 1024


def _merge_output_partitions(manifest: dict, out_rows: int) -> int:
    """File count a merge REWRITE should coalesce its outputs to:
    ``ceil(estimated output bytes / TARGET_FILE_BYTES)``, where the
    estimate is the JOINED row count (known exactly — the join is
    persisted and materialized before the writes) times the head
    snapshot's observed bytes/row from its manifest ``__bytes`` /
    ``__rows`` stats (metadata, no extra scan; conservative
    FALLBACK_ROW_BYTES for an empty head).

    Why this exists (r14): both merge outputs derive from one
    PERSISTED join (the review-r08 scan-once contract), and Spark
    cannot re-coalesce a cached plan's output partitioning
    (``spark.sql.optimizer.canChangeCachedPlanOutputPartitioning``
    defaults to false precisely because it can surprise downstream
    consumers of the cache) — so without this, every merge writes
    shuffle-partition-count files REGARDLESS of data size: a
    1,500-row state table on 32 cores wrote 32 data + 32 cdc files
    per merge, and every later snapshot read, sync, and changefeed
    poll paid 64 file opens per commit. File counts must track BYTES,
    not core count — at 100 TB the same formula yields thousands of
    ~128 MB files; at fixture scale it yields one. Sized from the
    ACTUAL joined row count, not the head alone (review r14: a
    head-bytes-only estimate let a 10 GB insert batch into a 50 MB
    table coalesce to 1): a bootstrap-scale batch into a small table
    sizes by its real rows. Parquet encoding usually beats the
    in-head bytes/row for the same data, so the estimate skews
    toward more files — the benign direction."""
    tb = tr = 0
    for fstats in manifest["stats"].values():
        if fstats["__rows"]:  # an empty file's footer bytes hold no rows
            tb += fstats["__bytes"]
            tr += fstats["__rows"]
    bpr = tb / tr if tr else FALLBACK_ROW_BYTES
    return max(1, -(-int(out_rows * bpr) // TARGET_FILE_BYTES))


def _write_data_files(
    df: DataFrame, table: str
) -> tuple[list[str], dict[str, dict]]:
    """Materialize ``df`` as immutable uniquely-named files in data/.

    Spark owns its output directory, so write to a throwaway staging
    dir first, then move each part-file to ``data/`` under a fresh
    uuid name (same-filesystem rename — metadata-only; the object-
    store port writes direct to unique keys and skips the move).
    Files are INVISIBLE to every reader until a manifest names them.
    Returns (names, per-file zone maps) — the stats ride in the
    manifest so readers can skip files without opening ANY footer.
    """
    os.makedirs(_data_dir(table), exist_ok=True)
    staging = os.path.join(table, f"_staging-{uuid.uuid4().hex}")
    df.write.mode("overwrite").parquet(staging)
    names = []
    stats: dict[str, dict] = {}
    for part in sorted(os.listdir(staging)):
        if not part.endswith(".parquet"):
            continue
        name = f"{uuid.uuid4().hex}.parquet"
        dest = os.path.join(_data_dir(table), name)
        os.rename(os.path.join(staging, part), dest)
        # Refresh mtime NOW: rename preserves the part-file's Spark
        # write time, so without this a commit whose Spark job outran
        # min_age_seconds would stage files vacuum's age guard already
        # considers old — deletable in the stage-to-publish window,
        # publishing a manifest that names deleted files (review r10).
        # The guard must measure from staging, like restore's utime.
        os.utime(dest)
        names.append(name)
        # one footer open per file: zone maps + the exact __rows
        # count (lets COUNT(*) and pruned counts answer from the
        # manifest alone — Delta's numRecords idea)
        stats[name] = _file_stats(dest)
    for leftover in os.listdir(staging):
        os.unlink(os.path.join(staging, leftover))
    os.rmdir(staging)
    return names, stats


def _commit(
    table: str,
    build,
    op: str,
    txn_id: str | None,
    rebase: bool,
    require_head: int | None = None,
) -> int:
    """The table log's one optimistic-commit loop; every committing
    operation passes its ``build(prev)``. Each round resolves the
    head, builds the new (files, stats[, extra manifest fields]) from
    the head manifest (None for an empty table), and publishes
    head+1; on a lost race it either rebases (re-resolves and
    rebuilds) or raises. Returns the committed version, or the
    already-committed version for a replayed ``txn_id``.
    ``require_head`` turns the commit into a compare-and-set: it only
    lands if the head is still exactly that version (head-sentinel -1
    for "table must not exist yet"), else CommitConflict — the
    primitive for read-modify-write callers whose WRITE depends on
    what they READ (sync_changes), where a blind rebase would
    double-apply.
    """
    _check_txn_id(txn_id)
    for _ in range(MAX_COMMIT_RETRIES):
        head = latest_version(table)
        replayed = _replayed_version(table, txn_id)
        if replayed is not None:
            return replayed  # replayed retry: already committed
        if require_head is not None and (
            head if head is not None else -1
        ) != require_head:
            raise CommitConflict(
                f"{op} on {table} required head {require_head} but found "
                f"{head}; re-read and retry"
            )
        prev = _read_manifest(table, head) if head is not None else None
        files, stats, *rest = build(prev)
        manifest = {
            "version": (head if head is not None else -1) + 1,
            "op": op,
            "files": files,
            "stats": stats,
            "txn_id": txn_id,
        }
        if rest:  # optional extra manifest fields (e.g. append "added")
            manifest.update(rest[0])
        try:
            _publish(table, manifest["version"], manifest)
            return manifest["version"]
        except CommitConflict:
            if not rebase:
                raise
    raise CommitConflict(
        f"{op} on {table} lost the publish race {MAX_COMMIT_RETRIES} "
        "times; check for a runaway writer fleet"
    )


def _strip_nullability(typ: object) -> object:
    """Normalize a Spark jsonValue type for retype comparison: drop
    'nullable'/'metadata' at EVERY nesting level. Top-level
    nullability is already excluded (only f['type'] is compared), but
    struct/array/map types embed their children's nullable flags, and
    joins/aggregations routinely flip nested nullability — a
    parquet-legal difference that must not read as a retype
    (review r10)."""
    if isinstance(typ, dict):
        return {
            k: _strip_nullability(v)
            for k, v in typ.items()
            if k not in ("nullable", "metadata", "containsNull",
                         "valueContainsNull")
        }
    if isinstance(typ, list):
        return [_strip_nullability(v) for v in typ]
    return typ


def _schema_fields(schema_json: dict) -> dict[str, object]:
    return {
        f["name"]: _strip_nullability(f["type"])
        for f in schema_json["fields"]
    }


def _check_schema_compatible(
    table: str, prev: dict | None, new_schema: dict
) -> None:
    """Schema-on-write: an append may ADD columns (additive evolution,
    NULL-backfilled on merge-schema reads) or OMIT columns, but a
    column present in both the table and the batch must keep its
    type — a silently-retyped column poisons every later read of the
    snapshot (parquet schema-merge fails, or worse, coerces). A table
    with no commits has nothing to enforce against. Nullability and
    field metadata are deliberately NOT compared — at ANY nesting
    level (``_strip_nullability``) — appending a nullable batch into
    a non-null column is parquet-legal and loses nothing."""
    if prev is None:
        return
    prev_fields = _schema_fields(prev["schema"])
    conflicts = {
        name: (prev_fields[name], typ)
        for name, typ in _schema_fields(new_schema).items()
        if name in prev_fields and prev_fields[name] != typ
    }
    if conflicts:
        raise ValueError(
            f"append to {table} would retype columns "
            f"{ {n: f'{a} -> {b}' for n, (a, b) in conflicts.items()} }; "
            "schema evolution is additive-only — use overwrite to "
            "declare a genuinely new schema"
        )


def append(
    df: DataFrame,
    table: str,
    txn_id: str | None = None,
    require_head: int | None = None,
) -> int:
    """Commit ``df`` as new files added to the current snapshot.

    Rebasable: losing the publish race just re-reads the head and
    re-targets — the data files are already written and file lists
    merge trivially. ``txn_id`` makes retries exactly-once.
    ``require_head`` (-1 for "not created yet") makes the append a
    compare-and-set that fails with CommitConflict instead of
    rebasing — for callers whose batch was DERIVED from the head they
    read (see ``sync_changes``). Schema-on-write: retyping an
    existing column is refused (``_check_schema_compatible``); adding
    columns is allowed and recorded, so the manifest always carries
    the snapshot's evolved column union.
    """
    batch_schema = df.schema.jsonValue()
    # Replay short-circuit FIRST: an already-committed txn must be a
    # no-op even if the table's schema has since legitimately changed
    # (overwrite), and it should not pay a data write that only
    # orphans files. _commit re-checks under the retry loop.
    replayed = _replayed_version(table, txn_id)
    if replayed is not None:
        return replayed
    # Pre-write check against the CURRENT head: a doomed 100 GB batch
    # is rejected from one manifest read before any Spark write runs
    # (review r09). The in-build check below stays — it is the one
    # that holds under a rebase race, where the head may have moved.
    head_now = latest_version(table)
    if head_now is not None:
        _check_schema_compatible(
            table, _read_manifest(table, head_now), batch_schema
        )
    new, new_stats = _write_data_files(df, table)

    def build(prev):
        _check_schema_compatible(table, prev, batch_schema)
        prev_files = prev["files"] if prev else []
        prev_stats = prev["stats"] if prev else {}
        # the recorded schema is the UNION of the previous schema and
        # the batch (order: previous first), so merge-schema readers
        # and the next append's check both see every evolved column
        prev_fields = prev["schema"]["fields"] if prev else []
        seen = {f["name"] for f in prev_fields}
        fields = list(prev_fields) + [
            f for f in batch_schema["fields"] if f["name"] not in seen
        ]
        # "added" makes the commit's row-level delta SELF-CONTAINED:
        # read_changes serves this version from its own manifest, so
        # the change feed works on the oldest retained version even
        # after vacuum expired version-1's manifest (ADVICE r08).
        return (
            prev_files + new,
            {**prev_stats, **new_stats},
            {"added": new, "schema": {"type": "struct", "fields": fields}},
        )

    return _commit(
        table, build, "append", txn_id, rebase=True,
        require_head=require_head,
    )


def overwrite(
    df: DataFrame,
    table: str,
    txn_id: str | None = None,
    require_head: int | None = None,
) -> int:
    """Commit ``df`` as the table's entire new contents.

    NOT rebasable: a blind overwrite that lost a race would silently
    discard the interleaved commit, so the conflict propagates and the
    caller decides (recompute-and-retry is the honest resolution).
    Old versions stay readable until vacuum. An overwrite REPLACES the
    table's contents, so it declares a fresh schema unchecked (the
    escape hatch append's additive-only enforcement points to).
    ``require_head`` makes it a compare-and-set for read-modify-write
    callers whose new contents were DERIVED from the head they read
    (``sync_aggregate``): losing the race raises CommitConflict even
    against a commit that landed before ours was built — without it a
    version-racing writer is only caught when the publish itself
    collides (review r10).
    """
    # Replay short-circuit BEFORE the data write, like append's
    # (review r10): a retried overwrite must not pay the full Spark
    # write only for _commit to discard it as a replay — one manifest
    # read settles it. _commit re-checks under its own loop.
    replayed = _replayed_version(table, txn_id)
    if replayed is not None:
        return replayed
    new, new_stats = _write_data_files(df, table)
    schema = df.schema.jsonValue()
    return _commit(
        table,
        lambda prev: (new, new_stats, {"schema": schema}),
        "overwrite",
        txn_id,
        rebase=False,
        require_head=require_head,
    )


def files_for(
    table: str,
    version: int | None = None,
    where: tuple | None = None,
) -> list[str]:
    """Resolve a snapshot's file names, optionally zone-map-pruned.

    ``where=(col, lo, hi)`` keeps exactly the files whose manifest
    [min, max] for ``col`` intersects [lo, hi] — plus every file with
    no recorded stats for ``col`` (absent stats must never prune).
    ``where=(col, "isnull")`` / ``(col, "notnull")`` prunes by the
    per-file NULL counts instead: a file provably free of NULLs in
    ``col`` cannot serve an IS NULL predicate (and a provably
    all-NULL file cannot serve IS NOT NULL) — the pruning that makes
    "find the rows still missing enrichment" cheap on a mostly-
    enriched 100 TB table. The CONTRACT is a superset either way:
    every row matching the predicate is in the returned files; the
    caller still applies the real filter, and files whose metadata
    cannot prove an answer are kept. This is the pruning a 100 TB
    deployment needs BEFORE Spark: the driver skips files from the
    manifest alone — no file listing, no footer reads, no tasks
    scheduled for cold files.
    """
    if where is not None and len(where) not in (2, 3):
        # loud, named validation for BOTH arities (ADVICE r10: a 1- or
        # 4-element tuple used to die as an opaque unpacking error on
        # the 3-tuple path only)
        raise ValueError(
            "where must be (col, lo, hi) for a range prune or "
            f"(col, 'isnull'|'notnull') for a null prune; got {where!r}"
        )
    version = _resolve_version(table, version)
    # Manifest FIRST (review r12 #3): an expired version must get the
    # standard no-manifest error even if a marker briefly outlives it
    # (pre-sweep orphan, or a vacuum racing this read) — a damage
    # report for a version whose manifest is gone would be false.
    manifest = _read_manifest(table, version)
    # A damage marker means this version's manifest names data files a
    # lost vacuum race deleted (restore's losing branches, ADVICE
    # r11): the scan would fail anyway, deep inside Spark with a bare
    # missing-file error — surface the HISTORY instead.
    dmg = _read_damage_marker(table, version)
    if dmg is not None:
        missing = dmg["missing"]
        detail = f" (e.g. {missing[0]})" if missing else ""
        # a torn marker's damage is real but its record is not — say
        # the count is unknown rather than claiming "0 deleted files"
        count = (
            "an unknown number of" if dmg["torn"] else str(len(missing))
        )
        raise FileNotFoundError(
            f"version {version} of {table} is damaged: "
            f"{dmg['cause']}; its manifest names {count} deleted "
            f"data files{detail} — read a different version"
        )
    names = manifest["files"]
    if where is None:
        return list(names)
    stats = manifest["stats"]
    if len(where) == 2:
        col, pred = where
        if pred not in ("isnull", "notnull"):
            raise ValueError(
                f"2-tuple where wants 'isnull' or 'notnull', got {pred!r}"
            )
        kept = []
        for name in names:
            fstats = stats[name]
            rows = fstats["__rows"]
            n = (
                None
                if col in _RESERVED_STATS
                # a footer chunk without the statistic leaves the
                # column out of __nulls
                else fstats.get("__nulls", {}).get(col)
            )
            if n is None and col not in fstats["__cols"]:
                # provably-absent column (additive evolution): every
                # row null-backfills on read
                n = rows
            if n is None:
                kept.append(name)  # unprovable — superset over skipping
            elif pred == "isnull" and n > 0:
                kept.append(name)
            elif pred == "notnull" and n < rows:
                kept.append(name)
        return kept
    col, lo, hi = where
    kept = []
    for name in names:
        # a real column by a reserved name has no zone map
        rng = None if col in _RESERVED_STATS else stats[name].get(col)
        try:
            keep = rng is None or (rng[1] >= lo and rng[0] <= hi)
        except TypeError:
            # the caller's bounds do not order against this column's
            # values (say, a string bound on an int column):
            # unprovable — keep the file, the superset contract over
            # crashing
            keep = True
        if keep:
            kept.append(name)
    return kept


def read_snapshot(
    spark: SparkSession,
    table: str,
    version: int | None = None,
    where: tuple | None = None,
    merge_schema: bool = False,
) -> DataFrame:
    """Read an exact committed snapshot (latest by default).

    The file list is resolved ONCE, here, from one manifest — the
    returned frame can be re-evaluated, cached, or joined while any
    number of commits/compactions land, and it always shows this
    version's rows. ``where=(col, lo, hi)`` additionally skips files
    whose zone map excludes the range, and ``where=(col, "isnull")``
    / ``(col, "notnull")`` skips by the per-file NULL counts (see
    ``files_for`` — superset contract, caller still filters). ``merge_schema=True`` reads a
    snapshot whose commits evolved the schema additively (a later
    append introduced a column): new columns NULL-backfill on old
    files (Spark's ``mergeSchema``) — off by default because schema union
    reads every file's footer up front, a cost a stable-schema table
    shouldn't pay. Empty-file-list snapshots need a schema source
    there is none of: raise instead of guessing.
    """
    # Resolve the version ONCE (review r10): the fully-pruned fallback
    # below re-lists files, and with version=None a concurrent commit
    # landing between the two files_for calls would hand the empty
    # frame a DIFFERENT snapshot's schema — breaking the promised
    # "same schema the unpruned read would produce".
    version = _resolve_version(table, version)
    names = files_for(table, version, where)
    if not names and where is not None:
        # Pruning is an OPTIMIZATION: a range that excludes every
        # file must behave like the unpruned read + filter — an empty
        # frame, not an error (review r08). The schema must be the
        # SAME schema the unpruned read would produce — under
        # merge_schema that is the union across all files, not an
        # arbitrary first file's subset (review r08 #2: an evolved
        # column must not vanish because a range excluded every
        # file); limit(0) schedules no scan tasks either way.
        names = files_for(table, version)
        if names and not merge_schema:
            names = names[:1]
        if names:
            paths = [
                os.path.join(_data_dir(table), name) for name in names
            ]
            reader = spark.read
            if merge_schema:
                reader = reader.option("mergeSchema", "true")
            return reader.parquet(*paths).limit(0)
    paths = [os.path.join(_data_dir(table), name) for name in names]
    if not paths:
        raise ValueError(
            f"snapshot of {table} has zero files; no schema to read"
        )
    reader = spark.read
    if merge_schema:
        reader = reader.option("mergeSchema", "true")
    return reader.parquet(*paths)


def compact(
    spark: SparkSession,
    table: str,
    n_files: int,
    txn_id: str | None = None,
    zorder_by: tuple[str, str] | None = None,
) -> int:
    """Rewrite the current snapshot as ``n_files`` files, atomically.

    Plain compaction coalesces (never repartitions — it concatenates,
    it must not shuffle). ``zorder_by=(a, b)`` instead rewrites the
    LAYOUT: rows are range-partitioned and sorted by their Morton
    code over ``MAX_BITS`` bits per column (``operators/layout.py
    zorder_repartition``), so every
    output file covers a small tile in (a, b) space and the zone maps
    this module records in the manifest become TIGHT on both columns
    — manifest-level file skipping on either predicate, the
    clustered-index read path without an index. The z-order rewrite
    shuffles by design (one repartitionByRange); that is the price of
    re-clustering and is paid once per maintenance run, not per
    query. Readers of any in-flight version are untouched: their
    files are still on disk until vacuum.

    Concurrency: recompute-on-conflict through ``_commit``.
    """

    def build(prev):
        if prev is None:
            raise FileNotFoundError(f"no commits in table {table}")
        # merge_schema: a rewrite that read only the first file's
        # schema would silently DROP columns a later append introduced
        # and make the loss permanent at the next vacuum (review r08)
        snapshot = read_snapshot(
            spark, table, prev["version"], merge_schema=True
        )
        if zorder_by is not None:
            from ..operators.layout import MAX_BITS, zorder_repartition

            frame = zorder_repartition(
                snapshot, zorder_by[0], zorder_by[1], MAX_BITS, n_files
            )
        else:
            frame = snapshot.coalesce(n_files)
        files, stats = _write_data_files(frame, table)
        return files, stats, {
            "zorder_by": list(zorder_by) if zorder_by else None,
            # a rewrite changes files, never the column contract:
            # carry the declared schema so append keeps enforcing it
            "schema": prev["schema"],
        }

    return _commit(table, build, "compact", txn_id, rebase=True)


def restore(table: str, version: int, txn_id: str | None = None) -> int:
    """Make an earlier version's contents the new HEAD as one commit —
    the undo for a bad write that keeps history linear (nothing is
    deleted; the bad commit stays time-travelable and auditable, the
    restore is just a new manifest pointing at the old file list, so
    it commits in milliseconds whatever the table size).

    Requires the target version's manifest AND files to still be
    retained (vacuum may have expired either); data files are
    immutable, so the restored snapshot is byte-identical to the
    original — stats, schema, and metadata-only aggregates carry
    over. NOT rebasable: restoring over a concurrent commit would
    silently discard it, so a lost race raises like overwrite's.
    Change-feed note: a restore is a rewrite whose row-level delta
    was never recorded — insert-only consumers refuse the range and
    keyed consumers should resync from a snapshot, the same contract
    as overwrite.

    Vacuum safety: the target's files may be unreferenced by the
    CURRENT head (that is the point of restoring), so a concurrent
    vacuum could sweep them between our existence check and the
    publish. Restore TOUCHES each target file before committing,
    re-entering the same ``min_age_seconds`` young-file guard that
    protects every writer's staged-but-unpublished files — but the
    utime NARROWS the race, it does not close it: vacuum stats mtime
    per file before unlinking, so a vacuum that stat'd a target
    (old) before our utime may unlink it after we publish
    (review r10; the check-then-delete is not atomic with our
    touch). Restore therefore RE-VERIFIES every restored file after
    the commit lands; if any vanished, it rolls the head forward to
    the pre-restore snapshot (whose files the losing vacuum kept —
    they were head-referenced throughout; a CAS on our own commit, so
    an interleaved writer's rows are never discarded) and raises — or,
    when a concurrent commit already moved the head, raises without
    rolling back if that head still references the deleted files. The
    race loses loudly instead of leaving a head that names deleted
    files.
    The detection window is bounded by the verify itself; for a hard
    no-race guarantee run restore outside vacuum maintenance windows
    (like compact/vacuum's own single-maintainer convention) or keep
    ``min_age_seconds`` at the production horizon, which makes the
    lose-then-unlink interleave require an hour-stalled vacuum.

    Remediation after a lost race (ADVICE r12): every raising branch
    writes a damage marker on the versions that permanently name the
    deleted files — including, on the interleaved-commit branch, the
    CURRENT HEAD — and ``files_for`` turns reads of a marked version
    into this named error. That blocks not just ``read_snapshot`` but
    everything routed through ``files_for``: ``compact``, ``merge``,
    time travel to the marked versions. (Metadata-only aggregates
    keep answering from the manifest: its commit-time stats still
    describe the version's logical contents truthfully even though
    the files backing them are gone.) The two
    ways out, both of which commit a NEW clean manifest rather than
    reading through the marker: ``restore`` to a retained undamaged
    version (markers scope to specific versions, so the new head
    reads cleanly), or ``overwrite`` with fresh data. The markers on
    superseded versions then age out when vacuum expires their
    manifests.
    """

    def build(prev):
        # inside _commit: the replay check has already run, so a
        # retried restore whose TARGET manifest vacuum expired is a
        # no-op instead of FileNotFoundError (review r09)
        target = _read_manifest(table, version)  # raises if expired
        # A damage-marked target is known to name vacuum-deleted
        # files — raise the recorded history instead of rediscovering
        # the loss file-by-file below with a less specific message
        # (the marker is the remediation breadcrumb; see the
        # docstring's remediation paragraph). A marker swept by a
        # racing vacuum reads as no marker; a torn one still refuses
        # by name (shared parse: _read_damage_marker).
        dmg = _read_damage_marker(table, version)
        if dmg is not None:
            raise FileNotFoundError(
                f"cannot restore {table} to v{version}: that "
                f"version is damaged ({dmg['cause']}) — restore "
                "from an undamaged retained version instead"
            )
        missing = []
        for n in target["files"]:
            path = os.path.join(_data_dir(table), n)
            try:
                os.utime(path)  # young again: vacuum's age guard
            except FileNotFoundError:
                missing.append(n)
        if missing:
            raise FileNotFoundError(
                f"cannot restore {table} to v{version}: {len(missing)} "
                f"of its files were vacuumed (e.g. {missing[0]})"
            )
        return (
            list(target["files"]),
            target["stats"],
            {"restored_from": version, "schema": target["schema"]},
        )

    pre = latest_version(table)
    committed = _commit(table, build, "restore", txn_id, rebase=False)
    if pre is not None and committed <= pre:
        # Replayed txn: nothing new was published, and the replayed
        # commit's files may have been legitimately compacted away
        # since. But a replay of a restore whose ORIGINAL attempt lost
        # the vacuum race and was rolled back must not read as success
        # — the head does not hold the target's contents (review r10):
        # the rollback commit carries a marker naming the version it
        # rolled back, so the retry can tell apology from no-op.
        rolled_back_by = None
        for v in _list_versions(table):
            if v <= committed:
                continue
            if (
                _read_manifest(table, v).get("rolled_back_restore")
                == committed
            ):
                rolled_back_by = f"v{v}"
                break
        if rolled_back_by is None:
            # the rollback commit's manifest may have been vacuumed —
            # the checkpoint fold preserves the marker (ADVICE r10:
            # without this the guard reopened exactly at retention)
            ckpt = _read_checkpoint(table)
            if ckpt is not None and committed in ckpt["rollbacks"]:
                rolled_back_by = "a checkpoint-folded commit"
        if rolled_back_by is not None:
            raise FileNotFoundError(
                f"restore of {table} to v{version} (txn {txn_id!r}) "
                f"already ran and LOST a vacuum race: its commit "
                f"v{committed} was rolled back by {rolled_back_by}, "
                "so the head does not hold the target's contents — "
                "verify the target files exist and retry with a "
                "fresh txn_id"
            )
        return committed
    # Post-commit verification (review r10): the utime guard is a
    # narrowing, not a lock — an in-flight vacuum that stat'd a target
    # file before our touch may unlink it after our publish. A later
    # concurrent commit does NOT make this moot: append and compact
    # build on the previous manifest's file list, so deleted restored
    # files propagate into the new head — verify OUR manifest's files
    # unconditionally (review r10 #3).
    data = _data_dir(table)
    manifest = _read_manifest(table, committed)
    gone = [
        n
        for n in manifest["files"]
        if not os.path.exists(os.path.join(data, n))
    ]
    if not gone:
        return committed
    head = latest_version(table)
    # Whatever happens next, OUR commit's manifest permanently names
    # the deleted files — mark it damaged FIRST (r12: the marker
    # previously existed only on the superseded-clean branch, so a
    # rolled-back restore's version still died with a bare scan error
    # under time travel)
    _write_damage_marker(
        table, committed, gone,
        "restore lost a vacuum race: its commit names files a "
        "concurrent vacuum deleted",
    )
    if head == committed:
        # Roll the head forward to the pre-restore snapshot: its files
        # were head-referenced while the vacuum ran, so they survived.
        # CAS on our own commit (review r10 #2): if another writer
        # lands between the head check and this publish, the rollback
        # must lose — a blind overwrite would silently discard that
        # writer's rows.
        prev_v = committed - 1
        rolled_back = False
        prev_m = None

        def _failed_rollback(reason: str = "") -> FileNotFoundError:
            # one wording for both failed-rollback branches (review
            # r13: the two hand-copies had already drifted once)
            return FileNotFoundError(
                f"restore of {table} to v{version} lost the race "
                f"with a concurrent vacuum: {len(gone)} restored "
                f"files were deleted after publish (e.g. {gone[0]}), "
                f"and rollback to v{prev_v} also failed{reason} — "
                "the head is marked damaged; restore from a retained "
                "version or overwrite with fresh data"
            )

        try:
            prev_m = _read_manifest(table, prev_v)
        except FileNotFoundError:
            # The pre-restore manifest itself is gone (a vacuum with
            # retain_last=1 expired it while our commit is head):
            # there is no snapshot to roll back TO. Only raise the
            # failed-rollback diagnosis if the head STILL equals our
            # commit (review r13): a commit interleaving right after
            # the head check inherits the deleted names via the
            # previous manifest's file list, and raising here without
            # re-reading would leave that head UNMARKED — the exact
            # bare-scan-death gap the head-moved logic below closes.
            head = latest_version(table)
            if head == committed:
                # No interleave: report the failed rollback honestly;
                # the marker written above already names the deleted
                # files with the truthful vacuum-race cause (ADVICE
                # r12 — the old fall-through misreported 'a commit
                # interleaved' and overwrote that cause).
                raise _failed_rollback(
                    " (its manifest is expired)"
                ) from None
            # else: the head moved — fall through (prev_m is None) to
            # the head-moved logic below, which marks an inheriting
            # head and words the error by what it references
        if prev_m is not None:
            try:
                _commit(
                    table,
                    lambda _p: (
                        list(prev_m["files"]),
                        prev_m["stats"],
                        {
                            "restored_from": prev_v,
                            "schema": prev_m["schema"],
                            # names the commit this rollback
                            # compensates, so a txn-replayed retry of
                            # the failed restore raises instead of
                            # reading as success
                            "rolled_back_restore": committed,
                        },
                    ),
                    "restore",
                    None,
                    rebase=False,
                    require_head=committed,
                )
                rolled_back = True
            except (CommitConflict, FileNotFoundError):
                # CAS lost: a commit landed on top of ours between
                # the head check and the rollback publish. Do NOT
                # raise a guessed message here (review r12 #2: the
                # old branch claimed 'the head still names deleted
                # files' without checking, and left an inheriting
                # head unmarked for every other reader) — re-read the
                # real head and fall through to the head-moved logic
                # below, which marks it if it inherited the deleted
                # names and words the error by what it actually
                # references.
                head = latest_version(table)
                if head == committed:
                    # The head never moved, so no commit interleaved
                    # and nothing inherited the deleted names — the
                    # rollback publish itself failed for a non-CAS
                    # reason (e.g. a racing vacuum unlinked
                    # v{prev_v}'s manifest between our read and the
                    # publish). Same honest diagnosis as the
                    # missing-manifest branch above; the marker on
                    # our commit (== the head) already carries the
                    # truthful cause (ADVICE r12).
                    raise _failed_rollback() from None
            if rolled_back:
                raise FileNotFoundError(
                    f"restore of {table} to v{version} lost the race "
                    f"with a concurrent vacuum: {len(gone)} restored "
                    f"files were deleted after publish (e.g. "
                    f"{gone[0]}); the head was rolled back to the "
                    f"pre-restore snapshot v{prev_v}"
                )
    # The head moved past our commit. A compaction may have rewritten
    # the lost files away (current head clean — fine); an append
    # carried them forward (current head names deleted files — the
    # corruption must surface, but rolling back is not ours to do
    # over the interleaved writer's commit).
    head_m = _read_manifest(table, head)
    still = sorted(set(gone) & set(head_m["files"]))
    if still:
        # Mark the corrupted head too (review r12): without this only
        # the restoring CALLER learns of the loss — every other
        # reader's read_snapshot would schedule a scan over deleted
        # files and die deep inside Spark with the bare error the
        # markers exist to prevent. Scope: commits racing past this
        # verify inherit the deleted names unmarked (the chase is
        # unbounded); the raise remains the authoritative signal, and
        # remediation (overwrite with fresh data, or restore from a
        # retained version) does not read through files_for.
        _write_damage_marker(
            table, head, still,
            "a commit interleaved with a restore that lost a vacuum "
            "race and inherited its deleted file names",
        )
        raise FileNotFoundError(
            f"restore of {table} to v{version} lost the race with a "
            f"concurrent vacuum: {len(still)} restored files were "
            f"deleted after publish and the current head v{head} "
            f"still references them (e.g. {still[0]}); a concurrent "
            "commit landed meanwhile, so no automatic rollback is "
            "possible — restore from a retained version"
        )
    # Success WITH a caveat: the HEAD is clean — every live row is
    # served — but our own intermediate version `committed`
    # permanently names the vacuum-deleted files. Returning success
    # is right because the restore's CONTRACT — the head holds the
    # target's contents — was met and then superseded by the
    # concurrent commit, exactly as if it had landed cleanly. But the
    # caveat must not be silent (ADVICE r11): a later time-travel
    # read of `committed` would otherwise fail deep inside Spark's
    # scan with a bare missing-file error that looks like corruption.
    # The damage marker recorded above (files_for turns it into a
    # named error carrying the history; vacuum removes it when the
    # manifest expires) covers this branch too — warn the restoring
    # caller now, since this branch alone returns success.
    warnings.warn(
        f"restore of {table} to v{version} converged but its commit "
        f"v{committed} names {len(gone)} vacuum-deleted files; the "
        f"current head is clean, v{committed} is marked damaged for "
        "time-travel readers",
        RuntimeWarning,
        stacklevel=2,
    )
    return committed


def snapshot_row_count(table: str, version: int | None = None) -> int:
    """Exact COUNT(*) of a snapshot from the manifest alone — zero
    file I/O, zero Spark jobs, O(live files) driver arithmetic.

    Row counts are recorded per file at commit time from the parquet
    footer (the ``__rows`` stats entry, Delta's numRecords idea); at
    100 TB this turns the most common dashboard query into a
    millisecond manifest read. A real column named ``__rows`` loses
    its zone map to the reserved key (the count is still exact;
    pruning and ``column_minmax`` on that one column just never
    engage).
    """
    version = _resolve_version(table, version)
    manifest = _read_manifest(table, version)
    return sum(manifest["stats"][n]["__rows"] for n in manifest["files"])


def column_minmax(
    table: str, col: str, version: int | None = None
) -> tuple[object, object] | None:
    """Exact global MIN/MAX of ``col`` from the manifest zone maps —
    zero file I/O (per-file footer min/max are exact, and min-of-mins
    / max-of-maxes is exact over their union).

    Returns None when any file lacks stats for ``col`` (all-null
    chunks, non-JSONable types, or an unknown column): those rows are
    invisible to the zone maps, so the metadata answer would be
    wrong — refuse and let the caller scan. NOTE: files whose column
    is entirely NULL also omit stats, so a None here does not mean
    the scan-side MIN/MAX differs — it means metadata cannot prove
    it. Empty snapshots return None for the same reason.
    """
    version = _resolve_version(table, version)
    manifest = _read_manifest(table, version)
    stats = manifest["stats"]
    if col in _RESERVED_STATS:
        return None  # a real column by a reserved name has no zone map
    lo = hi = None
    for name in manifest["files"]:
        fstats = stats[name]
        if fstats["__rows"] == 0:
            continue  # provably empty file: contributes nothing
        rng = fstats.get(col)
        if rng is None:
            return None
        try:
            lo = rng[0] if lo is None else min(lo, rng[0])
            hi = rng[1] if hi is None else max(hi, rng[1])
        except TypeError:
            # the manifest is input read from disk: zone maps whose
            # values do not order against each other cannot give a
            # metadata answer — refuse, don't crash
            return None
    return None if lo is None else (lo, hi)


def column_null_count(
    table: str, col: str, version: int | None = None
) -> int | None:
    """Exact NULL count of ``col`` across a snapshot from the
    manifest alone — zero file I/O, zero Spark jobs. With
    ``snapshot_row_count`` this answers ``COUNT(col)`` (= rows −
    nulls) and completeness/null-ratio dashboards without scheduling
    a task, at any time-travel version.

    Returns None when any file lacks a recorded null count for
    ``col`` (a footer chunk without the statistic): those rows are
    invisible to the metadata, so refuse and let the caller scan —
    never guess. Provably-empty files (``__rows`` == 0) contribute
    zero. A column PROVABLY absent from a file (its recorded
    ``__cols`` census omits it — additive evolution: old files
    null-backfill on read) counts as all-NULL there via the file's
    row count.
    """
    version = _resolve_version(table, version)
    if col in _RESERVED_STATS:
        return None
    manifest = _read_manifest(table, version)
    stats = manifest["stats"]
    # a column in NO file's census is not part of the snapshot at
    # all — refuse like column_minmax's unknown-column None, rather
    # than answering "all rows are NULL" for a typo
    known = any(col in stats[name]["__cols"] for name in manifest["files"])
    if not known and manifest["files"]:
        return None
    total = 0
    for name in manifest["files"]:
        fstats = stats[name]
        if fstats["__rows"] == 0:
            continue
        nulls = fstats.get("__nulls", {})
        if col in nulls:
            total += nulls[col]
        elif col not in fstats["__cols"]:
            total += fstats["__rows"]
        else:
            return None
    return total


def delete_where(
    spark: SparkSession,
    table: str,
    condition: str,
    prune: tuple | None = None,
    txn_id: str | None = None,
    write_changefeed: bool = False,
) -> int:
    """Row-level DELETE as one atomic copy-on-write commit: rewrite
    only the files that can contain matches, keep every other file
    (and its manifest zone map) untouched.

    ``condition`` is a SQL boolean expression over the table's
    columns — rows where it is TRUE are deleted. ``prune=(col, lo,
    hi)`` narrows the rewrite set with the manifest zone maps first:
    at 100 TB, deleting one user's rows from a user-clustered table
    rewrites a handful of files, not the table — the same driver-side
    skip the read path gets, now on the write path. Correctness does
    not depend on the prune (it only selects WHICH files are
    rewritten; the condition is applied inside them), but the prune
    range must cover every row the condition can match — the caller
    owns that pairing, e.g. condition="user_id = 7",
    prune=("user_id", 7, 7). The null-predicate form composes too:
    condition="tag IS NULL", prune=("tag", "isnull") rewrites only
    the files that provably contain NULL tags.

    ``write_changefeed=True`` records the deleted rows as
    ``cdc_files`` (``_change_type`` = 'delete'), so ``read_changes``
    serves this commit incrementally like a merge; without it the
    commit is a rewrite whose row-level delta was never recorded and
    the change feed refuses it loudly.

    Concurrency: recompute-on-conflict through ``_commit``. Old
    versions stay readable until vacuum — DELETE here is logical
    removal from the new snapshot, not data destruction, which is
    exactly what GDPR-style physical erasure needs to follow up with:
    ``vacuum`` after retention expires the old versions that still
    contain the rows.
    """
    from pyspark.sql import functions as F

    def build(prev):
        if prev is None:
            raise FileNotFoundError(f"no commits in table {table}")
        all_names = prev["files"]
        candidates = set(files_for(table, prev["version"], prune))
        kept = [n for n in all_names if n not in candidates]
        new_files: list[str] = []
        new_stats: dict[str, dict] = {}
        # [] (not None) when the feed is requested but the prune left
        # nothing to rewrite: the commit must still be SERVABLE by
        # read_changes as an explicit no-op, not refused as an
        # unrecorded rewrite
        cdc_files: list[str] | None = [] if write_changefeed else None
        if candidates:
            paths = [
                os.path.join(_data_dir(table), n)
                for n in all_names
                if n in candidates
            ]
            # mergeSchema: a rewrite reading one arbitrary file's
            # schema would silently DROP columns a later append
            # introduced — the same evolved-column loss compact and
            # merge_changes already guard against (review r09)
            scanned = spark.read.option("mergeSchema", "true").parquet(
                *paths
            )
            # SQL DELETE semantics under three-valued logic: only
            # rows where the condition is TRUE are deleted; a
            # NULL-condition row must SURVIVE (filter(~expr) alone
            # would silently drop it without ever recording a delete
            # — review r09)
            is_match = F.coalesce(F.expr(condition), F.lit(False))
            with ExitStack() as stack:
                if write_changefeed:
                    # both outputs read this one scan: persist so the
                    # candidates are read once, not twice (the same
                    # double-scan guard merge_changes has)
                    scanned = stack.enter_context(cached(scanned))
                new_files, new_stats = _write_data_files(
                    scanned.filter(~is_match), table
                )
                if write_changefeed:
                    deleted_rows = scanned.filter(is_match).withColumn(
                        "_change_type", F.lit("delete")
                    )
                    written, w_stats = _write_data_files(
                        deleted_rows, table
                    )
                    # a delete matching ZERO rows must record an
                    # EMPTY feed, not 0-row files: read_changes'
                    # idle signal (None) is what stops a downstream
                    # keyed sync from a pointless full rewrite. The
                    # counts are already in the write's own stats
                    # (review r09 — no second footer pass).
                    n_deleted = sum(
                        w_stats[name]["__rows"] for name in written
                    )
                    cdc_files = written if n_deleted else []
        manifest = {
            "condition": condition,
            # deletion changes rows, never columns: carry the schema
            # so enforcement survives the maintenance op
            "schema": prev["schema"],
        }
        if cdc_files is not None:
            manifest["cdc_files"] = cdc_files
        return (
            kept + new_files,
            {**{n: prev["stats"][n] for n in kept}, **new_stats},
            manifest,
        )

    return _commit(table, build, "delete", txn_id, rebase=True)


def merge_changes(
    spark: SparkSession,
    table: str,
    changes: DataFrame,
    keys: list[str],
    order_cols: list[str],
    txn_id: str | None = None,
    write_changefeed: bool = False,
    evolve_schema: bool = False,
    require_head: int | None = None,
) -> int:
    """Apply a keyed I/U/D change batch to the table as ONE atomic
    commit (transactional Delta-MERGE; the log-level home of the
    semantics proven query-side in ``plans/temporal.py``
    ``cdc_merge_plan`` — see its oracle-checked catalog entry
    ``cdc_merge_apply``).

    ``changes`` carries the table's data columns plus an ``op`` column
    in {'U', 'D'} ('U' upserts, 'D' deletes; an insert is a 'U' on an
    absent key, a 'D' on an absent key is a no-op). Multiple changes
    per key collapse to the LAST by ``order_cols`` (last-writer-wins
    — deterministic under feed reordering, the step per-row upserts
    get wrong). The reconcile is one full-outer join per key; the
    result replaces the snapshot in a single commit, so readers see
    either the whole batch or none of it, and the previous version
    remains time-travelable.

    Concurrency: recompute-on-conflict through ``_commit``;
    ``require_head`` makes it a compare-and-set for callers whose
    batch was derived from the head they read (``sync_changes``).

    ``op`` values are validated eagerly: a NULL op or anything
    outside {'U', 'D'} raises before any rewrite — a lowercase 'd'
    silently upserting rows the feed meant to delete is the bug this
    catches (review r10).

    ``write_changefeed=True`` additionally materializes the batch's
    EFFECTIVE row-level changes (``_change_type`` in
    {'insert','update','delete'}; no-op deletes on absent keys
    dropped) as extra data files recorded under the manifest's
    ``cdc_files`` — a merge rewrites every file it touches, so
    without this record a downstream consumer could only recover the
    delta by diffing two full snapshots. With it, ``read_changes``
    serves the merge in O(changed rows). This is the public
    change-data-feed design (Delta CDF): pay a small write at commit
    time to make incremental consumption cheap forever after. Both
    outputs derive from ONE persisted full-outer join, so the base
    snapshot is scanned once per attempt, not once per output
    (review r08: the first cut re-ran the table scan and the change
    dedup for the CDC frame).

    ``evolve_schema=True`` treats batch data columns the table lacks
    as ADDITIVE evolution: the base is NULL-backfilled and the new
    columns join the rewrite (the merge-level twin of
    ``read_snapshot(merge_schema=True)``). Off by default: in plain
    merges, unknown batch columns are feed metadata and stay ignored.
    """
    from pyspark.sql import Window as W
    from pyspark.sql import functions as F

    _check_txn_id(txn_id)  # before the op probe below runs a Spark job

    def build(prev):
        if prev is None:
            raise FileNotFoundError(f"no commits in table {table}")
        # merge_schema: like compact, the rewrite must carry columns
        # any append has introduced, or the merge commits their loss
        base = read_snapshot(
            spark, table, prev["version"], merge_schema=True
        )
        data_cols = base.columns
        if evolve_schema:
            meta_cols = {"op", *order_cols}
            new_cols = [
                c
                for c in changes.columns
                if c not in data_cols and c not in meta_cols
            ]
            for cname in new_cols:
                base = base.withColumn(
                    cname,
                    F.lit(None).cast(changes.schema[cname].dataType),
                )
            data_cols = data_cols + new_cols
        missing = [
            c
            for c in data_cols + ["op"] + list(order_cols)
            if c not in changes.columns
        ]
        if missing:
            raise ValueError(f"change batch lacks columns {missing}")
        if write_changefeed:
            # the feed fabricates _change_type over the data columns;
            # a real data column of that name would be clobbered in
            # the cdc output and double-tagged on read (review r11)
            _check_cdc_collisions(
                data_cols, f"merge_changes({table!r} changefeed)"
            )
        w = W.partitionBy(*keys).orderBy(
            *[F.col(c).desc() for c in order_cols]
        )
        # order_cols may be change-feed metadata (an LSN, a batch
        # sequence) that is NOT a table column — keep them through the
        # dedup window, drop them after (caught by the model-based
        # property test; the original select dropped them first and
        # the window failed to resolve).
        extra = [c for c in order_cols if c not in data_cols]
        last = (
            changes.select("op", *data_cols, *extra)
            .withColumn("__rn", F.row_number().over(w))
            .filter(F.col("__rn") == 1)
            .drop("__rn", *extra)
        )
        # a literal marker (not key-null-ness) tells the CDC
        # classifier whether a base row matched: NULL keys never
        # equi-join, and a data column could legitimately be NULL
        b = (
            base.withColumn("__b", F.lit(True)) if write_changefeed
            else base
        ).alias("b")
        c = last.alias("c")
        cond = None
        for k in keys:
            eq = F.col(f"b.{k}") == F.col(f"c.{k}")
            cond = eq if cond is None else cond & eq
        changed = F.col("c.op").isNotNull()
        # persist + count in EVERY branch: the count MATERIALIZES the
        # join at its full shuffle parallelism BEFORE the coalesced
        # writes below — coalesce is a narrow dependency, so without
        # this the whole reduce stage (join fetch+sort, CDC dedup,
        # cache fill) would run at n_out tasks, funneling a 10 GB
        # batch merged into a 50 MB table through ONE task. The count
        # also gives the exact output row bound the file sizing
        # needs, and with the changefeed it additionally keeps the
        # scan-once contract — both outputs read the cache. A retry
        # recounts: it joins the new head's base.
        with cached(b.join(c, cond, "full")) as joined:
            # size both rewrite outputs by estimated bytes, never
            # core count (see _merge_output_partitions)
            n_out = _merge_output_partitions(prev, joined.count())
            merged = joined.filter(
                ~changed | (F.col("c.op") != "D")
            ).select(
                *[
                    F.when(changed, F.col(f"c.{col}"))
                    .otherwise(F.col(f"b.{col}"))
                    .alias(col)
                    for col in data_cols
                ]
            ).coalesce(n_out)
            files, stats = _write_data_files(merged, table)
            # the merged frame's schema is the post-merge column union
            # (base + evolved change columns): record it so enforcement
            # survives the rewrite
            manifest = {"schema": merged.schema.jsonValue()}
            if write_changefeed:
                # Effective changes only: a 'D' on an absent key
                # changed nothing and must not be replayed downstream;
                # a 'U' is an update iff a base row matched.
                b_present = F.col("b.__b").isNotNull()
                effective = joined.filter(
                    changed & ((F.col("c.op") != "D") | b_present)
                ).select(
                    *[F.col(f"c.{col}").alias(col) for col in data_cols],
                    F.when(F.col("c.op") == "D", F.lit("delete"))
                    .when(b_present, F.lit("update"))
                    .otherwise(F.lit("insert"))
                    .alias("_change_type"),
                )
                # the effective feed is a subset of the rewrite (plus
                # the type tag): same sizing
                cdc_files, cdc_stats = _write_data_files(
                    effective.coalesce(n_out), table
                )
                # a merge whose every change was ineffective (e.g. a
                # batch of 'D' ops on absent keys — routine under
                # at-least-once feeds) must record an EMPTY feed, not
                # 0-row files: read_changes' idle signal (None) is
                # what stops a downstream keyed sync from a pointless
                # full rewrite — the delete_where guard, applied here
                # too (review r11). Counts come from the write's own
                # stats, no second footer pass.
                n_changed = sum(
                    cdc_stats[name]["__rows"] for name in cdc_files
                )
                manifest["cdc_files"] = cdc_files if n_changed else []
        return files, stats, manifest

    # persist: the op-validation probe, the window dedup, and the
    # per-retry join otherwise each re-evaluate the batch lineage
    # from scratch — for the sync path that is a re-read of every
    # cdc/added file in the range per evaluation
    with cached(changes) as changes:
        if "op" in changes.columns:
            # eager, bounded: one limit(1) probe over the batch — a
            # merge applying misclassified ops (NULL, 'd', 'delete')
            # must fail loudly before rewriting anything
            bad = (
                changes.filter(
                    F.col("op").isNull() | ~F.col("op").isin("U", "D")
                )
                .select("op")
                .limit(1)
                .collect()
            )
            if bad:
                raise ValueError(
                    f"change batch has invalid 'op' value {bad[0][0]!r}: "
                    "ops must be 'U' or 'D' and non-null"
                )
        return _commit(
            table, build, "merge", txn_id, rebase=True,
            require_head=require_head,
        )


def require_position_within_head(
    table: str, position: int, head: int | None
) -> None:
    """Refuse a change-feed consumer whose ``position`` is below -1
    or past the ``head`` of ``table`` (-1 for a table with no commits).
    -1 (before version 0) is the lowest position, so a lower one is a
    bad bound, not a consumer behind the vacuum horizon. A position
    past the head can only come from a table that was recreated or
    rebuilt with fewer versions than the consumer applied; treating
    it as idle would silence the consumer for good."""
    if position < -1:
        raise ValueError(
            f"change-feed position {position} is below -1, the "
            f"position before {table}'s first commit; fix the "
            "caller's bound"
        )
    h = -1 if head is None else head
    if position > h:
        raise ValueError(
            f"change-feed position {position} is past the head of "
            f"{table} ({h}): the table has fewer versions than the "
            "consumer applied (recreated or rebuilt?) — resync the "
            "consumer from a snapshot"
        )


def read_changes(
    spark: SparkSession,
    table: str,
    since_version: int,
    until_version: int | None = None,
) -> DataFrame | None:
    """Rows changed by the commits in ``(since_version,
    until_version]`` (until defaults to the head), tagged with
    ``_change_type`` ('insert'/'update'/'delete') and
    ``_commit_version``. Returns None when no commit in the range
    changed any data (the poll-loop idle signal — there is no schema
    to fabricate an empty frame from without reading a snapshot). A
    ``since_version`` below -1 or past the head raises ValueError
    (``require_position_within_head``).

    Cost is O(changed rows), never O(table): an ``append`` commit is
    served from exactly the files that commit added — recorded in the
    commit's OWN manifest (``added``), so the delta is self-contained
    and polling the oldest retained version works even after vacuum
    expired its predecessor's manifest; version 0, the bootstrap
    commit, inserts every file it names — a ``merge`` committed
    with ``write_changefeed=True`` is served from its recorded
    ``cdc_files``; a ``compact`` rewrites layout, not data, and
    contributes nothing. A ``merge`` WITHOUT a change feed or an
    ``overwrite`` cannot be served incrementally — their row-level
    delta was never recorded and recovering it means diffing two
    full snapshots, which at 100 TB is precisely the scan this API
    exists to avoid — so the walk refuses loudly rather than
    silently serving a wrong or ruinously expensive answer.

    Additive schema evolution across the range is handled by
    name-based union with NULL backfill. Versions older than the
    vacuum horizon raise FileNotFoundError (their manifests are
    gone); a consumer's cursor must stay within retention — any
    RETAINED version is servable (see ``added`` above), the same
    contract as the txn-id dedup horizon.
    """
    from functools import reduce

    from pyspark.sql import functions as F

    head = latest_version(table)
    require_position_within_head(table, since_version, head)
    until = until_version if until_version is not None else head
    if until is None or until <= since_version:
        return None
    if head is None or until > head:
        # a bound beyond the head is a CALLER bug — without this check
        # the walk's missing-manifest wrap below would misdiagnose it
        # as a behind-retention consumer and send an operator to
        # resync a healthy pipeline (review r13)
        raise ValueError(
            f"read_changes until_version={until} is beyond the head "
            f"of {table} ({head}); fix the caller's bound"
        )
    frames: list[DataFrame] = []
    for v in range(since_version + 1, until + 1):
        try:
            manifest = _read_manifest(table, v)
        except FileNotFoundError:
            # the consumer's position has fallen behind the vacuum
            # horizon: v's manifest is expired, so its delta is
            # unrecoverable incrementally. Name the operational
            # failure and its remediation instead of surfacing the
            # bare no-manifest error (review r13) — at 100 TB "the
            # nightly sync fell a week behind retention" is a
            # routine incident, and the fix is a resync, not a
            # corrupted-table investigation.
            raise FileNotFoundError(
                f"change feed of {table} cannot serve version {v}: "
                "its manifest is expired (the consumer position "
                f"{since_version} has fallen behind the vacuum "
                "horizon) — resync the consumer from a snapshot, and "
                "keep vacuum retain_last deeper than the consumer "
                "cadence"
            ) from None
        op = manifest["op"]
        if op == "compact":
            continue
        if v == 0 or op == "append":
            # an append's delta is recorded at commit time — no
            # dependence on version v-1's manifest, which vacuum may
            # have expired even though v itself is retained
            names = manifest["added"] if op == "append" else manifest["files"]
            added = [
                os.path.join(_data_dir(table), name) for name in names
            ]
            if not added:
                continue
            raw = spark.read.parquet(*added)
            _check_cdc_collisions(
                raw.columns, f"read_changes({table!r} v{v})"
            )
            frames.append(
                raw
                .withColumn("_change_type", F.lit("insert"))
                .withColumn("_commit_version", F.lit(v).cast("int"))
            )
        elif "cdc_files" in manifest:  # merge/delete with a feed
            if not manifest["cdc_files"]:
                continue  # recorded no-op (e.g. fully-pruned delete)
            paths = [
                os.path.join(_data_dir(table), name)
                for name in manifest["cdc_files"]
            ]
            raw = spark.read.parquet(*paths)
            if "_commit_version" in raw.columns:
                _check_cdc_collisions(
                    ["_commit_version"],
                    f"read_changes({table!r} v{v} cdc)",
                )
            frames.append(
                raw.withColumn("_commit_version", F.lit(v).cast("int"))
            )
        else:
            raise ValueError(
                f"version {v} of {table} is op={op!r} with no recorded "
                "change feed; its row-level delta cannot be served "
                "incrementally (commit merges/deletes with "
                "write_changefeed=True, or diff snapshots explicitly)"
            )
    if not frames:
        return None
    return reduce(
        lambda a, b: a.unionByName(b, allowMissingColumns=True), frames
    )


#: txn-id namespace for sync_changes commits; the source version the
#: batch covered rides after the colon, which is what makes the
#: consumer position recoverable from the destination log alone.
SYNC_TXN_PREFIX = "changefeed-sync"


def sync_position(
    dst_table: str,
    src_table: str | None = None,
    upto: int | None = None,
) -> int:
    """Last source version a ``sync_changes`` commit applied to
    ``dst_table``, or -1 if never synced. Read from the destination's
    own manifests, newest-first — the consumer offset is committed
    WITH the data it covers, so a crash anywhere between poll and
    commit resumes exactly where the destination actually is, with no
    external cursor state to lose. The scan walks ALL retained
    manifests (not the txn dedup horizon): a horizon-bounded scan
    would silently reset to -1 whenever 64+ other commits landed
    between syncs and the next sync would re-append the whole feed
    (review r08). Losing the position entirely — vacuum expired every
    sync manifest — still resets; keep ``retain_last`` deeper than
    the sync cadence, as documented on ``vacuum``.

    With ``src_table`` the walk matches only that source's
    (source-key-qualified) sync commits — the multi-source fan-in
    contract (ADVICE r13: with bare ids, two sources syncing into one
    destination aliased each other's positions — one silently
    stalled or silently skipped its prefix). Without it, the walk
    matches ANY sync commit (every qualified id carries the version
    as its last ':'-field), which is only meaningful for
    single-source destinations — the audit/test convenience, not the
    consumer path.

    ``upto`` bounds the scan to manifests <= that version:
    ``sync_changes`` reads the destination HEAD first and derives the
    position from that same snapshot, so a competing sync committing
    between the two reads (with a different source head, where txn-id
    dedup cannot collide) is excluded from the position — its commit
    moved the head past the CAS target, so the stale worker's append
    fails and retries instead of double-applying the overlapping
    range (ADVICE r08)."""
    prefix = (
        f"{SYNC_TXN_PREFIX}:{source_key(src_table)}"
        if src_table is not None
        else SYNC_TXN_PREFIX
    )
    return txn_position(dst_table, prefix, upto)


def require_known_source(
    dst_table: str,
    prefix: str,
    position: int,
    dst_head: int | None,
    src_table: str,
    allow_new_source: bool,
) -> None:
    """Refuse a sync whose SOURCE-qualified position is -1 while the
    destination already carries fold/sync commits in the namespace
    (the silent-double-count hazard): a -1 against a non-empty
    consumer history almost always means the SAME source reached
    under a different identity — a moved or re-mounted source path
    (the path IS the identity, see ``source_key``) — and blindly
    folding would re-apply the whole 0..head history on top of the
    existing state, double-counting every row with no error. Genuine
    multi-source fan-in onboarding (a NEW source joining a
    destination other sources already feed) is the one legitimate
    -1-with-history case; it must say so explicitly via
    ``allow_new_source=True``."""
    if position >= 0 or allow_new_source or dst_head is None:
        return
    if txn_position(dst_table, prefix, upto=dst_head) < 0:
        return
    raise ValueError(
        f"source {src_table!r} has no recorded position in "
        f"{dst_table!r}, but the destination already has "
        f"{prefix!r} consumer commits: syncing now would re-apply "
        "the source's entire history on top of the existing state "
        "(double-counting). If the source path moved (the realpath "
        "is part of the consumer's identity), run "
        "migrate_consumer_position(old_key=source_key(<old path>)) "
        "to re-record the position under the current key — a "
        "metadata-only commit, no recompute. Only if this genuinely "
        "is a NEW source joining multi-source fan-in, pass "
        "allow_new_source=True."
    )


def txn_position(
    dst_table: str,
    prefix: str,
    upto: int | None = None,
) -> int:
    """Generic consumer-offset recovery for ``<prefix>:<position>``
    txn ids: newest live manifest first (optionally bounded to
    manifests <= ``upto`` — the head-first consistent-snapshot read),
    then the checkpoint fold (so deep-vacuumed destinations resume
    instead of resetting to -1). Shared by ``sync_position`` and
    ``sinks/incremental.aggregate_position``, so the two walks cannot
    drift apart."""
    def _pos(txn: str) -> int | None:
        # the manifest is input read from disk, not only what
        # _check_txn_id let through: a malformed suffix is skipped,
        # never allowed to wedge recovery with ValueError
        try:
            return int(txn.rsplit(":", 1)[1])
        except ValueError:
            return None

    versions = _list_versions(dst_table)
    if upto is not None:
        versions = [v for v in versions if v <= upto]
    for v in reversed(versions):
        try:
            txn = _read_manifest(dst_table, v).get("txn_id") or ""
        except FileNotFoundError:
            # a concurrent vacuum unlinked this (expired) manifest
            # between the listing and the read (review r11): vacuum
            # folds before it deletes, so the checkpoint below
            # already covers it — skip, never crash the sync run
            continue
        if txn.startswith(prefix + ":"):
            pos = _pos(txn)
            if pos is not None:
                return pos
    ckpt = _read_checkpoint(dst_table)
    if ckpt is not None:
        folded = [
            (v, _pos(txn))
            for txn, v in ckpt["txns"].items()
            if txn.startswith(prefix + ":") and (upto is None or v <= upto)
        ]
        folded = [(v, p) for v, p in folded if p is not None]
        if folded:  # latest DESTINATION commit wins, as in the walk
            return max(folded)[1]
    return -1


def migrate_consumer_position(
    dst_table: str,
    src_table: str,
    old_key: str,
    prefix: str = SYNC_TXN_PREFIX,
) -> int:
    """One-time consumer-identity migration for a MOVED source path:
    re-record a destination's consumer position, recorded under
    ``old_key`` (``source_key`` of the old path), under
    ``src_table``'s CURRENT realpath-qualified source key, so the
    destination resumes syncing instead of requiring a full
    recompute — the explicit alternative to the ``allow_new_source``
    footgun, which would silently re-apply history.

    The carrier is a ZERO-REWRITE ``compact`` commit: the head
    manifest's files/stats/schema verbatim (data identical, zone maps
    carried forward, ``read_changes`` contributes nothing for it,
    insert-only consumers accept it) whose txn id is the qualified
    ``<prefix>:<new key>:<position>`` — the next ``sync_position``
    walk finds it at the head. Metadata-only: no Spark session, no
    data movement, O(1) manifests written.

    Both keys are source-qualified, so the migration is safe under
    multi-source fan-in.

    Refuses loudly when there is nothing to migrate (no position
    found under ``old_key``) and when the destination ALREADY has a
    position under the current key (re-running the migration with a
    stale ``old_key`` would regress the position) — EXCEPT the
    crash-retry replay: if the exact carrier txn id (key, position)
    is already committed within the txn dedup horizon, the retried
    call returns that version instead of refusing. Works for both
    reserved namespaces — pass
    ``prefix=sinks.incremental.AGG_TXN_PREFIX`` for aggregate
    destinations.

    CONCURRENCY: the whole read phase — old-key position, replay
    probe, already-current guard — runs against ONE head snapshot,
    and the carrier commits with ``require_head`` pinned to that
    snapshot (CAS, no rebase). A sync under the
    current key landing concurrently therefore surfaces as
    ``CommitConflict`` for the operator to re-run (metadata-only,
    cheap) instead of the stale carrier rebasing on top of it and
    regressing the newest-first ``txn_position`` walk — which would
    make the next sync re-apply the already-synced range, a
    double-count for insert-only destinations.

    ``old_key`` EQUAL to the current key is refused up front: the
    carrier txn id would coincide with the ordinary sync commit's, so
    the call would return that sync's version as a "successful
    migration" while it sat inside the txn dedup horizon but raise
    "already records" once it aged out — the same no-op input must
    get ONE deterministic outcome regardless of log depth."""
    new_key = source_key(src_table)
    if old_key == new_key:
        raise ValueError(
            f"old_key {old_key!r} IS {src_table!r}'s current source "
            f"key — nothing to migrate: any position under it is "
            "already current"
        )
    # ONE head snapshot anchors every read below AND the commit CAS —
    # reading positions at a newer head than the CAS pins would let a
    # concurrent sync slip in between guard and publish unnoticed.
    head = latest_version(dst_table)
    position = txn_position(dst_table, f"{prefix}:{old_key}", upto=head)
    txn = f"{prefix}:{new_key}:{position}"
    if position >= 0:
        replayed = _replayed_version(dst_table, txn)
        if replayed is not None:
            return replayed  # crashed-and-retried migration
    if txn_position(dst_table, f"{prefix}:{new_key}", upto=head) >= 0:
        raise ValueError(
            f"{dst_table!r} already records a {prefix!r} position for "
            f"source {src_table!r} under its current key {new_key} — "
            "nothing to migrate; re-running would regress the "
            "position to the one under the old key"
        )
    if position < 0:
        raise ValueError(
            f"{dst_table!r} has no {prefix!r} position under old key "
            f"{old_key!r} — nothing to migrate (for a NEW source "
            "joining fan-in, use allow_new_source=True on the sync "
            "instead)"
        )

    def build(prev):
        if prev is None:  # unreachable: position >= 0 implies commits
            raise FileNotFoundError(f"no commits in table {dst_table}")
        return prev["files"], prev["stats"], {
            # carry the declared schema exactly as compact does, and
            # the head's layout metadata (the carrier's files ARE the
            # head's files, so its zorder_by stays truthful; omitting
            # the key would break the compact-manifest shape every
            # auditor indexes)
            "schema": prev["schema"],
            "zorder_by": prev.get("zorder_by"),
            "migrated_consumer": {"prefix": prefix, "old_key": old_key},
        }

    return _commit(
        dst_table,
        build,
        op="compact",
        txn_id=txn,
        # CAS on the snapshot every guard above read (ADVICE r15): a
        # commit landing after it — including a sync under the NEW
        # key — must surface as CommitConflict, never be rebased over.
        rebase=False,
        require_head=head,
    )


def verify_insert_only(src_table: str, position: int, head: int) -> None:
    """Raise unless every commit in ``(position, head]`` is an
    append/compact (v0, the bootstrap commit, serves as inserts
    whatever its op). The declaration check shared by insert-only
    consumers — ``sync_changes(keys=None)`` and
    ``sinks/incremental.sync_aggregate`` — so a merge/overwrite/
    delete in the range fails loudly BEFORE any data moves instead
    of silently duplicating or losing rows downstream."""
    rewrite_ops = [
        op
        for op in (
            _read_manifest(src_table, v)["op"]
            for v in range(max(position + 1, 1), head + 1)
        )
        if op not in ("append", "compact")
    ]
    if rewrite_ops:
        raise ValueError(
            f"consumer of {src_table} declared insert-only but the "
            f"range has rewrite commits {rewrite_ops}; rows cannot "
            "be applied incrementally without keys/before-images"
        )


def sync_changes(
    spark: SparkSession,
    src_table: str,
    dst_table: str,
    keys: list[str] | None = None,
    allow_new_source: bool = False,
) -> int | None:
    """Apply one micro-batch of ``src_table``'s change feed to
    ``dst_table``, exactly-once and resumable from the destination
    alone. Returns the destination version committed, or None when
    the source has nothing new.

    ``keys=None`` declares the source insert-only: the batch is a
    plain append. The declaration is VERIFIED against the source
    manifests' ops before any data moves — a merge or overwrite in
    the range would silently duplicate rows under blind append, so it
    raises instead (pass ``keys`` for keyed sources). With ``keys``,
    the feed's insert/update/delete rows drive ``merge_changes``
    ordered by ``_commit_version`` (later commits win), bootstrapping
    an empty destination from the non-delete rows.

    Exactly-once shape: the destination commit's txn id encodes the
    source version the batch ran to, and the appending paths
    compare-and-set against the destination head the position was
    read from — two workers racing (even with DIFFERENT source heads,
    where txn ids alone would not collide) resolve to one winner and
    one retry that re-reads the advanced position and applies only
    the remainder (review r08). The keyed merge path carries the same
    CAS (review r10): last-commit-wins alone converges only
    EVENTUALLY — a stale racer landing after a fresher sync would
    regress keys to older values until the next poll — so the stale
    worker loses into the retry loop instead. This is the table-log
    equivalent of the streaming sink's epoch contract, for log-to-log
    pipelines.

    The committed txn id is SOURCE-qualified
    (``changefeed-sync:<source key>:<src version>``, ADVICE r13), so
    multi-source fan-in into one destination is well-defined: each
    source recovers its own position. A source with no recorded
    position against a destination that already has sync commits is
    REFUSED unless ``allow_new_source=True`` — see
    ``require_known_source`` (a moved source path would otherwise
    silently re-apply the whole feed). Keyed fan-in converges per key to the
    latest ``_commit_version`` WITHIN each source's feed; ordering
    ACROSS sources is poll-arrival order, as with any two writers.
    """
    from pyspark.sql import functions as F

    src_key = source_key(src_table)
    for _ in range(MAX_COMMIT_RETRIES):
        # Head FIRST, then the position derived only from manifests
        # <= that head (one consistent snapshot): a racer committing
        # after the head read cannot leave a stale position paired
        # with a CAS target that already covers its commit — the CAS
        # fails and this worker re-reads (ADVICE r08).
        dst_head = latest_version(dst_table)
        position = sync_position(dst_table, src_table, upto=dst_head)
        head = latest_version(src_table)
        require_position_within_head(src_table, position, head)
        if head is None or head == position:
            return None
        require_known_source(
            dst_table, SYNC_TXN_PREFIX, position, dst_head,
            src_table, allow_new_source,
        )
        changes = read_changes(spark, src_table, position, head)
        if changes is None:  # only compactions landed: nothing to move
            return None
        txn = f"{SYNC_TXN_PREFIX}:{src_key}:{head}"
        cas = dst_head if dst_head is not None else -1
        try:
            if keys is None:
                verify_insert_only(src_table, position, head)
                return append(
                    changes.drop("_change_type", "_commit_version"),
                    dst_table, txn_id=txn, require_head=cas,
                )
            if dst_head is None:
                # Bootstrap must collapse the range per key FIRST: a
                # key inserted at v1 and deleted at v2 is absent from
                # the source head, and filtering deletes without the
                # collapse would resurrect its v1 row.
                from pyspark.sql import Window as W

                w = W.partitionBy(*keys).orderBy(
                    F.col("_commit_version").desc()
                )
                bootstrap = (
                    changes.withColumn("__rn", F.row_number().over(w))
                    .filter(
                        (F.col("__rn") == 1)
                        & (F.col("_change_type") != "delete")
                    )
                    .drop("__rn", "_change_type", "_commit_version")
                )
                return append(
                    bootstrap, dst_table, txn_id=txn, require_head=-1
                )
            _check_cdc_collisions(
                [c for c in changes.columns
                 if c not in _RESERVED_CDC_COLS],
                f"sync_changes({src_table!r} keyed)",
                extra=("op",),
            )
            batch = changes.withColumn(
                "op",
                F.when(
                    F.col("_change_type") == "delete", F.lit("D")
                ).otherwise(F.lit("U")),
            ).drop("_change_type")
            # evolve_schema: additively-evolved source columns must
            # reach the destination, not be silently projected away.
            # require_head (review r10): without the CAS a stale
            # racer's merge landing AFTER a fresher sync would regress
            # keys to older values until the next poll re-applied the
            # range — last-commit-wins converges only eventually; the
            # CAS makes the stale worker lose into the retry loop,
            # where the re-read position covers the fresher sync.
            return merge_changes(
                spark, dst_table, batch, keys=keys,
                order_cols=["_commit_version"], txn_id=txn,
                evolve_schema=True, require_head=dst_head,
            )
        except CommitConflict:
            continue  # another sync/writer landed: re-read and retry
    raise CommitConflict(
        f"sync {src_table} -> {dst_table} kept losing the race"
    )


class ChangefeedCursor:
    """Incremental consumer position over a table's change feed.

    ``poll`` returns ``(changes, until)`` — the batch since the last
    ACKED position — or None when idle (a position past the head
    raises ValueError); the cursor advances only on
    ``ack(until)``, which the caller invokes AFTER its downstream
    commit succeeds. A failed downstream write therefore re-serves
    the same batch on the next poll (at-least-once), and pairing
    ``until`` with the downstream sink's ``txn_id`` upgrades the seam
    to exactly-once — the same contract as the streaming sink's epoch
    ids. (Review r11: the old poll advanced BEFORE the caller
    processed the batch and returned no ``until``, so a failed
    downstream commit silently dropped the batch — at-most-once,
    contradicting this docstring.) The head is resolved ONCE per
    poll, so commits landing mid-read defer cleanly to the next poll.
    """

    def __init__(self, table: str, start_after: int = -1) -> None:
        self.table = table
        self.position = start_after

    def poll(
        self, spark: SparkSession
    ) -> tuple[DataFrame, int] | None:
        head = latest_version(self.table)
        require_position_within_head(self.table, self.position, head)
        if head is None or head == self.position:
            return None
        changes = read_changes(spark, self.table, self.position, head)
        if changes is None:
            # only data-less commits (compactions) in range: nothing
            # for the caller to process or ack — advance directly
            self.position = head
            return None
        return changes, head

    def ack(self, until: int) -> None:
        """Mark the batch ending at ``until`` as durably applied."""
        if until > self.position:
            self.position = until


def history(table: str) -> list[dict]:
    """All retained manifests, oldest first (the audit/debug view).

    O(retained commits) small-file reads. The >1e5-commit growth path
    is ``write_checkpoint`` + ``vacuum``: folding lets vacuum delete
    old manifests without losing the replay-dedup/offset state the
    walks need, which keeps ``_log/`` (and therefore every listing
    and walk) bounded by the vacuum cadence instead of table age.
    """
    return [_read_manifest(table, v) for v in _list_versions(table)]


def vacuum(
    table: str,
    retain_last: int = 1,
    min_age_seconds: float = 3600.0,
) -> list[str]:
    """Delete data files unreachable from the newest ``retain_last``
    manifests, and the expired manifests themselves.

    This is the ONLY deletion in the protocol, and it only touches
    files no retained snapshot can name — crash-orphaned files (data
    written, commit never published) are unreachable by construction
    and swept too. Returns deleted data-file names. ``retain_last``
    must keep at least the head: vacuuming the live version is
    nonsense and refused. Crash-safe ordering (r12): expired
    manifests are deleted BEFORE the data files they alone
    referenced, so no crash window leaves a manifest on disk naming
    deleted files — a vacuum killed at any point leaves only
    unreferenced data files, which the next run sweeps.

    ``min_age_seconds`` protects IN-FLIGHT commits: every writer
    stages its data files BEFORE publishing the manifest that names
    them, so an unreferenced file younger than the longest plausible
    commit duration may belong to a commit about to publish —
    sweeping it would corrupt that commit's snapshot the moment it
    lands (the same reason Delta's VACUUM has a retention horizon).
    Only unreferenced files older than the horizon are deleted; pass
    0 in tests or maintenance windows with no live writers.

    Txn-id replay protection SURVIVES retention: before deleting,
    vacuum folds all manifests' txn ids (expired AND retained — fold
    target is the head) into the log checkpoint, so a crashed writer
    replaying a vacuumed commit's txn id is still recognized as a
    no-op, and any txn at/below the fold is covered forever. The only
    uncovered case is a replay from deeper than TXN_DEDUP_HORIZON
    live commits AND above the last fold — vacuum (or
    ``write_checkpoint``) at least every TXN_DEDUP_HORIZON commits
    makes the guarantee total. What retention does bound is time
    travel and the change feed — versions whose manifests are gone
    cannot be read.
    """
    if retain_last < 1:
        raise ValueError("retain_last must keep at least the head version")
    versions = _list_versions(table)
    if not versions:
        return []
    keep_versions = versions[-retain_last:]
    live: set[str] = set()
    for v in keep_versions:
        manifest = _read_manifest(table, v)
        live.update(manifest["files"])
        # a retained merge's change-feed files are part of its
        # manifest's readable surface (read_changes serves from them)
        live.update(manifest.get("cdc_files", []))
    deleted = []
    data = _data_dir(table)
    cutoff = time.time() - min_age_seconds
    # NOTE: data-file deletion happens LAST (below, after manifest
    # expiry) — crash-ordering, review r12. Deleting data first left
    # a crash window where expired manifests still on disk named
    # already-deleted files, so a time-travel read died deep in the
    # scan with a bare missing-file error until the next vacuum.
    # With manifests expired first, every crash window is benign:
    # the worst outcome is unreferenced data files that the next
    # run's sweep (this same loop) deletes. A reader racing the
    # vacuum also improves: resolving an expiring version now hits
    # the clean no-manifest error instead of a mid-scan death.
    # Crash leftovers OUTSIDE data/ (review r08): a writer dying
    # inside _write_data_files leaves a whole _staging-* directory; a
    # publish dying before its finally leaves _log/.tmp-*.json. Both
    # are invisible to readers but leak disk forever if never swept —
    # same age guard, since a live writer may be mid-stage right now.
    import shutil

    for entry in os.listdir(table):
        if entry.startswith("_staging-"):
            path = os.path.join(table, entry)
            # age from the NEWEST mtime anywhere inside the staging
            # tree, not the directory's own (review r11): Spark sets
            # the top-level mtime at job start and a write running
            # longer than min_age_seconds would otherwise be
            # rmtree'd mid-job — the dir mtime measures job START,
            # the inner files measure last actual write activity
            try:
                newest = os.path.getmtime(path)
            except FileNotFoundError:
                # the writer COMPLETED between the listing and this
                # stat and removed its own staging dir (r12 threaded
                # stress) — nothing left to sweep
                continue
            for root, _dirs, files in os.walk(path):
                for f in files:
                    try:
                        newest = max(
                            newest,
                            os.path.getmtime(os.path.join(root, f)),
                        )
                    except FileNotFoundError:
                        # the writer is live and moving files right
                        # now — certainly not expired
                        newest = time.time()
                        break
            if newest <= cutoff:
                try:
                    shutil.rmtree(path)
                except FileNotFoundError:
                    # the writer completed and removed the tree
                    # between our stat and the rmtree — tolerate ONLY
                    # this; EACCES/read-only-mount failures must stay
                    # loud or the leak vacuum exists to prevent
                    # accumulates silently (review r12)
                    pass
    log = _log_dir(table)
    if os.path.isdir(log):
        for entry in os.listdir(log):
            if entry.startswith(".tmp-"):
                path = os.path.join(log, entry)
                try:
                    if os.path.getmtime(path) <= cutoff:
                        os.unlink(path)
                except FileNotFoundError:
                    # a racing _publish unlinked its own tmp manifest
                    # after the listing (r12 threaded stress) — done
                    continue
    expired = versions[:-retain_last]
    # Fold UNCONDITIONALLY (not only when something expired), BEFORE
    # deleting, and fold to HEAD (not just the expired prefix): the
    # expired manifests' txn ids (and with them sync_position's
    # consumer offsets) move into the checkpoint, so expiry never
    # weakens replay dedup — and a deep ``retain_last`` with no expiry
    # must still advance the fold, or a replay from deeper than
    # TXN_DEDUP_HORIZON retained-but-unfolded commits would go
    # unrecognized, breaking the "vacuum at least every
    # TXN_DEDUP_HORIZON commits makes the guarantee total" contract
    # (review r09/r10). write_checkpoint is incremental (mtime-cached
    # fold + only the manifests above it), so the no-op case is cheap.
    write_checkpoint(table, upto=versions[-1])
    for v in expired:
        # an expired version's damage marker (restore's lost-vacuum-
        # race caveat) is obsolete with its manifest: time travel to
        # it now fails with the standard no-manifest error. MANIFEST
        # first (review r12 #2, reversing the first r12 attempt): a
        # crash between the two unlinks then leaves an orphaned
        # MARKER — harmless, because files_for consults the manifest
        # before the marker (an expired version reports the standard
        # no-manifest error regardless) and the sweep below GCs it on
        # the next run. The opposite order's crash window destroyed
        # the damage record while the damaged manifest survived —
        # reintroducing the bare-scan-death state the markers exist
        # to prevent.
        os.unlink(_manifest_path(table, v))
        try:
            os.unlink(_damaged_marker_path(table, v))
        except FileNotFoundError:
            pass
    # Opportunistic sweep of markers already orphaned by a pre-fix
    # crash (or any marker whose manifest is gone for whatever
    # reason): with the manifest absent, the standard no-manifest
    # error is the truthful answer, not a damage report. Only
    # versions strictly BELOW the oldest retained manifest are
    # provably expired — a racing restore may have just marked a
    # fresh commit above the versions this vacuum listed, and that
    # marker must survive.
    oldest_kept = keep_versions[0]
    if os.path.isdir(log):
        for entry in os.listdir(log):
            m = re.match(r"_damaged-v(\d+)\.json$", entry)
            if m and int(m.group(1)) < oldest_kept:
                try:
                    os.unlink(os.path.join(log, entry))
                except FileNotFoundError:
                    pass
    # Data files last (crash-ordering note above): everything deleted
    # here is unreferenced by every manifest still on disk.
    if os.path.isdir(data):
        for name in sorted(os.listdir(data)):
            path = os.path.join(data, name)
            try:
                if (
                    name.endswith(".parquet")
                    and name not in live
                    and os.path.getmtime(path) <= cutoff
                ):
                    os.unlink(path)
                    deleted.append(name)
            except FileNotFoundError:
                # another maintenance run (outside the single-
                # maintainer convention, but the same listing-then-
                # stat race the staging and .tmp sweeps above stopped
                # relying on — ADVICE r12) unlinked this orphan
                # between the listing and the stat/unlink: the file
                # is gone either way, which is this sweep's goal
                continue
    return deleted
