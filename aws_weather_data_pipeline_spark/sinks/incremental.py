"""Incremental aggregate maintenance over a table-log change feed.

The materialized-view-maintenance pattern a 100 TB pipeline needs:
a downstream per-group aggregate (counts + sums) kept current by
aggregating each batch's DELTA and folding it into the aggregate
table — never recomputing GROUP BY over the whole source. The source
is a manifest-committed table log (``sinks/tablelog.py``); deltas
come from its change feed, so a batch costs O(new rows) + one
rewrite of the (group-cardinality-sized) aggregate table, while the
naive recompute costs O(source) per refresh — the difference between
an always-fresh dashboard table and a nightly full scan at scale.

Semantics and their limits, stated honestly:

- INSERT-ONLY sources. Counts and sums are self-maintainable under
  inserts alone. Updates/deletes would need before-images the change
  feed does not record (a ``merge`` CDC row carries the new values,
  not the replaced ones), so rewrite commits in the range are
  REFUSED loudly — the same declaration-verification contract as
  ``sync_changes(keys=None)``.
- Exactly-once via the destination log: the consumer position is
  encoded in the destination commit's txn id
  (``agg-sync:<source key>:<src version>``, the source key a stable
  hash of the source path), committed atomically WITH the folded
  aggregate, so a crashed or retried maintainer resumes from the
  destination alone and a replayed batch is a no-op. The SOURCE is
  part of the id (review r13): with bare versions, two sources
  folding into one destination aliased each other's positions —
  src_B silently stalled (its head below src_A's position) or
  silently skipped its prefix. Qualified ids give each source its
  own recovered position, making multi-source fan-in well-defined
  (each source's inserts add into the shared aggregate). The
  source's REALPATH is part of the aggregate's identity
  (``tablelog.source_key``): a source with no position against a
  destination that already has agg-sync commits is refused (see
  ``sync_aggregate``).
- Single maintainer per (src, dst) pair — ENFORCED, not assumed
  (review r10): the fold is a read-modify-write, so each overwrite
  carries ``require_head`` (the destination head the snapshot was
  read at) and each bootstrap append carries ``require_head=-1``;
  a racing maintainer loses with CommitConflict instead of silently
  dropping the other's fold, and a retry re-reads the position and
  folds exactly once. Concurrent SOURCE writers are fine (they only
  move the head the next batch will cover).

Reference parity: the reference maintains its Postgres serving
aggregates by re-running full INSERT ... SELECT loads with ON
CONFLICT upserts (airflow/src/load_to_postgres.py) — an O(source)
refresh. This is the log-structured, O(delta) form.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from . import tablelog

#: txn-id namespace for aggregate-maintenance commits; the source
#: key and the source version the batch covered ride after the
#: colons (the same destination-recoverable-offset scheme as
#: tablelog.sync_changes, source-qualified per the module note).
AGG_TXN_PREFIX = "agg-sync"

#: Reserved name of the per-group row count in the aggregate table.
COUNT_COL = "n_rows"


def aggregate_position(
    dst_table: str,
    src_table: str | None = None,
    upto: int | None = None,
) -> int:
    """Last source version folded into ``dst_table``, or -1 if never.

    With ``src_table`` the walk matches only that source's
    (qualified) fold commits — the multi-source contract. Without it,
    the walk matches ANY fold commit (every qualified id still
    carries the version as its last ':'-field), which is only
    meaningful for single-source destinations — the audit/test
    convenience, not the consumer path.

    Same recovery contract as ``tablelog.sync_position`` (shared
    walk: newest live manifest first, then the checkpoint fold), so
    there is no external cursor to lose. ``upto`` bounds the walk to
    manifests <= that version — ``sync_aggregate`` reads the
    destination HEAD first and derives the position from that same
    snapshot, so a competing fold committing between the two reads
    cannot pair a stale position with a CAS target that already
    covers its commit (review r10: position-before-head read order
    let exactly that interleave double-fold an overlapping range)."""
    prefix = (
        f"{AGG_TXN_PREFIX}:{tablelog.source_key(src_table)}"
        if src_table is not None
        else AGG_TXN_PREFIX
    )
    return tablelog.txn_position(dst_table, prefix, upto)


def _delta_agg(
    changes: DataFrame,
    group_cols: list[str],
    sum_cols: list[str],
    min_cols: list[str],
    max_cols: list[str],
    count_cols: list[str],
    sum_scale: int,
) -> DataFrame:
    # sums at decimal(38, sum_scale), precision 38 = Spark's maximum
    # (review r10: at the old 28,2 a 26-integer-digit accumulated sum
    # overflowed the cast-back to NULL under non-ANSI SQL, and the
    # NEXT fold's F.sum silently ignored the NULL — resetting the
    # group's history to just the new delta; at precision 38 F.sum
    # cannot widen further, the cast is a type pin, and overflow
    # needs 10^(38-scale) — unreachable). The bootstrap commit writes
    # this frame directly, so the schema must not change width
    # between version 0 and later folds (review r09). MIN/MAX keep
    # the source column type (no widening).
    dec = f"decimal(38,{sum_scale})"
    aggs = (
        [F.count(F.lit(1)).cast("bigint").alias(COUNT_COL)]
        + [
            F.sum(F.col(c).cast(dec)).cast(dec).alias(f"sum_{c}")
            for c in sum_cols
        ]
        + [F.min(c).alias(f"min_{c}") for c in min_cols]
        + [F.max(c).alias(f"max_{c}") for c in max_cols]
        # non-null counts: COUNT(col) ignores NULLs, and counts fold
        # additively under insert-only like n_rows — the denominator
        # a correct AVG over a NULLABLE measure needs (review r13)
        + [
            F.count(F.col(c)).cast("bigint").alias(f"cnt_{c}")
            for c in count_cols
        ]
    )
    return changes.groupBy(*group_cols).agg(*aggs)


def sync_aggregate(
    spark: SparkSession,
    src_table: str,
    dst_table: str,
    group_cols: list[str],
    sum_cols: list[str] | None = None,
    min_cols: list[str] | None = None,
    max_cols: list[str] | None = None,
    count_cols: list[str] | None = None,
    sum_scale: int = 2,
    allow_new_source: bool = False,
) -> int | None:
    """Fold the source's next change-feed batch into the per-group
    aggregate table ``dst_table``. Returns the destination version
    committed, or None when the source has nothing new.

    A source with no recorded fold position against a destination
    that already has agg-sync commits is REFUSED unless
    ``allow_new_source=True``: that -1 almost always means the SAME
    source under a different identity — a moved or re-mounted source
    path — and folding would re-apply the whole 0..head history,
    double-counting every sum/count with no error. Re-record the
    position with ``tablelog.migrate_consumer_position(...,
    prefix=AGG_TXN_PREFIX)``; reserve the flag for genuine
    multi-source fan-in onboarding.

    The destination schema is ``group_cols + [n_rows] + [sum_<c>] +
    [min_<c>] + [max_<c>] + [cnt_<c>]`` with sums as
    DECIMAL(38, sum_scale) — decimal addition is exact and
    order-independent, so the folded table is bit-identical to a
    from-scratch GROUP BY of the source snapshot USING THE SAME
    PER-VALUE CAST regardless of how the commits were batched (the
    convergence property the tests pin). The cast quantizes each
    source value to ``sum_scale`` decimal places BEFORE summing
    (review r13): a source whose increments are finer than the scale
    (e.g. 0.004 at the default 2) rounds per value — raise
    ``sum_scale`` to the source's actual scale; it is part of the
    aggregate's definition and changing it on an existing table
    requires a recompute, like any other definition change. MIN/MAX
    are foldable for the same reason counts and sums are: the
    INSERT-ONLY contract — a delete could retract the current
    extremum, which no fold can recover without the full history,
    but inserts only ever improve it (min of mins / max of maxes is
    exact). AVG = sum_<c>/n_rows ONLY for measures with no NULLs;
    SQL AVG ignores NULLs while n_rows counts every row, so for a
    nullable measure list it in ``count_cols`` and divide by its
    non-null ``cnt_<c>`` instead (review r13).

    Plan shape per batch: the delta aggregation is a partial-agg
    shuffle over O(batch) rows; the fold unions the
    group-cardinality-sized destination with the delta and
    re-aggregates — one partial-agg hash shuffle, no join — committed
    as one atomic overwrite. The source is never rescanned.
    """
    sum_cols = list(sum_cols or [])
    min_cols = list(min_cols or [])
    max_cols = list(max_cols or [])
    count_cols = list(count_cols or [])
    measure_cols = (
        [COUNT_COL]
        + [f"sum_{c}" for c in sum_cols]
        + [f"min_{c}" for c in min_cols]
        + [f"max_{c}" for c in max_cols]
        + [f"cnt_{c}" for c in count_cols]
    )
    # Loud, upfront name validation (review r13): a group column
    # named n_rows, a duplicate list entry, or a sum_/min_/max_/cnt_
    # collision used to die deep inside the bootstrap write as
    # Spark's opaque duplicate-column AnalysisException — AFTER the
    # verification and feed reads already ran.
    out_cols = list(group_cols) + measure_cols
    dupes = sorted({c for c in out_cols if out_cols.count(c) > 1})
    if dupes:
        raise ValueError(
            f"aggregate output columns collide: {dupes} (group_cols, "
            f"the reserved {COUNT_COL!r}, and the generated "
            "sum_/min_/max_/cnt_ names must all be distinct)"
        )
    # Destination head FIRST, then the position derived only from
    # manifests <= that head — one consistent snapshot, the
    # sync_changes shape (review r10: reading the position before the
    # head let a fold committed between the two reads pass the CAS
    # with a stale position, double-folding the overlapping range;
    # with head-first reads that racer either lands before the
    # snapshot — and its fold is IN the position — or after it, and
    # the CAS below fails this worker into a clean retry).
    dst_head = tablelog.latest_version(dst_table)
    position = aggregate_position(dst_table, src_table, upto=dst_head)
    head = tablelog.latest_version(src_table)
    tablelog.require_position_within_head(src_table, position, head)
    if head is None or head == position:
        return None
    # never-seen source vs a destination with existing fold history:
    # refuse before any data moves (docstring; shared check)
    tablelog.require_known_source(
        dst_table, AGG_TXN_PREFIX, position, dst_head,
        src_table, allow_new_source,
    )
    # Feed FIRST, then the insert-only declaration check — the
    # sync_changes order (review r13): read_changes owns the named
    # behind-retention error, and verify_insert_only's raw manifest
    # walk would otherwise hit the bare no-manifest error first,
    # presenting a routine lagging-consumer incident as corruption.
    # Nothing moves before the verify either way: both run before
    # the fold is computed or committed.
    changes = tablelog.read_changes(spark, src_table, position, head)
    if changes is None:  # only compactions landed
        return None
    # insert-only declaration (the shared check — counts/sums cannot
    # be maintained without before-images; recompute the aggregate
    # for rewritten sources)
    tablelog.verify_insert_only(src_table, position, head)
    delta = _delta_agg(
        changes.drop("_change_type", "_commit_version"),
        group_cols,
        sum_cols,
        min_cols,
        max_cols,
        count_cols,
        sum_scale,
    )
    txn = f"{AGG_TXN_PREFIX}:{tablelog.source_key(src_table)}:{head}"
    # Compare-and-set on the destination head read ABOVE (the same
    # snapshot the position came from — review r10): the fold is a
    # read-modify-write, and two concurrent maintainers at DIFFERENT
    # source heads carry distinct txn ids, so replay dedup alone
    # cannot catch the interleave — without the CAS the second
    # overwrite would silently discard the first fold, and without
    # the head-first read order a fold landing between the position
    # read and the head read would pass the CAS with a stale
    # position. require_head turns both into CommitConflict; the
    # retry re-reads position and head, so the surviving maintainer
    # folds the union exactly once. (Same shape as sync_changes.)
    if dst_head is None:
        return tablelog.append(delta, dst_table, txn_id=txn, require_head=-1)
    # pinned to the SAME head the CAS below checks (review r10): an
    # unpinned read could see a competing fold's newer snapshot and
    # then pay the whole union+re-aggregate+data write only to lose
    # the guaranteed CommitConflict — correctness comes from the CAS,
    # but the read must match the snapshot the fold claims to extend
    current = tablelog.read_snapshot(spark, dst_table, version=dst_head)
    # The maintained table IS the aggregate definition (review r13):
    # a drifted caller — a dropped sum column, a narrower group key —
    # would silently erase accumulated history through overwrite's
    # fresh-schema escape hatch. Refuse loudly instead; changing the
    # definition means recomputing the aggregate.
    if set(current.columns) != set(out_cols):
        extra = sorted(set(current.columns) - set(out_cols))
        missing = sorted(set(out_cols) - set(current.columns))
        raise ValueError(
            f"aggregate definition drift on {dst_table}: the "
            f"maintained table has columns {sorted(current.columns)} "
            f"but this call would produce {sorted(out_cols)} "
            f"(missing={missing}, extra={extra}) — recompute the "
            "aggregate to change its definition"
        )
    # TYPES are part of the definition too (ADVICE r13): a call with
    # a different sum_scale passes the name check, and the union
    # below would coerce mixed decimal scales while the accumulated
    # history stays quantized at the old scale — silently breaking
    # the bit-identical convergence contract. The delta frame carries
    # exactly the schema this call's definition produces (sums at
    # decimal(38, sum_scale), counts bigint, min/max at source
    # types), so compare against it. dtypes, not schema: nullability
    # is not part of the definition.
    cur_types, exp_types = dict(current.dtypes), dict(delta.dtypes)
    mismatched = {
        c: (cur_types[c], exp_types[c])
        for c in out_cols
        if cur_types[c] != exp_types[c]
    }
    if mismatched:
        raise ValueError(
            f"aggregate definition drift on {dst_table}: column "
            f"types differ from the maintained table "
            f"(column: (stored, this call)) {mismatched} — a changed "
            "sum_scale or source column type requires recomputing "
            "the aggregate"
        )
    # Fold = union + re-aggregate, NOT a join (review r10: the old
    # full-outer join could never broadcast — Spark rejects the hint
    # for full outer — so it silently ran as a sort-merge join; the
    # union re-aggregate is one partial-agg hash shuffle over
    # |aggregate| + |delta| rows, the plan a 100 TB fold wants). The
    # semantics fall out of SUM itself: NULL group keys collapse to
    # one group (no null-safe-join condition needed), an all-NULL
    # sum stays NULL (SUM over NULLs is NULL — coalescing to 0 would
    # diverge from the from-scratch GROUP BY the convergence contract
    # promises), and a NULL side against a value adds as SUM's
    # ignore-NULLs. Sums cast back to the declared decimal scale
    # (SUM widens by 10 digits; the table schema must stay stable).
    combined = (
        current.select(*group_cols, *measure_cols)
        .unionByName(delta)
        .groupBy(*group_cols)
        .agg(
            F.sum(COUNT_COL).cast("bigint").alias(COUNT_COL),
            *[
                F.sum(f"sum_{c}")
                .cast(f"decimal(38,{sum_scale})")
                .alias(f"sum_{c}")
                for c in sum_cols
            ],
            *[
                F.min(f"min_{c}").alias(f"min_{c}")
                for c in min_cols
            ],
            *[
                F.max(f"max_{c}").alias(f"max_{c}")
                for c in max_cols
            ],
            *[
                F.sum(f"cnt_{c}").cast("bigint").alias(f"cnt_{c}")
                for c in count_cols
            ],
        )
    )
    return tablelog.overwrite(
        combined, dst_table, txn_id=txn, require_head=dst_head
    )
