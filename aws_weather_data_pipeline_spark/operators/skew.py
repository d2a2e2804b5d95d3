"""Skew-handling join/aggregation utilities.

AQE's skew-join splitting (enabled in session.py) covers sort-merge
joins at runtime, but two shapes still need manual salting at the
100 TB design point:

- **Hot-key equi-joins where the build side must replicate.** AQE can
  split an oversized partition of the probe side, but when one key is
  so hot that a single key's rows exceed a partition, the classic fix
  is salting: probe rows get a random-but-deterministic salt in
  [0, n), build rows replicate n times, and the join key becomes
  (key, salt) — the hot key's rows spread over n reducers.
- **Per-key aggregations without partial-aggregation collapse**
  (collect_list, exact percentiles): two-stage salted aggregation.

Both helpers are deterministic (salt = pmod(hash(tiebreak_col), n), not
rand()) so results are reproducible and retry-stable — a task retry
re-derives the same salt, where rand() would re-shuffle rows between
salts mid-job.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, functions as F


def _check_salt_free(df: DataFrame, side: str) -> None:
    """A pre-existing ``_salt`` column would be silently overwritten
    by the internal salt and then dropped from the output — destroying
    user data and breaking the 'semantics identical to a plain join'
    contract (review r11). Refuse loudly; the caller renames."""
    if "_salt" in df.columns:
        raise ValueError(
            f"the {side} frame already has a '_salt' column, which "
            "the salting operators use internally — rename it first"
        )


def _check_n_salts(n_salts: int) -> None:
    """Salts are ``pmod(hash, n_salts)``: a non-positive ``n_salts``
    gives probe salts the replicated build side does not carry (an
    inner join drops probe rows, a left join nulls their match) or a
    division by zero inside a task."""
    if n_salts < 1:
        raise ValueError(f"n_salts must be >= 1, got {n_salts}")


def salted_join(
    probe: DataFrame,
    build: DataFrame,
    key: str,
    n_salts: int = 8,
    salt_from: str | Column | None = None,
    how: str = "inner",
) -> DataFrame:
    """Equi-join with the probe side salted and the build side replicated.

    ``salt_from`` must be a probe-side column with per-row variation
    (a unique id is ideal); the salt is ``pmod(hash(salt_from), n)``.
    The build side explodes ×``n_salts`` — use only when the build side
    is small relative to the skew being fixed (the usual case: a
    dimension keyed by a hot fact key).

    Semantics identical to ``probe.join(build, key, how)`` for inner
    and left joins; asserted in tests/test_skew.py.
    """
    if salt_from is None:
        raise ValueError("salt_from (a varying probe column) is required")
    if how not in ("inner", "left", "left_outer", "leftouter"):
        # Right/full/semi/anti see the REPLICATED build side as data:
        # an unmatched build row would emit n_salts copies. Reject
        # rather than silently multiply.
        raise ValueError(
            f"salted_join supports inner/left joins only, got {how!r}"
        )
    _check_n_salts(n_salts)
    _check_salt_free(probe, "probe")
    _check_salt_free(build, "build")
    salt_col = (
        F.col(salt_from) if isinstance(salt_from, str) else salt_from
    )
    p = probe.withColumn("_salt", F.pmod(F.hash(salt_col), F.lit(n_salts)))
    b = build.withColumn(
        "_salt",
        F.explode(F.sequence(F.lit(0), F.lit(n_salts - 1))),
    )
    return p.join(b, on=[key, "_salt"], how=how).drop("_salt")


def salted_collect_list(
    df: DataFrame,
    key: str,
    value: str,
    n_salts: int = 8,
    salt_from: str | Column | None = None,
) -> DataFrame:
    """Two-stage collect_list: per-(key, salt) partials, then merge.

    ``collect_list`` has no map-side partial aggregation, so a hot key
    funnels every row through one reducer. Stage 1 collects per
    (key, salt); stage 2 flattens the ≤ n_salts partial lists. The
    merged list is sorted for determinism (collect order is not).
    Output: ``key, values(array, sorted)``.
    """
    if salt_from is None:
        raise ValueError("salt_from (a varying column) is required")
    _check_n_salts(n_salts)
    _check_salt_free(df, "input")
    salt_col = (
        F.col(salt_from) if isinstance(salt_from, str) else salt_from
    )
    staged = (
        df.withColumn("_salt", F.pmod(F.hash(salt_col), F.lit(n_salts)))
        .groupBy(key, "_salt")
        .agg(F.collect_list(value).alias("_partial"))
    )
    return staged.groupBy(key).agg(
        F.array_sort(
            F.flatten(F.collect_list("_partial"))
        ).alias("values")
    )
