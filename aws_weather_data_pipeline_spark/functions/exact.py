"""Exact (order-independent) aggregation and vector arithmetic.

Summing IEEE doubles is not associative: Spark's partial/final hash
aggregate and DuckDB's parallel aggregate can legally produce different
last-ulp results, which breaks hash-exact oracle comparison AND makes
Spark's own results run-to-run nondeterministic at scale. The fix is the
classic warehouse one (TPC-H itself specifies DECIMAL): cast measures to
DECIMAL before aggregating — decimal addition is exact, hence
order-independent — and cast back to DOUBLE at the serving boundary.

At 100 TB this costs a few % CPU in the aggregate versus raw double
sums, stays entirely inside whole-stage codegen, and buys deterministic,
reproducible results across any cluster size / partitioning.

Embedding vectors take the same route through integers: ``quantized``
scales and floors each component, and ``sq_norm``, ``int_dot`` and
``int_sq_dist`` are then exact int64 sums. Every kNN, ANN, PQ, k-means
and SemDeDup stage reads them from here, mirroring the oracles'
``list_transform`` SQL.
"""

from __future__ import annotations

from pyspark.sql import Column, functions as F


def dec(col: Column | str) -> Column:
    """Cast a (double) column to an exact DECIMAL(18, 2)."""
    c = F.col(col) if isinstance(col, str) else col
    return c.cast("decimal(18,2)")


def dsum(col: Column | str) -> Column:
    """Order-independent SUM of a double column, returned as double."""
    return F.sum(dec(col)).cast("double")


def davg(col: Column | str) -> Column:
    """Order-independent AVG as exact-sum / count, returned as double.

    Written as SUM/COUNT (not F.avg) because Spark's decimal AVG widens
    scale by 4 with HALF_UP while DuckDB's decimal AVG returns double —
    this form is the one both engines agree on bit-for-bit.
    """
    c = F.col(col) if isinstance(col, str) else col
    return F.sum(dec(c)).cast("double") / F.count(c)


def cnt_when(pred: Column) -> Column:
    """Conditional count as SUM(CASE WHEN pred THEN 1 ELSE 0 END).

    The CASE-sum form (not count(when(...))) is the one whose
    null-handling matches the SQL oracles' SUM(CASE...) exactly; ONE
    definition so the convention can't drift between modules.
    """
    return F.sum(F.when(pred, 1).otherwise(0))


#: Embedding components are scaled by this and floored to integers
#: (float→double is exact, so both engines quantize identically); dot
#: products, norms and squared distances are then exact int64 sums,
#: valid in any summation order.
QUANT_SCALE = 1000


def quantized() -> Column:
    """The ``embedding`` column scalar-quantized to an integer array."""
    return F.transform(
        "embedding", lambda x: F.floor(x.cast("double") * QUANT_SCALE)
    )


def _int_sum(v: Column | str, term) -> Column:
    return F.aggregate(
        v, F.lit(0).cast("long"), lambda acc, x: acc + term(x)
    )


def sq_norm(v: Column | str) -> Column:
    """Exact squared norm of a quantized vector."""
    return _int_sum(v, lambda x: x * x)


def int_dot(a: Column | str, b: Column | str) -> Column:
    """Exact dot product of two quantized vectors."""
    return _int_sum(F.zip_with(a, b, lambda x, y: x * y), lambda x: x)


def int_sq_dist(a: Column | str, b: Column | str) -> Column:
    """Exact squared L2 distance between two quantized vectors."""
    return _int_sum(
        F.zip_with(a, b, lambda x, y: (x - y) * (x - y)), lambda x: x
    )
