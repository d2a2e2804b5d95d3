"""Z-order (Morton) data layout: multi-dimensional clustering of writes.

A 100 TB table is pruned, not scanned: partition columns prune whole
directories, and within a file the parquet min/max column statistics
prune row groups. Sorting the write by ONE column makes that column's
min/max ranges tight and every other column's ranges useless. Z-order
interleaves the bits of several columns into a single sort key, so a
range of Morton codes is a small axis-aligned TILE in the
multi-dimensional key space — every interleaved column gets tight
min/max ranges at once, and a selective filter on ANY of them skips
most files (the layout strategy behind Delta/Iceberg ``ZORDER BY``).

Everything here is exact integer bit arithmetic built from
``shiftleft``/``shiftright``/``&`` — native Column expressions inside
whole-stage codegen, no UDFs — and the DuckDB twin renders the same
terms with ``>>``/``<<`` operators, so Morton codes are engine-exact.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

#: Bits interleaved per dimension. 2×16 bits stays far inside int64.
MAX_BITS = 16


def _saturated(col: str, bits: int) -> str:
    """Clamp ``col`` into the representable [0, 2^bits) window as a
    BIGINT expression. Two review-r11 bugs live behind this: (1) on
    IntegerType inputs shiftleft at position >= 31 lands on the int32
    sign bit and the code goes NEGATIVE (confirmed: a=b=40000 at
    bits=16 produced -1007669248), scrambling the range partitioner;
    (2) values outside the window used to alias onto the low bits
    (v and v+2^bits shared a code), silently breaking the per-file
    tile contract. Saturation is monotone, so out-of-range values
    collapse into the edge tiles instead of aliasing across the whole
    space — and the clamp doubles as the int64 cast."""
    hi = (1 << bits) - 1
    return (
        f"greatest(0L, least(cast({col} as bigint), {hi}L))"
    )


def morton_expr_spark(a: str, b: str, bits: int) -> str:
    """Spark SQL text interleaving ``bits`` low bits of ``a`` and ``b``.

    Bit i of ``a`` lands at position 2i, bit i of ``b`` at 2i+1; the
    terms occupy disjoint bit positions so ``+`` is exactly ``|`` —
    and ``+`` keeps the expression a plain associative sum the
    optimizer constant-folds around. Operands are clamped into
    [0, 2^bits) as BIGINT first (see ``_saturated``).
    """
    if not 1 <= bits <= MAX_BITS:
        raise ValueError(f"bits must be in [1, {MAX_BITS}]: {bits}")
    sa, sb = _saturated(a, bits), _saturated(b, bits)
    terms = []
    for i in range(bits):
        terms.append(f"shiftleft(shiftright({sa}, {i}) & 1, {2 * i})")
        terms.append(
            f"shiftleft(shiftright({sb}, {i}) & 1, {2 * i + 1})"
        )
    return "(" + " + ".join(terms) + ")"


def morton_expr_duckdb(a: str, b: str, bits: int) -> str:
    """The identical interleave (and clamp) as DuckDB syntax."""
    if not 1 <= bits <= MAX_BITS:
        raise ValueError(f"bits must be in [1, {MAX_BITS}]: {bits}")
    hi = (1 << bits) - 1
    sa = f"greatest(0, least(CAST({a} AS BIGINT), {hi}))"
    sb = f"greatest(0, least(CAST({b} AS BIGINT), {hi}))"
    terms = []
    for i in range(bits):
        terms.append(f"((({sa} >> {i}) & 1) << {2 * i})")
        terms.append(f"((({sb} >> {i}) & 1) << {2 * i + 1})")
    return "(" + " + ".join(terms) + ")"


def morton_code(a: int, b: int, bits: int) -> int:
    """Python reference interleave (property tests compare against it).
    Mirrors the engines' saturating clamp."""
    hi = (1 << bits) - 1
    a, b = max(0, min(a, hi)), max(0, min(b, hi))
    z = 0
    for i in range(bits):
        z |= ((a >> i) & 1) << (2 * i)
        z |= ((b >> i) & 1) << (2 * i + 1)
    return z


def zorder_repartition(
    df: DataFrame, a: str, b: str, bits: int, num_files: int
) -> DataFrame:
    """Lay ``df`` out for writing so both ``a`` and ``b`` prune well.

    ``repartitionByRange`` on the Morton code range-partitions rows
    into ``num_files`` contiguous code ranges (one output file each
    after a per-partition sort), so every file's parquet min/max
    footer covers a small tile in (a, b) space. This is the write-side
    operator; ``plans/layout.py``'s audit query measures the resulting
    per-tile spans. At 100 TB the range boundaries come from Spark's
    reservoir sampling of the code column — no global sort, one
    shuffle, same cost as any repartition.
    """
    code = F.expr(morton_expr_spark(a, b, bits))
    return (
        df.withColumn("__zcode", code)
        .repartitionByRange(num_files, "__zcode")
        .sortWithinPartitions("__zcode")
        .drop("__zcode")
    )
