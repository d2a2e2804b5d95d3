"""Z-order layout: interleave correctness and tile-span guarantees.

The audit query's tile table is hash-checked against DuckDB in
test_catalog_oracle; these tests cover the layout PROPERTIES the
oracle can't express — that the Spark expression implements the
Morton interleave exactly, that every audit tile is axis-bounded in
both dimensions (the file-skipping property), and that the write-side
``zorder_repartition`` actually produces partitions whose per-file
min/max ranges beat a single-column sort's in the second dimension.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from aws_weather_data_pipeline_spark.operators.layout import (
    morton_code,
    morton_expr_spark,
    zorder_repartition,
)
from aws_weather_data_pipeline_spark.plans.layout import (
    ZORDER_TILE_BITS,
    zorder_layout_audit,
)


def test_spark_interleave_matches_python_reference(spark):
    pairs = [(a, b) for a in (0, 1, 5, 170, 255) for b in (0, 3, 85, 200, 255)]
    df = spark.createDataFrame(pairs, "x BIGINT, y BIGINT").withColumn(
        "z", F.expr(morton_expr_spark("x", "y", 8))
    )
    for r in df.collect():
        assert r["z"] == morton_code(r["x"], r["y"], 8), (r["x"], r["y"])


def test_audit_tiles_are_axis_bounded_both_dims(spark, sf_dir):
    edge = (1 << (ZORDER_TILE_BITS // 2)) - 1  # 16-wide tile => span <= 15
    rows = zorder_layout_audit(spark, sf_dir).collect()
    assert rows
    for r in rows:
        assert r["x_max"] - r["x_min"] <= edge, dict(r.asDict())
        assert r["y_max"] - r["y_min"] <= edge, dict(r.asDict())


def test_zorder_repartition_tightens_second_dimension(spark, sf_dir):
    """Per-output-partition spans: under a ts-sorted layout the user
    dimension is full-width in every file; under Z-order both
    dimensions stay narrow. Compare mean x-span across 16 partitions.
    """
    from aws_weather_data_pipeline_spark.sources.tables import load_tables

    ev = load_tables(spark, sf_dir, ("events",))["events"].select(
        F.expr("cast(user_id % 256 as bigint)").alias("x"),
        F.expr(
            "cast(((dayofmonth(ts) - 1) * 24 + hour(ts)) % 256 as bigint)"
        ).alias("y"),
    )

    def mean_x_span(df):
        spans = (
            df.withColumn("pid", F.spark_partition_id())
            .groupBy("pid")
            .agg((F.max("x") - F.min("x")).alias("s"))
            .collect()
        )
        return sum(r["s"] for r in spans) / len(spans)

    naive = ev.repartitionByRange(64, "y")  # time-sorted layout
    zed = zorder_repartition(ev, "x", "y", 8, 64)
    naive_span, z_span = mean_x_span(naive), mean_x_span(zed)
    # ts-sorted files see nearly every user bucket; z-ordered files a
    # narrow band of them (64 files ≈ 4-tile code ranges ⇒ ~2×2 tile
    # blocks, x-span ≈ 32 vs the naive layout's ~149).
    assert z_span < naive_span / 2, (z_span, naive_span)


def test_morton_roundtrip_property(spark):
    """Over the full 8-bit grid the Spark interleave is a bijection
    onto [0, 2^16): no two (a, b) share a code and no code is out of
    range."""
    df = (
        spark.range(0, 1 << 16)
        .select(
            F.expr("id % 256").alias("x"),
            F.expr("id div 256").alias("y"),
        )
        .withColumn("z", F.expr(morton_expr_spark("x", "y", 8)))
    )
    assert df.filter("z < 0 OR z >= 65536").count() == 0
    assert df.select("z").distinct().count() == 1 << 16


def test_morton_saturates_out_of_range_and_int32_inputs(spark):
    """Review r11 (confirmed live): IntegerType operands at bits=16
    overflowed the int32 sign bit (a=b=40000 coded NEGATIVE), and
    values outside [0, 2^bits) aliased onto the low bits. The
    saturating BIGINT clamp fixes both: codes are non-negative,
    monotone, match the python reference, and out-of-range values
    collapse into the edge tile instead of aliasing across the
    space."""
    import duckdb

    from aws_weather_data_pipeline_spark.operators.layout import (
        morton_expr_duckdb,
    )

    pairs = [
        (40000, 40000), (65535, 0), (65536, 1), (1 << 40, 2),
        (-7, 3), (5, 65541), (123, 456),
    ]
    df = spark.createDataFrame(pairs, "x INT" if False else "x BIGINT, y BIGINT")
    out = {
        (r.x, r.y): r.z
        for r in df.withColumn(
            "z", F.expr(morton_expr_spark("x", "y", 16))
        ).collect()
    }
    con = duckdb.connect()
    for (a, b), z in out.items():
        assert z >= 0, (a, b, z)
        assert z == morton_code(a, b, 16), (a, b)
        (dz,) = con.execute(
            f"SELECT {morton_expr_duckdb(str(a), str(b), 16)}"
        ).fetchone()
        assert dz == z, (a, b, dz, z)
    # int32 INPUT type specifically (the confirmed overflow)
    i32 = spark.createDataFrame([(40000, 40000)], "x INT, y INT")
    r = i32.withColumn("z", F.expr(morton_expr_spark("x", "y", 16))).first()
    assert r.z == morton_code(40000, 40000, 16) > 0
    # saturation keeps order: larger value never codes below smaller
    assert out[(65536, 1)] == morton_code(65535, 1, 16)
    assert out[(5, 65541)] == morton_code(5, 65535, 16)
    assert out[(-7, 3)] == morton_code(0, 3, 16)
