"""Salted join / aggregation equivalence tests.

The salted forms must produce exactly the rows of their unsalted
equivalents — salting changes the physical distribution, never the
result.
"""

from __future__ import annotations

from pyspark.sql import Row, functions as F

from aws_weather_data_pipeline_spark.operators.skew import (
    salted_collect_list,
    salted_join,
)


def _skewed(spark, n=2000):
    # 90% of rows share one hot key.
    rows = [
        Row(id=i, k="hot" if i % 10 else f"cold{i}", v=float(i))
        for i in range(n)
    ]
    return spark.createDataFrame(rows)


def _dim(spark):
    rows = [Row(k="hot", label="H")] + [
        Row(k=f"cold{i}", label=f"C{i}") for i in range(0, 2000, 10)
    ]
    return spark.createDataFrame(rows)


def test_salted_join_equals_plain_inner(spark):
    probe, build = _skewed(spark), _dim(spark)
    plain = probe.join(build, "k").select("id", "k", "v", "label")
    salted = salted_join(
        probe, build, "k", n_salts=8, salt_from="id"
    ).select("id", "k", "v", "label")
    assert sorted(map(tuple, salted.collect())) == sorted(
        map(tuple, plain.collect())
    )


def test_salted_join_left_keeps_unmatched(spark):
    probe = _skewed(spark, 100)
    build = _dim(spark).filter(F.col("k") != "hot")  # hot is unmatched
    plain = probe.join(build, "k", "left").select("id", "k", "label")
    salted = salted_join(
        probe, build, "k", n_salts=4, salt_from="id", how="left"
    ).select("id", "k", "label")
    assert sorted(
        map(tuple, salted.fillna("∅").collect())
    ) == sorted(map(tuple, plain.fillna("∅").collect()))


def test_salted_collect_list_equals_plain(spark):
    df = _skewed(spark, 500)
    plain = df.groupBy("k").agg(
        F.array_sort(F.collect_list("v")).alias("values")
    )
    salted = salted_collect_list(df, "k", "v", n_salts=8, salt_from="id")
    got = {r["k"]: r["values"] for r in salted.collect()}
    want = {r["k"]: r["values"] for r in plain.collect()}
    assert got == want
    assert len(got["hot"]) == 450  # the hot key really is hot


def test_salting_refuses_preexisting_salt_column(spark):
    """Review r11: a user '_salt' column was silently overwritten and
    then dropped from the output; the operators must refuse it."""
    import pytest

    from aws_weather_data_pipeline_spark.operators.skew import (
        salted_collect_list,
        salted_join,
    )

    probe = spark.createDataFrame(
        [(1, "x", 0)], "k int, v string, _salt int"
    )
    build = spark.createDataFrame([(1, "d")], "k int, d string")
    with pytest.raises(ValueError, match="_salt"):
        salted_join(probe, build, "k", salt_from="v")
    with pytest.raises(ValueError, match="_salt"):
        salted_join(build, probe, "k", salt_from="d")
    with pytest.raises(ValueError, match="_salt"):
        salted_collect_list(probe, "k", "v", salt_from="v")


def test_salting_refuses_non_positive_n_salts(spark):
    """``pmod(hash, n)`` with n < 1 gives salts the build side never
    carries (an inner join drops probe rows, a left join loses their
    match) or a remainder-by-zero inside a task: refuse up front."""
    import pytest

    probe = spark.createDataFrame(
        [(1, 10), (1, 11), (2, 12)], "k int, id int"
    )
    build = spark.createDataFrame([(1, "a"), (2, "b")], "k int, v string")
    for n in (0, -2):
        for how in ("inner", "left"):
            with pytest.raises(ValueError, match="n_salts"):
                salted_join(
                    probe, build, "k", n_salts=n, salt_from="id", how=how
                )
        with pytest.raises(ValueError, match="n_salts"):
            salted_collect_list(probe, "k", "id", n_salts=n, salt_from="id")
    # n_salts=1 is the unsalted plan and stays allowed
    one = salted_join(probe, build, "k", n_salts=1, salt_from="id")
    assert one.count() == 3
