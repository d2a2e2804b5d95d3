"""HyperLogLog sketch: mergeability and estimate accuracy.

The catalog query's register table is hash-checked against DuckDB in
test_catalog_oracle; these tests cover the two properties the oracle
can't express — that register tables merge associatively (the whole
point of a sketch at 100 TB) and that the derived estimate tracks the
exact distinct count within HLL's theoretical error.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from aws_weather_data_pipeline_spark.plans.sketch import (
    HLL_M,
    _hll_registers,
    hll_estimate,
)
from aws_weather_data_pipeline_spark.sources.tables import load_tables


def _events(spark, sf_dir):
    return load_tables(spark, sf_dir, ("events",))["events"]


def test_register_tables_merge_by_elementwise_max(spark, sf_dir):
    ev = _events(spark, sf_dir)
    whole = {
        (r["event_type"], r["bucket"]): r["max_rho"]
        for r in _hll_registers(ev, "event_type", "user_id").collect()
    }
    # Split on an arbitrary row predicate — partitions of the data.
    lo = _hll_registers(
        ev.filter(F.col("event_id") % 2 == 0), "event_type", "user_id"
    ).collect()
    hi = _hll_registers(
        ev.filter(F.col("event_id") % 2 == 1), "event_type", "user_id"
    ).collect()
    merged: dict = {}
    for r in [*lo, *hi]:
        k = (r["event_type"], r["bucket"])
        merged[k] = max(merged.get(k, 0), r["max_rho"])
    assert merged == whole


def test_estimate_within_hll_error_of_exact(spark, sf_dir):
    ev = _events(spark, sf_dir)
    exact = {
        r["event_type"]: r["n"]
        for r in ev.groupBy("event_type")
        .agg(F.countDistinct("user_id").alias("n"))
        .collect()
    }
    regs: dict = {}
    for r in _hll_registers(ev, "event_type", "user_id").collect():
        regs.setdefault(r["event_type"], []).append(
            (r["bucket"], r["max_rho"])
        )
    assert set(regs) == set(exact)
    for etype, pairs in regs.items():
        est = hll_estimate(pairs)
        # σ = 1.04/sqrt(64) ≈ 13%; allow 3σ.
        rel = abs(est - exact[etype]) / exact[etype]
        assert rel < 0.40, (etype, est, exact[etype])


def test_register_values_are_plausible(spark, sf_dir):
    rows = _hll_registers(
        _events(spark, sf_dir), "event_type", "user_id"
    ).collect()
    assert rows
    for r in rows:
        assert 0 <= r["bucket"] < HLL_M
        assert 1 <= r["max_rho"] <= 55


def test_cms_estimate_bounds(spark, sf_dir):
    from aws_weather_data_pipeline_spark.plans.catalog import build_catalog
    from aws_weather_data_pipeline_spark.plans.sketch import (
        CMS_WIDTH,
        cms_columns,
        cms_estimate,
    )

    cat = build_catalog()
    grid = {
        (r["depth"], r["col"]): r["n"]
        for r in cat.queries["cms_user_activity_sketch"]
        .builder(spark, sf_dir)
        .collect()
    }
    ev = _events(spark, sf_dir)
    total = ev.count()
    truth = {
        r["user_id"]: r["n"]
        for r in ev.groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.desc("n"))
        .limit(5)
        .collect()
    }
    for uid, n in truth.items():
        est = cms_estimate(grid, cms_columns(str(uid)))
        assert est >= n, (uid, est, n)  # CMS never undercounts
        # e/width overcount bound (single-row bound; min over
        # CMS_DEPTH rows is far tighter w.h.p.).
        assert est <= n + (2.718 / CMS_WIDTH) * total * 3, (uid, est, n)


def test_quantile_sketch_merges_by_summing_bins(spark, sf_dir):
    from aws_weather_data_pipeline_spark.plans.sketch import (
        quantile_sketch_bins,
    )

    ev = _events(spark, sf_dir)
    whole = {
        (r["event_type"], r["bin"]): r["n"]
        for r in quantile_sketch_bins(ev, "event_type", "value").collect()
    }
    lo = quantile_sketch_bins(
        ev.filter(F.col("event_id") % 2 == 0), "event_type", "value"
    ).collect()
    hi = quantile_sketch_bins(
        ev.filter(F.col("event_id") % 2 == 1), "event_type", "value"
    ).collect()
    merged: dict = {}
    for r in [*lo, *hi]:
        k = (r["event_type"], r["bin"])
        merged[k] = merged.get(k, 0) + r["n"]
    assert merged == whole


def test_quantile_sketch_brackets_exact_percentiles(spark, sf_dir):
    from aws_weather_data_pipeline_spark.plans.catalog import build_catalog

    cat = build_catalog()
    est = {
        (r["event_type"], r["q_pct"]): (r["est_lo"], r["est_hi"])
        for r in cat.queries["quantile_sketch_estimates"]
        .builder(spark, sf_dir)
        .collect()
    }
    assert est
    ev = _events(spark, sf_dir)
    exact = {
        r["event_type"]: r["p"]
        for r in ev.groupBy("event_type")
        .agg(F.expr("percentile(value, array(0.5, 0.9, 0.99))").alias("p"))
        .collect()
    }
    for (etype, q), (lo, hi) in est.items():
        p = exact[etype][{50: 0, 90: 1, 99: 2}[q]]
        # The discrete q-quantile (first value with cum >= q·n) lives
        # inside the reported bin; the interpolated exact percentile
        # can undershoot the bin's lo by at most one bin width.
        assert lo - 8 <= p < hi + 8, (etype, q, lo, hi, p)


def test_bloom_has_no_false_negatives(spark, sf_dir):
    from aws_weather_data_pipeline_spark.plans.catalog import build_catalog

    cat = build_catalog()
    rows = (
        cat.queries["bloom_dedup_probe"].builder(spark, sf_dir).collect()
    )
    assert rows
    for r in rows:
        if r["actual_dup"]:
            assert r["bloom_candidate"], r  # impossible by construction
        assert r["is_false_positive"] == (
            r["bloom_candidate"] and not r["actual_dup"]
        )


# --------------------------------------------------------------------------
# Misra-Gries heavy hitters
# --------------------------------------------------------------------------


def test_mg_heavy_hitters_match_exact_oracle(spark, sf_dir):
    # The would-be driver row for the r09-registered query: the 2-pass
    # MG plan must equal the exact-count oracle (MG's deterministic
    # guarantee makes the candidate pass lossless above the support
    # threshold). Same compare the driver runs.
    from tests.oracle import compare

    from aws_weather_data_pipeline_spark.plans.sketch import (
        MG_HEAVY_HITTERS_SQL,
        mg_heavy_hitter_pairs,
    )

    n = compare(
        spark,
        sf_dir,
        mg_heavy_hitter_pairs,
        MG_HEAVY_HITTERS_SQL,
        name="mg_heavy_hitter_pairs",
    )
    assert n > 0  # the char-pair stream has real heavy hitters


def test_mg_result_is_partitioning_invariant(spark, sf_dir):
    # Sketch CONTENTS depend on partitioning; the 2-pass OUTPUT must
    # not. Re-run under a hostile layout (1 partition vs many, sorted
    # so heavy keys cluster) and demand identical results.
    from aws_weather_data_pipeline_spark.plans.sketch import (
        MG_K,
        _char_pairs,
        misra_gries_partials,
    )
    from aws_weather_data_pipeline_spark.sources.tables import load_spread
    from pyspark.sql import functions as F

    docs = load_spread(spark, sf_dir, "documents")
    pairs = _char_pairs(docs)
    total = pairs.count()

    def run(stream):
        cands = [
            r["key"]
            for r in misra_gries_partials(stream, "pair", MG_K)
            .select("key")
            .distinct()
            .collect()
        ]
        exact = {
            r["pair"]: r["n"]
            for r in pairs.filter(F.col("pair").isin(cands))
            .groupBy("pair")
            .agg(F.count(F.lit(1)).alias("n"))
            .collect()
        }
        return {
            p: n for p, n in exact.items() if n * (MG_K + 1) > total
        }

    base = run(pairs)
    assert base == run(pairs.repartition(1))
    assert base == run(pairs.repartition(16).sortWithinPartitions("pair"))


def test_mg_partial_guarantee_and_error_bound(spark):
    # Classic MG bounds on a planted-skew stream in ONE partition:
    # every key with freq > n/(k+1) survives, and every surviving
    # counter satisfies true - n/(k+1) <= lower_bound <= true.
    from pyspark.sql import Row

    from aws_weather_data_pipeline_spark.plans.sketch import (
        misra_gries_partials,
    )

    k = 5
    # 1000 'hot' + 300 'warm' + 70 distinct cold keys x 10 = 2000 rows
    stream = (
        ["hot"] * 1000
        + ["warm"] * 300
        + [f"cold{i}" for i in range(70) for _ in range(10)]
    )
    n = len(stream)
    df = spark.createDataFrame(
        [Row(key=x) for x in stream]
    ).repartition(1)
    summary = {
        r["key"]: r["lower_bound"]
        for r in misra_gries_partials(df, "key", k).collect()
    }
    assert len(summary) <= k
    true = {"hot": 1000, "warm": 300}
    err = n / (k + 1)
    for key, cnt in true.items():
        if cnt > err:
            assert key in summary, (key, summary)
    for key, lb in summary.items():
        t = true.get(key, 10)
        assert t - err <= lb <= t, (key, lb, t)


def test_mg_two_pass_equals_exact_on_random_streams(spark):
    # Property: for random skewed streams, any k, any partitioning,
    # the 2-pass plan (candidates from partial summaries + exact
    # count + threshold) equals a direct exact computation.
    import random

    from pyspark.sql import Row

    from aws_weather_data_pipeline_spark.plans.sketch import (
        misra_gries_partials,
    )

    rng = random.Random(8)
    for trial in range(3):
        k = rng.choice([3, 5, 8])
        n_parts = rng.choice([1, 4, 9])
        stream = []
        for key_id in range(rng.randint(5, 40)):
            stream += [f"k{key_id}"] * rng.randint(1, 120)
        rng.shuffle(stream)
        df = spark.createDataFrame(
            [Row(key=x) for x in stream]
        ).repartition(n_parts)

        summary = misra_gries_partials(
            df, "key", k, emit_totals=True
        ).collect()
        total = sum(
            r["lower_bound"] for r in summary if r["key"] is None
        )
        assert total == len(stream)
        cands = {r["key"] for r in summary if r["key"] is not None}

        from collections import Counter

        exact = Counter(stream)
        expected = {
            key: c
            for key, c in exact.items()
            if c * (k + 1) > len(stream)
        }
        # guarantee: every true heavy hitter is a candidate
        assert set(expected) <= cands, (trial, k, n_parts)
        got = {
            key: exact[key]
            for key in cands
            if exact[key] * (k + 1) > len(stream)
        }
        assert got == expected, (trial, k, n_parts)
