"""Physical/logical plan assertions (the scale-safety gate).

Round-1 verdict: hardcoded broadcasts of SF-scaling tables (customer,
supplier) are scale-killers — hints are allowed ONLY on true dimension
tables (region: 5 rows, nation: 25 rows at every SF) and on
provably-bounded aggregate sides. These tests pin that property, plus
pushdown/pruning on the heavy scans, so a regression shows up in CI
rather than in a 100 TB OOM.
"""

from __future__ import annotations

import io
import contextlib

import pytest

from aws_weather_data_pipeline_spark.session import cached

from aws_weather_data_pipeline_spark.plans.catalog import build_catalog

CATALOG = build_catalog()

#: Queries allowed broadcast hints, with the number of hinted subtrees
#: (region+nation for regional_revenue; the ≤#cities latest-per-group
#: aggregate for weather_current_status; the ≤N_QUERY query vectors for
#: the kNN/ANN pair).
ALLOWED_HINTS = {
    "regional_revenue": 2,
    "weather_current_status": 1,
    "knn_cosine_topk": 1,
    "ann_ivf_probe_topk": 1,
    # recall@k composes the two plans above — it inherits both
    # (provably ≤N_QUERY) query-vector hints, adding none of its own.
    "ann_recall_at_k": 2,
    # ≤N_QUERY query vectors — provably bounded.
    "ann_hyperplane_lsh_topk": 1,
    # the one-row corpus count (vocabulary df side is NOT hinted).
    "tfidf_top_terms": 1,
    # the benchmark/eval n-gram set — fixed small suite vs 100 TB corpus.
    "decontaminate_ngram_overlap": 1,
    # the one-row global BM25 statistics frame.
    "bm25_topk": 1,
    # the ≤BLOOM_WORDS-row bit-packed filter table.
    "bloom_dedup_probe": 1,
    # the calendar-sized bucketized window table.
    "interval_range_join_counts": 1,
    # the k-row centroid table, once per unrolled Lloyd assign.
    "kmeans_lloyd_assignments": 2,
    # the one-row totals frame + the fixed DSIR_BUCKETS-row hashed
    # model — bounded by the bucket constant at ANY corpus size (that
    # fixed size is the DSIR design point).
    "doc_importance_weights": 2,
    # the 4-row stage table + the ≤5-row failed-stage counts (key
    # domain is the stage list, a config constant) — both bounded at
    # any corpus size.
    "corpus_filter_funnel": 2,
    # the one-row corpus-stats frame (sum + count) — the bm25/DSIR
    # global-stats shape.
    "corpus_relative_quality_filter": 1,
    # ≤N_QUERY anchor vectors — the kNN shape with a label filter.
    "hard_negative_mining": 1,
    # the one-row weight total + the per-source threshold frame (both
    # bounded by the source-key domain, not corpus size).
    "temperature_mixture_sample": 2,
    # the PQ_M×PQ_K-row codebook — a config-sized constant.
    "pq_code_assignment": 1,
    # codebook (code assignment) + codebook (lookup build) + the
    # Q×PQ_M×PQ_K lookup table — all bounded by config constants.
    "pq_adc_topk": 3,
    # same three bounded frames as pq_adc_topk (the cell filter adds
    # an equi-key, not a broadcast).
    "ivf_pq_search_topk": 3,
    # ≤N_QUERY×(planes+1) exploded probe signatures — still the
    # bounded query side.
    "ann_multiprobe_lsh_topk": 1,
    # the MG candidate superset (≤ (MG_K+1) × partitions rows — the
    # sketch's whole point is that this is bounded regardless of the
    # key domain) + the 1-row stream total.
    "mg_heavy_hitter_pairs": 2,
}


def _analyzed(spark, name, sf_dir):
    df = CATALOG.queries[name].builder(spark, sf_dir)
    return df, df._jdf.queryExecution().analyzed().toString()


def _formatted(df) -> str:
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def test_no_broadcast_hints_on_scaling_tables(spark, sf_dir):
    for name in CATALOG.queries:
        _, plan = _analyzed(spark, name, sf_dir)
        n_hints = plan.count("ResolvedHint (strategy=broadcast)")
        assert n_hints <= ALLOWED_HINTS.get(name, 0), (
            f"{name}: {n_hints} broadcast hints "
            f"(allowed {ALLOWED_HINTS.get(name, 0)}) — a hint on an "
            "SF-scaling table OOMs the driver at the 100 TB design point"
        )


def test_regional_revenue_hints_are_dimension_only(spark, sf_dir):
    # The two allowed hints must wrap region/nation relations, not
    # customer/supplier (which scale with SF).
    _, plan = _analyzed(spark, "regional_revenue", sf_dir)
    lines = plan.splitlines()
    for i, line in enumerate(lines):
        if "ResolvedHint" not in line:
            continue
        subtree = "\n".join(lines[i : i + 6])
        assert "region" in subtree or "nation" in subtree, subtree
        assert "customer.parquet" not in subtree
        assert "supplier.parquet" not in subtree


def test_month_filter_pushes_to_lineitem_scan(spark, sf_dir):
    df = CATALOG.queries["promo_revenue_ratio"].builder(spark, sf_dir)
    plan = _formatted(df)
    assert "PushedFilters" in plan
    assert "GreaterThanOrEqual(l_shipdate" in plan


def test_alert_feed_prunes_event_columns(spark, sf_dir):
    # Weather columns are synthesized from event_id; the scan must read
    # only the columns the query actually needs (event_id, ts).
    df = CATALOG.queries["weather_alert_feed"].builder(spark, sf_dir)
    plan = _formatted(df)
    read = next(
        line for line in plan.splitlines() if "ReadSchema" in line
    )
    assert "event_id" in read and "ts" in read
    assert "props" not in read and "user_id" not in read


def test_topk_uses_take_ordered_not_global_sort(spark, sf_dir):
    # recent_events_feed carries the O4 plan pin since r10 (it
    # absorbed the retired top10_orders_by_price's top-k shape)
    df = CATALOG.queries["recent_events_feed"].builder(spark, sf_dir)
    plan = _formatted(df)
    assert "TakeOrderedAndProject" in plan


def test_near_dup_queries_have_no_cartesian_product(spark, sf_dir):
    # Every near-dup variant generates candidates via an equi-join
    # (band bucket / prefix hash / cell id) — a CartesianProduct or
    # BroadcastNestedLoopJoin anywhere means the all-pairs quadratic
    # trap snuck back in.
    # The registered builders detach their result, which truncates the
    # inspectable plan to a checkpoint scan — the *_plan functions
    # return the LAZY plan for shape checks. near_dup_clusters is
    # excluded: its builder executes the propagation loop (actions);
    # its join shapes are those of near_dup_pairs_minhash below, and
    # correctness is covered by the oracle test.
    from pyspark.sql import functions as F

    from aws_weather_data_pipeline_spark.plans import similarity as sim
    from aws_weather_data_pipeline_spark.plans.text import simhash_frame

    d = sim._with_shingles(sim._docs(spark, sf_dir))
    sigs = d.select("doc_id", "shingles", *sim.minhash_signature_cols())
    lazy_plans = {
        "near_dup_pairs_minhash": sim.near_dup_pairs_minhash_plan(sigs),
        "near_dup_pairs_simhash": sim.near_dup_pairs_simhash_plan(
            simhash_frame(spark, sf_dir)
        ),
        "near_dup_pairs_ngram": sim.near_dup_pairs_ngram_plan(
            d.select("doc_id", F.array_sort("sh_hashes").alias("sh"))
        ),
        "near_dup_pairs_editdist": sim.near_dup_pairs_editdist_plan(
            d.select("doc_id", *sim.minhash_signature_cols()),
            sim._docs(spark, sf_dir),
        ),
        # the hot-bucket cap must keep the equi-join shape — the
        # window count filters band-bucket rows, it must never
        # degrade the self-join into a nested-loop
        "near_dup_pairs_minhash[cap=50]": sim.near_dup_pairs_minhash_plan(
            sigs, max_bucket=50
        ),
    }
    for name, df in lazy_plans.items():
        plan = _formatted(df)
        assert "CartesianProduct" not in plan, name
        assert "BroadcastNestedLoopJoin" not in plan, name
    plan = _formatted(
        CATALOG.queries["near_dup_pairs_embedding"].builder(spark, sf_dir)
    )
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_sample_filter_stays_in_scan_stage(spark, sf_dir):
    # The deterministic sample is a pure per-row predicate: the plan
    # must be scan → filter → project with no Exchange beyond the
    # local-SF spread repartition and no join/aggregate/sort.
    df = CATALOG.queries["deterministic_doc_sample"].builder(
        spark, sf_dir
    )
    plan = _formatted(df)
    for op in ("Join", "HashAggregate", "Sort"):
        assert op not in plan, f"sample plan contains {op}:\n{plan}"


def test_chunking_is_generator_expansion_not_join(spark, sf_dir):
    df = CATALOG.queries["doc_chunk_tokens"].builder(spark, sf_dir)
    plan = _formatted(df)
    assert "Generate" in plan  # explode runs as a generator...
    assert "Join" not in plan  # ...not as a join against an index table


def test_lsh_banding_candidate_rate_and_recall(spark):
    """Pins the (b=8, r=2) banding design point (VERDICT r02 #6):

    1. CANDIDATE RATE — the band join must prune, not enumerate:
       candidates ≤ 5% of all pairs on the sf0.001 corpus. r=1 banding
       admits 57% of J=0.1 pairs (1-(1-J)^8); r=2 admits ~0.08%
       (1-(1-J²)^8), which is what keeps the join's output from
       exploding toward all-pairs on real overlapping-vocabulary text.
    2. RECALL — every pair the EXACT prefix-filtering join emits at
       J ≥ 0.6 must also be found by the MinHash-LSH query. The
       planted near-dups sit at J≈0.9+ where r=2 recall is
       1-(1-J²)^8 > 0.9999, so full recall is expected, not lucky.
    """
    from aws_weather_data_pipeline_spark.plans import similarity as sim
    from tests.conftest import SF_SMOKE

    d = sim._with_shingles(sim._docs(spark, SF_SMOKE))
    with cached(d.select("doc_id", *sim.minhash_signature_cols())) as sigs:
        n_docs = sigs.count()
        n_cand = sim._minhash_candidates(sigs).count()
    all_pairs = n_docs * (n_docs - 1) / 2
    assert n_cand <= 0.05 * all_pairs, (
        f"band join admits {n_cand}/{all_pairs:.0f} pairs "
        f"({100 * n_cand / all_pairs:.1f}%) — banding is not pruning"
    )

    exact = {
        (r.doc_a, r.doc_b)
        for r in sim.near_dup_pairs_ngram(spark, SF_SMOKE).collect()
    }
    lsh = {
        (r.doc_a, r.doc_b)
        for r in sim.near_dup_pairs_minhash(spark, SF_SMOKE).collect()
    }
    assert exact, "vacuous: corpus has no planted near-dups at J≥0.6"
    missed = exact - lsh
    assert not missed, f"LSH missed {len(missed)} exact pairs: {sorted(missed)[:5]}"


def test_ngram_length_positional_filters_prune_without_recall_loss(spark):
    """Pins the PPJoin candidate cuts on the exact n-gram join (VERDICT
    r03 #3): the length + positional filters must strictly shrink the
    candidate set vs the plain prefix join, and the surviving candidates
    must still contain every J >= 0.6 pair (full recall — the filters
    are provably lossless, so any miss is an off-by-one in the integer
    bound arithmetic).
    """
    from aws_weather_data_pipeline_spark.plans import similarity as sim
    from pyspark.sql import functions as F
    from tests.conftest import SF_SMOKE

    d = sim._with_shingles(sim._docs(spark, SF_SMOKE))
    srt = d.select("doc_id", F.array_sort("sh_hashes").alias("sh"))
    with cached(srt) as srt:
        plain = sim._ngram_candidates(srt, filters=False).count()
        filtered_df = sim._ngram_candidates(srt, filters=True)
        filtered = filtered_df.count()
        assert filtered < plain, (
            f"filters pruned nothing: {filtered} vs {plain} candidates"
        )
        cand = {(r.doc_a, r.doc_b) for r in filtered_df.collect()}
    true_pairs = {
        (r.doc_a, r.doc_b)
        for r in sim.near_dup_pairs_ngram(spark, SF_SMOKE).collect()
    }
    assert true_pairs, "vacuous: no planted near-dups at J>=0.6"
    missed = true_pairs - cand
    assert not missed, f"filters dropped true pairs: {sorted(missed)[:5]}"


def test_round4_curation_queries_have_sane_plan_shapes(spark, sf_dir):
    """Plan-shape pins for the round-4 curation operators:

    - duplicated spans / bigram LM: pure equi-join pipelines — any
      CartesianProduct or BroadcastNestedLoopJoin means the candidate
      or model join degenerated.
    - DSIR weights: one BroadcastNestedLoopJoin is EXPECTED (the
      keyless cross join against the broadcast one-row totals frame,
      same accepted shape as bm25's global-stats join) but never a
      CartesianProduct, and never more than that single keyless join.
    - trailing-hour stats: exactly ONE Window operator over one
      user_id exchange — a second window or shuffle means the range
      frame was rewritten as self-join or re-sorted.
    """
    import re

    from aws_weather_data_pipeline_spark.plans import corpus, temporal

    for fn in (corpus.doc_duplicated_spans, corpus.doc_bigram_lm_score):
        plan = _formatted(fn(spark, sf_dir))
        assert "CartesianProduct" not in plan, fn.__name__
        assert "BroadcastNestedLoopJoin" not in plan, fn.__name__

    plan = _formatted(corpus.doc_importance_weights(spark, sf_dir))
    assert "CartesianProduct" not in plan
    assert len(re.findall(r"\(\d+\) BroadcastNestedLoopJoin", plan)) <= 1

    plan = _formatted(temporal.trailing_hour_user_stats(spark, sf_dir))
    assert len(re.findall(r"\(\d+\) Window", plan)) == 1, plan
    assert "CartesianProduct" not in plan


def test_ppjoin_filter_bounds_are_lossless_property():
    """Pure-math fuzz of the PPJoin candidate cuts (no Spark): for ANY
    pair of hash sets with J >= 0.6, (a) the length filter holds, and
    (b) some common element inside BOTH prefixes satisfies the
    positional bound — i.e. the exact integer predicates used in
    _ngram_candidates can never drop a qualifying pair. Pairs are
    built as base-set edits so high-J cases are actually exercised.
    """
    from hypothesis import given, settings, strategies as st

    @settings(max_examples=300, deadline=None)
    @given(
        base=st.sets(st.integers(0, 10_000), min_size=5, max_size=60),
        drop=st.integers(0, 5),
        add=st.sets(st.integers(10_001, 10_100), max_size=5),
    )
    def check(base, drop, add):
        a = sorted(base)
        b = sorted((base - set(a[:drop])) | add)
        if not b:
            return
        inter = len(set(a) & set(b))
        union = len(a) + len(b) - inter
        if inter / union < 0.6:
            return  # only qualifying pairs carry the guarantee
        sz_a, sz_b = len(a), len(b)
        # length filter: J <= min/max, so J >= 3/5 forces 5*min >= 3*max
        assert 5 * min(sz_a, sz_b) >= 3 * max(sz_a, sz_b)
        # positional filter: prefix lengths |S| - ceil(0.6|S|) + 1
        pre_a = sz_a - (3 * sz_a + 4) // 5 + 1
        pre_b = sz_b - (3 * sz_b + 4) // 5 + 1
        alpha = (3 * (sz_a + sz_b) + 7) // 8  # ceil(3(sza+szb)/8)
        pos_a = {h: i for i, h in enumerate(a)}
        pos_b = {h: i for i, h in enumerate(b)}
        assert any(
            pos_a[h] < pre_a
            and pos_b[h] < pre_b
            and min(sz_a - pos_a[h], sz_b - pos_b[h]) >= alpha
            for h in set(a) & set(b)
        ), f"qualifying pair escaped the filters: {a} vs {b}"

    check()


def test_pii_redaction_stays_in_scan_stage(spark, sf_dir):
    # Regex redaction is per-row work: scan → project, no shuffle, no
    # UDF (BatchEvalPython/ArrowEvalPython would mean the regexps left
    # codegen).
    df = CATALOG.queries["pii_redaction"].builder(spark, sf_dir)
    plan = _formatted(df)
    for op in ("Join", "HashAggregate", "Sort", "EvalPython"):
        assert op not in plan, f"pii plan contains {op}:\n{plan}"


def test_table_profile_is_single_scan(spark, sf_dir):
    # The whole profile (6 columns × 4 stats) must read the files once;
    # a per-column loop would scan 6×.
    import re

    df = CATALOG.queries["events_table_profile"].builder(spark, sf_dir)
    plan = _formatted(df)
    # Count scan NODES ("(n) Scan parquet" detail headers) — the bare
    # string also appears once per node in the plan tree rendering.
    assert len(re.findall(r"\(\d+\) Scan parquet", plan)) == 1, plan


def test_repetition_metrics_is_shuffle_free(spark, sf_dir):
    # Gopher repetition gates are in-row lambda folds: scan → project.
    # load_spread's round-robin repartition (local-mode core spreading)
    # is the only Exchange allowed — a hash-partitioned Exchange or any
    # blocking operator means the n-gram counting left the row.
    df = CATALOG.queries["doc_repetition_metrics"].builder(spark, sf_dir)
    plan = _formatted(df)
    assert "hashpartitioning" not in plan, plan
    for op in ("Join", "HashAggregate", "Sort", "EvalPython"):
        assert op not in plan, f"repetition plan contains {op}:\n{plan}"


def test_decontamination_broadcasts_benchmark_side(spark, sf_dir):
    # The eval-suite n-gram set must be the broadcast side; a
    # sort-merge join here would shuffle the whole training corpus.
    df = CATALOG.queries["decontaminate_ngram_overlap"].builder(
        spark, sf_dir
    )
    plan = _formatted(df)
    assert "BroadcastHashJoin" in plan, plan
    assert "SortMergeJoin" not in plan, plan


def test_bm25_topk_avoids_global_sort(spark, sf_dir):
    # Top-k must be per-partition heaps (TakeOrderedAndProject), and
    # the global-stats side a broadcast, not a shuffled join. The
    # registered builder eagerly localCheckpoints (cache hygiene) which
    # hides the plan behind Scan ExistingRDD — pin the shape on the
    # factored-out LAZY plan the builder wraps (VERDICT r07 #2), same
    # convention as the range-join test below.
    from aws_weather_data_pipeline_spark.plans import corpus as cp

    plan = _formatted(cp._bm25_score_topk(cp._bm25_tf(spark, sf_dir)))
    assert "TakeOrderedAndProject" in plan, plan
    assert "SortMergeJoin" not in plan, plan


def test_range_join_is_bucketized_not_nested_loop(spark, sf_dir):
    # The whole point of the bucketize rewrite: a raw ts-range join
    # compiles to BroadcastNestedLoopJoin (O(rows × windows) compares);
    # the bucketized form must be a hash join on the bucket key. The
    # registered builder eagerly localCheckpoints (cache hygiene,
    # ADVICE r06) which hides the plan behind Scan ExistingRDD — the
    # shape is pinned on the factored-out LAZY plan the builder wraps
    # (VERDICT r07 #2).
    from aws_weather_data_pipeline_spark.plans import temporal as tmp

    ev = tmp._events(spark, sf_dir)
    wins = tmp.range_join_windows(spark, sf_dir)
    plan = _formatted(tmp.range_join_plan(ev, wins))
    assert "BroadcastNestedLoopJoin" not in plan, plan
    assert "BroadcastHashJoin" in plan, plan


def test_pagerank_iterations_reuse_persisted_edges(spark, sf_dir):
    # Every unrolled iteration must scan the SAME persisted edge frame
    # (InMemoryTableScan), never rebuild the symmetrize+distinct+degree
    # subtree — at 100 TB a rebuild per iteration re-reads the fact
    # tables PR_ITERS times. Pinned on the lazy pagerank_plan (the
    # catalog builder detaches the result, which would hide the plan).
    from aws_weather_data_pipeline_spark.plans import graph as g

    with cached(g.pagerank_edges_deg(spark, sf_dir)) as edges_deg:
        edges_deg.count()
        plan = _formatted(g.pagerank_plan(edges_deg, n=100))
        # PR_ITERS iteration joins + the initial rank frame all read
        # the cache; no iteration may fall back to the parquet scans.
        n_cache_scans = plan.count("InMemoryTableScan")
        assert n_cache_scans >= g.PR_ITERS + 1, plan
        assert "CartesianProduct" not in plan, plan
        assert "BroadcastNestedLoopJoin" not in plan, plan


def test_ivf_pq_carries_cell_without_rejoin(spark, sf_dir):
    # The IVF cell label must ride through the subvector explode —
    # re-joining it from the embeddings table costs a second full
    # scan plus an n-row shuffle join on vec_id (r08 scan audit).
    # No sort-merge join anywhere: every join is broadcast.
    df = CATALOG.queries["ivf_pq_search_topk"].builder(spark, sf_dir)
    plan = _formatted(df)
    assert "SortMergeJoin" not in plan, plan


def test_filter_funnel_scans_documents_once(spark, sf_dir):
    # r07 bench regression root cause: referencing the unpersisted
    # funnel aggregate twice (stage join + total crossJoin) made Spark
    # evaluate the O(L²) per-row gate expressions TWICE per execution.
    # The total now derives from the single post-aggregate frame; the
    # plan must contain exactly ONE parquet scan.
    df = CATALOG.queries["corpus_filter_funnel"].builder(spark, sf_dir)
    plan = _formatted(df)
    n_scans = sum(
        1
        for line in plan.splitlines()
        if line.lstrip().startswith("(") and ") Scan parquet" in line
    )
    assert n_scans == 1, plan


def test_cdc_merge_joins_without_reshuffle(spark, sf_dir):
    # Both sides dedup with a window on user_id; the full-outer
    # reconcile must REUSE that hashpartitioning — exactly one
    # Exchange per side, none at the join. The cutoff predicates must
    # reach the parquet scans, and the per-key top-1 must push a
    # WindowGroupLimit below the shuffle (map-side prune: at 100 TB
    # only ~1 row per key per map task travels, not the whole batch).
    df = CATALOG.queries["cdc_merge_apply"].builder(spark, sf_dir)
    plan = _formatted(df)
    n_exchanges = sum(
        1
        for line in plan.splitlines()
        if line.lstrip().startswith("(") and ") Exchange" in line
    )
    assert n_exchanges == 2, plan
    assert "LessThan(ts" in plan and "GreaterThanOrEqual(ts" in plan, plan
    assert "WindowGroupLimit" in plan, plan


def test_scd2_build_is_single_shuffle(spark, sf_dir):
    # Gaps-and-islands on one key: the change flags, the running
    # version, the per-run aggregate, and the interval-closing lead()
    # must all reuse ONE hashpartitioning(user_id) exchange — a second
    # Exchange means Catalyst stopped recognizing the shared
    # partitioning and the build costs 2+ full-data shuffles at scale.
    df = CATALOG.queries["scd2_user_state"].builder(spark, sf_dir)
    plan = _formatted(df)
    n_exchanges = sum(
        1
        for line in plan.splitlines()
        if line.lstrip().startswith("(") and ") Exchange" in line
    )
    assert n_exchanges == 1, plan


def test_sequence_packing_windows_per_shard_not_globally(spark, sf_dir):
    # A global-order running sum would serialize on one task; the
    # window must partition by shard.
    df = CATALOG.queries["sequence_pack_assignment"].builder(
        spark, sf_dir
    )
    plan = df._jdf.queryExecution().analyzed().toString()
    assert "windowspecdefinition(shard" in plan, plan


def test_winnowing_guarantee_and_compression(spark):
    """Winnowing's two defining properties (Schleimer et al. 2003):
    (1) GUARANTEE — any shared token run of >= w+k-1 tokens between
    two documents yields at least one shared fingerprint; (2) the
    selected set is much smaller than the full shingle set (density
    ~2/(w+1)). Checked on synthetic docs with a planted shared run
    inside otherwise-disjoint text."""
    from pyspark.sql import Row

    from aws_weather_data_pipeline_spark.plans.text import (
        WINNOW_K,
        WINNOW_W,
        winnow_fingerprints,
    )

    shared = "alpha beta gamma delta epsilon zeta"  # w+k-1 = 6 tokens
    doc_a = "one two three four " + shared + " five six seven eight"
    doc_b = "red green blue cyan pink " + shared + " teal mauve navy"
    from pyspark.sql import functions as F

    df = spark.createDataFrame(
        [Row(doc_id=1, text=doc_a), Row(doc_id=2, text=doc_b)]
    ).withColumn("tokens", F.split("text", " "))
    fps = winnow_fingerprints(df).collect()
    by_doc = {}
    for r in fps:
        by_doc.setdefault(r["doc_id"], set()).add(r["fp"])
    assert by_doc[1] & by_doc[2], "shared 6-token run must share a fp"
    # compression: strictly fewer fingerprints than shingles
    n_shingles_a = len(doc_a.split()) - WINNOW_K + 1
    assert len(by_doc[1]) < n_shingles_a
    # positions are valid 1-based shingle indices
    for r in fps:
        assert 1 <= r["pos"]
        assert r["pos"] <= (
            len((doc_a if r["doc_id"] == 1 else doc_b).split())
            - WINNOW_K + 1
        )
    # determinism: a second run selects the identical set
    again = {
        (r["doc_id"], r["pos"], r["fp"])
        for r in winnow_fingerprints(df).collect()
    }
    assert again == {(r["doc_id"], r["pos"], r["fp"]) for r in fps}
    assert WINNOW_W >= 2  # density claim presumes a real window


def test_filter_funnel_consistent_with_quality_gates(spark, sf_dir):
    """Cross-module consistency: the funnel's survivor count after its
    first three gates equals doc_quality_scores' passes_quality count
    (identical thresholds), and survivors are monotone non-increasing.
    """
    from aws_weather_data_pipeline_spark.plans.corpus import (
        corpus_filter_funnel,
    )
    from aws_weather_data_pipeline_spark.plans.text import (
        doc_quality_scores,
    )
    from pyspark.sql import functions as F

    rows = sorted(
        corpus_filter_funnel(spark, sf_dir).collect(),
        key=lambda r: r["stage_idx"],
    )
    assert [r["stage"] for r in rows] == [
        "length", "mean_word_len", "stopwords", "repetition",
    ]
    surv = [r["n_surviving"] for r in rows]
    assert surv == sorted(surv, reverse=True)
    n_quality = (
        doc_quality_scores(spark, sf_dir)
        .filter(F.col("passes_quality"))
        .count()
    )
    assert rows[2]["n_surviving"] == n_quality


def test_round5_queries_have_sane_plan_shapes(spark, sf_dir):
    """Plan-shape pins for the round-5 operators:

    - zorder audit: one hash-aggregate pipeline (partial + final), no
      join, no window, no sort — the interleave must stay a per-row
      expression inside the scan stage.
    - quantile sketch: windows run over the POST-aggregate bin table
      (aggregation appears below the window), never the raw events.
    - weighted sample: pure scan-stage predicate like the other
      samplers — no join/aggregate/sort.
    - relative quality filter: exactly one keyless broadcast join (the
      one-row corpus-stats frame, the bm25/DSIR-accepted shape), no
      CartesianProduct.
    - filter funnel: no CartesianProduct beyond its two bounded
      broadcasts; the cumulative window input is the 4-row stage
      frame (window appears above the aggregate).
    """
    import re

    from aws_weather_data_pipeline_spark.plans import (
        corpus,
        layout,
        sampling,
        sketch,
    )

    plan = _formatted(layout.zorder_layout_audit(spark, sf_dir))
    assert "Join" not in plan and "Window" not in plan, plan
    assert "HashAggregate" in plan

    plan = _formatted(sketch.quantile_sketch_estimates(spark, sf_dir))
    win_pos = plan.find("Window")
    assert win_pos != -1 and "HashAggregate" in plan
    # formatted plans print top-down (children below parents): some
    # HashAggregate must appear BELOW the window — the cumulative
    # window consumes the aggregated bin table, never raw events.
    assert plan.rfind("HashAggregate") > win_pos, plan

    plan = _formatted(
        sampling.length_weighted_doc_sample(spark, sf_dir)
    )
    for op in ("Join", "HashAggregate", "Sort"):
        assert op not in plan, f"weighted sample contains {op}"

    plan = _formatted(
        corpus.corpus_relative_quality_filter(spark, sf_dir)
    )
    assert "CartesianProduct" not in plan
    assert (
        len(re.findall(r"\(\d+\) BroadcastNestedLoopJoin", plan)) <= 1
    ), plan

    plan = _formatted(corpus.corpus_filter_funnel(spark, sf_dir))
    assert "CartesianProduct" not in plan, plan


def test_exact_substr_removal_keep_first_semantics(spark, tmp_path):
    """ExactSubstr removal on a planted corpus: doc 10 and doc 20 share
    an exact SPAN_TOKENS-token run. The occurrence in doc 10 is globally
    first (lower doc_id), so doc 10 must survive untouched while doc 20
    loses exactly the shared tokens and reassembles to its unique tail.
    Doc 30 (no duplicated window) and doc 40 (shorter than the window)
    must pass through unchanged — including the short-doc path that
    never enters the window generator.
    """
    import hashlib

    import pyarrow as pa
    import pyarrow.parquet as pq

    from aws_weather_data_pipeline_spark.plans.corpus import (
        SPAN_TOKENS,
        exact_substr_removal,
    )

    shared = [f"s{i}" for i in range(SPAN_TOKENS)]
    tail = ["t0", "t1", "t2", "t3", "t4"]
    docs = {
        10: ["p0", "p1"] + shared,
        20: shared + tail,
        30: [f"u{i}" for i in range(SPAN_TOKENS + 3)],
        40: ["short", "doc"],
    }
    table = pa.table(
        {
            "doc_id": pa.array(sorted(docs), type=pa.int64()),
            "text": [" ".join(docs[k]) for k in sorted(docs)],
            "lang": ["en"] * 4,
            "source": ["src0"] * 4,
            "n_chars": pa.array(
                [len(" ".join(docs[k])) for k in sorted(docs)],
                type=pa.int64(),
            ),
        }
    )
    pq.write_table(table, str(tmp_path / "documents.parquet"))

    out = {
        r["doc_id"]: r
        for r in exact_substr_removal(spark, str(tmp_path)).collect()
    }
    md5 = lambda toks: hashlib.md5(" ".join(toks).encode()).hexdigest()

    assert out[10]["n_removed"] == 0
    assert out[10]["cleaned_hash"] == md5(docs[10])
    assert out[20]["n_removed"] == SPAN_TOKENS
    assert out[20]["cleaned_hash"] == md5(tail)
    for unaffected in (30, 40):
        assert out[unaffected]["n_removed"] == 0
        assert out[unaffected]["cleaned_hash"] == md5(docs[unaffected])
    assert {r["n_tokens"] for r in out.values()} == {
        len(t) for t in docs.values()
    }

    plan = _formatted(exact_substr_removal(spark, str(tmp_path)))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_mining_and_temperature_sampler_plan_shapes(spark, sf_dir):
    """Plan pins for the contrastive-mining and temperature-sampling
    queries:

    - hard_negative_mining: exactly the kNN shape — at most the ONE
      keyless broadcast join (anchors × corpus), never a
      CartesianProduct, one per-anchor ranking window.
    - temperature_mixture_sample: the per-source threshold frame must
      arrive via broadcast HASH join on source (a shuffle join on the
      full corpus would defeat the map-side design); at most the one
      keyless broadcast for the one-row weight total.
    """
    import re

    from aws_weather_data_pipeline_spark.plans import sampling, similarity

    plan = _formatted(similarity.hard_negative_mining(spark, sf_dir))
    assert "CartesianProduct" not in plan
    assert len(re.findall(r"\(\d+\) BroadcastNestedLoopJoin", plan)) <= 1
    # \b: don't count WindowGroupLimit (the rank-pushdown nodes Spark
    # inserts around the ranking window — their presence is the point:
    # per-partition top-k prunes before the final window).
    assert len(re.findall(r"\(\d+\) Window\b", plan)) == 1
    assert "WindowGroupLimit" in plan

    plan = _formatted(sampling.temperature_mixture_sample(spark, sf_dir))
    assert "CartesianProduct" not in plan
    assert "BroadcastHashJoin" in plan
    assert len(re.findall(r"\(\d+\) BroadcastNestedLoopJoin", plan)) <= 1


def test_pq_codes_valid_and_adc_recall_floor(spark, sf_dir):
    """PQ pins: (1) every vector gets exactly PQ_M codes, each in
    [0, PQ_K); (2) a codebook vector's own code is itself with zero
    distance (the argmin sanity anchor); (3) ADC top-k recall against
    EXACT integer-L2 top-k (numpy twin of the same quantization) is
    >= 0.2 — random picking would land ~0.02, so the floor proves the
    lookup-table search carries real signal even with the untrained
    first-PQ_K codebook; (4) the search is deterministic.
    """
    import duckdb
    import numpy as np

    from aws_weather_data_pipeline_spark.plans.similarity import (
        N_QUERY,
        PQ_ADC_K,
        PQ_K,
        PQ_M,
        pq_adc_topk,
        pq_code_assignment,
    )

    codes = pq_code_assignment(spark, sf_dir).collect()
    per_vec = {}
    for r in codes:
        assert 0 <= r["code"] < PQ_K
        assert r["sq_dist"] >= 0
        per_vec.setdefault(r["vec_id"], []).append(r)
    assert all(len(v) == PQ_M for v in per_vec.values())
    for r in codes:
        if r["vec_id"] < PQ_K:
            assert r["code"] == r["vec_id"]
            assert r["sq_dist"] == 0

    con = duckdb.connect()
    rows = con.execute(
        f"SELECT vec_id, embedding FROM "
        f"read_parquet('{sf_dir}/embeddings.parquet') ORDER BY vec_id"
    ).fetchall()
    ids = np.array([r[0] for r in rows])
    V = np.floor(np.array([r[1] for r in rows], dtype=np.float64) * 1000)
    Q, Nv = V[ids < N_QUERY], V[ids >= N_QUERY]
    qi, ni = ids[ids < N_QUERY], ids[ids >= N_QUERY]
    d2 = ((Q[:, None, :] - Nv[None, :, :]) ** 2).sum(-1)
    exact = set()
    for i in range(len(qi)):
        order = np.lexsort((ni, d2[i]))[:PQ_ADC_K]
        exact |= {(qi[i], ni[j]) for j in order}

    adc = {
        (r["query_id"], r["neighbor_id"])
        for r in pq_adc_topk(spark, sf_dir).collect()
    }
    assert len(adc) == N_QUERY * PQ_ADC_K
    recall = len(exact & adc) / len(exact)
    assert recall >= 0.2, f"ADC recall {recall} below floor"

    again = {
        (r["query_id"], r["neighbor_id"])
        for r in pq_adc_topk(spark, sf_dir).collect()
    }
    assert again == adc


def test_outlier_gate_single_pass_window(spark, sf_dir):
    """value_outliers_exact pins: the three moment sums and the flag
    evaluate in ONE pass — exactly one Window operator (unordered
    frame over event_type), no join, no sort beyond the window's own
    partitioning, and no second aggregation of the events scan.
    """
    import re

    from aws_weather_data_pipeline_spark.plans.relational import (
        value_outliers_exact,
    )

    plan = _formatted(value_outliers_exact(spark, sf_dir))
    assert len(re.findall(r"\(\d+\) Window\b", plan)) == 1, plan
    assert "Join" not in plan
    assert "HashAggregate" not in plan


def test_multiprobe_candidates_superset_of_single_probe(spark, sf_dir):
    """Multiprobe LSH must (a) generate a candidate set that CONTAINS
    the single-probe query's (its probe list starts with the unflipped
    bucket), (b) therefore never worse top-k quality: every pair the
    single-probe query ranks is available to multiprobe, and (c) keep
    the equi-join shape — no CartesianProduct/NLJ.
    """
    from aws_weather_data_pipeline_spark.plans import similarity as sim

    single = {
        (r["query_id"], r["neighbor_id"])
        for r in sim.ann_hyperplane_lsh_topk(spark, sf_dir).collect()
    }
    multi_df = sim.ann_multiprobe_lsh_topk(spark, sf_dir)
    multi = {
        (r["query_id"], r["neighbor_id"]) for r in multi_df.collect()
    }
    # Top-5 of a superset candidate pool: each query's multiprobe
    # cosine floor must be >= its single-probe floor.
    floor_single = {}
    for r in sim.ann_hyperplane_lsh_topk(spark, sf_dir).collect():
        q = r["query_id"]
        floor_single[q] = min(floor_single.get(q, 2.0), r["cosine"])
    floor_multi = {}
    for r in sim.ann_multiprobe_lsh_topk(spark, sf_dir).collect():
        q = r["query_id"]
        floor_multi[q] = min(floor_multi.get(q, 2.0), r["cosine"])
    for q, f in floor_single.items():
        assert floor_multi[q] >= f - 1e-12, (q, f, floor_multi[q])

    plan = _formatted(multi_df)
    assert "CartesianProduct" not in plan
    assert single, "vacuous: single-probe returned nothing"
    assert multi, "vacuous: multiprobe returned nothing"


def test_split_expr_rejects_non_identifier_keys(spark):
    """``split_expr`` pastes its key into SQL text, so anything but a
    plain column identifier is refused before it reaches the parser."""
    import pytest

    from aws_weather_data_pipeline_spark.plans.sampling import split_expr

    for bad in ("doc_id) OR (1", "doc id", "1doc", "", "doc_id; --"):
        with pytest.raises(ValueError):
            split_expr(bad)
    df = spark.createDataFrame([(1, 2)], "doc_id long, group_key long")
    row = df.select(
        split_expr().alias("a"), split_expr("group_key").alias("b")
    ).collect()[0]
    assert {row["a"], row["b"]} <= {"train", "val", "test"}


def test_group_split_has_zero_leakage_and_respects_boundaries(
    spark, sf_dir
):
    """The cluster-keyed split must (a) assign every document exactly
    once, (b) give every near-dup pair the SAME split (the audit that
    flags the doc-hash split returns zero cross-split pairs here), and
    (c) keep singleton assignment identical to the doc-hash split
    (group_key == doc_id ⇒ same md5 bucket ⇒ same split), so adopting
    group-aware splitting only moves documents that needed moving.
    """
    from aws_weather_data_pipeline_spark.plans import similarity as sim
    from aws_weather_data_pipeline_spark.plans.sampling import (
        dataset_split_assignment,  # noqa: F401 (shape reference)
    )

    pairs = sim.near_dup_pairs_minhash(spark, sf_dir)
    split_df = sim.leakage_safe_split_assignment(spark, sf_dir)
    rows = split_df.collect()
    assert len(rows) == len({r["doc_id"] for r in rows})

    split_of = {r["doc_id"]: r["split"] for r in rows}
    group_of = {r["doc_id"]: r["group_key"] for r in rows}
    p = pairs.collect()
    assert p, "vacuous: no near-dup pairs at this SF"
    for r in p:
        assert split_of[r["doc_a"]] == split_of[r["doc_b"]], (
            r["doc_a"],
            r["doc_b"],
        )
        assert group_of[r["doc_a"]] == group_of[r["doc_b"]]

    # Singletons: same bucket function as the doc-hash split.
    clustered = {r["doc_a"] for r in p} | {r["doc_b"] for r in p}
    import hashlib

    for doc_id, gk in group_of.items():
        if doc_id in clustered:
            continue
        assert gk == doc_id
        b = int(hashlib.md5(str(doc_id).encode()).hexdigest()[:15], 16) % 100
        expected = "train" if b < 80 else ("val" if b < 90 else "test")
        assert split_of[doc_id] == expected


def test_pq_codebook_source_agnostic_kmeans_training(spark, sf_dir):
    """The PQ assignment plan's codebook-source-agnostic claim, proven:
    one Lloyd update per subspace (means of the first-k assignment's
    cells, floored to integers exactly like kmeans_lloyd_assignments)
    plugs into the SAME _pq_codes plan and must (a) produce valid
    codes for every vector, (b) REDUCE total quantization error vs
    the untrained first-k codebook (Lloyd monotonicity — measured
    ~28% at sf0.01), and (c) stay deterministic across runs.
    """
    from pyspark.sql import functions as F

    from aws_weather_data_pipeline_spark.plans.similarity import (
        PQ_K,
        PQ_M,
        _emb,
        _pq_codebook,
        _pq_codes,
        _pq_subvectors,
    )

    with cached(_pq_subvectors(_emb(spark, sf_dir))) as sub, cached(
        _pq_codes(sub, _pq_codebook(sub))
    ) as codes0:
        t0 = codes0.agg(F.sum("sq_dist")).first()[0]

        ex = (
            codes0.join(sub, ["vec_id", "subspace"])
            .select(
                "subspace",
                "code",
                F.posexplode("subvec").alias("dim", "val"),
            )
            .groupBy("subspace", "code", "dim")
            .agg(
                F.expr(
                    "(sum(val) - pmod(sum(val), count(1))) div count(1)"
                ).alias("cq")
            )
        )
        trained = (
            ex.groupBy("subspace", "code")
            .agg(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("dim", "cq"))),
                    lambda s: s["cq"],
                ).alias("cvec")
            )
            .select(F.col("code").alias("cid"), "subspace", "cvec")
        )
        codes1 = _pq_codes(sub, trained)
        rows = codes1.collect()
        assert len(rows) == sub.select("vec_id").distinct().count() * PQ_M
        assert all(0 <= r["code"] < PQ_K for r in rows)

        t1 = sum(r["sq_dist"] for r in rows)
        assert t1 < t0, f"training did not reduce error: {t1} vs {t0}"

        again = {
            (r["vec_id"], r["subspace"], r["code"])
            for r in _pq_codes(sub, trained).collect()
        }
        assert again == {
            (r["vec_id"], r["subspace"], r["code"]) for r in rows
        }


def test_pagerank_conserves_integer_mass(spark, sf_dir):
    """Floor-division PageRank may only LEAK mass (a few units per
    edge per iteration — ~1e-7 of total here), never create it.
    Duplicated edges, a broken join, or double-counted inflow would
    inflate the total; a lost partition would crater it."""
    from aws_weather_data_pipeline_spark.plans.graph import (
        PR_MASS,
        pagerank_trade_graph,
    )

    rows = pagerank_trade_graph(spark, sf_dir).collect()
    total = sum(r["rank_scaled"] for r in rows)
    assert total <= PR_MASS
    assert total >= int(PR_MASS * 0.99)
    assert all(r["rank_scaled"] > 0 for r in rows)
    # symmetrized bipartite graph: every node keeps a row
    assert len(rows) == len({r["node"] for r in rows})


def test_scd2_intervals_partition_user_history(spark, sf_dir):
    """SCD2 output must PARTITION each user's history: exactly one
    open (is_current) version, contiguous version numbers, intervals
    chained valid_to == next valid_from, and run sizes summing to the
    user's full event count."""
    from collections import defaultdict

    from pyspark.sql import functions as F

    from aws_weather_data_pipeline_spark.plans.temporal import (
        _events,
        scd2_user_state,
    )

    rows = scd2_user_state(spark, sf_dir).collect()
    by_user = defaultdict(list)
    for r in rows:
        by_user[r["user_id"]].append(r)
    ev_counts = {
        r["user_id"]: r["n"]
        for r in _events(spark, sf_dir)
        .groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    assert set(by_user) == set(ev_counts)
    for uid, vs in by_user.items():
        vs.sort(key=lambda r: r["version"])
        assert [v["version"] for v in vs] == list(
            range(1, len(vs) + 1)
        )
        assert sum(v["n_events"] for v in vs) == ev_counts[uid]
        assert [v["is_current"] for v in vs] == [False] * (
            len(vs) - 1
        ) + [True]
        for a, b in zip(vs, vs[1:]):
            assert a["valid_to"] == b["valid_from"]
            # consecutive versions always differ in state — that's
            # what makes them versions
            assert a["state"] != b["state"]
        assert vs[-1]["valid_to"] is None


def test_ann_recall_keeps_zero_hit_queries(spark, sf_dir):
    from aws_weather_data_pipeline_spark.plans.similarity import (
        N_QUERY,
        RECALL_K,
        ann_recall_at_k,
    )

    rows = ann_recall_at_k(spark, sf_dir).collect()
    assert {r["query_id"] for r in rows} == set(range(N_QUERY))
    for r in rows:
        assert 0 <= r["n_hits"] <= RECALL_K
        assert r["recall_permille"] == r["n_hits"] * 1000 // RECALL_K


def test_scd2_reuses_one_user_shuffle(spark, sf_dir):
    """The SCD2 plan must hash-exchange on user_id exactly ONCE: the
    change flags, the running version, the per-run aggregate, and the
    interval-closing lead() all consume the same partitioning. A
    second exchange means a window or grouping key drifted off
    user_id and the plan re-shuffles the full event stream."""
    df = CATALOG.queries["scd2_user_state"].builder(spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    n_exchanges = plan.count("Exchange hashpartitioning")
    assert n_exchanges == 1, (
        f"scd2_user_state has {n_exchanges} hash exchanges, "
        "expected 1 (all stages share the user_id partitioning)"
    )


def test_pagerank_has_no_cartesian_or_nlj(spark, sf_dir):
    """Every PageRank iteration must be an equi-join against the edge
    list; with the node count folded in as a literal there is no
    scalar cross-join left. A CartesianProduct or
    BroadcastNestedLoopJoin anywhere would be quadratic at scale."""
    from aws_weather_data_pipeline_spark.plans.graph import (
        pagerank_trade_graph,
    )

    plan = _formatted(pagerank_trade_graph(spark, sf_dir))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_embedding_fixture_dim_matches_constant(spark, sf_dir):
    """_EMB_DIM (hyperplane-LSH planes, PQ subspace slicing) is a
    hard-coded assumption about the embeddings fixture, and the two
    engines DISAGREE when it drifts: Spark's zip_with null-pads short
    arrays (dot sum -> null -> bit 0) while DuckDB's out-of-range
    index skips elements (partial sum -> either bit) — a dim mismatch
    would surface as a confusing LSH parity failure far from the
    cause. Fail fast at the fixture instead."""
    from pyspark.sql import functions as F

    from aws_weather_data_pipeline_spark.plans.similarity import (
        _EMB_DIM,
        _emb,
    )

    bad = (
        _emb(spark, sf_dir)
        .filter(F.size("embedding") != _EMB_DIM)
        .count()
    )
    assert bad == 0
    # NULL elements are the other engine-divergence trap: Spark's
    # aggregate/zip_with propagates NULL while DuckDB's list_sum
    # SKIPS it, and min(struct)/ROW_NUMBER order NULL distances
    # oppositely — reproduced against an adversarial fixture in
    # review r06. Pin the fixture clean.
    nulls = (
        _emb(spark, sf_dir)
        .filter(F.exists("embedding", lambda x: x.isNull()))
        .count()
    )
    assert nulls == 0


def test_funnel_survives_degenerate_docs(spark, tmp_path):
    """Review r06 (reproduced): a document with 0 or 1 tokens made
    corpus_filter_funnel ABORT under ANSI mode — sequence(0, size-2)
    for size=1 is the DESCENDING [0,-1], whose bigram lambda indexes
    tokens[1] out of bounds. The guarded _BIGRAM_EXPR must charge
    such docs to gate 1 (length) instead of crashing."""
    from aws_weather_data_pipeline_spark.plans.corpus import (
        corpus_filter_funnel,
    )

    import pyarrow as pa
    import pyarrow.parquet as pq

    texts = [
        "",
        "x",
        "two words",
        "the quick brown fox jumps over a lazy dog and then "
        "runs far away into the quiet green field tonight",
    ]
    # single parquet FILE, the testdata layout load_spread expects
    pq.write_table(
        pa.table(
            {
                "doc_id": pa.array([1, 2, 3, 4], pa.int64()),
                "text": texts,
                "lang": ["en"] * 4,
                "source": ["web"] * 4,
                "n_chars": pa.array(
                    [len(t) for t in texts], pa.int64()
                ),
            }
        ),
        str(tmp_path / "documents.parquet"),
    )
    rows = {
        r["stage"]: r
        for r in corpus_filter_funnel(spark, str(tmp_path)).collect()
    }
    # docs 1-3 fail the length gate; doc 4 (18 tokens, stopwords,
    # sane word lengths, no repeated bigram) survives the funnel
    assert rows["length"]["n_failed"] == 3
    assert rows["repetition"]["n_surviving"] == 1


def test_documents_fixture_is_ascii(spark, sf_dir):
    """Every multimodal oracle re-derives payload statistics from TEXT
    with char arithmetic while the Spark side operates on encoded
    BYTES — the two agree only while the corpus is pure ASCII (a
    multi-byte char makes rpad-by-chars produce more bytes than
    w*h*3, which _decode_ppm then silently truncates; review r06).
    Pin the assumption at the fixture, where a violation is one clear
    failure instead of a scattered hash mismatch."""
    from pyspark.sql import functions as F

    from aws_weather_data_pipeline_spark.sources.tables import (
        load_tables,
    )

    docs = load_tables(spark, sf_dir, ("documents",))["documents"]
    non_ascii = docs.filter(
        F.octet_length(F.col("text")) != F.length(F.col("text"))
    ).count()
    assert non_ascii == 0


def test_cdc_merge_semantics_on_crafted_changes(spark):
    # The fixture's change feed has deletes-of-existing only — this
    # pins the branches the oracle compare never sees: pure INSERT
    # (key with no base history), DELETE of an absent key (no-op),
    # last-writer-wins collapse of multiple same-batch changes, an
    # untouched base row, and NULL keys on both sides (SQL join
    # semantics: never matched, each side kept independently).
    from datetime import datetime

    from pyspark.sql import Row

    from aws_weather_data_pipeline_spark.plans.temporal import (
        cdc_merge_plan,
    )

    jan = lambda d, eid, uid, et, v: Row(  # noqa: E731
        event_id=eid,
        ts=datetime(2024, 1, d, 12, 0, 0),
        user_id=uid,
        event_type=et,
        value=float(v),
        props="{}",
    )
    ev = spark.createDataFrame(
        [
            # user 1: base only -> kept
            jan(5, 1, 1, "view", 10),
            # user 2: base + two post-cutoff changes -> LWW takes the
            # later (click), not the earlier (purchase)
            jan(5, 2, 2, "view", 20),
            jan(20, 3, 2, "purchase", 21),
            jan(21, 4, 2, "click", 22),
            # user 3: base + last change is error -> deleted
            jan(5, 5, 3, "view", 30),
            jan(20, 6, 3, "error", 31),
            # user 4: no base, post-cutoff change -> inserted
            jan(22, 7, 4, "signup", 40),
            # user 5: no base, delete of absent key -> no-op (absent)
            jan(22, 8, 5, "error", 50),
            # NULL keys: one base row, one change row — join never
            # matches NULL, so the base NULL row is kept and the
            # change NULL row inserts
            jan(5, 9, None, "view", 60),
            jan(22, 10, None, "click", 61),
        ]
    )
    rows = {
        (r["user_id"], r["action"]): r
        for r in cdc_merge_plan(ev).collect()
    }
    by_user = {}
    for (uid, action), r in rows.items():
        by_user.setdefault(uid, []).append((action, r))
    assert [a for a, _ in by_user[1]] == ["kept"]
    ((a2, r2),) = by_user[2]
    assert a2 == "updated" and r2["state"] == "click"
    assert r2["value"] == 22.0
    assert 3 not in by_user  # deleted
    ((a4, r4),) = by_user[4]
    assert a4 == "inserted" and r4["state"] == "signup"
    assert 5 not in by_user  # delete of absent key: no-op
    null_actions = sorted(a for a, _ in by_user[None])
    assert null_actions == ["inserted", "kept"]


def test_bpe_train_plan_is_broadcast_only(spark, sf_dir):
    # Every per-round winner is a 1-row frame joined back by
    # broadcast; the vocabulary-sized word table must never be
    # shuffle-joined (a SortMergeJoin would mean a winner frame was
    # estimated large, breaking the rounds-are-cheap scale story).
    from aws_weather_data_pipeline_spark.plans.text import (
        bpe_train_plan,
        bpe_words,
    )

    words0 = bpe_words(spark, sf_dir)
    plan = _formatted(bpe_train_plan(words0))
    assert "SortMergeJoin" not in plan, plan
    assert "CartesianProduct" not in plan, plan


def test_bpe_encode_vocab_is_broadcast_fold_without_shuffle(spark):
    # Encoding is VOCABULARY-sized work: each merge round must apply
    # as a broadcast of the 1-row winner into a per-row string
    # replace — zero hash-shuffle Exchanges in the whole fold. A
    # hashpartitioning Exchange here means a round regressed into a
    # shuffle join, which at corpus scale re-shuffles the vocabulary
    # once per merge round (the defect class the trainer's pin
    # guards; this is the encoder's twin, VERDICT r08 #6).
    from aws_weather_data_pipeline_spark.plans.text import (
        bpe_encode_vocab,
    )

    vocab = spark.createDataFrame(
        [("alpha",), ("beta",), ("aa",)], "token string"
    )
    merges = spark.createDataFrame(
        [(1, "a", "a"), (2, "aa", "l"), (3, "b", "e")],
        "merge_round int, lhs string, rhs string",
    )
    df = bpe_encode_vocab(vocab, merges, rounds=3)
    plan = _formatted(df)
    assert "hashpartitioning" not in plan, plan
    n_bnlj = sum(
        1
        for line in plan.splitlines()
        if line.lstrip().startswith("(")
        and ") BroadcastNestedLoopJoin" in line
    )
    assert n_bnlj == 3, plan
    # and the fold is semantically right: rank order, leftmost-first
    out = {r["token"]: list(r["bpe"]) for r in df.collect()}
    assert out["aa"] == ["aa"]  # round 1 merges, round 2 needs an 'l'
    assert out["alpha"] == ["a", "l", "p", "h", "a"]  # no adjacent a,a
    assert out["beta"] == ["be", "t", "a"]  # round 3 applies


def test_minhash_hot_bucket_cap_bounds_candidates_keeps_true_pairs(
    spark, tmp_path, caplog
):
    """The r15 scale-probe finding: on a corpus whose shingle
    distribution does not diversify with size (boilerplate), LSH
    band-buckets grow with n and candidates grow n² (measured 23.7k →
    2.32M at 10× docs). The ``max_bucket`` cap must (a) remove the
    hot-bucket pair blowup, (b) keep every planted near-dup (their
    buckets are small, and a true pair has N_BANDS chances), and
    (c) default to EXACT uncapped semantics so the catalog oracle
    parity is untouched."""
    from aws_weather_data_pipeline_spark.plans import similarity as sim
    from tests.conftest import SF_SMOKE

    words = [f"w{i}" for i in range(40)]
    boiler = " ".join(words[:12])  # one shared template → hot buckets
    docs = [(i, boiler) for i in range(120)]
    # planted near-dups on disjoint vocab: one-token edits, J≈0.9
    base_a = " ".join(words[12:26])
    base_b = " ".join(words[26:40])
    docs += [
        (200, base_a), (201, base_a.replace("w13", "zz")),
        (300, base_b), (301, base_b.replace("w27", "qq")),
    ]
    d = sim._with_shingles(
        spark.createDataFrame(docs, "doc_id long, text string")
    )
    sigs = d.select("doc_id", "shingles", *sim.minhash_signature_cols())
    import logging

    with cached(sigs) as sigs:
        sigs.count()
        uncapped = sim._minhash_candidates(sigs).count()
        with caplog.at_level(
            logging.WARNING, logger=sim._LOG.name
        ):
            capped = {
                (r.doc_a, r.doc_b)
                for r in sim._minhash_candidates(sigs, max_bucket=20)
                .collect()
            }
    assert uncapped >= 120 * 119 / 2  # the boilerplate blowup
    assert len(capped) < 20  # bounded: hot buckets excluded
    assert (200, 201) in capped and (300, 301) in capped
    # the cap's recall effect is AUDITED (ADVICE r15): a warning
    # records how many band-rows the over-cap buckets dropped —
    # the 120 boilerplate docs collide in every one of their bands
    dropped = [
        r.getMessage()
        for r in caplog.records
        if "max_bucket=20 excluded" in r.getMessage()
    ]
    assert dropped and "band-rows" in dropped[0]

    # default-parity on the real smoke corpus: a cap far above every
    # bucket is a no-op, bit-identical pairs
    plain = {
        (r.doc_a, r.doc_b, r.jaccard)
        for r in sim.near_dup_pairs_minhash(spark, SF_SMOKE).collect()
    }
    nocap = {
        (r.doc_a, r.doc_b, r.jaccard)
        for r in sim.near_dup_pairs_minhash(
            spark, SF_SMOKE, max_bucket=1 << 30
        ).collect()
    }
    assert plain == nocap and plain


def test_minhash_capped_bands_persist_single_window(spark, tmp_path):
    """In capped executing mode the window count that applies the
    hot-bucket cap must run ONCE, not once per self-join side — the
    caller passes a ``stack`` and the capped bands frame is cached on
    it. Pins (a) result parity with the lazy path, (b) both self-join
    sides read the cache, (c) the stack releases the bands cache."""
    from contextlib import ExitStack

    from aws_weather_data_pipeline_spark.plans import similarity as sim

    words = [f"w{i}" for i in range(40)]
    boiler = " ".join(words[:12])
    docs = [(i, boiler) for i in range(60)]
    base_a = " ".join(words[12:26])
    docs += [(200, base_a), (201, base_a.replace("w13", "zz"))]
    d = sim._with_shingles(
        spark.createDataFrame(docs, "doc_id long, text string")
    )
    cache_manager = spark._jsparkSession.sharedState().cacheManager()
    spark.catalog.clearCache()
    sigs = d.select("doc_id", "shingles", *sim.minhash_signature_cols())
    with cached(sigs) as sigs:
        sigs.count()
        plain = {
            (r.doc_a, r.doc_b)
            for r in sim._minhash_candidates(sigs, max_bucket=20).collect()
        }
        with ExitStack() as stack:
            cand = sim._minhash_candidates(sigs, max_bucket=20, stack=stack)
            got = {(r.doc_a, r.doc_b) for r in cand.collect()}
            assert got == plain
            assert (200, 201) in got
            # sigs plus the one capped-bands frame
            assert cache_manager.cachedData().size() == 2
            plan = _formatted(cand)
            # BOTH self-join sides read the cache — the windowed cap
            # subplan executes once, at the eager cache fill. (formatted
            # explain re-prints the cached relation's definition inline
            # per reference, so counting Window nodes in the TEXT cannot
            # distinguish the shapes; the InMemoryTableScan pair can.)
            assert plan.count("InMemoryTableScan") >= 2, plan
        assert cache_manager.cachedData().size() == 1  # sigs only
    assert cache_manager.isEmpty()


@pytest.mark.parametrize("cap", [1, 0, -1])
def test_minhash_bucket_cap_below_two_is_refused(spark, cap):
    """A cap below 2 keeps no bucket that can hold a pair, so the band
    join would return no candidates with only a log warning; it is
    refused before the cap's audit job runs."""
    from aws_weather_data_pipeline_spark.plans import similarity as sim
    from tests.conftest import count_jobs

    d = sim._with_shingles(
        spark.createDataFrame([(1, "a b c d")], "doc_id long, text string")
    )
    sigs = d.select("doc_id", *sim.minhash_signature_cols())

    def refuse():
        with pytest.raises(ValueError, match="max_bucket"):
            sim._minhash_candidates(sigs, max_bucket=cap)

    assert count_jobs(spark, f"test-minhash-cap-{cap}", refuse) == 0


#: Spark jobs each near-dup cluster consumer starts, builder plus noop
#: write, on the ``sf_dir`` corpus. Most of them are the cluster map's
#: connected-components rounds, all run by ``_cluster_map``.
NEAR_DUP_MAX_JOBS = {
    "near_dup_pairs_minhash": 11,
    "near_dup_clusters": 33,
    "dedup_cascade_keep_list": 37,
    "leakage_safe_split_assignment": 36,
    "corpus_build_manifest": 38,
    "dedup_attrition_by_source": 39,
}


def test_near_dup_cluster_consumer_job_counts(spark, sf_dir):
    from tests.conftest import count_jobs

    def run(name):
        df = CATALOG.queries[name].builder(spark, sf_dir)
        df.write.format("noop").mode("overwrite").save()

    counts = {
        name: count_jobs(spark, f"test-near-dup-{name}", lambda: run(name))
        for name in NEAR_DUP_MAX_JOBS
    }
    assert all(
        counts[n] <= most for n, most in NEAR_DUP_MAX_JOBS.items()
    ), counts


def test_explain_dump_shows_the_plans_behind_a_detached_frame(spark):
    """A builder that detaches its result returns a one-node ``Scan
    ExistingRDD`` plan; the dump adds the plan of every frame the
    builder checkpointed, and puts the checkpoint methods back."""
    import importlib.util
    import os

    from tests.conftest import SF_SMOKE

    path = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        "tools",
        "explain_dump.py",
    )
    spec = importlib.util.spec_from_file_location("_explain_dump", path)
    tool = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(tool)
    cls = type(spark.range(0))
    before = (cls.localCheckpoint, cls.checkpoint)

    text = tool.dump(spark, CATALOG, "near_dup_pairs_winnow", SF_SMOKE)
    returned, _, checkpointed = text.partition("== checkpointed frame 1 ==")
    assert "Scan ExistingRDD" in returned and "Join" not in returned
    assert "Scan parquet" in checkpointed and "Join" in checkpointed
    assert (cls.localCheckpoint, cls.checkpoint) == before


def test_semantic_dedup_k_scales_cells_and_keeps_exact_dups(
    spark, tmp_path
):
    """SemDeDup's 100 TB path is k ≈ √n (the r15 probe measured the
    fixed-k catalog shape going superlinear at 10× vectors: Σ|cell|²
    with 10× denser cells). The ``k`` parameter must actually refine
    the cells — more, smaller cells at higher k — while EXACT
    duplicate vectors (same quantized vector → same deterministic
    assignment at any k, cosine 1 ≥ threshold) stay deduped."""
    import numpy as np

    from aws_weather_data_pipeline_spark.plans import clustering as cl

    rng = np.random.default_rng(7)
    vecs = rng.normal(0, 1, (400, 64)).astype("float32")
    rows = [(i, [float(x) for x in vecs[i]], int(i % 4))
            for i in range(400)]
    # planted EXACT duplicates: 410..419 copy 0..9
    rows += [(410 + i, [float(x) for x in vecs[i]], 0)
             for i in range(10)]
    sf = str(tmp_path)
    # single parquet FILE (pyarrow), matching the testdata layout —
    # load_tables reads each table's footer at the file path
    import pyarrow as pa
    import pyarrow.parquet as pq

    pq.write_table(
        pa.table(
            {
                "vec_id": pa.array([r[0] for r in rows], pa.int64()),
                "embedding": pa.array(
                    [r[1] for r in rows], pa.list_(pa.float32())
                ),
                "label": pa.array([r[2] for r in rows], pa.int32()),
            }
        ),
        f"{sf}/embeddings.parquet",
    )

    out8 = cl.semantic_dedup_keep_list(spark, sf, k=cl.KMEANS_K).collect()
    out32 = cl.semantic_dedup_keep_list(spark, sf, k=32).collect()
    # k=None (the library DEFAULT, r16) resolves k = max(KMEANS_K,
    # ceil(sqrt(n))) from one count — the scale-safe shape is what a
    # caller gets without knowing the knob exists
    out_default = cl.semantic_dedup_keep_list(spark, sf).collect()
    k_default = max(cl.KMEANS_K, 21)  # ceil(sqrt(410)) = 21
    # the catalog/driver fixture stays PINNED at KMEANS_K so the
    # DuckDB oracle's unrolled fixed-k CTE keeps hashing identically
    out_fixture = cl._semantic_dedup_keep_list_fixture(spark, sf).collect()
    for out, k in (
        (out8, cl.KMEANS_K),
        (out32, 32),
        (out_default, k_default),
        (out_fixture, cl.KMEANS_K),
    ):
        by_id = {r.vec_id: r for r in out}
        assert len(by_id) == 410
        clusters = {r.cluster for r in out}
        assert len(clusters) == k  # the knob actually refines cells
        for i in range(10):  # exact dups: larger id never survives
            assert by_id[410 + i].kept is False, (k, 410 + i)
            assert by_id[410 + i].cluster == by_id[i].cluster
    # finer cells ⇒ smaller max cell ⇒ the Σ|cell|² pair work shrinks
    from collections import Counter

    max8 = max(Counter(r.cluster for r in out8).values())
    max32 = max(Counter(r.cluster for r in out32).values())
    assert max32 < max8
