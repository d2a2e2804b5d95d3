"""Corpus sampling, split assignment, and chunking catalog queries.

The dataset-engineering operators a large-scale training-data pipeline
runs between dedup and training — each expressed so the decision for a
row depends ONLY on that row (embarrassingly parallel, no shuffle, no
driver round-trip, reproducible across engines and cluster sizes):

- **Deterministic sampling** replaces ``df.sample()`` for corpus
  subsetting: Bernoulli on a content-derived hash instead of a seeded
  PRNG, because PRNG streams depend on partitioning (a repartition
  changes which rows a seed selects) while a hash of the row's own key
  never does. The same predicate selects the same rows on 1 executor
  or 1000.
- **Split assignment** is the same hash mapped through fixed bucket
  boundaries — a row can never migrate between train/val/test when the
  corpus is re-partitioned, re-ordered, or incrementally re-built
  (the leakage-safety property seeded ``randomSplit`` lacks).
- **Chunking** explodes each document into fixed-size token windows
  (the pre-tokenization step of sequence packing). Generator
  expansion, not a join: rows multiply by ceil(len/CHUNK), the
  explode collapses into the scan stage, and downstream shuffles see
  only (doc_id, chunk_id) keys.

Reference parity: the reference has no sampling surface — this module
is pure north-star extension (BASELINE.md's training-data operators).
"""

from __future__ import annotations

import re

from pyspark.sql import DataFrame, SparkSession, Window, functions as F

from ..sources.tables import load_spread
from .registry import QueryCatalog

CATALOG = QueryCatalog()

#: Sampling rate: keep rows whose 60-bit content hash lands in the
#: lowest SAMPLE_PCT buckets of 100.
SAMPLE_PCT = 10

#: Split boundaries over hash mod 100: [0,80) train, [80,90) val,
#: [90,100) test.
TRAIN_HI = 80
VAL_HI = 90

#: Tokens per training chunk.
CHUNK_TOKENS = 32


def _docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return load_spread(spark, sf_dir, "documents")


#: 60-bit integer hash of the doc id — md5 so both engines agree
#: bit-for-bit (Spark's xxhash64 seed differs from DuckDB's hash).
_KEYHASH_SQL = (
    "('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT"
)
_KEYHASH_SPARK = (
    "cast(conv(substr(md5(cast(doc_id as string)), 1, 15), 16, 10) as bigint)"
)


def split_expr(key: str = "doc_id") -> F.Column:
    """The ONE Spark-side train/val/test assignment expression: md5
    bucket of ``key`` (cast to string) against the TRAIN_HI/VAL_HI
    boundaries. ``key`` is a column NAME inlined into the md5/conv
    SQL (key='doc_id' reproduces _KEYHASH_SPARK exactly).

    Shared by dataset_split_assignment, leakage_safe_split_assignment,
    leakage_audit, and corpus_build_manifest (ADVICE r16 / VERDICT r16
    task 5: the bucket hash + boundary CASE was duplicated verbatim at
    those sites, so a hash or boundary retune had to be made in four
    places). Expression-level — sharing it adds no plan node.

    Raises ``ValueError`` for a ``key`` that is not a plain
    identifier, since it is pasted into SQL text.
    """
    if not re.fullmatch(r"[A-Za-z_][A-Za-z0-9_]*", key):
        raise ValueError(f"split_expr key must be a plain identifier: {key!r}")
    bucket = F.expr(
        f"cast(conv(substr(md5(cast({key} as string)), 1, 15), 16, 10)"
        f" as bigint) % 100"
    )
    return (
        F.when(bucket < TRAIN_HI, "train")
        .when(bucket < VAL_HI, "val")
        .otherwise("test")
    )


@CATALOG.add(
    "deterministic_doc_sample",
    f"""
    SELECT doc_id, lang, n_chars
    FROM documents
    WHERE {_KEYHASH_SQL} % 100 < {SAMPLE_PCT}
    """,
    doc=f"Deterministic {SAMPLE_PCT}% Bernoulli sample keyed on "
    "md5(doc_id): the keep/drop decision is a pure function of the "
    "row, so the sample is identical under any partitioning, executor "
    "count, or re-run — unlike seeded df.sample(), whose PRNG stream "
    "follows partition boundaries. Predicate evaluates inside the "
    "scan (no shuffle, no sort); at 100 TB this is the only sampling "
    "shape that is both single-pass and exactly reproducible. "
    "Changing the percentage keeps subset monotonicity: the 10% "
    "sample is a superset of the 5% one (hash < threshold nests).",
    tags=("sampling", "filter"),
)
def deterministic_doc_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _docs(spark, sf_dir)
    return d.filter(
        F.expr(f"{_KEYHASH_SPARK} % 100") < SAMPLE_PCT
    ).select("doc_id", "lang", "n_chars")


@CATALOG.add(
    "dataset_split_assignment",
    f"""
    WITH h AS (
        SELECT doc_id, {_KEYHASH_SQL} % 100 AS bucket FROM documents
    )
    SELECT CASE WHEN bucket < {TRAIN_HI} THEN 'train'
                WHEN bucket < {VAL_HI} THEN 'val'
                ELSE 'test' END AS split,
           COUNT(*) AS n_docs,
           MIN(doc_id) AS min_doc_id,
           MAX(doc_id) AS max_doc_id
    FROM h
    GROUP BY 1
    """,
    doc="Train/val/test split assignment (80/10/10) via fixed bucket "
    "boundaries over the content-key hash. Hash-based assignment is "
    "the leakage-safe form: a document's split is immutable under "
    "re-partitioning, incremental corpus rebuilds, and engine "
    "changes, where seeded randomSplit re-deals every row each run. "
    "The audit aggregation here is one hash-shuffle on a 3-value key; "
    "the assignment itself is a per-row expression usable as a "
    "partition column at write time (so training reads prune to "
    "their split's files).",
    tags=("sampling", "agg"),
)
def dataset_split_assignment(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _docs(spark, sf_dir)
    split = split_expr("doc_id")
    return (
        d.select(split.alias("split"), "doc_id")
        .groupBy("split")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.min("doc_id").alias("min_doc_id"),
            F.max("doc_id").alias("max_doc_id"),
        )
    )


#: Per-source keep rates (percent of 100): a high-quality bucket, a
#: mid bucket, and a default — the mixture-weighting pattern.
MIXTURE_RATES = (
    ("('src0', 'src1', 'src2', 'src3')", 80),
    ("('src4', 'src5', 'src6', 'src7')", 40),
)
MIXTURE_DEFAULT = 10


def _rate_case_sql() -> str:
    whens = " ".join(
        f"WHEN source IN {srcs} THEN {rate}"
        for srcs, rate in MIXTURE_RATES
    )
    return f"CASE {whens} ELSE {MIXTURE_DEFAULT} END"


@CATALOG.add(
    "corpus_mixture_sample",
    f"""
    SELECT doc_id, source, rate
    FROM (
        SELECT doc_id, source, {_rate_case_sql()} AS rate
        FROM documents
    )
    WHERE {_KEYHASH_SQL} % 100 < rate
    """,
    doc="Mixture-weighted corpus sampling: each source bucket keeps a "
    "different deterministic fraction (80/40/10%) — the reweighting "
    "step that turns raw source proportions into a training mixture. "
    "Same hash-Bernoulli core as deterministic_doc_sample, so the "
    "kept set is stable under re-partitioning and incremental "
    "rebuilds, and raising a source's rate strictly grows its subset "
    "(threshold nesting) — reproducible mixture ablations. Pure "
    "per-row predicate: no shuffle, evaluates in the scan stage.",
    tags=("sampling", "filter"),
)
def corpus_mixture_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _docs(spark, sf_dir)
    rate = F.expr(_rate_case_sql())
    return (
        d.select("doc_id", "source", rate.alias("rate"))
        .filter(F.expr(f"{_KEYHASH_SPARK} % 100") < F.col("rate"))
    )


# --------------------------------------------------------------------------
# Temperature-scaled mixture sampling (source weights ∝ count^α, α=1/2)
# --------------------------------------------------------------------------

#: Target expected number of sampled documents across all sources.
TEMP_TARGET_DOCS = 200
#: Bernoulli modulus for the per-row keep decision.
TEMP_MODULUS = 1_000_000


@CATALOG.add(
    "temperature_mixture_sample",
    f"""
    WITH s AS (
        SELECT source, COUNT(*) AS c,
               CAST(floor(sqrt(COUNT(*)) * 1000) AS BIGINT) AS sq
        FROM documents GROUP BY source
    ),
    r AS (
        SELECT source, c,
               (CAST({TEMP_MODULUS} AS HUGEINT) * {TEMP_TARGET_DOCS} * sq)
                   // (CAST((SELECT SUM(sq) FROM s) AS HUGEINT) * c)
                   AS thresh
        FROM s
    )
    SELECT d.doc_id, d.source, CAST(r.thresh AS BIGINT) AS thresh
    FROM documents d JOIN r USING (source)
    WHERE {_KEYHASH_SQL} % {TEMP_MODULUS} < r.thresh
    """,
    doc="Temperature-scaled mixture sampling (multilingual-corpus "
    "rebalancing, α = 1/2): each source's share of the sampled corpus "
    "is proportional to count^α rather than count, flattening the "
    "head-source dominance the way multilingual pretraining flattens "
    "head languages. α = 1/2 is computed with sqrt — the ONE power "
    "IEEE 754 requires correctly rounded, so both engines quantize "
    "sqrt(count)·1000 to the identical integer and every downstream "
    "step (weight sum, per-source threshold, keep decision) is exact "
    "integer arithmetic: no float SUM, no pow() libm drift. The "
    "per-row decision is the same hash-Bernoulli as every sampler "
    "here (stable under re-partitioning; thresholds nest), with the "
    "per-source threshold arriving via a broadcast join of the tiny "
    "source-stats frame — at 100 TB that is one map-side pass after "
    "one count aggregation, and the stats frame is reusable across "
    "ablation runs with different targets.",
    tags=("sampling", "filter", "agg"),
)
def temperature_mixture_sample(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    d = _docs(spark, sf_dir)
    s = d.groupBy("source").agg(F.count(F.lit(1)).alias("c")).select(
        "source",
        "c",
        F.expr("cast(floor(sqrt(cast(c as double)) * 1000) as bigint)").alias(
            "sq"
        ),
    )
    # ``tot`` as an unpartitioned window over the POST-aggregate frame
    # (≤ #sources rows — the event_type_share discipline), not a
    # second aggregate crossJoined back: ``s`` fed both the total and
    # the threshold branch, and Spark does not dedupe common subplans,
    # so the former plan ran the per-source count aggregate — and its
    # full documents scan — TWICE per execution (r16 scan audit: 3
    # documents scans; the r08 corpus_filter_funnel defect class).
    # Same exact integer sum, one corpus scan removed (guide §2.4).
    tot_w = F.sum("sq").over(Window.partitionBy())
    # Threshold algebra in decimal(38,0)/HUGEINT from the FIRST
    # multiplication (the value_outliers_exact ADVICE class, found by
    # the r06 self-audit): tot*c >= c^1.5 * 1000 crosses BIGINT at
    # ~4e10 docs per source — ~100 TB of ~2 KB documents, exactly the
    # advertised regime. Spark decimal `div` and DuckDB HUGEINT `//`
    # both truncate toward zero identically (== floor here: every
    # operand is non-negative), and both return integer types.
    r = s.withColumn("tot", tot_w).select(
        "source",
        F.expr(
            f"(cast({TEMP_MODULUS} as decimal(38,0))"
            f" * {TEMP_TARGET_DOCS} * sq)"
            " div (cast(tot as decimal(38,0)) * c)"
        )
        .cast("bigint")
        .alias("thresh"),
    )
    return (
        d.join(F.broadcast(r), "source")
        .filter(
            F.expr(f"{_KEYHASH_SPARK} % {TEMP_MODULUS}") < F.col("thresh")
        )
        .select("doc_id", "source", "thresh")
    )


@CATALOG.add(
    "doc_stopword_filtered",
    """
    SELECT doc_id,
           md5(array_to_string(list_filter(string_split(text, ' '),
               t -> t NOT IN ('the', 'a')), ' ')) AS norm_hash,
           len(string_split(text, ' ')) AS n_tokens_before,
           len(list_filter(string_split(text, ' '),
               t -> t NOT IN ('the', 'a'))) AS n_tokens_after
    FROM documents
    """,
    doc="Stopword-removal normalization: drop function words, emit the "
    "md5 of the normalized text plus before/after token counts (the "
    "hash stands in for writing the normalized column — same bytes, "
    "driver-comparable size). All in-row array ops inside the scan "
    "stage: filter a token list, re-join, hash — no shuffle, no UDF. "
    "The normalize-then-hash shape is also the exact-dedup key "
    "builder for normalization-invariant dedup (dedup after "
    "normalization catches dups that differ only in stopwords).",
    tags=("sampling", "text"),
)
def doc_stopword_filtered(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _docs(spark, sf_dir)
    filtered = F.expr(
        "filter(split(text, ' '), t -> t NOT IN ('the', 'a'))"
    )
    return d.select(
        "doc_id",
        F.md5(F.array_join(filtered, " ")).alias("norm_hash"),
        F.size(F.split(F.col("text"), " ")).alias("n_tokens_before"),
        F.size(filtered).alias("n_tokens_after"),
    )


@CATALOG.add(
    "doc_chunk_tokens",
    f"""
    WITH t AS (
        SELECT doc_id, string_split(text, ' ') AS tk FROM documents
    )
    SELECT doc_id, c.chunk_id,
           CAST(len(tk[c.chunk_id * {CHUNK_TOKENS} + 1
                     : (c.chunk_id + 1) * {CHUNK_TOKENS}]) AS INTEGER)
               AS n_tokens,
           array_to_string(tk[c.chunk_id * {CHUNK_TOKENS} + 1
                              : (c.chunk_id + 1) * {CHUNK_TOKENS}],
                           ' ') AS chunk_text
    FROM t, unnest(range(0, CAST(ceil(len(tk) / {CHUNK_TOKENS}.0) AS BIGINT)))
            AS c(chunk_id)
    """,
    doc=f"Fixed-size chunking: each document explodes into "
    f"⌈len/{CHUNK_TOKENS}⌉ windows of {CHUNK_TOKENS} tokens (final "
    "chunk ragged) — the sequence-packing preparation step before "
    "tokenizer-aware packing. Generator expansion inside the scan "
    "stage: no join, no shuffle; output rows carry (doc_id, chunk_id) "
    "so downstream packing/shuffling keys are explicit. At 100 TB "
    "chunking is I/O-bound and embarrassingly parallel; the slice is "
    "an in-row array op on the already-split token array (split runs "
    "once per doc, not per chunk).",
    tags=("sampling", "text"),
)
def doc_chunk_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _docs(spark, sf_dir).withColumn(
        "tk", F.split(F.col("text"), " ")
    )
    n_chunks = F.expr(
        f"cast(ceil(size(tk) / cast({CHUNK_TOKENS} as double)) as bigint)"
    )
    d = d.withColumn(
        "chunk_id",
        F.explode(F.sequence(F.lit(0).cast("long"), n_chunks - 1)),
    )
    chunk = F.expr(
        f"slice(tk, cast(chunk_id * {CHUNK_TOKENS} + 1 as int),"
        f" {CHUNK_TOKENS})"
    )
    return d.select(
        "doc_id",
        "chunk_id",
        F.size(chunk).alias("n_tokens"),
        F.array_join(chunk, " ").alias("chunk_text"),
    )


# --------------------------------------------------------------------------
# Stratified exact-k sampling (per-group quota)
# --------------------------------------------------------------------------

#: Exact docs kept per language stratum.
STRATUM_K = 40


@CATALOG.add(
    "stratified_sample_per_lang",
    f"""
    WITH ranked AS (
        SELECT doc_id, lang,
               ROW_NUMBER() OVER (
                   PARTITION BY lang
                   ORDER BY {_KEYHASH_SQL}, doc_id
               ) AS stratum_rank
        FROM documents
    )
    SELECT doc_id, lang, CAST(stratum_rank AS BIGINT) AS stratum_rank
    FROM ranked WHERE stratum_rank <= {STRATUM_K}
    """,
    doc=f"Stratified sampling: EXACTLY {STRATUM_K} documents per "
    "language, chosen by rank under the content-keyed hash order — the "
    "language-balancing step of corpus construction (cap the head "
    "languages, keep the tail whole). Deterministic and partitioning-"
    "invariant like every sampler here: the hash order is a property "
    "of the rows, not of the execution. One shuffle on lang; rank "
    "window state is O(1) per group. Skew note: at 100 TB the top "
    "language is a hot partition — production would pre-aggregate a "
    "per-lang hash-threshold (rank≈k quantile) and turn the window "
    "into a per-row filter; at catalog scale the window is the "
    "clearer, exactly-k form.",
    tags=("sampling", "window"),
)
def stratified_sample_per_lang(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    d = _docs(spark, sf_dir)
    w = Window.partitionBy("lang").orderBy(
        F.expr(_KEYHASH_SPARK), "doc_id"
    )
    return (
        d.select(
            "doc_id",
            "lang",
            F.row_number().over(w).cast("bigint").alias("stratum_rank"),
        )
        .filter(F.col("stratum_rank") <= STRATUM_K)
    )


# --------------------------------------------------------------------------
# Sequence packing (document concatenation into fixed token budgets)
# --------------------------------------------------------------------------

#: Token budget per pack (a training context window).
PACK_BUDGET = 256
#: Independent packing shards; parallelism unit for the running sum.
N_PACK_SHARDS = 32


@CATALOG.add(
    "sequence_pack_assignment",
    f"""
    WITH t AS (
        SELECT doc_id, doc_id % {N_PACK_SHARDS} AS shard,
               len(string_split(text, ' ')) AS n_tokens
        FROM documents
    ),
    c AS (
        SELECT doc_id, shard, n_tokens,
               SUM(n_tokens) OVER (
                   PARTITION BY shard ORDER BY doc_id
                   ROWS UNBOUNDED PRECEDING
               ) AS cum_tokens
        FROM t
    )
    SELECT doc_id, CAST(shard AS BIGINT) AS shard,
           CAST(n_tokens AS BIGINT) AS n_tokens,
           CAST((cum_tokens - n_tokens) // {PACK_BUDGET} AS BIGINT)
               AS pack_index
    FROM c
    """,
    doc=f"Sequence packing: documents concatenate in doc_id order "
    f"within a shard and split into {PACK_BUDGET}-token packs; each "
    "doc is assigned the pack its first token falls in (GPT-style "
    "concat-then-split pretraining batches — docs may straddle pack "
    "boundaries, the loader masks across them). The running sum is "
    f"windowed PER SHARD (doc_id % {N_PACK_SHARDS}), never globally: "
    "a global ORDER BY window is a single-task serialization at any "
    "scale, while shards pack independently — at 100 TB raise the "
    "shard count with the cluster and packs stay deterministic "
    "because shard and order are row properties. Pack identity is "
    "the COMPOSITE (shard, pack_index) — an encoded shard·10⁶+index "
    "integer collides once a shard exceeds 1e6 packs (~2.6e8 "
    "tokens/shard, guaranteed at 100 TB; ADVICE r05), while the "
    "composite is collision-free without cross-shard coordination.",
    tags=("sampling", "window"),
)
def sequence_pack_assignment(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    d = _docs(spark, sf_dir).select(
        "doc_id",
        (F.col("doc_id") % N_PACK_SHARDS).alias("shard"),
        F.size(F.split("text", " ")).cast("bigint").alias("n_tokens"),
    )
    w = (
        Window.partitionBy("shard")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    start = F.sum("n_tokens").over(w) - F.col("n_tokens")
    return d.select(
        "doc_id",
        F.col("shard").cast("bigint").alias("shard"),
        "n_tokens",
        F.floor(start / PACK_BUDGET).cast("bigint").alias("pack_index"),
    )


# --------------------------------------------------------------------------
# Length-weighted deterministic sampling (inclusion ∝ document size)
# --------------------------------------------------------------------------

#: Weight normalizer: inclusion probability = n_chars / WEIGHT_NORM
#: (a config cap, NOT a corpus max — a data-dependent normalizer would
#: make every row's keep decision depend on a global aggregate and
#: change historical decisions when a longer doc arrives).
WEIGHT_NORM = 1000


@CATALOG.add(
    "length_weighted_doc_sample",
    f"""
    SELECT doc_id, n_chars,
           CAST(LEAST(n_chars, {WEIGHT_NORM}) AS DOUBLE)
               / {WEIGHT_NORM} AS inclusion_p
    FROM documents
    WHERE {_KEYHASH_SQL} % {WEIGHT_NORM} < LEAST(n_chars, {WEIGHT_NORM})
    """,
    doc="Weighted Bernoulli sampling with inclusion probability "
    "proportional to document LENGTH (token-budget-aware corpus "
    "subsetting: sampling docs uniformly under-represents long "
    "documents' tokens; sampling ∝ length approximates uniform-over-"
    "tokens). The decision is hash % NORM < weight — all-integer, a "
    "pure function of the row like every sampler here, so the kept "
    "set survives re-partitioning and incremental rebuilds, and "
    "raising a document's weight can only ADD it (threshold "
    f"nesting; weights clamp at the normalizer, so docs of "
    f">= {WEIGHT_NORM} chars saturate at p = 1.0 instead of "
    "overflowing the probability). "
    f"The normalizer is a config constant ({WEIGHT_NORM}), "
    "not a corpus max: a data-dependent normalizer would silently "
    "change past keep decisions whenever the corpus grows. Evaluates "
    "in the scan stage, no shuffle; at 100 TB this composes with the "
    "mixture sampler (rate × weight) in the same single pass.",
    tags=("sampling", "filter"),
)
def length_weighted_doc_sample(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    d = _docs(spark, sf_dir)
    # Clamp the weight at the normalizer: without it any doc with
    # n_chars >= NORM is kept with certainty AND reports
    # inclusion_p > 1 — at ~2 KB docs the "weighted" sample silently
    # degenerates to keep-everything and Horvitz-Thompson
    # reweighting by 1/inclusion_p goes wrong (review r06). Clamped,
    # long docs saturate at p = 1.0, the honest ceiling.
    w = F.least(F.col("n_chars"), F.lit(WEIGHT_NORM))
    return (
        d.filter(F.expr(f"{_KEYHASH_SPARK} % {WEIGHT_NORM}") < w)
        .select(
            "doc_id",
            "n_chars",
            (w.cast("double") / WEIGHT_NORM).alias("inclusion_p"),
        )
    )
