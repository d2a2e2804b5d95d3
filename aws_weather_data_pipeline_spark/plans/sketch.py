"""Mergeable-sketch catalog queries: HLL, Count-Min, and Bloom filters.

``COUNT(DISTINCT x)`` at 100 TB forces a full shuffle of every distinct
value. The scalable alternative is a mergeable sketch: each partition
folds its rows into a tiny fixed-size state, states merge associatively
(map-side combine, tree aggregation), and the estimate is read off the
merged state. Spark ships ``approx_count_distinct`` (HLL++), but its
binary sketch is engine-internal — useless for a cross-engine
correctness gate. This module implements the HLL *register table*
itself with engine-neutral arithmetic:

- hash: first 15 hex chars of md5 → 60-bit integer (md5 is the only
  hash both engines compute identically; same choice as SimHash).
- bucket: top 6 bits (m = 64 registers); rank ρ: position of the first
  set bit in the remaining 54 bits (string position over the
  zero-padded binary rendering — ``bin``/``lpad``/``instr`` behave
  identically in Spark and DuckDB), 55 when all 54 bits are zero.
- register value: MAX(ρ) per (group, bucket) — associative and
  commutative, so Spark's partial aggregation and DuckDB's parallel
  aggregation produce the identical register table regardless of row
  order or partitioning. All-integer ⇒ hash-exact.

The register table IS the sketch: 64 small ints per group, mergeable
across days/partitions/clusters by element-wise MAX. The floating-point
estimate (α·m²/Σ2^-ρ, with the small-range linear-counting correction)
is derived in ``hll_estimate`` below and accuracy-tested in pytest
against exact distinct counts; it stays out of the oracle-hashed
payload because Σ2^-ρ is an order-sensitive double sum.

The same pattern covers the other two workhorse sketches of a 100 TB
pipeline, both fully integer and therefore hash-exact end to end:

- **Count-Min** (``cms_user_activity_sketch``): a depth×width grid of
  exact counters, mergeable by element-wise ``+`` (SUM is associative);
  point estimates = min over depth rows, accuracy-tested in pytest.
- **Bloom filter** (``bloom_dedup_probe``): bit-packed membership words
  built by ``bit_or`` (associative), probed map-side to pre-screen an
  incremental dedup batch, with the exact verification join auditing
  the false-positive rate in the same result.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, SparkSession, functions as F

from ..session import cached, detach
from ..sources.tables import load_spread
from .registry import QueryCatalog

CATALOG = QueryCatalog()

#: 2^6 = 64 registers; standard error 1.04/sqrt(64) ≈ 13%.
HLL_BUCKET_BITS = 6
HLL_M = 1 << HLL_BUCKET_BITS
#: Bits hashed into the rank after removing the bucket index.
HLL_RANK_BITS = 60 - HLL_BUCKET_BITS
#: Bias-correction constant for m = 64 (Flajolet et al. 2007).
HLL_ALPHA = 0.709


@CATALOG.add(
    "hll_distinct_sketch",
    f"""
    WITH h AS (
        SELECT event_type,
               ('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 15)
               )::BIGINT AS h
        FROM events
    ),
    parts AS (
        SELECT event_type,
               CAST(h >> {HLL_RANK_BITS} AS BIGINT) AS bucket,
               h & ((1::BIGINT << {HLL_RANK_BITS}) - 1) AS rem
        FROM h
    )
    SELECT event_type, bucket,
           CAST(MAX(CASE WHEN rem = 0 THEN {HLL_RANK_BITS + 1}
                ELSE strpos(lpad(bin(rem), {HLL_RANK_BITS}, '0'), '1')
                END) AS INTEGER) AS max_rho
    FROM parts
    GROUP BY event_type, bucket
    """,
    doc=f"HyperLogLog register table (m = {HLL_M}) for distinct users "
    "per event type — the mergeable-sketch replacement for "
    "COUNT(DISTINCT) at 100 TB. Each row hashes to a 60-bit md5 "
    f"prefix; the top {HLL_BUCKET_BITS} bits pick a register and the "
    "first-set-bit position of the rest is the rank; MAX(rank) per "
    "register is associative, so partial aggregation collapses the "
    "corpus map-side and the shuffle carries at most "
    f"#groups × {HLL_M} rows — independent of data volume. Register "
    "tables from different partitions/days merge by element-wise MAX "
    "(tested). All-integer arithmetic keeps the sketch bit-exact "
    "across engines; the double-valued estimate derives from these "
    "registers and is accuracy-tested in pytest instead of the hashed "
    "payload.",
    tags=("sketch", "agg"),
)
def hll_distinct_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_spread(spark, sf_dir, "events")
    return _hll_registers(ev, "event_type", "user_id")


def _hll_registers(
    df: DataFrame, group_col: str, value_col: str
) -> DataFrame:
    """(group, bucket, max_rho) HLL register table for ``value_col``."""
    h = F.expr(
        f"cast(conv(substr(md5(cast(`{value_col}` as string)),"
        " 1, 15), 16, 10) as bigint)"
    )
    df = df.select(F.col(group_col), h.alias("h"))
    rem = F.expr(f"h & ((1L << {HLL_RANK_BITS}) - 1)")
    rho = (
        F.when(rem == 0, F.lit(HLL_RANK_BITS + 1))
        .otherwise(
            F.instr(
                F.lpad(F.bin(rem), HLL_RANK_BITS, "0"), "1"
            )
        )
    )
    return (
        df.select(
            group_col,
            F.expr(f"cast(shiftright(h, {HLL_RANK_BITS}) as bigint)").alias(
                "bucket"
            ),
            rho.alias("rho"),
        )
        .groupBy(group_col, "bucket")
        .agg(F.max("rho").cast("int").alias("max_rho"))
    )


def hll_estimate(registers: list[tuple[int, int]]) -> float:
    """HLL estimate from a (bucket, max_rho) register list.

    Driver-side arithmetic on the tiny merged register table (64
    entries), matching Flajolet et al. 2007: raw harmonic-mean
    estimate with the linear-counting correction for small
    cardinalities. Used by tests to check sketch accuracy against
    exact distinct counts; not part of any oracle-hashed payload.
    """
    rho = {b: r for b, r in registers}
    zeros = HLL_M - len(rho)
    denom = zeros + sum(2.0 ** -r for r in rho.values())
    raw = HLL_ALPHA * HLL_M * HLL_M / denom
    if raw <= 2.5 * HLL_M and zeros:
        return HLL_M * math.log(HLL_M / zeros)
    return raw


# --------------------------------------------------------------------------
# Count-Min sketch (heavy-hitter frequency estimation, exact counters)
# --------------------------------------------------------------------------

#: Independent hash rows; estimate = min over rows (overcount-only bias).
CMS_DEPTH = 3
#: Counters per row; expected overcount ≤ e/width · total weight.
CMS_WIDTH = 64


@CATALOG.add(
    "cms_user_activity_sketch",
    f"""
    WITH h AS (
        SELECT d.j AS depth,
               (('0x' || substr(md5('cms' || CAST(d.j AS VARCHAR) || ':'
                                    || CAST(user_id AS VARCHAR)), 1, 15)
                )::BIGINT) % {CMS_WIDTH} AS col
        FROM events, unnest(range(0, {CMS_DEPTH})) AS d(j)
    )
    SELECT CAST(depth AS INTEGER) AS depth,
           CAST(col AS BIGINT) AS col,
           COUNT(*) AS n
    FROM h
    GROUP BY depth, col
    """,
    doc=f"Count-Min sketch ({CMS_DEPTH}×{CMS_WIDTH}) of per-user event "
    "counts — the streaming/heavy-hitter answer to 'how often does key "
    "x occur' when the key space is too large to count exactly. Each "
    "row hashes into one counter per depth via independent md5-salted "
    "hashes; counters are exact integer SUMs, so the grid is "
    "associative-mergeable (map-side combine collapses the corpus; "
    f"the shuffle carries ≤ {CMS_DEPTH * CMS_WIDTH} rows regardless "
    "of data volume) and bit-exact across engines. Point estimates "
    "(min over depth rows, always ≥ truth, ≤ truth + e/width·N w.h.p.) "
    "are derived in cms_estimate and accuracy-tested in pytest.",
    tags=("sketch", "agg"),
)
def cms_user_activity_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_spread(spark, sf_dir, "events")
    return (
        ev.select(
            F.explode(F.sequence(F.lit(0), F.lit(CMS_DEPTH - 1))).alias(
                "depth"
            ),
            "user_id",
        )
        .select(
            F.col("depth").cast("int").alias("depth"),
            F.expr(
                "cast(conv(substr(md5(concat('cms', cast(depth as string),"
                " ':', cast(user_id as string))), 1, 15), 16, 10)"
                f" as bigint) % {CMS_WIDTH}"
            ).alias("col"),
        )
        .groupBy("depth", "col")
        .agg(F.count(F.lit(1)).alias("n"))
    )


def cms_estimate(
    grid: dict[tuple[int, int], int], hashes: list[int]
) -> int:
    """Count-Min point estimate: min over depth rows at the key's cells.

    ``grid`` maps (depth, col) → count; ``hashes`` lists the key's
    column per depth (compute with :func:`cms_columns`). Driver-side
    arithmetic on the tiny merged grid; used by accuracy tests.
    """
    return min(grid.get((d, c), 0) for d, c in enumerate(hashes))


def cms_columns(key: str) -> list[int]:
    """The key's counter column per depth — mirrors the SQL hashing."""
    import hashlib

    return [
        int(
            hashlib.md5(f"cms{d}:{key}".encode()).hexdigest()[:15], 16
        )
        % CMS_WIDTH
        for d in range(CMS_DEPTH)
    ]


# --------------------------------------------------------------------------
# Binned quantile sketch (mergeable equi-width histogram quantiles)
# --------------------------------------------------------------------------

#: Bin width and count: 64 bins of width 8 cover values in [0, 512) —
#: the events.value domain. Out-of-range values clamp into the last bin
#: (the standard histogram-sketch guard band).
QSK_BIN_WIDTH = 8
QSK_N_BINS = 64
#: Quantiles reported, in percent.
QSK_QUANTILES = (50, 90, 99)

_QSK_Q_LIST = ", ".join(str(q) for q in QSK_QUANTILES)


@CATALOG.add(
    "quantile_sketch_estimates",
    f"""
    WITH b AS (
        SELECT event_type,
               GREATEST(CAST(0 AS BIGINT),
                   LEAST(CAST(floor(value / {QSK_BIN_WIDTH}) AS BIGINT),
                         {QSK_N_BINS - 1})) AS bin,
               COUNT(*) AS n
        FROM events
        WHERE value IS NOT NULL
        GROUP BY 1, 2
    ),
    c AS (
        SELECT event_type, bin, n,
               SUM(n) OVER (PARTITION BY event_type ORDER BY bin)
                   AS cum,
               SUM(n) OVER (PARTITION BY event_type) AS total
        FROM b
    ),
    hit AS (
        SELECT c.event_type, q.q AS q_pct, c.total,
               MIN(c.bin) AS est_bin
        FROM c JOIN unnest([{_QSK_Q_LIST}]) AS q(q)
          ON c.cum * 100 >= c.total * q.q
        GROUP BY c.event_type, q.q, c.total
    )
    SELECT event_type, CAST(q_pct AS INTEGER) AS q_pct,
           CAST(est_bin AS BIGINT) AS est_bin,
           CAST(est_bin * {QSK_BIN_WIDTH} AS DOUBLE) AS est_lo,
           CAST((est_bin + 1) * {QSK_BIN_WIDTH} AS DOUBLE) AS est_hi,
           CAST(total AS BIGINT) AS n_values
    FROM hit
    """,
    doc=f"Mergeable quantile sketch: an equi-width histogram "
    f"({QSK_N_BINS} bins × width {QSK_BIN_WIDTH}) whose bin counts are "
    "plain integer SUMs — associative, so partials combine map-side "
    "and sketches from different days/partitions merge by adding "
    "counts, exactly like the HLL/CMS grids. Quantile estimates read "
    "off the merged table: the q-quantile is the first bin where "
    "100·cum ≥ q·total (all-integer comparison — no float rank "
    "arithmetic to diverge between engines), reported as the bin's "
    "[lo, hi) range — error is bounded by one bin width. The "
    "percentile path Spark's exact percentile() can't take at 100 TB "
    "(exact needs a full sort or a huge digest per group); the "
    "cumulative window runs on the POST-aggregate table "
    f"(≤ #groups × {QSK_N_BINS} rows). Accuracy vs exact percentiles "
    "and two-way merge associativity are pytest-checked "
    "(tests/test_sketch.py); production swaps in approx_percentile's "
    "KLL digest for tighter error at the same mergeable plan shape.",
    tags=("sketch", "agg", "window"),
)
def quantile_sketch_estimates(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    ev = load_spread(spark, sf_dir, "events")
    bins = quantile_sketch_bins(ev, "event_type", "value")
    from pyspark.sql import Window

    w_cum = (
        Window.partitionBy("event_type")
        .orderBy("bin")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    w_tot = Window.partitionBy("event_type")
    c = bins.select(
        "event_type",
        "bin",
        F.sum("n").over(w_cum).alias("cum"),
        F.sum("n").over(w_tot).alias("total"),
    )
    qs = F.explode(
        F.array(*[F.lit(q) for q in QSK_QUANTILES])
    ).alias("q_pct")
    return (
        c.select("event_type", "bin", "cum", "total", qs)
        .filter(F.col("cum") * 100 >= F.col("total") * F.col("q_pct"))
        .groupBy("event_type", "q_pct", "total")
        .agg(F.min("bin").alias("est_bin"))
        .select(
            "event_type",
            F.col("q_pct").cast("int").alias("q_pct"),
            F.col("est_bin").cast("bigint").alias("est_bin"),
            (F.col("est_bin") * QSK_BIN_WIDTH)
            .cast("double")
            .alias("est_lo"),
            ((F.col("est_bin") + 1) * QSK_BIN_WIDTH)
            .cast("double")
            .alias("est_hi"),
            F.col("total").cast("bigint").alias("n_values"),
        )
    )


def quantile_sketch_bins(
    df: DataFrame, group_col: str, value_col: str
) -> DataFrame:
    """(group, bin, n) histogram-sketch state for ``value_col``.

    The mergeable form: two sketch states over disjoint row sets merge
    by unioning and summing ``n`` per (group, bin) — used by the
    associativity test and by incremental (per-day) profiling at scale.
    """
    # clamp BOTH ends: negative values would otherwise mint
    # unbounded negative bins, breaking the fixed-64-bin state-size
    # claim the sketch's guard band exists for (review r06; the top
    # clamp alone only capped the positive side)
    bin_col = F.greatest(
        F.lit(0).cast("bigint"),
        F.least(
            F.floor(F.col(value_col) / QSK_BIN_WIDTH).cast("bigint"),
            F.lit(QSK_N_BINS - 1).cast("bigint"),
        ),
    )
    return (
        df.filter(F.col(value_col).isNotNull())
        .groupBy(F.col(group_col), bin_col.alias("bin"))
        .agg(F.count(F.lit(1)).alias("n"))
    )


# --------------------------------------------------------------------------
# Bloom filter (bit-packed membership pre-screen for incremental dedup)
# --------------------------------------------------------------------------

#: Bit-packed words; 62 usable bits each keeps 1<<bit inside positive
#: int64 range on both engines (bit 63 would flip the sign).
BLOOM_WORDS = 128
BLOOM_BITS_PER_WORD = 62
BLOOM_M = BLOOM_WORDS * BLOOM_BITS_PER_WORD
#: Hash functions per key.
BLOOM_K = 3
#: Deterministic batch membership: doc_id % mod == rem is the incoming
#: batch, the rest is the already-ingested corpus.
BLOOM_MOD = 13
BLOOM_REM = 5


def _bloom_pos_sql(key_expr: str, j_expr: str) -> str:
    """DuckDB bit position of hash j for a content-hash expression."""
    return (
        f"(('0x' || substr(md5('bloom' || CAST({j_expr} AS VARCHAR) || ':'"
        f" || {key_expr}), 1, 15))::BIGINT) % {BLOOM_M}"
    )


@CATALOG.add(
    "bloom_dedup_probe",
    f"""
    WITH base AS (
        SELECT doc_id, md5(text) AS ch,
               doc_id % {BLOOM_MOD} = {BLOOM_REM} AS is_batch
        FROM documents
    ),
    corpus AS (SELECT DISTINCT ch FROM base WHERE NOT is_batch),
    corpus_bits AS (
        SELECT pos // {BLOOM_BITS_PER_WORD} AS word,
               bit_or(1::BIGINT << (pos % {BLOOM_BITS_PER_WORD})) AS bits
        FROM (
            SELECT {_bloom_pos_sql("ch", "t.j")} AS pos
            FROM corpus, unnest(range(0, {BLOOM_K})) AS t(j)
        )
        GROUP BY pos // {BLOOM_BITS_PER_WORD}
    ),
    probe AS (
        SELECT doc_id, ch, {_bloom_pos_sql("ch", "t.j")} AS pos
        FROM base, unnest(range(0, {BLOOM_K})) AS t(j)
        WHERE is_batch
    ),
    hits AS (
        SELECT p.doc_id, p.ch,
               bool_and((COALESCE(b.bits, 0)
                         & (1::BIGINT << (p.pos % {BLOOM_BITS_PER_WORD})))
                        <> 0) AS bloom_candidate
        FROM probe p
        LEFT JOIN corpus_bits b ON p.pos // {BLOOM_BITS_PER_WORD} = b.word
        GROUP BY p.doc_id, p.ch
    )
    SELECT h.doc_id, h.bloom_candidate,
           c.ch IS NOT NULL AS actual_dup,
           h.bloom_candidate AND c.ch IS NULL AS is_false_positive
    FROM hits h LEFT JOIN corpus c ON h.ch = c.ch
    """,
    doc=f"Bloom-filter pre-screen for incremental dedup: the corpus "
    f"side's content hashes set {BLOOM_K} md5-salted bits each in a "
    f"{BLOOM_M}-bit filter packed into {BLOOM_WORDS} int64 words "
    "(bit_or — associative, so the filter builds map-side and merges "
    "across partitions/days like any sketch). The incoming batch "
    "probes the broadcast word table; only bloom candidates would "
    "need the exact verification join at scale — here the exact join "
    "runs on ALL batch docs so the result itself audits the "
    "false-positive rate (no false negatives by construction, "
    "tested). Filter size is fixed for cross-engine determinism; "
    "production sizes m per corpus cardinality (or chains scalable "
    "blooms) — the plan shape is unchanged.",
    tags=("sketch", "dedup", "join"),
)
def bloom_dedup_probe(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_spread(spark, sf_dir, "documents")
    # base feeds THREE branches (filter bits, probe, ground-truth
    # marker); Spark does not dedupe common subplans, so without the
    # persist one action scans + md5-hashes the documents table three
    # times (the same trap clustering.py documents).
    base = d.select(
        "doc_id",
        F.md5("text").alias("ch"),
        (F.col("doc_id") % BLOOM_MOD == BLOOM_REM).alias("is_batch"),
    )
    with cached(base) as base:
        base.count()
        corpus = base.filter(~F.col("is_batch")).select("ch").distinct()

        def pos_col() -> F.Column:
            return F.expr(
                "cast(conv(substr(md5(concat('bloom', cast(j as string),"
                f" ':', ch)), 1, 15), 16, 10) as bigint) % {BLOOM_M}"
            )

        ks = F.explode(F.sequence(F.lit(0), F.lit(BLOOM_K - 1))).alias("j")
        corpus_bits = (
            corpus.select("ch", ks)
            .select(pos_col().alias("pos"))
            .groupBy(
                F.expr(f"pos div {BLOOM_BITS_PER_WORD}").alias("word")
            )
            .agg(
                F.bit_or(
                    F.expr(f"shiftleft(1L, cast(pos % {BLOOM_BITS_PER_WORD}"
                           " as int))")
                ).alias("bits")
            )
        )
        probe = (
            base.filter("is_batch")
            .select("doc_id", "ch", ks)
            .select("doc_id", "ch", pos_col().alias("pos"))
        )
        hits = (
            probe.join(
                F.broadcast(corpus_bits),
                F.expr(f"pos div {BLOOM_BITS_PER_WORD}") == F.col("word"),
                "left",
            )
            .groupBy("doc_id", "ch")
            .agg(
                F.bool_and(
                    (
                        F.coalesce(F.col("bits"), F.lit(0).cast("long"))
                        .bitwiseAND(
                            F.expr(
                                f"shiftleft(1L, cast(pos % "
                                f"{BLOOM_BITS_PER_WORD} as int))"
                            )
                        )
                    )
                    != 0
                ).alias("bloom_candidate")
            )
        )
        marker = corpus.withColumn("in_corpus", F.lit(1))
        return detach(
            hits.join(marker, "ch", "left").select(
                "doc_id",
                "bloom_candidate",
                F.col("in_corpus").isNotNull().alias("actual_dup"),
                (
                    F.col("bloom_candidate") & F.col("in_corpus").isNull()
                ).alias("is_false_positive"),
            )
        )


# --------------------------------------------------------------------------
# Misra-Gries heavy hitters (the top-k-frequent mergeable summary)
# --------------------------------------------------------------------------

#: Misra-Gries counter budget. The deterministic guarantee: every key
#: with true frequency > N/(MG_K+1) survives the sketch, and each
#: surviving counter underestimates its key's true count by at most
#: N/(MG_K+1). 40 counters over the ~82-key char-pair domain forces
#: real evictions at fixture scale while keeping a clean margin
#: around the support threshold.
MG_K = 40

#: Exact-oracle SQL for mg_heavy_hitter_pairs (DuckDB). The Spark side
#: runs the 2-pass Misra-Gries plan; its output EQUALS this exact
#: query by the deterministic MG guarantee (candidates ⊇ true heavy
#: hitters; pass 2 counts exactly and filters by the same threshold).
#: Registered in r09 via the window's free slot (capacity ledger,
#: plans/catalog.py).
MG_HEAVY_HITTERS_SQL = f"""
    WITH tok AS (
        SELECT unnest(string_split(text, ' ')) AS token FROM documents
    ),
    p AS (
        SELECT unnest(list_transform(
                   range(1, length(token)),
                   i -> token[i:i+1])) AS pair
        FROM tok WHERE length(token) >= 2
    ),
    c AS (SELECT pair, CAST(COUNT(*) AS BIGINT) AS n_occurrences
          FROM p GROUP BY pair)
    SELECT pair, n_occurrences FROM c
    WHERE n_occurrences * {MG_K + 1} > (SELECT SUM(n_occurrences) FROM c)
    """


def misra_gries_partials(
    df: DataFrame,
    key_col: str,
    k: int = MG_K,
    emit_totals: bool = False,
) -> DataFrame:
    """Pass 1: per-partition Misra-Gries summaries, ≤ k rows each.

    ``emit_totals=True`` adds ONE sentinel row per partition
    (``key`` NULL, ``lower_bound`` = the partition's exact row count)
    so the stream total needed for the support threshold comes out of
    the same pass — without it the caller pays a third full scan
    just to COUNT(*) (r08 self-review).

    Arrow-batched mapInPandas; each partition folds its batches into a
    bounded dict of ``key -> lower_bound`` using the mergeable-summary
    combine of Agarwal et al. (Mergeable Summaries, PODS'12): add the
    batch's exact counts, then subtract the (k+1)-th largest counter
    from every counter and drop the non-positives. Each fold is a
    valid MG merge, so the partition summary keeps the guarantee:
    any key with in-partition frequency > n_p/(k+1) survives with
    ``true_count - n_p/(k+1) <= lower_bound <= true_count``. The
    output is at most k rows per partition — the shuffle that follows
    carries O(k × partitions) rows no matter how large the input.
    """
    import pandas as pd

    def fold(batches):
        counters: dict[str, int] = {}
        n_rows = 0
        for pdf in batches:
            n_rows += len(pdf)
            for key, cnt in pdf[key_col].value_counts().items():
                counters[key] = counters.get(key, 0) + int(cnt)
            if len(counters) > k:
                kth = sorted(counters.values(), reverse=True)[k]
                counters = {
                    key: c - kth
                    for key, c in counters.items()
                    if c > kth
                }
        keys = list(counters.keys())
        vals = list(counters.values())
        if emit_totals:
            keys.append(None)
            vals.append(n_rows)
        yield pd.DataFrame({"key": keys, "lower_bound": vals})

    return df.mapInPandas(fold, "key string, lower_bound long")


def _char_pairs(docs: DataFrame) -> DataFrame:
    """Adjacent character pairs inside whitespace tokens."""
    tok = docs.select(
        F.explode(F.split("text", " ")).alias("token")
    ).filter(F.length("token") >= 2)
    return tok.select(
        F.explode(
            F.expr(
                "transform(sequence(1, length(token) - 1),"
                " i -> substring(token, i, 2))"
            )
        ).alias("pair")
    )


@CATALOG.add(
    "mg_heavy_hitter_pairs",
    MG_HEAVY_HITTERS_SQL,
    doc=f"Misra-Gries heavy hitters over the corpus char-pair stream — "
    f"every pair with support > 1/{MG_K + 1}, with EXACT counts. The "
    "bounded-memory complement to term_frequencies: pass 1 folds each "
    "partition into a ≤MG_K-counter mergeable summary (Arrow-batched "
    "mapInPandas, vectorized value_counts), pass 2 counts only the "
    "broadcast candidate superset exactly. Shuffle volume is "
    "O(MG_K × partitions) regardless of the key domain — the only "
    "family member whose state stays bounded when the domain (URLs, "
    "n-grams) does not. Output is a pure function of the data (the "
    "deterministic MG guarantee makes partition-union candidates a "
    "superset of every global heavy hitter), hash-exact vs the "
    "exact-count oracle despite nondeterministic sketch internals.",
    tags=("sketch", "text"),
)
def mg_heavy_hitter_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Misra-Gries heavy hitters over the corpus char-pair stream —
    every pair with support > 1/(MG_K+1), with EXACT counts.

    The streaming complement to ``term_frequencies``: that shuffles
    the full key domain; this
    is the classic 2-pass bounded-memory plan whose shuffle volume is
    independent of the domain size. Pass 1 folds each partition into
    a ≤MG_K-counter MG summary (misra_gries_partials) — the
    deterministic guarantee makes the union of partition survivors a
    superset of every key with global frequency > N/(MG_K+1). Pass 2
    re-scans the stream, counts ONLY the O(MG_K × partitions)
    broadcast candidates exactly, and keeps those above the integer
    support threshold ``cnt * (MG_K+1) > N``. Output is therefore a
    pure function of the data — independent of partitioning and batch
    order, hash-exact against the exact-count oracle
    (MG_HEAVY_HITTERS_SQL) — even though the intermediate sketch
    contents are not. At 100 TB: EXACTLY two linear scans (the stream
    total rides out of pass 1 as per-partition sentinel rows, and the
    tiny summary is eagerly checkpointed so neither the candidate
    list nor the total re-runs the scan — r08 self-review removed a
    third COUNT(*) pass), one O(k·P)-row shuffle, one broadcast — vs
    term_frequencies' full-domain shuffle; this is the only family
    member whose state stays bounded when the key domain (URLs,
    n-grams, user agents) does not.
    """
    docs = load_spread(spark, sf_dir, "documents")
    pairs = _char_pairs(docs)
    # <= (k+1) rows per partition; eager checkpoint so the two readers
    # below (candidates + totals) don't each re-run the pass-1 scan.
    summary = detach(
        misra_gries_partials(pairs, "pair", MG_K, emit_totals=True)
    )
    candidates = (
        summary.filter(F.col("key").isNotNull())
        .select(F.col("key").alias("pair"))
        .distinct()
    )
    totals = summary.filter(F.col("key").isNull()).agg(
        F.sum("lower_bound").cast("bigint").alias("n_total")
    )
    return (
        pairs.join(F.broadcast(candidates), "pair")
        .groupBy("pair")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_occurrences"))
        .crossJoin(F.broadcast(totals))
        .filter(F.col("n_occurrences") * (MG_K + 1) > F.col("n_total"))
        .select("pair", "n_occurrences")
    )
