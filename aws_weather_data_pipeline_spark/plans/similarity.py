"""Similarity & deduplication catalog queries (documents + embeddings).

The north-star LLM-pipeline operators (BASELINE.md): exact dedup,
MinHash-LSH near-duplicate detection, and approximate-nearest-neighbor
search over an embedding column — each built in the shape that survives
100 TB:

- **No all-pairs comparisons.** Near-dup candidates come from an LSH
  band join (pairs share a bucket only if a MinHash collides); kNN
  probes either a broadcast query set or one IVF cell. The quadratic
  blowup the naive formulation hides is never materialized.
- **Signatures are computed in-row** (array transforms inside codegen),
  so the only shuffles are the bucket join and the final rank.
- **Exact cross-engine floats.** Embedding components are scalar-
  quantized to integers (floor(x*1000) — floats are exact in double, so
  the quantization is deterministic); dot products and norms are then
  exact integer sums valid in ANY summation order, and the final cosine
  is a single identical-expression double division. This sidesteps the
  FP-reassociation trap that makes naive float dot products
  hash-unstable across engines and cluster sizes. The arithmetic is
  ``functions/exact.py``'s; every embedding query here (and SemDeDup
  in ``plans/clustering.py``) ranks through one of three stages:
  ``_cosine_topk``, ``_cosine_pairs`` or ``_adc_topk``.
- **One pair stage for the near-dup family.** Every document-pair
  detector pairs rows through ``_self_pairs`` (the ordered equi-key
  self-join), joins side columns back on through ``_with_sides`` and
  verifies shingle overlap through ``_jaccard_verified``; every cluster
  consumer reads ``_cluster_map``, the one connected-components run.
  Oracles that embed the MinHash pairs SQL compose it at registration
  from ``_MINHASH_PAIRS_SQL``.

Reference parity: the reference has no similarity surface at all — this
module is pure north-star extension (SURVEY §7.2 step 9).
"""

from __future__ import annotations

import logging
import operator
import random
from contextlib import ExitStack
from functools import reduce

from pyspark.sql import Column, DataFrame, SparkSession, Window, functions as F

from ..functions.exact import (
    QUANT_SCALE,
    int_dot,
    int_sq_dist,
    quantized,
    sq_norm,
)
from ..operators.graph import connected_components
from ..session import cached, detach
from ..sources.tables import load_spread
from .registry import QueryCatalog
from .sampling import (
    _KEYHASH_SQL,
    N_PACK_SHARDS,
    PACK_BUDGET,
    TRAIN_HI,
    VAL_HI,
    split_expr,
)
from .text import (
    SIMHASH_CTE_SQL,
    WINNOW_FPS_SQL,
    quality_gate_sql,
    quality_signal_cols,
    simhash_frame,
    winnow_fingerprints,
)

_LOG = logging.getLogger(__name__)

CATALOG = QueryCatalog()

#: LSH banding: 16 minhashes in 8 bands of r=2 rows — a pair is a
#: candidate iff BOTH minhashes of some band collide. Candidate
#: probability is 1-(1-J²)^8: ~0.97 at J=0.6, >0.9999 at J≥0.8 (the
#: planted near-dups sit at J≈0.9+), but only ~7.7% at J=0.1 —
#: r=1 banding admitted 57% of J=0.1 pairs, which on real web text
#: (power-law shingle overlap, not this corpus's near-disjoint vocab)
#: drives the band join's output toward all-pairs at 100 TB. r=2 is
#: the smallest row count whose low-J rejection survives that regime;
#: tests/test_plans.py asserts both the candidate-rate bound and full
#: recall vs the exact prefix-filtering join.
N_MINHASH = 16
N_BANDS = 8
ROWS_PER_BAND = 2
assert N_BANDS * ROWS_PER_BAND == N_MINHASH
# _minhash_bands and _BANDS_SQL join on exactly TWO keys per band
# (k1, k2); retuning ROWS_PER_BAND without generalizing them would
# silently weaken the low-J rejection to 1-(1-J^2)^b while all other
# guards still pass (review r06).
assert ROWS_PER_BAND == 2, "band join keys are hard-coded for r=2"

JACCARD_THRESHOLD = 0.6


def _docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    # CPU-bound per-row work: spread under-split scans across cores
    # (no-op at scale — see sources.tables.load_spread).
    return load_spread(spark, sf_dir, "documents")


def _emb(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Dot products are CPU-bound: spread under-split scans (no-op at
    # scale — sources.tables.load_spread).
    return load_spread(spark, sf_dir, "embeddings")


def _vectors(e: DataFrame, *cols) -> DataFrame:
    """``cols`` of the embeddings frame ``e`` plus the quantized
    vector ``v`` and its squared norm ``nrm``: the row every
    exact-cosine stage below reads."""
    return e.select(*cols, quantized().alias("v")).withColumn(
        "nrm", sq_norm("v")
    )


def _cosine(a: str, b: str) -> Column:
    """Exact cosine between the vector columns ``v<a>``/``v<b>`` with
    squared norms ``nrm_<a>``/``nrm_<b>``."""
    return int_dot(f"v{a}", f"v{b}") / F.sqrt(
        F.col(f"nrm_{a}") * F.col(f"nrm_{b}")
    )


def _cosine_pairs(
    frame: DataFrame, key: str, threshold: float
) -> DataFrame:
    """(vec_a, vec_b, ``key``, cosine): the pairs of ``_vectors`` rows
    with vec_a < vec_b that share ``key`` and whose exact cosine is at
    least ``threshold``. The equi-join on ``key`` keeps pair generation
    at Σ|group|² instead of n²; zero vectors have no cosine."""
    a, b = (
        frame.select(
            F.col("vec_id").alias(f"vec_{s}"),
            key,
            F.col("v").alias(f"v{s}"),
            F.col("nrm").alias(f"nrm_{s}"),
        )
        for s in "ab"
    )
    return (
        a.join(b, key)
        .filter(F.col("vec_a") < F.col("vec_b"))
        .filter((F.col("nrm_a") > 0) & (F.col("nrm_b") > 0))
        .withColumn("cosine", _cosine("a", "b"))
        .filter(F.col("cosine") >= threshold)
        .select("vec_a", "vec_b", key, "cosine")
    )


def _self_pairs(frame: DataFrame, on: list[str], *carry: str) -> DataFrame:
    """Each pair of ``frame`` rows that share the ``on`` keys, once, as
    doc_a < doc_b; each side's ``carry`` columns are suffixed
    ``_a``/``_b``. The equi-join on the keys is what keeps every
    near-dup detector off an all-pairs stage. A pair that matches on
    several key values comes out once per value."""
    a, b = (
        frame.select(
            F.col("doc_id").alias(f"doc_{s}"),
            *(F.col(c).alias(f"{c}_{s}") for c in carry),
            *on,
        )
        for s in "ab"
    )
    return a.join(b, on).filter(F.col("doc_a") < F.col("doc_b"))


def _with_sides(pairs: DataFrame, frame: DataFrame, *cols: str) -> DataFrame:
    """``pairs`` (doc_a, doc_b, ...) with ``frame``'s ``cols`` joined on
    for each side by doc_id, suffixed ``_a``/``_b``."""
    for s in "ab":
        pairs = pairs.join(
            frame.select(
                F.col("doc_id").alias(f"doc_{s}"),
                *(F.col(c).alias(f"{c}_{s}") for c in cols),
            ),
            f"doc_{s}",
        )
    return pairs


def _jaccard_verified(cand: DataFrame, sets: DataFrame, col: str) -> DataFrame:
    """(doc_a, doc_b, jaccard): the ``cand`` pairs whose exact Jaccard
    similarity over the array column ``col`` of ``sets`` is at least
    JACCARD_THRESHOLD."""
    a, b = f"{col}_a", f"{col}_b"
    inter = F.size(F.array_intersect(a, b))
    jaccard = inter.cast("double") / (F.size(a) + F.size(b) - inter)
    return (
        _with_sides(cand, sets, col)
        .withColumn("jaccard", jaccard)
        .filter(F.col("jaccard") >= JACCARD_THRESHOLD)
        .select("doc_a", "doc_b", "jaccard")
    )


# --------------------------------------------------------------------------
# Exact dedup (hash-groupBy)
# --------------------------------------------------------------------------


@CATALOG.add(
    "dedup_exact_content",
    """
    SELECT md5(text) AS content_hash,
           COUNT(*) AS n_copies,
           MIN(doc_id) AS keeper_doc_id
    FROM documents
    GROUP BY md5(text)
    """,
    doc="Exact deduplication by content hash: group on md5(text), keep "
    "the minimum doc_id (deterministic keeper). One shuffle on the "
    "hash — uniformly distributed by construction, so no skew at any "
    "scale; the classic first stage of a pretraining dedup cascade.",
    tags=("similarity", "dedup", "agg"),
)
def dedup_exact_content(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _docs(spark, sf_dir)
    return d.groupBy(F.md5("text").alias("content_hash")).agg(
        F.count(F.lit(1)).alias("n_copies"),
        F.min("doc_id").alias("keeper_doc_id"),
    )


# --------------------------------------------------------------------------
# MinHash + LSH near-duplicate pairs
# --------------------------------------------------------------------------


#: MinHash permutation constants. Each shingle is md5'd ONCE to a
#: 60-bit int h; permutation j is the linear mix
#:     (h >> 30) * A_j + (h & (2^30-1)) * B_j
#: — exact int64 arithmetic in both engines (each product < 2^61, the
#: sum < 2^62) and a ~62-bit bucket space, so spurious LSH bucket
#: collisions stay ~2^-62 even at billions of documents (a 31-bit
#: modular variant was rejected in review: at 1e9 docs its bucket
#: collisions alone would generate ~1e9 spurious candidate pairs).
#: Cheaper than the original 8 md5 calls per shingle by ~3×.
_MH_LO_MASK = (1 << 30) - 1
_MH_A = (15485863, 32452843, 49979687, 67867967,
         86028121, 104395301, 122949823, 141650939,
         160481183, 179424673, 198491317, 217645177,
         236887691, 256203161, 275604541, 295075147)
_MH_B = (12582917, 25165843, 50331653, 100663319,
         201326611, 402653189, 805306457, 1610612741,
         1073741827, 536870923, 268435459, 134217757,
         67108879, 33554467, 16777259, 8388617)
# Overflow guard: hi,lo < 2^30, so hi*maxA + lo*maxB < 2^61 < int64.
assert len(_MH_A) >= N_MINHASH and len(_MH_B) >= N_MINHASH
assert ((1 << 30) * max(_MH_A) + (1 << 30) * max(_MH_B)).bit_length() < 63


def _with_shingles(d: DataFrame) -> DataFrame:
    """Distinct 3-token shingle set per doc + one 60-bit hash each."""
    d = d.withColumn("tokens", F.split("text", " ")).filter(
        F.size("tokens") >= 3
    )
    d = d.withColumn(
        "shingles",
        F.array_distinct(
            F.expr(
                "transform(sequence(0, size(tokens)-3), i -> "
                "concat_ws(' ', tokens[i], tokens[i+1], tokens[i+2]))"
            )
        ),
    )
    return d.withColumn(
        "sh_hashes",
        F.expr(
            "transform(shingles, s ->"
            " cast(conv(substr(md5(s), 1, 15), 16, 10) as bigint))"
        ),
    )


def _minhash_bands(sigs: DataFrame) -> DataFrame:
    """``(doc_id, band, k1, k2)`` — one row per doc per LSH band."""
    return sigs.select(
        "doc_id",
        F.posexplode(
            F.array(
                *[
                    F.struct(
                        F.col(f"mh{ROWS_PER_BAND * j}").alias("k1"),
                        F.col(f"mh{ROWS_PER_BAND * j + 1}").alias("k2"),
                    )
                    for j in range(N_BANDS)
                ]
            )
        ).alias("band", "bucket"),
    ).select(
        "doc_id",
        "band",
        F.col("bucket.k1").alias("k1"),
        F.col("bucket.k2").alias("k2"),
    )


def _minhash_candidates(
    sigs: DataFrame,
    max_bucket: int | None = None,
    stack: ExitStack | None = None,
) -> DataFrame:
    """Distinct candidate pairs from the LSH band join.

    ``sigs`` MUST be persisted and materialized by the caller: the
    band self-join evaluates its input once per side, and an unfilled
    cache would re-run the whole shingle+md5+signature pipeline twice
    (plus twice more in the caller's verify joins — the ~4× recompute
    that made the near-dup family dominate the r02 bench).

    One generator pass, NOT a per-band union (a union re-runs the
    signature pipeline once per band — 8× the md5 work, measured 40+ s
    at sf0.1). posexplode emits one row per band carrying BOTH of the
    band's minhashes as separate join keys (k1, k2) — two bigint
    columns rather than a combined hash, because mixing two ~2^61
    values into one int64 key can't be written overflow-free in ANSI
    SQL on either engine. Shared by every verifier (Jaccard,
    edit-distance, clustering) so candidate-generation fixes apply to
    all of them at once.

    ``max_bucket`` is the hot-bucket cap, the scale knob the r15
    10× probe measured the need for: band-buckets larger than the
    cap are EXCLUDED from the self-join. Candidate pairs are
    Σ C(|bucket|, 2); on a corpus whose shingle distribution does
    not diversify with size (boilerplate, templating, a bounded
    vocabulary) bucket sizes grow ∝ n, so candidates — and the
    verify-join shuffle carrying shingle arrays — grow ∝ n²
    (measured: 23.7k → 2.32M distinct candidates, 1.2 MB → 1.1 GB
    shuffle, at 10× docs). The cap bounds per-bucket work at
    C(cap, 2) making total candidates O(n·bands·cap); a true
    near-dup pair inside one capped-hot bucket still has
    N_BANDS − 1 other bands to collide in (property-tested: planted
    near-dups survive a cap that removes the boilerplate bucket).
    Default None = exact LSH semantics — the catalog queries and
    their DuckDB oracles use no cap, so driver parity is unchanged;
    a 100 TB dedup run passes the cap explicitly.

    CAPPED MODE IS APPROXIMATE IN RECALL, NOT JUST COST (ADVICE
    r15): over-cap buckets are excluded outright, not sampled, so a
    pair whose collisions ALL land in over-cap buckets is dropped.
    The N_BANDS−1 escape hatch is probabilistic — for a pair with
    Jaccard j, P(missed | every colliding band over cap) can be
    driven arbitrarily high by an adversarial corpus where the hot
    shingles ARE the shared content, so the worst-case recall loss
    is unbounded. To keep the loss auditable the capped path runs
    one extra single-row aggregate (over the caller-persisted
    ``sigs`` cache — no signature recompute) and logs, at WARNING,
    how many band-rows and buckets the cap excluded; a 100 TB run
    reads that number before trusting the output.

    Sizing guidance: the cap bounds candidate pairs per bucket, so
    set it from the verify budget, not the corpus: expected
    candidates ≤ n_docs · N_BANDS · (cap−1) / 2, i.e.
    cap ≈ 1 + 2·budget / (n_docs · N_BANDS). cap=50 held recall on
    every planted near-dup while cutting the 10× synthetic corpus's
    shuffle from 1.1 GB to ~5 MB (SCALE_PROBE.json); buckets at the
    natural (un-templated) near-dup scale are ≤ a few dozen rows,
    so caps in the 50–500 range only shave pathological buckets. A
    cap below 2 is refused: it keeps no bucket that can hold a pair.

    ``stack``: when the caller passes one (the executing path), the
    CAPPED bands frame is cached and filled for the stack's lifetime.
    Without it, the window count that applies the cap is re-computed
    once PER JOIN SIDE (Spark does not dedupe the two sides' identical
    window subplans); with it, the window runs once and both sides
    read the cache. Plan inspection passes none, since a persist would
    truncate the inspectable plan.
    """
    if max_bucket is not None and max_bucket < 2:
        raise ValueError(
            f"max_bucket={max_bucket}: a hot-bucket cap below 2 keeps no "
            "bucket that can hold a pair, so no candidate would survive"
        )
    bands = _minhash_bands(sigs)
    if max_bucket is not None:
        # Audit the cap's recall effect before applying it (ADVICE
        # r15): a single-row aggregate — groupBy partial-aggregates
        # map-side, so this is one linear pass over the caller's sigs
        # cache plus a 1-row collect (bounded by construction, same
        # defense as the runner's validation probes).
        excl = (
            bands.groupBy("band", "k1", "k2")
            .agg(F.count(F.lit(1)).alias("bsz"))
            .filter(F.col("bsz") > max_bucket)
            .agg(
                F.coalesce(F.sum("bsz"), F.lit(0)).alias("rows"),
                F.count(F.lit(1)).alias("buckets"),
            )
            .collect()[0]
        )
        if excl["rows"]:
            _LOG.warning(
                "minhash max_bucket=%d excluded %d band-rows across %d "
                "hot buckets from candidate generation; recall for "
                "pairs colliding ONLY in those buckets is lost (capped "
                "LSH is approximate — see _minhash_candidates "
                "docstring)",
                max_bucket,
                excl["rows"],
                excl["buckets"],
            )
        # Cost of the cap, measured (r15 .explain audit): the window
        # count adds one exchange + partition-local sort of the
        # O(docs×bands) bands frame PER JOIN SIDE (Spark does not
        # dedupe the two sides' identical window subplans — the
        # module's standing common-subplan caveat). Both exchanges
        # hash on the join's own (band, k1, k2) keys and are linear
        # in the corpus; at 10× the capped run still beat uncapped
        # 5.0s vs 17.2s (committed SCALE_PROBE.json) because the
        # candidate blowup it prevents dwarfs them.
        bands = (
            bands.withColumn(
                "__bsz",
                F.count(F.lit(1)).over(
                    Window.partitionBy("band", "k1", "k2")
                ),
            )
            .filter(F.col("__bsz") <= max_bucket)
            .drop("__bsz")
        )
        if stack is not None:
            # One window evaluation instead of one per join side
            # (see docstring); count() fills the cache before the
            # self-join's branches race to compute it.
            bands = stack.enter_context(cached(bands))
            bands.count()
    return (
        _self_pairs(bands, ["band", "k1", "k2"])
        .select("doc_a", "doc_b")
        .distinct()
    )


def minhash_signature_cols() -> list:
    """mh_j = min over shingle hashes of the 62-bit hi/lo linear mix."""
    return [
        F.array_min(
            F.expr(
                f"transform(sh_hashes, h ->"
                f" (h >> 30) * {_MH_A[j]}"
                f" + (h & {_MH_LO_MASK}) * {_MH_B[j]})"
            )
        ).alias(f"mh{j}")
        for j in range(N_MINHASH)
    ]


def _shingle_sql(extra: str = "") -> str:
    return f"""
    WITH t AS (
        SELECT doc_id, string_split(text, ' ') AS tk
        FROM documents
        WHERE len(string_split(text, ' ')) >= 3
    ),
    sets AS (
        SELECT doc_id, shingles,
               list_transform(shingles,
                   s -> ('0x' || substr(md5(s), 1, 15))::BIGINT)
                   AS sh_hashes
        FROM (
            SELECT doc_id,
                   list_distinct(list_transform(range(1, len(tk) - 1),
                       i -> tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2]))
                       AS shingles
            FROM t
        )
    ){extra}
    """


_SIG_SQL = ",\n".join(
    f"list_min(list_transform(sh_hashes,"
    f" h -> (h >> 30) * {_MH_A[j]}"
    f" + (h & {_MH_LO_MASK}) * {_MH_B[j]}))"
    f" AS mh{j}"
    for j in range(N_MINHASH)
)

_BANDS_SQL = "\nUNION ALL\n".join(
    f"SELECT doc_id, {j} AS band,"
    f" mh{ROWS_PER_BAND * j} AS k1, mh{ROWS_PER_BAND * j + 1} AS k2"
    " FROM sigs"
    for j in range(N_BANDS)
)


@CATALOG.add(
    "minhash_signatures",
    _shingle_sql(
        f""",
    sigs AS (SELECT doc_id, {_SIG_SQL} FROM sets)
    SELECT * FROM sigs"""
    ),
    doc=f"MinHash signatures: each distinct 3-shingle is md5'd once "
    f"to a 60-bit int, then {N_MINHASH} permutations derive from "
    "exact 62-bit linear mixes (hi*A_j + lo*B_j), all inside per-row "
    "array transforms. The only exchange is the under-split-scan "
    "spread (a no-op at scale); no per-band plan duplication.",
    tags=("similarity", "dedup"),
)
def minhash_signatures(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _with_shingles(_docs(spark, sf_dir))
    return d.select("doc_id", *minhash_signature_cols())


#: The MinHash near-dup pairs oracle: its own query's, and the edge set
#: every cluster consumer's oracle embeds.
_MINHASH_PAIRS_SQL = _shingle_sql(
    f""",
    sigs AS (SELECT doc_id, {_SIG_SQL} FROM sets),
    bands AS ({_BANDS_SQL}),
    cand AS (
        SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
        FROM bands a JOIN bands b USING (band, k1, k2)
        WHERE a.doc_id < b.doc_id
    )
    SELECT c.doc_a, c.doc_b,
           CAST(len(list_filter(sa.shingles,
                    x -> list_contains(sb.shingles, x))) AS DOUBLE)
             / (len(sa.shingles) + len(sb.shingles)
                - len(list_filter(sa.shingles,
                      x -> list_contains(sb.shingles, x))))
               AS jaccard
    FROM cand c
    JOIN sets sa ON sa.doc_id = c.doc_a
    JOIN sets sb ON sb.doc_id = c.doc_b
    WHERE CAST(len(list_filter(sa.shingles,
                  x -> list_contains(sb.shingles, x))) AS DOUBLE)
          / (len(sa.shingles) + len(sb.shingles)
             - len(list_filter(sa.shingles,
                   x -> list_contains(sb.shingles, x))))
          >= {JACCARD_THRESHOLD}"""
)


@CATALOG.add(
    "near_dup_pairs_minhash",
    _MINHASH_PAIRS_SQL,
    doc="Near-duplicate pairs via MinHash-LSH: shingle → signature → "
    f"band-bucket self-join ({N_BANDS} bands × r={ROWS_PER_BAND}) → "
    "exact n-gram "
    f"Jaccard verify ≥ {JACCARD_THRESHOLD}. The join is on (band, "
    "bucket), so only colliding docs ever meet — no all-pairs stage "
    "anywhere; at 100 TB the bucket join shuffles O(docs×bands) rows, "
    "and AQE's skew handling covers hot buckets. The exact verify "
    "touches only candidate pairs (array_intersect on the two shingle "
    "sets). The corpus's planted near-dups (one-token edits) surface "
    "at J≈0.9+; random pairs sit near 0.",
    tags=("similarity", "dedup", "join"),
)
def near_dup_pairs_minhash(
    spark: SparkSession, sf_dir: str, max_bucket: int | None = None
) -> DataFrame:
    d = _with_shingles(_docs(spark, sf_dir))
    # The signature pipeline feeds FOUR plan branches (band self-join
    # a/b + verify joins sa/sb); Spark does not dedupe common subplans
    # across join inputs, so without a persist each branch re-runs the
    # whole shingle+md5+signature pipeline (~4×).
    sigs = d.select("doc_id", "shingles", *minhash_signature_cols())
    with cached(sigs) as sigs, ExitStack() as stack:
        sigs.count()  # fill the cache before concurrent branches race
        return detach(near_dup_pairs_minhash_plan(sigs, max_bucket, stack))


def near_dup_pairs_minhash_plan(
    sigs: DataFrame,
    max_bucket: int | None = None,
    stack: ExitStack | None = None,
) -> DataFrame:
    """The lazy near-dup pairs plan over ``sigs`` (doc_id, shingles,
    MinHash signature); ``stack`` as in ``_minhash_candidates``."""
    cand = _minhash_candidates(sigs, max_bucket, stack)
    return _jaccard_verified(cand, sigs, "shingles")


# --------------------------------------------------------------------------
# Edit-distance near-duplicate pairs (MinHash candidates, capped verify)
# --------------------------------------------------------------------------

#: Verify on a fixed prefix so per-pair cost is bounded: levenshtein is
#: O(len²) and unbounded doc length would make one hot pair a straggler
#: task. 256² cells per pair is constant work.
EDIT_PREFIX = 256
EDIT_THRESHOLD = 16


@CATALOG.add(
    "near_dup_pairs_editdist",
    _shingle_sql(
        f""",
    sigs AS (SELECT doc_id, {_SIG_SQL} FROM sets),
    bands AS ({_BANDS_SQL}),
    cand AS (
        SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
        FROM bands a JOIN bands b USING (band, k1, k2)
        WHERE a.doc_id < b.doc_id
    )
    SELECT c.doc_a, c.doc_b,
           CAST(levenshtein(substr(da.text, 1, {EDIT_PREFIX}),
                            substr(db.text, 1, {EDIT_PREFIX}))
                AS INTEGER) AS edit_distance
    FROM cand c
    JOIN documents da ON da.doc_id = c.doc_a
    JOIN documents db ON db.doc_id = c.doc_b
    WHERE levenshtein(substr(da.text, 1, {EDIT_PREFIX}),
                      substr(db.text, 1, {EDIT_PREFIX}))
          <= {EDIT_THRESHOLD}"""
    ),
    doc="Edit-distance near-duplicate pairs: MinHash-LSH candidate "
    f"generation (no all-pairs), verified by levenshtein ≤ "
    f"{EDIT_THRESHOLD} on a fixed {EDIT_PREFIX}-char prefix. The "
    "prefix cap bounds per-pair verify cost at O(prefix²) regardless "
    "of document length — without it one pair of long docs becomes a "
    "straggler task (levenshtein is quadratic). Character-level "
    "distance catches the intra-token edits shingle/token methods "
    "blur; the same candidate set feeds all verifiers, so cascading "
    "metrics costs one extra projection, not a new join.",
    tags=("similarity", "dedup", "join"),
)
def near_dup_pairs_editdist(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _with_shingles(_docs(spark, sf_dir))
    # Same recompute hazard as near_dup_pairs_minhash: the band
    # self-join is two branches over the signature pipeline.
    sigs = d.select("doc_id", *minhash_signature_cols())
    with cached(sigs) as sigs, ExitStack() as stack:
        sigs.count()
        return detach(
            near_dup_pairs_editdist_plan(sigs, _docs(spark, sf_dir), stack)
        )


def near_dup_pairs_editdist_plan(
    sigs: DataFrame,
    docs: DataFrame,
    stack: ExitStack | None = None,
) -> DataFrame:
    """The lazy edit-distance pairs plan over ``sigs`` (doc_id,
    MinHash signature) and ``docs`` (doc_id, text); ``stack`` as in
    ``_minhash_candidates``."""
    cand = _minhash_candidates(sigs, stack=stack)
    txt = docs.select(
        "doc_id", F.substring("text", 1, EDIT_PREFIX).alias("txt")
    )
    # Two exact-result-preserving prunes before the quadratic DP:
    # (1) |len_a - len_b| > k implies distance > k (length is a
    #     lower bound on edit distance) — free column compare;
    # (2) thresholded levenshtein (Ukkonen banding: O(len·k) cells
    #     instead of O(len²), returns -1 above k) — 8× less work
    #     per surviving pair at k=16, len=256. Same result set as
    #     the oracle's unbounded levenshtein ≤ k.
    return (
        _with_sides(cand, txt, "txt")
        .filter(
            F.abs(F.length("txt_a") - F.length("txt_b")) <= EDIT_THRESHOLD
        )
        .withColumn(
            "edit_distance",
            F.levenshtein("txt_a", "txt_b", EDIT_THRESHOLD).cast("int"),
        )
        .filter(F.col("edit_distance") >= 0)
        .select("doc_a", "doc_b", "edit_distance")
    )


# --------------------------------------------------------------------------
# SimHash near-duplicate pairs (banded bucket join, pigeonhole-exact)
# --------------------------------------------------------------------------

#: 5 bands × 12 bits cover the 60-bit SimHash. Pigeonhole: a pair at
#: Hamming distance ≤ 4 differs in at most 4 of the 5 bands, so at
#: least one band matches exactly — the banded join has FULL recall at
#: the verify threshold (Manku et al.'s simhash-dedup block scheme).
SIMHASH_BANDS = 5
SIMHASH_BAND_BITS = 12
HAMMING_THRESHOLD = 4

_SIMHASH_BANDS_SQL = "\nUNION ALL\n".join(
    f"SELECT doc_id, simhash, {j} AS band,"
    f" (simhash >> {j * SIMHASH_BAND_BITS}) & {(1 << SIMHASH_BAND_BITS) - 1}"
    f" AS bucket FROM simhashes"
    for j in range(SIMHASH_BANDS)
)


@CATALOG.add(
    "near_dup_pairs_simhash",
    # SIMHASH_CTE_SQL is the same signature pipeline doc_simhash runs.
    SIMHASH_CTE_SQL
    + f""",
    bands AS ({_SIMHASH_BANDS_SQL}),
    cand AS (
        SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
                        a.simhash AS sig_a, b.simhash AS sig_b
        FROM bands a JOIN bands b USING (band, bucket)
        WHERE a.doc_id < b.doc_id
    )
    SELECT doc_a, doc_b,
           CAST(bit_count(xor(sig_a, sig_b)) AS INTEGER) AS hamming
    FROM cand
    WHERE bit_count(xor(sig_a, sig_b)) <= {HAMMING_THRESHOLD}
    """,
    doc="SimHash near-duplicate pairs: 60-bit signature → "
    f"{SIMHASH_BANDS} bands × {SIMHASH_BAND_BITS} bits → bucket "
    f"self-join → Hamming verify ≤ {HAMMING_THRESHOLD} via "
    "bit_count(xor). Pigeonhole guarantees full recall: ≤ 4 differing "
    "bits cannot touch all 5 bands, so every qualifying pair shares a "
    "band bucket — exact result, no all-pairs stage. At 100 TB the "
    "bucket join shuffles docs×5 rows on (band, bucket); verify is "
    "one integer xor per candidate. Complements MinHash-LSH: SimHash "
    "catches token-multiset edits (Hamming ≈ angular distance of term "
    "vectors), MinHash catches shingle-set edits.",
    tags=("similarity", "dedup", "join"),
)
def near_dup_pairs_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    # band self-join = two branches over the signature scan
    with cached(simhash_frame(spark, sf_dir)) as sigs:
        sigs.count()
        return detach(near_dup_pairs_simhash_plan(sigs))


def near_dup_pairs_simhash_plan(sigs: DataFrame) -> DataFrame:
    """The lazy SimHash pairs plan over ``sigs`` (doc_id, simhash)."""
    # One generator pass over the signatures (posexplode), not a
    # 5-way union — same lesson as the MinHash bands.
    bands = sigs.select(
        "doc_id",
        "simhash",
        F.posexplode(
            F.array(
                *[
                    F.expr(
                        f"(simhash >> {j * SIMHASH_BAND_BITS})"
                        f" & {(1 << SIMHASH_BAND_BITS) - 1}"
                    )
                    for j in range(SIMHASH_BANDS)
                ]
            )
        ).alias("band", "bucket"),
    )
    cand = (
        _self_pairs(bands, ["band", "bucket"], "simhash")
        .select("doc_a", "doc_b", "simhash_a", "simhash_b")
        .distinct()
    )
    hamming = F.bit_count(F.expr("simhash_a ^ simhash_b"))
    return (
        cand.withColumn("hamming", hamming.cast("int"))
        .filter(F.col("hamming") <= HAMMING_THRESHOLD)
        .select("doc_a", "doc_b", "hamming")
    )


# --------------------------------------------------------------------------
# Winnowing-fingerprint pairs (local-overlap detector)
# --------------------------------------------------------------------------

#: Two docs are flagged when they share at least this many DISTINCT
#: winnowing fingerprints — i.e. several independent >= 6-token runs
#: in common, the local-overlap signal (quotation, boilerplate,
#: template reuse) that global signatures dilute away.
WINNOW_SHARED_THRESHOLD = 8


@CATALOG.add(
    "near_dup_pairs_winnow",
    f"""
    WITH w_out AS ({WINNOW_FPS_SQL}),
    d AS (SELECT DISTINCT doc_id, fp FROM w_out)
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
           CAST(COUNT(*) AS BIGINT) AS n_shared_fps
    FROM d a JOIN d b ON a.fp = b.fp AND a.doc_id < b.doc_id
    GROUP BY a.doc_id, b.doc_id
    HAVING COUNT(*) >= {WINNOW_SHARED_THRESHOLD}
    """,
    doc="Near-dup / overlap pairs from winnowing fingerprints: distinct "
    "(doc_id, fp) per document, self-join on fp, keep pairs sharing "
    f">= {WINNOW_SHARED_THRESHOLD} fingerprints. Winnowing guarantees "
    "every shared run of >= w+k-1 tokens contributes a shared "
    "fingerprint, so this detector surfaces LOCAL overlap — long "
    "quotations, shared boilerplate, template reuse — that "
    "whole-document signatures (MinHash/SimHash) dilute away when the "
    "rest of the text differs; leakage_audit takes its pairs like any "
    "other pairs pipeline's. Scale shape: the "
    "fingerprint frame is ~2/(w+1) of the shingle count, the self-join "
    "is a hash join on fp (bucket-able exactly like the band joins; a "
    "stop-fingerprint cut on document frequency caps hot keys the "
    "same way band-bucket caps do), and the pair aggregation is one "
    "shuffle on (doc_a, doc_b).",
    tags=("similarity", "dedup", "text", "join"),
)
def near_dup_pairs_winnow(spark: SparkSession, sf_dir: str) -> DataFrame:
    fps = (
        winnow_fingerprints(
            _docs(spark, sf_dir).withColumn(
                "tokens", F.split("text", " ")
            )
        )
        .select("doc_id", "fp")
        .distinct()
    )
    # Both self-join branches read fps: persist so the windowed
    # fingerprint pipeline (posexplode + two window passes) runs once,
    # not once per side — Spark does not dedupe common subplans.
    with cached(fps) as fps:
        fps.count()
        return detach(
            _self_pairs(fps, ["fp"])
            .groupBy("doc_a", "doc_b")
            .agg(F.count(F.lit(1)).alias("n_shared_fps"))
            .filter(F.col("n_shared_fps") >= WINNOW_SHARED_THRESHOLD)
        )


# --------------------------------------------------------------------------
# Exact n-gram Jaccard join (prefix filtering — no all-pairs, no LSH loss)
# --------------------------------------------------------------------------


def _ngram_candidates(srt: DataFrame, filters: bool = True) -> DataFrame:
    """Prefix-filtering candidate pairs from ``(doc_id, sh sorted)``.

    ``filters=True`` additionally applies the length and positional
    candidate cuts (Bayardo/Xiao all-pairs filters — prune only, never
    recall loss, so the DuckDB oracle stays the plain prefix join):

    - LENGTH: with |A| <= |B|, J <= |A|/|B|, so J >= 0.6 forces
      5*min(sz) >= 3*max(sz). Kills small-vs-large pairs that grow
      super-linearly on skewed shingle-length corpora.
    - POSITIONAL: a match at 0-indexed positions (p_a, p_b) caps the
      overlap at min(sz_a - p_a, sz_b - p_b); J >= 0.6 needs overlap
      >= ceil(3*(sz_a+sz_b)/8). The FIRST common token of a qualifying
      pair always passes (everything before it is disjoint in both
      docs), so any-match-passes keeps full recall.

    ``filters=False`` is the plain prefix join, kept for the prune-rate
    regression test in ``tests/test_plans.py``.
    """
    pre = srt.select(
        "doc_id",
        F.size("sh").alias("sz"),
        F.posexplode(
            F.expr("slice(sh, 1, size(sh) - (3 * size(sh) + 4) div 5 + 1)")
        ).alias("p", "h"),
    )
    cand = _self_pairs(pre, ["h"], "sz", "p")
    if filters:
        cand = cand.filter(
            "least(sz_a, sz_b) * 5 >= greatest(sz_a, sz_b) * 3"
            " AND least(sz_a - p_a, sz_b - p_b)"
            "     >= (3 * (sz_a + sz_b) + 7) div 8"
        )
    return cand.select("doc_a", "doc_b").distinct()


@CATALOG.add(
    "near_dup_pairs_ngram",
    _shingle_sql(
        f""",
    srt AS (SELECT doc_id, list_sort(sh_hashes) AS sh FROM sets),
    pre AS (
        -- prefix length |S| - ceil(t·|S|) + 1 under the global hash
        -- order; (3n+4)//5 == ceil(0.6n) in exact integer arithmetic
        SELECT doc_id,
               unnest(sh[1 : len(sh) - (3 * len(sh) + 4) // 5 + 1]) AS h
        FROM srt
    ),
    cand AS (
        SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
        FROM pre a JOIN pre b ON a.h = b.h AND a.doc_id < b.doc_id
    )
    SELECT doc_a, doc_b,
           CAST(len(list_intersect(sa.sh, sb.sh)) AS DOUBLE)
             / (len(sa.sh) + len(sb.sh) - len(list_intersect(sa.sh, sb.sh)))
               AS jaccard
    FROM cand
    JOIN srt sa ON sa.doc_id = doc_a
    JOIN srt sb ON sb.doc_id = doc_b
    WHERE CAST(len(list_intersect(sa.sh, sb.sh)) AS DOUBLE)
          / (len(sa.sh) + len(sb.sh) - len(list_intersect(sa.sh, sb.sh)))
          >= {JACCARD_THRESHOLD}"""
    ),
    doc="EXACT n-gram Jaccard similarity join via prefix filtering "
    "(Bayardo et al., 'Scaling Up All Pairs'): sort each doc's shingle "
    "hashes under a global order, index only the first "
    "|S| − ⌈t·|S|⌉ + 1 of them; any pair with J ≥ t MUST share a "
    "prefix hash, so the equi-join on prefix hashes has full recall — "
    "exact results (unlike MinHash-LSH) without an all-pairs stage. "
    "Length and positional filters (Xiao et al., PPJoin) prune "
    "size-incompatible and late-position candidates before the "
    "verify join, again without recall loss. "
    "Verified identical to the all-pairs answer on this corpus. At "
    "100 TB: explode ≈ 0.4·|shingles| rows, one hash-shuffle on the "
    "shingle hash (uniform by construction), verify only candidates.",
    tags=("similarity", "dedup", "join"),
)
def near_dup_pairs_ngram(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _with_shingles(_docs(spark, sf_dir))
    # srt feeds four branches (prefix-index a/b + verify sa/sb) — same
    # recompute hazard as the MinHash family.
    srt = d.select("doc_id", F.array_sort("sh_hashes").alias("sh"))
    with cached(srt) as srt:
        srt.count()
        return detach(near_dup_pairs_ngram_plan(srt))


def near_dup_pairs_ngram_plan(srt: DataFrame) -> DataFrame:
    """The lazy exact n-gram pairs plan over ``srt`` (doc_id, sorted
    shingle hashes ``sh``)."""
    return _jaccard_verified(_ngram_candidates(srt), srt, "sh")


# --------------------------------------------------------------------------
# Near-dup clusters: connected components + keeper assignment
# --------------------------------------------------------------------------

#: Shared recursive transitive-closure fragment over the MinHash pairs:
#: symmetrized edges -> full reachability (used by all four
#: cluster-consuming oracles). ONE definition so a change to the
#: closure (seeding, symmetrization, keeper rule) can never
#: desynchronize the clusters / cascade / group-split / manifest
#: oracles.
_REACH_SQL = f"""WITH RECURSIVE p AS ({_MINHASH_PAIRS_SQL}),
e AS (
    SELECT doc_a AS u, doc_b AS v FROM p
    UNION
    SELECT doc_b, doc_a FROM p
),
reach(u, v) AS (
    SELECT u, u FROM e
    UNION
    SELECT r.u, e.v FROM reach r JOIN e ON r.v = e.u
)"""

#: The min-label cluster map most consumers want on top of the closure.
_CLUSTER_MAP_SQL = _REACH_SQL + """,
cl AS (SELECT u AS doc_id, MIN(v) AS cluster_id FROM reach GROUP BY u)"""


def _cluster_map(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, cluster_id): every document in a MinHash near-dup pair
    with its connected component, named by the component's least
    doc_id. The near-dup family's one connected-components run."""
    # near_dup_pairs_minhash returns an eagerly-materialized frame
    # (localCheckpoint inside), so the operator's symmetrizing union
    # reads checkpointed partitions — no recompute, no extra persist.
    pairs = near_dup_pairs_minhash(spark, sf_dir)
    return connected_components(
        pairs.select(
            F.col("doc_a").alias("src"), F.col("doc_b").alias("dst")
        )
    ).withColumnRenamed("node", "doc_id")


@CATALOG.add(
    "near_dup_clusters",
    _REACH_SQL
    + """
SELECT u AS doc_id, MIN(v) AS cluster_id,
       CAST(COUNT(*) AS BIGINT) AS n_component,
       u = MIN(v) AS is_keeper
FROM reach GROUP BY u
""",
    doc="Dedup-cascade completion: near-dup PAIRS group into connected "
    "COMPONENTS and each component elects min(doc_id) as keeper — the "
    "step that turns pairwise similarity into delete decisions "
    "(A~B, B~C must drop two docs, not arbitrary pair halves). "
    "Spark side is operators/graph.connected_components: min-label "
    "propagation with POINTER JUMPING (label ← label's label each "
    "round), so rounds are O(log n) instead of O(component diameter) "
    "— a 10k-doc near-dup chain converges in ~14 shuffles, not 10k. "
    "State per round is the label frame (O(participating docs), tiny "
    "vs corpus) with edges persisted once. The DuckDB oracle computes "
    "the same fixpoint as a recursive-CTE transitive closure — "
    "a deliberately different algorithm, so agreement checks the "
    "iteration's convergence, not just its arithmetic. Closure is "
    "O(component²) and fine for an oracle; the iterative form is the "
    "one that scales.",
    tags=("similarity", "dedup", "iterative"),
)
def near_dup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    # n_component as a window count over the label frame, not a
    # groupBy+join-back: the former sizes aggregate paid one exchange
    # for the aggregate and a second for the join; the window pays
    # exactly one exchange on the same key with identical counts
    # (count-over-partition is order-insensitive; guide §2.4 — r16
    # optimization, oracle-pinned). The label frame is O(near-dup
    # participants) — minuscule vs the corpus at any scale — so the
    # win is the removed exchange+join, not bytes.
    return _cluster_map(spark, sf_dir).select(
        "doc_id",
        "cluster_id",
        F.count(F.lit(1))
        .over(Window.partitionBy("cluster_id"))
        .alias("n_component"),
        (F.col("doc_id") == F.col("cluster_id")).alias("is_keeper"),
    )


# --------------------------------------------------------------------------
# Embedding-cosine near-duplicate pairs (cell-bucketed)
# --------------------------------------------------------------------------

COSINE_NEAR_DUP_THRESHOLD = 0.3

_QUANT_SQL = (
    f"list_transform(embedding, x -> floor(CAST(x AS DOUBLE) * {QUANT_SCALE}))"
)


@CATALOG.add(
    "near_dup_pairs_embedding",
    f"""
    WITH n AS (
        SELECT vec_id, label AS cell, {_QUANT_SQL} AS v,
               list_sum(list_transform({_QUANT_SQL}, x -> x * x)) AS nrm
        FROM embeddings
    )
    SELECT a.vec_id AS vec_a, b.vec_id AS vec_b, a.cell,
           list_sum(list_transform(range(1, len(a.v) + 1),
                    i -> a.v[i] * b.v[i]))
             / sqrt(a.nrm * b.nrm) AS cosine
    FROM n a JOIN n b ON a.cell = b.cell AND a.vec_id < b.vec_id
    WHERE a.nrm > 0 AND b.nrm > 0
      AND list_sum(list_transform(range(1, len(a.v) + 1),
                   i -> a.v[i] * b.v[i]))
            / sqrt(a.nrm * b.nrm) >= {COSINE_NEAR_DUP_THRESHOLD}
    """,
    doc="Embedding-cosine near-duplicate pairs, cell-bucketed: "
    "candidates are pairs sharing a coarse cell (the label column — "
    "the IVF cell id a k-means pass assigns at scale), verified by the "
    "exact scalar-quantized cosine ≥ "
    f"{COSINE_NEAR_DUP_THRESHOLD}. The equi-join on the cell id keeps "
    "pair generation at Σ|cell|² instead of n² — with the corpus "
    "bucketed by cell at 100 TB the join is shuffle-free and each "
    "cell's block fits one task (cap cell size via k). For the "
    "near-identical regime (cos ≥ 0.95) the same verify drops behind "
    "a hyperplane-LSH bucketer (the banding shape demoed by the "
    "SimHash and MinHash queries). Same exact integer dot-product "
    "arithmetic as knn_cosine_topk, so results hash bit-identically.",
    tags=("similarity", "dedup", "embedding", "join"),
)
def near_dup_pairs_embedding(spark: SparkSession, sf_dir: str) -> DataFrame:
    base = _vectors(
        _emb(spark, sf_dir), "vec_id", F.col("label").alias("cell")
    )
    return _cosine_pairs(base, "cell", COSINE_NEAR_DUP_THRESHOLD)


# --------------------------------------------------------------------------
# Embedding kNN — scalar-quantized exact cosine
# --------------------------------------------------------------------------

#: Queries are the first N_QUERY vec_ids; neighbors are everything else.
N_QUERY = 5
TOP_K = 10
#: Top-k returned by every PROBED ANN variant (IVF, hyperplane
#: LSH, multiprobe) — and therefore the k of the recall@k
#: evaluation, which compares them against the exact baseline.
#: One constant so the three oracles, the three builders, and
#: ann_recall_at_k can never drift apart (review r06: the
#: literals were independent and only accidentally equal).
PROBE_TOP_K = 5

_KNN_BASE_SQL = f"""
WITH q AS (
    SELECT vec_id AS query_id, {_QUANT_SQL} AS v
    FROM embeddings WHERE vec_id < {N_QUERY}
),
n AS (
    SELECT vec_id AS neighbor_id, label, {_QUANT_SQL} AS v
    FROM embeddings WHERE vec_id >= {N_QUERY}
),
qn AS (SELECT query_id, v,
              list_sum(list_transform(v, x -> x * x)) AS nrm FROM q),
nn AS (SELECT neighbor_id, label, v,
              list_sum(list_transform(v, x -> x * x)) AS nrm FROM n)
"""

_DOT_SQL = (
    "list_sum(list_transform(range(1, len(qn.v) + 1),"
    " i -> qn.v[i] * nn.v[i]))"
)


def _query_split(base: DataFrame, *cols: str) -> tuple[DataFrame, DataFrame]:
    """``_vectors`` frame ``base`` split into the first N_QUERY vectors
    (``query_id``) and the corpus (``neighbor_id``), each side keeping
    ``cols`` and its vector."""
    rest = (*cols, "v", "nrm")
    return (
        base.filter(F.col("vec_id") < N_QUERY).select(
            F.col("vec_id").alias("query_id"), *rest
        ),
        base.filter(F.col("vec_id") >= N_QUERY).select(
            F.col("vec_id").alias("neighbor_id"), *rest
        ),
    )


def _cosine_topk(
    queries: DataFrame,
    corpus: DataFrame,
    k: int,
    on: str | Column | None = None,
) -> DataFrame:
    """Per query, the ``k`` corpus vectors of highest exact cosine (ties
    broken on the corpus id), numbered ``rnk`` 1..k.

    Both sides are ``_vectors`` frames whose first column is their id.
    The small query side is broadcast: paired with the corpus on the
    equi-key ``on`` when it is a column name, else with every corpus
    row that satisfies the predicate ``on`` (all of them when None) —
    linear in corpus size, no shuffle until the per-query rank. Zero
    vectors have no cosine. Returns the query then the corpus columns
    (``on``, ``v`` and ``nrm`` excluded), ``rnk`` and ``cosine``."""
    q = queries.withColumnsRenamed({"v": "vq", "nrm": "nrm_q"})
    n = corpus.withColumnsRenamed({"v": "vn", "nrm": "nrm_n"})
    drop = ("v", "nrm", on) if isinstance(on, str) else ("v", "nrm")
    out = [c for c in queries.columns + corpus.columns if c not in drop]
    if isinstance(on, str):
        pairs = n.join(F.broadcast(q), on)
    else:
        pairs = n.crossJoin(F.broadcast(q))
        if on is not None:
            pairs = pairs.filter(on)
    w = Window.partitionBy(queries.columns[0]).orderBy(
        F.col("cosine").desc(), F.col(corpus.columns[0])
    )
    return (
        pairs.filter((F.col("nrm_q") > 0) & (F.col("nrm_n") > 0))
        .withColumn("cosine", _cosine("q", "n"))
        .withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= k)
        .select(*out, "rnk", "cosine")
    )


@CATALOG.add(
    "knn_cosine_topk",
    _KNN_BASE_SQL
    + f"""
    SELECT query_id, neighbor_id, rnk, cosine
    FROM (
        SELECT qn.query_id, nn.neighbor_id,
               {_DOT_SQL} / sqrt(qn.nrm * nn.nrm) AS cosine,
               ROW_NUMBER() OVER (
                   PARTITION BY qn.query_id
                   ORDER BY {_DOT_SQL} / sqrt(qn.nrm * nn.nrm) DESC,
                            nn.neighbor_id
               ) AS rnk
        FROM qn CROSS JOIN nn
        WHERE qn.nrm > 0 AND nn.nrm > 0
    )
    WHERE rnk <= {TOP_K}
    """,
    doc=f"Brute-force cosine top-{TOP_K} for {N_QUERY} query vectors — "
    "the exactness baseline ANN variants are judged against. Embedding "
    "components are scalar-quantized (floor(x·1000): float→double is "
    "exact, so both engines quantize identically) making dot products "
    "and norms EXACT integer sums — order-independent, hence "
    "hash-stable under any partitioning. The query side is a tiny "
    "broadcast against a full scan of the corpus: linear in corpus "
    "size, embarrassingly parallel, no shuffle until the final "
    "per-query top-k (TakeOrdered over ≤ corpus rows).",
    tags=("similarity", "embedding", "join"),
)
def knn_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    base = _vectors(_emb(spark, sf_dir), "vec_id")
    return _cosine_topk(*_query_split(base), TOP_K)


# --------------------------------------------------------------------------
# Hard-negative mining (contrastive-training data prep)
# --------------------------------------------------------------------------

#: Hard negatives mined per anchor.
HARD_NEG_K = 5


@CATALOG.add(
    "hard_negative_mining",
    f"""
    WITH q AS (
        SELECT vec_id AS anchor_id, label AS anchor_label,
               {_QUANT_SQL} AS v
        FROM embeddings WHERE vec_id < {N_QUERY}
    ),
    n AS (
        SELECT vec_id AS negative_id, label AS negative_label,
               {_QUANT_SQL} AS v
        FROM embeddings WHERE vec_id >= {N_QUERY}
    ),
    qn AS (SELECT anchor_id, anchor_label, v,
                  list_sum(list_transform(v, x -> x * x)) AS nrm FROM q),
    nn AS (SELECT negative_id, negative_label, v,
                  list_sum(list_transform(v, x -> x * x)) AS nrm FROM n)
    SELECT anchor_id, anchor_label, negative_id, negative_label,
           rnk, cosine
    FROM (
        SELECT qn.anchor_id, qn.anchor_label,
               nn.negative_id, nn.negative_label,
               {_DOT_SQL} / sqrt(qn.nrm * nn.nrm) AS cosine,
               ROW_NUMBER() OVER (
                   PARTITION BY qn.anchor_id
                   ORDER BY {_DOT_SQL} / sqrt(qn.nrm * nn.nrm) DESC,
                            nn.negative_id
               ) AS rnk
        FROM qn CROSS JOIN nn
        WHERE qn.nrm > 0 AND nn.nrm > 0
          AND nn.negative_label <> qn.anchor_label
    )
    WHERE rnk <= {HARD_NEG_K}
    """,
    doc=f"Hard-negative mining for contrastive training: for each of "
    f"{N_QUERY} anchor embeddings, the top-{HARD_NEG_K} most "
    "cosine-similar vectors carrying a DIFFERENT label — the "
    "nearest-but-wrong examples that make the strongest negatives for "
    "embedding-model fine-tuning (easy random negatives saturate the "
    "loss; hard ones keep the gradient informative). Same "
    "quantized-integer exact-cosine arithmetic and broadcast-anchors × "
    "corpus-scan shape as knn_cosine_topk — the label inequality is an "
    "extra scan-stage predicate, so mining cost equals a kNN pass: "
    "linear in corpus size, no shuffle until the per-anchor top-k. At "
    "100 TB the label filter composes with the ANN variants (IVF cell "
    "probe / hyperplane LSH) exactly as kNN does; the brute-force form "
    "here is the recall oracle those variants are judged against.",
    tags=("similarity", "embedding", "join"),
)
def hard_negative_mining(spark: SparkSession, sf_dir: str) -> DataFrame:
    base = _vectors(_emb(spark, sf_dir), "vec_id", "label")
    q, n = _query_split(base, "label")
    return _cosine_topk(
        q.withColumnsRenamed(
            {"query_id": "anchor_id", "label": "anchor_label"}
        ),
        n.withColumnsRenamed(
            {"neighbor_id": "negative_id", "label": "negative_label"}
        ),
        HARD_NEG_K,
        on=F.col("negative_label") != F.col("anchor_label"),
    )


# --------------------------------------------------------------------------
# Hyperplane-LSH bucketed ANN (random-projection sign bits)
# --------------------------------------------------------------------------

#: Random ±1 hyperplanes, FIXED at module definition (seeded PRNG, so
#: both the Spark expression and the DuckDB oracle embed the identical
#: literal weight arrays — sign bits are exact integer comparisons).
#: 4 planes → 16 buckets: sized so local-SF buckets stay populated; at
#: 100 TB the plane count grows with log2(corpus/target-bucket-size).
N_PLANES = 4
_EMB_DIM = 64
_rng = random.Random(20260813)
HYPERPLANES = [
    [_rng.choice((-1, 1)) for _ in range(_EMB_DIM)] for _ in range(N_PLANES)
]


def _bucket_sql() -> str:
    bits = []
    for k, w in enumerate(HYPERPLANES):
        lit = "[" + ",".join(str(x) for x in w) + "]"
        bits.append(
            f"(CASE WHEN list_sum(list_transform(range(1, {_EMB_DIM} + 1),"
            f" i -> v[i] * ({lit})[i])) >= 0 THEN 1 ELSE 0 END) * {1 << k}"
        )
    return " + ".join(bits)


def _bucket_col() -> Column:
    return reduce(
        operator.add,
        (
            F.when(int_dot("v", F.array(*map(F.lit, w))) >= 0, 1).otherwise(0)
            * (1 << k)
            for k, w in enumerate(HYPERPLANES)
        ),
    )


def _lsh_split(
    spark: SparkSession, sf_dir: str
) -> tuple[DataFrame, DataFrame]:
    """Queries and corpus, each vector tagged with its ``bucket``."""
    base = _vectors(_emb(spark, sf_dir), "vec_id")
    return _query_split(base.withColumn("bucket", _bucket_col()), "bucket")


@CATALOG.add(
    "ann_hyperplane_lsh_topk",
    _KNN_BASE_SQL
    + f""",
    qb AS (SELECT query_id, v, nrm, {_bucket_sql()} AS bucket FROM qn),
    nb AS (SELECT neighbor_id, v, nrm, {_bucket_sql()} AS bucket FROM nn)
    SELECT query_id, neighbor_id, rnk, cosine
    FROM (
        SELECT qn.query_id, nn.neighbor_id,
               {_DOT_SQL} / sqrt(qn.nrm * nn.nrm) AS cosine,
               ROW_NUMBER() OVER (
                   PARTITION BY qn.query_id
                   ORDER BY {_DOT_SQL} / sqrt(qn.nrm * nn.nrm) DESC,
                            nn.neighbor_id
               ) AS rnk
        FROM qb qn JOIN nb nn ON nn.bucket = qn.bucket
        WHERE qn.nrm > 0 AND nn.nrm > 0
    )
    WHERE rnk <= {PROBE_TOP_K}
    """,
    doc=f"Hyperplane-LSH bucketed ANN: {N_PLANES} fixed random ±1 "
    "hyperplanes (literal weight arrays, identical in both engines) "
    "give each vector a sign-bit signature; a query probes only its "
    "own bucket — the random-projection analog of the IVF cell probe, "
    "needing no clustering pass. Sign bits are exact integer "
    "comparisons on the quantized components, so bucketing is "
    "deterministic; ranking reuses the exact quantized cosine. At "
    "100 TB the corpus is bucketed/partitioned by signature "
    "(multiprobe = also visiting 1-bit-flip neighbors, recall knob), "
    "and the plane count scales with log2 of corpus/bucket-size.",
    tags=("similarity", "embedding", "join"),
)
def ann_hyperplane_lsh_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _cosine_topk(*_lsh_split(spark, sf_dir), PROBE_TOP_K, on="bucket")


# --------------------------------------------------------------------------
# Multiprobe hyperplane LSH (1-bit-flip probes — the recall knob, built)
# --------------------------------------------------------------------------

#: Probe signatures per query: own bucket + every 1-bit flip.
_PROBE_XORS = [0] + [1 << k for k in range(N_PLANES)]


@CATALOG.add(
    "ann_multiprobe_lsh_topk",
    _KNN_BASE_SQL
    + f""",
    qb AS (SELECT query_id, v, nrm, {_bucket_sql()} AS bucket FROM qn),
    nb AS (SELECT neighbor_id, v, nrm, {_bucket_sql()} AS bucket FROM nn),
    qp AS (
        SELECT query_id, v, nrm,
               unnest([{", ".join(f"xor(bucket, {x})" for x in _PROBE_XORS)}])
                   AS bucket
        FROM qb
    )
    SELECT query_id, neighbor_id, rnk, cosine
    FROM (
        SELECT qn.query_id, nn.neighbor_id,
               {_DOT_SQL} / sqrt(qn.nrm * nn.nrm) AS cosine,
               ROW_NUMBER() OVER (
                   PARTITION BY qn.query_id
                   ORDER BY {_DOT_SQL} / sqrt(qn.nrm * nn.nrm) DESC,
                            nn.neighbor_id
               ) AS rnk
        FROM qp qn JOIN nb nn ON nn.bucket = qn.bucket
        WHERE qn.nrm > 0 AND nn.nrm > 0
    )
    WHERE rnk <= {PROBE_TOP_K}
    """,
    doc=f"MULTIPROBE hyperplane LSH — the recall knob the single-probe "
    "query's doc promises, built: each query probes its own sign-bit "
    f"bucket plus every 1-bit flip ({N_PLANES + 1} probes), the "
    "standard fix for LSH's boundary problem (a vector near a "
    "hyperplane lands in the adjacent bucket; flipping the weakest "
    "bit recovers it). Candidates stay an EQUI-join — probe "
    "signatures explode on the tiny broadcast query side "
    f"(Q×{N_PLANES + 1} rows), the corpus side still hashes each "
    "vector to exactly one bucket, and a neighbor matches at most "
    "one probe (XOR values are distinct) so no dedup pass is "
    "needed. Candidate volume ≈ (probes/2^planes)·corpus per query; "
    "at 100 TB probes trade linearly against recall while the "
    "bucketed-by-signature layout keeps every probe a "
    "partition-pruned scan. Candidate-superset vs single-probe is "
    "pinned in tests/test_plans.py.",
    tags=("similarity", "embedding", "join"),
)
def ann_multiprobe_lsh_topk(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    q, n = _lsh_split(spark, sf_dir)
    probes = F.explode(
        F.array(*(F.col("bucket").bitwiseXOR(x) for x in _PROBE_XORS))
    )
    return _cosine_topk(
        q.withColumn("bucket", probes), n, PROBE_TOP_K, on="bucket"
    )


# --------------------------------------------------------------------------
# IVF-style probed ANN (cluster = label column)
# --------------------------------------------------------------------------


@CATALOG.add(
    "ann_ivf_probe_topk",
    _KNN_BASE_SQL
    + f""",
    qlab AS (
        SELECT qn.query_id, qn.v, qn.nrm, e.label
        FROM qn JOIN embeddings e ON e.vec_id = qn.query_id
    )
    SELECT query_id, neighbor_id, rnk, cosine
    FROM (
        SELECT qn.query_id, nn.neighbor_id,
               {_DOT_SQL} / sqrt(qn.nrm * nn.nrm) AS cosine,
               ROW_NUMBER() OVER (
                   PARTITION BY qn.query_id
                   ORDER BY {_DOT_SQL} / sqrt(qn.nrm * nn.nrm) DESC,
                            nn.neighbor_id
               ) AS rnk
        FROM qlab qn JOIN nn ON nn.label = qn.label
        WHERE qn.nrm > 0 AND nn.nrm > 0
    )
    WHERE rnk <= {PROBE_TOP_K}
    """,
    doc="IVF-probed ANN: the corpus is pre-assigned to coarse cells "
    "(here the label column stands in for the k-means cell id a real "
    "IVF index stores); a query searches ONLY its own cell — an "
    "equi-join on the cell id instead of a cross join, cutting scanned "
    "vectors by the cell count. At 100 TB the corpus is partitioned/"
    "bucketed by cell id, so the probe is a partition-pruned scan; "
    "same exact quantized-cosine arithmetic as the brute-force "
    "baseline, so recall is measurable by direct comparison.",
    tags=("similarity", "embedding", "join"),
)
def ann_ivf_probe_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    base = _vectors(
        _emb(spark, sf_dir), "vec_id", F.col("label").alias("cell")
    )
    return _cosine_topk(*_query_split(base, "cell"), PROBE_TOP_K, on="cell")


# --------------------------------------------------------------------------
# ANN quality evaluation: recall@k of the IVF probe vs exact kNN
# --------------------------------------------------------------------------

#: Cutoff for the recall comparison (the IVF query returns top-5).
RECALL_K = PROBE_TOP_K


@CATALOG.add(
    "ann_recall_at_k",
    _KNN_BASE_SQL
    + f""",
    exact AS (
        SELECT query_id, neighbor_id
        FROM (
            SELECT qn.query_id, nn.neighbor_id,
                   ROW_NUMBER() OVER (
                       PARTITION BY qn.query_id
                       ORDER BY {_DOT_SQL} / sqrt(qn.nrm * nn.nrm) DESC,
                                nn.neighbor_id
                   ) AS rnk
            FROM qn CROSS JOIN nn
            WHERE qn.nrm > 0 AND nn.nrm > 0
        ) WHERE rnk <= {RECALL_K}
    ),
    qlab AS (
        SELECT qn.query_id, qn.v, qn.nrm, e.label
        FROM qn JOIN embeddings e ON e.vec_id = qn.query_id
    ),
    approx AS (
        SELECT query_id, neighbor_id
        FROM (
            SELECT qn.query_id, nn.neighbor_id,
                   ROW_NUMBER() OVER (
                       PARTITION BY qn.query_id
                       ORDER BY {_DOT_SQL} / sqrt(qn.nrm * nn.nrm) DESC,
                                nn.neighbor_id
                   ) AS rnk
            FROM qlab qn JOIN nn ON nn.label = qn.label
            WHERE qn.nrm > 0 AND nn.nrm > 0
        ) WHERE rnk <= {RECALL_K}
    )
    SELECT e.query_id,
           CAST(COUNT(a.neighbor_id) AS BIGINT) AS n_hits,
           CAST({RECALL_K} AS BIGINT) AS k,
           CAST(COUNT(a.neighbor_id) * 1000 // {RECALL_K} AS BIGINT)
               AS recall_permille
    FROM exact e LEFT JOIN approx a USING (query_id, neighbor_id)
    GROUP BY e.query_id
    """,
    doc=f"ANN index-quality evaluation: per-query recall@{RECALL_K} "
    "of the IVF cell probe against the brute-force exact kNN — the "
    "measurement every production ANN deployment runs before trusting "
    "an index (and re-runs on drift). Composes the two "
    "already-verified operators: the ORACLE's exact and probed top-k "
    "share one scan+quantization CTE; the Spark side reuses the two "
    "builders as-is, so each scans and quantizes the embeddings "
    "independently (Spark does not dedupe common subplans — at a "
    "scale where the scan dominates, persist one shared quantized "
    "base frame and thread it through both). "
    "Then a LEFT join on (query_id, neighbor_id) counts matches — "
    "COUNT(non-null) over the left join keeps 0-recall queries in "
    "the output (an inner-join recall metric silently drops exactly "
    "the queries that matter most). Recall is emitted as an exact "
    "integer permille (hits*1000 div k) — no float division, "
    "hash-stable. At 100 TB this runs on a SAMPLE of queries "
    "(first-N here stands in for the sampled panel) against the full "
    "corpus: cost = one exact-kNN pass over the panel, the one "
    "measurement that justifies trusting the cheap path for "
    "everything else.",
    tags=("similarity", "embedding", "join", "profiling"),
)
def ann_recall_at_k(spark: SparkSession, sf_dir: str) -> DataFrame:
    exact = (
        knn_cosine_topk(spark, sf_dir)
        .filter(F.col("rnk") <= RECALL_K)
        .select("query_id", "neighbor_id")
    )
    approx = (
        ann_ivf_probe_topk(spark, sf_dir)
        .filter(F.col("rnk") <= RECALL_K)
        .select("query_id", "neighbor_id", F.lit(1).alias("hit"))
    )
    return (
        exact.join(approx, ["query_id", "neighbor_id"], "left")
        .groupBy("query_id")
        .agg(F.count("hit").alias("n_hits"))
        .select(
            "query_id",
            F.col("n_hits").cast("bigint").alias("n_hits"),
            F.lit(RECALL_K).cast("bigint").alias("k"),
            F.expr(f"n_hits * 1000 div {RECALL_K}")
            .cast("bigint")
            .alias("recall_permille"),
        )
    )


# --------------------------------------------------------------------------
# Product quantization: per-subspace codebook assignment (IVF-PQ prep)
# --------------------------------------------------------------------------

#: Subspaces the 64-dim embedding splits into (16 dims each).
PQ_M = 4
#: Dims per subspace (embedding_dim / PQ_M).
PQ_SUBDIM = 16
#: Codewords per subspace codebook — the first PQ_K vectors' subvectors
#: serve as the (deterministic, iteration-free) trained codebook.
PQ_K = 16


def _pq_subvectors(
    e: DataFrame, extra_cols: tuple[str, ...] = ()
) -> DataFrame:
    """(vec_id, subspace, subvec): each quantized embedding split into
    PQ_M integer subvectors — the shared front of every PQ query.

    ``extra_cols`` ride along per vec_id (e.g. the IVF cell label) so
    callers never re-join the embeddings table just to re-attach a
    column they dropped here — at 100 TB that re-join is a full
    n-row shuffle (r08 scan audit)."""
    return e.select(
        F.col("vec_id"), *extra_cols, quantized().alias("v")
    ).select(
        "vec_id",
        *extra_cols,
        F.explode(
            F.expr(
                f"transform(sequence(0, {PQ_M - 1}),"
                f" s -> struct(cast(s as bigint) AS subspace,"
                f" slice(v, s * {PQ_SUBDIM} + 1, {PQ_SUBDIM}) AS subvec))"
            )
        ).alias("s"),
    ).select(
        "vec_id",
        *extra_cols,
        F.col("s.subspace").alias("subspace"),
        F.col("s.subvec").alias("subvec"),
    )


def _pq_codebook(sub: DataFrame) -> DataFrame:
    """(cid, subspace, cvec): the deterministic first-PQ_K codebook."""
    return sub.filter(F.col("vec_id") < PQ_K).select(
        F.col("vec_id").alias("cid"),
        "subspace",
        F.col("subvec").alias("cvec"),
    )


def _pq_codes(
    sub: DataFrame, cb: DataFrame, extra_cols: tuple[str, ...] = ()
) -> DataFrame:
    """(vec_id, subspace, code, sq_dist): nearest-codeword argmin.
    ``extra_cols`` carried from ``sub`` (constant per vec_id)."""
    d = sub.join(F.broadcast(cb), "subspace").withColumn(
        "sq_dist", int_sq_dist("subvec", "cvec")
    )
    w = Window.partitionBy("vec_id", "subspace").orderBy("sq_dist", "cid")
    return (
        d.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(
            "vec_id",
            *extra_cols,
            "subspace",
            F.col("cid").alias("code"),
            F.col("sq_dist").cast("bigint").alias("sq_dist"),
        )
    )


def _adc_topk(sub: DataFrame, k: int, cell: str | None = None) -> DataFrame:
    """(query_id, neighbor_id, rnk, adc_dist): per query among the
    first N_QUERY vectors of ``sub``, the ``k`` corpus vectors of least
    ADC distance (ties broken on neighbor id). Each query's lookup
    table (its partial distance to every codeword) broadcasts and joins
    the corpus codes on (subspace, code), plus the ``sub`` column
    ``cell`` when given: the IVF probe of a query's own cell."""
    cb = _pq_codebook(sub)
    carry = (cell,) if cell else ()
    codes = _pq_codes(sub, cb, carry).filter(F.col("vec_id") >= N_QUERY)
    q = sub.filter(F.col("vec_id") < N_QUERY).select(
        F.col("vec_id").alias("query_id"), *carry, "subspace", "subvec"
    )
    ltab = (
        q.join(F.broadcast(cb), "subspace")
        .withColumn("pdist", int_sq_dist("subvec", "cvec"))
        .select("query_id", *carry, "subspace", "cid", "pdist")
    )
    keys = [codes[c] == ltab[c] for c in (*carry, "subspace")]
    agg = (
        codes.join(F.broadcast(ltab), [*keys, codes.code == ltab.cid])
        .groupBy("query_id", F.col("vec_id").alias("neighbor_id"))
        .agg(F.sum("pdist").cast("bigint").alias("adc_dist"))
    )
    w = Window.partitionBy("query_id").orderBy("adc_dist", "neighbor_id")
    return (
        agg.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= k)
        .select("query_id", "neighbor_id", "rnk", "adc_dist")
    )


@CATALOG.add(
    "pq_code_assignment",
    f"""
    WITH v AS (
        SELECT vec_id, {_QUANT_SQL} AS v FROM embeddings
    ),
    sub AS (
        SELECT vec_id, CAST(s.s AS BIGINT) AS subspace,
               v[s.s * {PQ_SUBDIM} + 1 : (s.s + 1) * {PQ_SUBDIM}]
                   AS subvec
        FROM v, unnest(range(0, {PQ_M})) AS s(s)
    ),
    cb AS (
        SELECT vec_id AS cid, subspace, subvec AS cvec
        FROM sub WHERE vec_id < {PQ_K}
    ),
    d AS (
        SELECT sub.vec_id, sub.subspace, cb.cid,
               list_sum(list_transform(range(1, {PQ_SUBDIM} + 1),
                   i -> (sub.subvec[i] - cb.cvec[i])
                        * (sub.subvec[i] - cb.cvec[i]))) AS sq_dist
        FROM sub JOIN cb USING (subspace)
    )
    SELECT vec_id, subspace, cid AS code, CAST(sq_dist AS BIGINT)
               AS sq_dist
    FROM (
        SELECT *, ROW_NUMBER() OVER (
                   PARTITION BY vec_id, subspace
                   ORDER BY sq_dist, cid) AS rn
        FROM d
    )
    WHERE rn = 1
    """,
    doc=f"Product-quantization code assignment (the compression step "
    f"of IVF-PQ indexes): each 64-dim embedding splits into {PQ_M} "
    f"subspaces of {PQ_SUBDIM} dims, and each subspace maps to its "
    f"nearest of {PQ_K} codewords by EXACT integer L2 (same "
    "floor(x·1000) scalar quantization as the kNN family, so "
    "distances are order-free BIGINT sums and the argmin is total — "
    "ties break on codeword id). The codebook here is the first "
    f"{PQ_K} vectors' subvectors — deterministic and oracle-exact "
    "where a trained k-means codebook would be float-iterative; at "
    "scale the codebook SOURCE swaps to kmeans_lloyd_assignments' "
    "centroids per subspace with this assignment plan unchanged. "
    f"Plan: in-row slice explodes N×{PQ_M} subvector rows, the "
    f"{PQ_M}×{PQ_K}-row codebook broadcasts, distances compute "
    "map-side, and the per-(vector, subspace) argmin is a "
    "WindowGroupLimit-pruned rank — no shuffle touches anything "
    "corpus-sized except the one rank exchange. The emitted codes "
    f"are {PQ_M} small ints per vector — a 64× memory cut that is "
    "what makes billion-scale ANN serving fit in RAM.",
    tags=("similarity", "embedding", "join"),
)
def pq_code_assignment(spark: SparkSession, sf_dir: str) -> DataFrame:
    sub = _pq_subvectors(_emb(spark, sf_dir))
    return _pq_codes(sub, _pq_codebook(sub))


#: Neighbors returned per query by the ADC search.
PQ_ADC_K = 10

#: Shared SQL front: subvectors, codebook, and nearest-code argmin —
#: the oracle twin of _pq_subvectors/_pq_codebook/_pq_codes.
_PQ_BASE_SQL = f"""
    WITH v AS (
        SELECT vec_id, {_QUANT_SQL} AS v FROM embeddings
    ),
    sub AS (
        SELECT vec_id, CAST(s.s AS BIGINT) AS subspace,
               v[s.s * {PQ_SUBDIM} + 1 : (s.s + 1) * {PQ_SUBDIM}]
                   AS subvec
        FROM v, unnest(range(0, {PQ_M})) AS s(s)
    ),
    cb AS (
        SELECT vec_id AS cid, subspace, subvec AS cvec
        FROM sub WHERE vec_id < {PQ_K}
    ),
    d AS (
        SELECT sub.vec_id, sub.subspace, cb.cid,
               list_sum(list_transform(range(1, {PQ_SUBDIM} + 1),
                   i -> (sub.subvec[i] - cb.cvec[i])
                        * (sub.subvec[i] - cb.cvec[i]))) AS sq_dist
        FROM sub JOIN cb USING (subspace)
    )
"""


@CATALOG.add(
    "pq_adc_topk",
    _PQ_BASE_SQL
    + f""",
    codes AS (
        SELECT vec_id, subspace, cid AS code
        FROM (
            SELECT *, ROW_NUMBER() OVER (
                       PARTITION BY vec_id, subspace
                       ORDER BY sq_dist, cid) AS rn
            FROM d
        )
        WHERE rn = 1 AND vec_id >= {N_QUERY}
    ),
    q AS (
        SELECT vec_id AS query_id, subspace, subvec AS qsub
        FROM sub WHERE vec_id < {N_QUERY}
    ),
    ltab AS (
        SELECT q.query_id, cb.subspace, cb.cid,
               list_sum(list_transform(range(1, {PQ_SUBDIM} + 1),
                   i -> (q.qsub[i] - cb.cvec[i])
                        * (q.qsub[i] - cb.cvec[i]))) AS pdist
        FROM q JOIN cb USING (subspace)
    ),
    agg AS (
        SELECT l.query_id, c.vec_id AS neighbor_id,
               CAST(SUM(l.pdist) AS BIGINT) AS adc_dist
        FROM codes c
        JOIN ltab l ON c.subspace = l.subspace AND c.code = l.cid
        GROUP BY l.query_id, c.vec_id
    )
    SELECT query_id, neighbor_id, rnk, adc_dist
    FROM (
        SELECT *, ROW_NUMBER() OVER (
                   PARTITION BY query_id
                   ORDER BY adc_dist, neighbor_id) AS rnk
        FROM agg
    )
    WHERE rnk <= {PQ_ADC_K}
    """,
    doc=f"PQ ANN search by asymmetric distance computation (ADC) — the "
    "serving-path complement of pq_code_assignment: each query first "
    f"builds its distance LOOKUP TABLE (query subvector × all "
    f"{PQ_M}×{PQ_K} codewords = {PQ_M * PQ_K} exact integer partial "
    "distances), then every neighbor's distance is just PQ_M table "
    "lookups summed — the neighbor's raw floats are never touched, "
    "which is the whole point of PQ serving. Here that is literal "
    "relational algebra: the per-query tables broadcast "
    f"(Q×{PQ_M}×{PQ_K} rows), the corpus side is the CODES frame (4 "
    "small ints per vector), the lookup is a broadcast hash join on "
    "(subspace, code), and the per-query top-k is a "
    "WindowGroupLimit-pruned rank. At billion scale the scan side is "
    "64× smaller than the raw embeddings and composes with the IVF "
    "cell filter (ann_ivf_probe_topk) for the full IVF-PQ index; "
    "recall loss vs exact integer-L2 top-k is the quantization trade "
    "— measured and pinned in tests/test_plans.py (the toy "
    "first-PQ_K codebook on near-uniform synthetic vectors sits ~15× "
    "above random; a trained codebook on clustered real embeddings "
    "is where PQ earns its production recall).",
    tags=("similarity", "embedding", "join"),
)
def pq_adc_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _adc_topk(_pq_subvectors(_emb(spark, sf_dir)), PQ_ADC_K)


# --------------------------------------------------------------------------
# IVF-PQ: coarse cell probe + ADC ranking, composed
# --------------------------------------------------------------------------

#: Neighbors returned per query by the composed IVF-PQ search.
IVF_PQ_K = 5


@CATALOG.add(
    "ivf_pq_search_topk",
    _PQ_BASE_SQL
    + f""",
    cells AS (SELECT vec_id, label AS cell FROM embeddings),
    codes AS (
        SELECT d2.vec_id, cl.cell, d2.subspace, d2.cid AS code
        FROM (
            SELECT *, ROW_NUMBER() OVER (
                       PARTITION BY vec_id, subspace
                       ORDER BY sq_dist, cid) AS rn
            FROM d
        ) d2
        JOIN cells cl ON cl.vec_id = d2.vec_id
        WHERE d2.rn = 1 AND d2.vec_id >= {N_QUERY}
    ),
    q AS (
        SELECT sub.vec_id AS query_id, cl.cell, sub.subspace,
               sub.subvec AS qsub
        FROM sub JOIN cells cl ON cl.vec_id = sub.vec_id
        WHERE sub.vec_id < {N_QUERY}
    ),
    ltab AS (
        SELECT q.query_id, q.cell, cb.subspace, cb.cid,
               list_sum(list_transform(range(1, {PQ_SUBDIM} + 1),
                   i -> (q.qsub[i] - cb.cvec[i])
                        * (q.qsub[i] - cb.cvec[i]))) AS pdist
        FROM q JOIN cb USING (subspace)
    ),
    agg AS (
        SELECT l.query_id, c.vec_id AS neighbor_id,
               CAST(SUM(l.pdist) AS BIGINT) AS adc_dist
        FROM codes c
        JOIN ltab l ON c.cell = l.cell AND c.subspace = l.subspace
                   AND c.code = l.cid
        GROUP BY l.query_id, c.vec_id
    )
    SELECT query_id, neighbor_id, rnk, adc_dist
    FROM (
        SELECT *, ROW_NUMBER() OVER (
                   PARTITION BY query_id
                   ORDER BY adc_dist, neighbor_id) AS rnk
        FROM agg
    )
    WHERE rnk <= {IVF_PQ_K}
    """,
    doc="The COMPOSED IVF-PQ index search — the coarse cell probe of "
    "ann_ivf_probe_topk stacked on the ADC ranking of pq_adc_topk, "
    "which is the exact architecture (Jégou et al.'s IVFADC) every "
    "production billion-scale ANN service runs: the cell filter cuts "
    "the scanned set by the cell count, then candidates are ranked "
    "from 4-int PQ codes via the query's broadcast lookup table — "
    "raw embedding floats are touched by neither stage. "
    "Relationally the composition is literally one extra equi-key on "
    "the existing ADC join (cell AND subspace AND code), proving the "
    "two indexes compose without plan surgery; at 100 TB the codes "
    "frame is bucketed by cell so the probe is a partition-pruned "
    "scan of compressed codes — memory 64× down vs the IVF float "
    "probe, I/O down by both factors multiplied.",
    tags=("similarity", "embedding", "join"),
)
def ivf_pq_search_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    # The cell label rides THROUGH the subvector explode instead of
    # being re-joined from the embeddings table afterwards: a re-join
    # pays a second full scan plus an n-row shuffle join on vec_id for
    # a column the explode just dropped.
    sub = _pq_subvectors(_emb(spark, sf_dir), extra_cols=("label",))
    return _adc_topk(sub, IVF_PQ_K, cell="label")


# --------------------------------------------------------------------------
# Full dedup cascade: exact + near-dup → one keep decision per document
# --------------------------------------------------------------------------


def _with_exact_keeper(docs: DataFrame) -> DataFrame:
    """``docs`` (doc_id, content hash ``ch``, ...) plus ``exact_keeper``,
    the least doc_id sharing its hash.

    A window over one scan, not a groupBy and self-join: the self-join
    scanned documents (and ran md5 over the full text) TWICE — Spark
    does not dedupe common subplans across join inputs — and paid an
    aggregate shuffle plus a join shuffle on ch. The window pays ONE
    corpus scan and ONE ch shuffle, and min-over-partition is
    order-insensitive so the keeper election is unchanged."""
    return docs.withColumn(
        "exact_keeper", F.min("doc_id").over(Window.partitionBy("ch"))
    )


def _group_key() -> Column:
    """``group_key`` of a document left-joined to ``_cluster_map``: its
    near-dup cluster id, or its own doc_id outside every cluster."""
    return (
        F.coalesce(F.col("cluster_id"), F.col("doc_id"))
        .cast("bigint")
        .alias("group_key")
    )


#: The cascade's keep decision, embedded again by the attrition oracle.
_CASCADE_SQL = _CLUSTER_MAP_SQL + """,
h AS (SELECT doc_id, md5(text) AS ch FROM documents),
ek AS (SELECT ch, MIN(doc_id) AS exact_keeper FROM h GROUP BY ch),
r AS (
    SELECT d.doc_id,
           CASE WHEN ek.exact_keeper <> d.doc_id THEN 'exact_dup'
                WHEN cl.cluster_id IS NOT NULL
                     AND cl.cluster_id <> d.doc_id THEN 'near_dup'
                ELSE 'kept' END AS reason
    FROM h d
    JOIN ek USING (ch)
    LEFT JOIN cl USING (doc_id)
)
SELECT doc_id, reason, reason = 'kept' AS keep FROM r
"""


@CATALOG.add(
    "dedup_cascade_keep_list",
    _CASCADE_SQL,
    doc="The production dedup artifact: ONE row per document with its "
    "keep/drop decision and reason. Stage 1 drops exact duplicates "
    "(md5 group, min-doc_id keeper); stage 2 drops near-duplicate "
    "cluster members that are not their cluster's keeper. The rules "
    "compose consistently by construction: an exact duplicate's "
    "J=1.0 twin shares its near-dup cluster, so a cluster's minimum "
    "member can never itself be an exact duplicate — every dropped "
    "document's keeper is kept, no cascade re-run needed. Cost shape "
    "= exact dedup (one uniform hash shuffle) + the near-dup "
    "pipeline it composes; the keep list is what downstream sampling "
    "and packing read, so it pays for itself on the first reuse.",
    tags=("similarity", "dedup", "iterative"),
)
def dedup_cascade_keep_list(
    spark: SparkSession, sf_dir: str, carry: tuple[str, ...] = ()
) -> DataFrame:
    # ``carry`` threads extra document columns (e.g. ``source`` for
    # the attrition rollup) through the same scan so compositions
    # don't re-scan + re-join the corpus for columns this scan already
    # touched; the catalog entry passes none, keeping its schema.
    exact = _with_exact_keeper(
        _docs(spark, sf_dir).select(
            "doc_id", *carry, F.md5("text").alias("ch")
        )
    )
    out = exact.join(_cluster_map(spark, sf_dir), "doc_id", "left")
    reason = (
        F.when(F.col("exact_keeper") != F.col("doc_id"), "exact_dup")
        .when(
            F.col("cluster_id").isNotNull()
            & (F.col("cluster_id") != F.col("doc_id")),
            "near_dup",
        )
        .otherwise("kept")
    )
    return out.select(
        "doc_id",
        *carry,
        reason.alias("reason"),
        (reason == F.lit("kept")).alias("keep"),
    )


# --------------------------------------------------------------------------
# Label centroids (the IVF/k-means training step)
# --------------------------------------------------------------------------


@CATALOG.add(
    "label_centroids",
    f"""
    WITH q AS (
        SELECT label,
               list_transform(embedding,
                   x -> CAST(floor(CAST(x AS DOUBLE) * 1000) AS BIGINT))
                   AS v
        FROM embeddings
    ),
    e AS (
        SELECT label,
               unnest(list_transform(range(1, len(v) + 1),
                      i -> {{'dim': i - 1, 'val': v[i]}})) AS s
        FROM q
    )
    SELECT label, CAST(s.dim AS INTEGER) AS dim,
           CAST(SUM(s.val) AS BIGINT) AS sum_q,
           CAST(COUNT(*) AS BIGINT) AS n_vecs,
           CAST(SUM(s.val) AS DOUBLE) / COUNT(*) AS centroid_milli
    FROM e GROUP BY label, s.dim
    """,
    doc="Per-label centroid of the embedding column — the training "
    "step behind ann_ivf_probe_topk's cell index (one k-means "
    "iteration = assign + THIS). posexplode to (label, dim, value), "
    "then SUM/COUNT per (label, dim): the sums are exact int64 over "
    "scalar-quantized components, so partial aggregation may combine "
    "in any order on any cluster size and the result is bit-stable "
    "(float centroids would drift with reduction order). One shuffle "
    "on the (label, dim) key — cardinality #labels × #dims, tiny and "
    "uniform; the explode multiplies rows ×64 but stays inside the "
    "scan stage. The final division to a double centroid is one "
    "exact-int division, identical on both engines.",
    tags=("similarity", "embedding", "agg"),
)
def label_centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = _emb(spark, sf_dir)
    ex = e.select("label", F.posexplode(quantized()).alias("dim", "val"))
    return ex.groupBy("label", "dim").agg(
        F.sum("val").alias("sum_q"),
        F.count(F.lit(1)).alias("n_vecs"),
        (F.sum("val").cast("double") / F.count(F.lit(1))).alias(
            "centroid_milli"
        ),
    )


# --------------------------------------------------------------------------
# Incremental dedup: new batch vs existing corpus
# --------------------------------------------------------------------------

#: Deterministic batch split: every 10th doc is "today's ingest".
BATCH_MOD = 10
BATCH_REMAINDER = 9


@CATALOG.add(
    "dedup_incremental_batch",
    f"""
    WITH batch AS (
        SELECT doc_id, md5(text) AS content_hash FROM documents
        WHERE doc_id % {BATCH_MOD} = {BATCH_REMAINDER}
    ),
    corpus AS (
        SELECT DISTINCT md5(text) AS content_hash FROM documents
        WHERE doc_id % {BATCH_MOD} <> {BATCH_REMAINDER}
    )
    SELECT b.doc_id, b.content_hash
    FROM batch b LEFT JOIN corpus c USING (content_hash)
    WHERE c.content_hash IS NULL
    """,
    doc="Incremental ingest dedup: a new batch (every 10th doc, the "
    "deterministic stand-in for today's crawl) anti-joins on content "
    "hash against the existing corpus, keeping only genuinely new "
    "documents — the daily-operation form of dedup_exact_content "
    "(which rebuilds from scratch). LEFT ANTI on md5: one "
    "uniform-key shuffle of batch + corpus hashes; at 100 TB the "
    "corpus side reads a persisted hash index (hash, not text — 32 "
    "bytes/doc), and if the corpus is bucketed by content_hash the "
    "batch-side shuffle is the only exchange. The corpus hash set "
    "never needs the documents' bodies, so incremental dedup cost is "
    "O(batch + index), not O(corpus).",
    tags=("similarity", "dedup", "join"),
)
def dedup_incremental_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _docs(spark, sf_dir)
    batch = d.filter(F.col("doc_id") % BATCH_MOD == BATCH_REMAINDER).select(
        "doc_id", F.md5("text").alias("content_hash")
    )
    corpus = (
        d.filter(F.col("doc_id") % BATCH_MOD != BATCH_REMAINDER)
        .select(F.md5("text").alias("content_hash"))
        .distinct()
    )
    return batch.join(corpus, "content_hash", "left_anti").select(
        "doc_id", "content_hash"
    )


# --------------------------------------------------------------------------
# Incremental NEAR-dup dedup: new batch vs existing corpus (asymmetric LSH)
# --------------------------------------------------------------------------


@CATALOG.add(
    "dedup_incremental_near",
    _shingle_sql(
        f""",
    sigs AS (SELECT doc_id, {_SIG_SQL} FROM sets),
    bands AS ({_BANDS_SQL}),
    cand AS (
        SELECT DISTINCT b.doc_id AS doc_id, c.doc_id AS dup_of
        FROM bands b JOIN bands c USING (band, k1, k2)
        WHERE b.doc_id % {BATCH_MOD} = {BATCH_REMAINDER}
          AND c.doc_id % {BATCH_MOD} <> {BATCH_REMAINDER}
    ),
    ver AS (
        SELECT cand.doc_id, cand.dup_of
        FROM cand
        JOIN sets sa ON sa.doc_id = cand.doc_id
        JOIN sets sb ON sb.doc_id = cand.dup_of
        WHERE CAST(len(list_filter(sa.shingles,
                      x -> list_contains(sb.shingles, x))) AS DOUBLE)
              / (len(sa.shingles) + len(sb.shingles)
                 - len(list_filter(sa.shingles,
                       x -> list_contains(sb.shingles, x))))
              >= {JACCARD_THRESHOLD}
    )
    SELECT s.doc_id,
           CAST(COUNT(v.dup_of) AS BIGINT) AS n_near_dups,
           MIN(v.dup_of) AS first_dup_of,
           COUNT(v.dup_of) = 0 AS is_new
    FROM (SELECT doc_id FROM documents) s
    LEFT JOIN ver v USING (doc_id)
    WHERE s.doc_id % {BATCH_MOD} = {BATCH_REMAINDER}
    GROUP BY s.doc_id"""
    ),
    doc="Incremental ingest NEAR-dup dedup — the daily-operation form "
    "of near_dup_pairs_minhash, as dedup_incremental_batch is of "
    "dedup_exact_content: today's batch (doc_id % "
    f"{BATCH_MOD} = {BATCH_REMAINDER}) probes the existing corpus via "
    "an ASYMMETRIC band join (batch bands × corpus bands — never "
    "corpus × corpus), exact-Jaccard-verifies only the colliding "
    "pairs, and emits one row per EVERY batch doc — including "
    "sub-shingle-length (<3-token) docs, which cannot match and "
    "arrive is_new=true: match count, first "
    "(minimum) corpus duplicate, and an is_new keep flag. At 100 TB "
    "the corpus side is a persisted SIGNATURE INDEX (16 bigints + "
    "shingle hashes per doc, no text), so daily cost is O(batch + "
    "probed buckets), not O(corpus) — and if the index is bucketed "
    "by (band, k1, k2) the batch-side shuffle is the only exchange. "
    "Cites the same banding design point as near_dup_pairs_minhash "
    "(recall/candidate-rate pinned in tests/test_plans.py).",
    tags=("similarity", "dedup", "join"),
)
def dedup_incremental_near(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _with_shingles(_docs(spark, sf_dir))
    # Same recompute hazard as the rest of the MinHash family: bands +
    # two verify joins + the batch keep-list all branch off sigs.
    sigs = d.select("doc_id", "shingles", *minhash_signature_cols())
    with cached(sigs) as sigs:
        sigs.count()
        bands = _minhash_bands(sigs)
        # Asymmetric band join: batch docs (doc_a) probe corpus docs
        # (doc_b), never corpus against corpus.
        bb = bands.filter(
            F.col("doc_id") % BATCH_MOD == BATCH_REMAINDER
        ).withColumnRenamed("doc_id", "doc_a")
        cb = bands.filter(
            F.col("doc_id") % BATCH_MOD != BATCH_REMAINDER
        ).withColumnRenamed("doc_id", "doc_b")
        cand = (
            bb.join(cb, ["band", "k1", "k2"])
            .select("doc_a", "doc_b")
            .distinct()
        )
        ver = _jaccard_verified(cand, sigs, "shingles").select(
            F.col("doc_a").alias("doc_id"), F.col("doc_b").alias("dup_of")
        )
        # Keep-list base = ALL batch docs from the source table, not
        # the shingle frame: _with_shingles drops docs under 3 tokens,
        # and a keep-list that silently omits them would lose those
        # documents at ingest (review r06). A shingle-less doc cannot
        # near-dup-match, so it lands as is_new=true.
        batch = (
            _docs(spark, sf_dir)
            .filter(F.col("doc_id") % BATCH_MOD == BATCH_REMAINDER)
            .select("doc_id")
        )
        out = (
            batch.join(ver, "doc_id", "left")
            .groupBy("doc_id")
            .agg(
                F.count("dup_of").alias("n_near_dups"),
                F.min("dup_of").alias("first_dup_of"),
                (F.count("dup_of") == 0).alias("is_new"),
            )
        )
        return detach(out)


# --------------------------------------------------------------------------
# Split-leakage audit: near-dup pairs that straddle train/val/test
# --------------------------------------------------------------------------


def leakage_audit(
    spark: SparkSession, sf_dir: str, pairs: DataFrame
) -> DataFrame:
    """Core audit over ANY candidate-pairs frame with (doc_a, doc_b).

    The split join + cell aggregation is detector-agnostic, so MinHash,
    SimHash, edit-distance, or n-gram pair pipelines all audit for free
    — pass whichever pairs frame the corpus already computes.
    """
    s = _docs(spark, sf_dir).select(
        "doc_id", split_expr("doc_id").alias("split")
    )
    return (
        _with_sides(pairs, s, "split")
        .groupBy("split_a", "split_b")
        .agg(
            F.count(F.lit(1)).alias("n_pairs"),
            (F.col("split_a") != F.col("split_b")).alias("crosses_split"),
        )
    )


@CATALOG.add(
    "split_leakage_audit",
    f"""
WITH p AS ({_MINHASH_PAIRS_SQL}),
s AS (
    SELECT doc_id,
           CASE WHEN {_KEYHASH_SQL} % 100 < {TRAIN_HI} THEN 'train'
                WHEN {_KEYHASH_SQL} % 100 < {VAL_HI} THEN 'val'
                ELSE 'test' END AS split
    FROM documents
)
SELECT sa.split AS split_a, sb.split AS split_b,
       CAST(COUNT(*) AS BIGINT) AS n_pairs,
       sa.split <> sb.split AS crosses_split
FROM p
JOIN s sa ON sa.doc_id = p.doc_a
JOIN s sb ON sb.doc_id = p.doc_b
GROUP BY sa.split, sb.split
""",
    doc="Near-duplicate leakage audit across dataset splits: the "
    "hash-keyed train/val/test assignment (dataset_split_assignment) "
    "makes a document's split immutable, but near-DUPLICATES of a "
    "training doc can still land in val/test and leak evaluation "
    "signal — the failure mode hash assignment alone cannot prevent. "
    "This query joins the MinHash near-dup pairs to each member's "
    "split and counts pairs per (split_a, split_b) cell with a "
    "crosses_split flag; any nonzero cross cell means eval "
    "contamination, and the pair list itself is the fix list (drop "
    "the eval-side member, or re-home the cluster with "
    "near_dup_clusters keepers). Cost: the pairs pipeline (banded, "
    "no all-pairs) plus two broadcast-to-tiny joins of the pair list "
    "against the per-doc split expression — the pair frame is "
    "O(near-dups), minuscule vs the corpus, so the audit is "
    "essentially free on top of dedup at any scale.",
    tags=("similarity", "dedup", "sampling"),
)
def split_leakage_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    return leakage_audit(
        spark, sf_dir, near_dup_pairs_minhash(spark, sf_dir)
    )


# --------------------------------------------------------------------------
# Leakage-safe split assignment (split by near-dup GROUP, not by doc)
# --------------------------------------------------------------------------


@CATALOG.add(
    "leakage_safe_split_assignment",
    _CLUSTER_MAP_SQL
    + f""",
g AS (
    SELECT d.doc_id,
           COALESCE(cl.cluster_id, d.doc_id) AS group_key
    FROM documents d LEFT JOIN cl USING (doc_id)
)
SELECT doc_id, CAST(group_key AS BIGINT) AS group_key,
       CASE WHEN b < {TRAIN_HI} THEN 'train'
            WHEN b < {VAL_HI} THEN 'val'
            ELSE 'test' END AS split
FROM (
    SELECT *,
           ('0x' || substr(md5(CAST(group_key AS VARCHAR)), 1, 15))::BIGINT
               % 100 AS b
    FROM g
)
""",
    doc="The FIX for what split_leakage_audit detects: train/val/test "
    "assignment keyed on the near-dup CLUSTER id (connected components "
    "over the MinHash pair graph; singletons key on their own doc_id), "
    "so every member of a duplicate group lands in the same split BY "
    "CONSTRUCTION and the audit on the resulting assignment is "
    "provably empty (pinned in tests/test_plans.py). Same md5 "
    "bucket-boundary hashing as dataset_split_assignment — "
    "re-partitioning and incremental rebuilds cannot migrate a group, "
    "and the assignment stays a per-row expression once the cluster "
    "map exists. At 100 TB the cluster map is the dedup cascade's "
    "byproduct (O(near-dup docs), tiny vs corpus) joined back as a "
    "left join on doc_id — one broadcast or bucketed join, then the "
    "split column is free; this is the group-aware splitting every "
    "serious corpus pipeline runs instead of doc-hash splits.",
    tags=("similarity", "sampling", "dedup"),
)
def leakage_safe_split_assignment(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    d = _docs(spark, sf_dir).select("doc_id").join(
        _cluster_map(spark, sf_dir), "doc_id", "left"
    )
    return d.select("doc_id", _group_key()).select(
        "doc_id", "group_key", split_expr("group_key").alias("split")
    )


# --------------------------------------------------------------------------
# Capstone: the full corpus-build manifest in ONE composed plan
# --------------------------------------------------------------------------


@CATALOG.add(
    "corpus_build_manifest",
    # the quality gate is text.py's single definition on both sides:
    # quality_gate_sql here, quality_signal_cols in the Spark plan
    _CLUSTER_MAP_SQL
    + f""",
h AS (SELECT doc_id, md5(text) AS ch FROM documents),
ek AS (SELECT ch, MIN(doc_id) AS exact_keeper FROM h GROUP BY ch),
keepers AS (
    SELECT d.doc_id
    FROM h d JOIN ek USING (ch) LEFT JOIN cl USING (doc_id)
    WHERE ek.exact_keeper = d.doc_id
      AND (cl.cluster_id IS NULL OR cl.cluster_id = d.doc_id)
),
q AS (
    SELECT doc_id, CAST(len(tokens) AS BIGINT) AS n_tokens
    FROM (SELECT doc_id, text, string_split(text, ' ') AS tokens
          FROM documents)
    WHERE {quality_gate_sql()}
),
g AS (
    SELECT d.doc_id, COALESCE(cl.cluster_id, d.doc_id) AS gk
    FROM documents d LEFT JOIN cl USING (doc_id)
),
s AS (
    SELECT doc_id,
           CASE WHEN ('0x' || substr(md5(CAST(gk AS VARCHAR)), 1, 15))
                         ::BIGINT % 100 < {TRAIN_HI} THEN 'train'
                WHEN ('0x' || substr(md5(CAST(gk AS VARCHAR)), 1, 15))
                         ::BIGINT % 100 < {VAL_HI} THEN 'val'
                ELSE 'test' END AS split
    FROM g
),
surv AS (
    SELECT k.doc_id, q.n_tokens, s.split
    FROM keepers k JOIN q USING (doc_id) JOIN s USING (doc_id)
),
c AS (
    SELECT *, doc_id % {N_PACK_SHARDS} AS shard,
           SUM(n_tokens) OVER (
               PARTITION BY split, doc_id % {N_PACK_SHARDS} ORDER BY doc_id
               ROWS UNBOUNDED PRECEDING) AS cum
    FROM surv
)
SELECT doc_id, split, n_tokens,
       CAST(shard AS BIGINT) AS shard,
       CAST((cum - n_tokens) // {PACK_BUDGET} AS BIGINT) AS pack_index
FROM c
""",
    doc="The CAPSTONE composition — a full pretraining corpus build as "
    "ONE declarative plan: dedup-cascade keep decision (exact hash + "
    "MinHash-LSH near-dup clusters, one pairs pipeline and one "
    "cluster map feeding both the keep decision and the split) ∧ "
    "Gopher-quality gate → leakage-safe cluster-keyed split → "
    "per-(split, shard) sequence packing of the SURVIVORS into "
    "256-token packs. The output is the training manifest a loader "
    "consumes: (doc_id, split, n_tokens, shard, pack_index) — pack "
    "identity is the COMPOSITE (split, shard, pack_index), never a "
    "single encoded integer (ADVICE r05: shard*1e6+index collides "
    "once any shard exceeds 1e6 packs, i.e. ~2.6e8 tokens/shard — "
    "guaranteed at 100 TB; the composite is collision-free by "
    "construction). Packing is windowed per split×shard so train can "
    "never share a pack with val/test and shards pack independently "
    "(no global order). "
    "This is the integration proof the per-operator queries imply: "
    "every stage is the already-verified catalog operator, composed "
    "with joins — one pairs materialization, one cluster map, "
    "narrow gates, and the packing window's state is O(1) per "
    "shard. At 100 TB the expensive stage (near-dup pairs) runs "
    "once and amortizes across the cascade, the split, and any "
    "number of manifest rebuilds with different budgets.",
    tags=("similarity", "dedup", "sampling", "text"),
)
def corpus_build_manifest(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    # ONE connected-components run feeds both the keep decision and
    # the split (the loop is the manifest's expensive stage).
    clusters = _cluster_map(spark, sf_dir)
    # ONE corpus scan computes every per-document input the manifest
    # needs — content hash, token count, the quality gate — and the
    # exact-keeper election rides the same rows as a window over ch
    # (the dedup_cascade_keep_list shape). The former plan scanned
    # documents THREE times (keep aggregate, doc_quality_scores,
    # split assignment — r16 scan audit) and re-assembled the
    # branches with two corpus-wide doc_id SortMergeJoins plus a
    # second clusters join; the fused row needs one narrow ch
    # exchange (text is dropped before it — project-before-exchange,
    # guide §2.3) and ONE clusters join (guide §2.4; oracle-pinned:
    # keeper election, gate arithmetic, and split hashing are the
    # exact expressions the three branches used).
    t = _docs(spark, sf_dir).withColumn(
        "tokens", F.split(F.col("text"), " ")
    )
    # gate/split expressions come from their single definitions
    # (text.quality_signal_cols / sampling.split_expr — ADVICE r16):
    # Column-level sharing, so the fused one-scan plan is unchanged.
    n, _stop_hits, _avg_len, gate = quality_signal_cols()
    base = _with_exact_keeper(
        t.select(
            "doc_id",
            F.md5("text").alias("ch"),
            n.cast("bigint").alias("n_tokens"),
            gate.alias("passes_quality"),
        )
    )
    j = base.join(clusters, "doc_id", "left")
    surv = j.filter(
        (F.col("doc_id") == F.col("exact_keeper"))
        & (
            F.col("cluster_id").isNull()
            | (F.col("cluster_id") == F.col("doc_id"))
        )
        & F.col("passes_quality")
    ).select("doc_id", "n_tokens", _group_key())
    split = split_expr("group_key")
    shard = (F.col("doc_id") % N_PACK_SHARDS).alias("shard")
    w = (
        Window.partitionBy("split", "shard")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    c = surv.select(
        "doc_id", split.alias("split"), "n_tokens", shard
    ).withColumn("cum", F.sum("n_tokens").over(w))
    return c.select(
        "doc_id",
        "split",
        "n_tokens",
        F.col("shard").cast("bigint").alias("shard"),
        F.floor((F.col("cum") - F.col("n_tokens")) / PACK_BUDGET)
        .cast("bigint")
        .alias("pack_index"),
    )


# --------------------------------------------------------------------------
# Dedup attrition by source (the curation dashboard rollup)
# --------------------------------------------------------------------------


@CATALOG.add(
    "dedup_attrition_by_source",
    f"""
WITH cascade AS ({_CASCADE_SQL})
SELECT d.source, c.reason,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(COUNT(*) AS DOUBLE) * 100
           / SUM(COUNT(*)) OVER (PARTITION BY d.source) AS pct_of_source
FROM cascade c JOIN documents d USING (doc_id)
GROUP BY d.source, c.reason
""",
    doc="Dedup attrition BY SOURCE — the dashboard that decides which "
    "feeds are worth their ingest cost: every document's cascade "
    "verdict (kept / exact_dup / near_dup) rolls up per source with "
    "its within-source percentage (analytic share over the "
    "post-aggregate frame — O(sources × reasons) rows, the "
    "event_type_share discipline). A source shipping 40% duplicates "
    "is a crawler bug or a mirror; this is the number that finds it "
    "before a 100 TB run pays for it. Plan: the cascade's one pairs "
    "pipeline + cluster map, one broadcast-sized "
    "join back to doc metadata, one hash-shuffle on (source, "
    "reason).",
    tags=("similarity", "dedup", "agg"),
)
def dedup_attrition_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    # ``source`` rides the cascade's own document scan (carry=) — the
    # former plan re-scanned documents for (doc_id, source) and paid a
    # corpus-wide doc_id shuffle join to attach one column the
    # cascade's scan already touched (guide §2.4; r16 optimization —
    # one Scan parquet + one SortMergeJoin removed, oracle-pinned).
    verdicts = dedup_cascade_keep_list(spark, sf_dir, carry=("source",))
    agg = verdicts.groupBy("source", "reason").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs")
    )
    w = Window.partitionBy("source")
    return agg.select(
        "source",
        "reason",
        "n_docs",
        (
            F.col("n_docs").cast("double") * 100
            / F.sum("n_docs").over(w)
        ).alias("pct_of_source"),
    )
