"""Text-analysis catalog queries over the ``documents`` table.

The LLM-training-data operators the north star adds beyond the
reference's own surface (BASELINE.md): token counting, term statistics,
quality scoring, language ID, and document fingerprinting — all as
native Column expressions (split/explode/md5/bit ops stay inside
whole-stage codegen; zero Python UDFs).

Scale shape: every query is scan → per-row expression → (at most) one
hash-shuffle on a bounded-cardinality key (token vocabulary, doc_id).
Token explosion multiplies rows by ~doc length before the shuffle, but
partial aggregation collapses it map-side — the classic word-count
plan, linear at 100 TB.

Determinism: tokenization is ``split(text, ' ')`` on both engines (the
corpus is single-spaced; the regex variant is demonstrated alongside);
ratios are integer-count divisions evaluated in the same order; hashes
are md5 hex (identical in Spark and DuckDB); SimHash uses exact BIGINT
bit arithmetic.
"""

from __future__ import annotations

from contextlib import ExitStack

from pyspark.sql import DataFrame, SparkSession, Window as W, functions as F

from ..session import cached, detach
from ..sources.tables import load_spread
from .registry import QueryCatalog

CATALOG = QueryCatalog()

#: English stopword markers present in the corpus vocabulary.
STOPWORDS = ("the", "a")

# Derived, never hand-maintained: the oracle twin retunes with the
# Spark list automatically (review r06 — the silent-desync class).
_STOP_SQL = "(" + ", ".join(f"'{w}'" for w in STOPWORDS) + ")"

#: Gopher-style quality-gate thresholds — ONE definition consumed by
#: the Spark builder, this module's oracle, and the
#: corpus_build_manifest oracle (review r06: the manifest hand-copied
#: the literals, so a retune here would have silently desynchronized
#: the capstone's engine-parity check).
QUALITY_MIN_TOKENS = 15
QUALITY_MAX_TOKENS = 90
QUALITY_MIN_AVG_LEN = 2
QUALITY_MAX_AVG_LEN = 8


def quality_gate_sql() -> str:
    """DuckDB predicate for the document quality gate, over the
    ``tokens`` array and the raw ``text`` column."""
    return (
        f"(len(tokens) BETWEEN {QUALITY_MIN_TOKENS}"
        f" AND {QUALITY_MAX_TOKENS})"
        " AND (CAST(length(text) - (len(tokens) - 1) AS DOUBLE)"
        f" / len(tokens) BETWEEN {QUALITY_MIN_AVG_LEN}"
        f" AND {QUALITY_MAX_AVG_LEN})"
        f" AND (len(list_filter(tokens, x -> x IN {_STOP_SQL})) > 0)"
    )


def quality_signal_cols() -> tuple[F.Column, F.Column, F.Column, F.Column]:
    """The ONE Spark-side definition of the quality-gate inputs —
    ``(n_tokens, stop_hits, avg_token_len, passes_quality)`` Column
    expressions over the ``tokens`` array and the raw ``text`` column,
    mirroring ``quality_gate_sql`` (the oracle side).

    Shared by doc_quality_scores and corpus_build_manifest (ADVICE
    r16 / VERDICT r16 task 5: the r16 manifest fusion inlined these
    expressions, so a structural gate retune — not just a constant —
    would have silently desynchronized the two Spark sites).
    Expression-level — sharing it adds no plan node.
    """
    n = F.size("tokens")
    stop_hits = F.size(F.filter("tokens", lambda x: x.isin(*STOPWORDS)))
    avg_len = (F.length("text") - (n - 1)).cast("double") / n
    gate = (
        n.between(QUALITY_MIN_TOKENS, QUALITY_MAX_TOKENS)
        & avg_len.between(QUALITY_MIN_AVG_LEN, QUALITY_MAX_AVG_LEN)
        & (stop_hits > 0)
    )
    return n, stop_hits, avg_len, gate


def _docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    # CPU-bound per-row work: spread under-split scans across cores
    # (no-op at scale — see sources.tables.load_spread).
    return load_spread(spark, sf_dir, "documents")


def _tokens(df: DataFrame) -> DataFrame:
    return df.withColumn("tokens", F.split(F.col("text"), " "))


# --------------------------------------------------------------------------
# Token counting
# --------------------------------------------------------------------------


@CATALOG.add(
    "doc_token_stats",
    """
    SELECT doc_id,
           length(text) AS n_chars_actual,
           len(string_split(text, ' ')) AS n_tokens,
           len(regexp_split_to_array(text, '\\s+')) AS n_tokens_re,
           len(list_distinct(string_split(text, ' '))) AS n_unique_tokens,
           CAST(length(text) - (len(string_split(text, ' ')) - 1) AS DOUBLE)
               / len(string_split(text, ' ')) AS avg_token_len
    FROM documents
    """,
    doc="Token counting: whitespace split, regex split (the BPE-ish "
    "pre-tokenizer shape), unique-token count, and average token length "
    "computed exactly as (chars - spaces) / tokens. Pure per-row "
    "expressions; at 100 TB this is a single embarrassingly-parallel "
    "scan (locally the under-split scan is spread across cores first).",
    tags=("text",),
)
def doc_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _tokens(_docs(spark, sf_dir))
    n = F.size("tokens")
    return d.select(
        "doc_id",
        F.length("text").alias("n_chars_actual"),
        n.alias("n_tokens"),
        F.size(F.split(F.col("text"), r"\s+")).alias("n_tokens_re"),
        F.size(F.array_distinct("tokens")).alias("n_unique_tokens"),
        ((F.length("text") - (n - 1)).cast("double") / n).alias(
            "avg_token_len"
        ),
    )


# --------------------------------------------------------------------------
# Term statistics
# --------------------------------------------------------------------------


@CATALOG.add(
    "term_frequencies",
    """
    SELECT token,
           COUNT(*) AS n_total,
           COUNT(DISTINCT doc_id) AS n_docs,
           CAST(COUNT(*) AS DOUBLE) * 100.0 / SUM(COUNT(*)) OVER ()
               AS share_pct
    FROM (
        SELECT doc_id, unnest(string_split(text, ' ')) AS token
        FROM documents
    )
    GROUP BY token
    """,
    doc="Corpus term statistics: explode tokens → count + document "
    "frequency + share of all tokens. The analytic share runs over the "
    "POST-aggregate frame (≤ vocabulary-size rows), so the "
    "unpartitioned window is O(vocab), not O(corpus) — same design as "
    "event_type_share. One shuffle on token with map-side combine.",
    tags=("text", "agg"),
)
def term_frequencies(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _tokens(_docs(spark, sf_dir))
    # explode_outer: no generated size-predicate, so split() stays
    # post-repartition and runs once (SCALE.md explode-pushdown trap);
    # split never yields an empty array, so outer == inner here.
    tok = d.select("doc_id", F.explode_outer("tokens").alias("token"))
    agg = tok.groupBy("token").agg(
        F.count(F.lit(1)).alias("n_total"),
        F.countDistinct("doc_id").alias("n_docs"),
    )
    return agg.select(
        "token",
        "n_total",
        "n_docs",
        (
            F.col("n_total").cast("double")
            * F.lit(100.0)
            / F.sum("n_total").over(W.partitionBy())
        ).alias("share_pct"),
    )


# --------------------------------------------------------------------------
# Quality scoring
# --------------------------------------------------------------------------


@CATALOG.add(
    "doc_quality_scores",
    f"""
    WITH t AS (
        SELECT doc_id, text, string_split(text, ' ') AS tokens
        FROM documents
    )
    SELECT doc_id,
           len(tokens) AS n_tokens,
           CAST(len(list_distinct(tokens)) AS DOUBLE) / len(tokens)
               AS unique_ratio,
           CAST(len(list_filter(tokens, x -> x IN {_STOP_SQL})) AS DOUBLE)
               / len(tokens) AS stopword_ratio,
           CAST(length(text) - (len(tokens) - 1) AS DOUBLE) / len(tokens)
               AS avg_token_len,
           {quality_gate_sql()}
               AS passes_quality
    FROM t
    """,
    doc="Gopher-style document quality heuristics: token-count bounds, "
    "mean-word-length bounds, stopword presence, plus unique-token "
    "ratio (repetition signal). All per-row native expressions; the "
    "boolean gate is the filter a 100 TB pretraining pipeline applies "
    "before tokenization.",
    tags=("text", "filter"),
)
def doc_quality_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _tokens(_docs(spark, sf_dir))
    n, stop_hits, avg_len, gate = quality_signal_cols()
    return d.select(
        "doc_id",
        n.alias("n_tokens"),
        (F.size(F.array_distinct("tokens")).cast("double") / n).alias(
            "unique_ratio"
        ),
        (stop_hits.cast("double") / n).alias("stopword_ratio"),
        avg_len.alias("avg_token_len"),
        gate.alias("passes_quality"),
    )


# --------------------------------------------------------------------------
# Language identification (stopword-profile heuristic)
# --------------------------------------------------------------------------


@CATALOG.add(
    "doc_language_id",
    f"""
    WITH t AS (
        SELECT doc_id, lang, string_split(text, ' ') AS tokens
        FROM documents
    ),
    scored AS (
        SELECT doc_id, lang,
               len(tokens) AS n_tokens,
               len(list_filter(tokens, x -> x IN {_STOP_SQL})) AS en_hits
        FROM t
    )
    SELECT doc_id, lang AS meta_lang, n_tokens, en_hits,
           CASE WHEN CAST(en_hits AS DOUBLE) / n_tokens > 0.05
                THEN 'en' ELSE 'und' END AS predicted_lang,
           (CASE WHEN CAST(en_hits AS DOUBLE) / n_tokens > 0.05
                 THEN 'en' ELSE 'und' END) = lang AS agrees_with_meta
    FROM scored
    """,
    doc="Language ID via stopword-profile scoring (the n-gram-heuristic "
    "family): count hits against a per-language marker lexicon, "
    "threshold the hit ratio. Only the English profile intersects this "
    "corpus's vocabulary, so other languages resolve to 'und'; the "
    "agreement flag against the metadata lang column is the audit a "
    "real pipeline runs. Per-row only — no shuffle.",
    tags=("text",),
)
def doc_language_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _tokens(_docs(spark, sf_dir))
    n = F.size("tokens")
    en_hits = F.size(F.filter("tokens", lambda x: x.isin(*STOPWORDS)))
    predicted = F.when(
        en_hits.cast("double") / n > 0.05, "en"
    ).otherwise("und")
    return d.select(
        "doc_id",
        F.col("lang").alias("meta_lang"),
        n.alias("n_tokens"),
        en_hits.alias("en_hits"),
        predicted.alias("predicted_lang"),
        (predicted == F.col("lang")).alias("agrees_with_meta"),
    )


# --------------------------------------------------------------------------
# Fingerprinting: content hash + min-shingle hash (rolling-hash family)
# --------------------------------------------------------------------------


@CATALOG.add(
    "doc_fingerprints",
    """
    WITH t AS (
        SELECT doc_id, text, string_split(text, ' ') AS tk
        FROM documents
        WHERE len(string_split(text, ' ')) >= 3
    ),
    sh AS (
        SELECT doc_id,
               md5(tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2]) AS h
        FROM t, unnest(range(1, len(tk) - 1)) AS u(i)
    )
    SELECT t.doc_id,
           md5(t.text) AS content_hash,
           m.min_shingle_hash,
           m.n_shingles
    FROM t
    JOIN (
        SELECT doc_id, MIN(h) AS min_shingle_hash,
               COUNT(*) AS n_shingles
        FROM sh GROUP BY doc_id
    ) m USING (doc_id)
    """,
    doc="Document fingerprinting: md5 content hash (exact-dup key) plus "
    "the minimum 3-token-shingle hash (the rolling-hash / MinHash-1 "
    "fingerprint near-dup detectors build on). Shingling is an array "
    "transform over the token list — per-row, no explosion shuffle; "
    "the min folds inside the row.",
    tags=("text", "dedup"),
)
def doc_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _tokens(_docs(spark, sf_dir)).filter(F.size("tokens") >= 3)
    shingles = F.expr(
        "transform(sequence(0, size(tokens)-3),"
        " i -> md5(concat_ws(' ', tokens[i], tokens[i+1], tokens[i+2])))"
    )
    d = d.withColumn("sh", shingles)
    return d.select(
        "doc_id",
        F.md5("text").alias("content_hash"),
        F.array_min("sh").alias("min_shingle_hash"),
        F.size("sh").cast("long").alias("n_shingles"),
    )


#: Winnowing parameters (Schleimer, Wilkerson, Aiken, "Winnowing:
#: Local Algorithms for Document Fingerprinting", SIGMOD 2003):
#: k-gram size 3 tokens, window 4 — guarantee window t = w + k - 1 = 6
#: tokens: any shared token run of >= 6 tokens produces at least one
#: shared fingerprint.
WINNOW_K = 3
WINNOW_W = 4


#: DuckDB twin of winnow_fingerprints — exported so the winnowing
#: near-dup pairs query in plans/similarity.py composes its oracle
#: from the same text (like SIMHASH_CTE_SQL).
WINNOW_FPS_SQL = f"""
    WITH t AS (
        SELECT doc_id, string_split(text, ' ') AS tk
        FROM documents
        WHERE len(string_split(text, ' ')) >= {WINNOW_K + WINNOW_W - 1}
    ),
    hs AS (
        SELECT doc_id,
               list_transform(range(1, len(tk) - {WINNOW_K - 2}),
                   i -> md5(tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2]))
                   AS hs
        FROM t
    ),
    sel AS (
        SELECT doc_id,
               list_transform(
                   range(0, len(hs) - {WINNOW_W - 1}),
                   i -> struct_pack(
                       pos := i + list_max(list_transform(
                           range(1, {WINNOW_W + 1}),
                           j -> CASE WHEN hs[i + j] = list_aggregate(
                                    list_transform(
                                        range(1, {WINNOW_W + 1}),
                                        j2 -> hs[i + j2]), 'min')
                               THEN j ELSE 0 END)),
                       fp := list_aggregate(list_transform(
                           range(1, {WINNOW_W + 1}),
                           j -> hs[i + j]), 'min'))) AS sel
        FROM hs
    )
    SELECT DISTINCT doc_id,
           CAST(u.s.pos AS INTEGER) AS pos,
           u.s.fp AS fp
    FROM sel, unnest(sel) AS u(s)
"""


@CATALOG.add(
    "doc_winnowing_fingerprints",
    WINNOW_FPS_SQL,
    doc="Winnowing document fingerprints (Schleimer/Wilkerson/Aiken, "
    "SIGMOD 2003 — the MOSS algorithm): hash every 3-token shingle, "
    "slide a 4-hash window, keep the window minimum with the "
    "RIGHTMOST-occurrence tie rule (expressed as max-index-of-min so "
    "Spark and DuckDB agree exactly), dedupe selected positions. "
    "Guarantees any shared run of >= w+k-1 = 6 tokens yields a shared "
    "fingerprint while storing ~2/(w+1) of all shingle hashes — the "
    "local fingerprinting scheme plagiarism and fine-grained overlap "
    "detectors build on, complementing the global signatures (MinHash/"
    "SimHash) already in the catalog. Plan: shingle hashes posexplode "
    "and the per-window MIN runs as a frame window over doc_id-"
    "partitioned positions — ONE shuffle on doc_id (deliberately "
    "chosen over a shuffle-free higher-order-function form that "
    "benches 4x slower; Spark evaluates HOF lambdas interpretively — "
    "see winnow_fingerprints' docstring). The fingerprint rows "
    "(doc_id, pos, fp) then group/join like any table; at 100 TB the "
    "doc_id clustering is re-used by the downstream fingerprint-"
    "equality join, itself a hash join on fp, bucket-able exactly "
    "like the band joins.",
    tags=("text", "dedup"),
)
def doc_winnowing_fingerprints(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    return winnow_fingerprints(_tokens(_docs(spark, sf_dir)))


def winnow_fingerprints(d: DataFrame) -> DataFrame:
    """(doc_id, pos, fp) winnowing fingerprints for any frame with a
    ``tokens`` array column. See the catalog entry's doc.

    Formulated as a windowed MIN over posexploded shingle hashes, not
    per-row array lambdas: the rightmost-min-of-window selection is
    ``min(struct(h, -pos))`` over ROWS BETWEEN CURRENT AND w-1
    FOLLOWING — struct ordering gives the smallest hash first and,
    on hash ties, the most NEGATIVE -pos, i.e. the rightmost
    occurrence, exactly the winnowing tie rule, all inside JVM window
    codegen. A higher-order-function formulation (the hash array
    let-bound per row, per-window slice/min lambdas) keeps the stage
    shuffle-free but benches 4x slower at sf0.1: Spark evaluates HOF
    lambdas interpretively per element, and ~m windows x ~3w lambda
    calls per document dominates. The window form pays one shuffle on
    doc_id — the same clustering the downstream fingerprint join
    family re-uses, and no worse than the explode+agg shape every
    other text operator (TF-IDF, n-gram decontamination) already has
    at 100 TB.
    """
    d = d.filter(F.size("tokens") >= WINNOW_K + WINNOW_W - 1)
    # tokens[] is 0-based in Spark (1-based in the DuckDB twin, hence
    # the index shift in the oracle SQL). The shingle concat is
    # GENERATED from WINNOW_K, so the shingle width and the window
    # accounting cannot disagree. m (shingle count) is analytic
    # (size - WINNOW_K + 1), carried through the explode instead of a
    # second unbounded count window over every doc partition.
    shingle = ", ".join(f"tokens[i+{j}]" for j in range(WINNOW_K))
    sh = d.select(
        "doc_id",
        (F.size("tokens") - WINNOW_K + 1).alias("m"),
        F.posexplode(
            F.expr(
                f"transform(sequence(0, size(tokens) - {WINNOW_K}), i -> "
                f"md5(concat_ws(' ', {shingle})))"
            )
        ).alias("p", "h"),
    )
    win = (
        W.partitionBy("doc_id").orderBy("p").rowsBetween(0, WINNOW_W - 1)
    )
    sel = sh.withColumn(
        "mn",
        F.min(F.struct(F.col("h"), (-F.col("p")).alias("nj"))).over(
            win
        ),
    )
    # Only full windows select (start p <= m - w); pos is the 1-based
    # shingle index of the selected hash. Row-level distinct (not
    # array_distinct) so the DuckDB twin can mirror it.
    return (
        sel.filter(F.col("p") <= F.col("m") - WINNOW_W)
        .select(
            "doc_id",
            (-F.col("mn.nj") + 1).cast("int").alias("pos"),
            F.col("mn.h").alias("fp"),
        )
        .distinct()
    )


# --------------------------------------------------------------------------
# SimHash (60-bit locality-sensitive signature in a BIGINT, exact bit math)
# --------------------------------------------------------------------------


#: DuckDB CTE yielding (doc_id, simhash) — shared by doc_simhash here
#: and the SimHash near-dup pair query in plans/similarity.py.
SIMHASH_CTE_SQL = """
    WITH tok AS (
        SELECT doc_id,
               ('0x' || substr(md5(unnest(string_split(text, ' '))), 1, 15)
               )::BIGINT AS h
        FROM documents
    ),
    bits AS (
        SELECT doc_id, b.b,
               SUM(CASE WHEN (h >> b.b) & 1 = 1 THEN 1 ELSE -1 END) AS s
        FROM tok, unnest(range(0, 60)) AS b(b)
        GROUP BY doc_id, b.b
    ),
    simhashes AS (
        SELECT doc_id,
               -- CAST: DuckDB SUM(BIGINT) widens to HUGEINT, which the
               -- driver's value hash distinguishes from Spark's bigint.
               CAST(SUM(CASE WHEN s > 0 THEN (1::BIGINT << b) ELSE 0 END)
                    AS BIGINT) AS simhash
        FROM bits
        GROUP BY doc_id
    )
"""


def simhash_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, simhash): 60-bit SimHash per document, exact bit math."""
    d = _tokens(_docs(spark, sf_dir))
    # explode_outer: see SCALE.md explode-pushdown trap.
    tok = d.select(
        "doc_id", F.explode_outer("tokens").alias("tok")
    ).select(
        "doc_id",
        F.expr("cast(conv(substr(md5(tok), 1, 15), 16, 10) as bigint)").alias(
            "h"
        ),
    )
    bits = tok.select(
        "doc_id", "h", F.explode(F.sequence(F.lit(0), F.lit(59))).alias("b")
    ).groupBy("doc_id", "b").agg(
        F.sum(
            F.when(F.expr("(h >> b) & 1") == 1, 1).otherwise(-1)
        ).alias("s")
    )
    return bits.groupBy("doc_id").agg(
        F.sum(
            F.when(F.col("s") > 0, F.expr("shiftleft(1L, b)")).otherwise(
                F.lit(0).cast("long")
            )
        ).alias("simhash")
    )


@CATALOG.add(
    "doc_simhash",
    SIMHASH_CTE_SQL + "SELECT doc_id, simhash FROM simhashes",
    doc="SimHash: each token hashes to 60 bits (md5 prefix as BIGINT — "
    "identical in both engines); per bit position, occurrences vote "
    "+1/-1; the sign vector packs its 60 meaningful bits into one "
    "BIGINT signature (bit positions 0-59 — collision/Hamming math "
    "should use 60, not the storage width) whose "
    "Hamming distance approximates cosine similarity of term vectors. "
    "All-integer arithmetic, so the signature is bit-exact across "
    "engines and cluster sizes. The bit fan-out (60× tokens) collapses "
    "map-side under partial aggregation keyed by doc_id.",
    tags=("text", "dedup"),
)
def doc_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    return simhash_frame(spark, sf_dir)


# --------------------------------------------------------------------------
# TF-IDF: top terms per document (rational-IDF variant)
# --------------------------------------------------------------------------

TFIDF_TOP_N = 3


@CATALOG.add(
    "tfidf_top_terms",
    f"""
    WITH tok AS (
        SELECT doc_id, unnest(string_split(text, ' ')) AS term
        FROM documents
    ),
    tf AS (
        SELECT doc_id, term, CAST(COUNT(*) AS BIGINT) AS tf
        FROM tok GROUP BY doc_id, term
    ),
    df AS (
        SELECT term, CAST(COUNT(*) AS BIGINT) AS df FROM tf GROUP BY term
    ),
    n AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_docs FROM documents)
    SELECT doc_id, term, tf, df,
           tf * (CAST(n_docs AS DOUBLE) / df) AS tf_idf, rnk
    FROM (
        SELECT tf.doc_id, tf.term, tf.tf, df.df, n.n_docs,
               ROW_NUMBER() OVER (
                   PARTITION BY tf.doc_id
                   ORDER BY tf.tf * (CAST(n.n_docs AS DOUBLE) / df.df) DESC,
                            tf.term
               ) AS rnk
        FROM tf JOIN df USING (term) CROSS JOIN n
    )
    WHERE rnk <= {TFIDF_TOP_N}
    """,
    doc=f"TF-IDF top-{TFIDF_TOP_N} terms per document. IDF is the "
    "rational variant n_docs/df (same per-term ranking as ln(n/df), "
    "being a monotone transform) — a deliberate determinism choice: "
    "ln() is implemented by different libm's across engines and its "
    "last-ulp drift would break hash-exact comparison, while a single "
    "integer division is IEEE-exact everywhere. Plan shape: two "
    "hash-aggs (doc×term, then term), a broadcast-sized df/count join "
    "(vocabulary ≪ corpus), and a per-doc window — the per-doc rank "
    "shuffle is on doc_id, uniform by construction. Ties break on "
    "term for a deterministic top list.",
    tags=("text", "agg", "window"),
)
def tfidf_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _tokens(_docs(spark, sf_dir))
    # explode_outer, not explode: split() never yields an empty array
    # (empty text -> [""]), so outer == inner semantically, and the
    # implicit size(tokens)>0 predicate plain explode generates would
    # inline split(text) into the (one-task) scan-stage filter and run
    # the tokenize twice per row per branch (see SCALE.md, the
    # explode-pushdown trap).
    tok = d.select("doc_id", F.explode_outer("tokens").alias("term"))
    tf = tok.groupBy("doc_id", "term").agg(F.count(F.lit(1)).alias("tf"))
    # ``tf`` feeds two branches (the df aggregate and the join's left
    # side) and Spark does not dedupe common subplans across join
    # inputs, so the unpersisted plan ran the whole scan+tokenize+
    # explode+aggregate chain TWICE per execution. Caching it collapses
    # that to ONE corpus pass — the term that dominates at 100 TB,
    # where the second pass re-reads and re-explodes the whole corpus.
    with cached(tf) as tf:
        tf.count()
        df = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
        n = _docs(spark, sf_dir).agg(F.count(F.lit(1)).alias("n_docs"))
        # No broadcast hint on df: vocabulary grows with corpus size
        # (Heaps' law — unbounded with web-scale text), so AQE decides.
        # The one-row count IS provably bounded and safe to hint.
        joined = tf.join(df, "term").crossJoin(F.broadcast(n))
        tf_idf = F.col("tf") * (
            F.col("n_docs").cast("double") / F.col("df")
        )
        w = W.partitionBy("doc_id").orderBy(tf_idf.desc(), F.col("term"))
        out = (
            joined.withColumn("rnk", F.row_number().over(w))
            .filter(F.col("rnk") <= TFIDF_TOP_N)
            .select(
                "doc_id", "term", "tf", "df", tf_idf.alias("tf_idf"), "rnk"
            )
        )
        return detach(out)


# --------------------------------------------------------------------------
# PII detection & redaction
# --------------------------------------------------------------------------

#: Patterns kept to the regex subset with identical semantics in Java
#: regex (Spark) and RE2 (DuckDB): no backrefs, no lookaround.
EMAIL_RE = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
IPV4_RE = r"\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b"

#: The corpus is synthetic word salad with no PII, so the query PLANTS
#: deterministic PII first (emails on doc_id%7==0, IPv4 on %11==0) —
#: redaction is then verifiably non-vacuous on both engines.
_PII_SEED_SQL = """
    SELECT doc_id,
           text
           || CASE WHEN doc_id % 7 = 0
                   THEN ' contact user' || CAST(doc_id AS VARCHAR)
                        || '@example.com'
                   ELSE '' END
           || CASE WHEN doc_id % 11 = 0
                   THEN ' from 10.0.' || CAST(doc_id % 256 AS VARCHAR)
                        || '.' || CAST((doc_id // 256) % 256 AS VARCHAR)
                   ELSE '' END AS text
    FROM documents
"""


@CATALOG.add(
    "pii_redaction",
    f"""
    WITH seeded AS ({_PII_SEED_SQL})
    SELECT doc_id,
           md5(regexp_replace(
                   regexp_replace(text, '{EMAIL_RE}', '<EMAIL>', 'g'),
                   '{IPV4_RE}', '<IP>', 'g')) AS redacted_hash,
           CAST(len(regexp_extract_all(text, '{EMAIL_RE}')) AS BIGINT)
               AS n_emails,
           CAST(len(regexp_extract_all(text, '{IPV4_RE}')) AS BIGINT)
               AS n_ips
    FROM seeded
    """,
    doc="PII redaction: replace emails and IPv4 addresses with typed "
    "placeholders and count detections per document — the compliance "
    "scrub every pretraining corpus runs before anything else sees the "
    "text. Pure per-row regexp inside the scan stage (no shuffle, no "
    "UDF — Spark's regexp_replace/regexp_extract_all are codegen "
    "native); patterns are restricted to the Java∩RE2 regex subset so "
    "the oracle computes the identical redaction. Emits md5(redacted) "
    "rather than the redacted text (same bytes compared, "
    "driver-friendly size). At 100 TB this is I/O-bound and "
    "embarrassingly parallel; extending the pattern set (phones, SSNs, "
    "keys) is a CASE-free column edit.",
    tags=("text", "filter"),
)
def pii_redaction(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _docs(spark, sf_dir)
    email = F.lit(EMAIL_RE)
    ipv4 = F.lit(IPV4_RE)
    seeded = F.concat(
        F.col("text"),
        F.when(
            F.col("doc_id") % 7 == 0,
            F.concat(
                F.lit(" contact user"),
                F.col("doc_id").cast("string"),
                F.lit("@example.com"),
            ),
        ).otherwise(""),
        F.when(
            F.col("doc_id") % 11 == 0,
            F.concat(
                F.lit(" from 10.0."),
                (F.col("doc_id") % 256).cast("string"),
                F.lit("."),
                ((F.col("doc_id") / 256).cast("bigint") % 256).cast(
                    "string"
                ),
            ),
        ).otherwise(""),
    )
    d = d.select("doc_id", seeded.alias("text"))
    redacted = F.regexp_replace(
        F.regexp_replace(F.col("text"), email, F.lit("<EMAIL>")),
        ipv4,
        F.lit("<IP>"),
    )
    return d.select(
        "doc_id",
        F.md5(redacted).alias("redacted_hash"),
        F.size(F.regexp_extract_all("text", email, F.lit(0)))
        .cast("bigint")
        .alias("n_emails"),
        F.size(F.regexp_extract_all("text", ipv4, F.lit(0)))
        .cast("bigint")
        .alias("n_ips"),
    )


# --------------------------------------------------------------------------
# Simpson diversity (exact lexical-concentration signal)
# --------------------------------------------------------------------------


@CATALOG.add(
    "doc_simpson_diversity",
    """
    WITH c AS (
        SELECT doc_id, token, COUNT(*) AS cnt
        FROM (
            SELECT doc_id, unnest(string_split(text, ' ')) AS token
            FROM documents
        )
        GROUP BY doc_id, token
    )
    SELECT doc_id,
           CAST(SUM(cnt) AS BIGINT) AS n_tokens,
           CAST(SUM(cnt * cnt) AS BIGINT) AS sum_sq,
           CAST(SUM(cnt * cnt) AS DOUBLE)
               / (SUM(cnt) * SUM(cnt)) AS simpson_index
    FROM c GROUP BY doc_id
    """,
    doc="Simpson concentration index per document — the EXACT "
    "repetitiveness signal entropy can't be cross-engine (entropy "
    "needs log(): last-ulp libm drift breaks value hashing, the same "
    "reason BM25 here uses rational IDF): lambda = sum(c_t^2)/n^2 over "
    "token counts, a pure rational whose only float op is one final "
    "correctly-rounded division. 1/lambda is the effective vocabulary "
    "size; degenerate/boilerplate docs push lambda toward 1 — the "
    "quality-gate companion to the Gopher repetition metrics, but "
    "distribution-level instead of top-n-gram. Plan: the word-count "
    "shape twice — explode tokens, hash-agg on (doc_id, token) with "
    "map-side combine, hash-agg on doc_id — both shuffles keyed by "
    "doc-bounded keys, linear at 100 TB with no window and no join.",
    tags=("text", "agg"),
)
def doc_simpson_diversity(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _tokens(_docs(spark, sf_dir))
    tok = d.select("doc_id", F.explode_outer("tokens").alias("token"))
    c = tok.groupBy("doc_id", "token").agg(
        F.count(F.lit(1)).alias("cnt")
    )
    return c.groupBy("doc_id").agg(
        F.sum("cnt").cast("bigint").alias("n_tokens"),
        F.sum(F.col("cnt") * F.col("cnt")).cast("bigint").alias("sum_sq"),
        (
            F.sum(F.col("cnt") * F.col("cnt")).cast("double")
            / (F.sum("cnt") * F.sum("cnt"))
        ).alias("simpson_index"),
    )


# --------------------------------------------------------------------------
# Iterative BPE training (tokenizer-training step 2)
# --------------------------------------------------------------------------

#: Unrolled BPE merge rounds.
BPE_ROUNDS = 6
#: Symbol delimiter for the merge-rewrite encoding (see below).
BPE_D = "\x01"


def _bpe_iter_sql(r: int) -> str:
    d = "chr(1)"
    return f""",
    p{r} AS (
        SELECT p.l AS lhs, p.r AS rhs,
               CAST(SUM(freq) AS BIGINT) AS cnt
        FROM (
            SELECT unnest(list_transform(
                       range(1, len(arr)),
                       i -> {{'l': arr[i], 'r': arr[i + 1]}})) AS p,
                   freq
            FROM (
                SELECT string_split(substr(s, 2, length(s) - 2),
                                    {d} || {d}) AS arr,
                       freq
                FROM w{r - 1}
            )
            WHERE len(arr) >= 2
        )
        GROUP BY 1, 2
    ),
    b{r} AS (
        SELECT lhs, rhs, cnt FROM p{r}
        ORDER BY cnt DESC, lhs, rhs LIMIT 1
    ),
    w{r} AS (
        SELECT replace(w.s,
                       {d} || b.lhs || {d} || {d} || b.rhs || {d},
                       {d} || b.lhs || b.rhs || {d}) AS s,
               w.freq
        FROM w{r - 1} w, b{r} b
    )"""


#: Exact iterative oracle for bpe_train_merges (DuckDB), unrolled like
#: the pagerank oracle.
_BPE_TRAIN_CTES = """
    WITH w0 AS (
        SELECT array_to_string(list_transform(
                   range(1, length(token) + 1),
                   i -> chr(1) || token[i] || chr(1)), '') AS s,
               CAST(COUNT(*) AS BIGINT) AS freq
        FROM (
            SELECT unnest(string_split(text, ' ')) AS token
            FROM documents
        )
        WHERE length(token) >= 2
        GROUP BY token
    )""" + "".join(_bpe_iter_sql(r) for r in range(1, BPE_ROUNDS + 1))

BPE_TRAIN_SQL = (
    _BPE_TRAIN_CTES
    + "\n    "
    + "\n    UNION ALL ".join(
        f"SELECT {r} AS merge_round, lhs, rhs, lhs || rhs AS merged,"
        f" cnt AS n_occurrences FROM b{r}"
        for r in range(1, BPE_ROUNDS + 1)
    )
)


def bpe_words(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The (symbol-string, freq) word table BPE iterates on — one
    shuffle over the corpus collapses it to vocabulary size; every
    merge round after that touches only this table."""
    d = _tokens(_docs(spark, sf_dir))
    tok = d.select(F.explode_outer("tokens").alias("token")).filter(
        F.length("token") >= 2
    )
    words = tok.groupBy("token").agg(
        F.count(F.lit(1)).cast("bigint").alias("freq")
    )
    # Every character is wrapped in ITS OWN delimiter pair:
    # 'ab' -> \x01a\x01\x01b\x01. A merge of (l, r) is then the plain
    # string replace \x01l\x01\x01r\x01 -> \x01lr\x01, and because
    # each symbol keeps a private boundary on both sides, the
    # scan-left skip-after-match semantics shared by Spark and DuckDB
    # replace() implement EXACTLY textbook leftmost-first
    # non-overlapping BPE ([a,a,a,a] -> [aa,aa], [a,a,a] -> [aa,a] —
    # pinned by test; a single shared delimiter would under-merge
    # runs because the match consumes the boundary).
    return words.select(
        F.expr(
            "concat_ws('', transform(sequence(1, length(token)),"
            " i -> concat('\x01', substring(token, i, 1), '\x01')))"
        ).alias("s"),
        "freq",
    )


def _bpe_pair_counts(words: DataFrame) -> DataFrame:
    arr = F.split(
        F.expr("substring(s, 2, length(s) - 2)"), BPE_D + BPE_D
    )
    pairs = (
        words.select(arr.alias("arr"), "freq")
        .filter(F.size("arr") >= 2)
        .select(
            F.explode(
                F.expr(
                    "transform(sequence(1, size(arr) - 1),"
                    " i -> struct(element_at(arr, i) AS lhs,"
                    "             element_at(arr, i + 1) AS rhs))"
                )
            ).alias("p"),
            "freq",
        )
    )
    return pairs.groupBy("p.lhs", "p.rhs").agg(
        F.sum("freq").cast("bigint").alias("cnt")
    )


@CATALOG.add(
    "bpe_train_merges",
    BPE_TRAIN_SQL,
    doc=f"Iterative BPE tokenizer training — {BPE_ROUNDS} merge rounds "
    "emitting the merge table (merge_round, lhs, rhs, merged, "
    "n_occurrences). ONE corpus shuffle collapses the token stream to "
    "a vocabulary-sized (word, freq) table; every round after that is "
    "a weighted pair count over that small table, a 1-row "
    "TakeOrderedAndProject argmax (deterministic tie order: cnt DESC, "
    "lhs, rhs — nondeterministic merge order forks the downstream "
    "vocab), and a broadcast leftmost-first rewrite. No driver-side "
    "collect per round; the whole merge table is one job. At 100 TB "
    "the corpus is touched exactly once — BPE trainers at scale "
    "iterate on word counts, never the corpus.",
    tags=("text", "iterative"),
)
def bpe_train_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Iterative BPE training: BPE_ROUNDS merge rounds, emitting the
    merge table (merge_round, lhs, rhs, merged, n_occurrences).

    Tokenizer training. Each round: (1) weighted adjacent-symbol-pair counts over the
    vocabulary-sized word table; (2) the argmax pair with the
    deterministic tie order (cnt DESC, lhs, rhs) — nondeterministic
    merge order forks the whole downstream vocab; (3) rewrite every
    word by merging that pair leftmost-first (delimited-string
    replace, see bpe_words). Fully lazy dataflow: the winner is a
    1-row TakeOrderedAndProject broadcast into the rewrite — no
    driver-side collect per round, the whole merge table is ONE job.
    At 100 TB the corpus is touched ONCE (the word-frequency
    shuffle); every round after that runs on the vocabulary-sized
    cached table, which is why BPE trainers at scale iterate on word
    counts, never on the corpus. The cached word table is released
    after the result is detached, the same boundary as pagerank
    (plans/graph.py).
    """
    with ExitStack() as stack:
        words0 = stack.enter_context(cached(bpe_words(spark, sf_dir)))
        words0.count()
        return detach(bpe_train_plan(words0, stack))


def bpe_train_plan(
    words0: DataFrame, stack: ExitStack | None = None
) -> DataFrame:
    """LAZY unrolled BPE merge-round plan — the inspectable contract
    (the catalog boundary detaches it, the same split as
    range_join_plan / pagerank_plan).

    Each round's 1-row winner carries a LAZY ``persist`` mark: the
    winner is referenced twice (its merge-table row + the word-table
    rewrite) and every later round's subtree contains all earlier
    rewrites, so without caching the round-r aggregation re-evaluates
    O(2^(BPE_ROUNDS-r)) times in one execution — the same
    unpersisted-double-reference defect class as the r08
    corpus_filter_funnel fix, compounded per round (review r08). The
    mark keeps the plan fully inspectable and costs nothing until
    execution, where it collapses the work to exactly BPE_ROUNDS
    aggregations. Callers that EXECUTE the plan pass the ``stack``
    that releases the marks (``bpe_train_merges`` does, the same stack
    that holds the word table).
    """
    words = words0
    merge_rows = []
    for r in range(1, BPE_ROUNDS + 1):
        winner = (
            _bpe_pair_counts(words)
            .orderBy(F.col("cnt").desc(), "lhs", "rhs")
            .limit(1)
        )
        # persist marks ONLY when the caller will release them —
        # otherwise a direct executor of this plan (tests, ad-hoc use)
        # would leak BPE_ROUNDS cache entries per call; the unreleased
        # path pays the exponential re-evaluation, which is fine at
        # inspection/test scale and never happens at corpus scale
        # (bpe_train_merges always passes its stack)
        if stack is not None:
            winner = stack.enter_context(cached(winner))
        merge_rows.append(
            winner.select(
                F.lit(r).cast("int").alias("merge_round"),
                "lhs",
                "rhs",
                F.concat("lhs", "rhs").alias("merged"),
                F.col("cnt").alias("n_occurrences"),
            )
        )
        words = words.crossJoin(F.broadcast(winner)).select(
            F.expr(
                "replace(s,"
                " concat('\x01', lhs, '\x01\x01', rhs, '\x01'),"
                " concat('\x01', lhs, rhs, '\x01'))"
            ).alias("s"),
            "freq",
        )
    out = merge_rows[0]
    for frame in merge_rows[1:]:
        out = out.unionAll(frame)
    return out


# --------------------------------------------------------------------------
# BPE encoding (tokenizer-training step 3: apply the merge table)
# --------------------------------------------------------------------------

#: Exact DuckDB oracle for bpe_encode_corpus: train (shared CTE chain
#: with BPE_TRAIN_SQL), encode the DISTINCT vocabulary by folding the
#: merge rounds in rank order, rejoin to per-document token positions,
#: reassemble with an ordered string_agg. Consumed by
#: tests/test_bpe.py — not catalog-registered (window capacity; see
#: the plans/catalog.py ledger).
BPE_ENCODE_SQL = (
    _BPE_TRAIN_CTES
    + """,
    tok AS (
        SELECT doc_id, pt['pos'] AS pos, pt['token'] AS token
        FROM (
            SELECT doc_id,
                   unnest(list_transform(
                       range(1, len(toks) + 1),
                       i -> {'pos': i, 'token': toks[i]})) AS pt
            FROM (
                SELECT doc_id, string_split(text, ' ') AS toks
                FROM documents
            )
        )
    ),
    e0 AS (
        SELECT token,
               array_to_string(list_transform(
                   range(1, length(token) + 1),
                   i -> chr(1) || token[i] || chr(1)), '') AS s
        FROM (SELECT DISTINCT token FROM tok)
    )"""
    + "".join(
        f""",
    e{r} AS (
        -- LEFT JOIN, not cross: an exhausted training round (empty
        -- b{r} on a degenerate corpus) must pass words through
        -- unchanged, exactly like the Spark side's null-guarded fold
        SELECT e.token,
               CASE WHEN b.lhs IS NULL THEN e.s
                    ELSE replace(e.s,
                         chr(1) || b.lhs || chr(1) || chr(1) || b.rhs
                             || chr(1),
                         chr(1) || b.lhs || b.rhs || chr(1)) END AS s
        FROM e{r - 1} e LEFT JOIN b{r} b ON TRUE
    )"""
        for r in range(1, BPE_ROUNDS + 1)
    )
    + f""",
    enc AS (
        SELECT token,
               string_split(substr(s, 2, greatest(length(s) - 2, 0)),
                            chr(1) || chr(1)) AS bpe
        FROM e{BPE_ROUNDS}
    )
    SELECT t.doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_words,
           CAST(SUM(len(e.bpe)) AS BIGINT) AS n_bpe_tokens,
           string_agg(array_to_string(e.bpe, '|'), '|' ORDER BY t.pos)
               AS bpe_tokens
    FROM tok t JOIN enc e ON t.token = e.token
    GROUP BY t.doc_id
    """
)


def bpe_encode_vocab(
    vocab: DataFrame, merges: DataFrame, rounds: int = BPE_ROUNDS
) -> DataFrame:
    """Encode distinct words with a trained merge table: fold the
    rounds IN RANK ORDER over the delimited symbol string (the order
    is the algorithm — BPE applies earlier merges before later ones,
    and each round's rewrite is the exact leftmost-first replace the
    trainer used, so encode(train(w)) reproduces the trainer's final
    word states). ``vocab`` is (token) distinct; ``merges`` is
    bpe_train_plan output with rounds 1..``rounds`` present once
    each. Returns (token, bpe array<string>).

    Scale shape: encoding is VOCABULARY-sized work, not corpus-sized
    — each round is a broadcast of one 1-row merge into a per-row
    string replace, no shuffle at all; the corpus rejoin happens
    outside (bpe_encode_corpus). Single-character words (excluded
    from training, which needs pairs) encode to themselves.
    """
    # the empty-token guard matters: Spark's sequence(1, 0) is the
    # DESCENDING [1, 0] (not empty like DuckDB's range(1, 1)), which
    # would encode '' as two empty symbols instead of one (review r08)
    enc = vocab.select(
        "token",
        F.when(F.length("token") == 0, F.lit(""))
        .otherwise(
            F.expr(
                "concat_ws('', transform(sequence(1, length(token)),"
                " i -> concat('\x01', substring(token, i, 1), '\x01')))"
            )
        )
        .alias("s"),
    )
    for r in range(1, rounds + 1):
        m = merges.filter(F.col("merge_round") == r).select("lhs", "rhs")
        enc = enc.join(F.broadcast(m), F.lit(True), "left").select(
            "token",
            F.when(F.col("lhs").isNull(), F.col("s"))
            .otherwise(
                F.expr(
                    "replace(s,"
                    " concat('\x01', lhs, '\x01\x01', rhs, '\x01'),"
                    " concat('\x01', lhs, rhs, '\x01'))"
                )
            )
            .alias("s"),
        )
    return enc.select(
        "token",
        F.split(
            F.expr("substring(s, 2, greatest(length(s) - 2, 0))"),
            BPE_D + BPE_D,
        ).alias("bpe"),
    )


def bpe_encode_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenize every document with the merge table trained on the
    same corpus (train -> encode, the full tokenizer loop). Returns
    (doc_id, n_words, n_bpe_tokens, bpe_tokens) where bpe_tokens is
    the document's complete BPE token sequence in word order,
    '|'-joined.

    Scale shape: the merge table is trained once on the word-frequency
    table (corpus touched once), the DISTINCT vocabulary is encoded
    once (broadcast folds, no shuffle), and the corpus rejoin is one
    hash join on token followed by one per-doc aggregation — the
    sort_array(collect_list(struct(pos, bpe))) reassembly keeps word
    order without a global sort. A production pipeline would persist
    the exploded token table across the train and encode scans; at
    fixture scale the second scan is cheaper than the cache write.
    """
    merges = bpe_train_merges(spark, sf_dir)
    d = _tokens(_docs(spark, sf_dir))
    tok = d.select(
        "doc_id", F.posexplode("tokens").alias("pos0", "token")
    ).select("doc_id", (F.col("pos0") + 1).alias("pos"), "token")
    enc = bpe_encode_vocab(tok.select("token").distinct(), merges)
    return (
        tok.join(enc, "token")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_words"),
            F.sum(F.size("bpe")).cast("bigint").alias("n_bpe_tokens"),
            F.array_join(
                F.flatten(
                    F.transform(
                        F.array_sort(
                            F.collect_list(F.struct("pos", "bpe"))
                        ),
                        lambda x: x["bpe"],
                    )
                ),
                "|",
            ).alias("bpe_tokens"),
        )
    )
