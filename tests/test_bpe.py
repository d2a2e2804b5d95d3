"""Iterative BPE training: oracle parity, run semantics, tie order.

bpe_train_merges is catalog-registered; these tests run its exact
DuckDB oracle compare.
"""

from __future__ import annotations

from pyspark.sql import Row, functions as F

from aws_weather_data_pipeline_spark.plans.text import (
    BPE_ROUNDS,
    BPE_TRAIN_SQL,
    _bpe_pair_counts,
    bpe_train_merges,
    bpe_train_plan,
    bpe_words,
)


def test_bpe_train_matches_iterative_oracle(spark, sf_dir):
    from tests.oracle import compare

    n = compare(
        spark, sf_dir, bpe_train_merges, BPE_TRAIN_SQL,
        name="bpe_train_merges",
    )
    assert n == BPE_ROUNDS


def _words(spark, rows):
    # (token, freq) -> the delimited symbol encoding bpe_words builds.
    df = spark.createDataFrame([Row(token=t, freq=f) for t, f in rows])
    return df.select(
        F.expr(
            "concat_ws('', transform(sequence(1, length(token)),"
            " i -> concat('\x01', substring(token, i, 1), '\x01')))"
        ).alias("s"),
        F.col("freq").cast("bigint").alias("freq"),
    )


def test_bpe_merges_runs_leftmost_first(spark):
    # The delimiter encoding must give textbook leftmost-first
    # non-overlapping merges on runs: aaaa -> [aa, aa] (NOT [aa, a, a],
    # the under-merge a shared single delimiter produces), and
    # aaa -> [aa, a]. Observable through round-2 pair counts.
    words = _words(spark, [("aaaa", 1), ("aaa", 1)])
    out = {
        (r["merge_round"], r["lhs"], r["rhs"]): r["n_occurrences"]
        for r in bpe_train_plan(words)
        .filter(F.col("merge_round") <= 2)
        .collect()
    }
    # round 1: pairs (a,a) x (3 in aaaa + 2 in aaa) = 5
    assert out[(1, "a", "a")] == 5
    # round 2 sees aaaa=[aa,aa] and aaa=[aa,a]: (aa,aa)=1 and (aa,a)=1
    # tie -> lexicographic rhs order picks (aa, a) before (aa, aa).
    assert (2, "aa", "a") in out and out[(2, "aa", "a")] == 1


def test_bpe_tie_breaks_lexicographically(spark):
    # Equal counts must resolve by (lhs, rhs) string order — the
    # deterministic merge order that keeps a trained vocab reproducible.
    words = _words(spark, [("zy", 3), ("ab", 3)])
    r1 = (
        bpe_train_plan(words)
        .filter(F.col("merge_round") == 1)
        .collect()[0]
    )
    assert (r1["lhs"], r1["rhs"]) == ("a", "b")


def test_bpe_pair_counts_weighted_by_word_freq(spark):
    words = _words(spark, [("ab", 7), ("abc", 2)])
    counts = {
        (r["lhs"], r["rhs"]): r["cnt"]
        for r in _bpe_pair_counts(words).collect()
    }
    assert counts == {("a", "b"): 9, ("b", "c"): 2}


def test_bpe_words_encoding_shape(spark, sf_dir):
    row = bpe_words(spark, sf_dir).limit(1).collect()[0]
    s = row["s"]
    assert s.startswith("\x01") and s.endswith("\x01")
    syms = s[1:-1].split("\x01\x01")
    assert all(len(x) == 1 for x in syms)  # pre-merge: single chars


def test_bpe_matches_pure_python_reference_on_random_words(spark):
    """Property: the delimited-string replace() merge equals an
    independent pure-Python leftmost-first BPE on random word sets —
    pinning the encoding trick against a direct list implementation
    (not against the same string machinery it uses)."""
    import random

    from pyspark.sql import functions as F

    rng = random.Random(20240814)

    def ref_bpe(words, rounds):
        # words: {tuple_of_symbols: freq}
        merges = []
        words = dict(words)
        for _ in range(rounds):
            counts = {}
            for syms, f in words.items():
                for i in range(len(syms) - 1):
                    p = (syms[i], syms[i + 1])
                    counts[p] = counts.get(p, 0) + f
            if not counts:
                break
            best = min(counts, key=lambda p: (-counts[p], p))
            merges.append((best[0], best[1], counts[best]))
            out = {}
            for syms, f in words.items():
                new = []
                i = 0
                while i < len(syms):
                    if (
                        i + 1 < len(syms)
                        and (syms[i], syms[i + 1]) == best
                    ):
                        new.append(syms[i] + syms[i + 1])
                        i += 2  # leftmost-first, skip past the merge
                    else:
                        new.append(syms[i])
                        i += 1
                k = tuple(new)
                out[k] = out.get(k, 0) + f
            words = out
        return merges

    for trial in range(4):
        n_words = rng.randint(3, 10)
        rows = []
        seen = set()
        for _ in range(n_words):
            w = "".join(
                rng.choice("abc") for _ in range(rng.randint(2, 8))
            )
            if w in seen:
                continue
            seen.add(w)
            rows.append((w, rng.randint(1, 9)))
        expected = ref_bpe(
            {tuple(w): f for w, f in rows}, rounds=6
        )
        got = [
            (r["lhs"], r["rhs"], r["n_occurrences"])
            for r in sorted(
                bpe_train_plan(_words(spark, rows)).collect(),
                key=lambda r: r["merge_round"],
            )
        ]
        assert got == expected, (trial, rows, got, expected)


# ---------------------------------------------------------------------------
# Encoding (tokenizer-training step 3)


def test_bpe_encode_matches_iterative_oracle(spark, sf_dir):
    from tests.oracle import compare

    from aws_weather_data_pipeline_spark.plans.text import (
        BPE_ENCODE_SQL,
        bpe_encode_corpus,
    )

    n = compare(
        spark, sf_dir, bpe_encode_corpus, BPE_ENCODE_SQL,
        name="bpe_encode_corpus",
    )
    assert n > 0


def test_bpe_encode_reproduces_trainer_word_states(spark):
    """encode(train(w)) on the training vocabulary must land every
    word exactly where the trainer left it — encoding is the same
    rank-ordered leftmost-first fold the trainer applied."""
    from aws_weather_data_pipeline_spark.plans.text import (
        bpe_encode_vocab,
        bpe_train_plan,
    )

    rows = [("abab", 5), ("abc", 3), ("bab", 2), ("cab", 1)]
    merges = bpe_train_plan(_words(spark, rows)).localCheckpoint(
        eager=True
    )
    vocab = spark.createDataFrame(
        [(t,) for t, _f in rows], "token string"
    )
    got = {
        r.token: list(r.bpe)
        for r in bpe_encode_vocab(vocab, merges).collect()
    }
    # independent reference: replay the merge list left-to-right
    ref_merges = [
        (r.lhs, r.rhs)
        for r in sorted(merges.collect(), key=lambda r: r.merge_round)
    ]

    def ref_encode(word):
        syms = list(word)
        for lhs, rhs in ref_merges:
            out, i = [], 0
            while i < len(syms):
                if (
                    i + 1 < len(syms)
                    and syms[i] == lhs
                    and syms[i + 1] == rhs
                ):
                    out.append(lhs + rhs)
                    i += 2
                else:
                    out.append(syms[i])
                    i += 1
            syms = out
        return syms

    for token, _f in rows:
        assert got[token] == ref_encode(token), token


def test_bpe_encode_is_lossless_and_handles_short_words(spark):
    """Concatenating a word's BPE symbols reconstructs the word, and
    single-char words (excluded from training) encode to themselves."""
    from aws_weather_data_pipeline_spark.plans.text import (
        bpe_encode_vocab,
        bpe_train_plan,
    )

    merges = bpe_train_plan(
        _words(spark, [("aaab", 4), ("ab", 2)])
    ).localCheckpoint(eager=True)
    vocab = spark.createDataFrame(
        [("aaab",), ("ab",), ("a",), ("zzz",)], "token string"
    )
    for r in bpe_encode_vocab(vocab, merges).collect():
        assert "".join(r.bpe) == r.token
    got = {
        r.token: list(r.bpe)
        for r in bpe_encode_vocab(vocab, merges).collect()
    }
    assert got["a"] == ["a"]  # too short to train on, still encodable
    assert got["zzz"] == ["z", "z", "z"]  # no merge applies


def test_bpe_encode_empty_token_matches_oracle_shape(spark):
    """Spark's sequence(1, 0) is DESCENDING [1, 0], not empty — the
    empty-token guard keeps '' encoding to one empty symbol, the
    DuckDB shape (review r08)."""
    from aws_weather_data_pipeline_spark.plans.text import (
        bpe_encode_vocab,
        bpe_train_plan,
    )

    merges = bpe_train_plan(_words(spark, [("ab", 2)])).localCheckpoint(
        eager=True
    )
    vocab = spark.createDataFrame([("",), ("ab",)], "token string")
    got = {
        r.token: list(r.bpe)
        for r in bpe_encode_vocab(vocab, merges).collect()
    }
    assert got[""] == [""]
    assert got["ab"] == ["ab"]


def test_bpe_train_plan_direct_execution_leaks_no_cache(spark):
    """Without a ``stack`` the plan must carry NO persist marks — a
    direct executor (tests, ad-hoc use) would leak them for the
    session's lifetime. Compared as ID SETS, not
    counts: a sibling test's unpersist(blocking=False) completing
    mid-test shrinks the global count and flaked the count form
    under the full suite — only NEW ids mean a leak."""
    jmap = spark.sparkContext._jsc.getPersistentRDDs()
    before = {k for k in jmap.keySet().toArray()}
    bpe_train_plan(_words(spark, [("abab", 3), ("abc", 1)])).collect()
    jmap = spark.sparkContext._jsc.getPersistentRDDs()
    leaked = {k for k in jmap.keySet().toArray()} - before
    assert not leaked


def test_bpe_encode_oracle_survives_exhausted_merge_rounds():
    """A corpus whose pairs run out before BPE_ROUNDS must still
    encode every document in the ORACLE: the per-round LEFT JOIN
    passes words through an empty b{r} instead of annihilating the
    vocabulary (review r08)."""
    import duckdb

    from aws_weather_data_pipeline_spark.plans.text import BPE_ENCODE_SQL

    con = duckdb.connect()
    # one distinct 2-char word: round 1 merges it whole, rounds 2..6
    # have no adjacent pairs left anywhere
    con.execute(
        "CREATE VIEW documents AS "
        "SELECT 'd1' AS doc_id, 'ab ab ab' AS text "
        "UNION ALL SELECT 'd2', 'ab'"
    )
    rows = con.execute(BPE_ENCODE_SQL).fetchall()
    got = {r[0]: (r[1], r[2], r[3]) for r in rows}
    assert got == {"d1": (3, 3, "ab|ab|ab"), "d2": (1, 1, "ab")}
