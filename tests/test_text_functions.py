"""Unit tests for the text-analysis column library edge cases."""

from __future__ import annotations

from pyspark.sql import functions as F

from luma_etl_data_platform_spark.functions import text as X


def _one(spark, text, expr):
    return spark.createDataFrame([(text,)], ["t"]).select(
        expr(F.col("t")).alias("v")).collect()[0]["v"]


def test_lang_id_markers_and_ties(spark):
    assert _one(spark, "the cat and the dog", X.lang_id) == "en"
    assert _one(spark, "el perro y la casa que", X.lang_id) == "es"
    assert _one(spark, "le chien et la maison", X.lang_id) == "fr"
    # tie between es and fr ('la', 'de', 'que' shared) → es (alphabetical)
    assert _one(spark, "la de que", X.lang_id) == "es"
    assert _one(spark, "zzz qqq www", X.lang_id) == "und"
    assert _one(spark, "", X.lang_id) == "und"


def test_quality_score_bounds_and_monotonicity(spark):
    short = _one(spark, "word", X.quality_score)
    longer = _one(spark, "the " * 60 + "meaningful words here", X.quality_score)
    assert 0.0 <= short <= 1.0 and 0.0 <= longer <= 1.0
    assert longer > short


def test_shingles_edges(spark):
    assert _one(spark, "a b", lambda c: X.shingles(c, 3)) == []
    assert _one(spark, "a b c", lambda c: X.shingles(c, 3)) == ["a b c"]
    got = _one(spark, "a b c d", lambda c: X.shingles(c, 3))
    assert got == ["a b c", "b c d"]
    # repeated shingles dedupe
    got2 = _one(spark, "x y x y x y x y", lambda c: X.shingles(c, 2))
    assert sorted(got2) == ["x y", "y x"]


def test_fingerprint_normalization_invariance(spark):
    a = _one(spark, "The  CAT sat!", X.fingerprint)
    b = _one(spark, "the cat SAT", X.fingerprint)
    c = _one(spark, "the dog sat", X.fingerprint)
    assert a == b and a != c


def test_portable_hash_seed_sensitivity(spark):
    h0 = _one(spark, "abc", lambda c: X.portable_hash32(c, 0))
    h1 = _one(spark, "abc", lambda c: X.portable_hash32(c, 1))
    assert h0 != h1
    assert 0 <= h0 < 2 ** 32 and 0 <= h1 < 2 ** 32


def test_token_count_and_stopword_ratio(spark):
    assert _one(spark, "one two three", X.token_count) == 3
    assert _one(spark, "", X.token_count) == 0
    r = _one(spark, "the a of and xyz", X.stopword_ratio)
    assert abs(r - 0.8) < 1e-9
    assert _one(spark, "", X.stopword_ratio) == 0.0


# ------------------------------------------------------------- unigram


def test_unigram_viterbi_prefers_frequent_long_tokens(spark):
    """Corpus where 'abab' dominates: the substring 'abab' (and 'ab')
    are cheap, so 'abab' segments as ONE token; a rare word of the
    same letters pays single-char costs. Hand-checkable DP."""
    from luma_etl_data_platform_spark.operators.unigram import (
        viterbi_segment)
    rows = [("abab abab abab abab abab abab abab abab",),
            ("zq",)]
    df = spark.createDataFrame(rows, "text string")
    seg = {r["word"]: r for r in
           viterbi_segment(df, "text", min_count=2).collect()}
    # 'abab' must segment as a single 4-char token (cheapest path:
    # its own count is 8, far above any 2-step split's summed cost)
    assert seg["abab"]["ntoks"] == 1
    assert seg["abab"]["ln"] == 4
    # 'zq' occurs once: 'zq' as a token has cnt 1 < min_count, so the
    # only path is two single chars
    assert seg["zq"]["ntoks"] == 2


def test_unigram_dp_matches_bruteforce(spark):
    """Exhaustive check: the relational Viterbi equals a driver-side
    brute-force minimum over all segmentations for every word."""
    import itertools
    import math
    from luma_etl_data_platform_spark.operators.unigram import (
        MAX_SUB, token_cost_table, viterbi_segment)
    from luma_etl_data_platform_spark.operators.bpe import word_frequencies
    rows = [("the cat the hat theca",), ("cat hat the the",)]
    df = spark.createDataFrame(rows, "text string")
    words = (word_frequencies(df, "text")
             .withColumn("ln", F.length("word")))
    costs = {r["token"]: r["cost"]
             for r in token_cost_table(words, min_count=2).collect()}
    got = {r["word"]: (r["cost"], r["ntoks"])
           for r in viterbi_segment(df, "text", min_count=2).collect()}

    def brute(word):
        n = len(word)
        best = None
        # all compositions of n into parts <= MAX_SUB
        def rec(pos, cost, toks):
            nonlocal best
            if pos == n:
                cand = (cost, toks)
                if best is None or cand < best:
                    best = cand
                return
            for l in range(1, min(MAX_SUB, n - pos) + 1):
                t = word[pos:pos + l]
                if t in costs:
                    rec(pos + l, cost + costs[t], toks + 1)
        rec(0, 0, 0)
        return best

    for w, v in got.items():
        assert v == brute(w), w


def test_unigram_paths_reconstruct_the_word(spark):
    """The backpointer walk's tokens must concatenate back to every
    word, and their count must equal the DP's ntoks."""
    from luma_etl_data_platform_spark.operators.unigram import (
        viterbi_segment)
    df = spark.createDataFrame(
        [("the cat sat on the mat with a very long dictionary word",)],
        "text string")
    for r in viterbi_segment(df, "text").collect():
        assert "".join(r["toks"]) == r["word"]
        assert len(r["toks"]) == r["ntoks"]


def test_unigram_em_round_improves_and_converges(spark):
    """One EM round re-scores tokens from usage: the weighted total
    cost must not increase for any word re-segmented under its own
    usage-derived costs when the vocabulary shrinks to used tokens
    (per-word Viterbi optimality under the new costs); and a second
    round on this tiny corpus is a fixed point."""
    from luma_etl_data_platform_spark.operators.unigram import (
        viterbi_segment)
    df = spark.createDataFrame(
        [("abab abab abab abab cat cat the the zq",)], "text string")
    r1 = {r["word"]: r for r in
          viterbi_segment(df, "text", em_rounds=1).collect()}
    r2 = {r["word"]: r for r in
          viterbi_segment(df, "text", em_rounds=2).collect()}
    assert set(r1) == set(r2)
    for w in r1:
        assert list(r1[w]["toks"]) == list(r2[w]["toks"]), w
        assert r1[w]["cost"] == r2[w]["cost"], w
    # paths stay valid through EM
    for r in r1.values():
        assert "".join(r["toks"]) == r["word"]


def test_unigram_prune_schedule_caps_vocab_and_keeps_coverage(spark):
    """The explicit prune (vocab_target=) caps the multi-char
    vocabulary at the top-K by likelihood contribution, ALWAYS keeps
    every corpus character (fallback-costed when absent from usage),
    and the pruned segmentation still reconstructs every word."""
    from luma_etl_data_platform_spark.operators.unigram import (
        corpus_words, prune_cost_table, segmentation_cost_table,
        token_cost_table, viterbi_segment, _viterbi_core)
    df = spark.createDataFrame(
        [("abab abab abab cdcd cdcd efef ghgh the the quick brown",)],
        "text string")
    words = corpus_words(df, "text")
    seg0 = _viterbi_core(words, token_cost_table(words, 2))
    usage = segmentation_cost_table(seg0.localCheckpoint(eager=True))
    pruned = prune_cost_table(usage, words, keep_top=2)
    rows = pruned.collect()
    multi = [r for r in rows if len(r["token"]) > 1]
    singles = {r["token"] for r in rows if len(r["token"]) == 1}
    assert len(multi) == 2
    # top-2 by cnt * cost, tie on token string — deterministic
    scored = sorted(((r["cnt"] * r["cost"], r["token"]) for r in
                     usage.collect() if len(r["token"]) > 1),
                    key=lambda t: (-t[0], t[1]))
    assert sorted(m["token"] for m in multi) == sorted(
        t for _, t in scored[:2])
    # every corpus character present (coverage floor)
    corpus_chars = set("".join(
        r["word"] for r in words.select("word").collect()))
    assert corpus_chars <= singles
    # chars absent from usage carry the fallback cost, never NULL
    assert all(r["cost"] is not None for r in rows)
    # end-to-end: pruned segmentation still reconstructs every word
    seg = viterbi_segment(df, "text", em_rounds=2, vocab_target=2)
    for r in seg.collect():
        assert "".join(r["toks"]) == r["word"]


def test_sql_text_twins_match_column_builders(spark):
    """``portable_hash32_sql`` and ``micro_units_sql`` (SQL text, for
    one-call builders) compute exactly what their ``Column`` twins
    compute, so the conventions cannot drift apart."""
    from luma_etl_data_platform_spark.functions import vectors as V
    df = spark.createDataFrame(
        [(7, "x", [0.1234565, -2.5, 0.0, 1e-7]), (-3, "", [-0.0000005, 3.0, 9.99, -1.0])],
        "i long, s string, v array<double>")
    got = df.selectExpr(X.portable_hash32_sql("i") + " AS hi",
                        X.portable_hash32_sql("s", seed=3) + " AS hs",
                        V.micro_units_sql("v", 3) + " AS q").collect()
    want = df.select(X.portable_hash32(F.col("i")).alias("hi"),
                     X.portable_hash32(F.col("s"), seed=3).alias("hs"),
                     V.micro_units(F.col("v"), 3).alias("q")).collect()
    assert got == want
    assert [r.hi for r in got] == [X.portable_hash32_py(7), X.portable_hash32_py(-3)]
