"""Quality signals + benchmark decontamination."""

import pytest
from pyspark.sql import functions as F

from gbdc_spark.operators.quality import ngram_contamination, with_quality_signals


def test_quality_signals_hand_computed(spark):
    rows = [
        (1, "a b a b a b"),            # bigrams: 'a b' x3, 'b a' x2 -> top 3/5
        (2, "one two three four"),      # all distinct
        (3, "wait... more... 123 456 x"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r["doc_id"]: r for r in with_quality_signals(df).collect()}

    assert out[1]["top_bigram_frac"] == pytest.approx(3 / 5)
    assert out[1]["dup_word_frac"] == pytest.approx((6 - 2) / 6)
    assert out[2]["top_bigram_frac"] == pytest.approx(1 / 3)
    assert out[2]["dup_word_frac"] == 0.0
    assert out[2]["mean_word_len"] == pytest.approx((3 + 3 + 5 + 4) / 4)
    assert out[3]["ellipsis_line_frac"] == pytest.approx(2 / 5)
    assert out[3]["numeric_frac"] == pytest.approx(2 / 5)


def test_quality_signals_single_word_doc(spark):
    df = spark.createDataFrame([(1, "lonely")], "doc_id long, text string")
    r = with_quality_signals(df).collect()[0]
    assert r["top_bigram_frac"] == 1.0  # degenerate 1-word bigram
    assert r["dup_word_frac"] == 0.0
    assert r["mean_word_len"] == 6.0


def test_ngram_contamination_flags_shared_runs(spark):
    shared = "the quick brown fox jumps over the lazy dog today"  # 10 words
    corpus = spark.createDataFrame(
        [(1, "prefix words " + shared + " suffix here"),
         (2, "totally unrelated text with many distinct words in it ok"),
         (3, shared)],
        "doc_id long, text string",
    )
    bench = spark.createDataFrame(
        [(100, shared + " and some extra benchmark only words")],
        "doc_id long, text string",
    )
    got = {r["doc_id"]: r["n_hits"] for r in ngram_contamination(corpus, bench, n=8).collect()}
    assert set(got) == {1, 3}          # doc 2 untouched
    assert got[3] == 3                  # 10-word doc: 3 distinct 8-grams, all shared
    assert got[1] >= 3                  # superset doc shares at least those


def test_ngram_contamination_short_docs_no_crash(spark):
    corpus = spark.createDataFrame([(1, "too short")], "doc_id long, text string")
    bench = spark.createDataFrame([(2, "also short")], "doc_id long, text string")
    assert ngram_contamination(corpus, bench, n=8).collect() == []


def test_contamination_plan_broadcasts_benchmark(spark):
    corpus = spark.createDataFrame(
        [(i, f"word{i} " * 10) for i in range(50)], "doc_id long, text string"
    )
    bench = spark.createDataFrame([(99, "word1 " * 10)], "doc_id long, text string")
    plan = ngram_contamination(corpus, bench, n=8)._sc._jvm and \
        ngram_contamination(corpus, bench, n=8)._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan  # corpus side never shuffles for the join


def test_lm_perplexity_hand_computed(spark):
    # corpus: unigrams a:3 b:2 x:1, V=3; bigrams (a,b):2 (b,a):1
    from math import exp, log

    from gbdc_spark.operators.quality import lm_perplexity

    df = spark.createDataFrame(
        [(1, "a b a"), (2, "a b"), (3, "x")], "doc_id long, text string"
    )
    out = {r["doc_id"]: r for r in lm_perplexity(df).collect()}

    # doc1: P(b|a)=(2+1)/(3+3)=0.5, P(a|b)=(1+1)/(2+3)=0.4
    h1 = (-log(0.5) - log(0.4)) / 2
    assert out[1]["n_bigrams"] == 2
    assert out[1]["cross_entropy"] == pytest.approx(h1, abs=1e-6)
    assert out[1]["perplexity"] == pytest.approx(exp(h1), abs=1e-5)
    # doc2: single bigram (a,b) -> P=0.5
    assert out[2]["cross_entropy"] == pytest.approx(log(2), abs=1e-6)
    assert out[2]["perplexity"] == pytest.approx(2.0, abs=1e-6)
    # doc3: <2 words -> row kept, null score
    assert out[3]["n_bigrams"] is None
    assert out[3]["cross_entropy"] is None


def test_lm_perplexity_min_count_prunes_to_unseen_prob(spark):
    # pruned (b,a) falls back to the add-one unseen probability
    from math import log

    from gbdc_spark.operators.quality import lm_perplexity

    df = spark.createDataFrame(
        [(1, "a b a"), (2, "a b"), (3, "x")], "doc_id long, text string"
    )
    out = {r["doc_id"]: r for r in lm_perplexity(df, min_count=2).collect()}
    # doc1: P(b|a)=0.5 kept; (b,a) pruned -> (0+1)/(2+3)=0.2
    h1 = (-log(0.5) - log(0.2)) / 2
    assert out[1]["cross_entropy"] == pytest.approx(h1, abs=1e-6)


def test_lm_perplexity_plan_is_jvm_only(spark):
    from gbdc_spark.operators.quality import lm_perplexity

    df = spark.createDataFrame(
        [(i, f"w{i % 7} w{(i + 1) % 5} w{i % 3}") for i in range(40)],
        "doc_id long, text string",
    )
    plan = lm_perplexity(df)._jdf.queryExecution().executedPlan().toString()
    assert "BatchEvalPython" not in plan and "ArrowEval" not in plan


def test_lm_perplexity_broadcast_only_when_pruned(spark):
    # the broadcast hint is the OOM shape when the model is unpruned
    # (min_count=1: corpus-vocabulary-scale bigram table) — default
    # calls must fall back to the shuffle join; pruned calls broadcast
    from gbdc_spark.operators.quality import lm_perplexity

    df = spark.createDataFrame(
        [(i, f"w{i % 7} w{(i + 1) % 5} w{i % 3}") for i in range(40)],
        "doc_id long, text string",
    )
    def n_hints(qe):
        # ResolvedHint nodes in the analyzed plan (AQE may still
        # broadcast a tiny table at runtime — the HINT is the contract)
        return qe.analyzed().toString().count("ResolvedHint")

    pruned = lm_perplexity(df, min_count=2)._jdf.queryExecution()
    assert "BroadcastHashJoin" in pruned.executedPlan().toString()
    unpruned = lm_perplexity(df)._jdf.queryExecution()
    # exactly one hint remains unpruned: the 1-row vocab-size cross
    # join; the two MODEL tables must not be hinted
    assert n_hints(pruned) == n_hints(unpruned) + 2 == 3


def test_pii_scrub_counts_and_replaces(spark):
    from gbdc_spark.operators.quality import with_pii_scrub

    rows = [
        (1, "mail bob.smith@corp.example.com or 10.0.0.1 ssn 123-45-6789 end"),
        (2, "two mails a@b.io c.d@e.org and 255.255.255.255"),
        (3, "clean text with digits 1 -2 3 0 and word-dash-word"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r["doc_id"]: r for r in with_pii_scrub(df).collect()}
    assert (out[1]["n_pii_email"], out[1]["n_pii_ipv4"], out[1]["n_pii_ssn"]) == (1, 1, 1)
    assert out[1]["text_scrubbed"] == "mail <EMAIL> or <IP> ssn <SSN> end"
    assert (out[2]["n_pii_email"], out[2]["n_pii_ipv4"]) == (2, 1)
    assert out[2]["text_scrubbed"] == "two mails <EMAIL> <EMAIL> and <IP>"
    # CNF-ish digit runs and dashes must not false-positive
    assert (out[3]["n_pii_email"], out[3]["n_pii_ipv4"], out[3]["n_pii_ssn"]) == (0, 0, 0)
    assert out[3]["text_scrubbed"] == rows[2][1]


def test_pii_scrub_plan_is_jvm_only(spark):
    from gbdc_spark.operators.quality import with_pii_scrub

    df = spark.createDataFrame([(1, "x@y.zz")], "doc_id long, text string")
    plan = with_pii_scrub(df)._jdf.queryExecution().executedPlan().toString()
    assert "BatchEvalPython" not in plan and "ArrowEval" not in plan


def test_dsir_weights_prefers_target_like_docs(spark):
    from gbdc_spark.operators.quality import dsir_weights

    target = spark.createDataFrame(
        [(100 + i, "spark shuffle join agg") for i in range(4)],
        "doc_id long, text string",
    )
    corpus = spark.createDataFrame(
        [(1, "spark shuffle join scan"),
         (2, "banana apple pear plum")],
        "doc_id long, text string",
    )
    out = {r["doc_id"]: r for r in dsir_weights(corpus, target).collect()}
    assert out[1]["dsir_score"] > out[2]["dsir_score"]
    assert out[1]["n_words"] == 4 and out[2]["n_words"] == 4
    # target-like words carry positive log-ratio, unseen ones negative
    assert out[1]["dsir_score"] > 0 > out[2]["dsir_score"]


def test_dsir_weights_plan_is_jvm_broadcast(spark):
    from gbdc_spark.operators.quality import dsir_weights

    df = spark.createDataFrame([(1, "a b"), (2, "b c")],
                               "doc_id long, text string")
    plan = dsir_weights(df, df)._jdf.queryExecution().executedPlan().toString()
    assert "BatchEvalPython" not in plan and "ArrowEval" not in plan
    # the log-ratio table joins the exploded corpus via broadcast only
    assert "BroadcastHashJoin" in plan


def test_temperature_weights_math(spark):
    from gbdc_spark.operators.quality import temperature_weights

    rows = [(i, "s_big") for i in range(9)] + [(9, "s_small")]
    df = spark.createDataFrame(rows, "doc_id long, source string")
    out = {r["source"]: r for r in temperature_weights(df, temperature=2.0).collect()}
    assert out["s_big"]["n_docs"] == 9 and out["s_small"]["n_docs"] == 1
    # p^(1/2) renormalized: 0.9487.. / 1.2649.. = 0.75, 0.3162../1.2649.. = 0.25
    assert abs(out["s_big"]["p_sampled"] - 0.75) < 1e-6
    assert abs(out["s_small"]["p_sampled"] - 0.25) < 1e-6
    # low-resource source boosted, dominant source damped
    assert out["s_small"]["boost"] > 1 > out["s_big"]["boost"]
    assert abs(sum(r["p_sampled"] for r in out.values()) - 1.0) < 1e-5


def test_temperature_one_is_identity(spark):
    from gbdc_spark.operators.quality import temperature_weights

    rows = [(i, f"s{i % 3}") for i in range(12)]
    df = spark.createDataFrame(rows, "doc_id long, source string")
    for r in temperature_weights(df, temperature=1.0).collect():
        assert abs(r["p_sampled"] - r["p_raw"]) < 1e-6
        assert abs(r["boost"] - 1.0) < 1e-6


def test_token_ngram_contamination_hand_case(spark):
    from gbdc_spark.operators.quality import token_ngram_contamination

    corpus = spark.createDataFrame(
        [
            ("c1", list(range(10))),        # windows 0-7, 1-8, 2-9
            ("c2", list(range(100, 110))),  # disjoint from the eval set
            ("c3", [0, 1, 2, 3, 4, 5, 6, 7]),  # exactly one shared window
            ("c4", [0, 1, 2]),              # shorter than n -> no grams
        ],
        "doc_id string, tokens array<int>",
    )
    bench = spark.createDataFrame(
        [("b1", list(range(0, 9)))],        # windows 0-7 and 1-8
        "doc_id string, tokens array<int>",
    )
    out = {
        r["doc_id"]: r["n_hits"]
        for r in token_ngram_contamination(corpus, bench, n=8).collect()
    }
    assert out == {"c1": 2, "c3": 1}

    # the shuffle-join path (corpus-scale benchmark side, e.g.
    # split-leakage scans) is a physical-plan choice only: identical
    # output, and the broadcast hint really is gone from the plan
    shuffled = token_ngram_contamination(
        corpus, bench, n=8, broadcast_benchmark=False
    )
    assert {r["doc_id"]: r["n_hits"] for r in shuffled.collect()} == out
    hinted = token_ngram_contamination(corpus, bench, n=8)
    assert "Hint" in hinted._jdf.queryExecution().analyzed().toString()
    assert "Hint" not in shuffled._jdf.queryExecution().analyzed().toString()


def _rep_ref(text, ns_top=(2, 3, 4), ns_dup=(5, 10), sep="\n"):
    """Independent pure-Python reference for with_repetition_signals."""
    from collections import Counter

    out = {}
    total = max(len(text), 1)
    ws = text.split(" ")
    for kind, ns in (("top", ns_top), ("dup", ns_dup)):
        for n in ns:
            grams = (
                [" ".join(ws[i:i + n]) for i in range(len(ws) - n + 1)]
                if len(ws) >= n else []
            )
            c = Counter(grams)
            if kind == "top":
                if not grams:
                    out[f"top_{n}gram_char_frac"] = 0.0
                    continue
                best = max(c.values())
                g = min(g for g, v in c.items() if v == best)
                out[f"top_{n}gram_char_frac"] = round(best * len(g) / total, 6)
            else:
                out[f"dup_{n}gram_char_frac"] = round(
                    sum(v * len(g) for g, v in c.items() if v >= 2) / total, 6
                )
    lines = text.split(sep)
    c = Counter(lines)
    out["dup_line_frac"] = round((len(lines) - len(c)) / max(len(lines), 1), 6)
    lc = max(sum(len(x) for x in lines), 1)
    out["dup_line_char_frac"] = round(
        sum((v - 1) * len(x) for x, v in c.items()) / lc, 6
    )
    return out


def test_repetition_signals_hand_computed(spark):
    from gbdc_spark.operators.quality import with_repetition_signals

    rows = [
        (1, "a b a b a b"),      # 'a b' x3 of 5 bigrams, len 3 -> 9/11
        (2, "q\nq\nr r r\nq"),   # 3 of 4 lines are repeats of 'q'
        (3, "spam spam spam spam spam spam spam spam"),  # all-dup 5-grams
        (4, "t"),                # below every n: all gram signals 0
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r["doc_id"]: r.asDict() for r in with_repetition_signals(df).collect()}

    assert got[1]["top_2gram_char_frac"] == pytest.approx(9 / 11)
    assert got[2]["dup_line_frac"] == pytest.approx(2 / 4)
    assert got[2]["dup_line_char_frac"] == pytest.approx(2 / 8)
    # 4 overlapping 'spam spam spam spam spam' grams (len 24), all dup
    assert got[3]["dup_5gram_char_frac"] == pytest.approx(4 * 24 / 39)
    for k, v in got[4].items():
        if k not in ("doc_id", "text"):
            assert v == 0.0, k
    # every doc agrees with the independent reference on every signal
    for doc_id, text in rows:
        for k, v in _rep_ref(text).items():
            assert got[doc_id][k] == pytest.approx(v, abs=1e-6), (doc_id, k)


def test_repetition_signals_randomized_differential(spark):
    import random

    from gbdc_spark.operators.quality import with_repetition_signals

    rng = random.Random(42)
    vocab = ["aa", "b", "ccc", "dd", "e"]
    rows = []
    for i in range(60):
        n = rng.randint(1, 40)
        words = [rng.choice(vocab) for _ in range(n)]
        text = " ".join(words)
        if i % 3 == 0:  # inject line structure
            text = text.replace(" ", "\n", rng.randint(0, 3))
        rows.append((i, text))
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r["doc_id"]: r.asDict() for r in with_repetition_signals(df).collect()}
    for doc_id, text in rows:
        # line splitting first: the operator splits words on ' ' of the
        # raw text, so the reference must too
        for k, v in _rep_ref(text).items():
            assert got[doc_id][k] == pytest.approx(v, abs=1e-6), (doc_id, k)


def test_repetition_signals_plan_is_jvm_only(spark):
    from gbdc_spark.operators.quality import with_repetition_signals

    df = spark.createDataFrame([(1, "a b c")], "doc_id long, text string")
    plan = with_repetition_signals(df)._jdf.queryExecution().executedPlan().toString()
    assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan


def _tok_rep_ref(toks, ns_top=(2,), ns_dup=(5, 10)):
    from collections import Counter

    out = {}
    total = max(len(toks), 1)
    for kind, ns in (("top", ns_top), ("dup", ns_dup)):
        for n in ns:
            grams = [tuple(toks[i:i + n]) for i in range(len(toks) - n + 1)]
            c = Counter(grams)
            if kind == "top":
                best = max(c.values()) if grams else 0
                out[f"top_{n}tokgram_frac"] = round(best * n / total, 6)
            else:
                out[f"dup_{n}tokgram_frac"] = round(
                    sum(v for v in c.values() if v >= 2) * n / total, 6
                )
    return out


def test_token_repetition_signals_hand_and_differential(spark):
    import random

    from gbdc_spark.operators.quality import with_token_repetition_signals

    rng = random.Random(7)
    rows = [
        (1, [1, 2, 1, 2, 1, 2]),          # '1,2' x3 of 5 bigrams -> 6/6
        (2, [5] * 12),                     # every 5-gram duplicated
        (3, [1, 2, 3]),                    # below n=5: dup signals 0
        (4, [0]),
    ] + [
        (10 + i, [rng.randint(-9, 9) for _ in range(rng.randint(1, 50))])
        for i in range(40)
    ]
    df = spark.createDataFrame(rows, "doc_id long, tokens array<int>")
    got = {r["doc_id"]: r.asDict()
           for r in with_token_repetition_signals(df).collect()}
    assert got[1]["top_2tokgram_frac"] == pytest.approx(6 / 6)
    assert got[2]["dup_5tokgram_frac"] == pytest.approx(8 * 5 / 12)
    assert got[3]["dup_5tokgram_frac"] == 0.0
    for doc_id, toks in rows:
        for k, v in _tok_rep_ref(toks).items():
            assert got[doc_id][k] == pytest.approx(v, abs=1e-6), (doc_id, k)


def test_gopher_filter_flags_rejections(spark):
    from gbdc_spark.operators.quality import (
        GOPHER_MAX_DUP_NGRAM,
        GOPHER_MAX_TOP_NGRAM,
        gopher_filter,
    )

    # defaults cover the FULL published rule set, n=5..10 inclusive —
    # a subset (e.g. only {5, 10}) is strictly more permissive than
    # the cited Rae et al. 2021 Table A1 thresholds
    assert GOPHER_MAX_DUP_NGRAM == {5: 0.15, 6: 0.14, 7: 0.13,
                                    8: 0.12, 9: 0.11, 10: 0.10}

    rows = [
        (1, "spam spam spam spam spam spam spam spam"),  # repetitive
        # clean doc long enough that a count-1 top 2-gram is < 20% of
        # chars (on very short docs the rule rejects by construction)
        (2, "alpha beta gamma delta epsilon zeta eta theta iota kappa "
            "lambda mu nu xi omicron pi rho sigma tau upsilon phi chi "
            "psi omega one two three four five six seven eight nine "
            "ten eleven twelve thirteen fourteen fifteen sixteen"),
        # a doubled 6-gram inside otherwise-unique filler: dup_6gram
        # fraction trips 0.14 while dup_5 stays under 0.15 only via the
        # full-rule conjunction (every occurrence of contained 5-grams
        # duplicates too, so this doc fails both — what matters is the
        # flag recomputation below covering n=6..9)
        (3, "one two three four five six one two three four five six "
            "misc filler words here to pad the doc a bit more okay"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r["doc_id"]: r for r in gopher_filter(df).collect()}
    assert got[1]["gopher_pass"] is False
    assert got[2]["gopher_pass"] is True
    assert got[3]["gopher_pass"] is False
    # every thresholded signal column must exist (incl. n=6..9)
    for n in GOPHER_MAX_DUP_NGRAM:
        assert f"dup_{n}gram_char_frac" in got[1].asDict()
    # the flag must agree with recomputing the rule from the signals
    for r in got.values():
        expect = (
            all(r[f"top_{n}gram_char_frac"] <= t
                for n, t in GOPHER_MAX_TOP_NGRAM.items())
            and all(r[f"dup_{n}gram_char_frac"] <= t
                    for n, t in GOPHER_MAX_DUP_NGRAM.items())
            and r["dup_line_frac"] <= 0.30
            and r["dup_line_char_frac"] <= 0.20
        )
        assert r["gopher_pass"] == expect


def test_gopher_quality_signals_hand_computed(spark):
    from gbdc_spark.operators.quality import with_gopher_quality_signals

    rows = [
        (1, "the cat and the dog have fun with hats"),       # 9 words
        (2, "### ### ... more symbols ### here ..."),        # symbol-heavy
        (3, "- one\n- two\n- three\nplain"),                 # 3/4 bullets
        (4, "going on...\nand on...\nfine line\nplain"),     # 2/4 ellipsis
        (5, "123 456 789 abc"),                              # 1/4 alpha
        (6, ""),                                             # degenerate
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r["doc_id"]: r for r in with_gopher_quality_signals(df).collect()}

    r1 = got[1]
    assert r1["n_words"] == 9
    assert r1["mean_word_len"] == pytest.approx(30 / 9, abs=1e-6)
    # stopwords present: the, and, have, with -> 4 of the required 8
    assert r1["n_stopwords_present"] == 4
    assert r1["alpha_word_frac"] == 1.0
    assert r1["symbol_word_ratio"] == 0.0

    r2 = got[2]
    # 9 hashes + 2 "..." over 8 words
    assert r2["n_words"] == 8
    assert r2["symbol_word_ratio"] == pytest.approx(11 / 8, abs=1e-6)

    assert got[3]["bullet_line_frac"] == pytest.approx(0.75, abs=1e-6)
    assert got[4]["ellipsis_line_frac"] == pytest.approx(0.5, abs=1e-6)
    assert got[5]["alpha_word_frac"] == pytest.approx(0.25, abs=1e-6)

    r6 = got[6]  # "" splits to one zero-length word, one empty line
    assert r6["n_words"] == 1 and r6["mean_word_len"] == 0.0
    assert r6["alpha_word_frac"] == 0.0 and r6["n_stopwords_present"] == 0
    assert r6["bullet_line_frac"] == 0.0 and r6["ellipsis_line_frac"] == 0.0


def test_gopher_quality_filter_thresholds(spark):
    from gbdc_spark.operators.quality import gopher_quality_filter

    passing = ("the quick brown fox jumps over one lazy dog and then "
               "that same fox must have another go with renewed vigor "
               "because morning runs are what keep a fox nimble and "
               "ready for the long winter that will surely come with "
               "snow and ice and wind that howl across the open field")
    rows = [
        (1, passing),                                  # all bounds hold
        (2, "too short to have enough of the words"),  # < 50 words
        (3, " ".join(["zz"] * 60)),                    # mwl 2, no stopwords
        (4, passing + " " + "#" * 40),                 # symbol ratio > 0.1
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r["doc_id"]: r for r in gopher_quality_filter(df).collect()}
    assert got[1]["gopher_quality_pass"] is True
    assert got[2]["gopher_quality_pass"] is False
    assert got[3]["gopher_quality_pass"] is False
    assert got[4]["gopher_quality_pass"] is False
    # flag agrees with recomputation from the rounded signals
    for r in got.values():
        expect = (
            50 <= r["n_words"] <= 100_000
            and 3.0 <= r["mean_word_len"] <= 10.0
            and r["symbol_word_ratio"] <= 0.10
            and r["alpha_word_frac"] >= 0.80
            and r["n_stopwords_present"] >= 2
            and r["bullet_line_frac"] <= 0.90
            and r["ellipsis_line_frac"] <= 0.30
        )
        assert r["gopher_quality_pass"] == expect, r["doc_id"]


def test_gopher_quality_plan_is_jvm_projection(spark):
    # same contract as the repetition half: a shuffle-free projection,
    # no Python workers
    from gbdc_spark.operators.quality import gopher_quality_filter

    df = spark.createDataFrame(
        [(i, f"w{i} the and text") for i in range(20)],
        "doc_id long, text string",
    )
    plan = gopher_quality_filter(df)._jdf.queryExecution() \
        .executedPlan().toString()
    assert "Exchange" not in plan
    assert "BatchEvalPython" not in plan and "ArrowEval" not in plan


def test_repetition_signals_hypothesis_adversarial(spark):
    # batched hypothesis: generate many adversarial texts (tie-prone
    # two-letter vocab, double spaces -> empty words, newlines), run
    # ONE Spark job over the whole batch, compare every doc to the
    # independent reference
    from hypothesis import given, settings, strategies as st

    texts = st.lists(
        st.text(alphabet=["a", "b", " ", "\n"], min_size=0, max_size=60),
        min_size=1,
        max_size=12,
    )
    collected = []

    @settings(max_examples=25, deadline=None)
    @given(texts)
    def gather(batch):
        collected.extend(batch)

    gather()
    rows = [(i, t) for i, t in enumerate(collected)]
    from gbdc_spark.operators.quality import with_repetition_signals

    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r["doc_id"]: r.asDict()
           for r in with_repetition_signals(df).collect()}
    for doc_id, text in rows:
        for k, v in _rep_ref(text).items():
            assert got[doc_id][k] == pytest.approx(v, abs=1e-6), \
                (repr(text), k, got[doc_id][k], v)


def test_c4_clean_lines_hand_computed(spark):
    from gbdc_spark.operators.quality import c4_clean_lines

    rows = [
        # kept: ends in '.', 3 words; dropped: no terminal punct;
        # dropped: 2 words; dropped: javascript; kept: ends in '?'
        (1, "the cat sat.\nno punct here\nshort one.\n"
            "please enable JavaScript now.\nis that so?"),
        (2, ""),                        # one empty line, dropped
        (3, 'he said "stop".\nshe said "go now"'),  # 2nd ends in quote
        (4, "   \t .\nwords only two."),  # whitespace line: 1 word '.'
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r["doc_id"]: r for r in c4_clean_lines(df).collect()}

    r1 = got[1]
    assert r1["c4_text"] == "the cat sat.\nis that so?"
    assert r1["n_lines"] == 5 and r1["n_lines_kept"] == 2

    assert got[2]["c4_text"] == "" and got[2]["n_lines"] == 1
    assert got[2]["n_lines_kept"] == 0

    r3 = got[3]  # both lines end in terminal punct ('.', '"'), 3 words
    assert r3["n_lines_kept"] == 2

    r4 = got[4]  # '   \t .' = 1 word after \s+ split -> dropped
    assert r4["c4_text"] == "words only two." and r4["n_lines_kept"] == 1


def test_c4_signals_and_filter(spark):
    from gbdc_spark.operators.quality import c4_filter, with_c4_signals

    five = "one two three.\n" * 5            # 5 sentences, passes
    rows = [
        (1, five.rstrip("\n")),
        (2, five.rstrip("\n") + " {"),        # brace page
        (3, "Lorem IPSUM dolor sit.\n" + five.rstrip("\n")),
        (4, "just one sentence here."),       # < 5 sentences
        (5, "what is this?! is it two?\n" + "a b c.\n" * 3),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r["doc_id"]: r for r in c4_filter(df).collect()}

    assert got[1]["n_sentences"] == 5 and got[1]["c4_pass"] is True
    # '{' is on the kept-line-breaking trailing fragment but the brace
    # rule reads the ORIGINAL page
    assert got[2]["has_curly_brace"] is True and got[2]["c4_pass"] is False
    assert got[3]["has_lorem_ipsum"] is True and got[3]["c4_pass"] is False
    assert got[4]["n_sentences"] == 1 and got[4]["c4_pass"] is False
    # '?!' + '?' = 3 terminators on line 1, plus 3 periods
    assert got[5]["n_sentences"] == 6 and got[5]["c4_pass"] is True

    # blocklist: whole whitespace token, case-insensitive, original
    # page; punctuation is not stripped ('three.' does not hit 'three')
    bl = with_c4_signals(df, blocklist=("LOREM", "dolor", "three")).collect()
    hits = {r["doc_id"]: r["n_blocklist_hits"] for r in bl}
    assert hits[3] == 2          # 'Lorem' and 'dolor'; 'three.' no hit
    assert hits[1] == 0 and hits[4] == 0
    flagged = {r["doc_id"]: r["c4_pass"]
               for r in c4_filter(df, blocklist=("two",)).collect()}
    assert flagged[1] is False   # blocklisted word kills the page

    # flag agrees with recomputation from the signal columns
    for r in got.values():
        expect = (
            r["n_sentences"] >= 5
            and not r["has_curly_brace"]
            and not r["has_lorem_ipsum"]
            and r["n_blocklist_hits"] == 0
        )
        assert r["c4_pass"] == expect


def test_ccnet_buckets_hand_computed(spark):
    # one group, 7 scored rows: 3*rn<=7 -> head {1,2},
    # 3*rn<=14 -> middle {3,4}, tail {5,6,7}; null score -> null bucket
    from gbdc_spark.operators.quality import ccnet_buckets

    rows = [(i, "en", float(i)) for i in range(1, 8)] + [(99, "en", None)]
    df = spark.createDataFrame(
        rows, "doc_id long, lang string, perplexity double"
    )
    out = {
        r["doc_id"]: r["ppl_bucket"]
        for r in ccnet_buckets(df, bucketed=False).collect()
    }
    assert out == {
        1: "head", 2: "head", 3: "middle", 4: "middle",
        5: "tail", 6: "tail", 7: "tail", 99: None,
    }


def test_ccnet_buckets_per_group_and_tiebreak(spark):
    # equal scores order by key; groups bucket independently
    from gbdc_spark.operators.quality import ccnet_buckets

    rows = [
        (1, "en", 5.0), (2, "en", 5.0), (3, "en", 5.0),
        (4, "fr", 9.0), (5, "fr", 1.0), (6, "fr", 4.0),
    ]
    df = spark.createDataFrame(
        rows, "doc_id long, lang string, perplexity double"
    )
    out = {
        r["doc_id"]: r["ppl_bucket"]
        for r in ccnet_buckets(df, bucketed=False).collect()
    }
    assert out == {
        1: "head", 2: "middle", 3: "tail",
        5: "head", 6: "middle", 4: "tail",
    }


def test_ccnet_buckets_bucketed_path_identical(spark):
    # the two-phase monotone-quantization rank must equal the window
    # path row-for-row — incl. a NULL group, NULL scores, negative
    # scores (floor on negatives), and heavy score ties across the
    # quantization boundary
    from gbdc_spark.operators.quality import ccnet_buckets

    rows = []
    for i in range(300):
        lang = [None, "en", "fr", "de"][i % 4]
        ppl = [None, -3.7, 0.0625, 0.0625, 5.25, 5.3, 120.9][i % 7]
        rows.append((i, lang, ppl))
    df = spark.createDataFrame(
        rows, "doc_id long, lang string, perplexity double"
    )
    plain = sorted(
        tuple(r) for r in ccnet_buckets(df, bucketed=False).collect()
    )
    two_phase = sorted(
        tuple(r) for r in ccnet_buckets(df, bucketed=True).collect()
    )
    assert plain == two_phase


def test_ccnet_buckets_auto_gate_and_hint(spark):
    from gbdc_spark.operators.quality import ccnet_buckets

    df = spark.createDataFrame(
        [(i, "en", float(i)) for i in range(30)],
        "doc_id long, lang string, perplexity double",
    )
    # hint skips the probe and pins the path; tiny input -> plain path
    out = ccnet_buckets(df, max_group_rows=30)
    assert out.count() == 30
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "BatchEvalPython" not in plan and "ArrowEval" not in plan


def test_temperature_mix_hand_computed(spark):
    import hashlib

    from gbdc_spark.operators.quality import temperature_mix

    # 8 docs src a, 2 docs src b, T=2: p_a=0.8, p_b=0.2
    rows = [(i, "a") for i in range(8)] + [(i, "b") for i in range(8, 10)]
    df = spark.createDataFrame(rows, "doc_id long, source string")
    out = {r["doc_id"]: r for r in temperature_mix(df, temperature=2.0).collect()}

    import math

    z = 0.8 ** 0.5 + 0.2 ** 0.5
    boost_a = round((0.8 ** 0.5 / z) / 0.8, 6)
    boost_b = round((0.2 ** 0.5 / z) / 0.2, 6)
    assert out[0]["boost"] == pytest.approx(boost_a)
    assert out[9]["boost"] == pytest.approx(boost_b)

    def u32(k):
        return int(hashlib.md5(f"tmix:{k}".encode()).hexdigest()[:8], 16)

    for i, src in rows:
        b = boost_a if src == "a" else boost_b
        base = math.floor(b)
        thr = math.floor((b - base) * (1 << 32))
        exp = base + (1 if u32(i) < thr else 0)
        assert out[i]["n_copies"] == exp, (i, src, b)
    # downsampled source can drop docs; upsampled source keeps >= 1
    assert all(out[i]["n_copies"] >= 1 for i in (8, 9))


def test_temperature_mix_expectation_tracks_share(spark):
    # at corpus scale the copy totals approximate the temperature share
    from gbdc_spark.operators.quality import temperature_mix

    rows = [(i, "big" if i < 900 else "small") for i in range(1000)]
    df = spark.createDataFrame(rows, "doc_id long, source string")
    out = temperature_mix(df, temperature=3.0)
    import pyspark.sql.functions as F

    tot = {
        r["source"]: r["copies"]
        for r in out.groupBy("source")
        .agg(F.sum("n_copies").alias("copies"))
        .collect()
    }
    z = 0.9 ** (1 / 3) + 0.1 ** (1 / 3)
    share_small = (0.1 ** (1 / 3)) / z
    got_share = tot["small"] / (tot["small"] + tot["big"])
    assert abs(got_share - share_small) < 0.03
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "BatchEvalPython" not in plan and "ArrowEval" not in plan


def test_percentile_gate_hand_computed(spark):
    # one group, 10 scored rows, keep top 20% by score desc:
    # ranks 1..10 by score desc -> keep iff 100*rn <= 20*10 -> rn in {1,2}
    from gbdc_spark.operators.quality import percentile_gate

    rows = [(i, "en", float(i)) for i in range(1, 11)] + [(99, "en", None)]
    df = spark.createDataFrame(rows, "doc_id long, source string, score double")
    out = {
        r["doc_id"]: r["keep"]
        for r in percentile_gate(
            df, "score", "source", keep_pct=20, bucketed=False
        ).collect()
    }
    assert out[10] and out[9]                 # the two highest scores
    assert not any(out[i] for i in range(1, 9))
    assert out[99] is None                    # NULL score -> NULL flag


def test_percentile_gate_per_group_ties_and_floor(spark):
    from gbdc_spark.operators.quality import percentile_gate

    rows = [
        # group en: 4 rows, keep_pct=50 -> top 2; tie at 7.0 -> smaller key
        (1, "en", 7.0), (2, "en", 7.0), (3, "en", 7.0), (4, "en", 1.0),
        # group fr: 1 row, keep_pct=50 -> floor keeps nothing
        (5, "fr", 100.0),
        # NULL group is a legal group
        (6, None, 3.0), (7, None, 2.0),
    ]
    df = spark.createDataFrame(rows, "doc_id long, source string, score double")
    out = {
        r["doc_id"]: r["keep"]
        for r in percentile_gate(
            df, "score", "source", keep_pct=50, bucketed=False
        ).collect()
    }
    assert out == {1: True, 2: True, 3: False, 4: False,
                   5: False, 6: True, 7: False}


def test_percentile_gate_ascending_and_bucketed_identical(spark):
    # descending=False keeps the LOWEST scores (perplexity-style);
    # the two-phase path must equal the window path row-for-row
    from gbdc_spark.operators.quality import percentile_gate

    rows = []
    for i in range(300):
        src = [None, "a", "b", "c"][i % 4]
        sc = [None, -3.7, 0.0625, 0.0625, 5.25, 5.3, 120.9][i % 7]
        rows.append((i, src, sc))
    df = spark.createDataFrame(rows, "doc_id long, source string, score double")
    for desc in (True, False):
        plain = sorted(
            tuple(r)
            for r in percentile_gate(
                df, "score", "source", keep_pct=30,
                descending=desc, bucketed=False,
            ).collect()
        )
        two_phase = sorted(
            tuple(r)
            for r in percentile_gate(
                df, "score", "source", keep_pct=30,
                descending=desc, bucketed=True,
            ).collect()
        )
        assert plain == two_phase
    # sanity: ascending keeps the lowest
    low = {
        r["doc_id"]: r["keep"]
        for r in percentile_gate(
            spark.createDataFrame(
                [(i, "x", float(i)) for i in range(1, 11)],
                "doc_id long, source string, score double",
            ),
            "score", "source", keep_pct=20, descending=False, bucketed=False,
        ).collect()
    }
    assert low[1] and low[2] and not any(low[i] for i in range(3, 11))


def test_percentile_gate_rejects_bad_pct(spark):
    from gbdc_spark.operators.quality import percentile_gate

    df = spark.createDataFrame([(1, "a", 1.0)], "doc_id long, source string, score double")
    import pytest as _pt
    with _pt.raises(ValueError):
        percentile_gate(df, "score", "source", keep_pct=0)
    with _pt.raises(ValueError):
        percentile_gate(df, "score", "source", keep_pct=101)


def test_logreg_langid_matches_numpy_trajectory(spark):
    import numpy as np
    from gbdc_spark.operators.quality import logreg_langid
    from gbdc_spark.operators.text import STOPWORDS

    rows = [
        (0, "the cat and the dog in a house", "en"),
        (1, "is it for on the a to of and", "en"),
        (2, "zz qq ww ee rr tt yy", "fr"),
        (3, "lorem ipsum dolor sit amet foo", "de"),
        (4, "the the the and and of", "en"),
        (5, "uno dos tres cuatro cinco", "es"),
        (6, "a b c d e f g h", "fr"),
        (7, "to be or not to be is it", "en"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string, lang string")
    got = {r["doc_id"]: r for r in logreg_langid(docs, epochs=3).collect()}

    # replicate the exact trajectory in numpy
    X, y = [], []
    for _, text, lang in rows:
        ws = text.split(" ")
        X.append([
            float(len(ws)),
            sum(len(w) for w in ws) / len(ws),
            sum(w in STOPWORDS for w in ws) / len(ws),
            float(len(text)),
        ])
        y.append(1.0 if lang == "en" else 0.0)
    X, y = np.array(X), np.array(y)
    Xs = (X - X.mean(0)) / X.std(0)
    Xb = np.hstack([Xs, np.ones((len(y), 1))])
    w = np.zeros(5)
    for _ in range(3):
        p = 1 / (1 + np.exp(-(Xb @ w)))
        w = w - (Xb.T @ (p - y)) / len(y)
    score = np.round(1 / (1 + np.exp(-(Xb @ w))), 6)
    for i, (doc_id, *_rest) in enumerate(rows):
        assert got[doc_id]["score"] == score[i]
        assert got[doc_id]["pred"] == (score[i] >= 0.5)
    # training separates the classes on this stopword-separable fixture
    en = [got[d]["score"] for d, _, l in rows if l == "en"]
    other = [got[d]["score"] for d, _, l in rows if l != "en"]
    assert min(en) > max(other)


def test_binary_auc_hand_computed_with_ties(spark):
    from gbdc_spark.operators.quality import binary_auc

    # scores: 0.1(n), 0.4(p), 0.4(n), 0.8(p) — tie at 0.4 straddles
    # classes; avg ranks: 1, 2.5, 2.5, 4 -> sum ranks of pos = 6.5
    # AUC = (6.5 - 2*3/2) / (2*2) = 3.5/4 = 0.875
    df = spark.createDataFrame(
        [(0.1, 0.0), (0.4, 1.0), (0.4, 0.0), (0.8, 1.0)],
        "score double, y double",
    )
    row = binary_auc(df).collect()[0]
    assert row["n_pos"] == 2 and row["n_neg"] == 2
    assert row["auc"] == 0.875
    # perfect separation -> 1.0; reversed -> 0.0
    perfect = spark.createDataFrame(
        [(0.9, 1.0), (0.8, 1.0), (0.2, 0.0)], "score double, y double"
    )
    assert binary_auc(perfect).collect()[0]["auc"] == 1.0
    # single-class input -> NULL (undefined)
    onecls = spark.createDataFrame(
        [(0.9, 1.0), (0.2, 1.0)], "score double, y double"
    )
    assert binary_auc(onecls).collect()[0]["auc"] is None


def test_calibration_bins_hand_computed(spark):
    from gbdc_spark.operators.quality import calibration_bins

    df = spark.createDataFrame(
        [(0.05, 0.0), (0.08, 0.0), (0.55, 1.0), (0.58, 0.0), (1.0, 1.0)],
        "score double, y double",
    )
    out = {r["bin"]: r for r in calibration_bins(df).collect()}
    assert out[0]["n"] == 2 and out[0]["pos_rate"] == 0.0
    assert out[5]["n"] == 2 and out[5]["pos_rate"] == 0.5
    assert out[5]["mean_score"] == round((0.55 + 0.58) / 2, 6)
    # score exactly 1.0 clamps into the last bin, not bin 10
    assert out[9]["n"] == 1 and out[9]["pos_rate"] == 1.0
    assert set(out) == {0, 5, 9}


def test_binary_ap_hand_computed(spark):
    from gbdc_spark.operators.quality import binary_ap

    # scores desc: 0.9(p), 0.7(n), 0.5(p), 0.3(n)
    # cuts: tp1/cn1 -> dR=1/2 P=1; cut2 P=1/2 dR=0; cut3 tp2/cn3 dR=1/2
    # P=2/3; AP = 0.5*1 + 0.5*(2/3) = 5/6
    df = spark.createDataFrame(
        [(0.9, 1.0), (0.7, 0.0), (0.5, 1.0), (0.3, 0.0)],
        "score double, y double",
    )
    row = binary_ap(df).collect()[0]
    assert row["n_pos"] == 2 and row["n_neg"] == 2
    assert row["ap"] == round(5 / 6, 6)
    # ties straddling classes grouped at one threshold:
    # 0.4: n=2 np=1 -> ctp=1 cn=2 -> AP = (1*(1/2))/1 = 0.5
    tied = spark.createDataFrame(
        [(0.4, 1.0), (0.4, 0.0)], "score double, y double"
    )
    assert binary_ap(tied).collect()[0]["ap"] == 0.5
    # no positives -> NULL
    neg = spark.createDataFrame([(0.9, 0.0)], "score double, y double")
    assert binary_ap(neg).collect()[0]["ap"] is None


def test_kn_perplexity_hand_computed(spark):
    # bigrams (a,b):2 (b,a):1; hist a:(c1h 2, fw 1) b:(1, 1);
    # cont a:1 b:1; T=2
    from math import exp, log

    from gbdc_spark.operators.quality import kn_perplexity

    df = spark.createDataFrame(
        [(1, "a b a"), (2, "a b"), (3, "x")], "doc_id long, text string"
    )
    out = {r["doc_id"]: r for r in kn_perplexity(df).collect()}
    p_ba = (2 - 0.75) / 2 + (0.75 * 1 / 2) * (1 / 2)  # P(b|a) = 0.8125
    p_ab = (1 - 0.75) / 1 + (0.75 * 1 / 1) * (1 / 2)  # P(a|b) = 0.625
    h1 = (-log(p_ba) - log(p_ab)) / 2
    assert out[1]["n_bigrams"] == 2
    assert out[1]["cross_entropy"] == pytest.approx(h1, abs=1e-6)
    assert out[1]["perplexity"] == pytest.approx(exp(h1), abs=1e-5)
    assert out[2]["cross_entropy"] == pytest.approx(-log(p_ba), abs=1e-6)
    assert out[3]["n_bigrams"] is None
    assert out[3]["cross_entropy"] is None


def test_kn_perplexity_prune_backoff_branches(spark):
    # min_count=2 prunes (a,c) and every x-bigram: exercises all three
    # fallbacks — hit, pruned-pair (lam*Pcont), pruned-history (Pcont),
    # and the pruned-continuation 1/T inside each
    from math import log

    from gbdc_spark.operators.quality import kn_perplexity

    df = spark.createDataFrame(
        [(1, "a b a b a c"), (2, "x y")], "doc_id long, text string"
    )
    out = {
        r["doc_id"]: r for r in kn_perplexity(df, min_count=2).collect()
    }
    # model: bc {(a,b):2,(b,a):2}; hist a:(2,1) b:(2,1); cont a:1 b:1; T=2
    p_hit_ab = (2 - 0.75) / 2 + (0.75 * 1 / 2) * (1 / 2)
    p_hit_ba = p_hit_ab
    p_ac = (0.75 * 1 / 2) * (1 / 2)  # w1 kept, pair pruned -> lam*Pcont(c)=lam/T
    h1 = (
        -log(p_hit_ab) * 2 - log(p_hit_ba) * 2 - log(p_ac)
    ) / 5
    assert out[1]["cross_entropy"] == pytest.approx(h1, abs=1e-6)
    # doc2 (x,y): x has no surviving history -> Pcont(y) -> 1/T
    assert out[2]["cross_entropy"] == pytest.approx(log(2), abs=1e-6)


def test_kn_perplexity_plan_is_jvm_only(spark):
    from gbdc_spark.operators.quality import kn_perplexity

    df = spark.createDataFrame(
        [(i, f"w{i % 7} w{(i + 1) % 5} w{i % 3}") for i in range(40)],
        "doc_id long, text string",
    )
    plan = kn_perplexity(df)._jdf.queryExecution().executedPlan().toString()
    assert "BatchEvalPython" not in plan and "ArrowEval" not in plan


def test_domain_weights_sum_and_ordering(spark):
    from gbdc_spark.operators.quality import domain_weights

    rows = []
    # domain B's docs use rare bigrams -> higher self-LM cross-entropy
    for i in range(12):
        rows.append((i, "A", "a b a b a b a b"))
    for i in range(12, 24):
        rows.append((i, "B", f"x{i} y{i} z{i} w{i}"))
    df = spark.createDataFrame(rows, "doc_id long, source string, text string")
    out = {r["source"]: r for r in
           domain_weights(df, min_count=1, smoothing=0.3).collect()}
    assert set(out) == {"A", "B"}
    total = sum(r["weight"] for r in out.values())
    assert total == pytest.approx(1.0, abs=1e-5)
    # the hard (high-loss) domain gets the larger weight
    assert out["B"]["ce"] > out["A"]["ce"]
    assert out["B"]["weight"] > out["A"]["weight"]
    # smoothing floor: no domain below s/K
    for r in out.values():
        assert r["weight"] >= 0.3 / 2 - 1e-9


def test_domain_weights_uniform_when_fully_smoothed(spark):
    from gbdc_spark.operators.quality import domain_weights

    df = spark.createDataFrame(
        [(i, f"s{i % 3}", "a b c a b") for i in range(9)],
        "doc_id long, source string, text string",
    )
    out = domain_weights(df, min_count=1, smoothing=1.0).collect()
    assert all(r["weight"] == pytest.approx(1 / 3, abs=1e-6) for r in out)


def test_charset_signals_hand_computed(spark):
    from gbdc_spark.operators.quality import charset_filter, with_charset_signals

    rows = [
        (1, "clean ascii text."),
        (2, "café �� broken"),          # 2 U+FFFD + 1 é
        (3, "bin\x01\x02ary\x7fspill"),
        (4, "padded      out   \t\t  "),
        (5, ""),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r["doc_id"]: r for r in with_charset_signals(df).collect()}

    n1 = len("clean ascii text.")
    assert out[1]["replacement_char_frac"] == 0.0
    assert out[1]["control_char_frac"] == 0.0
    assert out[1]["non_ascii_frac"] == 0.0
    assert out[1]["whitespace_frac"] == pytest.approx(round(2 / n1, 6))
    assert out[1]["max_ws_run"] == 1

    n2 = len("café �� broken")
    assert out[2]["replacement_char_frac"] == pytest.approx(round(2 / n2, 6))
    assert out[2]["non_ascii_frac"] == pytest.approx(round(3 / n2, 6))

    n3 = len("bin\x01\x02ary\x7fspill")
    assert out[3]["control_char_frac"] == pytest.approx(round(3 / n3, 6))

    n4 = len("padded      out   \t\t  ")
    assert out[4]["whitespace_frac"] == pytest.approx(round(13 / n4, 6))
    assert out[4]["max_ws_run"] == 7  # "   \t\t  " tail run

    # empty text: clamped denominator, zero signals, zero run
    assert out[5]["whitespace_frac"] == 0.0
    assert out[5]["max_ws_run"] == 0

    flags = {r["doc_id"]: r["charset_pass"] for r in charset_filter(df).collect()}
    assert flags == {1: True, 2: False, 3: False, 4: False, 5: True}


def test_charset_filter_thresholds_use_rounded_columns(spark):
    from gbdc_spark.operators.quality import charset_filter

    # a doc whose control fraction rounds to exactly the threshold
    # passes: the flag gates the ROUNDED column, not the raw ratio
    text = "x" * 999 + "\x01"
    df = spark.createDataFrame([(1, text)], "doc_id long, text string")
    r = charset_filter(df, max_control_frac=0.001).collect()[0]
    assert r["control_char_frac"] == 0.001
    assert r["charset_pass"] is True


def test_charset_signals_plan_is_jvm_only(spark):
    from gbdc_spark.operators.quality import with_charset_signals

    df = spark.createDataFrame([(1, "a b")], "doc_id long, text string")
    plan = with_charset_signals(df)._jdf.queryExecution().executedPlan().toString()
    assert "ArrowEval" not in plan and "BatchEval" not in plan


def test_token_lm_perplexity_matches_text_lm_on_same_units(spark):
    # the token variant is the SAME model family: mapping words to
    # distinct ids must reproduce lm_perplexity's scores exactly
    from gbdc_spark.operators.quality import lm_perplexity, token_lm_perplexity

    text = spark.createDataFrame(
        [(1, "a b a"), (2, "a b"), (3, "x")], "doc_id long, text string"
    )
    toks = spark.createDataFrame(
        [(1, [7, 3, 7]), (2, [7, 3]), (3, [9])],
        "doc_id long, tokens array<int>",
    )
    want = {r["doc_id"]: r for r in lm_perplexity(text).collect()}
    got = {r["doc_id"]: r for r in token_lm_perplexity(toks).collect()}
    for d in (1, 2):
        assert got[d]["n_bigrams"] == want[d]["n_bigrams"]
        assert got[d]["cross_entropy"] == pytest.approx(
            want[d]["cross_entropy"], abs=1e-6
        )
        assert got[d]["perplexity"] == pytest.approx(
            want[d]["perplexity"], abs=1e-6
        )
    assert got[3]["n_bigrams"] is None and got[3]["cross_entropy"] is None


def test_token_lm_perplexity_hand_computed(spark):
    # unigrams 5:2 0:3 -8:1, V=3; bigrams (5,0):1 (0,5):1 (5,-8):1 (-8,0):1
    from math import log

    from gbdc_spark.operators.quality import token_lm_perplexity

    df = spark.createDataFrame(
        [(1, [5, 0, 5, -8, 0]), (2, [0])],
        "doc_id long, tokens array<int>",
    )
    out = {r["doc_id"]: r for r in token_lm_perplexity(df).collect()}
    h1 = (
        -log((1 + 1) / (2 + 3))   # P(0|5)
        - log((1 + 1) / (3 + 3))  # P(5|0)
        - log((1 + 1) / (2 + 3))  # P(-8|5)
        - log((1 + 1) / (1 + 3))  # P(0|-8)
    ) / 4
    assert out[1]["n_bigrams"] == 4
    assert out[1]["cross_entropy"] == pytest.approx(h1, abs=1e-6)
    assert out[2]["n_bigrams"] is None


def test_token_lm_perplexity_plan_is_jvm_only(spark):
    from gbdc_spark.operators.quality import token_lm_perplexity

    df = spark.createDataFrame([(1, [1, 2])], "doc_id long, tokens array<int>")
    plan = (
        token_lm_perplexity(df, min_count=2)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "ArrowEval" not in plan and "BatchEval" not in plan


def _unimax_greedy(sizes: dict, budget: int, max_epochs: int) -> dict:
    """Reference greedy water-filling loop (the paper's shape):
    ascending-capacity scan decides which sources bind their repeat
    cap (exact integer comparison cap*left <= remaining); the
    survivors split the remainder evenly, floored to integer units —
    the operator's documented quantization."""
    import math

    caps = sorted(((max_epochs * n, s) for s, n in sizes.items()))
    out = {}
    remaining = budget
    left = len(caps)
    uncapped = []
    for cap, s in caps:
        # once the even share can't cover a cap, no later (>=) cap
        # binds either: water-filling caps a PREFIX of the ascending
        # order, so the first failure ends the capping scan
        if not uncapped and cap * left <= remaining:
            out[s] = cap
            remaining -= cap
        else:
            uncapped.append(s)
        left -= 1
    for s in uncapped:
        out[s] = math.floor(remaining / len(uncapped))
    return out


def test_unimax_weights_matches_greedy_loop(spark):
    from gbdc_spark.operators.quality import unimax_weights

    sizes = {"a": 100, "b": 10, "c": 1, "d": 40}
    rows = [(f"{s}{i}", s) for s, n in sizes.items() for i in range(n)]
    df = spark.createDataFrame(rows, "doc_id string, source string")
    budget, me = 120, 4
    exp = _unimax_greedy(sizes, budget, me)
    got = {
        r["source"]: r
        for r in unimax_weights(df, budget=budget, max_epochs=me).collect()
    }
    for s, n in sizes.items():
        assert got[s]["size"] == n
        assert got[s]["capacity"] == me * n
        assert got[s]["allocated"] == exp[s], (s, got[s], exp[s])
        assert got[s]["epochs"] == pytest.approx(
            round(exp[s] / n, 6), abs=1e-9
        )
    total = sum(r["allocated"] for r in got.values())
    assert total <= min(budget, me * sum(sizes.values()))


def test_unimax_weights_all_capped_when_budget_exceeds_capacity(spark):
    from gbdc_spark.operators.quality import unimax_weights

    rows = [(i, "a") for i in range(5)] + [(i, "b") for i in range(5, 8)]
    df = spark.createDataFrame(rows, "doc_id long, source string")
    out = {r["source"]: r for r in
           unimax_weights(df, budget=10_000, max_epochs=2).collect()}
    assert all(r["is_capped"] for r in out.values())
    assert out["a"]["allocated"] == 10 and out["b"]["allocated"] == 6
    assert out["a"]["epochs"] == 2.0 and out["b"]["epochs"] == 2.0


def test_unimax_weights_uniform_when_no_cap_binds(spark):
    from gbdc_spark.operators.quality import unimax_weights

    rows = [(i, "a") for i in range(50)] + [(i, "b") for i in range(50, 150)]
    df = spark.createDataFrame(rows, "doc_id long, source string")
    out = {r["source"]: r for r in
           unimax_weights(df, budget=60, max_epochs=4).collect()}
    assert not any(r["is_capped"] for r in out.values())
    assert out["a"]["allocated"] == 30 and out["b"]["allocated"] == 30


def test_unimax_weights_size_col_budgets_in_tokens(spark):
    from gbdc_spark.operators.quality import unimax_weights

    rows = [(1, "a", 70), (2, "a", 30), (3, "b", 10)]
    df = spark.createDataFrame(rows, "doc_id long, source string, n_tok long")
    out = {r["source"]: r for r in
           unimax_weights(df, budget=60, max_epochs=2,
                          size_col="n_tok").collect()}
    # capacities: a=200, b=20; b capped (20*2=40 <= 60), a gets 40
    assert out["b"]["is_capped"] and out["b"]["allocated"] == 20
    assert not out["a"]["is_capped"] and out["a"]["allocated"] == 40
    assert out["b"]["epochs"] == 2.0
    assert out["a"]["epochs"] == pytest.approx(0.4)


def test_unimax_weights_property_vs_greedy(spark):
    from gbdc_spark.operators.quality import unimax_weights

    import itertools

    cases = [
        ({"a": 1, "b": 1, "c": 1}, 2, 3),
        ({"a": 7, "b": 7, "c": 3}, 21, 2),
        ({"a": 13, "b": 2, "c": 2, "d": 90, "e": 5}, 77, 3),
        ({"a": 4, "b": 4}, 8, 1),
        ({"a": 1000, "b": 1}, 500, 10),
    ]
    for sizes, budget, me in cases:
        rows = [(f"{s}{i}", s) for s, n in sizes.items() for i in range(n)]
        df = spark.createDataFrame(rows, "doc_id string, source string")
        exp = _unimax_greedy(sizes, budget, me)
        got = {r["source"]: r["allocated"] for r in
               unimax_weights(df, budget=budget, max_epochs=me).collect()}
        assert got == exp, (sizes, budget, me, got, exp)


def test_unimax_mix_copy_counts_follow_contract(spark):
    import hashlib
    import math

    from gbdc_spark.operators.quality import unimax_mix, unimax_weights

    sizes = {"a": 8, "b": 2}
    rows = [(f"{s}{i}", s) for s, n in sizes.items() for i in range(n)]
    df = spark.createDataFrame(rows, "doc_id string, source string")
    budget, me = 12, 4
    eps = {r["source"]: r["epochs"] for r in
           unimax_weights(df, budget=budget, max_epochs=me).collect()}
    out = {r["doc_id"]: r for r in
           unimax_mix(df, budget=budget, max_epochs=me).collect()}

    def u32(k):
        return int(hashlib.md5(f"unimax:{k}".encode()).hexdigest()[:8], 16)

    for doc, src in rows:
        e = eps[src]
        base = math.floor(e)
        thr = math.floor((e - base) * (1 << 32))
        exp = base + (1 if u32(doc) < thr else 0)
        assert out[doc]["n_copies"] == exp, (doc, e)
        assert out[doc]["epochs"] == pytest.approx(e)
    assert set(out) == {d for d, _ in rows}


def test_unimax_rejects_nonpositive_budget(spark):
    from gbdc_spark.operators.quality import unimax_weights

    df = spark.createDataFrame([(1, "a")], "doc_id long, source string")
    with pytest.raises(ValueError):
        unimax_weights(df, budget=0)
    with pytest.raises(ValueError):
        unimax_weights(df, budget=10, max_epochs=0)


def test_normalize_scores_zscore_matches_numpy(spark):
    import numpy as np

    from gbdc_spark.operators.quality import normalize_scores

    rows = [(i, "a" if i < 6 else "b", float(v))
            for i, v in enumerate([1, 2, 3, 4, 5, 6, 10, 20, 30, 40])]
    df = spark.createDataFrame(rows, "doc_id long, source string, s double")
    out = {r["doc_id"]: r["score_norm"] for r in
           normalize_scores(df, "s", by="source").collect()}
    for grp in ("a", "b"):
        vals = np.array([v for i, g, v in rows if g == grp])
        mu, sd = vals.mean(), vals.std()
        for i, g, v in rows:
            if g == grp:
                assert out[i] == pytest.approx(
                    round((v - mu) / sd, 6), abs=1e-9
                )


def test_normalize_scores_minmax_and_degenerate(spark):
    from gbdc_spark.operators.quality import normalize_scores

    rows = [(1, "a", 10.0), (2, "a", 20.0), (3, "a", 15.0),
            (4, "b", 7.0), (5, "b", 7.0)]  # b is degenerate
    df = spark.createDataFrame(rows, "doc_id long, source string, s double")
    out = {r["doc_id"]: r["score_norm"] for r in
           normalize_scores(df, "s", by="source", method="minmax").collect()}
    assert out[1] == 0.0 and out[2] == 1.0 and out[3] == 0.5
    assert out[4] == 0.0 and out[5] == 0.0
    z = {r["doc_id"]: r["score_norm"] for r in
         normalize_scores(df, "s", by="source").collect()}
    assert z[4] == 0.0 and z[5] == 0.0  # zero-variance group -> 0


def test_normalize_scores_global_and_schema(spark):
    from gbdc_spark.operators.quality import normalize_scores

    rows = [(1, 0.0), (2, 10.0)]
    df = spark.createDataFrame(rows, "doc_id long, s double")
    out = normalize_scores(df, "s", method="minmax")
    assert out.columns == ["doc_id", "s", "score_norm"]
    got = {r["doc_id"]: r["score_norm"] for r in out.collect()}
    assert got == {1: 0.0, 2: 1.0}
    with pytest.raises(ValueError):
        normalize_scores(df, "s", method="rank")


def test_normalize_scores_null_group_kept(spark):
    from gbdc_spark.operators.quality import normalize_scores

    rows = [(1, None, 1.0), (2, None, 3.0), (3, "a", 5.0)]
    df = spark.createDataFrame(rows, "doc_id long, source string, s double")
    out = {r["doc_id"]: r["score_norm"] for r in
           normalize_scores(df, "s", by="source", method="minmax").collect()}
    assert len(out) == 3  # eqNullSafe keeps the NULL group
    assert out[1] == 0.0 and out[2] == 1.0 and out[3] == 0.0


def _py_platt(sy, epochs=5, lr=1.0):
    import math

    a = b = 0.0
    for _ in range(epochs):
        ga = sum((1 / (1 + math.exp(-(a * s + b))) - y) * s
                 for s, y in sy) / len(sy)
        gb = sum((1 / (1 + math.exp(-(a * s + b))) - y)
                 for s, y in sy) / len(sy)
        a, b = a - lr * ga, b - lr * gb
    return a, b


def test_platt_scale_matches_python_trajectory(spark):
    import math

    from gbdc_spark.operators.quality import platt_scale

    sy = [(0.1, 0.0), (0.2, 0.0), (0.4, 0.0), (0.6, 1.0),
          (0.8, 1.0), (0.9, 1.0), (0.3, 1.0), (0.7, 0.0)]
    rows = [(i, s, y) for i, (s, y) in enumerate(sy)]
    df = spark.createDataFrame(rows, "doc_id long, s double, y double")
    out = {r["doc_id"]: r for r in
           platt_scale(df, "s", "y", epochs=5).collect()}
    a, b = _py_platt(sy, epochs=5)
    for i, (s, y) in enumerate(sy):
        want = round(1 / (1 + math.exp(-(a * s + b))), 6)
        assert out[i]["calibrated"] == pytest.approx(want, abs=2e-6), i
        assert out[i]["pred"] == (out[i]["calibrated"] >= 0.5)


def test_platt_scale_improves_log_loss_on_miscalibrated_scores(spark):
    import math

    from gbdc_spark.operators.quality import platt_scale

    # scores squashed into [0.45, 0.55] but perfectly ranked: raw
    # probabilities are badly under-confident; Platt stretches them
    rows = [(i, 0.45 + 0.1 * (i / 99), 1.0 if i >= 50 else 0.0)
            for i in range(100)]
    df = spark.createDataFrame(rows, "doc_id long, s double, y double")
    out = platt_scale(df, "s", "y", epochs=30, lr=4.0).collect()
    got = {r["doc_id"]: r["calibrated"] for r in out}

    def ll(probs):
        eps = 1e-9
        return -sum(
            (math.log(max(p, eps)) if i >= 50 else math.log(max(1 - p, eps)))
            for i, p in probs.items()
        ) / 100

    # GD reduced loss from the A=B=0 init (p=0.5 everywhere, ll=ln 2);
    # with near-constant uncentered scores full convergence to the
    # separator is slow, so the claim is monotone improvement, not
    # optimality
    assert ll(got) < math.log(2) - 1e-3
    # monotone in s: ranking (hence AUC) unchanged
    cal_sorted = [got[i] for i in range(100)]
    assert cal_sorted == sorted(cal_sorted)


def test_platt_scale_positive_class_mapping(spark):
    from gbdc_spark.operators.quality import platt_scale

    rows = [(1, 0.9, "en"), (2, 0.2, "de"), (3, 0.8, "en")]
    df = spark.createDataFrame(rows, "doc_id long, s double, lang string")
    out = platt_scale(df, "s", "lang", positive="en", epochs=2).collect()
    assert {r["doc_id"] for r in out} == {1, 2, 3}
    assert set(out[0].asDict()) == {"doc_id", "s", "calibrated", "pred"}


def test_scoring_metrics_hand_computed(spark):
    import math

    from gbdc_spark.operators.quality import scoring_metrics

    rows = [(1, 0.9, 1.0), (2, 0.2, 0.0), (3, 0.6, 0.0), (4, 0.4, 1.0)]
    df = spark.createDataFrame(rows, "doc_id long, p double, y double")
    out = scoring_metrics(df, "p", "y").collect()[0]
    ps = [(p, y) for _, p, y in rows]
    brier = sum((p - y) ** 2 for p, y in ps) / 4
    ll = -sum(y * math.log(p) + (1 - y) * math.log(1 - p) for p, y in ps) / 4
    assert out["n"] == 4
    assert out["brier"] == pytest.approx(round(brier, 6))
    assert out["log_loss"] == pytest.approx(round(ll, 6), abs=1e-6)
    assert out["accuracy"] == 0.5  # docs 1,2 right; 3,4 wrong


def test_scoring_metrics_eps_clamps_confident_wrong(spark):
    from gbdc_spark.operators.quality import scoring_metrics

    df = spark.createDataFrame(
        [(1, 0.0, 1.0), (2, 1.0, 0.0)], "doc_id long, p double, y double"
    )
    out = scoring_metrics(df, "p", "y").collect()[0]
    assert out["log_loss"] == pytest.approx(round(-__import__("math").log(1e-9), 6))
    assert out["brier"] == 1.0


def test_scoring_metrics_positive_class(spark):
    from gbdc_spark.operators.quality import scoring_metrics

    df = spark.createDataFrame(
        [(1, 0.8, "en"), (2, 0.3, "de")], "doc_id long, p double, lang string"
    )
    out = scoring_metrics(df, "p", "lang", positive="en").collect()[0]
    assert out["accuracy"] == 1.0


def _py_pav(pairs):
    """Explicit pool-adjacent-violators over (score, y) pairs ->
    {score: fitted}.  Blocks merge while a left block's mean exceeds
    its right neighbor's."""
    from collections import defaultdict

    agg = defaultdict(lambda: [0, 0.0])
    for s, y in pairs:
        agg[s][0] += 1
        agg[s][1] += y
    items = sorted(agg.items())
    blocks = [[n, sy, [s]] for s, (n, sy) in items]
    merged = True
    while merged:
        merged = False
        out = []
        for b in blocks:
            out.append(b)
            while len(out) >= 2 and (
                out[-2][1] / out[-2][0] > out[-1][1] / out[-1][0]
            ):
                n2, s2, ss2 = out.pop()
                out[-1][0] += n2
                out[-1][1] += s2
                out[-1][2].extend(ss2)
                merged = True
        blocks = out
    fit = {}
    for n, sy, ss in blocks:
        for s in ss:
            fit[s] = sy / n
    return fit


def test_isotonic_matches_pav_reference(spark):
    from gbdc_spark.operators.quality import isotonic_calibrate

    cases = [
        [(0.1, 0.0), (0.2, 1.0), (0.3, 0.0), (0.4, 1.0), (0.5, 1.0)],
        [(0.1, 1.0), (0.2, 0.0), (0.3, 0.0), (0.4, 0.0)],  # all violators
        [(0.1, 0.0), (0.1, 1.0), (0.2, 0.0), (0.3, 1.0), (0.3, 1.0),
         (0.4, 0.0), (0.5, 1.0)],
    ]
    for case in cases:
        rows = [(i, s, y) for i, (s, y) in enumerate(case)]
        df = spark.createDataFrame(rows, "doc_id long, s double, y double")
        out = {r["doc_id"]: r["calibrated"] for r in
               isotonic_calibrate(df, "s", "y").collect()}
        ref = _py_pav(case)
        for i, (s, y) in enumerate(case):
            assert out[i] == pytest.approx(round(ref[s], 6), abs=1e-9), (
                case, i
            )


def test_isotonic_property_random_vs_pav(spark):
    import random

    from gbdc_spark.operators.quality import isotonic_calibrate

    rng = random.Random(13)
    for trial in range(3):
        case = [
            (round(rng.random(), 2), float(rng.random() < 0.5))
            for _ in range(60)
        ]
        rows = [(i, s, y) for i, (s, y) in enumerate(case)]
        df = spark.createDataFrame(rows, "doc_id long, s double, y double")
        out = {r["doc_id"]: r["calibrated"] for r in
               isotonic_calibrate(df, "s", "y").collect()}
        ref = _py_pav(case)
        for i, (s, y) in enumerate(case):
            assert out[i] == pytest.approx(round(ref[s], 6), abs=1e-9), (
                trial, i
            )
        # monotone in score
        by_s = sorted((s, out[i]) for i, (s, y) in enumerate(case))
        vals = [v for _, v in by_s]
        assert all(a <= b + 1e-12 for a, b in zip(vals, vals[1:]))


def test_conformal_gate_threshold_and_coverage(spark):
    import math

    from gbdc_spark.operators.quality import conformal_gate

    # 19 rows, alpha=0.1: k = ceil(20*0.9) = 18 -> threshold = 18th
    # smallest score
    rows = [(i, float(i)) for i in range(1, 20)]
    df = spark.createDataFrame(rows, "doc_id long, s double")
    out = {r["doc_id"]: r for r in conformal_gate(df, "s", alpha=0.1).collect()}
    k = math.ceil(20 * (1.0 - 0.1))
    thr = float(sorted(s for _, s in rows)[k - 1])
    kept = [i for i, s in rows if out[i]["conformal_keep"]]
    for i, s in rows:
        assert out[i]["conformal_threshold"] == thr
        assert out[i]["conformal_keep"] == (s <= thr)
    # coverage: at most alpha fraction rejected
    assert len(kept) >= math.floor(len(rows) * 0.9)


def test_conformal_gate_k_exceeding_n_keeps_all(spark):
    from gbdc_spark.operators.quality import conformal_gate

    rows = [(i, float(i)) for i in range(5)]  # n=5, alpha=0.05 -> k=6 > n
    df = spark.createDataFrame(rows, "doc_id long, s double")
    out = conformal_gate(df, "s", alpha=0.05).collect()
    assert all(r["conformal_keep"] for r in out)
    assert all(r["conformal_threshold"] is None for r in out)


def test_conformal_gate_mondrian_per_group(spark):
    from gbdc_spark.operators.quality import conformal_gate

    rows = [(i, "a", float(i)) for i in range(10)] + [
        (100 + i, "b", float(1000 + i)) for i in range(10)
    ]
    df = spark.createDataFrame(rows, "doc_id long, source string, s double")
    out = {r["doc_id"]: r for r in
           conformal_gate(df, "s", alpha=0.2, by="source").collect()}
    # k = ceil(11*0.8) = 9 per group -> per-group thresholds
    assert out[0]["conformal_threshold"] == 8.0
    assert out[100]["conformal_threshold"] == 1008.0
    assert out[9]["conformal_keep"] is False
    assert out[108]["conformal_keep"] is True

    with pytest.raises(ValueError):
        conformal_gate(df, "s", alpha=0.0)


def test_conformal_gate_null_scores_flag_null(spark):
    from gbdc_spark.operators.quality import conformal_gate

    rows = [(1, 1.0), (2, 2.0), (3, None), (4, 3.0)]
    df = spark.createDataFrame(rows, "doc_id long, s double")
    out = {r["doc_id"]: r for r in conformal_gate(df, "s", alpha=0.3).collect()}
    assert out[3]["conformal_keep"] is None
    assert len(out) == 4


def test_group_auc_matches_global_on_each_slice(spark):
    from gbdc_spark.operators.quality import binary_auc, group_auc

    rows = (
        [(i, "a", float(i), 1.0 if i >= 5 else 0.0) for i in range(10)]
        + [(100 + i, "b", float(i % 3), 1.0 if i % 2 == 0 else 0.0)
           for i in range(12)]
    )
    df = spark.createDataFrame(
        rows, "doc_id long, source string, score double, y double"
    )
    per = {r["source"]: r for r in
           group_auc(df, "score", "y", by="source").collect()}
    for src in ("a", "b"):
        sub = df.filter(df.source == src)
        glob = binary_auc(sub, "score", "y").collect()[0]
        assert per[src]["auc"] == glob["auc"], src
        assert per[src]["n_pos"] == glob["n_pos"]
        assert per[src]["n_neg"] == glob["n_neg"]
    assert per["a"]["auc"] == 1.0  # perfectly ranked slice


def test_group_auc_single_class_group_is_null(spark):
    from gbdc_spark.operators.quality import group_auc

    rows = [(1, "only_pos", 0.5, 1.0), (2, "only_pos", 0.7, 1.0),
            (3, "mixed", 0.1, 0.0), (4, "mixed", 0.9, 1.0)]
    df = spark.createDataFrame(
        rows, "doc_id long, source string, score double, y double"
    )
    out = {r["source"]: r for r in group_auc(df, by="source").collect()}
    assert out["only_pos"]["auc"] is None
    assert out["mixed"]["auc"] == 1.0


def _psi_reference(ref_vals, new_vals, bins, eps=1e-6):
    """Pure-Python PSI over equal-width bins of the non-NULL ref range."""
    import math

    ref_vals = [v for v in ref_vals if v is not None]
    new_vals = [v for v in new_vals if v is not None]
    lo, hi = min(ref_vals), max(ref_vals)

    def binof(v):
        return int(min(max(math.floor((v - lo) * bins / (hi - lo)), 0), bins - 1))

    pc = [0] * bins
    qc = [0] * bins
    for v in ref_vals:
        pc[binof(v)] += 1
    for v in new_vals:
        qc[binof(v)] += 1
    np_, nq = len(ref_vals), len(new_vals)
    return sum(
        (max(q / nq, eps) - max(p / np_, eps))
        * math.log(max(q / nq, eps) / max(p / np_, eps))
        for p, q in zip(pc, qc)
    ), pc, qc


def test_psi_matches_python_reference(spark):
    from gbdc_spark.operators.quality import population_stability

    ref_vals = [1.0, 2.0, 3.0, 4.0, 5.0, 6.0, 7.0, 8.0, 9.0, 10.0]
    new_vals = [1.0, 1.5, 2.0, 2.5, 3.0, 3.5, 9.0, 9.5, 10.0, 10.0]
    ref = spark.createDataFrame([(v,) for v in ref_vals], "s double")
    new = spark.createDataFrame([(v,) for v in new_vals], "s double")
    out = population_stability(ref, new, "s", bins=5).collect()[0]
    psi, _, _ = _psi_reference(ref_vals, new_vals, bins=5)
    assert out["n_ref"] == 10 and out["n_new"] == 10
    assert out["psi"] == pytest.approx(round(psi, 6), abs=1e-6)
    assert out["psi"] > 0.1  # the shifted distribution reads as drift


def test_psi_ignores_null_scores(spark):
    # NULL scores must fall in no bin (greatest(NULL, 0) would put them
    # in bin 0) and count in neither population
    from gbdc_spark.operators.quality import population_stability, psi_bins

    ref_vals = [None, 0.0, 1.0, 2.0, 3.0, 4.0, 5.0, 6.0, 7.0, None]
    new_vals = [None, None, None, 5.0, 6.0, 7.0, 7.0]
    ref = spark.createDataFrame([(v,) for v in ref_vals], "s double")
    new = spark.createDataFrame([(v,) for v in new_vals], "s double")
    psi, pc, qc = _psi_reference(ref_vals, new_vals, bins=4)

    bins = {r["bin"]: r["n"] for r in psi_bins(new, "s", 0.0, 7.0, bins=4).collect()}
    assert bins == {b: n for b, n in enumerate(qc) if n}
    assert 0 not in bins  # where the three NULLs used to land

    out = population_stability(ref, new, "s", bins=4).collect()[0]
    assert out["n_ref"] == sum(pc) == 8 and out["n_new"] == sum(qc) == 4
    assert out["psi"] == pytest.approx(round(psi, 6), abs=1e-6)


def test_psi_identical_distributions_near_zero(spark):
    from gbdc_spark.operators.quality import population_stability

    vals = [(float(i % 17),) for i in range(200)]
    a = spark.createDataFrame(vals, "s double")
    out = population_stability(a, a, "s", bins=8).collect()[0]
    assert out["psi"] == 0.0

    with pytest.raises(ValueError):
        population_stability(a, a, "s", bins=0)
    with pytest.raises(ValueError):
        population_stability(a, a, "s", lo=5.0, hi=5.0)


def test_psi_out_of_range_clamps_to_edge_bins(spark):
    from gbdc_spark.operators.quality import population_stability

    ref = spark.createDataFrame([(float(v),) for v in range(10)], "s double")
    new = spark.createDataFrame([(-100.0,), (500.0,)], "s double")
    out = population_stability(ref, new, "s", bins=4).collect()[0]
    assert out["n_new"] == 2  # both rows landed in edge bins, none lost


def test_ks_statistic_matches_scipy_style_reference(spark):
    from gbdc_spark.operators.quality import ks_statistic

    ref_vals = [1.0, 2.0, 3.0, 4.0, 5.0]
    new_vals = [3.0, 4.0, 5.0, 6.0, 7.0, 8.0]
    a = spark.createDataFrame([(v,) for v in ref_vals], "s double")
    b = spark.createDataFrame([(v,) for v in new_vals], "s double")
    out = ks_statistic(a, b, "s").collect()[0]

    xs = sorted(set(ref_vals) | set(new_vals))
    d = max(
        abs(
            sum(1 for v in ref_vals if v <= x) / len(ref_vals)
            - sum(1 for v in new_vals if v <= x) / len(new_vals)
        )
        for x in xs
    )
    assert out["n_ref"] == 5 and out["n_new"] == 6
    assert out["ks_d"] == pytest.approx(round(d, 6), abs=1e-9)


def test_ks_statistic_identical_zero_and_disjoint_one(spark):
    from gbdc_spark.operators.quality import ks_statistic

    a = spark.createDataFrame([(float(i % 7),) for i in range(50)], "s double")
    assert ks_statistic(a, a, "s").collect()[0]["ks_d"] == 0.0
    lo = spark.createDataFrame([(float(i),) for i in range(5)], "s double")
    hi = spark.createDataFrame([(float(100 + i),) for i in range(5)], "s double")
    assert ks_statistic(lo, hi, "s").collect()[0]["ks_d"] == 1.0


def test_ks_statistic_ignores_nulls(spark):
    from gbdc_spark.operators.quality import ks_statistic

    a = spark.createDataFrame([(1.0,), (None,), (2.0,)], "s double")
    b = spark.createDataFrame([(1.0,), (2.0,)], "s double")
    out = ks_statistic(a, b, "s").collect()[0]
    assert out["n_ref"] == 2 and out["ks_d"] == 0.0
