"""Sentiment tests (M11): lexicon polarity/subjectivity + categories +
per-group aggregation (lab4 nb cell 13 semantics)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from geo_big_data_analysis_spark.functions import sentiment as sn


def _score(spark, text: str) -> tuple[float, float]:
    df = spark.createDataFrame([(text,)], ["text"])
    r = df.select(
        sn.polarity("text").alias("p"), sn.subjectivity("text").alias("s")
    ).collect()[0]
    return r["p"], r["s"]


def test_polarity_signs(spark):
    pos, _ = _score(spark, "The food was great and the service excellent!")
    neg, _ = _score(spark, "Terrible experience, rude staff, awful food.")
    neu, _ = _score(spark, "I walked to the building on Tuesday.")
    assert pos > 0.5
    assert neg < -0.5
    assert neu == 0.0  # no lexicon hits -> 0.0, TextBlob convention


def test_polarity_is_mean_of_hits(spark):
    # good (0.7) + bad (-0.7) -> exactly 0
    p, _ = _score(spark, "good bad")
    assert p == pytest.approx(0.0)
    p2, _ = _score(spark, "good good bad")  # (0.7+0.7-0.7)/3
    assert p2 == pytest.approx(0.7 / 3)


def test_cleaning_is_applied_before_lookup(spark):
    # punctuation, case, URLs must not block lexicon matching
    p, _ = _score(spark, "GREAT!!! visit http://spam.example GOOD.")
    assert p == pytest.approx((0.8 + 0.7) / 2)


def test_subjectivity_range(spark):
    _, s = _score(spark, "excellent terrible nice")
    assert 0.0 <= s <= 1.0
    _, s0 = _score(spark, "chair table window")
    assert s0 == 0.0


def test_categories(spark):
    df = spark.createDataFrame(
        [(0.6,), (0.2,), (0.0,), (-0.2,), (-0.6,)], ["p"]
    )
    got = [
        (r["c3"], r["c5"])
        for r in df.select(
            sn.sentiment_category(F.col("p")).alias("c3"),
            sn.sentiment_category5(F.col("p")).alias("c5"),
        ).collect()
    ]
    assert got == [
        ("positive", "very_positive"),
        ("positive", "positive"),
        ("neutral", "neutral"),
        ("negative", "negative"),
        ("negative", "very_negative"),
    ]


def test_group_sentiment_stats(spark):
    df = spark.createDataFrame(
        [("a", 0.5), ("a", 0.5), ("a", -0.5), ("b", 0.0)], ["g", "polarity"]
    )
    got = {
        r["g"]: r
        for r in sn.group_sentiment_stats(df, ["g"]).collect()
    }
    assert got["a"]["n"] == 3
    assert got["a"]["avg_polarity"] == pytest.approx(1 / 6)
    assert got["a"]["positive_rate"] == pytest.approx(2 / 3)
    assert got["b"]["positive_rate"] == 0.0


def test_lexicon_sql_matches_python():
    sql = sn.lexicon_sql_values(0, "p")
    assert sql.startswith("(VALUES") and "AS p(word, valence)" in sql
    assert "('good', 0.7)" in sql


# --- PatternAnalyzer parity (VERDICT r1 #8) --------------------------------

def test_pattern_scores_match_textblob_pinned_phrases(spark):
    """Pinned TextBlob(x).sentiment outputs for phrases whose lexicon
    entries PATTERN_LEXICON reproduces (pattern-en sense averages):
    intensifier multiply+clamp, negation x-0.5, negation-inverted
    intensity, unknown-word chain break, empty -> (0, 0)."""
    from geo_big_data_analysis_spark.functions.sentiment import with_pattern_scores

    cases = [
        ("good", 0.7, 0.6),
        ("great", 0.8, 0.75),
        ("terrible", -1.0, 1.0),
        ("bad", -0.6999999999999998, 0.6666666666666666),
        ("very good", 0.7 * 1.3, 0.6 * 1.3),                      # 0.91 / 0.78
        ("not good", 0.7 * -0.5, 0.6),                             # -0.35 / 0.6
        ("not very good", 0.7 * (1 / 1.3) * -0.5, 0.6 * (1 / 1.3)),
        ("very terrible", -1.0, 1.0),                              # clamped
        ("good and very bad", (0.7 + max(-1.0, -0.6999999999999998 * 1.3)) / 2,
         (0.6 + 0.6666666666666666 * 1.3) / 2),
        ("the weather report arrived", 0.0, 0.0),
        ("", 0.0, 0.0),
    ]
    df = spark.createDataFrame([(i, t) for i, (t, _, _) in enumerate(cases)], "id bigint, text string")
    out = {
        r["id"]: (r["_sc"]["polarity"], r["_sc"]["subjectivity"])
        for r in with_pattern_scores(df, "text").select("id", "_sc").collect()
    }
    for i, (text, ep, es) in enumerate(cases):
        gp, gs = out[i]
        assert abs(gp - ep) < 1e-6, (text, gp, ep)
        assert abs(gs - es) < 1e-6, (text, gs, es)


def _py_pattern_score(tokens_list):
    """Independent test-side reimplementation of the PatternAnalyzer
    assessment chain (pattern-en sentiment(), the rules documented in
    functions/sentiment.py) — used to cross-check the JVM aggregate
    fold over a combinatorial phrase set."""
    from geo_big_data_analysis_spark.functions.sentiment import (
        NEGATIONS,
        PATTERN_LEXICON,
    )

    def clamp(v):
        return max(-1.0, min(1.0, v))

    sum_p = sum_s = cnt = 0.0
    open_ = False
    op = os_ = 0.0
    oneg = omod = False
    oi = 1.0
    neg = False

    def close():
        nonlocal sum_p, sum_s, cnt
        if open_:
            sum_p += op * (-0.5 if oneg else 1.0)
            sum_s += os_
            cnt += 1.0

    for w in tokens_list:
        if w in NEGATIONS:
            neg = True
            continue
        e = PATTERN_LEXICON.get(w)
        if e is None:
            omod = False
            neg = False
            continue
        p, s, i = e
        if open_ and omod:
            op, os_ = clamp(p * oi), clamp(s * oi)
            omod = i != 1.0
            oi = i
            neg = False
        else:
            close()
            open_ = True
            op, os_ = p, s
            oneg = neg
            omod = i != 1.0
            oi = (1.0 / i) if neg else i
            neg = False
    close()
    if cnt == 0:
        return 0.0, 0.0
    return sum_p / cnt, sum_s / cnt


def test_pattern_fold_vs_independent_reimplementation(spark):
    """~120 combinatorial phrases (negation x intensifier x valence
    words x chain breaks) — the JVM aggregate fold must agree with an
    independent Python walk of the same published rules to 1e-9."""
    import itertools

    words = [
        "good", "bad", "terrible", "delicious", "slow", "charming",
        "cozy", "rude", "bland", "nice", "dirty", "sweet",
    ]
    mods = ["", "very", "really", "extremely", "slightly"]
    negs = ["", "not"]
    phrases = []
    for n, m, w in itertools.product(negs, mods, words):
        phrases.append(" ".join(x for x in (n, m, w) if x))
    # two-assessment chains with and without an unknown-word break
    for w1, w2 in itertools.product(["good", "awful"], ["tasty", "rude"]):
        phrases.append(f"{w1} food {w2} staff")
        phrases.append(f"very {w1} and not {w2}")
    phrases.append("not not good")   # double negation
    phrases.append("very very good") # stacked intensifiers
    assert len(phrases) >= 100

    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(phrases)], "id bigint, text string"
    )
    from geo_big_data_analysis_spark.functions.sentiment import with_pattern_scores

    got = {
        r["id"]: (r["_sc"]["polarity"], r["_sc"]["subjectivity"])
        for r in with_pattern_scores(df, "text").select("id", "_sc").collect()
    }
    for i, text in enumerate(phrases):
        ep, es = _py_pattern_score(text.split())
        gp, gs = got[i]
        assert abs(gp - ep) < 1e-9, (text, gp, ep)
        assert abs(gs - es) < 1e-9, (text, gs, es)


# --- broadcast-borne lexicon (VERDICT r5 "wrong" #1) -----------------------

def test_broadcast_lexicon_plan_size_survives_tier_add(spark, monkeypatch):
    """Plan size must be O(1) in lexicon size: adding 500 lexicon
    entries must not grow the optimized plan (the r5 regression was
    plan build/codegen cost scaling with the baked-in literal)."""
    import geo_big_data_analysis_spark.functions.sentiment as sn

    df = spark.createDataFrame([(1, "good")], "id bigint, text string")

    def plan_text(d):
        return d._jdf.queryExecution().optimizedPlan().toString()

    p_base = plan_text(sn.with_pattern_scores(df, "text"))
    grown = dict(sn.PATTERN_LEXICON)
    for k in range(500):
        grown[f"zzsyntheticword{k}"] = (0.1, 0.2, 1.0)
    monkeypatch.setattr(sn, "PATTERN_LEXICON", grown)
    p_grown = plan_text(sn.with_pattern_scores(df, "text"))
    assert "zzsyntheticword" not in p_grown
    assert len(p_grown) <= len(p_base) + 100
