"""Hashed-feature linear classifier + confusion report.

Mirrors the reference's test strategy (SURVEY.md §5): pure-Python
reference implementation cross-checked against the distributed path,
edge-case rows (null / empty / unicode), and plan-shape assertions.
"""

from __future__ import annotations

import hashlib

import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from py_schemax_spark.operators.classifier import (
    confusion_report,
    formula_weights,
    hashed_bucket_py,
    linear_text_classifier,
    score_text_py,
)

NB = 1 << 18


def test_bucket_contract_matches_md5():
    for term in ["the", "quick brown", "üñïçødé", ""]:
        expect = int(hashlib.md5(term.encode()).hexdigest()[:8], 16) % NB
        assert hashed_bucket_py(term, NB) == expect


def test_score_text_py_edges():
    w = formula_weights(NB)
    assert score_text_py(None, NB, 2, w) == (None, None)
    assert score_text_py("", NB, 2, w) == (0, 0)
    assert score_text_py("   \t\n ", NB, 2, w) == (0, 0)
    # one token -> one unigram, no bigram
    n, s = score_text_py("hello", NB, 2, w)
    assert n == 1
    assert s == hashed_bucket_py("hello", NB) % 997 - 498
    # two tokens, word_ngrams=2 -> 2 unigrams + 1 bigram
    n, s = score_text_py("Hello World", NB, 2, w)
    assert n == 3
    assert s == sum(
        hashed_bucket_py(t, NB) % 997 - 498
        for t in ["hello", "world", "hello world"]
    )
    # unigram-only mode
    n, s = score_text_py("a b c", NB, 1, w)
    assert n == 3


def test_classifier_matches_reference(spark):
    texts = [
        "The quick brown Fox", "table scan merge", None, "",
        "x", "a a a a", "über straße\tmixed  spacing\n",
    ]
    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
    )
    out = {
        r["doc_id"]: (r["n_terms"], r["score"], r["label"])
        for r in linear_text_classifier(df).collect()
    }
    w = formula_weights(NB)
    for i, t in enumerate(texts):
        n, s = score_text_py(t, NB, 2, w)
        lbl = None if s is None else s > 0
        assert out[i] == (n, s, lbl), (i, t, out[i], (n, s, lbl))


def test_classifier_dict_weights_and_threshold(spark):
    # weight only the bucket of "spam"; everything else weighs 0
    b = hashed_bucket_py("spam", NB)
    df = spark.createDataFrame(
        [(0, "spam spam ham"), (1, "ham only")],
        "doc_id long, text string",
    )
    out = {
        r["doc_id"]: (r["score"], r["label"])
        for r in linear_text_classifier(
            df, weights={b: 5}, word_ngrams=1, threshold=9
        ).collect()
    }
    assert out[0] == (10, True)   # two occurrences x 5 > 9
    assert out[1] == (0, False)


def test_classifier_weight_table_is_released(spark):
    """The broadcast weight table is registered for bulk release, so
    a long-lived session does not keep one table per call."""
    from py_schemax_spark.operators.dedup import release_all_intermediates

    release_all_intermediates()
    df = spark.createDataFrame([(0, "spam ham")], "doc_id long, text string")
    out = linear_text_classifier(
        df, weights={hashed_bucket_py("spam", NB): 5}, word_ngrams=1
    )
    assert out.collect()[0]["score"] == 5
    tracked = getattr(out, "_schemax_persisted", [])
    assert [type(x).__name__ for x in tracked] == ["Broadcast"]
    assert release_all_intermediates() == 1


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_classifier_zero_exchanges(spark):
    df = spark.createDataFrame(
        [(0, "a b")], "doc_id long, text string"
    )
    plan = _plan(linear_text_classifier(df))
    assert "Exchange" not in plan, plan
    assert "ArrowEvalPython" in plan, plan


def test_confusion_report_exact(spark):
    rows = [
        # (pred, truth): 3 tp, 2 fp, 1 fn, 4 tn, 2 null
        (True, True), (True, True), (True, True),
        (True, False), (True, False),
        (False, True),
        (False, False), (False, False), (False, False), (False, False),
        (None, True), (False, None),
    ]
    df = spark.createDataFrame(rows, "pred boolean, truth boolean")
    r = confusion_report(df, "pred", "truth").collect()[0]
    assert (r["tp"], r["fp"], r["fn"], r["tn"], r["n_null"]) == (
        3, 2, 1, 4, 2,
    )
    assert r["precision_bp"] == 3 * 10000 // 5
    assert r["recall_bp"] == 3 * 10000 // 4
    assert r["f1_bp"] == 3 * 20000 // (2 * 3 + 2 + 1)
    assert r["accuracy_bp"] == 7 * 10000 // 10


def test_confusion_report_zero_denominators(spark):
    df = spark.createDataFrame(
        [(False, False)], "pred boolean, truth boolean"
    )
    r = confusion_report(df, "pred", "truth").collect()[0]
    assert r["precision_bp"] is None
    assert r["recall_bp"] is None
    assert r["f1_bp"] is None
    assert r["accuracy_bp"] == 10000


def test_confusion_single_aggregation_plan(spark):
    df = spark.createDataFrame(
        [(True, True)], "pred boolean, truth boolean"
    )
    plan = _plan(confusion_report(df, "pred", "truth"))
    # single-row agg: at most one exchange (the 1-row final agg)
    assert plan.count("Exchange") <= 1, plan
