"""DSIR importance weighting (operators/dsir.py).

Mirrors the reference's test strategy (SURVEY.md §5): pure-Python
reference implementation cross-checked against the distributed path,
edge-case rows (null / empty / single-token), integer exactness under
repartitioning, and plan-shape assertions (scoring is shuffle-free).
"""

from __future__ import annotations

import math

import pytest
from pyspark.sql import functions as F

from py_schemax_spark.operators.classifier import (
    _terms,
    hashed_bucket_py,
    linear_text_classifier,
)
from py_schemax_spark.operators.dsir import (
    LAM_SCALE,
    _fit_log_ratios,
    dsir_select,
    dsir_weights,
    hashed_term_buckets,
)

NB = 64

RAW = [
    (0, "the cat sat on the mat"),
    (1, "stock market rally extends gains"),
    (2, "the dog sat on the log"),
    (3, None),
    (4, ""),
    (5, "zymurgy"),
    (6, "quantum flux capacitor alignment manual"),
]
TGT = [(0, "the cat sat on the mat"), (2, "the dog sat on the log")]


def _hist_py(rows, n_buckets, word_ngrams=2):
    h: dict[int, int] = {}
    for _, t in rows:
        if t is None:
            continue
        for term in _terms(t, word_ngrams):
            b = hashed_bucket_py(term, n_buckets)
            h[b] = h.get(b, 0) + 1
    return h


def _score_py(text, lam, n_buckets, word_ngrams=2):
    if text is None:
        return None
    return sum(
        lam[hashed_bucket_py(t, n_buckets)]
        for t in _terms(text, word_ngrams)
    )


@pytest.fixture(scope="module")
def raw_df(spark):
    return spark.createDataFrame(RAW, "doc_id long, text string")


@pytest.fixture(scope="module")
def tgt_df(spark):
    return spark.createDataFrame(TGT, "doc_id long, text string")


def test_hashed_term_buckets_matches_python(spark, raw_df):
    got = {
        r["bucket"]: r["cnt"]
        for r in hashed_term_buckets(raw_df, n_buckets=NB).collect()
    }
    assert got == _hist_py(RAW, NB)


def test_hashed_term_buckets_unigram_mode(spark, raw_df):
    got = {
        r["bucket"]: r["cnt"]
        for r in hashed_term_buckets(
            raw_df, n_buckets=NB, word_ngrams=1
        ).collect()
    }
    assert got == _hist_py(RAW, NB, word_ngrams=1)


def test_fit_log_ratios_expression():
    raw_h = _hist_py(RAW, NB)
    tgt_h = _hist_py(TGT, NB)
    lam = _fit_log_ratios(raw_h, tgt_h, NB)
    assert len(lam) == NB
    tt = sum(tgt_h.values())
    tr = sum(raw_h.values())
    for b in (0, 7, NB - 1):
        expect = math.floor(
            (
                math.log(tgt_h.get(b, 0) + 1)
                - math.log(tt + NB)
                - math.log(raw_h.get(b, 0) + 1)
                + math.log(tr + NB)
            )
            * LAM_SCALE
        )
        assert lam[b] == expect


def test_dsir_weights_matches_python_reference(spark, raw_df, tgt_df):
    lam = _fit_log_ratios(_hist_py(RAW, NB), _hist_py(TGT, NB), NB)
    got = {
        r["doc_id"]: (r["n_terms"], r["dsir_score"])
        for r in dsir_weights(raw_df, tgt_df, n_buckets=NB).collect()
    }
    for doc_id, text in RAW:
        if text is None:
            assert got[doc_id] == (None, None)
        else:
            n = len(_terms(text, 2))
            assert got[doc_id] == (n, _score_py(text, lam, NB))
    # the classifier with lam as its weight dict is the same scorer
    assert got == {
        r["doc_id"]: (r["n_terms"], r["score"])
        for r in linear_text_classifier(
            raw_df, n_buckets=NB, word_ngrams=2, weights=dict(enumerate(lam))
        ).collect()
    }


def test_target_docs_outscore_offtarget(spark, raw_df, tgt_df):
    got = {
        r["doc_id"]: r["dsir_score"]
        for r in dsir_weights(raw_df, tgt_df, n_buckets=4096).collect()
    }
    # documents IN the target distribution carry positive importance
    # (their whole vocabulary has ct == cr, so every lam is the
    # positive ln((Tr+B)/(Tt+B))); vocabulary only seen in raw
    # carries negative (ct == 0 halves the smoothed numerator)
    assert got[0] > 0 and got[2] > 0
    assert got[1] < 0 and got[5] < 0 and got[6] < 0
    assert got[0] > got[1]


def test_empty_text_scores_zero(spark, raw_df, tgt_df):
    got = {
        r["doc_id"]: (r["n_terms"], r["dsir_score"])
        for r in dsir_weights(raw_df, tgt_df, n_buckets=NB).collect()
    }
    assert got[4] == (0, 0)
    assert got[5][0] == 1  # single token: one unigram, no bigram


def test_partitioning_invariance(spark, raw_df, tgt_df):
    a = dsir_weights(raw_df, tgt_df, n_buckets=NB).collect()
    b = dsir_weights(
        raw_df.repartition(7), tgt_df.repartition(3), n_buckets=NB
    ).collect()
    assert sorted(map(tuple, a)) == sorted(map(tuple, b))


def test_scoring_plan_is_shuffle_free(spark, raw_df, tgt_df):
    w = dsir_weights(raw_df, tgt_df, n_buckets=NB)
    # the scored frame carries its input, so selection is a filter on
    # it and nothing joins the corpus back to its scores
    assert w.columns == raw_df.columns + ["n_terms", "dsir_score"]
    plan = w._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan
    assert "ArrowEvalPython" in plan


def test_dsir_select_threshold_boundary(spark):
    rows = [
        (0, 10, 500),    # 500*1000 >= 50*10 -> keep
        (1, 10, 0),      # 0 >= 500? no
        (2, 4, 2),       # 2000 >= 200 -> keep
        (3, 1000, 50),   # 50000 >= 50000 -> boundary kept
        (4, 1000, 49),   # 49000 < 50000 -> dropped
        (5, 0, 7),       # zero terms dropped
        (6, None, None),
    ]
    df = spark.createDataFrame(
        rows, "doc_id long, n_terms long, dsir_score long"
    )
    kept = sorted(
        r["doc_id"]
        for r in dsir_select(df, min_score_per_kterm=50).collect()
    )
    assert kept == [0, 2, 3]


def test_dsir_select_negative_threshold(spark):
    df = spark.createDataFrame(
        [(0, 10, -1), (1, 10, -2)],
        "doc_id long, n_terms long, dsir_score long",
    )
    kept = sorted(
        r["doc_id"]
        for r in dsir_select(df, min_score_per_kterm=-100).collect()
    )
    # -1*1000 >= -100*10 (-1000 >= -1000) boundary kept
    assert kept == [0]


def test_n_buckets_validation(spark, raw_df, tgt_df):
    with pytest.raises(ValueError):
        dsir_weights(raw_df, tgt_df, n_buckets=0)
