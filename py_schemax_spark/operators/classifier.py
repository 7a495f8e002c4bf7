"""Hashing-trick linear text classifier (fastText-style inference)
and integer-exact classifier evaluation.

The standard web-corpus quality/domain classifier (fastText's
supervised mode, Vowpal Wabbit, CCNet's lang filter, the
GPT-3/LLaMA "looks-like-Wikipedia" quality filter) is a LINEAR model
over hashed token features: every unigram/bigram is hashed into one
of ``n_buckets`` feature slots and the document score is the sum of
the bucket weights. Training happens offline on a sample; the part
that must run at 10^12-document scale is INFERENCE, and that is what
this module implements. No reference analogue (the reference,
`/root/reference/validator.py`, validates schema metadata one file at
a time); this extends the LLM-pipeline operator set of SURVEY.md §2.4.

Scale shape:

- Inference is a pure per-row computation: `term_count` is codegen'd
  regexp arithmetic, and ONE Arrow-batched pandas UDF
  (`hashed_term_score`) maps text -> score against a dense
  ``n_buckets``-entry table shipped once per executor via
  ``sparkContext.broadcast`` — one table for both weight forms (a
  `FormulaWeights` or a trained dict). ZERO shuffles, zero joins —
  the classifier fuses into the scan projection exactly like
  `textstats.text_profile`, and `operators.dsir` scores through the
  same two builders.
- The weight table is bounded by ``n_buckets`` (2^18 default ≈ 262k
  int entries, ~2 MB) — broadcastable by construction regardless of
  corpus size; that bound is the entire point of the hashing trick.
- ``confusion_report`` is one aggregation to a SINGLE row (map-side
  combine collapses each partition to one partial) — scale-free.

Cross-engine contract (the reason this is hash-green oracle-able,
unlike a float softmax):

- tokens: lowercased, split on the EXPLICIT class ``[ \t\n\r\f]+``,
  empties dropped — the `operators.decontam` normalization, identical
  in Python, Java regex, and RE2.
- terms: unigrams, plus space-joined bigrams when ``word_ngrams=2``
  (fastText ``wordNgrams``).
- bucket: ``int(md5(term)[:8], 16) % n_buckets`` — DuckDB twin
  ``('0x' || substr(md5(term),1,8))::UBIGINT % n_buckets`` (verified
  identical; md5 is the one hash every engine renders identically).
- weights: INTEGERS. Real deployments quantize the trained float
  weights to integer fixed-point (score comparisons are
  scale-invariant, so any fixed-point factor works); integer sums
  are associative and engine-exact, so the score — not just the
  label — is reproducible bit-for-bit by any SQL engine.
"""

from __future__ import annotations

import hashlib
import re
from typing import Mapping, Optional

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.pandas.functions import pandas_udf

from py_schemax_spark.operators.chunking import NON_WS_RUN, WS_CLASS

# The EXPLICIT whitespace class shared with decontam/textstats (RE2's
# \s exactly); Python \s would also split U+00A0/U+2028 and diverge
# from the SQL oracle's token universe.
_WS = re.compile(WS_CLASS)


def _terms(text: str, word_ngrams: int) -> list[str]:
    toks = [w for w in _WS.split(text.lower()) if w]
    if word_ngrams >= 2:
        return toks + [
            toks[i] + " " + toks[i + 1] for i in range(len(toks) - 1)
        ]
    return toks


def hashed_bucket_py(term: str, n_buckets: int) -> int:
    """The bucket contract, single-process reference: first 8 md5 hex
    chars as an integer, mod ``n_buckets``. pytest asserts the Arrow
    UDF and the DuckDB oracle both reproduce this exactly."""
    return int(hashlib.md5(term.encode()).hexdigest()[:8], 16) % n_buckets


def formula_weights(n_buckets: int, modulus: int = 997,
                    offset: int = 498) -> "FormulaWeights":
    """A deterministic planted weight table ``w(b) = b % modulus -
    offset`` — the fixture every oracle/test uses (a trained model
    would ship a real dict; the plumbing under test is identical)."""
    return FormulaWeights(n_buckets, modulus, offset)


class FormulaWeights:
    """Closed-form weight 'table' (no materialized dict — the formula
    IS the contract, reproduced verbatim in the SQL oracle)."""

    def __init__(self, n_buckets: int, modulus: int, offset: int):
        self.n_buckets = n_buckets
        self.modulus = modulus
        self.offset = offset

    def weight(self, bucket):
        """``w(bucket)`` for an int or, elementwise, a numpy array."""
        return bucket % self.modulus - self.offset


def score_text_py(
    text: Optional[str],
    n_buckets: int,
    word_ngrams: int,
    weights: Mapping[int, int] | FormulaWeights,
) -> tuple[Optional[int], Optional[int]]:
    """Single-process reference scorer: (n_terms, score) for one text;
    (None, None) for null text. Empty/whitespace-only text scores
    (0, 0) — a real document with zero features, not a parse error."""
    if text is None:
        return (None, None)
    terms = _terms(text, word_ngrams)
    if isinstance(weights, FormulaWeights):
        weight = weights.weight
    else:
        def weight(b: int) -> int:
            return weights.get(b, 0)
    return (
        len(terms),
        sum(weight(hashed_bucket_py(t, n_buckets)) for t in terms),
    )


def term_count(col: Column, word_ngrams: int) -> Column:
    """Codegen'd term count of the `_terms` contract: ``n`` tokens (a
    token is a maximal run outside the explicit whitespace class), or
    ``2n - 1`` with bigrams; 0 for empty text, null for null text.
    Both references to ``n`` are unconditional, so codegen evaluates the
    regex once per row (a CASE branch would evaluate it twice)."""
    n = F.regexp_count(col, F.lit(NON_WS_RUN)).cast("long")
    return n * 2 - F.least(n, F.lit(1)) if word_ngrams >= 2 else n


def hashed_term_score(
    col: Column, table, n_buckets: int, word_ngrams: int
) -> Column:
    """``sum(table.value[hashed_bucket_py(term, n_buckets)])`` over
    ``_terms(text, word_ngrams)`` — one Arrow-batched pandas UDF,
    ``LongType``, null for null text. ``table`` is a broadcast dense
    list of ``n_buckets`` ints, so every executor receives it once and
    no task re-serializes it."""

    @pandas_udf(T.LongType())
    def score(texts: pd.Series) -> pd.Series:
        w = table.value
        return pd.Series(
            [
                None if t is None else sum(
                    w[hashed_bucket_py(term, n_buckets)]
                    for term in _terms(t, word_ngrams)
                )
                for t in texts
            ],
            dtype="Int64",
        )

    return score(col)


def linear_text_classifier(
    df: DataFrame,
    text_col: str = "text",
    key_col: str = "doc_id",
    n_buckets: int = 1 << 18,
    word_ngrams: int = 2,
    weights: Mapping[int, int] | FormulaWeights | None = None,
    threshold: int = 0,
) -> DataFrame:
    """Score every document under a hashed-feature linear model.

    Returns ``(key_col, n_terms, score, label)``: ``score`` the exact
    integer sum of bucket weights over every term OCCURRENCE (fastText
    sums, it does not dedup), ``label = score > threshold``; null text
    yields null ``n_terms``/``score``/``label``.

    ``weights``: a ``{bucket: int}`` mapping (missing buckets weigh
    0) or a `FormulaWeights`; defaults to `formula_weights(n_buckets)`.
    Either form becomes one dense ``n_buckets``-entry table, shipped
    ONCE per executor via broadcast, never per task, and registered for
    `dedup.release_all_intermediates`.

    Plan shape: one ArrowEvalPython projection, ZERO exchanges
    (plan-asserted in tests) — inference runs at scan speed on any
    number of executors.
    """
    if weights is None:
        weights = formula_weights(n_buckets)
    if isinstance(weights, FormulaWeights):
        table = weights.weight(np.arange(n_buckets, dtype=np.int64)).tolist()
    else:
        table = [weights.get(b, 0) for b in range(n_buckets)]
    bc = df.sparkSession.sparkContext.broadcast(table)
    text = F.col(text_col)
    scored = df.select(
        F.col(key_col),
        term_count(text, word_ngrams).alias("n_terms"),
        hashed_term_score(text, bc, n_buckets, word_ngrams).alias("score"),
    )
    from py_schemax_spark.operators.dedup import _track_persisted

    return _track_persisted(
        scored.withColumn("label", F.col("score") > F.lit(threshold)),
        [bc],
    )


def confusion_report(
    df: DataFrame, pred_col: str, truth_col: str
) -> DataFrame:
    """Integer-exact binary-classifier evaluation: ONE row
    ``(tp, fp, fn, tn, n_null, precision_bp, recall_bp, f1_bp,
    accuracy_bp)``.

    The calibration check a corpus pipeline runs after (re)training
    its quality filter: joinable truth labels exist for a labelled
    slice, and precision/recall against them decides whether the new
    model ships. Rows where either column is null count only into
    ``n_null`` (a truth-less row is neither correct nor incorrect).
    Rates are basis points, floored — ``precision_bp =
    floor(10000*tp/(tp+fp))`` etc., null when the denominator is 0,
    ``f1_bp = floor(20000*tp / (2*tp + fp + fn))`` (exact-integer
    form, no float division anywhere).

    Plan shape: one aggregation to a single row; map-side combine
    collapses every partition to one partial before the 1-row
    shuffle. Scale-free.
    """
    p, t = F.col(pred_col), F.col(truth_col)
    valid = p.isNotNull() & t.isNotNull()

    def n(cond):
        return F.sum(F.when(cond, 1).otherwise(0)).cast("bigint")

    agg = df.agg(
        n(valid & p & t).alias("tp"),
        n(valid & p & ~t).alias("fp"),
        n(valid & ~p & t).alias("fn"),
        n(valid & ~p & ~t).alias("tn"),
        n(~valid).alias("n_null"),
    )
    return agg.select(
        "tp", "fp", "fn", "tn", "n_null",
        F.when(
            F.col("tp") + F.col("fp") > 0,
            F.expr("CAST((tp * 10000) div (tp + fp) AS BIGINT)"),
        ).alias("precision_bp"),
        F.when(
            F.col("tp") + F.col("fn") > 0,
            F.expr("CAST((tp * 10000) div (tp + fn) AS BIGINT)"),
        ).alias("recall_bp"),
        F.when(
            2 * F.col("tp") + F.col("fp") + F.col("fn") > 0,
            F.expr(
                "CAST((tp * 20000) div (2 * tp + fp + fn) AS BIGINT)"
            ),
        ).alias("f1_bp"),
        F.when(
            F.col("tp") + F.col("fp") + F.col("fn") + F.col("tn") > 0,
            F.expr(
                "CAST(((tp + tn) * 10000) div (tp + fp + fn + tn)"
                " AS BIGINT)"
            ),
        ).alias("accuracy_bp"),
    )
