"""DSIR — Data Selection with Importance Resampling (Xie et al. 2023,
arXiv:2302.03169) over hashed n-gram features.

The standard recipe for steering a raw web crawl toward a target
domain (Wikipedia+books in the paper; any curated corpus in practice)
without training a classifier: fit bag-of-hashed-ngrams unigram
models ``p_target`` and ``p_raw``, weight every raw document by the
importance ratio ``log p_target(x) - log p_raw(x)``, then resample
proportionally. The part that must run at 10^12-document scale is the
weighting pass, and that is what this module implements. No reference
analogue (the reference, ``/root/reference/validator.py``, validates
schema metadata one file at a time); this extends the LLM-pipeline
operator set of SURVEY.md §2.4.

Scale shape:

- Feature bucketing is pure codegen SQL (``conv(substr(md5(term),1,8),
  16,10) % n_buckets`` — the `operators.classifier` bucket contract),
  so both models come from ONE token-granular aggregation over the
  union of the two corpora, grouped by ``(side, bucket)``, with
  map-side combine that collapses every partition to at most
  ``2 × n_buckets`` partial rows, and ONE collect. The raw corpus pays
  exactly one such pass.
- Both fitted models are ``n_buckets``-row tables — bounded by
  construction regardless of corpus size (the hashing trick's point).
  They collect to the driver (2 × n_buckets longs) and ship back once
  per executor as ONE broadcast array of per-bucket log-ratios.
- Scoring is the classifier's scorer: `classifier.term_count` and
  `classifier.hashed_term_score` against the broadcast ratio table, one
  Arrow-batched pandas UDF projection that carries every input column —
  ZERO shuffles, zero joins; it fuses into the corpus scan like
  `classifier.linear_text_classifier`, and selection is a filter over
  the same frame, so a caller never joins the corpus back to its scores.

Cross-engine contract (why the SCORE is hash-green oracle-able):

- tokens/terms/buckets: the `operators.classifier` contract verbatim
  (lowercase, explicit ``[ \\t\\n\\r\\f]+`` split, unigrams +
  space-joined bigrams, first-8-md5-hex-chars bucket).
- per-bucket log-ratio, INTEGER fixed-point::

      lam(b) = floor((ln(ct_b + 1) - ln(Tt + B)
                      - ln(cr_b + 1) + ln(Tr + B)) * 1_000_000)

  with ``ct/cr`` the target/raw bucket counts, ``Tt/Tr`` the term
  totals, ``B = n_buckets`` (Laplace smoothing). The four ``ln`` calls
  and the association order are written identically in Python
  (``math.log``) and the DuckDB oracle (``ln``) — same IEEE doubles,
  same libm, same floor — and everything AFTER the floor is integer
  arithmetic, so the document score ``sum(lam(bucket(term)))`` is
  associative and engine-exact on any partitioning.
- null text → null score; empty/whitespace-only text → (0, 0), a real
  document with zero features.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from py_schemax_spark.operators.chunking import WS_CLASS
from py_schemax_spark.operators.classifier import (
    hashed_term_score,
    term_count,
)

LAM_SCALE = 1_000_000


def _term_buckets(
    df: DataFrame, text_col: str, n_buckets: int, word_ngrams: int
) -> DataFrame:
    """Every column of ``df`` plus ``bucket``, one row per hashed term of
    each non-null text; Catalyst prunes the columns an aggregation does
    not read.

    Pure codegen (no Python): the token array is materialized BEFORE
    the bigram HOF (a lambda over a computed ``split()`` child
    re-evaluates the child per element — SURVEY §7), bigrams are a
    ``zip_with`` over two slices of that attribute reference, and the
    bucket is ``conv``/``md5`` arithmetic the SQL oracle reproduces
    verbatim.
    """
    c = F.col(text_col)
    toks = df.filter(c.isNotNull()).withColumn(
        "_t",
        F.filter(F.split(F.lower(c), WS_CLASS), lambda t: t != ""),
    )
    terms = F.col("_t")
    if word_ngrams >= 2:
        last = F.greatest(F.size("_t") - 1, F.lit(0))
        terms = F.concat(
            terms,
            F.zip_with(
                F.slice(terms, 1, last),
                F.slice(terms, 2, last),
                lambda a, b: F.concat_ws(" ", a, b),
            ),
        )
    return toks.select("*", F.explode(terms).alias("_term")).withColumn(
        "bucket",
        F.conv(F.substring(F.md5(F.col("_term")), 1, 8), 16, 10)
        .cast("long") % n_buckets,
    )


def hashed_term_buckets(
    df: DataFrame,
    text_col: str = "text",
    n_buckets: int = 4096,
    word_ngrams: int = 2,
) -> DataFrame:
    """``(bucket, cnt)`` hashed-term histogram of a corpus — one
    token-granular aggregation, output bounded at ``n_buckets`` rows."""
    return (
        _term_buckets(df, text_col, n_buckets, word_ngrams)
        .groupBy("bucket")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )


def _fit_log_ratios(
    raw_counts: dict[int, int],
    target_counts: dict[int, int],
    n_buckets: int,
) -> list[int]:
    """Per-bucket integer fixed-point log importance ratios — the
    EXACT expression (association order included) the DuckDB oracle
    mirrors; see the module docstring contract."""
    t_total = sum(target_counts.values())
    r_total = sum(raw_counts.values())
    ln_tt = math.log(t_total + n_buckets)
    ln_tr = math.log(r_total + n_buckets)
    return [
        math.floor(
            (
                math.log(target_counts.get(b, 0) + 1)
                - ln_tt
                - math.log(raw_counts.get(b, 0) + 1)
                + ln_tr
            )
            * LAM_SCALE
        )
        for b in range(n_buckets)
    ]


def dsir_weights(
    df: DataFrame,
    target: DataFrame,
    text_col: str = "text",
    n_buckets: int = 4096,
    word_ngrams: int = 2,
) -> DataFrame:
    """Importance-weight every document of ``df`` toward ``target``.

    Returns every column of ``df`` plus ``n_terms`` and ``dsir_score``,
    the integer fixed-point ``sum(lam(bucket(term)))`` — larger means
    more target-like. Both models come from ONE aggregation over the
    two corpora, tagged by side. Scoring is a projection, so Catalyst
    prunes whatever a caller does not read, and selection is a filter
    on the scored frame (`dsir_select`) or hash-deterministic
    resampling on the score.
    """
    if n_buckets <= 0:
        raise ValueError(f"n_buckets must be positive, got {n_buckets}")
    sides = df.select(F.lit(False).alias("_tgt"), F.col(text_col)).union(
        target.select(F.lit(True).alias("_tgt"), F.col(text_col))
    )
    raw_hist: dict[int, int] = {}
    tgt_hist: dict[int, int] = {}
    for r in (
        _term_buckets(sides, text_col, n_buckets, word_ngrams)
        .groupBy("_tgt", "bucket")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .collect()
    ):
        (tgt_hist if r["_tgt"] else raw_hist)[r["bucket"]] = r["cnt"]
    lam = _fit_log_ratios(raw_hist, tgt_hist, n_buckets)

    # ship the ratio table once per executor (classifier idiom); a
    # raw-closure list re-serializes with every task
    bc_lam = df.sparkSession.sparkContext.broadcast(lam)

    c = F.col(text_col)
    result = df.withColumns({
        "n_terms": term_count(c, word_ngrams),
        "dsir_score": hashed_term_score(c, bc_lam, n_buckets, word_ngrams),
    })
    from py_schemax_spark.operators.dedup import _track_persisted

    return _track_persisted(result, [bc_lam])


def dsir_select(
    weights: DataFrame,
    min_score_per_kterm: int,
    score_col: str = "dsir_score",
    n_terms_col: str = "n_terms",
) -> DataFrame:
    """Threshold selection on LENGTH-NORMALIZED importance: keep
    documents with ``score * 1000 >= min_score_per_kterm * n_terms``
    (integer cross-multiplication — no float division on the decision
    boundary). Zero-term and null-score documents are dropped. A pure
    filter: fuses into the weights projection, scale-free."""
    s, n = F.col(score_col), F.col(n_terms_col)
    return weights.filter(
        s.isNotNull()
        & (n > 0)
        & (s * 1000 >= F.lit(int(min_score_per_kterm)) * n)
    )
