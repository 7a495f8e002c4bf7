"""Distributed BPE tokenizer training (Sennrich et al. 2016).

A training-data pipeline that ships corpora also ships the TOKENIZER
trained on them; byte-pair encoding's training loop — repeatedly merge
the most frequent adjacent symbol pair — is the canonical algorithm
(GPT-2/RoBERTa/LLaMA vocabularies all start here). No reference
analogue (the reference validates schema metadata one file at a
time); this extends the LLM-pipeline operator set of SURVEY.md §2.4.

Scale shape (the classic word-frequency-table regime):

- The corpus collapses ONCE to a ``(word, cnt)`` table — one
  token-granular aggregation with map-side combine. Everything after
  runs on that table, capped at ``top_words`` by the DETERMINISTIC
  ``(cnt desc, word asc)`` order (a TakeOrderedAndProject, not a
  global sort) — the standard practical cap (a 10^12-token crawl has
  ~10^8 distinct words; the tail of hapaxes cannot win a merge
  anyway, and the cap makes the per-round cost independent of corpus
  size).
- Each merge round: one bounded pair-count aggregation over the word
  table (pairs built by ``zip_with`` over two slices of the
  MATERIALIZED symbol array — SURVEY §7), a 1-row ``orderBy/limit``
  collect for the winning pair with a total deterministic tie-break
  ``(count desc, left asc, right asc)``, and one Arrow-batched merge
  application (the left-to-right adjacent-pair rewrite is inherently
  sequential per word — a per-row loop over a BOUNDED table, not the
  corpus). Rounds are ``localCheckpoint``-ed with previous-round
  block release (the `pagerank`/`connected_components` idiom).
- Training stops early when no pair occurs twice (merging a
  singleton pair buys nothing).

Cross-engine contract: words are the `decontam` token normalization
(lowercase, explicit ``[ \\t\\n\\r\\f]+`` split); initial symbols are
single characters via the shared regex ``.`` (no newlines survive the
word split). The FIRST round's pair counts are therefore exactly
reproducible in SQL — the `bpe_pairs` oracle — while the iterative
merge sequence is pinned by a pure-Python twin in pytest
(`test_bpe.py`) and shipped as a rows-only query (`bpe_merges`).
"""

from __future__ import annotations

from typing import Optional

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.pandas.functions import pandas_udf
from pyspark.storagelevel import StorageLevel

from py_schemax_spark.operators.chunking import WS_CLASS


def word_freq_table(
    df: DataFrame,
    text_col: str = "text",
    top_words: Optional[int] = None,
) -> DataFrame:
    """``(word, cnt)`` — the corpus word-frequency table (decontam
    token contract), optionally capped at ``top_words`` rows in
    ``(cnt desc, word asc)`` order."""
    toks = df.select(
        F.split(F.lower(F.col(text_col)), WS_CLASS).alias("_t")
    ).select(
        F.explode(F.filter(F.col("_t"), lambda t: t != "")).alias("word")
    )
    wf = toks.groupBy("word").agg(
        F.count(F.lit(1)).cast("long").alias("cnt")
    )
    if top_words is not None:
        wf = wf.orderBy(F.desc("cnt"), F.asc("word")).limit(top_words)
    return wf


def _pair_counts(symed: DataFrame) -> DataFrame:
    """``(l, r, n)`` adjacent-pair counts over the symbolized word
    table, weighted by word frequency."""
    n1 = F.greatest(F.size("sym") - 1, F.lit(0))
    pairs = symed.select(
        "cnt",
        F.explode(
            F.zip_with(
                F.slice(F.col("sym"), 1, n1),
                F.slice(F.col("sym"), 2, n1),
                lambda a, b: F.struct(a.alias("l"), b.alias("r")),
            )
        ).alias("p"),
    )
    return pairs.groupBy(F.col("p.l").alias("l"),
                         F.col("p.r").alias("r")).agg(
        F.sum("cnt").cast("long").alias("n")
    )


def merge_pair_py(sym: list[str], left: str, right: str) -> list[str]:
    """Single-word left-to-right adjacent-pair merge — the pure-Python
    reference the Arrow UDF and the pytest twin share."""
    out: list[str] = []
    i = 0
    while i < len(sym):
        if i + 1 < len(sym) and sym[i] == left and sym[i + 1] == right:
            out.append(left + right)
            i += 2
        else:
            out.append(sym[i])
            i += 1
    return out


def _make_merge_udf(left: str, right: str):
    """Arrow UDF applying one (left, right) merge — built per round so
    the pair rides the closure (pandas_udf forbids extra parameters)."""

    @pandas_udf(T.ArrayType(T.StringType()))
    def apply_merge(syms: pd.Series) -> pd.Series:
        return pd.Series(
            [
                None if s is None else merge_pair_py(list(s), left, right)
                for s in syms
            ]
        )

    return apply_merge


def train_bpe(
    df: DataFrame,
    text_col: str = "text",
    n_merges: int = 20,
    top_words: Optional[int] = 100_000,
) -> DataFrame:
    """Learn ``n_merges`` BPE merges; returns a driver-built DataFrame
    ``(rank, left, right, pair_count)`` in merge order — the tokenizer
    artifact (apply order IS the rank order)."""
    if n_merges < 1:
        raise ValueError("train_bpe: n_merges must be >= 1")
    spark = df.sparkSession
    sc = spark.sparkContext
    wf = word_freq_table(df, text_col, top_words)
    symed = wf.select(
        "cnt",
        F.regexp_extract_all(F.col("word"), F.lit(r"."), 0).alias("sym"),
    ).localCheckpoint()
    from py_schemax_spark.operators.dedup import (
        _checkpoint_rdd_ids,
        _unpersist_rdd_ids,
    )

    prev_ids = _checkpoint_rdd_ids(symed)
    merges: list[tuple[int, str, str, int]] = []
    try:
        for rank in range(n_merges):
            top = (
                _pair_counts(symed)
                .orderBy(F.desc("n"), F.asc("l"), F.asc("r"))
                .limit(1)
                .collect()
            )
            if not top or top[0]["n"] < 2:
                break  # merging a singleton pair buys nothing
            left, right, n = top[0]["l"], top[0]["r"], top[0]["n"]
            merges.append((rank, left, right, int(n)))

            apply_merge = _make_merge_udf(left, right)

            stepped = symed.select(
                "cnt", apply_merge(F.col("sym")).alias("sym")
            ).localCheckpoint()
            new_ids = _checkpoint_rdd_ids(stepped)
            _unpersist_rdd_ids(sc, prev_ids)
            prev_ids = new_ids
            symed = stepped
    finally:
        _unpersist_rdd_ids(sc, prev_ids)
    return spark.createDataFrame(
        merges, "rank long, left string, right string, pair_count long"
    )


def bpe_pair_counts(
    df: DataFrame,
    text_col: str = "text",
    top_words: Optional[int] = None,
) -> DataFrame:
    """Round-1 adjacent character-pair counts — the SQL-reproducible
    half of BPE training (the `bpe_pairs` oracle)."""
    wf = word_freq_table(df, text_col, top_words)
    symed = wf.select(
        "cnt",
        F.regexp_extract_all(F.col("word"), F.lit(r"."), 0).alias("sym"),
    )
    return _pair_counts(symed)
