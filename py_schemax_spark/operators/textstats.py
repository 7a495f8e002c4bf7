"""Text analysis for training-data pipelines: token counting, quality
scoring, language-ID heuristic, document fingerprinting.

All JVM-side expressions (split / regexp / aggregate) — these run in
the same whole-stage-codegen pass as the constraint predicates, so
adding them to a validation scan is marginal-cost.
"""

from __future__ import annotations

import pandas as pd  # noqa: F401 — resolves pandas_udf type hints
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from py_schemax_spark.operators.chunking import NON_WS_RUN, WS_CLASS
from py_schemax_spark.operators.common import check_passthrough_collisions

# Small built-in stopword lists per language for the n-gram/stopword
# language-ID heuristic (public common-word lists).
_LANG_MARKERS: dict[str, list[str]] = {
    "en": ["the", "and", "of", "to", "is", "in", "that", "it", "for"],
    "de": ["der", "die", "das", "und", "ist", "nicht", "ein", "mit"],
    "fr": ["le", "la", "les", "et", "est", "pas", "pour", "que", "une"],
    "es": ["el", "la", "los", "que", "es", "de", "un", "una", "para"],
}

_EN_STOPWORDS = _LANG_MARKERS["en"] + ["a", "an", "on", "as", "at", "by"]

# BPE-ish token estimate: words + digit runs + punctuation marks each
# count; long words contribute extra subword units per 4 chars.
_WORD_RE = r"\s+"


def tokens(c: Column) -> Column:
    """Whitespace tokens of trimmed text (empty string → empty array)."""
    t = F.trim(c)
    return F.when(F.length(t) == 0, F.array().cast("array<string>")).otherwise(
        F.split(t, _WORD_RE)
    )


def token_count(c: Column) -> Column:
    """Whitespace token count as pure regexp arithmetic: the number of
    maximal non-space runs. Codegen'd JVM expression — no array is
    materialized (the HOF form ``size(tokens(c))`` builds the token
    array per row and runs interpreted; SURVEY §7)."""
    return F.regexp_count(c, F.lit(r"\S+"))


def bpe_token_estimate(c: Column) -> Column:
    """Deterministic BPE-ish token-count estimate: one unit per
    whitespace token plus one extra unit per full 4 chars beyond the
    first 4 of each token (long words split into subwords), plus one
    per punctuation mark.

    The per-token ``floor((len-1)/4)`` sum is expressed as a regexp
    count: non-overlapping matches of ``\\S{4}(?=\\S)`` within a token
    of length L number exactly floor((L-1)/4), so the whole estimate
    is three codegen'd regexp counts — no token array, no interpreted
    ``aggregate`` fold."""
    extra_units = F.regexp_count(c, F.lit(r"\S{4}(?=\S)"))
    punct = F.length(c) - F.length(F.regexp_replace(c, r"[^\w\s]", ""))
    return token_count(c) + extra_units + punct


def stopword_hits(c: Column, stopwords: list[str] | None = None) -> Column:
    """Count of whitespace tokens equal to a stopword, as one regexp
    count: ``(?<!\\S)(w1|w2|...)(?!\\S)`` matches a listed word exactly
    when it is a maximal non-space run (not preceded/followed by a
    non-space char — covers string boundaries too). Caller passes a
    lowercased column for case-insensitive semantics."""
    import re as _re

    # re.escape is Java-compatible here: it never escapes alphanumerics
    # (which Java would reject as unknown escapes), only metacharacters —
    # so caller-provided words like 'c++' or '.net' can't corrupt the
    # alternation or miscount.
    words = "|".join(_re.escape(w) for w in (stopwords or _EN_STOPWORDS))
    return F.regexp_count(c, F.lit(rf"(?<!\S)(?:{words})(?!\S)"))


def stopword_ratio(c: Column, stopwords: list[str] | None = None) -> Column:
    lc = F.lower(c)
    n = token_count(lc)
    hits = stopword_hits(lc, stopwords)
    return F.when(n > 0, F.round(hits / n, 4)).otherwise(F.lit(0.0))


def punct_ratio(c: Column) -> Column:
    n = F.length(c)
    p = n - F.length(F.regexp_replace(c, r"[^\w\s]", ""))
    return F.when(n > 0, F.round(p / n, 4)).otherwise(F.lit(0.0))


def quality_score(c: Column) -> Column:
    """Composite [0,1] quality heuristic: penalize too-short docs, low
    stopword ratio (non-linguistic content), high punctuation density.
    Deterministic, tunable; the point is the *shape* (pure column
    expression usable inside the validation scan)."""
    length_ok = F.least(F.length(c) / F.lit(200.0), F.lit(1.0))
    sw = F.least(stopword_ratio(c) * 4, F.lit(1.0))
    punct_pen = F.greatest(F.lit(1.0) - punct_ratio(c) * 5, F.lit(0.0))
    return F.round((length_ok + sw + punct_pen) / 3, 4)


def lang_id(c: Column) -> Column:
    """Marker-word language ID: the language whose stopword markers hit
    the most tokens; ``und`` (undetermined) when nothing hits. A cheap,
    deterministic stand-in for a real classifier — shape and plumbing
    (pure projection, no UDF) are what carry to production.

    Per-language marker hits are codegen'd regexp counts over the
    lowered text (see ``stopword_hits``) — the previous form built the
    token array once per language and filtered it in Catalyst's
    interpreter."""
    lc = F.lower(c)
    scores = []
    for lang, markers in _LANG_MARKERS.items():
        scores.append(
            F.struct(
                stopword_hits(lc, markers).alias("hits"),
                F.lit(lang).alias("lang"),
            )
        )
    best = F.greatest(*scores) if len(scores) > 1 else scores[0]
    return F.when(best["hits"] > 0, best["lang"]).otherwise(F.lit("und"))


def fingerprint(c: Column) -> Column:
    """Document fingerprint: md5 of the whitespace-normalized,
    lowercased text — the exact-dedup key, also usable as a stable
    content id across recrawls."""
    return F.md5(F.trim(F.regexp_replace(F.lower(c), r"\s+", " ")))


def rolling_fingerprints(
    df: DataFrame,
    text_col: str = "text",
    window: int = 8,
    out_col: str = "rfp",
) -> DataFrame:
    """Winnowing-style rolling hashes: xxhash64 of each ``window``-token
    shingle, appended as an ``array<long>`` column. JVM-side only.

    Round 3: DataFrame-level (was a Column fn composing HOFs over a
    computed token array — the SURVEY §7 anti-pattern): the token array
    and shingle index are materialized columns, so the transform lambda
    touches only attribute references. Also fixes a latent short-doc
    bug — ``sequence(1, 0)`` DESCENDS in Spark, so docs with fewer than
    ``window`` tokens used to emit two bogus windows; they now emit one
    fingerprint over all their tokens (mirroring the shingle padding
    semantics in dedup)."""
    out = (
        df.withColumn("_rf_toks", tokens(F.col(text_col)))
        .withColumn(
            "_rf_idx",
            F.sequence(
                F.lit(1),
                F.greatest(
                    F.size("_rf_toks") - (window - 1), F.lit(1)
                ),
            ),
        )
        .withColumn(
            out_col,
            F.transform(
                F.col("_rf_idx"),
                lambda i: F.xxhash64(
                    F.concat_ws(" ", F.slice(F.col("_rf_toks"), i, window))
                ),
            ),
        )
    )
    return out.drop("_rf_toks", "_rf_idx")


def repetition_profile(
    df: DataFrame, text_col: str = "text", key_col: str = "doc_id"
) -> DataFrame:
    """Gopher-style within-document repetition signals, integer-exact:

    ``(key, n_tokens, n_distinct, dup_token_bp, top_token_n,
    top_token)`` where ``dup_token_bp`` is the duplicated-token
    fraction in basis points (``floor((n_tokens - n_distinct) * 1e4 /
    n_tokens)``), ``top_token_n`` the highest single-token frequency
    and ``top_token`` the lexicographically-smallest token attaining
    it (deterministic tie-break). High ``dup_token_bp`` /
    ``top_token_n`` flag boilerplate and degenerate generations — the
    standard repetition filters in web-corpus curation.

    Shape at scale: explode → (key, tok) hash aggregation (word-count
    shape, map-side partial agg; exchange on (key, tok)) → per-key
    window (exchange on key) → filter-to-ties + final per-key agg,
    which REUSES the window's key partitioning — two exchanges total,
    no join. Docs with no tokens (empty/whitespace text) emit no row.
    """
    from pyspark.sql import Window

    k = F.col(key_col)
    toks = df.select(k, F.explode(tokens(F.col(text_col))).alias("tok"))
    tc = toks.groupBy(key_col, "tok").agg(F.count(F.lit(1)).alias("c"))
    w = Window.partitionBy(key_col)
    enriched = tc.select(
        key_col, "tok", "c",
        F.sum("c").over(w).alias("n_tokens"),
        F.count(F.lit(1)).over(w).alias("n_distinct"),
        F.max("c").over(w).alias("top_token_n"),
    )
    return (
        enriched.filter(F.col("c") == F.col("top_token_n"))
        .groupBy(key_col)
        .agg(
            F.max("n_tokens").cast("long").alias("n_tokens"),
            F.max("n_distinct").cast("long").alias("n_distinct"),
            F.floor(
                (F.max("n_tokens") - F.max("n_distinct")) * 10000
                / F.max("n_tokens")
            ).cast("long").alias("dup_token_bp"),
            F.max("top_token_n").cast("long").alias("top_token_n"),
            F.min("tok").alias("top_token"),
        )
    )


def text_profile(
    df: DataFrame, text_col: str = "text", key_col: str = "doc_id"
) -> DataFrame:
    """One-pass per-document text profile (the ``documents``-table
    analytics entry point)."""
    c = F.col(text_col)
    return df.select(
        F.col(key_col),
        token_count(c).alias("n_tokens"),
        F.length(c).alias("n_chars_actual"),
        bpe_token_estimate(c).alias("n_bpe_est"),
        stopword_ratio(c).alias("stopword_ratio"),
        punct_ratio(c).alias("punct_ratio"),
        quality_score(c).alias("quality"),
        lang_id(c).alias("lang_pred"),
        fingerprint(c).alias("fp"),
    )


def unigram_logprob_scores(
    df: DataFrame,
    text_col: str = "text",
    key_col: str = "doc_id",
    top_k: int = 50_000,
    passthrough: bool = False,
) -> DataFrame:
    """Corpus-level unigram log-probability quality score — a cheap,
    dependency-free stand-in for the KenLM-perplexity filter of
    CCNet-style pipelines: documents whose tokens are improbable under
    the corpus's own unigram distribution (gibberish, boilerplate code,
    wrong-language spill) score low.

    Two phases, the 100-TB shape:

    1. ONE token-granular shuffle builds the corpus unigram counts
       (map-side combine collapses within-partition duplicates); the
       driver collects only the TOP-``top_k`` vocabulary (bounded,
       deterministic tie-break: count desc, token asc) plus the total
       token count.
    2. Scoring runs IN-ROW in an Arrow UDF over the broadcast
       vocabulary dict — no second shuffle, no join back to a
       token-exploded corpus.

    Per-document score = mean over its tokens of
    ``ln(count(token)) - ln(total)`` with out-of-vocabulary tokens
    smoothed to count 1; null for token-less documents. Tokens are
    lowercased whitespace tokens (the ``decontam`` normalization).
    Returns ``(key_col, n_tokens, logprob)`` with ``logprob`` rounded
    to 4 decimals (SQL-reproducible: same counts, same ln, same
    rounding).
    """
    import math

    import pandas as pd
    from pyspark.sql import types as T
    from pyspark.sql.pandas.functions import pandas_udf

    # Token delimiter: the EXPLICIT class WS_CLASS, [ \t\n\r\f]+ —
    # identical in Java regex (here), Python (the scoring UDF), and RE2
    # (the SQL oracle). \s differs across the three on \x0B and Unicode
    # spaces.
    # materialize the token array BEFORE the HOF filter: a lambda over
    # a computed split() child re-evaluates the child per element
    # (SURVEY §7 — quadratic in tokens/doc); over an attribute
    # reference it is a single linear pass
    vocab = (
        df.select(F.split(F.lower(F.col(text_col)), WS_CLASS).alias("_t"))
        .select(
            F.explode(
                F.filter(F.col("_t"), lambda t: t != "")
            ).alias("tok")
        )
        .groupBy("tok")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    from pyspark import StorageLevel

    vocab = vocab.persist(StorageLevel.MEMORY_AND_DISK)
    total = vocab.agg(F.sum("cnt")).collect()[0][0] or 0
    top = vocab.orderBy(F.desc("cnt"), F.asc("tok")).limit(top_k).collect()
    vocab.unpersist()
    counts = {r["tok"]: r["cnt"] for r in top}
    ln_total = math.log(total) if total else 0.0

    # ship the vocabulary once per executor, not once per task: a
    # 50k-entry dict in the raw closure re-serializes with every task
    bc_counts = df.sparkSession.sparkContext.broadcast(counts)

    @pandas_udf(T.DoubleType())
    def score(texts: pd.Series) -> pd.Series:
        import re as _re

        # the same EXPLICIT whitespace class as the vocabulary phase
        # and the SQL oracle (see WS_CLASS above)
        ws = _re.compile(WS_CLASS)
        cnts = bc_counts.value
        out = []
        for t in texts:
            if t is None:
                out.append(None)
                continue
            toks = [w for w in ws.split(t.lower()) if w]
            if not toks:
                out.append(None)
                continue
            s = sum(math.log(cnts.get(w, 1)) for w in toks)
            out.append(s / len(toks) - ln_total)
        return pd.Series(out, dtype="float64")

    if passthrough:
        check_passthrough_collisions(
            df, ["n_tokens", "logprob"], "unigram_logprob_scores"
        )
    base = list(df.columns) if passthrough else [key_col]
    result = df.select(
        *[F.col(x) for x in base],
        # codegen'd regexp arithmetic over the SAME explicit class, so
        # n_tokens counts exactly the tokens the score averaged; null
        # text → null (SQL twin: len of a null token list)
        F.regexp_count(F.col(text_col), F.lit(NON_WS_RUN)).alias("n_tokens"),
        F.round(score(F.col(text_col)), 4).alias("logprob"),
    )
    # register the broadcast for bulk release (Broadcast.unpersist has
    # the same signature the registry calls on persisted DataFrames) —
    # without this every call leaks a vocabulary-sized broadcast for
    # the session lifetime
    from py_schemax_spark.operators.dedup import _track_persisted

    return _track_persisted(result, [bc_counts])


# ---------------------------------------------------------------------------
# Corpus vocabulary report


def vocab_stats(df: DataFrame, text_col: str = "text") -> DataFrame:
    """ONE-row corpus vocabulary report: total token count, distinct
    type count, hapax-legomena count (types occurring once), type-token
    ratio and hapax share in basis points, and the hottest type's count
    + corpus share — the Zipf/coverage summary a tokenizer-training or
    corpus-health pass starts from.

    Token contract shared with decontamination/unigram scoring:
    lowercase, split on the explicit whitespace class (RE2's exact
    ``\\s``), empties dropped — so the DuckDB oracle rebuilds the same
    universe verbatim.

    Scale shape: ONE token-granular aggregation with map-side combine
    (hot types collapse inside their map task; the reduce side is
    vocabulary-sized — unavoidable for EXACT type counts, which is the
    point of the report; use `stats.column_stats`'s HLL distinct for
    the sketched version), then a bounded second aggregation over the
    count table. No windows, no joins, nothing driver-side.
    """
    tok = F.explode(
        F.split(F.lower(F.col(text_col)), WS_CLASS)
    ).alias("tok")
    counts = (
        df.select(tok)
        .filter(F.col("tok") != "")
        .groupBy("tok")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    return counts.agg(
        F.sum("cnt").cast("long").alias("n_tokens"),
        F.count(F.lit(1)).cast("long").alias("n_types"),
        F.sum(F.when(F.col("cnt") == 1, 1).otherwise(0))
        .cast("long")
        .alias("n_hapax"),
        F.max("cnt").cast("long").alias("max_type_cnt"),
    ).select(
        "n_tokens",
        "n_types",
        "n_hapax",
        "max_type_cnt",
        F.expr("CAST((n_types * 10000) div n_tokens AS BIGINT)").alias(
            "ttr_bp"
        ),
        F.expr("CAST((n_hapax * 10000) div n_types AS BIGINT)").alias(
            "hapax_bp"
        ),
        F.expr(
            "CAST((max_type_cnt * 10000) div n_tokens AS BIGINT)"
        ).alias("top_share_bp"),
    )


# ---------------------------------------------------------------------------
# Unicode script mix


# Explicit codepoint ranges (NOT \p{L}-style properties, whose members
# drift across Unicode versions and engines): basic Latin letters +
# Latin-1/Extended-A/B, Cyrillic, CJK ideographs + kana, Arabic,
# Hangul syllables. Lookaround-free classes shared verbatim with the
# DuckDB oracle.
SCRIPT_CLASSES: dict[str, str] = {
    "latin": "[A-Za-z\u00c0-\u024f]",
    "cyrillic": "[\u0400-\u04ff]",
    "cjk": "[\u4e00-\u9fff\u3040-\u30ff]",
    "arabic": "[\u0600-\u06ff]",
    "hangul": "[\uac00-\ud7af]",
}


def script_profile(
    df: DataFrame, text_col: str = "text", key_col: str = "doc_id"
) -> DataFrame:
    """Per-document Unicode script mix — the wrong-lang-label /
    mixed-script-spam signal (a page labeled 'en' that is 60% CJK, or
    keyword-stuffed text interleaving scripts, is a curation drop).

    Per script class: a character count via codegen'd ``regexp_count``
    — five counts fused into ONE scan projection, zero exchanges, zero
    Python. Derived columns:

    - ``n_scripted``: total chars in any counted script;
    - ``dominant``: the class with the greatest count (ties resolved
      by the fixed declaration order of ``SCRIPT_CLASSES`` — the same
      CASE chain runs in the oracle), NULL when no scripted chars;
    - ``mixed``: at least two scripts present AND the non-dominant
      mass is >= 20% of the dominant count (integer arithmetic:
      ``(n_scripted - dom_cnt) * 5 >= dom_cnt``).

    Null text → zero counts, NULL dominant, not mixed.
    """
    c = F.coalesce(F.col(text_col), F.lit(""))
    cnt_cols = {
        name: F.regexp_count(c, F.lit(pat)).cast("long")
        for name, pat in SCRIPT_CLASSES.items()
    }
    names = list(SCRIPT_CLASSES)
    out = df.select(
        F.col(key_col),
        *[cnt_cols[n].alias(f"n_{n}") for n in names],
    )
    total = None
    for n in names:
        col = F.col(f"n_{n}")
        total = col if total is None else total + col
    dom_cnt = F.greatest(*[F.col(f"n_{n}") for n in names])
    # when() evaluates in declaration order, so the FIRST declared
    # script wins count ties — the oracle's CASE chain matches
    chain = None
    for n in names:
        cond = F.col(f"n_{n}") == F.col("_dom_cnt")
        chain = (
            F.when(cond, F.lit(n))
            if chain is None
            else chain.when(cond, F.lit(n))
        )
    out = out.withColumn("n_scripted", total).withColumn(
        "_dom_cnt", dom_cnt
    )
    out = out.withColumn(
        "dominant",
        F.when(F.col("n_scripted") == 0, F.lit(None).cast("string"))
        .otherwise(chain),
    )
    n_present = None
    for n in names:
        p = F.when(F.col(f"n_{n}") > 0, 1).otherwise(0)
        n_present = p if n_present is None else n_present + p
    out = out.withColumn(
        "mixed",
        (n_present >= 2)
        & (
            (F.col("n_scripted") - F.col("_dom_cnt")) * 5
            >= F.col("_dom_cnt")
        ),
    )
    return out.drop("_dom_cnt")
