"""Rule-based document quality filters: Gopher rules and C4 heuristics.

The published web-corpus curation recipes (Gopher, Rae et al. 2021
§A1.1; C4, Raffel et al. 2020 §2.2) filter pages on cheap lexical
signals before any model-based scoring. This operator computes those
signals as pure codegen'd regexp projections — zero shuffles, fusing
into the validation scan like ``textstats``/``htmlstats`` — plus the
per-rule pass flags and a combined keep/drop verdict.

Contract notes (the cross-engine rules SURVEY §7 established):

- tokens are maximal runs of non-[ \\t\\n\\r\\f] (the explicit class
  identical in Java regex, RE2, and Python);
- every ratio is integer-exact basis points (``(10000 * num) div den``)
  so a ULP cannot move a rule boundary between engines;
- line-anchored counts avoid ``$``/``(?m)`` (whose terminator sets
  differ between Java regex and RE2) via the sentinel-newline trick:
  count ``\\n``-delimited shapes over ``'\\n' || text || '\\n'``;
- no lookarounds (RE2 oracle compatibility); the alpha-word count
  exploits greedy-match semantics instead: within one whitespace-free
  run, ``W*[a-zA-Z]W*`` (W = non-space) matches exactly once iff the
  run contains an ASCII letter, and never crosses whitespace.

Reference parity: the reference validates metadata only
(`py_schemax/validate.py`); document-quality filtering is engine-new
surface for the web-corpus north star.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from py_schemax_spark.operators.chunking import NON_WS_RUN, WS_CLASS
from py_schemax_spark.operators.common import check_passthrough_collisions

# --- shared lookaround-free patterns (imported by the SQL oracle) ----
# the token contract lives in chunking (one definition repo-wide);
# these are re-exported under this module's signal-oriented names
WORD_RE = NON_WS_RUN
WS_CHAR_RE = r"[ \t\n\r\f]"
# leading class EXCLUDES letters so the greedy prefix never has to
# backtrack to surrender the required [a-zA-Z] char (Java regex; RE2
# is linear either way and matches the same extents)
ALPHA_WORD_RE = r"[^ \t\n\r\fa-zA-Z]*[a-zA-Z][^ \t\n\r\f]*"
SYMBOL_RE = r"#|\.\.\.|…"
BULLET_LINE_RE = r"\n[ \t]*[-*•‣▪]"
ELLIPSIS_LINE_RE = r"(\.\.\.|…)[ \t]*\n"
SENTENCE_RE = r"[.!?]+"
TERMINAL_LINE_RE = r"""[.!?"'][ \t]*\n"""

# Gopher §A1.1 "must contain ≥2 of" stop set.
GOPHER_STOPWORDS = ["the", "be", "to", "of", "and", "that", "have", "with"]

# C4 §2.2 drop phrases (page-level, case-insensitive).
C4_BAD_PHRASES = ["lorem ipsum", "terms of use", "privacy policy", "uses cookies"]


def _div_bp(num: str, den: str) -> Column:
    """Integer-exact basis points over two already-named columns:
    ``(1e4·num) div den`` — true integral division, NOT a floored
    double quotient (which sits a ULP off an integer boundary and
    loses exactness past 2^53); null when the denominator is 0 (no
    words / no lines) or the text is null."""
    return F.when(
        F.col(den) > 0,
        F.expr(f"(cast({num} as bigint) * 10000) div {den}"),
    )


def _sentinel_lines(c: Column) -> Column:
    """Text wrapped in sentinel newlines so line-start/line-end shapes
    are plain ``\\n``-adjacent matches (no ``$`` semantics drift)."""
    return F.concat(F.lit("\n"), c, F.lit("\n"))


def _padded_tokens(lc: Column) -> Column:
    """Doubled-space token rendering for whole-token hit counting
    without lookarounds: every token ends up flanked by its OWN spaces
    (single-space normalization would make adjacent hits share a space
    and the second of ``'of of'`` would not count), so a whole-token
    occurrence of ``w`` is exactly a match of ``' w '``."""
    return F.concat(
        F.lit(" "),
        F.regexp_replace(F.trim(lc), WS_CLASS, "  "),
        F.lit(" "),
    )


def gopher_profile(
    df: DataFrame,
    text_col: str = "text",
    key_col: str = "doc_id",
    min_words: int = 50,
    max_words: int = 100_000,
    min_mean_word_len_x100: int = 300,
    max_mean_word_len_x100: int = 1000,
    max_symbol_bp: int = 1000,
    max_bullet_bp: int = 9000,
    max_ellipsis_bp: int = 3000,
    min_alpha_bp: int = 8000,
    min_stop_hits: int = 2,
    passthrough: bool = False,
) -> DataFrame:
    """Gopher quality-rule signals + per-rule flags + combined verdict.

    ``passthrough=True`` carries EVERY input column through instead of
    just the key — the whole computation stays one projection, so a
    curation pipeline can filter on ``gopher_pass`` without a join
    back (used by :mod:`py_schemax_spark.curate`).

    Output columns (one row per input row; null text → null signals,
    ``gopher_pass = false``):

    ``(key, n_words, mean_word_len_x100, symbol_bp, n_lines,
    bullet_bp, ellipsis_bp, alpha_bp, stop_hits,
    flag_word_count, flag_word_len, flag_symbol, flag_bullet,
    flag_ellipsis, flag_alpha, flag_stopword, gopher_pass)``

    Thresholds are the published defaults (50–100k words, mean word
    length 3–10 chars, ≤10% symbol-to-word, ≤90% bullet lines, ≤30%
    ellipsis lines, ≥80% alpha words, ≥2 stop words), overridable.
    One projection, all codegen'd regexp arithmetic: at 10^12 docs
    this runs in the scan stage with zero exchange.
    """
    c = F.col(text_col)
    sent = _sentinel_lines(c)
    # stop hits: whole-token membership in the Gopher stop set without
    # lookarounds — ONE alternation pass over the doubled-space
    # rendering (see _padded_tokens); distinct stop words can never
    # match at the same position, so the alternation count equals the
    # per-word sum, in 1 regex scan instead of len(stop set) scans
    stop_pat = " (" + "|".join(GOPHER_STOPWORDS) + ") "
    if passthrough:
        check_passthrough_collisions(
            df,
            ["n_words", "mean_word_len_x100", "symbol_bp", "n_lines",
             "bullet_bp", "ellipsis_bp", "alpha_bp", "stop_hits",
             "gopher_pass", "_n_words", "_word_chars", "_n_symbols",
             "_n_lines", "_bullets", "_ellipses", "_alpha_words",
             "_stop_hits"]
            + ["flag_word_count", "flag_word_len", "flag_symbol",
               "flag_bullet", "flag_ellipsis", "flag_alpha",
               "flag_stopword"],
            "gopher_profile",
        )
    base = list(df.columns) if passthrough else [key_col]
    # stage 1: raw counts as named columns so stage 2 can use `div`
    # (exact integral division needs SQL-text operands)
    raw = df.select(
        *[F.col(x) for x in base],
        F.regexp_count(c, F.lit(WORD_RE)).alias("_n_words"),
        # long BEFORE the ×100: a >21M-char doc would wrap 32-bit here
        F.length(F.regexp_replace(c, WS_CHAR_RE, ""))
        .cast("long")
        .alias("_word_chars"),
        F.regexp_count(c, F.lit(SYMBOL_RE)).alias("_n_symbols"),
        # lines = '\n'-delimited segments of the raw text (empty = 1;
        # null text propagates null through the count arithmetic)
        (F.regexp_count(c, F.lit(r"\n")) + F.lit(1)).alias("_n_lines"),
        F.regexp_count(sent, F.lit(BULLET_LINE_RE)).alias("_bullets"),
        F.regexp_count(sent, F.lit(ELLIPSIS_LINE_RE)).alias("_ellipses"),
        F.regexp_count(c, F.lit(ALPHA_WORD_RE)).alias("_alpha_words"),
        F.regexp_count(_padded_tokens(F.lower(c)), F.lit(stop_pat)).alias(
            "_stop_hits"
        ),
    )
    sig = raw.select(
        *[F.col(x) for x in base],
        F.col("_n_words").cast("long").alias("n_words"),
        F.when(
            F.col("_n_words") > 0,
            F.expr("(_word_chars * 100) div _n_words"),
        ).alias("mean_word_len_x100"),
        _div_bp("_n_symbols", "_n_words").alias("symbol_bp"),
        F.col("_n_lines").cast("long").alias("n_lines"),
        _div_bp("_bullets", "_n_lines").alias("bullet_bp"),
        _div_bp("_ellipses", "_n_lines").alias("ellipsis_bp"),
        _div_bp("_alpha_words", "_n_words").alias("alpha_bp"),
        F.col("_stop_hits").cast("long").alias("stop_hits"),
    )
    flags = {
        "flag_word_count": (F.col("n_words") >= min_words)
        & (F.col("n_words") <= max_words),
        "flag_word_len": (F.col("mean_word_len_x100") >= min_mean_word_len_x100)
        & (F.col("mean_word_len_x100") <= max_mean_word_len_x100),
        "flag_symbol": F.col("symbol_bp") <= max_symbol_bp,
        "flag_bullet": F.col("bullet_bp") <= max_bullet_bp,
        "flag_ellipsis": F.col("ellipsis_bp") <= max_ellipsis_bp,
        "flag_alpha": F.col("alpha_bp") >= min_alpha_bp,
        "flag_stopword": F.col("stop_hits") >= min_stop_hits,
    }
    flag_cols = [
        F.coalesce(v, F.lit(False)).alias(k) for k, v in flags.items()
    ]
    gopher_pass = None
    for v in flags.values():
        cv = F.coalesce(v, F.lit(False))
        gopher_pass = cv if gopher_pass is None else gopher_pass & cv

    return sig.select("*", *flag_cols, gopher_pass.alias("gopher_pass"))


def c4_profile(
    df: DataFrame,
    text_col: str = "text",
    key_col: str = "doc_id",
    min_sentences: int = 3,
    passthrough: bool = False,
) -> DataFrame:
    """C4-style page filters as one codegen'd projection.
    ``passthrough=True``: every input column rides along (see
    :func:`gopher_profile`).

    ``(key, n_sentences, terminal_line_bp, has_lorem_ipsum, has_curly,
    has_javascript, has_bad_phrase, c4_keep)`` — drop pages with
    ``{``/``}`` (leaked code), the word "javascript" (noscript
    warnings), "lorem ipsum", policy boilerplate phrases, or fewer
    than ``min_sentences`` terminal-punctuation sentences.
    ``terminal_line_bp`` is the share of lines ending in terminal
    punctuation (C4's line-level keep rule) in basis points — a
    doc-level roll-up so the filter stays a projection; the line-level
    transform itself is ``operators/lines.py``.
    """
    c = F.col(text_col)
    lc = F.lower(c)
    sent = _sentinel_lines(c)
    has_lorem = lc.contains("lorem ipsum")
    has_curly = c.contains("{") | c.contains("}")
    # whole-token "javascript" via the padded-token trick (see above)
    has_js = (
        F.regexp_count(_padded_tokens(lc), F.lit(" javascript ")) > 0
    )
    bad = None
    for p in C4_BAD_PHRASES:
        h = lc.contains(p)
        bad = h if bad is None else bad | h
    if passthrough:
        check_passthrough_collisions(
            df,
            ["n_sentences", "terminal_line_bp", "has_lorem_ipsum",
             "has_curly", "has_javascript", "has_bad_phrase", "c4_keep",
             "_n_sentences", "_n_lines", "_terminal"],
            "c4_profile",
        )
    base = list(df.columns) if passthrough else [key_col]
    raw = df.select(
        *[F.col(x) for x in base],
        F.regexp_count(c, F.lit(SENTENCE_RE)).alias("_n_sentences"),
        (F.regexp_count(c, F.lit(r"\n")) + F.lit(1)).alias("_n_lines"),
        F.regexp_count(sent, F.lit(TERMINAL_LINE_RE)).alias("_terminal"),
        has_lorem.alias("has_lorem_ipsum"),
        has_curly.alias("has_curly"),
        has_js.alias("has_javascript"),
        bad.alias("has_bad_phrase"),
    )
    keep = (
        F.coalesce(~F.col("has_lorem_ipsum"), F.lit(False))
        & F.coalesce(~F.col("has_curly"), F.lit(False))
        & F.coalesce(~F.col("has_javascript"), F.lit(False))
        & F.coalesce(~F.col("has_bad_phrase"), F.lit(False))
        & F.coalesce(F.col("_n_sentences") >= min_sentences, F.lit(False))
    )
    return raw.select(
        *[F.col(x) for x in base],
        F.col("_n_sentences").cast("long").alias("n_sentences"),
        _div_bp("_terminal", "_n_lines").alias("terminal_line_bp"),
        "has_lorem_ipsum",
        "has_curly",
        "has_javascript",
        "has_bad_phrase",
        keep.alias("c4_keep"),
    )


def induce_domain_blocklist(
    df: DataFrame,
    pass_col: str,
    domain_col: str = "domain",
    min_docs: int = 100,
    max_fail_bp: int = 5000,
) -> DataFrame:
    """Induce a domain blocklist from per-document quality verdicts.

    Classifier-driven domain filtering (RefinedWeb §3.1 curates the
    UT1 list this way; C4's spam-domain list is the same move): a
    domain whose sampled documents mostly fail the quality rules is
    blocked WHOLESALE, so later crawls skip it before fetching. Input
    is any per-document frame carrying ``domain_col`` and a boolean
    ``pass_col`` (``gopher_pass`` / ``c4_keep`` / a classifier
    verdict); a null verdict counts as a FAIL (an unscorable document
    is not evidence of quality).

    Output: one row per domain — ``(domain, n_docs, n_fail, fail_bp,
    blocked)`` where ``fail_bp = (10000 * n_fail) div n_docs``
    (integer-exact basis points) and ``blocked`` requires BOTH a
    minimum sample (``n_docs >= min_docs`` — a 1-doc domain is noise,
    not evidence) and ``10000 * n_fail > max_fail_bp * n_docs`` (the
    exact-integer form of ``fail_rate > max_fail_bp``, no float
    division on the decision path).

    Scale shape: ONE ``groupBy(domain)`` with map-side combine — the
    only exchange is domain-granular. The induced list is exactly the
    ``blocked_domains`` input shape of :func:`block_urls`
    (``.filter("blocked").select(F.col("domain"))``), closing the
    curate loop: induce on crawl N, block on crawl N+1.
    """
    fail = (~F.coalesce(F.col(pass_col), F.lit(False))).cast("long")
    agg = df.groupBy(F.col(domain_col).alias("domain")).agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(fail).alias("n_fail"),
    )
    return agg.select(
        "domain",
        "n_docs",
        "n_fail",
        # `div` = exact integral division (a floored double quotient
        # can sit a ULP off the expected value, same rule as _div_bp)
        F.expr("n_fail * 10000 div n_docs").cast("bigint").alias("fail_bp"),
        (
            (F.col("n_docs") >= min_docs)
            & (F.col("n_fail") * 10000 > F.lit(max_fail_bp) * F.col("n_docs"))
        ).alias("blocked"),
    )
