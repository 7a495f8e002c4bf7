"""Unicode text normalization (pre-tokenization cleanup).

Web-extracted text mixes composed and decomposed Unicode forms
('café' appears both as U+00E9 and as 'e'+U+0301), carries stray
control characters from broken encodings, and pads words with
tab/space runs. Every downstream operator in this engine that keys on
exact strings — exact dedup, line dedup, shingles, token n-grams —
treats those as *different* documents, so corpus pipelines normalize
first (CCNet and C4 both canonicalize whitespace; Unicode TR#15
defines NFC as the interchange form). No reference analogue (the
reference validates schema files, not corpora); part of the north
star's training-pipeline toolkit.

Contract — a fixed four-step rewrite chosen so a SQL engine with
RE2 + utf8proc (DuckDB: ``nfc_normalize``) reproduces it
byte-for-byte, in this exact order:

1. **NFC** canonical composition of the raw text;
2. strip control characters ``[\\x00-\\x08\\x0B\\x0C\\x0E-\\x1F\\x7F]``
   (C0 minus tab/newline/CR/formfeed, plus DEL);
3. collapse horizontal-whitespace runs ``[ \\t]+`` to one space
   (newlines survive — line structure feeds line-level dedup);
4. trim leading/trailing ``[ \\t\\n\\r\\f]`` runs, anchored with
   ``\\A``/``\\z`` — NOT ``^``/``$``: Java's ``$`` also matches
   *before* a final line terminator even without MULTILINE, RE2's
   does not, so dollar-anchored trims disagree on texts ending in
   a newline. ``\\A``/``\\z`` mean the same thing in both engines.

Null text stays null at every step.

Scale shape: steps 2-4 are codegen'd JVM ``regexp_replace`` fused
into the scan projection. Step 1 is the one step Spark has no
built-in for — an Arrow-batched UDF, with a per-value
``str.isascii()`` short-circuit (C-speed scan, no allocation) so the
dominant ASCII web text pays no normalization work and non-ASCII
rows pay one ``unicodedata.normalize`` each. The plan is a pure
projection: one ArrowEvalPython stage, zero exchanges
(plan-asserted in tests).
"""

from __future__ import annotations

import unicodedata

import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.pandas.functions import pandas_udf

from py_schemax_spark.operators.common import check_passthrough_collisions

# shared with the SQL oracle (RE2 and Java regex read these the same:
# two-digit hex escapes, explicit classes, \A/\z anchors)
CTRL_RE = r"[\x00-\x08\x0B\x0C\x0E-\x1F\x7F]"
HWS_RUN_RE = r"[ \t]+"
LEAD_WS_RE = r"\A[ \t\n\r\f]+"
TRAIL_WS_RE = r"[ \t\n\r\f]+\z"


@pandas_udf(T.StringType())
def nfc_udf(s: pd.Series) -> pd.Series:
    """NFC canonical composition, null-preserving. ASCII values are
    returned as-is (NFC is the identity on ASCII; ``isascii`` is a
    C-level scan, so mostly-ASCII corpora skip the normalizer)."""
    return s.map(
        lambda v: v
        if v is None or v.isascii()
        else unicodedata.normalize("NFC", v)
    )


def normalize_expr(c: Column) -> Column:
    """The full four-step rewrite as one column expression."""
    n = nfc_udf(c)
    n = F.regexp_replace(n, CTRL_RE, "")
    n = F.regexp_replace(n, HWS_RUN_RE, " ")
    n = F.regexp_replace(n, LEAD_WS_RE, "")
    return F.regexp_replace(n, TRAIL_WS_RE, "")


def normalize_text(
    df: DataFrame,
    text_col: str = "text",
    key_col: str = "doc_id",
    passthrough: bool = False,
) -> DataFrame:
    """Per-document normalized text: ``(key_col, norm_text, n_raw,
    n_norm, changed)``.

    ``n_raw``/``n_norm`` are character counts before/after (null for
    null text); ``changed`` is false for null text. ``passthrough``
    carries every input column through (still one projection)."""
    if passthrough:
        check_passthrough_collisions(
            df,
            ["norm_text", "n_raw", "n_norm", "changed"],
            "normalize_text",
        )
    c = F.col(text_col)
    norm = normalize_expr(c)
    base = list(df.columns) if passthrough else [key_col]
    return df.select(
        *[F.col(x) for x in base],
        norm.alias("norm_text"),
        F.length(c).alias("n_raw"),
        F.length(norm).alias("n_norm"),
        F.coalesce(norm != c, F.lit(False)).alias("changed"),
    )


def normalize_py(v: str | None) -> str | None:
    """Driver-side python twin of :func:`normalize_expr` (tests)."""
    import re

    if v is None:
        return None
    n = v if v.isascii() else unicodedata.normalize("NFC", v)
    n = re.sub("[\x00-\x08\x0b\x0c\x0e-\x1f\x7f]", "", n)
    n = re.sub(r"[ \t]+", " ", n)
    n = re.sub(r"\A[ \t\n\r\f]+", "", n)
    return re.sub(r"[ \t\n\r\f]+\Z", "", n)


# ---------------------------------------------------------------------------
# Encoding-anomaly (mojibake) detection

# UTF-8-decoded-as-Latin-1 signatures, as plain character-class ranges
# (lookaround-free, no metacharacters inside the classes — valid and
# identical in Java regex and RE2, so the DuckDB oracle reuses them
# verbatim; codepoints spelled as escapes to keep the source ASCII).
# A continuation byte 0x80-0xBF renders as U+0080-U+00BF under
# Latin-1, but under cp1252 (the web's de-facto "latin-1") bytes
# 0x80-0x9F map to punctuation/letters (Euro sign, curly quotes,
# dagger, ...) — RIGHT-SINGLE-QUOTE mojibake is 'a-circumflex, Euro,
# trade-mark', whose tail chars are NOT in U+0080-U+00BF. The class
# below is the UNION of both renderings.
_CONT_CLASS = (
    "\u0080-\u00bf"
    "\u20ac\u201a\u0192\u201e\u2026\u2020\u2021\u02c6\u2030\u0160"
    "\u2039\u0152\u017d\u2018\u2019\u201c\u201d\u2022\u2013\u2014"
    "\u02dc\u2122\u0161\u203a\u0153\u017e\u0178"
)
_MB2_PAT = f"[\u00c2-\u00df][{_CONT_CLASS}]"
_MB3_PAT = f"[\u00e0-\u00ef][{_CONT_CLASS}][{_CONT_CLASS}]"
_FFFD_PAT = "\ufffd"
_C1_PAT = "[\u0080-\u009f]"


def encoding_anomalies(
    df: DataFrame,
    text_col: str = "text",
    key_col: str = "doc_id",
) -> DataFrame:
    """Per-document encoding-damage signals — the "was this page
    decoded with the wrong charset?" pre-filter every web-crawl
    pipeline runs before quality scoring (mojibake poisons token
    statistics silently; CCNet and ftfy both gate on it).

    Counts four independent artifacts, all codegen'd JVM
    ``regexp_count`` fused into ONE scan projection — zero exchanges,
    zero Python:

    - ``n_mb2``: UTF-8 two-byte sequences decoded as Latin-1 — a
      lead-byte char U+00C2-U+00DF followed by a continuation-byte
      char U+0080-U+00BF ('e-acute' becomes 'A-tilde + copyright-ish',
      NBSP becomes 'A-circumflex + U+00A0');
    - ``n_mb3``: three-byte sequences (curly quotes, em-dashes) —
      lead char U+00E0-U+00EF then TWO continuation-range chars;
    - ``n_fffd``: U+FFFD replacement characters (a decoder already
      gave up);
    - ``n_c1``: bare C1 control chars U+0080-U+009F (invalid in sane
      text; the residue zone of mojibake and cp1252 confusion).

    ``mojibake`` flags any hit. Counts overlap deliberately (a C1
    char inside an mb2 pair counts in both) — they are independent
    signals, not a partition. Null text scores zero counts, not
    flagged.
    """
    c = F.coalesce(F.col(text_col), F.lit(""))
    n_mb2 = F.regexp_count(c, F.lit(_MB2_PAT))
    n_mb3 = F.regexp_count(c, F.lit(_MB3_PAT))
    n_fffd = F.regexp_count(c, F.lit(_FFFD_PAT))
    n_c1 = F.regexp_count(c, F.lit(_C1_PAT))
    return df.select(
        F.col(key_col),
        n_mb2.cast("long").alias("n_mb2"),
        n_mb3.cast("long").alias("n_mb3"),
        n_fffd.cast("long").alias("n_fffd"),
        n_c1.cast("long").alias("n_c1"),
        ((n_mb2 > 0) | (n_mb3 > 0) | (n_fffd > 0) | (n_c1 > 0)).alias(
            "mojibake"
        ),
    )
