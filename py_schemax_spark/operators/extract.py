"""Main-content extraction from real-world HTML (jusText-style).

`functions.extraction` handles the engine's fixed reversible template
(the BASELINE byte-identity invariant). THIS module handles the other
extraction problem a crawl pipeline has: messy real-world pages where
the payload is navigation chrome, footers, and link farms around a
few content blocks. The classic heuristic family (jusText, boilerpipe,
trafilatura's fallback) scores block-level segments by TEXT LENGTH and
LINK DENSITY and keeps the content-like ones; this implements that as
pure codegen SQL — regexp splitting + nested higher-order functions —
with ZERO Python and ZERO shuffles, so it fuses into the corpus scan.
No reference analogue (the reference validates schema metadata); this
extends the LLM-pipeline operator set of SURVEY.md §2.4.

Pipeline per document (one projection):

1. decode binary html (UTF-8), drop ``<script>``/``<style>`` elements
   and HTML comments (content inside them is never text);
2. split on block-level tags (``p div h1-h6 li ul ol table tr td
   section article aside header footer nav main blockquote pre form
   hr br html head body title ...``) — the segment array is
   MATERIALIZED before any lambda touches it (a HOF over a computed
   child re-evaluates the child per element — SURVEY §7);
3. per segment (one ``transform``): visible text = inline-tag strip →
   whitespace collapse (explicit ``[ \\t\\n\\r\\f]+`` class) → trim →
   minimal entity unescape (``&lt; &gt; &amp;``, amp last); link
   character count = ``aggregate`` over
   ``regexp_extract_all(<a ...>(.*?)</a>)`` inner texts, each
   tag-stripped and collapsed the same way;
4. keep segments with ``len(text) >= min_block_chars`` and
   ``link_chars * 10000 <= max_link_density_bp * len(text)`` (integer
   cross-multiplication — no float on the decision boundary);
5. main text = kept block texts joined with ``\\n``.

Everything is deterministic string arithmetic, so an oracle can state
the expected output of a planted page in CLOSED FORM — a regression
anywhere in steps 1-5 breaks the hash.

100-TB shape: pure per-row projection, no exchanges (plan-asserted in
tests); the block array lives only inside the projection. At cluster
scale this is scan-bound, exactly like `quality.gopher_quality`.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from py_schemax_spark.operators.chunking import WS_CLASS

# Block-level boundary tags (opening or closing, with attributes).
_BLOCK_SPLIT = (
    r"(?i)</?(?:p|div|h[1-6]|li|ul|ol|dl|dt|dd|table|thead|tbody|tr|"
    r"td|th|section|article|aside|header|footer|nav|main|figure|"
    r"figcaption|blockquote|pre|form|fieldset|hr|br|html|head|body|"
    r"title)\b[^>]*>"
)


def _visible_text(seg: Column) -> Column:
    """Inline-tag strip → whitespace collapse → trim → minimal entity
    unescape (the `functions.extraction` escape set, amp LAST)."""
    t = F.regexp_replace(seg, r"(?s)<[^>]*>", " ")
    t = F.trim(F.regexp_replace(t, WS_CLASS, " "))
    t = F.replace(t, F.lit("&lt;"), F.lit("<"))
    t = F.replace(t, F.lit("&gt;"), F.lit(">"))
    return F.replace(t, F.lit("&amp;"), F.lit("&"))


def extract_main_content(
    df: DataFrame,
    html_col: str = "html",
    key_col: str = "url",
    min_block_chars: int = 40,
    max_link_density_bp: int = 3000,
) -> DataFrame:
    """``(key, main_text, n_blocks, n_kept, n_chars)`` — boilerplate-
    stripped main content per page.

    ``n_blocks`` counts segments with any visible text; ``n_kept`` the
    ones surviving the length + link-density gates; ``main_text`` is
    their ``\\n``-join ('' when nothing survives — a real page with no
    content, distinct from null html → all-null row).
    """
    if min_block_chars < 0 or max_link_density_bp < 0:
        raise ValueError(
            "min_block_chars and max_link_density_bp must be >= 0"
        )
    field = df.schema[html_col]
    raw: Column = F.col(html_col)
    if "binary" in field.dataType.simpleString():
        raw = F.decode(raw, "UTF-8")
    # script/style/comment CONTENT is never visible text
    cleaned = F.regexp_replace(
        raw, r"(?is)<(script|style)\b[^>]*>.*?</\1\s*>", " "
    )
    cleaned = F.regexp_replace(cleaned, r"(?s)<!--.*?-->", " ")

    with_blocks = df.select(
        F.col(key_col),
        F.col(html_col).isNull().alias("_null_html"),
        F.split(cleaned, _BLOCK_SPLIT).alias("_segs"),
    )
    # materialize per-segment (text, link_chars) BEFORE the gates so
    # the expensive regexps run once per segment
    scored = with_blocks.select(
        key_col,
        "_null_html",
        F.transform(
            F.col("_segs"),
            lambda x: F.struct(
                _visible_text(x).alias("txt"),
                F.aggregate(
                    F.regexp_extract_all(
                        x, F.lit(r"(?is)<a\b[^>]*>(.*?)</a\s*>"), 1
                    ),
                    F.lit(0),
                    lambda acc, y: acc + F.length(_visible_text(y)),
                ).alias("link_chars"),
            ),
        ).alias("_b"),
    )
    bl = F.col("_b")
    kept = F.filter(
        bl,
        lambda b: (F.length(b["txt"]) >= min_block_chars)
        & (
            b["link_chars"] * 10000
            <= F.lit(max_link_density_bp) * F.length(b["txt"])
        ),
    )
    nullify = F.col("_null_html")
    main = F.array_join(F.transform(kept, lambda b: b["txt"]), "\n")
    return scored.select(
        key_col,
        F.when(nullify, F.lit(None).cast("string"))
        .otherwise(main).alias("main_text"),
        F.when(nullify, F.lit(None).cast("long"))
        .otherwise(
            F.size(F.filter(bl, lambda b: F.length(b["txt"]) > 0))
            .cast("long")
        ).alias("n_blocks"),
        F.when(nullify, F.lit(None).cast("long"))
        .otherwise(F.size(kept).cast("long")).alias("n_kept"),
        F.when(nullify, F.lit(None).cast("long"))
        .otherwise(F.length(main).cast("long")).alias("n_chars"),
    )
