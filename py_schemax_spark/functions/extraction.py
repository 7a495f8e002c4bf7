"""Deterministic text extraction from html payloads.

The per-row invariant of the engine (BASELINE.json input_hint): the
text extracted from ``html`` must be BYTE-identical to the stored
``text`` column for every url. The html is rendered from the text
through a fixed template, so extraction is the template's exact
inverse, and that inverse is written here as Catalyst expressions:
the check fuses into the rows projection and runs in the JVM, with no
Python worker and no Arrow transfer (SURVEY.md §2.4; *Accelerating
Python UDFs in Vectorized Query Execution*, CIDR 2022).

Byte identity holds because no step goes through a lossy charset
coding: the payload is decoded as ISO-8859-1 (one char per byte, so
string positions are byte offsets), the body is re-encoded to its
exact bytes, and UTF-8 validity is tested, not repaired
(SURVEY.md §7 hard-point (b)).

- ``extract_text_expr`` is the inverse; ``canonical_html`` proves a
  row clean with one byte compare against the re-rendered template,
  so the inverse only runs on the rare row that is not canonical.
- ``extract_text_py`` is the single-process pure-Python reference;
  pytest asserts expr(html) == reference(html) over generated bytes.
"""

from __future__ import annotations

from typing import Optional

from pyspark.sql import Column
from pyspark.sql import functions as F

# Fixed reversible template (FIXTURES.md §1): html is rendered from
# text, so extraction has a known byte-exact inverse.
_PRE = b"<html><head><title>d</title></head><body><article>"
_POST = b"</article></body></html>"

# minimal HTML escaping — order matters (& first on escape, last on unescape)
_ESCAPES = [(b"&", b"&amp;"), (b"<", b"&lt;"), (b">", b"&gt;")]


def render_html_py(text: Optional[str]) -> Optional[bytes]:
    """Pure-Python renderer (inverse of extraction); used by datagen
    tests to cross-check the JVM-side renderer expression."""
    if text is None:
        return None
    body = text.encode("utf-8")
    for raw, esc in _ESCAPES:
        body = body.replace(raw, esc)
    return _PRE + body + _POST


def _escape(text_col: Column) -> Column:
    for raw, esc in _ESCAPES:
        text_col = F.replace(
            text_col, F.lit(raw.decode()), F.lit(esc.decode())
        )
    return text_col


def _template(body: Column) -> Column:
    return F.concat(F.lit(_PRE.decode()), body, F.lit(_POST.decode()))


def render_html_expr(text_col: Column) -> Column:
    """JVM-side renderer: same bytes as ``render_html_py``, built from
    codegen'd string functions so datagen needs no Python at scale."""
    return F.encode(_template(_escape(text_col)), "UTF-8")


def extract_text_py(html: Optional[bytes]) -> Optional[str]:
    """Single-process reference extractor: bytes in, str out.

    Returns None for unparseable payloads (missing markers / bad UTF-8)
    — the corrupt-record path (analogue of parse_error,
    reference validator.py:71-84).
    """
    if html is None:
        return None
    i = html.find(_PRE)
    j = html.rfind(_POST)
    if i < 0 or j < 0 or j < i + len(_PRE):
        return None
    body = html[i + len(_PRE): j]
    for raw, esc in reversed(_ESCAPES):
        body = body.replace(esc, raw)
    try:
        return body.decode("utf-8")
    except UnicodeDecodeError:
        return None


def extract_text_expr(html: Column) -> Column:
    """Byte-exact JVM twin of ``extract_text_py`` over a binary column:
    the body between the first ``_PRE`` and the last ``_POST``, null
    when a marker is missing or the body is not valid UTF-8, unescaped
    in reverse render order (``&amp;`` last)."""
    latin = F.decode(html, "ISO-8859-1")  # one char per byte
    i = F.instr(latin, _PRE.decode())  # 1-based, 0 = absent
    # the last _POST is the first reversed _POST in the reversed payload
    k = F.instr(F.reverse(latin), _POST[::-1].decode())
    start = i + len(_PRE)  # 1-based body start
    stop = F.length(latin) - k - len(_POST) + 2  # 1-based, exclusive
    body = F.encode(latin.substr(start, stop - start), "ISO-8859-1").cast(
        "string"
    )
    text = body
    for raw, esc in reversed(_ESCAPES):
        text = F.replace(text, F.lit(esc.decode()), F.lit(raw.decode()))
    found = (i > 0) & (k > 0) & (stop >= start)
    return F.when(found & F.is_valid_utf8(body), text)


def canonical_html(html: Column, text: Column) -> Column:
    """True when ``html`` is exactly the template rendered from a
    valid-UTF-8 ``text`` (both null counts), which proves
    ``extract_text_py(html) == text``. Compared as raw bytes: the
    binary→string cast does no charset coding."""
    rendered = _template(_escape(text))
    return html.cast("string").eqNullSafe(rendered) & F.coalesce(
        F.is_valid_utf8(text), F.lit(True)
    )
