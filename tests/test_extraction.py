"""Byte-identical extraction invariant (BASELINE.json input_hint;
SURVEY.md §7 hard-point (b)): JVM expression(html) == pure-Python
reference extraction == stored text, byte-for-byte, including
multibyte and invalid UTF-8."""

from hypothesis import given, settings, strategies as st
from pyspark.sql import functions as F

from py_schemax_spark.functions.extraction import (
    _ESCAPES,
    _POST,
    _PRE,
    canonical_html,
    extract_text_expr,
    extract_text_py,
    render_html_expr,
    render_html_py,
)
from py_schemax_spark.operators.extraction_check import extraction_violations
from py_schemax_spark.runner import RunConfig, ValidationRun
from py_schemax_spark.sources.datagen import gen_pages
from py_schemax_spark.specs.loader import validate_spec_dict


def test_pure_python_roundtrip():
    cases = [
        "hello world",
        "",
        "multibyte: 日本語 café über Ελληνικά עברית",
        "escapes: a & b < c > d && <<>>",
        "mixed 中文 & <tags> ß",
    ]
    for text in cases:
        html = render_html_py(text)
        assert extract_text_py(html) == text
        # byte identity, not just str equality
        assert extract_text_py(html).encode("utf-8") == text.encode("utf-8")


def test_corrupt_html_returns_none():
    assert extract_text_py(b"\x00corrupt\x00") is None
    assert extract_text_py(None) is None
    assert extract_text_py(b"<html><body>no markers</body></html>") is None
    # invalid UTF-8 in the body
    bad = render_html_py("x")[:-len("</article></body></html>")]
    bad = bad + b"\xff\xfe" + b"</article></body></html>"
    assert extract_text_py(bad) is None


def test_jvm_renderer_matches_python_renderer(spark):
    texts = [
        "hello", "a & b < c > d", "日本語 straße", "",
    ]
    df = spark.createDataFrame([(t,) for t in texts], ["text"])
    rows = df.select(
        "text", render_html_expr(F.col("text")).alias("html")
    ).collect()
    for r in rows:
        assert bytes(r["html"]) == render_html_py(r["text"]), r["text"]


def test_expr_extraction_byte_identical_on_generated_pages(spark):
    # clean generation: EVERY row must extract byte-identically
    pages = gen_pages(spark, 1000, clean=True)
    mismatches = (
        pages.select(
            "text", extract_text_expr(F.col("html")).alias("extracted")
        )
        .filter(~F.col("extracted").eqNullSafe(F.col("text")))
        .count()
    )
    assert mismatches == 0


def test_expr_extraction_flags_only_corrupt_rows(spark):
    pages = gen_pages(spark, 2000)  # dirty: ~0.1% corrupt html
    df = pages.select(
        "html", "text", extract_text_expr(F.col("html")).alias("extracted")
    )
    mism = df.filter(~F.col("extracted").eqNullSafe(F.col("text")))
    # every mismatch must be a corrupt-html row, never a real-text row
    for r in mism.collect():
        assert extract_text_py(bytes(r["html"])) is None


# --- differential: the JVM expressions vs the Python reference ---------------

#: template markers, escapes, multibyte UTF-8, and byte sequences that
#: are not UTF-8: invalid bytes, a lone lead byte, a surrogate, a code
#: point above U+10FFFF, an overlong encoding, NUL
_ATOMS = [
    _PRE, _POST, b"&amp;", b"&lt;", b"&gt;", b"&", b"<", b">",
    "é".encode(), "日".encode(), "😀".encode(),
    b"\xff", b"\xc3", b"\xed\xa0\x80", b"\xf4\x90\x80\x80", b"\xc0\xaf",
    b"\x00",
]
_joined = st.lists(st.sampled_from(_ATOMS), max_size=8).map(b"".join)


def _render(text: bytes) -> bytes:
    for raw, esc in _ESCAPES:
        text = text.replace(raw, esc)
    return _PRE + text + _POST


@st.composite
def _page(draw):
    """(html, text) bytes: unrelated, or html rendered from text (so
    the canonical test is exercised on both sides), or null."""
    text = draw(st.none() | _joined)
    if text is not None and draw(st.booleans()):
        return _render(text), text
    return draw(st.none() | _joined), text


@settings(max_examples=25, deadline=None)
@given(st.lists(_page(), min_size=1, max_size=60))
def test_expr_matches_python_reference(spark, pages):
    df = spark.createDataFrame(pages, "html binary, raw binary").withColumn(
        "text", F.col("raw").cast("string")  # keeps invalid UTF-8 as is
    )
    rows = df.select(
        "html", "raw",
        extract_text_expr(F.col("html")).alias("extracted"),
        canonical_html(F.col("html"), F.col("text")).alias("canonical"),
    ).collect()
    for r in rows:
        html = None if r["html"] is None else bytes(r["html"])
        want = extract_text_py(html)
        assert r["extracted"] == want, html
        if r["canonical"]:
            # canonical proves the row clean: the reference extracts
            # exactly the stored text, which is valid UTF-8
            raw = None if r["raw"] is None else bytes(r["raw"])
            assert want == (None if raw is None else raw.decode("utf-8"))


def test_invalid_utf8_text_is_one_violation(spark):
    """A text holding invalid UTF-8, rendered into a template that
    byte-matches it: the canonical test must not pass it as clean, and
    extraction reports it (the body is not valid UTF-8)."""
    spec = validate_spec_dict({
        "fqn": "t", "key": "url",
        "extraction": {"source": "html", "target": "text"},
        "columns": [{"name": "url", "type": "string"},
                    {"name": "html", "type": "binary"},
                    {"name": "text", "type": "string"}],
    }).spec
    df = spark.createDataFrame(
        [("https://a", _PRE + b"\xff" + _POST, b"\xff")],
        "url string, html binary, raw binary",
    ).select("url", "html", F.col("raw").cast("string").alias("text"))
    for fail_mode in ("after", "fast"):  # fused, and a plan of its own
        res = ValidationRun(
            spark, spec, config=RunConfig(fail_mode=fail_mode)
        ).run(df)
        got = [(r["constraint_id"], r["observed"])
               for r in res.violations.collect()]
        assert got == [("html.extraction", "<unextractable>")]
        res.release()
    (row,) = extraction_violations(df, spec).collect()
    assert row["observed"] == "<unextractable>"
