from py_schemax_spark.functions.extraction import (
    extract_text_expr,
    extract_text_py,
    render_html_expr,
)

__all__ = ["extract_text_expr", "extract_text_py", "render_html_expr"]
