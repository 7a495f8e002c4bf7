"""Extraction-invariant check: ``extract(html) == text`` byte-for-byte
per row (BASELINE.json input_hint — the engine's per-row invariant vs
the reference harness).

Row-local (resumable under checkpointing). The runner normally fuses
this check into the rows projection (``plans.compiler.
extraction_constraint``); this operator is the same constraint as a
plan of its own, for fail-fast (one probe per class) and for timing
the class alone. Either way the check is a codegen'd JVM expression —
a byte compare against the re-rendered template, with the full
template inverse only for rows that fail it — so no row crosses into
Python. It is the only check that reads the ``html`` payload bytes.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from py_schemax_spark.plans.compiler import extraction_constraint
from py_schemax_spark.specs.model import TableSpec


def extraction_violations(
    df: DataFrame,
    spec: TableSpec,
    key_col: str | None = None,
    partition_expr=None,
) -> DataFrame:
    """Rows whose extracted text differs from the stored text →
    ``(<key>, 'extraction', observed, expected)``. Null html with null
    text is consistent (no violation); unextractable html (corrupt
    payload → extractor returns null) against non-null text IS one."""
    rc = extraction_constraint(spec)
    assert rc is not None
    key = key_col or spec.key_column
    pcol = (
        [partition_expr.cast("string").alias("part")]
        if partition_expr is not None
        else []
    )
    return df.filter(rc.predicate).select(
        F.col(key).cast("string").alias(key),
        F.lit(rc.constraint_id).alias("constraint_id"),
        rc.observed.alias("observed"),
        F.lit(rc.expected).alias("expected"),
        *pcol,
    )
