"""Uniqueness / primary-key checks (SURVEY.md §2.2 V3).

Data-level re-expression of the reference's UniqueFQNValidator
(``validator.py:183-223``): the reference keeps an in-memory
``fqn -> first file`` dict and flags the SECOND-seen file
(validator.py:207-220). At data scale the same semantics become:

- duplicate detection: hash-shuffle on the key + groupBy count — the
  shuffle moves only (key, partial count) pairs thanks to map-side
  partial aggregation, so it scales to 10^12 rows;
- duplicate ATTRIBUTION ("first wins, later rows are the violations"):
  a window ``row_number() over (partition by key order by order_col)``
  — deterministic order comes from the data (``warc_ts``), not arrival
  order, per SURVEY.md §7 hard-point (c).

Both plans shuffle once on hash(key); AQE skew-join/coalesce handles
hot keys at scale, and duplicate groups are tiny by assumption so the
window never sees a giant partition-by group.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from py_schemax_spark.specs.model import TableSpec
from py_schemax_spark.verdict import empty_violations


def duplicate_keys(df: DataFrame, key: str) -> DataFrame:
    """Keys appearing more than once → ``(<key>, dup_count)``.

    Map-side combine makes this the cheapest possible full-table
    uniqueness proof: one shuffle of pre-aggregated pairs.
    """
    return (
        df.filter(F.col(key).isNotNull())
        .groupBy(key)
        .agg(F.count(F.lit(1)).alias("dup_count"))
        .filter(F.col("dup_count") > 1)
    )


def uniqueness_violations(
    df: DataFrame,
    spec: TableSpec,
    key_col: str | None = None,
    order_col: str | None = None,
    partition_expr=None,
) -> DataFrame:
    """Violation rows for every ``unique`` / ``primary_key`` column.

    First occurrence (by ``order_col``, tie-broken by the key column
    itself for determinism) wins; later occurrences are flagged — the
    reference's "later file is the violation" semantics
    (validator.py:207-220) made deterministic.

    primary_key additionally implies non-null (reported by the
    ``nullable`` row constraint, not here).
    """
    key = key_col or spec.key_column
    pcol = (
        [partition_expr.cast("string").alias("part")]
        if partition_expr is not None
        else []
    )
    parts = []
    for cs in spec.columns:
        if not (cs.unique or cs.primary_key) or cs.name not in df.columns:
            continue
        order = order_col if order_col and order_col in df.columns else key
        w = (
            Window.partitionBy(cs.name)
            .orderBy(F.col(order).asc(), F.col(key).asc())
        )
        cid = f"{cs.name}.{'primary_key' if cs.primary_key else 'unique'}"
        parts.append(
            df.select(key, cs.name, *([order] if order != key else []), *pcol)
            .filter(F.col(cs.name).isNotNull())
            .withColumn("_rn", F.row_number().over(w))
            .filter(F.col("_rn") > 1)
            .select(
                F.col(key).cast("string").alias(key),
                F.lit(cid).alias("constraint_id"),
                F.col(cs.name).cast("string").alias("observed"),
                F.lit(f"{cs.name} is unique; first occurrence wins").alias(
                    "expected"
                ),
                *(["part"] if pcol else []),
            )
        )
    if not parts:
        return empty_violations(df, key, with_part=bool(pcol))
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out
