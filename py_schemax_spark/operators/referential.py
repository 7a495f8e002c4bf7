"""Referential-integrity checks as broadcast anti-joins (SURVEY.md §2.2 V4).

Data-level re-expression of the reference's DependencyValidator
(``validator.py:226-316``): there, every path in ``depends_on`` /
``dependents`` must exist on disk (existence probe at 295-309). Here,
every value of a fact column must exist in a dimension table
(``lang`` → lang_dim, url-domain → domain_dim, ...).

Scale shape, two regimes:

- **broadcastable dimension** (the common case — a lang/country/
  category dim of ≤ millions of rows): forced ``F.broadcast``
  anti-join — a map-side hash probe with ZERO shuffle of the 100 TB
  fact side.
- **large dimension** (a URL allowlist, a crawl frontier — too big to
  broadcast): the fact's FULL ROWS still never shuffle. Its DISTINCT
  values do (map-side partial distinct first, so the exchange carries
  one row per distinct value, not per doc), anti-join against the
  dimension's key column (a key-only shuffle of the dim), and the
  resulting INVALID value set — pathological values, tiny by
  construction — broadcasts back as a ``left_semi`` probe that tags
  the violating rows in place. If even the invalid set exceeds the
  broadcast ceiling (the data is garbage wholesale) the tag join
  degrades to a plain shuffle semi-join, which is then genuinely
  unavoidable. Both strategy choices go through
  ``common.broadcast_gate`` — one bounded materialization, never a
  full count.

Nulls are excluded (they are the ``nullable`` constraint's job),
mirroring how the reference reports missing-field and bad-type
separately (validator.py:231-263) from existence (295-309).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from py_schemax_spark.operators.common import broadcast_gate
from py_schemax_spark.specs.model import TableSpec
from py_schemax_spark.verdict import empty_violations


def _large_dim_violation_rows(
    fact: DataFrame,
    col_name: str,
    dim_keys: DataFrame,
    max_invalid_broadcast_rows: int,
) -> DataFrame:
    """Rows of ``fact`` whose ``col_name`` is absent from ``dim_keys``
    (column ``_dim_value``), for dims too large to broadcast. The fact
    side is filtered by a semi-join against the (persisted, usually
    tiny) invalid-value set — full fact rows never enter an exchange.
    """
    from pyspark import StorageLevel

    # dedup's registry so long-lived sessions can bulk-release this
    # intermediate the same way as the LSH bucket tables
    from py_schemax_spark.operators.dedup import _track_persisted

    fact_vals = (
        fact.select(F.col(col_name).alias("_v"))
        .filter(F.col("_v").isNotNull())
        .distinct()
    )
    invalid = fact_vals.join(
        dim_keys, F.col("_v") == F.col("_dim_value"), "left_anti"
    ).persist(StorageLevel.MEMORY_AND_DISK)
    build, _ = broadcast_gate(invalid, max_invalid_broadcast_rows, "invalid")
    return _track_persisted(
        fact.join(build, F.col(col_name) == F.col("_v"), "left_semi"),
        [invalid],
    )


def referential_violations(
    df: DataFrame,
    spec: TableSpec,
    dims: dict[str, DataFrame],
    key_col: str | None = None,
    partition_expr=None,
    max_broadcast_rows: int | None = None,
    max_invalid_broadcast_rows: int = 4_000_000,
) -> DataFrame:
    """Violation rows for every column with a ``references`` constraint.

    ``dims`` maps dimension-table name → DataFrame. A referenced
    dimension missing from ``dims`` raises — that is a run-configuration
    error (the analogue of the reference's file_not_found on a
    depends_on path, validator.py:295-309, except fatal because the
    dimension is engine config, not user data).

    ``max_broadcast_rows=None`` (default) keeps the historical
    behavior: every dim is broadcast unconditionally, zero probe jobs.
    With a value set, each dim goes through ``broadcast_gate`` and
    dims above the ceiling take the distinct-keys path (module
    docstring) — pass ``0`` to force it (tests/benchmarks).
    """
    key = key_col or spec.key_column
    pcol = (
        [partition_expr.cast("string").alias("part")]
        if partition_expr is not None
        else []
    )
    parts = []
    for cs in spec.columns:
        if cs.references is None or cs.name not in df.columns:
            continue
        ref = cs.references
        if ref.table not in dims:
            raise KeyError(
                f"column '{cs.name}' references unknown dimension "
                f"'{ref.table}' — available: {sorted(dims)}"
            )
        # no .distinct(): anti-join semantics are unaffected by duplicate
        # keys on the build side, and dropping it removes the only
        # exchange in the whole plan (the dim fits one broadcast block)
        dim = dims[ref.table].select(F.col(ref.column).alias("_dim_value"))
        cid = f"{cs.name}.references"
        fact = df.select(key, cs.name, *pcol).filter(
            F.col(cs.name).isNotNull()
        )
        if max_broadcast_rows is None:
            build, small = F.broadcast(dim), True
        else:
            build, small = broadcast_gate(dim, max_broadcast_rows, ref.table)
        if small:
            bad = fact.join(
                build, F.col(cs.name) == F.col("_dim_value"), "left_anti"
            )
        else:
            bad = _large_dim_violation_rows(
                fact, cs.name, dim, max_invalid_broadcast_rows
            )
        parts.append(
            bad.select(
                F.col(key).cast("string").alias(key),
                F.lit(cid).alias("constraint_id"),
                F.col(cs.name).cast("string").alias("observed"),
                F.lit(f"{cs.name} in {ref.table}.{ref.column}").alias("expected"),
                *(["part"] if pcol else []),
            )
        )
    if not parts:
        return empty_violations(df, key, with_part=bool(pcol))
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


def cardinality_violations(
    df: DataFrame,
    spec,
    dims: dict[str, DataFrame],
    partition_expr=None,
) -> DataFrame:
    """Violation rows for every column whose ``references`` declares
    cardinality bounds (``min_rows``/``max_rows``) — dimension keys
    whose FACT-row count falls outside the declared range. The
    reverse direction of `referential_violations` (existence catches
    orphan fact values; this catches dim members with missing or
    runaway fact sets — a lang in the dim with zero pages means an
    ingest hole, one with 10^9 means an extractor loop).

    A TABLE-level class: a dim key's count spans partitions, so rows
    are attributed to the ``__table__`` pseudo-partition exactly like
    drift (`partition_summary` keeps them as a table-level row that
    counts in the run totals and fails the run, not a partition).

    Scale shape (via `operators.integrity.fk_cardinality_violations`):
    one fact-side aggregation with map-side combine, output bounded by
    dim cardinality, one key-granular left join on the dim.
    """
    from py_schemax_spark.operators.integrity import (
        fk_cardinality_violations,
    )

    key = spec.key_column
    pcol = (
        [F.lit("__table__").alias("part")]
        if partition_expr is not None
        else []
    )
    parts = []
    for cs in spec.columns:
        ref = cs.references
        if (
            ref is None
            or (ref.min_rows is None and ref.max_rows is None)
            or cs.name not in df.columns
        ):
            continue
        if ref.table not in dims:
            raise KeyError(
                f"column '{cs.name}' references unknown dimension "
                f"'{ref.table}' — available: {sorted(dims)}"
            )
        parent = dims[ref.table].select(
            F.col(ref.column).alias("_pk")
        ).distinct()
        mn = ref.min_rows if ref.min_rows is not None else 0
        viol = fk_cardinality_violations(
            parent, df, "_pk", cs.name,
            min_children=mn, max_children=ref.max_rows,
        )
        lo = str(ref.min_rows) if ref.min_rows is not None else "0"
        hi = str(ref.max_rows) if ref.max_rows is not None else "inf"
        parts.append(
            viol.select(
                F.col("key").cast("string").alias(key),
                F.lit(f"{cs.name}.cardinality").alias("constraint_id"),
                F.concat(
                    F.col("violation"), F.lit(": "),
                    F.col("n_children").cast("string"), F.lit(" rows"),
                ).alias("observed"),
                F.lit(
                    f"{lo}..{hi} rows per {ref.table}.{ref.column} value"
                ).alias("expected"),
                *pcol,
            )
        )
    if not parts:
        return empty_violations(df, key, with_part=bool(pcol))
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out
