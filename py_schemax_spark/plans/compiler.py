"""PlanCompiler: ConstraintSpec IR → vectorized Column expressions.

This is the data-level analogue of the reference's one-time model
compilation (``validator.py:99-101`` builds the Pydantic validator once
per run, then reuses it per file): we compile each column's constraints
into JVM-side ``Column`` predicates ONCE, and Catalyst evaluates all of
them over every row in a single whole-stage-codegen'd projection —
the equivalent of Pydantic collecting ALL errors per document
(validator.py:106) rather than stopping at the first.

Violation rows carry (constraint_id, observed, expected):

- ``constraint_id`` = ``column.constraint`` (e.g. ``text.min_length``) —
  the analogue of the reference's JSONPath error_at
  (``$.columns[0].min_length``, validator.py:130-142)
- ``expected`` = human-readable message built at compile time with
  ``F.lit`` — the analogue of the message rewriting at
  validator.py:144-180
- ``observed`` = the offending value (stringified, truncated)

Everything here is pure expression construction — no action, no UDF.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from py_schemax_spark.functions.extraction import (
    canonical_html,
    extract_text_expr,
)
from py_schemax_spark.specs.model import ColumnSpec, TableSpec

# Observed values are truncated so violation rows stay small even when
# the offending column is a multi-KB document body.
_OBSERVED_MAX_LEN = 256

_SPARK_TYPE_NAME = {
    "string": "string",
    "integer": "bigint",
    "float": "double",
    "boolean": "boolean",
    "date": "date",
    "datetime": "timestamp",
    "binary": "binary",
}


@dataclass(frozen=True)
class RowConstraint:
    """One compiled row-level constraint.

    ``predicate`` is TRUE when the row VIOLATES the constraint (null
    predicate = not applicable = no violation, so e.g. ``min_length``
    does not double-report null values — those are ``nullable``'s job).
    """

    constraint_id: str
    predicate: Column
    observed: Column
    expected: str


def _obs(col: Column) -> Column:
    return F.substring(col.cast("string"), 1, _OBSERVED_MAX_LEN)


def _actual_type(df: DataFrame, name: str) -> T.DataType:
    return df.schema[name].dataType


def compile_row_constraints(
    df: DataFrame, spec: TableSpec
) -> list[RowConstraint]:
    """Compile every row-expressible constraint in ``spec`` against the
    actual schema of ``df``.

    Set-wise constraints (unique/primary_key → operators/uniqueness.py,
    references → operators/referential.py, drift → operators/drift.py)
    are NOT produced here — they need shuffles/joins, not projections.
    """
    out: list[RowConstraint] = []
    present = set(df.columns)
    for cs in spec.columns:
        if cs.name not in present:
            # Missing column: constant-true violation on every row would
            # be wasteful; surfaced instead by schema_conformance().
            continue
        c = F.col(cs.name)
        actual = _actual_type(df, cs.name)
        want = _SPARK_TYPE_NAME[cs.type]

        # type conformance: when the physical column is a string but the
        # spec declares a stronger type, every row must cast cleanly
        # (schema-on-read mismatch, SURVEY.md §2.1 S5). For date/datetime
        # columns with a declared format, a value is type-conformant if
        # EITHER the lenient cast OR the declared-format parse succeeds —
        # otherwise a non-ISO format like '%d/%m/%Y' would make every
        # conforming value a `.type` false positive (the lenient cast
        # only accepts ISO-like shapes).
        if isinstance(actual, T.StringType) and cs.type not in ("string", "binary"):
            parsed = c.try_cast(want)
            if cs.type in ("date", "datetime") and cs.format:
                fmt_parsed = F.try_to_timestamp(
                    c, F.lit(_to_spark_fmt(cs.format))
                )
                type_pred = (
                    c.isNotNull() & parsed.isNull() & fmt_parsed.isNull()
                )
            else:
                type_pred = c.isNotNull() & parsed.isNull()
            out.append(
                RowConstraint(
                    f"{cs.name}.type",
                    type_pred,
                    _obs(c),
                    f"value castable to {cs.type}",
                )
            )

        if not cs.nullable:
            out.append(
                RowConstraint(
                    f"{cs.name}.nullable",
                    c.isNull(),
                    F.lit(None).cast("string"),
                    f"{cs.name} is not nullable",
                )
            )
        if cs.min_length is not None:
            out.append(
                RowConstraint(
                    f"{cs.name}.min_length",
                    F.length(c) < cs.min_length,
                    F.concat(F.lit("length="), F.length(c).cast("string")),
                    f"length({cs.name}) >= {cs.min_length}",
                )
            )
        if cs.max_length is not None:
            out.append(
                RowConstraint(
                    f"{cs.name}.max_length",
                    F.length(c) > cs.max_length,
                    F.concat(F.lit("length="), F.length(c).cast("string")),
                    f"length({cs.name}) <= {cs.max_length}",
                )
            )
        if cs.pattern is not None:
            out.append(
                RowConstraint(
                    f"{cs.name}.pattern",
                    ~c.rlike(cs.pattern),
                    _obs(c),
                    f"{cs.name} matches /{cs.pattern}/",
                )
            )
        if cs.minimum is not None:
            out.append(
                RowConstraint(
                    f"{cs.name}.minimum",
                    c < F.lit(cs.minimum),
                    _obs(c),
                    f"{cs.name} >= {cs.minimum}",
                )
            )
        if cs.maximum is not None:
            out.append(
                RowConstraint(
                    f"{cs.name}.maximum",
                    c > F.lit(cs.maximum),
                    _obs(c),
                    f"{cs.name} <= {cs.maximum}",
                )
            )
        # datetime/date `format` conformance on STRING physical columns:
        # one violation per cause — garbage that fails even the lenient
        # cast is `.type`'s; a parseable value in the WRONG declared
        # format is `.format`'s (reference models.py:82-103 declares
        # format/timezone; the reference never checks data, we do).
        if (
            cs.type in ("date", "datetime")
            and cs.format
            and isinstance(actual, T.StringType)
        ):
            parsed = F.try_to_timestamp(c, F.lit(_to_spark_fmt(cs.format)))
            out.append(
                RowConstraint(
                    f"{cs.name}.format",
                    c.isNotNull()
                    & c.try_cast("timestamp").isNotNull()
                    & parsed.isNull(),
                    _obs(c),
                    f"{cs.name} parses with format '{cs.format}'",
                )
            )
        # datetime `timezone` conformance: for string physical columns
        # the declared timezone is the required literal UTC-offset
        # suffix ('UTC' accepts Z / +00:00 / +0000). For TIMESTAMP
        # physical columns both format and timezone are a documented
        # no-op (Spark timestamps are UTC-normalized instants; the
        # source offset is not recoverable) — warned once at compile.
        if (
            cs.type == "datetime"
            and cs.timezone
            and isinstance(actual, T.StringType)
        ):
            if cs.timezone.upper() in ("UTC", "Z", "+00:00"):
                tz_re = r"(Z|\+00:?00)$"
            else:
                import re as _re

                tz_re = _re.escape(cs.timezone) + "$"
            out.append(
                RowConstraint(
                    f"{cs.name}.timezone",
                    c.isNotNull() & ~c.rlike(tz_re),
                    _obs(c),
                    f"{cs.name} carries timezone {cs.timezone}",
                )
            )
        if (
            cs.type in ("date", "datetime")
            and cs.format
            and isinstance(actual, (T.TimestampType, T.DateType))
        ):
            # `format` stays a documented no-op on typed columns (the
            # source text is gone after parsing); `timezone` on typed
            # columns IS checked — as a session-timezone assertion in
            # schema_conformance(), since Spark timestamps are
            # UTC-normalized instants whose meaning depends on the
            # session zone they were parsed in.
            import warnings as _warnings

            _warnings.warn(
                f"column '{cs.name}': declared format is a no-op on a "
                f"physical {actual.simpleString()} column (already "
                "parsed)",
                stacklevel=2,
            )

        if cs.precision is not None and cs.type == "float":
            out.append(
                RowConstraint(
                    f"{cs.name}.precision",
                    F.abs(c - F.round(c, cs.precision)) > F.lit(1e-9),
                    _obs(c),
                    f"{cs.name} has at most {cs.precision} decimal places",
                )
            )

    # table-level conditional checks (CheckSpec): fuse into the same
    # projection — a spec with 50 checks still costs ONE scan. 3VL per
    # CheckSpec's contract: row in scope iff `when` is TRUE; in-scope
    # rows violate iff `expect` is not TRUE (null expect = violation:
    # an unverifiable expectation is not a verified one). `observed`
    # renders the expect expression's actual value (false/NULL).
    for chk in spec.checks:
        expect_c = F.expr(chk.expect)
        not_ok = ~expect_c.eqNullSafe(F.lit(True))
        pred = (
            F.expr(chk.when).eqNullSafe(F.lit(True)) & not_ok
            if chk.when
            else not_ok
        )
        expected = (
            f"{chk.expect} (when {chk.when})" if chk.when else chk.expect
        )
        out.append(
            RowConstraint(
                f"check.{chk.name}",
                pred,
                _obs(F.concat(
                    F.lit(f"({chk.expect}) = "),
                    F.coalesce(expect_c.cast("string"), F.lit("NULL")),
                )),
                expected,
            )
        )
    return out


def extraction_constraint(spec: TableSpec) -> RowConstraint | None:
    """Extraction invariant as a RowConstraint, so it fuses into the
    same single-scan projection as every other row check, in the JVM.

    A canonical row (html is the template rendered from text) is clean
    after one byte compare; only the rare other row pays for the full
    inverse, which is why it sits in the ELSE branch."""
    if spec.extraction is None:
        return None
    src, tgt = spec.extraction.source, spec.extraction.target
    html, text = F.col(src), F.col(tgt)
    extracted = extract_text_expr(html)
    return RowConstraint(
        f"{src}.extraction",
        F.when(canonical_html(html, text), F.lit(False)).otherwise(
            ~extracted.eqNullSafe(text)
        ),
        _obs(F.coalesce(extracted, F.lit("<unextractable>"))),
        f"extract({src}) == {tgt} (byte-identical)",
    )


#: referential dims at or below this cardinality compile to a literal
#: IN-list predicate (fuses into the row projection, removing even the
#: broadcast-join stage); larger dims use the broadcast anti-join.
LITERAL_DIM_MAX = 1000


def referential_literal_constraints(
    df: DataFrame, spec: TableSpec, dims: dict[str, DataFrame]
) -> tuple[list[RowConstraint], list]:
    """Split referential checks: (literal-isin RowConstraints for tiny
    dims, remaining ColumnSpecs needing the anti-join path).

    A tiny dimension's values are collected once on the driver and
    folded into the compiled plan as an IN-list — the check becomes a
    row-local predicate in the SAME scan as everything else: zero
    joins, zero extra stages. (The data-scale analogue of the
    reference compiling its validator once per run,
    validator.py:99-101.)"""
    literal: list[RowConstraint] = []
    remaining = []
    for cs in spec.columns:
        if cs.references is None or cs.name not in df.columns:
            continue
        ref = cs.references
        if ref.table not in dims:
            raise KeyError(
                f"column '{cs.name}' references unknown dimension "
                f"'{ref.table}' — available: {sorted(dims)}"
            )
        dim = dims[ref.table]
        head = dim.select(ref.column).limit(LITERAL_DIM_MAX + 1).collect()
        if len(head) > LITERAL_DIM_MAX:
            remaining.append(cs)
            continue
        values = [r[0] for r in head if r[0] is not None]
        c = F.col(cs.name)
        literal.append(
            RowConstraint(
                f"{cs.name}.references",
                c.isNotNull() & ~c.isin(values),
                _obs(c),
                f"{cs.name} in {ref.table}.{ref.column}",
            )
        )
    return literal, remaining


def _to_spark_fmt(fmt: str) -> str:
    """strptime-style → Spark datetime pattern (reference specs use
    strptime-style formats, e.g. USAGE.md examples)."""
    table = {
        "%Y": "yyyy", "%m": "MM", "%d": "dd",
        "%H": "HH", "%M": "mm", "%S": "ss", "%f": "SSSSSS", "%z": "XX",
    }
    out = fmt
    for k, v in table.items():
        out = out.replace(k, v)
    return out


def violation_struct_array(constraints: list[RowConstraint]) -> Column:
    """ALL constraints evaluated in one projection: an array of
    (constraint_id, observed, expected) structs, null-compacted.

    This is the whole-file error collection of the reference (Pydantic
    gathers every error per document) expressed as a single codegen'd
    expression — one pass over the data regardless of constraint count.
    """
    elems = [
        F.when(
            rc.predicate,
            F.struct(
                F.lit(rc.constraint_id).alias("constraint_id"),
                rc.observed.cast("string").alias("observed"),
                F.lit(rc.expected).alias("expected"),
            ),
        )
        for rc in constraints
    ]
    empty = F.array().cast(
        "array<struct<constraint_id:string,observed:string,expected:string>>"
    )
    if not elems:
        return empty
    # gate the struct-array construction behind one cheap boolean OR:
    # violations are rare, so the overwhelmingly common clean row must
    # not allocate a #constraints-wide array of structs (at 10^12 rows
    # that allocation pressure dominates GC; measured a material part
    # of the scan pass locally). null predicates (not-applicable) are
    # neutral in the OR, matching the per-element when() semantics.
    any_violation = F.coalesce(
        reduce_or([rc.predicate for rc in constraints]), F.lit(False)
    )
    return F.when(any_violation, F.array_compact(F.array(*elems))).otherwise(
        empty
    )


def reduce_or(preds: list[Column]) -> Column:
    out = preds[0].isNotNull() & preds[0]
    for p in preds[1:]:
        out = out | (p.isNotNull() & p)
    return out


# session timezones accepted as "UTC" for the typed-column assertion
_UTC_ALIASES = {"utc", "z", "+00:00", "+0000", "gmt", "etc/utc", "etc/gmt"}


def _tz_equivalent(declared: str, session: str) -> bool:
    a, b = declared.strip().lower(), session.strip().lower()
    return a == b or (a in _UTC_ALIASES and b in _UTC_ALIASES)


def schema_conformance(df: DataFrame, spec: TableSpec) -> list[dict]:
    """Driver-side structural check of the physical schema vs the spec —
    the analogue of extra_forbidden / missing at the document level
    (models.py extra="forbid"; validator messages 144-180).

    Also asserts the SESSION timezone for datetime columns that are
    physically TIMESTAMP and declare a ``timezone`` (reference
    models.py:92-103): the stored instants were parsed/rendered in the
    session zone, so a session zone that differs from the declared one
    silently shifts every wall-clock value — a structural
    configuration error, not a per-row one.

    Returns a list of error dicts (type, error_at, message); empty = ok.
    """
    errs: list[dict] = []
    spec_cols = {c.name for c in spec.columns}
    present = set(df.columns)
    session_tz = df.sparkSession.conf.get(
        "spark.sql.session.timeZone", "UTC"
    )
    for cs in spec.columns:
        if cs.name not in present:
            errs.append(
                {
                    "type": "missing",
                    "error_at": f"$.{cs.name}",
                    "message": f"Column '{cs.name}' is required but missing.",
                }
            )
            continue
        if (
            cs.type == "datetime"
            and cs.timezone
            and isinstance(df.schema[cs.name].dataType, T.TimestampType)
            and not _tz_equivalent(cs.timezone, session_tz)
        ):
            errs.append(
                {
                    "type": "timezone_mismatch",
                    "error_at": f"$.{cs.name}.timezone",
                    "message": (
                        f"Column '{cs.name}' declares timezone "
                        f"'{cs.timezone}' but the session parses and "
                        f"renders timestamps in '{session_tz}'."
                    ),
                }
            )
    for name in df.columns:
        if name not in spec_cols:
            errs.append(
                {
                    "type": "extra_forbidden",
                    "error_at": f"$.{name}",
                    "message": f"Column '{name}' is not declared in the spec.",
                }
            )
    return errs
