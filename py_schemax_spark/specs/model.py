"""Constraint-spec IR: typed dataclasses, the analogue of the reference's
Pydantic models (``/root/reference/py_schemax/schema/models.py:6-150``).

The reference's column vocabulary (models.py:30-103):

- common (BaseDataType, models.py:6-27): name, unique, primary_key,
  nullable (default True), description
- string (30-45): max_length, min_length, pattern
- integer (48-57): minimum, maximum
- float (60-73): minimum, maximum, precision
- boolean (76-78): common only
- date (82-89): format
- datetime (92-103): format, timezone

This engine keeps the exact same vocabulary but the constraints are
enforced against *data* (a DataFrame), not against a schema document.
Two additions required by the data level: ``references`` (broadcast
anti-join referential checks, the data analogue of depends_on existence
checks at validator.py:295-309) and ``drift`` (distribution-drift
checks, no reference analogue — gap per SURVEY.md §2.4).

Specs are plain frozen dataclasses — no Pydantic dependency; spec-file
validation is explicit in ``loader.validate_spec_dict`` so that error
records carry the same (type, error_at, message) triple as the
reference's ValidationErrorSchema (schema/validation.py:11-17).
"""

from __future__ import annotations

from dataclasses import dataclass, field
from typing import Any, Optional

# Canonical type enum — mirrors SupportedDataTypes (reference
# py_schemax/model.py:20-26).
SUPPORTED_TYPES = ("string", "integer", "float", "boolean", "date", "datetime")

# Spark type name for each spec type (SURVEY.md §1.3 mapping).
SPARK_TYPE_FOR = {
    "string": "string",
    "integer": "bigint",
    "float": "double",
    "boolean": "boolean",
    "date": "date",
    "datetime": "timestamp",
    # data-level extension: opaque payloads (html) — not in reference
    "binary": "binary",
}

# Per-type allowed constraint attributes (reference models.py:30-103 +
# dynamic-requiredness keys at model.py:56-69). Common attrs apply to all.
COMMON_ATTRS = {"name", "type", "unique", "primary_key", "nullable", "description"}
TYPE_ATTRS = {
    "string": {"max_length", "min_length", "pattern"},
    "integer": {"minimum", "maximum"},
    "float": {"minimum", "maximum", "precision"},
    "boolean": set(),
    "date": {"format"},
    "datetime": {"format", "timezone"},
    "binary": {"max_length", "min_length"},
}
# Data-level extensions allowed on any column.
EXT_ATTRS = {"references", "drift", "required"}


@dataclass(frozen=True)
class ReferenceSpec:
    """Referential-integrity constraint: column values must exist in a
    dimension table (data analogue of DependencyValidator existence
    checks, reference validator.py:226-316).

    Optional cardinality bounds (``min_rows`` / ``max_rows``) declare
    how many FACT rows each dimension key must have — the reverse
    direction of the existence check (existence catches orphan fact
    values; cardinality catches dim members with missing or runaway
    fact sets). Enforced by the ``cardinality`` constraint class,
    which is a no-op when neither bound is declared."""

    table: str  # dimension table name (resolved by the runner)
    column: str  # dimension column holding the valid domain
    min_rows: Optional[int] = None  # per-dim-key fact-row floor
    max_rows: Optional[int] = None  # per-dim-key fact-row ceiling


@dataclass(frozen=True)
class DriftSpec:
    """Distribution-drift constraint vs a baseline snapshot.

    ``on`` is an expression over the column (``value`` = raw value,
    ``length`` = string length); thresholds gate PSI / KS statistics.
    """

    on: str = "value"  # "value" | "length"
    psi_threshold: float = 0.2
    ks_threshold: float = 0.1


@dataclass(frozen=True)
class ColumnSpec:
    name: str
    type: str  # one of SUPPORTED_TYPES (+ "binary" extension)
    nullable: bool = True  # reference default True (models.py:20)
    unique: bool = False
    primary_key: bool = False
    description: Optional[str] = None
    # string
    min_length: Optional[int] = None
    max_length: Optional[int] = None
    pattern: Optional[str] = None
    # integer / float (inclusive bounds, models.py:48-73)
    minimum: Optional[float] = None
    maximum: Optional[float] = None
    precision: Optional[int] = None  # decimal places, float only
    # date / datetime
    format: Optional[str] = None
    timezone: Optional[str] = None
    # data-level extensions
    references: Optional[ReferenceSpec] = None
    drift: Optional[DriftSpec] = None

    @property
    def spark_type(self) -> str:
        return SPARK_TYPE_FOR[self.type]


@dataclass(frozen=True)
class ExtractionSpec:
    """Byte-identical extraction invariant (BASELINE.json input_hint):
    ``extract(source) == target`` per row, as JVM expressions fused into
    the rows projection (``functions.extraction``)."""

    source: str = "html"
    target: str = "text"


@dataclass(frozen=True)
class CheckSpec:
    """Table-level conditional check: ``expect`` must hold on every
    row where ``when`` holds (both ANSI-SQL boolean expressions, so
    the same spec text runs on any engine). No reference analogue —
    the reference's vocabulary is per-column attributes only; this is
    the cross-column CHECK-constraint class (dbt tests /
    expectations): e.g. when="lang = 'en'", expect="n_chars <= 500".

    3VL contract: a row is a VIOLATION iff ``when`` is TRUE (absent
    ``when`` = always applicable) AND ``expect`` is not TRUE — a null
    ``expect`` (e.g. comparing a null column) violates, because an
    unverifiable expectation is not a verified one; rows where
    ``when`` is null/false are out of scope entirely."""

    name: str
    expect: str
    when: Optional[str] = None


@dataclass(frozen=True)
class TableSpec:
    """Analogue of DatasetSchema (reference schema/models.py:112-150):
    fqn/name/description/version/columns/metadata/tags/depends_on."""

    fqn: str
    columns: tuple[ColumnSpec, ...]
    name: Optional[str] = None
    description: Optional[str] = None
    version: Optional[str] = None
    metadata: dict = field(default_factory=dict)
    tags: tuple[str, ...] = ()
    depends_on: tuple[str, ...] = ()
    dependents: tuple[str, ...] = ()
    # key column used to attribute row-level violations (the reference
    # attributes errors to file_path; we attribute to a row key, e.g. url)
    key: Optional[str] = None
    # per-row extraction invariant (html → text), None = not checked
    extraction: Optional[ExtractionSpec] = None
    # table-level conditional checks (cross-column row predicates)
    checks: tuple[CheckSpec, ...] = ()

    def column(self, name: str) -> ColumnSpec:
        for c in self.columns:
            if c.name == name:
                return c
        raise KeyError(name)

    @property
    def key_column(self) -> str:
        if self.key:
            return self.key
        for c in self.columns:
            if c.primary_key:
                return c.name
        return self.columns[0].name


@dataclass(frozen=True)
class SpecError:
    """One spec-file validation error — same triple as the reference's
    ValidationErrorSchema (schema/validation.py:11-17): type,
    error_at (JSONPath), message."""

    type: str  # e.g. missing / extra_forbidden / union_tag_invalid
    error_at: str  # JSONPath, e.g. $.columns[0].pattern
    message: str


@dataclass(frozen=True)
class SpecValidationResult:
    """Analogue of ValidationOutputSchema (schema/validation.py:20-26):
    file_path, valid, error_count, errors."""

    file_path: str
    valid: bool
    errors: tuple[SpecError, ...] = ()
    spec: Optional[TableSpec] = None

    @property
    def error_count(self) -> int:
        return len(self.errors)

    def to_dict(self) -> dict[str, Any]:
        return {
            "file_path": self.file_path,
            "valid": self.valid,
            "error_count": self.error_count,
            "errors": [
                {"type": e.type, "error_at": e.error_at, "message": e.message}
                for e in self.errors
            ],
        }


def merge_results(*outputs: SpecValidationResult) -> SpecValidationResult:
    """Combine verdicts: AND of valid, concat errors, first non-empty
    file_path — same semantics as merge_validation_outputs (reference
    py_schemax/utils.py:21-41)."""
    file_path = next((o.file_path for o in outputs if o.file_path), "")
    valid = all(o.valid for o in outputs)
    errors: list[SpecError] = []
    spec = None
    for o in outputs:
        errors.extend(o.errors)
        if o.spec is not None and spec is None:
            spec = o.spec
    return SpecValidationResult(
        file_path=file_path, valid=valid, errors=tuple(errors), spec=spec
    )
