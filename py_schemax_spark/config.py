"""Run configuration with 4-layer precedence (SURVEY.md §2.3 C4):

    CLI flags  >  env vars  >  TOML files  >  defaults

— the same resolution order as the reference (config.py:73-217):
env vars ``SCHEMAX_SPARK_VALIDATE_*`` (analogue of
``SCHEMAX_VALIDATE_*``, reference cli.py:96-156), TOML from
``schemax.toml`` (``[validate]``) or ``pyproject.toml``
(``[tool.schemax_spark.validate]``), mirroring reference
config.py:24,187-217.

Enums mirror reference config.py:7-21:
- output format: text | json            (C3)
- output level:  silent | quiet | verbose (C2)
- fail mode:     after | fast | never   (C1)
"""

from __future__ import annotations

import os
from dataclasses import dataclass
from pathlib import Path
from typing import Any, Optional

try:
    import tomllib
except ImportError:  # pragma: no cover
    tomllib = None

OUTPUT_FORMATS = ("text", "json")
OUTPUT_LEVELS = ("silent", "quiet", "verbose")
FAIL_MODES = ("after", "fast", "never")

ENV_PREFIX = "SCHEMAX_SPARK_VALIDATE_"

DEFAULTS: dict[str, Any] = {
    "output_format": "text",
    "output_level": "quiet",
    "fail_mode": "after",
    "checks": "schema,rows,uniqueness,referential,drift",
    "skip": "",
    "checkpoint_dir": None,
    "salt": 1,
    "order_col": None,
    "required_attributes": "",
    "column_required_attributes": "",
    "dim_broadcast_limit": None,
}

_TOML_FILES = ("schemax.toml", "pyproject.toml")


def _read_toml(path) -> Optional[dict[str, Any]]:
    """One config file's TOML document; None when there is no file at
    ``path``. A file that is there but malformed or unreadable is a
    user error, never a skipped layer: the CLI catches ValueError and
    exits 2 (reference: click.BadParameter)."""
    try:
        with open(path, "rb") as f:
            return tomllib.load(f)
    except (FileNotFoundError, IsADirectoryError):
        return None
    except tomllib.TOMLDecodeError as e:
        raise ValueError(f"config file {str(path)!r} is not valid TOML: {e}")
    except OSError as e:
        # permissions, special file, I/O error
        raise ValueError(f"config file {str(path)!r} could not be read: {e}")


def _toml_layer(cwd: str = ".") -> dict[str, Any]:
    """TOML config: schemax.toml [validate] first, else pyproject.toml
    [tool.schemax_spark.validate] (reference config.py:187-217)."""
    if tomllib is None:
        return {}
    for fname in _TOML_FILES:
        doc = _read_toml(Path(cwd) / fname)
        if doc is None:
            continue
        if fname == "schemax.toml":
            section = doc.get("validate", {})
        else:
            section = (
                doc.get("tool", {}).get("schemax_spark", {}).get("validate", {})
            )
        if section:
            return dict(section)
    return {}


def _explicit_config_layer(paths: tuple[str, ...]) -> dict[str, Any]:
    """``--config FILE`` layer (reference cli.py:80-90 +
    parse_config_files, config.py:187-217): files are tried in order,
    the FIRST one yielding a non-empty ``[validate]`` /
    ``[tool.schemax_spark.validate]`` section wins. Raises ValueError
    when none of the explicitly provided files produce config — the
    analogue of the reference's click.BadParameter."""
    if tomllib is None:  # pragma: no cover
        raise ValueError("tomllib unavailable; cannot parse --config files")
    for path in paths:
        doc = _read_toml(path)
        if doc is None:
            continue
        section = doc.get("validate") or (
            doc.get("tool", {}).get("schemax_spark", {}).get("validate", {})
        )
        if section:
            return dict(section)
    raise ValueError(
        f"none of the provided config files are valid - {list(paths)}"
    )


def _env_layer() -> dict[str, Any]:
    out = {}
    for key in DEFAULTS:
        v = os.environ.get(ENV_PREFIX + key.upper())
        if v is not None:
            out[key] = v
    return out


@dataclass
class ValidateConfig:
    output_format: str = "text"
    output_level: str = "quiet"
    fail_mode: str = "after"
    checks: tuple[str, ...] = ()
    skip: tuple[str, ...] = ()
    checkpoint_dir: Optional[str] = None
    salt: int = 1
    order_col: Optional[str] = None
    required_attributes: tuple[str, ...] = ()
    column_required_attributes: tuple[str, ...] = ()
    # rows above which a referential dim stops being broadcast and the
    # distinct-keys strategy runs instead (None = always broadcast)
    dim_broadcast_limit: Optional[int] = None

    def validate(self) -> None:
        if self.output_format not in OUTPUT_FORMATS:
            raise ValueError(f"invalid output_format '{self.output_format}'")
        if self.output_level not in OUTPUT_LEVELS:
            raise ValueError(f"invalid output_level '{self.output_level}'")
        if self.fail_mode not in FAIL_MODES:
            raise ValueError(f"invalid fail_mode '{self.fail_mode}'")


def _split(v: Any) -> tuple[str, ...]:
    if v is None:
        return ()
    if isinstance(v, (list, tuple)):
        return tuple(str(x) for x in v)
    return tuple(x.strip() for x in str(v).split(",") if x.strip())


def resolve_config(
    cli_overrides: Optional[dict[str, Any]] = None,
    cwd: str = ".",
    config_files: Optional[tuple[str, ...]] = None,
) -> ValidateConfig:
    """Merge the four layers; ``cli_overrides`` entries that are None
    are treated as "not given" (so flags only win when present —
    reference click default_map semantics, cli.py:33-54).

    ``config_files``: explicit ``--config FILE`` paths — they REPLACE
    the cwd auto-discovery layer (reference cli.py:80-90) and raise
    ValueError when none parses to a config section."""
    merged = dict(DEFAULTS)
    if config_files:
        merged.update(_explicit_config_layer(config_files))
    else:
        merged.update(_toml_layer(cwd))
    merged.update(_env_layer())
    for k, v in (cli_overrides or {}).items():
        if v is not None:
            merged[k] = v
    cfg = ValidateConfig(
        output_format=str(merged["output_format"]),
        output_level=str(merged["output_level"]),
        fail_mode=str(merged["fail_mode"]),
        checks=_split(merged["checks"]),
        skip=_split(merged["skip"]),
        checkpoint_dir=merged.get("checkpoint_dir") or None,
        salt=int(merged.get("salt") or 1),
        order_col=merged.get("order_col") or None,
        required_attributes=_split(merged.get("required_attributes")),
        column_required_attributes=_split(
            merged.get("column_required_attributes")
        ),
        dim_broadcast_limit=(
            int(merged["dim_broadcast_limit"])
            if merged.get("dim_broadcast_limit") not in (None, "")
            else None
        ),
    )
    cfg.validate()
    return cfg
