"""Checkpoint manifest + resume (north_rule: "resumable from checkpoint
with per-partition lineage + metrics").

The manifest is a driver-side JSONL file, one record per completed
``(snapshot_id, part)``:

    {"snapshot_id": ..., "part": "2024-01-02", "row_count": N,
     "violation_count": M, "valid": bool, "stats_digest": "...",
     "spec_fingerprint": "..."}

Restart flow: records whose (snapshot_id, spec_fingerprint) match the
current run mark their partitions complete; the runner excludes them
from the scan PREDICATE (so Iceberg/parquet partition pruning skips
their files entirely — resume costs no I/O on done partitions), and
the final verdict is (persisted violations of done parts) ∪ (fresh
violations of remaining parts).

Writes are atomic: temp file + ``os.replace`` of the whole manifest —
a killed run can lose at most the in-flight batch, never corrupt the
file (SURVEY.md §4.2 "checkpoint/resume manifest — custom, driver JSON
+ atomic rename").
"""

from __future__ import annotations

import hashlib
import json
import os
from pathlib import Path
from typing import Any, Optional


class LegacyCheckpointError(RuntimeError):
    """The checkpoint dir holds a layout this version cannot resume."""


class CheckpointManifest:
    def __init__(self, directory: str, snapshot_id: str, spec_fingerprint: str):
        self.dir = Path(directory)
        legacy = sorted((self.dir / "violations").glob("part=*"))
        if legacy:
            # violations persisted before they were scoped per
            # (snapshot, spec): the scoped read-back would not see
            # them, and completed partitions would silently lose
            # their violations
            raise LegacyCheckpointError(
                f"checkpoint dir {directory} holds violations in the "
                f"legacy unscoped layout ({legacy[0]}); it cannot be "
                "resumed. Start a fresh checkpoint dir."
            )
        self.dir.mkdir(parents=True, exist_ok=True)
        self.path = self.dir / "manifest.jsonl"
        self.snapshot_id = snapshot_id
        self.spec_fingerprint = spec_fingerprint
        self._records: dict[str, dict] = {}
        self._foreign: list[dict] = []
        self._load()

    def _load(self) -> None:
        if not self.path.is_file():
            return
        with open(self.path, encoding="utf-8") as f:
            for line in f:
                line = line.strip()
                if not line:
                    continue
                rec = json.loads(line)
                if (
                    rec.get("snapshot_id") == self.snapshot_id
                    and rec.get("spec_fingerprint") == self.spec_fingerprint
                ):
                    self._records[rec["part"]] = rec
                else:
                    # rows for OTHER snapshots/specs are preserved
                    # verbatim through every flush — erasing them
                    # would break a later manual resume against the
                    # snapshot they belong to
                    self._foreign.append(rec)

    @property
    def completed_parts(self) -> set[str]:
        return set(self._records)

    def record(self, part: str) -> Optional[dict]:
        return self._records.get(part)

    def mark_done(self, part: str, metrics: dict[str, Any]) -> None:
        rec = {
            "snapshot_id": self.snapshot_id,
            "spec_fingerprint": self.spec_fingerprint,
            "part": str(part),
            **metrics,
        }
        self._records[str(part)] = rec
        self._flush()

    def mark_done_many(self, parts_metrics: dict[str, dict]) -> None:
        for part, metrics in parts_metrics.items():
            rec = {
                "snapshot_id": self.snapshot_id,
                "spec_fingerprint": self.spec_fingerprint,
                "part": str(part),
                **metrics,
            }
            self._records[str(part)] = rec
        self._flush()

    def _flush(self) -> None:
        tmp = self.path.with_suffix(".jsonl.tmp")
        with open(tmp, "w", encoding="utf-8") as f:
            for rec in self._foreign:
                f.write(json.dumps(rec, default=str) + "\n")
            for rec in self._records.values():
                f.write(json.dumps(rec, default=str) + "\n")
            f.flush()
            os.fsync(f.fileno())
        os.replace(tmp, self.path)

    @property
    def violations_dir(self) -> str:
        """Violations parquet root, SCOPED to (snapshot, spec): the
        read-back unions everything under this dir, so rows persisted
        under a previous snapshot (a commit landed between runs) or a
        different spec version must live in a sibling dir, not get
        unioned into this run's verdict."""
        scope = hashlib.sha256(
            f"{self.snapshot_id}:{self.spec_fingerprint}".encode()
        ).hexdigest()[:16]
        return str(self.dir / "violations" / scope)


def spec_fingerprint(spec, scope) -> str:
    """Stable fingerprint of a TableSpec and the run ``scope`` (the
    check classes whose verdicts a checkpoint stores) — manifest
    entries are only reusable if the constraints that produced them
    are identical."""
    from dataclasses import asdict

    payload = json.dumps(
        [asdict(spec), list(scope)], sort_keys=True, default=str
    )
    return hashlib.sha256(payload.encode()).hexdigest()[:16]


def snapshot_id_for(source: str) -> str:
    """Snapshot identity of a source URI, used to key manifest rows.

    - ``iceberg:<table>@<sid>`` (pin it first with
      `sources.readers.pin_iceberg_snapshot`): identity = the PINNED
      snapshot id — restarts read the same immutable snapshot, so
      completed partitions stay valid across commits landing between
      attempts (the north star's resumability contract).
    - unpinned ``iceberg:<table>``: rejected — resuming against a
      moving snapshot would silently mix data versions.
    - parquet dir: path + max data-file mtime (the stand-in cannot
      pin, so it INVALIDATES the manifest when data changes — safe in
      the other direction).
    """
    if source.startswith("iceberg:"):
        from py_schemax_spark.sources.readers import parse_iceberg_uri

        name, sid = parse_iceberg_uri(source)
        if sid is None:
            raise ValueError(
                f"refusing to checkpoint against unpinned iceberg "
                f"table {name!r}: resolve the snapshot first with "
                "pin_iceberg_snapshot() so restarts read the same "
                "immutable snapshot"
            )
        return f"iceberg:{name}@{sid}"
    p = Path(source)
    mtimes = [0.0]
    if p.is_dir():
        mtimes += [f.stat().st_mtime for f in p.rglob("*.parquet")]
    h = hashlib.sha256(f"{source}:{max(mtimes)}".encode()).hexdigest()[:16]
    return h


def pinned_source_uri(spark, uri: str, checkpoint_dir: str) -> str:
    """Stable pinned URI for a checkpointed run over an Iceberg table:
    the FIRST attempt resolves the table's current snapshot and
    records it in ``<checkpoint_dir>/source_pins.json``; every restart
    reuses the RECORDED pin instead of re-resolving — that is what
    makes 'completed partitions stay valid across commits landing
    between attempts' actually true (a re-resolve after a commit would
    key the manifest on the new snapshot and restart from scratch).
    Non-Iceberg and already-pinned URIs pass through unchanged. To
    validate a NEWER snapshot intentionally, delete the pin file (or
    use a fresh checkpoint dir) — the stale-pin tradeoff is explicit,
    not silent."""
    if not uri.startswith("iceberg:"):
        return uri
    from py_schemax_spark.sources.readers import (
        parse_iceberg_uri,
        pin_iceberg_snapshot,
    )

    _name, sid = parse_iceberg_uri(uri)
    if sid is not None:
        return uri
    pin_path = Path(checkpoint_dir) / "source_pins.json"
    pins: dict[str, str] = (
        json.loads(pin_path.read_text()) if pin_path.is_file() else {}
    )
    if uri in pins:
        return pins[uri]
    pinned = pin_iceberg_snapshot(spark, uri)
    Path(checkpoint_dir).mkdir(parents=True, exist_ok=True)
    pins[uri] = pinned
    tmp = pin_path.with_suffix(".json.tmp")
    tmp.write_text(json.dumps(pins, indent=1))
    os.replace(tmp, pin_path)
    return pinned
