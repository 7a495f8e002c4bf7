"""Shared operator plumbing."""

from __future__ import annotations

import logging

from pyspark.sql import DataFrame, Observation
from pyspark.sql import functions as F

_log = logging.getLogger(__name__)


def broadcast_gate(
    df: DataFrame, max_rows: int, label: str
) -> tuple[DataFrame, bool]:
    """Broadcast-or-shuffle decision for a join's small side, logged at
    INFO. ``df.limit(max_rows + 1)`` runs once into an eager
    ``dedup._checkpoint`` whose ``Observation`` counts it: no count job,
    and the join does not re-run the side's pipeline. At most
    ``max_rows`` rows → ``(F.broadcast(side), True)``, the side being
    the checkpoint (freed by ``release_all_intermediates``) or, if
    ``df`` is persisted, ``df`` (the probe filled its cache). Above the
    cap the checkpoint is freed at once → ``(df, False)``."""
    from py_schemax_spark.operators import dedup

    obs = Observation()
    cp, handle = dedup._checkpoint(
        df.limit(max(max_rows, 0) + 1)
        .observe(obs, F.count(F.lit(1)).alias("n"))
    )
    n = obs.get["n"]
    small = n <= max_rows
    _log.info("broadcast gate %s: %d rows observed (cap %d) -> %s", label,
              n, max_rows, "broadcast" if small else "shuffle")
    if small and not df.is_cached:
        dedup._track_persisted(cp, [handle])
        return F.broadcast(cp), True
    handle.unpersist()
    return (F.broadcast(df) if small else df), small


def check_passthrough_collisions(
    df: DataFrame, produced: list[str], api: str
) -> None:
    """``passthrough=True`` appends fixed output (and internal)
    column names to every input column; a clash would either shadow
    the user's column or fail later with an opaque
    AMBIGUOUS_REFERENCE. Reject it at the API boundary instead."""
    clash = sorted(set(produced) & set(df.columns))
    if clash:
        raise ValueError(
            f"{api}(passthrough=True): input column(s) {clash} collide "
            "with columns this operator produces — rename them first"
        )
