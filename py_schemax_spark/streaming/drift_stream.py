"""Streaming distribution drift (Structured Streaming).

Extends the batch drift check (`operators/drift.py` — exact counts
against a baseline quantile grid) to continuous ingest: each event-time
window's value distribution is histogrammed against the BASELINE
QUANTILE GRID (the same 101-point grid `build_baseline` materializes),
so a window that matches the baseline puts ~1/nbins of its mass in
every bucket and PSI ≈ 0; a shifted window concentrates mass and PSI
spikes.

Against a FIXED baseline grid, exact bucket counts ARE the sufficient
statistic for PSI (the batch check makes the same argument), and they
fold into Spark's native windowed aggregation with watermark-bounded
state and map-side combine. The stream stays one stateless projection
+ ONE windowed count aggregation (update/append safe); the tiny PSI
finalization runs as a batch query over the sink table, which is also
where a replay/backfill would recompute it.

Scale shape: bucketing is a codegen higher-order function over a
101-element literal array (no Python, no shuffle); the aggregation
state per window is ≤ nbins rows. At 10^12 docs/day the state is
(windows-in-watermark × 100) rows — KBs.
"""

from __future__ import annotations

import math

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def bucket_index_expr(value: Column, grid: list[float]) -> Column:
    """0-based bucket index of ``value`` against the baseline quantile
    ``grid``: the number of INTERIOR grid edges ≤ value (the grid's
    first/last points are the baseline min/max and bound nothing —
    values beyond them belong in the first/last bucket). Pure codegen:
    ``size(filter(<literal array>, e -> e <= value))``."""
    edges = [float(e) for e in grid[1:-1]]
    arr = F.array(*[F.lit(e) for e in edges])
    return F.size(F.filter(arr, lambda e: e <= value))


def stream_bucket_counts(
    stream_df: DataFrame,
    value_expr: Column,
    baseline_quantiles: list[float],
    event_time_col: str = "warc_ts",
    window_duration: str = "1 hour",
    watermark: str = "2 hours",
) -> DataFrame:
    """Streaming-safe windowed histogram: per (event-time window,
    baseline bucket) row counts. Null values are dropped (they are the
    null-rate check's job, not drift's). This is the ONLY aggregation
    in the stream — PSI folds over its sink via
    `psi_from_bucket_counts` (batch, bounded input)."""
    return (
        stream_df.withWatermark(event_time_col, watermark)
        .select(
            F.col(event_time_col).alias("_t"),
            value_expr.cast("double").alias("_v"),
        )
        .filter(F.col("_v").isNotNull())
        .withColumn(
            "bucket", bucket_index_expr(F.col("_v"), baseline_quantiles)
        )
        .groupBy(
            F.window("_t", window_duration).alias("win"),
            F.col("bucket"),
        )
        .agg(F.count(F.lit(1)).alias("cnt"))
        .select(
            F.col("win.start").alias("window_start"),
            F.col("win.end").alias("window_end"),
            "bucket",
            "cnt",
        )
    )


def psi_from_bucket_counts(
    bucket_counts: DataFrame,
    n_buckets: int,
    psi_threshold: float = 0.2,
    eps: float = 1e-4,
) -> DataFrame:
    """Batch finalization over the histogram sink: per window,
    ``psi = Σ_i (p_i - q_i) · ln(p_i / q_i)`` with the baseline mass
    ``q_i = 1/n_buckets`` uniform by construction (the buckets ARE the
    baseline's quantile cells). Missing/empty buckets take ``eps``
    mass (standard PSI smoothing). Input is bounded (windows × nbins
    rows), so the per-window fold is a small aggregation, never a
    corpus job. Returns ``(window_start, window_end, n, psi, drifted)``.
    """
    q = 1.0 / n_buckets
    ln = F.log
    per_win = bucket_counts.groupBy("window_start", "window_end").agg(
        F.sum("cnt").alias("n"),
        F.collect_list(F.struct("bucket", "cnt")).alias("cells"),
    )
    # observed mass per present bucket, eps for absent ones; the
    # absent-bucket terms are identical, so fold present cells and add
    # (n_buckets - #present) * (eps - q) * ln(eps / q) in closed form
    present = F.size("cells")
    p_of = lambda c: F.greatest(  # noqa: E731
        c["cnt"] / F.col("n"), F.lit(eps)
    )
    present_sum = F.aggregate(
        "cells",
        F.lit(0.0),
        lambda acc, c: acc + (p_of(c) - q) * ln(p_of(c) / q),
    )
    absent_term = (F.lit(n_buckets) - present) * (
        F.lit(eps - q) * F.lit(math.log(eps / q))
    )
    return per_win.select(
        "window_start",
        "window_end",
        "n",
        (present_sum + absent_term).alias("psi"),
    ).withColumn("drifted", F.col("psi") > psi_threshold)
