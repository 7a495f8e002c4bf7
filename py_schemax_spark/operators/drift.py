"""Distribution-drift checks (SURVEY.md §2.4 / north_star).

No reference analogue — the reference validates metadata, not data
distributions; this is the gap-class operator the north star
prescribes: each drift column's distribution compared by PSI / KS
against a baseline snapshot.

A baseline is a 101-point quantile grid per column (``q = 0.00 ..
1.00``), one ``percentile_approx`` aggregation over a clean table.
Against that FIXED grid the current side needs only its exact CDF at
the grid points — ``lt_i = count(v < g_i)`` and ``le_i = count(v <=
g_i)`` — and one JVM aggregation counts them for every drift column:

1. **index** — per row and column, the number of grid points below
   the value and at or below it: ``size(filter(<grid literal>, ...))``
   over the pruned scan, no Python;
2. **count** — one ``groupBy(column, below, upto).count()`` for all
   drift columns. Map-side combine leaves at most a few hundred rows
   per partition, so the shuffle carries KBs;
3. **finalize** — the driver turns the index histograms into the
   cumulative ``lt``/``le`` counts and computes PSI / KS in numpy
   (`drift_statistics`).

The counts are exact, so a verdict does not depend on how the table
is partitioned.
"""

from __future__ import annotations

from collections.abc import Sequence

import numpy as np
from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from py_schemax_spark.specs.model import TableSpec

BASELINE_SCHEMA = T.StructType(
    [
        T.StructField("column_name", T.StringType()),
        T.StructField("quantiles", T.ArrayType(T.DoubleType())),
        T.StructField("n", T.LongType()),
        T.StructField("snapshot_id", T.StringType()),
    ]
)

_N_QUANTILES = 101  # q = 0.00 .. 1.00 grid stored in baselines
#: ``percentile_approx`` accuracy of the baseline grid: each point's
#: rank is within n / 10,000 of its target (exact below 10k rows)
_ACCURACY = 10_000
_EPS = 1e-6  # PSI mass of an empty bucket


def _drift_expr(spec_col) -> Column:
    """Numeric expression a drift check compares: the raw value for
    numeric columns, the string length for text (``on="length"``)."""
    c = F.col(spec_col.name)
    if spec_col.drift and spec_col.drift.on == "length":
        return F.length(c).cast("double")
    return c.cast("double")


def _drift_columns(spec: TableSpec) -> list:
    return [cs for cs in spec.columns if cs.drift is not None]


def build_baseline(
    df: DataFrame, spec: TableSpec, snapshot_id: str = "baseline"
) -> DataFrame:
    """Materialize the baseline snapshot (FIXTURES.md §3): one quantile
    grid per drift-checked column, computed from a clean run in one
    aggregation. A column with no non-null value gets a null grid."""
    cols = _drift_columns(spec)
    qs = F.array(
        *[F.lit(i / (_N_QUANTILES - 1)) for i in range(_N_QUANTILES)]
    )
    aggs = []
    for cs in cols:
        v = _drift_expr(cs)
        aggs += [F.percentile_approx(v, qs, _ACCURACY), F.count(v)]
    row = df.agg(*aggs).first() if cols else ()
    rows = [
        (cs.name, row[2 * i], row[2 * i + 1], snapshot_id)
        for i, cs in enumerate(cols)
    ]
    return df.sparkSession.createDataFrame(rows, BASELINE_SCHEMA)


def _grid_counts(
    df: DataFrame, grids: list[tuple[object, np.ndarray]]
) -> list[tuple[int, np.ndarray, np.ndarray]]:
    """Exact ``(n, lt, le)`` of each ``(spec column, grid)`` in one
    aggregation: ``lt_i = count(v < g_i)``, ``le_i = count(v <= g_i)``.

    On a sorted grid ``v < g_i`` holds iff ``i >= upto``, the number
    of grid points ``<= v``, and ``v <= g_i`` iff ``i >= below``, the
    number ``< v``; so ``lt``/``le`` are the cumulative histograms of
    the two indices."""
    if not grids:
        return []
    vals = df.select(
        *[_drift_expr(cs).alias(f"_v{c}") for c, (cs, _) in enumerate(grids)]
    )
    cells = []
    for c, (_, grid) in enumerate(grids):
        v = F.col(f"_v{c}")
        arr = F.array(*[F.lit(float(g)) for g in grid])
        cells.append(F.when(v.isNotNull(), F.struct(
            F.lit(c).alias("c"),
            F.size(F.filter(arr, lambda e: e < v)).alias("below"),
            F.size(F.filter(arr, lambda e: e <= v)).alias("upto"),
        )))
    rows = (
        vals.select(F.inline(F.array(*cells)))
        .where(F.col("c").isNotNull())
        .groupBy("c", "below", "upto")
        .count()
        .collect()
    )
    hists = [
        (np.zeros(len(g) + 1, np.int64), np.zeros(len(g) + 1, np.int64))
        for _, g in grids
    ]
    for r in rows:
        below, upto = hists[r["c"]]
        below[r["below"]] += r["count"]
        upto[r["upto"]] += r["count"]
    return [
        (int(upto.sum()), np.cumsum(upto)[:-1], np.cumsum(below)[:-1])
        for below, upto in hists
    ]


def psi_buckets(
    grid: Sequence[float], n: int, lt: Sequence[int]
) -> tuple[np.ndarray, np.ndarray]:
    """``(current, baseline)`` PSI bucket masses of a current sample
    of ``n`` non-null values with ``lt_i = count(v < g_i)`` against the
    baseline quantile ``grid`` (sorted, ``m`` points at ``q_i =
    i/(m-1)``).

    The buckets lie between consecutive distinct interior edges (the
    grid points at q = 0.1 .. 0.9), the first and last open-ended —
    the buckets of `drift_stream.bucket_index_expr`. A side's bucket
    mass is its fraction strictly below the upper edge minus that
    below the lower edge: ``lt/n`` for the current data, the ``q`` of
    the first grid point ``>=`` the edge for the baseline. With 9
    distinct edges that is 10 buckets of baseline mass 0.1."""
    g = np.asarray(grid, dtype=np.float64)
    q = np.arange(g.size) / (g.size - 1)
    edges = g[np.rint(np.arange(1, 10) / 10 * (g.size - 1)).astype(int)]
    first = np.searchsorted(g, np.unique(edges), side="left")
    below = np.asarray(lt, dtype=np.float64)[first] / n
    return (np.diff(np.concatenate([[0.0], below, [1.0]])),
            np.diff(np.concatenate([[0.0], q[first], [1.0]])))


def drift_statistics(
    grid: Sequence[float], n: int, lt: Sequence[int], le: Sequence[int]
) -> tuple[float, float]:
    """``(psi, ks)`` of a current sample against the baseline quantile
    ``grid``, from the exact counts ``lt_i = count(v < g_i)`` and
    ``le_i = count(v <= g_i)`` (see `psi_buckets`).

    KS is ``max_i max(0, lt_i/n - q_i, q_i - le_i/n)``: the distance
    from ``q_i`` to the current CDF's bracket at ``g_i``. It equals
    ``|F(g_i) - q_i|`` when no value sits on ``g_i``, and is 0 when
    the current data is the baseline data, ties included. In PSI an
    empty bucket weighs ``1e-6`` on either side.
    """
    q = np.arange(len(grid)) / (len(grid) - 1)
    ks = max(0.0,
             float(np.max(np.asarray(lt, dtype=np.float64) / n - q)),
             float(np.max(q - np.asarray(le, dtype=np.float64) / n)))
    cur, base = (np.maximum(m, _EPS) for m in psi_buckets(grid, n, lt))
    psi = float(np.sum((cur - base) * np.log(cur / base)))
    return psi, ks


def _verdict(cs, psi=None, ks=None, error=None) -> dict:
    d = cs.drift
    v = {
        "column": cs.name,
        "psi": psi,
        "ks": ks,
        "psi_threshold": d.psi_threshold,
        "ks_threshold": d.ks_threshold,
        "drifted": error is not None
        or bool(psi > d.psi_threshold or ks > d.ks_threshold),
    }
    if error is not None:
        v["error"] = error
    return v


def drift_verdicts(
    df: DataFrame, spec: TableSpec, baseline: DataFrame
) -> list[dict]:
    """Compare current data against the baseline snapshot.

    Returns one verdict dict per drift-checked column:
    ``{column, psi, ks, psi_threshold, ks_threshold, drifted}``. A
    column with no baseline grid, an empty one, or no non-null current
    value has ``psi = ks = None``, an ``error`` and ``drifted: True``.
    Runs one aggregation over ``df`` for all drift columns.
    """
    base = {r["column_name"]: r["quantiles"] for r in baseline.collect()}
    cols = _drift_columns(spec)
    verdicts, todo = {}, []
    for cs in cols:
        grid = np.asarray(base.get(cs.name) or [], dtype=np.float64)
        if cs.name not in base:
            verdicts[cs.name] = _verdict(
                cs, error="no baseline snapshot for column")
        elif grid.size == 0 or np.isnan(grid).any():
            verdicts[cs.name] = _verdict(
                cs, error="empty baseline snapshot for column")
        else:
            todo.append((cs, grid))
    for (cs, grid), (n, lt, le) in zip(todo, _grid_counts(df, todo)):
        verdicts[cs.name] = (
            _verdict(cs, error="no non-null values in current data")
            if n == 0
            else _verdict(cs, *drift_statistics(grid, n, lt, le))
        )
    return [verdicts[cs.name] for cs in cols]


def drift_violations(
    spark: SparkSession, verdicts: list[dict], key_name: str = "url"
) -> DataFrame:
    """Render drift verdicts in the standard violation-row contract so
    they merge with row/uniqueness/referential violations. Drift is
    table-level, so the key is the synthetic ``__table__:<column>``."""
    rows = [
        (
            f"__table__:{v['column']}",
            f"{v['column']}.drift",
            f"psi={v['psi']:.4f} ks={v['ks']:.4f}"
            if v.get("psi") is not None
            else v["error"],
            f"psi<={v['psi_threshold']} ks<={v['ks_threshold']}",
        )
        for v in verdicts
        if v["drifted"]
    ]
    schema = T.StructType(
        [
            T.StructField(key_name, T.StringType()),
            T.StructField("constraint_id", T.StringType()),
            T.StructField("observed", T.StringType()),
            T.StructField("expected", T.StringType()),
        ]
    )
    return spark.createDataFrame(rows, schema)
