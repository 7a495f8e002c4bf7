"""Drift operator tests (SURVEY.md §7 hard-point (a): determinism
across partition counts), the PSI / KS statistics against a baseline
grid, and a DuckDB twin of the exact grid counts."""

import math

import numpy as np
import pytest
from pyspark.sql import functions as F

from py_schemax_spark.operators.drift import (
    build_baseline,
    drift_statistics,
    drift_verdicts,
)
from py_schemax_spark.sources.datagen import gen_pages
from py_schemax_spark.specs.loader import validate_spec_dict

X_SPEC = validate_spec_dict({
    "fqn": "t", "key": "id",
    "columns": [
        {"name": "id", "type": "integer"},
        {"name": "x", "type": "float", "drift": {}},
    ],
}).spec


def exact_grid(values, m=101) -> np.ndarray:
    """The baseline grid of ``values`` with no approximation: point
    ``i`` is the smallest value whose CDF reaches ``i/(m-1)``."""
    s = np.sort(np.asarray(values, dtype=np.float64))
    q = np.arange(m) / (m - 1)
    return s[np.searchsorted(np.arange(1, s.size + 1) / s.size, q)]


def grid_counts(values, grid):
    """``(n, lt, le)``: ``count(v < g_i)`` and ``count(v <= g_i)``."""
    s = np.sort(np.asarray(values, dtype=np.float64))
    return (s.size, np.searchsorted(s, grid, "left"),
            np.searchsorted(s, grid, "right"))


def _x_table(spark, values, num_partitions=4):
    rows = [(i, None if v is None else float(v)) for i, v in enumerate(values)]
    return spark.createDataFrame(rows, "id int, x double").repartition(
        num_partitions
    )


def _x_verdict(spark, base_values, cur_values) -> dict:
    baseline = build_baseline(_x_table(spark, base_values), X_SPEC)
    (v,) = drift_verdicts(_x_table(spark, cur_values), X_SPEC, baseline)
    return v


def test_psi_ks_sensitivity():
    rng = np.random.default_rng(9)
    grid = exact_grid(rng.normal(100, 15, 100_000))
    same = drift_statistics(
        grid, *grid_counts(rng.normal(100, 15, 50_000), grid)
    )
    shifted = drift_statistics(
        grid, *grid_counts(rng.normal(120, 15, 50_000), grid)
    )
    assert same[0] < 0.02 < shifted[0]
    assert same[1] < 0.02 < shifted[1]


def test_sketch_pipeline_determinism_across_partition_counts(spark,
                                                            pages_spec):
    """Same data, different parallelism → the same verdict, exactly
    (hard-point (a)): the grid counts are exact."""
    baseline = build_baseline(gen_pages(spark, 1000, clean=True), pages_spec)
    d4 = drift_verdicts(
        gen_pages(spark, 4000, clean=True, num_partitions=4), pages_spec,
        baseline,
    )
    d16 = drift_verdicts(
        gen_pages(spark, 4000, clean=True, num_partitions=16), pages_spec,
        baseline,
    )
    assert d4 == d16
    assert d4[0]["psi"] is not None


def test_drift_verdicts_same_and_shifted(spark, pages_spec):
    clean = gen_pages(spark, 3000, clean=True)
    baseline = build_baseline(clean, pages_spec)
    same = drift_verdicts(
        gen_pages(spark, 3000, seed=99, clean=True), pages_spec, baseline
    )
    assert len(same) == 1 and not same[0]["drifted"]

    truncated = gen_pages(spark, 3000, seed=98, clean=True).withColumn(
        "text", F.substring("text", 1, 15)
    )
    shifted = drift_verdicts(truncated, pages_spec, baseline)
    assert shifted[0]["drifted"]
    assert shifted[0]["psi"] > 0.2 or shifted[0]["ks"] > 0.1


def test_missing_baseline_column_is_drifted(spark, pages_spec):
    empty = spark.createDataFrame(
        [], "column_name string, quantiles array<double>, n long, snapshot_id string"
    )
    verdicts = drift_verdicts(
        gen_pages(spark, 500, clean=True), pages_spec, empty
    )
    assert verdicts[0]["drifted"] and verdicts[0]["error"]


# --- discrete, constant and out-of-range columns ----------------------------


def test_identical_constant_column_is_not_drifted(spark):
    v = _x_verdict(spark, [7.0] * 2000, [7.0] * 6000)
    assert not v["drifted"]
    assert v["psi"] < 0.05 and v["ks"] < 0.05


def test_identical_five_level_column_is_not_drifted(spark):
    rng = np.random.default_rng(3)
    v = _x_verdict(spark, rng.integers(0, 5, 2000), rng.integers(0, 5, 6000))
    assert not v["drifted"]
    assert v["psi"] < 0.05 and v["ks"] < 0.05


def test_fully_shifted_column_has_psi_above_threshold(spark):
    rng = np.random.default_rng(4)
    base = rng.normal(0, 1, 2000)
    v = _x_verdict(spark, base, base.max() + 100 + rng.normal(0, 1, 6000))
    assert v["drifted"]
    assert v["psi"] > v["psi_threshold"]
    assert v["ks"] == 1.0


def test_columns_with_nulls_share_one_aggregation(spark):
    """Two drift columns with nulls are counted in one pass; each
    verdict equals the statistics of a numpy count over its grid."""
    spec = validate_spec_dict({
        "fqn": "t", "key": "id",
        "columns": [
            {"name": "id", "type": "integer"},
            {"name": "x", "type": "float", "drift": {}},
            {"name": "y", "type": "integer", "drift": {}},
        ],
    }).spec
    rng = np.random.default_rng(5)

    def table(n):
        x = [None if i % 7 == 0 else float(v)
             for i, v in enumerate(rng.normal(0, 1, n))]
        y = [None if i % 5 == 0 else int(v)
             for i, v in enumerate(rng.integers(0, 9, n))]
        return x, y, spark.createDataFrame(
            list(zip(range(n), x, y)), "id int, x double, y bigint")

    *_, base_df = table(800)
    baseline = build_baseline(base_df, spec)
    x, y, cur_df = table(3000)
    got = drift_verdicts(cur_df, spec, baseline)
    grids = {r["column_name"]: r["quantiles"] for r in baseline.collect()}
    for verdict, values in zip(got, (x, y)):
        grid = grids[verdict["column"]]
        want = drift_statistics(
            grid, *grid_counts([v for v in values if v is not None], grid)
        )
        assert (verdict["psi"], verdict["ks"]) == want


# --- an empty side ----------------------------------------------------------


def test_empty_current_column_is_an_error_verdict(spark):
    v = _x_verdict(spark, range(100), [None] * 50)
    assert v["psi"] is None and v["ks"] is None
    assert v["drifted"] and v["error"]


def test_empty_baseline_column_is_an_error_verdict(spark):
    v = _x_verdict(spark, [None] * 50, range(100))
    assert v["psi"] is None and v["ks"] is None
    assert v["drifted"] and v["error"]


# --- DuckDB twin -------------------------------------------------------------


def test_verdicts_match_duckdb_grid_counts(spark, pages_spec, tmp_path):
    """DuckDB recounts ``n``, ``lt_i`` and ``le_i`` over the same
    parquet and grid; the statistics from its counts equal the
    verdict's."""
    duckdb = pytest.importorskip("duckdb")
    path = str(tmp_path / "pages")
    gen_pages(spark, 3000, seed=5, clean=True).select("url", "text").union(
        gen_pages(spark, 500, seed=6, clean=True)
        .select("url", F.substring("text", 1, 40).alias("text"))
    ).write.parquet(path)
    baseline = build_baseline(gen_pages(spark, 1000, clean=True), pages_spec)
    (got,) = drift_verdicts(spark.read.parquet(path), pages_spec, baseline)
    grid = baseline.first()["quantiles"]

    aggs = ["count(v)"] + [
        f"count(*) FILTER (WHERE v {op} {g!r}::DOUBLE)"
        for op in ("<", "<=") for g in grid
    ]
    row = duckdb.sql(
        f"SELECT {', '.join(aggs)} FROM (SELECT length(text)::DOUBLE AS v "
        f"FROM read_parquet('{path}/*.parquet'))"
    ).fetchone()
    m = len(grid)
    psi, ks = drift_statistics(grid, row[0], row[1:1 + m], row[1 + m:])
    assert math.isclose(got["psi"], psi, rel_tol=0, abs_tol=1e-12)
    assert math.isclose(got["ks"], ks, rel_tol=0, abs_tol=1e-12)
    assert got["drifted"]
