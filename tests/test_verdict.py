"""The per-partition summary against a Python oracle, and its job count.

``partition_summary`` keys every table row and every violation by its
partition value. A NULL partition, the table-level ``__table__`` row,
a part with rows but no violations and a part with violations but no
rows all keep a row of their own, and ``summarize_partitions`` totals
them exactly whether or not the per-partition rows are bounded.
"""

from __future__ import annotations

from collections import Counter
from datetime import datetime

import pytest
from pyspark.sql import functions as F

from py_schemax_spark.sources.datagen import gen_pages
from py_schemax_spark.verdict import (
    TABLE_PART,
    partition_summary,
    summarize_partitions,
)

V_SCHEMA = ("url string, constraint_id string, observed string, "
            "expected string, part string")

# (url, warc_ts): two NULL timestamps form a NULL part; 2024-01-03 has
# rows and no violations
ROWS = [
    ("a", datetime(2024, 1, 1, 10)),
    ("b", datetime(2024, 1, 1, 11)),
    ("c", datetime(2024, 1, 2, 9)),
    ("d", None),
    ("e", None),
    ("f", datetime(2024, 1, 3, 8)),
]
# (url, part): 2024-01-09 has violations and no rows
VIOLATIONS = [
    ("a", "2024-01-01"),
    ("a", "2024-01-01"),
    ("c", "2024-01-02"),
    ("d", None),
    ("lang=xx", TABLE_PART),
    ("text", TABLE_PART),
    ("z", "2024-01-09"),
]


def _by_part(rows) -> list[tuple]:
    return sorted(rows, key=lambda r: str(r[0]))


def _oracle() -> list[tuple]:
    """``(part, row_count, violation_count, valid)`` per part."""
    rows = Counter(ts.date().isoformat() if ts else None for _, ts in ROWS)
    viols = Counter(p for _, p in VIOLATIONS)
    return _by_part(
        (p, rows[p], viols[p], viols[p] == 0) for p in set(rows) | set(viols)
    )


def _tuples(rows) -> list[tuple]:
    return _by_part(
        (r["part"], r["row_count"], r["violation_count"], r["valid"])
        for r in rows
    )


@pytest.fixture(scope="module")
def frames(spark):
    df = spark.createDataFrame(ROWS, "url string, warc_ts timestamp")
    v = spark.createDataFrame(
        [(u, "c.x", "", "", p) for u, p in VIOLATIONS], V_SCHEMA
    )
    return df, v


def test_partition_summary_matches_oracle(frames):
    df, v = frames
    assert _tuples(partition_summary(df, v).collect()) == _oracle()


def test_violations_without_part_count_globally(frames):
    df, v = frames
    got = partition_summary(df.drop("warc_ts"), v.drop("part")).collect()
    assert _tuples(got) == [("all", len(ROWS), len(VIOLATIONS), False)]


@pytest.mark.parametrize("max_rows", [2, None])
def test_summarize_partitions_totals(frames, max_rows):
    df, v = frames
    want = [r for r in _oracle() if r[0] != TABLE_PART]
    # the worst partitions, invalid first, most violations first, NULL
    # part first among ties; re-sorted by partition value for display
    shown = _by_part(sorted(
        want, key=lambda r: (r[3], -r[2], r[0] is not None, str(r[0]))
    )[:max_rows])
    rows, s = summarize_partitions(partition_summary(df, v), max_rows)
    assert _tuples(rows) == shown
    assert [r["part"] for r in rows] == [r[0] for r in shown]
    assert s.to_dict() == {
        "valid": False,
        "total_partitions": len(want),
        "valid_partitions": sum(r[3] for r in want),
        "invalid_partitions": sum(not r[3] for r in want),
        "total_rows": len(ROWS),
        "total_violations": len(VIOLATIONS),
        "failed_parts": sorted(str(r[0]) for r in shown if not r[3]),
        "suppressed_parts": len(want) - len(shown),
        "table_violations": sum(p == TABLE_PART for _, p in VIOLATIONS),
    }


@pytest.mark.parametrize("max_rows", [10_000, None])
def test_summary_runs_at_most_three_jobs(spark, tmp_path, max_rows):
    """One aggregation, its totals observed on the collect itself: no
    join, no persist, no separate totals job."""
    df = gen_pages(spark, 2000)
    part = F.to_date("warc_ts").cast("string")
    v_dir = str(tmp_path / "v")
    df.filter(F.col("lang").isNull() | (F.length("url") < 30)).select(
        "url", F.lit("c.x").alias("constraint_id"), F.lit("").alias("observed"),
        F.lit("").alias("expected"), part.alias("part"),
    ).write.parquet(v_dir)
    v = spark.read.parquet(v_dir)
    sc = spark.sparkContext
    group = f"summary-{max_rows}"
    sc.setJobGroup(group, group)
    try:
        rows, s = summarize_partitions(partition_summary(df, v, part), max_rows)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert s.total_rows == 2000 and rows
    jobs = sc.statusTracker().getJobIdsForGroup(group)
    assert len(jobs) <= 3, jobs
