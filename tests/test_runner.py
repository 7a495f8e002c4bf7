"""Pipeline / fail-mode / checkpoint tests — analogues of the
reference's CLI fail-mode matrix (tests/test_cmd_validate.py:332-395)
and the resume hard-point (SURVEY.md §7 (e))."""

import re
from collections import Counter

import pytest
from pyspark.sql import functions as F

from py_schemax_spark.operators.drift import build_baseline
from py_schemax_spark.runner import RunConfig, ValidationRun
from py_schemax_spark.sources.datagen import gen_lang_dim, gen_pages, write_pages
from py_schemax_spark.specs.loader import validate_spec_dict


def _multiset(violations) -> Counter:
    return Counter(
        tuple(r) for r in violations.select(
            violations.columns[0], "constraint_id", "observed", "expected"
        ).collect()
    )


def _run(spark, df, spec, dims, baseline=None, ck=None, **cfg):
    """A plain run. Given a checkpoint dir ``ck``, also a checkpointed
    run, which must agree with it on the checks run, the exit code,
    the totals and the violations — the fail-mode matrix holds with
    the checkpoint off and on."""

    def once(checkpoint_dir):
        return ValidationRun(
            spark, spec, dims, baseline,
            RunConfig(order_col="warc_ts", checkpoint_dir=checkpoint_dir,
                      **cfg),
        ).run(df)

    plain = once(None)
    if ck is not None:
        res = once(str(ck))
        assert res.checks_run == plain.checks_run
        assert res.exit_code == plain.exit_code
        assert res.run_summary.valid == plain.run_summary.valid
        assert (res.run_summary.total_violations
                == plain.run_summary.total_violations)
        assert (res.run_summary.suppressed_parts
                == plain.run_summary.suppressed_parts)
        assert _multiset(res.violations) == _multiset(plain.violations)
    return plain


def test_dirty_table_fails_clean_table_passes(
    spark, pages, clean_pages, pages_spec, lang_dim, tmp_path
):
    dims = {"lang_dim": lang_dim}
    dirty = _run(spark, pages, pages_spec, dims, ck=tmp_path / "dirty")
    assert dirty.exit_code == 1
    assert not dirty.run_summary.valid
    assert dirty.run_summary.total_violations > 0

    clean = _run(
        spark, clean_pages, pages_spec, dims, ck=tmp_path / "clean"
    )
    assert clean.exit_code == 0
    assert clean.run_summary.valid
    assert clean.run_summary.total_violations == 0


def test_fail_never_exits_zero(spark, pages, pages_spec, lang_dim, tmp_path):
    res = _run(
        spark, pages, pages_spec, {"lang_dim": lang_dim}, fail_mode="never",
        ck=tmp_path / "ck",
    )
    assert res.exit_code == 0
    assert not res.run_summary.valid  # verdicts still produced


def test_fail_fast_short_circuits_classes(
    spark, pages, pages_spec, lang_dim, tmp_path
):
    res = _run(
        spark, pages, pages_spec, {"lang_dim": lang_dim}, fail_mode="fast",
        ck=tmp_path / "ck",
    )
    assert res.exit_code == 1
    # rows class already has violations → later classes never ran
    # (the analogue of stopping at the first failing rule,
    # reference rulesets.py:41-47)
    assert res.checks_run == ("schema", "rows")


def test_check_selection_and_skip(spark, pages, pages_spec, lang_dim, tmp_path):
    res = _run(
        spark, pages, pages_spec, {"lang_dim": lang_dim},
        checks=("schema", "rows", "referential"), skip=("referential",),
        ck=tmp_path / "ck",
    )
    assert res.checks_run == ("schema", "rows")
    ids = {
        r["constraint_id"]
        for r in res.violations.select("constraint_id").distinct().collect()
    }
    assert all(not i.endswith(".references") for i in ids)
    assert all(not i.endswith(".unique") for i in ids)


def test_schema_gate_stops_everything(spark, pages_spec, lang_dim, tmp_path):
    # table missing a required column → parse-gate semantics
    # (reference rulesets.py:35-39): no rule classes run
    bad = gen_pages(spark, 100).drop("text")
    res = _run(
        spark, bad, pages_spec, {"lang_dim": lang_dim}, ck=tmp_path / "ck"
    )
    assert res.schema_errors
    assert res.exit_code == 1
    assert res.checks_run == ("schema",)
    assert res.violations.count() == 0


def test_extraction_check_class(spark, pages, pages_spec, lang_dim, tmp_path):
    """The extraction invariant runs as a first-class check: corrupt
    html rows (and only those) are flagged ``html.extraction``."""
    res = _run(
        spark, pages, pages_spec, {"lang_dim": lang_dim},
        checks=("schema", "extraction"), ck=tmp_path / "ck",
    )
    assert res.checks_run == ("schema", "extraction")
    rows = res.violations.collect()
    assert rows, "seeded corrupt html must be flagged"
    assert all(r["constraint_id"] == "html.extraction" for r in rows)
    from py_schemax_spark.functions.extraction import extract_text_py

    flagged = {r["url"] for r in rows}
    # flagged set == rows where python reference extraction disagrees
    ref_mismatch = {
        r["url"]
        for r in pages.select("url", "html", "text").collect()
        if (extract_text_py(bytes(r["html"])) if r["html"] is not None else None)
        != r["text"]
    }
    assert flagged == ref_mismatch


def test_per_partition_summary(spark, pages, pages_spec, lang_dim):
    res = _run(spark, pages, pages_spec, {"lang_dim": lang_dim})
    parts = {r["part"] for r in res.summary_rows}
    assert len(parts) >= 2  # day-partitioned
    total = sum(r["row_count"] for r in res.summary_rows)
    assert total == pages.count()


def test_checkpoint_resume_identical_verdicts(spark, pages_spec, lang_dim, tmp_path):
    """Kill-after-k-partitions resume: validate first day only, then
    the full table with the same checkpoint — final verdicts must equal
    a single full run (SURVEY.md §7 hard-point (e))."""
    data_dir = str(tmp_path / "pages")
    write_pages(spark, data_dir, 2000)
    full = spark.read.parquet(data_dir).drop("day")
    dims = {"lang_dim": lang_dim}

    # single uninterrupted run (no checkpoint) = the golden verdict
    golden = _run(spark, full, pages_spec, dims)
    golden_rows = sorted(
        tuple(r)
        for r in golden.violations.select(
            "url", "constraint_id", "observed", "expected"
        ).collect()
    )

    ck = str(tmp_path / "ckpt")
    # partial run: first day only (simulates a killed run that
    # completed one partition)
    first_day = full.filter(F.to_date("warc_ts") == "2024-01-01")
    r1 = ValidationRun(
        spark, pages_spec, dims,
        config=RunConfig(order_col="warc_ts", checkpoint_dir=ck),
    ).run(first_day, source=data_dir)
    assert "2024-01-01" not in r1.skipped_parts

    # resumed run over the whole table: day 1 must be SKIPPED
    r2 = ValidationRun(
        spark, pages_spec, dims,
        config=RunConfig(order_col="warc_ts", checkpoint_dir=ck),
    ).run(full, source=data_dir)
    assert "2024-01-01" in r2.skipped_parts

    resumed_rows = sorted(
        tuple(r)
        for r in r2.violations.select(
            "url", "constraint_id", "observed", "expected"
        ).collect()
    )
    # uniqueness is a GLOBAL check (a dup pair may span partitions) —
    # the checkpointed runner re-runs it over the full table, so resumed
    # verdicts are identical to the uninterrupted run, including unique.
    assert resumed_rows == golden_rows
    assert r2.run_summary.total_rows == golden.run_summary.total_rows
    assert r2.run_summary.total_violations == golden.run_summary.total_violations


@pytest.fixture(scope="module")
def written(spark, tmp_path_factory):
    """A small day-partitioned pages table on disk: (path, frame)."""
    path = str(tmp_path_factory.mktemp("written") / "pages")
    write_pages(spark, path, 600)
    return path, spark.read.parquet(path).drop("day")


@pytest.mark.parametrize("first", [
    {"fail_mode": "fast"},
    {"checks": ("schema", "rows")},
], ids=["fast", "narrowed"])
def test_resume_after_narrowed_first_attempt(
    spark, pages_spec, lang_dim, written, tmp_path, first
):
    """A first attempt that ran fewer local classes leaves no part a
    full resume may skip: the checkpoint scope includes the enabled
    local classes (and fail-fast), so the resume starts afresh and
    still reports the first day's extraction violations."""
    data_dir, full = written
    dims = {"lang_dim": lang_dim}
    golden = _run(spark, full, pages_spec, dims)
    ck = str(tmp_path / "ck")
    first_day = full.filter(F.to_date("warc_ts") == "2024-01-01")
    ValidationRun(
        spark, pages_spec, dims,
        config=RunConfig(order_col="warc_ts", checkpoint_dir=ck, **first),
    ).run(first_day, source=data_dir)
    resumed = ValidationRun(
        spark, pages_spec, dims,
        config=RunConfig(order_col="warc_ts", checkpoint_dir=ck),
    ).run(full, source=data_dir)
    assert resumed.skipped_parts == []
    assert _multiset(resumed.violations) == _multiset(golden.violations)
    ids = {k[1] for k in _multiset(resumed.violations)}
    assert "html.extraction" in ids


@pytest.mark.parametrize("gate", ["schema", "fast"])
def test_stopped_checkpoint_run_completes_no_part(
    spark, pages_spec, lang_dim, written, tmp_path, gate
):
    """When the schema gate or fail-fast stops the local classes, no
    global class runs and no partition is marked done."""
    data_dir, full = written
    if gate == "schema":
        df, cfg, want = full.drop("text"), {}, ("schema",)
    else:
        df, cfg, want = full, {"fail_mode": "fast"}, ("schema", "rows")
    ck = str(tmp_path / "ck")
    runs = [
        ValidationRun(
            spark, pages_spec, {"lang_dim": lang_dim},
            config=RunConfig(order_col="warc_ts", checkpoint_dir=ck, **cfg),
        ).run(df, source=data_dir)
        for _ in range(2)
    ]
    for res in runs:
        assert res.checks_run == want
        assert res.exit_code == 1
        assert res.skipped_parts == []
    ids = {k[1] for k in _multiset(runs[0].violations)}
    assert not any(i.endswith(".unique") for i in ids)


CANONICAL = re.compile(r"cast\(html#\d+ as string\) <=> concat\(<html>")


def test_explain_shows_fused_classes_inside_rows(
    spark, pages, pages_spec, lang_dim
):
    """``explain_plans`` walks the same table as ``run``: extraction
    and the literal-sized referential dim fuse into the rows plan,
    which therefore evaluates the JVM extraction check. Fail-fast
    fuses nothing, so each class gets its own plan. No plan calls
    Python."""
    dims = {"lang_dim": lang_dim}
    plans, errors = ValidationRun(
        spark, pages_spec, dims, config=RunConfig(order_col="warc_ts"),
    ).explain_plans(pages)
    assert errors == []
    assert list(plans) == ["rows", "uniqueness"]
    # the canonical-template compare that guards the full inverse
    assert CANONICAL.search(plans["rows"])

    fast, _ = ValidationRun(
        spark, pages_spec, dims,
        config=RunConfig(order_col="warc_ts", fail_mode="fast"),
    ).explain_plans(pages)
    assert list(fast) == ["rows", "extraction", "referential", "uniqueness"]
    assert not CANONICAL.search(fast["rows"])
    assert CANONICAL.search(fast["extraction"])
    for plan in (*plans.values(), *fast.values()):
        assert "ArrowEvalPython" not in plan


def test_summary_collect_bounded_at_high_partition_count(
    spark, pages_spec, lang_dim, tmp_path
):
    """A table with many partitions must not flood the driver: at most
    `max_summary_partitions` per-partition rows are collected (worst
    first, so every surfaced row is a FAILING partition here), the
    suppressed count is reported, and the run totals stay exact —
    identical to an unbounded run over the same frame."""
    # 600 distinct days -> 600 summary partitions; every day carries
    # the same deterministic dirt from gen_pages
    df = gen_pages(spark, 3000).withColumn(
        "warc_ts",
        F.expr("timestampadd(DAY, CAST(conv(substr(md5(url),1,4),16,10) "
               "AS INT) % 600, warc_ts)"),
    )
    dims = {"lang_dim": lang_dim}
    bounded = _run(spark, df, pages_spec, dims, ck=tmp_path / "bounded",
                   max_summary_partitions=50)
    full = _run(spark, df, pages_spec, dims)

    assert len(bounded.summary_rows) == 50
    assert bounded.run_summary.suppressed_parts == (
        full.run_summary.total_partitions - 50
    )
    assert full.run_summary.suppressed_parts == 0
    # worst-first: with invalid partitions present, no valid partition
    # may occupy a surfaced slot
    if bounded.run_summary.invalid_partitions >= 50:
        assert all(not r["valid"] for r in bounded.summary_rows)
    # exact totals regardless of the bound
    for attr in ("total_partitions", "valid_partitions",
                 "invalid_partitions", "total_rows", "total_violations"):
        assert getattr(bounded.run_summary, attr) == getattr(
            full.run_summary, attr
        ), attr
    assert bounded.exit_code == full.exit_code == 1
