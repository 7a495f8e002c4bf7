"""The violations sink and the once-per-row rule.

``validate --output-dir`` writes the violations first and computes the
summary from what it wrote. Each path (plain with and without a sink,
checkpointed with an output dir, fail-fast) runs its violations
pipeline once: the scan that reads the ``html`` payload (the
extraction check) outputs every table row exactly once per run,
however many consumers read the verdict afterwards, and no row
crosses into Python.
"""

from __future__ import annotations

import io
import json
import re
from contextlib import redirect_stdout
from pathlib import Path

import pytest
from pyspark.sql import functions as F

from conftest import _last_execution_id, _plan_nodes

from py_schemax_spark.checkpoint import LegacyCheckpointError
from py_schemax_spark.cli import main
from py_schemax_spark.operators.drift import build_baseline
from py_schemax_spark.runner import RunConfig, ValidationRun
from py_schemax_spark.sources.datagen import gen_lang_dim, gen_pages, write_pages
from py_schemax_spark.specs.loader import validate_spec_dict

ALL = "schema,rows,extraction,uniqueness,referential,cardinality,drift"

SPEC = {
    "fqn": "warehouse.pages",
    "key": "url",
    "extraction": {"source": "html", "target": "text"},
    "columns": [
        {"name": "url", "type": "string", "nullable": False, "unique": True,
         "pattern": "^https?://", "max_length": 2048},
        {"name": "warc_ts", "type": "datetime", "nullable": False},
        {"name": "html", "type": "binary"},
        {"name": "text", "type": "string", "min_length": 1, "nullable": False,
         "drift": {"on": "length", "psi_threshold": 0.2, "ks_threshold": 0.1}},
        # cardinality bounds put table-level (__table__) rows in the sink
        {"name": "lang", "type": "string", "min_length": 2, "max_length": 2,
         "references": {"table": "lang_dim", "column": "lang",
                        "min_rows": 1, "max_rows": 60}},
        {"name": "day", "type": "date"},
    ],
}


@pytest.fixture(scope="module")
def inputs(spark, tmp_path_factory):
    d = tmp_path_factory.mktemp("sink")
    paths = {k: str(d / k) for k in ("pages", "lang_dim", "baseline")}
    write_pages(spark, paths["pages"], 1500)
    gen_lang_dim(spark).write.parquet(paths["lang_dim"])
    spec = validate_spec_dict(SPEC).spec
    build_baseline(gen_pages(spark, 500, clean=True), spec).write.parquet(
        paths["baseline"]
    )
    paths["spec"] = str(d / "spec.json")
    Path(paths["spec"]).write_text(json.dumps(SPEC))
    paths["n_rows"] = spark.read.parquet(paths["pages"]).count()
    return paths


def _run(spark, inputs, **cfg):
    cfg.setdefault("order_col", "warc_ts")
    return ValidationRun(
        spark, validate_spec_dict(SPEC).spec,
        {"lang_dim": spark.read.parquet(inputs["lang_dim"])},
        spark.read.parquet(inputs["baseline"]), RunConfig(**cfg),
    )


def _counts(df) -> dict[str, int]:
    return {
        r["constraint_id"]: r["count"]
        for r in df.groupBy("constraint_id").count().collect()
    }


def _cli(spark, inputs, out, *extra) -> tuple[int, list[dict]]:
    argv = [
        "validate", inputs["pages"], "--spec", inputs["spec"],
        "--dim", f"lang_dim={inputs['lang_dim']}",
        "--baseline", inputs["baseline"], "--order-col", "warc_ts",
        "--check", ALL, "--output-dir", str(out), "--fail-never",
        "--output-format", "json", "--output-level", "verbose", *extra,
    ]
    buf = io.StringIO()
    with redirect_stdout(buf):
        rc = main(argv, spark=spark)
    return rc, [json.loads(ln) for ln in buf.getvalue().splitlines()]


# --- SQL execution metrics ---------------------------------------------------


def _html_scan_rows(nodes) -> list[int]:
    """Output rows of each file scan that reads the ``html`` payload:
    only the extraction check does."""
    return [
        rows for _, desc, rows in nodes
        if re.match(r"FileScan \w+ \[[^\]]*\bhtml#\d+", desc)
    ]


def _assert_once(nodes, n_rows: int) -> None:
    """No row crossed into Python (no ``ArrowEvalPython``,
    ``MapInPandas`` or other Python node, drift included), and the
    table's payload was read exactly once: a second execution of the
    pipeline would scan ``html`` again."""
    assert not [n for n, _, _ in nodes if "Pandas" in n or "Python" in n]
    rows = _html_scan_rows(nodes)
    assert rows.count(n_rows) == 1, rows
    assert sum(rows) == n_rows, rows


def _fused_violating_rows(nodes) -> int:
    """Rows the fused rows projection found violating: the filter on a
    non-empty violation array (Spark infers it from the explode)."""
    return sum(
        rows for name, desc, rows in nodes
        if name == "Filter" and "size(CASE WHEN" in desc
    )


# --- validate --output-dir -------------------------------------------------


@pytest.mark.parametrize("checkpoint", [False, True])
def test_output_dir_matches_run(spark, inputs, tmp_path, monkeypatch,
                                checkpoint):
    seen = []
    orig = ValidationRun.run

    def spy(self, *a, **kw):
        seen.append(orig(self, *a, **kw))
        return seen[-1]

    monkeypatch.setattr(ValidationRun, "run", spy)
    out = tmp_path / "out"
    extra = ["--checkpoint-dir", str(tmp_path / "ck")] if checkpoint else []
    rc, lines = _cli(spark, inputs, out, *extra)
    assert rc == 0
    written = spark.read.parquet(str(out / "violations_0"))

    # per-constraint counts on disk == a run without a sink
    monkeypatch.setattr(ValidationRun, "run", orig)
    want = _counts(_run(spark, inputs, fail_mode="never").run(
        spark.read.parquet(inputs["pages"])).violations)
    got = _counts(written)
    assert got == want
    assert {"url.unique", "html.extraction", "lang.cardinality"} <= set(got)

    # summary totals describe the written parquet
    summary = json.loads((out / "summary_0.json").read_text())
    assert summary["total_violations"] == written.count()
    assert summary["total_rows"] == inputs["n_rows"]
    if not checkpoint:
        assert summary["table_violations"] == written.filter(
            F.col("part") == "__table__").count()
    else:
        # every global class counts for the table: the sink holds the
        # checkpoint dir's local violations plus the global ones
        (scope,) = (tmp_path / "ck" / "violations").iterdir()
        assert summary["table_violations"] == (
            written.count() - spark.read.parquet(str(scope)).count())
    assert not summary["valid"]

    # the verdict the CLI printed from is the sink, and so are the
    # verbose examples
    (result,) = seen
    sink = (out / "violations_0").resolve().as_uri()
    assert result.violations.inputFiles()
    assert all(f.startswith(sink) for f in result.violations.inputFiles())
    on_disk = {json.dumps(r.asDict(), sort_keys=True, default=str)
               for r in written.collect()}
    examples = [ln for ln in lines if ln["kind"] == "violation"]
    assert len(examples) == 10
    for ex in examples:
        row = {k: v for k, v in ex.items() if k != "kind"}
        assert json.dumps(row, sort_keys=True, default=str) in on_disk
    (run_line,) = [ln for ln in lines if ln["kind"] == "summary"]
    assert run_line["total_violations"] == summary["total_violations"]


def test_output_dir_replaces_previous_write(spark, inputs, tmp_path):
    out = tmp_path / "out"
    _cli(spark, inputs, out)
    first = spark.read.parquet(str(out / "violations_0")).count()
    _cli(spark, inputs, out)
    assert spark.read.parquet(str(out / "violations_0")).count() == first


# --- once per row ------------------------------------------------------------


def test_plain_with_sink_runs_pipeline_once(spark, inputs, tmp_path):
    df = spark.read.parquet(inputs["pages"])
    since = _last_execution_id(spark)
    res = _run(spark, inputs).run(df, sink=str(tmp_path / "v"))
    res.violations.collect()
    res.violations.count()
    _assert_once(_plan_nodes(spark, since), inputs["n_rows"])
    assert res.persisted == ()
    assert res.run_summary.total_violations == res.violations.count()


def test_plain_without_sink_runs_pipeline_once(spark, inputs):
    df = spark.read.parquet(inputs["pages"])
    since = _last_execution_id(spark)
    res = _run(spark, inputs).run(df)
    res.violations.collect()
    res.violations.count()
    _assert_once(_plan_nodes(spark, since), inputs["n_rows"])
    assert res.run_summary.total_violations == res.violations.count()
    assert res.persisted
    res.release()


def test_checkpoint_with_output_dir_runs_pipeline_once(spark, inputs,
                                                       tmp_path):
    ck = str(tmp_path / "ck")
    since = _last_execution_id(spark)
    _cli(spark, inputs, tmp_path / "out", "--checkpoint-dir", ck)
    fresh = _plan_nodes(spark, since)
    _assert_once(fresh, inputs["n_rows"])
    assert _fused_violating_rows(fresh) > 0  # the table is dirty
    # the resume skips every partition: the done-partition predicate
    # drops each row of the dirty table before the checks see it
    since = _last_execution_id(spark)
    _cli(spark, inputs, tmp_path / "out", "--checkpoint-dir", ck)
    resumed = _plan_nodes(spark, since)
    assert not [n for n, _, _ in resumed if n == "ArrowEvalPython"]
    assert sum(_html_scan_rows(resumed)) <= inputs["n_rows"]
    assert _fused_violating_rows(resumed) == 0


def test_fail_fast_probe_is_the_only_run(spark, tmp_path):
    """A clean extraction class is probed over the whole table, then
    uniqueness fails the run; the summary and the verdict read the
    probe's materialization instead of running extraction again."""
    pages = str(tmp_path / "pages")
    write_pages(spark, pages, 1500, corrupt_html_rate=0.0)
    df = spark.read.parquet(pages)
    n_rows = df.count()
    run = ValidationRun(
        spark, validate_spec_dict(SPEC).spec, {},
        config=RunConfig(checks=("schema", "extraction", "uniqueness"),
                         fail_mode="fast", order_col="warc_ts"),
    )
    for sink in (None, str(tmp_path / "v")):
        since = _last_execution_id(spark)
        res = run.run(df, sink=sink)
        res.violations.collect()
        assert res.checks_run == ("schema", "extraction", "uniqueness")
        assert res.exit_code == 1
        assert _counts(res.violations).keys() == {"url.unique"}
        _assert_once(_plan_nodes(spark, since), n_rows)
        res.release()


# --- checkpoint layout -------------------------------------------------------


def test_legacy_checkpoint_layout_fails_loudly(spark, inputs, tmp_path):
    ck = tmp_path / "ck"
    spark.createDataFrame(
        [("https://a", "url.unique", "", "", "2024-01-01")],
        "url string, constraint_id string, observed string, "
        "expected string, part string",
    ).write.partitionBy("part").parquet(str(ck / "violations"))
    df = spark.read.parquet(inputs["pages"])
    with pytest.raises(LegacyCheckpointError, match="fresh checkpoint dir"):
        _run(spark, inputs, checkpoint_dir=str(ck)).run(
            df, source=inputs["pages"])
    rc, _ = _cli(spark, inputs, tmp_path / "out", "--checkpoint-dir",
                 str(ck))
    assert rc == 2


def test_unreadable_checkpoint_violations_fail_the_run(spark, inputs,
                                                       tmp_path):
    """A read-back failure propagates instead of silently dropping
    the completed partitions' rows."""
    ck = str(tmp_path / "ck")
    df = spark.read.parquet(inputs["pages"])
    first = _run(spark, inputs, checkpoint_dir=ck).run(
        df, source=inputs["pages"])
    first.release()
    part_dir = next(Path(ck, "violations").glob("*/part=*"))
    (part_dir / "corrupt.parquet").write_bytes(b"not parquet")
    with pytest.raises(Exception):
        res = _run(spark, inputs, checkpoint_dir=ck).run(
            df, source=inputs["pages"])
        res.violations.collect()


def test_clean_checkpointed_run_reads_no_violations(spark, tmp_path):
    pages = str(tmp_path / "pages")
    write_pages(spark, pages, 300, clean=True)
    spec = validate_spec_dict({
        "fqn": "t", "key": "url",
        "columns": [{"name": c, "type": t} for c, t in (
            ("url", "string"), ("warc_ts", "datetime"), ("html", "binary"),
            ("text", "string"), ("lang", "string"), ("day", "date"))],
    }).spec
    res = ValidationRun(
        spark, spec, config=RunConfig(checkpoint_dir=str(tmp_path / "ck")),
    ).run(spark.read.parquet(pages), source=pages,
          sink=str(tmp_path / "v"))
    assert res.exit_code == 0
    assert res.violations.count() == 0
    assert res.run_summary.total_rows == 300
