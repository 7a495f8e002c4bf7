"""End-to-end CLI golden tests — the analogue of the reference's
tests/test_cmd_validate.py (CliRunner invocations, exit codes, ✅/❌
counts in text mode, parsed JSON-lines in json mode, env/config
precedence, rule selection)."""

from __future__ import annotations

import io
import json

import pytest
from pyspark.sql import functions as F

from py_schemax_spark.cli import accept_paths_from_stdin, build_parser, main
from py_schemax_spark.config import resolve_config
from py_schemax_spark.operators.drift import build_baseline
from py_schemax_spark.output import Output
from py_schemax_spark.runner import RunConfig, ValidationRun
from py_schemax_spark.sources.datagen import gen_pages, write_pages
from py_schemax_spark.specs.loader import validate_spec_dict

SPEC_YAML = """\
fqn: warehouse.pages
key: url
columns:
  - name: url
    type: string
    nullable: false
    unique: true
    pattern: "^https?://"
  - name: warc_ts
    type: datetime
    nullable: false
  - name: html
    type: binary
  - name: text
    type: string
    min_length: 1
    nullable: false
  - name: lang
    type: string
  - name: day
    type: date
"""


@pytest.fixture(scope="module")
def table_dir(spark, tmp_path_factory):
    d = tmp_path_factory.mktemp("cli") / "pages"
    write_pages(spark, str(d), 1500)
    return str(d)


@pytest.fixture()
def spec_file(tmp_path):
    p = tmp_path / "pages_spec.yaml"
    p.write_text(SPEC_YAML)
    return str(p)


def _main(spark, argv):
    return main(argv, spark=spark)


def test_exit_1_on_dirty_table(spark, table_dir, spec_file, capsys):
    code = _main(
        spark,
        ["validate", table_dir, "--spec", spec_file, "--check",
         "schema,rows,uniqueness", "--order-col", "warc_ts"],
    )
    assert code == 1
    out = capsys.readouterr().out
    assert "❌" in out


def test_fail_never_exits_zero(spark, table_dir, spec_file, capsys):
    code = _main(
        spark,
        ["validate", table_dir, "--spec", spec_file, "--fail-never",
         "--check", "schema,rows"],
    )
    assert code == 0
    assert "fail_mode=never" in capsys.readouterr().err


def test_json_output_parses(spark, table_dir, spec_file, capsys):
    code = _main(
        spark,
        ["validate", table_dir, "--spec", spec_file,
         "--output-format", "json", "--check", "schema,rows"],
    )
    assert code == 1
    lines = [ln for ln in capsys.readouterr().out.splitlines() if ln.strip()]
    objs = [json.loads(ln) for ln in lines]
    kinds = {o["kind"] for o in objs}
    assert "summary" in kinds and "partition" in kinds
    summary = [o for o in objs if o["kind"] == "summary"][0]
    assert summary["valid"] is False
    assert summary["total_violations"] > 0


def test_silent_prints_nothing(spark, table_dir, spec_file, capsys):
    code = _main(
        spark,
        ["validate", table_dir, "--spec", spec_file, "--silent",
         "--check", "schema,rows"],
    )
    assert code == 1
    assert capsys.readouterr().out == ""


def test_where_predicate_prunes_partitions(spark, table_dir, spec_file, capsys):
    """--where restricts the scan (partition pruning on the day column):
    the run summary covers only matching partitions."""
    code = _main(
        spark,
        ["validate", table_dir, "--spec", spec_file,
         "--where", "day = date'2024-01-01'", "--check", "rows",
         "--verbose"],
    )
    lines = capsys.readouterr().out.strip().splitlines()
    part_lines = [l for l in lines if "part=" in l]
    assert len(part_lines) == 1 and "part=2024-01-01" in part_lines[0]
    assert code in (0, 1)


def test_invalid_spec_exits_1(spark, table_dir, tmp_path, capsys):
    bad = tmp_path / "bad.json"
    bad.write_text(json.dumps({"fqn": "x", "columns": [{"name": "a",
                                                        "type": "nope"}]}))
    code = _main(spark, ["validate", table_dir, "--spec", str(bad)])
    assert code == 1
    assert "not a supported type" in capsys.readouterr().err


def test_missing_spec_file_exits_1(spark, table_dir, tmp_path, capsys):
    code = _main(
        spark, ["validate", table_dir, "--spec", str(tmp_path / "nope.yaml")]
    )
    assert code == 1
    assert "does not exist" in capsys.readouterr().err


def test_no_tables_exits_2(spark, spec_file, monkeypatch):
    monkeypatch.setattr("sys.stdin", io.StringIO(""))
    code = _main(spark, ["validate", "--spec", spec_file])
    assert code == 2


def test_stdin_paths(monkeypatch):
    # args win over stdin; blank lines skipped (reference utils.py:9-18)
    monkeypatch.setattr("sys.stdin", io.StringIO("a\n\nb\n"))
    assert accept_paths_from_stdin([]) == ["a", "b"]
    assert accept_paths_from_stdin(["x"]) == ["x"]


# --- config precedence (C4; reference tests test_cmd_validate.py:509-934) --


def test_env_beats_toml_and_flag_beats_env(tmp_path, monkeypatch):
    monkeypatch.chdir(tmp_path)
    (tmp_path / "schemax.toml").write_text(
        "[validate]\nfail_mode = 'never'\noutput_level = 'verbose'\n"
    )
    cfg = resolve_config({})
    assert cfg.fail_mode == "never" and cfg.output_level == "verbose"

    monkeypatch.setenv("SCHEMAX_SPARK_VALIDATE_FAIL_MODE", "fast")
    cfg = resolve_config({})
    assert cfg.fail_mode == "fast"  # env > toml
    assert cfg.output_level == "verbose"  # toml survives where env absent

    cfg = resolve_config({"fail_mode": "after"})
    assert cfg.fail_mode == "after"  # flag > env


def test_pyproject_toml_section(tmp_path, monkeypatch):
    monkeypatch.chdir(tmp_path)
    (tmp_path / "pyproject.toml").write_text(
        "[tool.schemax_spark.validate]\noutput_format = 'json'\n"
    )
    cfg = resolve_config({})
    assert cfg.output_format == "json"


def test_dim_broadcast_limit_layers(tmp_path, monkeypatch):
    """dim_broadcast_limit resolves through all four layers like every
    other knob: default None (always broadcast), TOML < env < flag."""
    monkeypatch.chdir(tmp_path)
    assert resolve_config({}).dim_broadcast_limit is None
    (tmp_path / "schemax.toml").write_text(
        "[validate]\ndim_broadcast_limit = 500\n"
    )
    assert resolve_config({}).dim_broadcast_limit == 500
    monkeypatch.setenv("SCHEMAX_SPARK_VALIDATE_DIM_BROADCAST_LIMIT", "7")
    assert resolve_config({}).dim_broadcast_limit == 7
    assert resolve_config(
        {"dim_broadcast_limit": 0}
    ).dim_broadcast_limit == 0


def test_dim_broadcast_limit_cli_same_verdict(
    spark, table_dir, spec_file, tmp_path, capsys, monkeypatch
):
    """--dim-broadcast-limit 0 forces the distinct-keys referential
    strategy end-to-end through the CLI; the verdict (exit code +
    violation totals) is identical to the broadcast default. The check
    list leaves out ``rows``: with it, a small dim fuses into the rows
    projection as an IN-list and neither strategy runs."""
    from py_schemax_spark.operators import referential

    large_dim_calls = []
    real = referential._large_dim_violation_rows

    def spy(*args, **kwargs):
        large_dim_calls.append(1)
        return real(*args, **kwargs)

    monkeypatch.setattr(referential, "_large_dim_violation_rows", spy)
    dim_path = str(tmp_path / "lang_dim")
    spark.createDataFrame(
        [("en",), ("de",), ("fr",)], ["lang"]
    ).write.mode("overwrite").parquet(dim_path)
    spec = SPEC_YAML.replace(
        "  - name: lang\n    type: string\n",
        "  - name: lang\n    type: string\n"
        "    references: {table: lang_dim, column: lang}\n",
    )
    assert "references" in spec
    sp = tmp_path / "spec_ref.yaml"
    sp.write_text(spec)
    base_args = [
        "validate", table_dir, "--spec", str(sp),
        "--dim", f"lang_dim={dim_path}",
        "--check", "schema,referential",
    ]
    code_bc = _main(spark, base_args)
    out_bc = capsys.readouterr().out
    assert large_dim_calls == []
    code_dk = _main(spark, base_args + ["--dim-broadcast-limit", "0"])
    out_dk = capsys.readouterr().out
    assert large_dim_calls == [1]
    assert code_bc == code_dk == 1
    # the run-summary line (totals) must match exactly
    assert out_bc.splitlines()[-1] == out_dk.splitlines()[-1]


def test_invalid_config_value_raises():
    with pytest.raises(ValueError):
        resolve_config({"fail_mode": "sometimes"})


def test_checks_parsing():
    cfg = resolve_config({"checks": "schema, rows", "skip": "rows"})
    assert cfg.checks == ("schema", "rows")
    assert cfg.skip == ("rows",)


# --- round-2 parity flags: --version / --json / --config FILE ---------------


def test_version_flag(capsys):
    from py_schemax_spark import __version__

    with pytest.raises(SystemExit) as ei:
        build_parser().parse_args(["--version"])
    assert ei.value.code == 0
    assert __version__ in capsys.readouterr().out


def test_json_shorthand_overrides_output_format(spark, table_dir, spec_file,
                                                capsys):
    """--json wins over --output-format text (reference cli.py:98-103)."""
    code = _main(
        spark,
        ["validate", table_dir, "--spec", spec_file,
         "--output-format", "text", "--json", "--check", "schema,rows"],
    )
    assert code == 1
    lines = [ln for ln in capsys.readouterr().out.splitlines() if ln.strip()]
    objs = [json.loads(ln) for ln in lines]
    assert {o["kind"] for o in objs} >= {"summary"}


def test_config_file_flag_provides_defaults(spark, table_dir, spec_file,
                                            tmp_path, capsys):
    """--config FILE outside cwd supplies defaults (reference
    cli.py:80-90); flags still win over the file."""
    cfgf = tmp_path / "elsewhere.toml"
    cfgf.write_text("[validate]\nfail_mode = 'never'\n")
    code = _main(
        spark,
        ["validate", table_dir, "--spec", spec_file, "--config", str(cfgf),
         "--check", "schema,rows"],
    )
    assert code == 0  # file's fail_mode=never suppressed the exit
    assert "fail_mode=never" in capsys.readouterr().err
    # explicit flag beats the config file
    code = _main(
        spark,
        ["validate", table_dir, "--spec", spec_file, "--config", str(cfgf),
         "--fail-after", "--check", "schema,rows"],
    )
    assert code == 1


def test_config_file_flag_invalid_exits_2(spark, table_dir, spec_file,
                                          tmp_path, capsys):
    code = _main(
        spark,
        ["validate", table_dir, "--spec", spec_file,
         "--config", str(tmp_path / "missing.toml")],
    )
    assert code == 2
    assert "config files are valid" in capsys.readouterr().err


def test_config_file_flag_malformed_toml_surfaces(spark, table_dir,
                                                  spec_file, tmp_path,
                                                  capsys):
    """A --config file with a TOML syntax error must NOT be silently
    skipped (round-3 ADVICE fix): the user gets a per-file parse error,
    mirroring the reference's click.BadParameter on a bad explicit
    config."""
    broken = tmp_path / "broken.toml"
    broken.write_text("[validate\nfail_mode = never")  # unclosed table
    code = _main(
        spark,
        ["validate", table_dir, "--spec", spec_file,
         "--config", str(broken)],
    )
    assert code == 2
    assert "not valid TOML" in capsys.readouterr().err


def test_malformed_cwd_config_exits_2(spark, table_dir, spec_file,
                                      tmp_path, monkeypatch, capsys):
    """A malformed schemax.toml in the working directory is a config
    error, not a skipped layer: falling through to pyproject.toml would
    run with settings the user did not write (here fail-fast)."""
    monkeypatch.chdir(tmp_path)
    (tmp_path / "schemax.toml").write_text("[validate\nfail_mode = 'never'")
    (tmp_path / "pyproject.toml").write_text(
        "[tool.schemax_spark.validate]\nfail_mode = 'fast'\n"
    )
    code = _main(
        spark,
        ["validate", table_dir, "--spec", spec_file, "--check", "schema"],
    )
    assert code == 2
    assert "not valid TOML" in capsys.readouterr().err


def test_config_file_first_valid_wins(tmp_path):
    bad = tmp_path / "empty.toml"
    bad.write_text("")
    good = tmp_path / "good.toml"
    good.write_text("[validate]\noutput_format = 'json'\n")
    cfg = resolve_config({}, config_files=(str(bad), str(good)))
    assert cfg.output_format == "json"


def test_out_alias_and_choice_flags(spark, table_dir, spec_file, capsys):
    """--out (reference's flag name), --output-level and --fail-mode
    choice variants; shortcut flags override the choices (reference
    click semantics)."""
    code = _main(
        spark,
        ["validate", table_dir, "--spec", spec_file, "--out", "json",
         "--fail-mode", "never", "--check", "schema,rows"],
    )
    assert code == 0  # fail-mode never suppressed exit
    lines = [ln for ln in capsys.readouterr().out.splitlines() if ln.strip()]
    assert all(json.loads(ln) for ln in lines)
    # shortcut overrides choice: --fail-fast beats --fail-mode never
    code = _main(
        spark,
        ["validate", table_dir, "--spec", spec_file,
         "--fail-mode", "never", "--fail-fast", "--check", "schema,rows"],
    )
    assert code == 1
    capsys.readouterr()  # drain the fail-fast run's output
    # --silent beats --output-level verbose
    code = _main(
        spark,
        ["validate", table_dir, "--spec", spec_file, "--silent",
         "--output-level", "verbose", "--check", "schema,rows"],
    )
    assert code == 1
    assert capsys.readouterr().out == ""


def test_unknown_check_name_exits_2(spark, table_dir, spec_file, capsys):
    """--check with an unknown class is a config error (reference
    click.Choice rejection), not a silent no-op run."""
    code = _main(
        spark,
        ["validate", table_dir, "--spec", spec_file, "--check",
         "schema,rowz"],
    )
    assert code == 2
    assert "unknown check class" in capsys.readouterr().err


def test_config_file_unreadable_surfaces_clean_error(tmp_path, monkeypatch):
    """A --config file that exists but cannot be READ (permissions,
    special file, I/O error) must surface the clean ValueError path,
    not a PermissionError traceback (review-pass regression)."""
    import builtins

    import pytest as _pytest

    target = tmp_path / "locked.toml"
    target.write_text("[validate]\noutput_format = 'json'\n")
    real_open = builtins.open

    def deny(path, *a, **kw):
        if str(path) == str(target):
            raise PermissionError(13, "Permission denied", str(path))
        return real_open(path, *a, **kw)

    monkeypatch.setattr(builtins, "open", deny)
    with _pytest.raises(ValueError, match="could not be read"):
        resolve_config({}, config_files=(str(target),))


def test_validate_explain_prints_plans_without_running(
    spark, table_dir, spec_file, capsys
):
    code = _main(
        spark,
        ["validate", table_dir, "--spec", spec_file, "--explain",
         "--check", "rows,uniqueness"],
    )
    assert code == 0
    out = capsys.readouterr().out
    assert "== rows ==" in out and "== uniqueness ==" in out
    # a physical plan, not verdicts
    assert "Scan parquet" in out or "FileScan" in out
    assert "❌" not in out


@pytest.mark.parametrize("mode, want", [("--fail-after", 1),
                                        ("--fail-never", 0)])
def test_validate_explain_reports_failing_schema_gate(
    spark, table_dir, tmp_path, capsys, mode, want
):
    """A table that fails the schema gate has no plans to explain: the
    schema errors go to stderr and the exit code is the gated run's."""
    spec = tmp_path / "no_day.yaml"  # the table's `day` column is extra
    spec.write_text(SPEC_YAML.replace("  - name: day\n    type: date\n", ""))
    argv = ["validate", table_dir, "--spec", str(spec), mode]
    assert _main(spark, argv) == want
    capsys.readouterr()
    assert _main(spark, [*argv, "--explain"]) == want
    captured = capsys.readouterr()
    assert "==" not in captured.out
    assert "schema" in captured.err and "day" in captured.err


def _no_constants(token):
    raise ValueError(f"non-JSON constant {token}")


def test_empty_drift_side_writes_strict_json(spark, tmp_path, capsys):
    """A drift column with no non-null current value is an error
    verdict (``psi = ks = None``, drifted), not ``NaN``: the summary
    file and the verbose JSON drift line parse as strict JSON."""
    doc = {"fqn": "t", "key": "id",
           "columns": [{"name": "id", "type": "integer"},
                       {"name": "x", "type": "float", "drift": {}}]}
    spec = tmp_path / "spec.json"
    spec.write_text(json.dumps(doc))
    table, baseline = str(tmp_path / "t"), str(tmp_path / "baseline")
    spark.createDataFrame(
        [(i, None) for i in range(20)], "id bigint, x double"
    ).write.parquet(table)
    build_baseline(
        spark.range(100).withColumn("x", F.col("id").cast("double")),
        validate_spec_dict(doc).spec,
    ).write.parquet(baseline)
    out = tmp_path / "out"
    code = _main(
        spark,
        ["validate", table, "--spec", str(spec), "--baseline", baseline,
         "--check", "schema,rows,drift", "--output-dir", str(out),
         "--output-format", "json", "--output-level", "verbose"],
    )
    assert code == 1
    summary = json.loads((out / "summary_0.json").read_text(),
                         parse_constant=_no_constants)
    (verdict,) = summary["drift"]
    assert verdict["psi"] is None and verdict["ks"] is None
    assert verdict["drifted"] and verdict["error"]
    lines = [json.loads(ln, parse_constant=_no_constants)
             for ln in capsys.readouterr().out.splitlines() if ln.strip()]
    assert [ln["column"] for ln in lines if ln["kind"] == "drift"] == ["x"]
