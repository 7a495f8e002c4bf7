"""CLI: ``python -m py_schemax_spark.cli validate TABLE_PATH...``

Command-surface parity with the reference's ``schemax validate``
(cli.py:78-258), re-targeted at data validation:

- positional args = parquet/Iceberg table paths (the reference takes
  schema-file paths, cli.py:79); when absent, newline-delimited paths
  are read from stdin, blank lines skipped, args win over stdin —
  exactly the reference's stdin contract (utils.py:9-18, cli.py:223)
- ``--spec`` constraint-spec file (JSON/YAML/TOML)
- ``--check`` / ``--skip`` = --rule-apply / --rule-ignore (cli.py:142-157)
- ``--fail-after/--fail-fast/--fail-never`` (cli.py:~109 fail modes)
- ``--output-format`` / ``--silent/--quiet/--verbose`` (cli.py:96,128)
- env vars SCHEMAX_SPARK_VALIDATE_* and TOML files provide lower
  precedence layers (config.py in this package)
- ``--required-attributes`` / ``--column-required-attributes``: the
  dynamic tightening layer (reference model.py:30-112, cli.py:235-236)
"""

from __future__ import annotations

import argparse
import sys
from typing import Optional

from py_schemax_spark.checkpoint import LegacyCheckpointError
from py_schemax_spark.config import resolve_config
from py_schemax_spark.output import Output
from py_schemax_spark.runner import RunConfig, ValidationRun
from py_schemax_spark.sources.readers import read_table
from py_schemax_spark.specs.loader import load_spec


def accept_paths_from_stdin(args_paths: list[str]) -> list[str]:
    """Args win over stdin; blank stdin lines skipped (reference
    utils.py:9-18)."""
    if args_paths:
        return args_paths
    if sys.stdin is None or sys.stdin.isatty():
        return []
    return [ln.strip() for ln in sys.stdin if ln.strip()]


def build_parser() -> argparse.ArgumentParser:
    from py_schemax_spark import __version__

    p = argparse.ArgumentParser(prog="py-schemax-spark")
    # reference cli.py:58 (click.version_option)
    p.add_argument("--version", action="version",
                   version=f"%(prog)s {__version__}")
    sub = p.add_subparsers(dest="command", required=True)

    # check-specs: the reference CLI surface itself (schemax validate
    # over schema-definition files, cli.py:78-258) — validates spec
    # FILES: parse, structure, unique fqn, dependency existence, cycles
    c = sub.add_parser("check-specs", help="validate constraint-spec files")
    c.add_argument("specs", nargs="*", help="spec file paths (or stdin)")
    c.add_argument("--fail-mode", dest="fail_mode_choice",
                   choices=("after", "fast", "never"), default=None)
    c.add_argument("--output-level", dest="output_level_choice",
                   choices=("silent", "quiet", "verbose"), default=None)
    cfm = c.add_mutually_exclusive_group()
    cfm.add_argument("--fail-after", dest="fail_mode", action="store_const",
                     const="after")
    cfm.add_argument("--fail-fast", dest="fail_mode", action="store_const",
                     const="fast")
    cfm.add_argument("--fail-never", dest="fail_mode", action="store_const",
                     const="never")
    c.add_argument("--output-format", "--out", choices=("text", "json"),
                   default=None)
    c.add_argument("--json", dest="use_json", action="store_true",
                   help="JSON output; overrides --output-format "
                        "(reference cli.py:98-103)")
    c.add_argument("--config", dest="config_files", action="append",
                   default=None, metavar="FILE",
                   help="read option defaults from this TOML file "
                        "(repeatable; first valid wins — reference "
                        "cli.py:80-90)")
    clv = c.add_mutually_exclusive_group()
    clv.add_argument("--silent", dest="output_level", action="store_const",
                     const="silent")
    clv.add_argument("--quiet", dest="output_level", action="store_const",
                     const="quiet")
    clv.add_argument("--verbose", dest="output_level", action="store_const",
                     const="verbose")
    c.add_argument("--required-attributes", default=None)
    c.add_argument("--column-required-attributes", default=None)
    c.set_defaults(fail_mode=None, output_level=None)

    d = sub.add_parser(
        "diff",
        help="compare two spec versions; exit 1 if any change is "
             "breaking for conforming data",
    )
    d.add_argument("old_spec", help="previous spec file")
    d.add_argument("new_spec", help="candidate spec file")
    d.add_argument("--json", dest="use_json", action="store_true",
                   help="JSON-lines output")

    cu = sub.add_parser(
        "curate",
        help="run the web-corpus curation pipeline over a parquet table "
             "(robots -> blocklist -> normalize -> redact -> quality -> "
             "dsir -> line dedup -> exact dedup -> near dedup -> mix)",
    )
    cu.add_argument("table", help="input table (parquet path / warc: URI)")
    cu.add_argument("--out", required=True, metavar="DIR",
                    help="output dir: curated/ parquet + report.json")
    cu.add_argument("--key-col", default="doc_id")
    cu.add_argument("--text-col", default="text")
    cu.add_argument("--lang-col", default="lang")
    cu.add_argument("--url-col", default=None,
                    help="URL column (required for the blocklist stage)")
    cu.add_argument("--blocklist", default=None, metavar="FILE",
                    help="blocked domains, one per line")
    cu.add_argument("--robots", default=None, metavar="PATH",
                    help="parquet table of (domain, robots_txt) bodies "
                         "for the robots stage")
    cu.add_argument("--robots-agent", default="*",
                    help="product token to obey in robots.txt groups "
                         "(default '*')")
    cu.add_argument("--pattern-rule", action="append", default=[],
                    metavar="NAME=REGEX",
                    help="ordered URL pattern rule (repeatable)")
    cu.add_argument("--steps", default=None,
                    help="comma list of stages to run (default: all "
                         "applicable)")
    cu.add_argument("--budget", action="append", default=[],
                    metavar="LANG=TOKENS",
                    help="per-language token budget for the mix stage "
                         "(repeatable)")
    cu.add_argument("--default-budget", type=int, default=0,
                    help="token budget for languages without --budget")
    cu.add_argument("--dsir-target", default=None, metavar="PATH",
                    help="parquet corpus of target-domain text for "
                         "the DSIR importance-selection stage")
    cu.add_argument("--dsir-threshold", type=int, default=0,
                    metavar="SCORE_PER_KTERM",
                    help="DSIR keep threshold in score per 1000 terms "
                         "(integer, default 0 = keep target-leaning)")
    cu.add_argument("--dsir-buckets", type=int, default=4096,
                    help="hashed-ngram model width (default 4096)")
    cu.add_argument("--export-shards", action="store_true",
                    help="also write DIR/shards/: deterministic "
                         "token-budgeted JSONL training shards")
    cu.add_argument("--shard-budget", type=int, default=1_000_000,
                    metavar="TOKENS",
                    help="max tokens per shard for --export-shards "
                         "(default 1000000)")
    cu.add_argument("--min-line-docs", type=int, default=10)
    cu.add_argument("--jaccard-threshold", type=float, default=0.8)
    cu.add_argument("--json", dest="use_json", action="store_true")
    cu.add_argument("--master", default=None)

    pr = sub.add_parser(
        "profile",
        help="spec-less table profile: per-column nulls/min/max, exact "
             "heavy hitters, MAD outlier counts — the discovery pass "
             "before writing a constraint spec",
    )
    pr.add_argument("table", help="parquet table path / warc: URI")
    pr.add_argument("--columns", default=None,
                    help="comma list (default: all non-binary columns)")
    pr.add_argument("--hh-k", type=int, default=10,
                    help="heavy-hitter threshold denominator: report "
                         "values with > 1/k corpus share (default 10)")
    pr.add_argument("--mad-k", type=int, default=5,
                    help="MAD multiplier for numeric outliers (default 5)")
    pr.add_argument("--key-col", default=None,
                    help="key column labelling outlier rows (default: "
                         "first profiled column)")
    pr.add_argument("--hh-mode", choices=("exact", "sketch"),
                    default="exact",
                    help="heavy-hitter strategy: 'exact' per-value "
                         "counts (categorical columns) or 'sketch' "
                         "Misra-Gries + exact confirm (identical rows; "
                         "high-cardinality columns — the corpus is "
                         "never shuffled at value granularity)")
    pr.add_argument("--emit-spec", default=None, metavar="PATH",
                    help="write a draft constraint spec (YAML) inferred "
                         "from the profile: observed types, nullability, "
                         "numeric ranges — a floor to tighten, never a "
                         "verdict (the profiled table always passes it)")
    pr.add_argument("--fqn", default=None,
                    help="fqn for --emit-spec (default: table basename)")
    pr.add_argument("--json", dest="use_json", action="store_true")
    pr.add_argument("--master", default=None)

    v = sub.add_parser("validate", help="validate table(s) against a spec")
    v.add_argument("tables", nargs="*", help="parquet table paths (or stdin)")
    v.add_argument("--spec", required=True, help="constraint spec file")
    v.add_argument("--dim", action="append", default=[],
                   metavar="NAME=PATH",
                   help="dimension table for referential checks")
    v.add_argument("--dim-broadcast-limit", dest="dim_broadcast_limit",
                   type=int, default=None, metavar="ROWS",
                   help="rows above which a referential dim is checked "
                        "via the distinct-keys strategy instead of a "
                        "broadcast anti-join (default: always broadcast)")
    v.add_argument("--baseline", default=None,
                   help="drift baseline snapshot parquet")
    v.add_argument("--check", dest="checks", default=None,
                   help="comma list of constraint classes to run")
    v.add_argument("--skip", default=None,
                   help="comma list of constraint classes to skip")
    v.add_argument("--fail-mode", dest="fail_mode_choice",
                   choices=("after", "fast", "never"), default=None)
    v.add_argument("--output-level", dest="output_level_choice",
                   choices=("silent", "quiet", "verbose"), default=None)
    fm = v.add_mutually_exclusive_group()
    fm.add_argument("--fail-after", dest="fail_mode", action="store_const",
                    const="after")
    fm.add_argument("--fail-fast", dest="fail_mode", action="store_const",
                    const="fast")
    fm.add_argument("--fail-never", dest="fail_mode", action="store_const",
                    const="never")
    v.add_argument("--output-format", "--out", choices=("text", "json"),
                   default=None)
    v.add_argument("--json", dest="use_json", action="store_true",
                   help="JSON output; overrides --output-format "
                        "(reference cli.py:98-103)")
    v.add_argument("--config", dest="config_files", action="append",
                   default=None, metavar="FILE",
                   help="read option defaults from this TOML file "
                        "(repeatable; first valid wins — reference "
                        "cli.py:80-90)")
    lv = v.add_mutually_exclusive_group()
    lv.add_argument("--silent", dest="output_level", action="store_const",
                    const="silent")
    lv.add_argument("--quiet", dest="output_level", action="store_const",
                    const="quiet")
    lv.add_argument("--verbose", dest="output_level", action="store_const",
                    const="verbose")
    v.add_argument("--checkpoint-dir", default=None)
    v.add_argument("--output-dir", default=None,
                   help="persist violations parquet + summary.json here")
    v.add_argument("--salt", type=int, default=None)
    v.add_argument("--order-col", default=None)
    v.add_argument("--required-attributes", default=None)
    v.add_argument("--column-required-attributes", default=None)
    v.add_argument(
        "--where", default=None,
        help="SQL predicate applied at the scan (partition pruning: "
             "e.g. \"day >= date'2024-01-02'\" prunes day partitions; "
             "value predicates push down to parquet)",
    )
    v.add_argument("--explain", action="store_true",
                   help="print the physical plan per constraint class "
                        "and exit without running any validation job")
    v.add_argument("--master", default=None, help="spark master override")
    v.set_defaults(fail_mode=None, output_level=None)
    return p


def check_specs_main(ns) -> int:
    """Spec-file validation loop — the reference's sequential per-file
    pipeline (cli.py:254-256): load+structure check, then unique-FQN
    and dependency checks fed into run-global state, cycle check at
    the end; per-file ✅/❌ or JSON lines; fail modes as C1."""
    import json as _json

    from py_schemax_spark.specs.depgraph import SpecSetValidator

    try:
        cfg = resolve_config(
            {
                "output_format": (
                    "json" if ns.use_json else ns.output_format
                ),
                "output_level": ns.output_level or ns.output_level_choice,
                "fail_mode": ns.fail_mode or ns.fail_mode_choice,
                "required_attributes": ns.required_attributes,
                "column_required_attributes": ns.column_required_attributes,
            },
            config_files=tuple(ns.config_files) if ns.config_files else None,
        )
    except ValueError as e:
        print(f"error: {e}", file=sys.stderr)
        return 2
    paths = accept_paths_from_stdin(ns.specs)
    if not paths:
        print("no spec paths given (args or stdin)", file=sys.stderr)
        return 2
    setval = SpecSetValidator()
    any_invalid = False
    results = []
    for p in paths:
        res = load_spec(
            p,
            required_attributes=cfg.required_attributes,
            column_required_attributes=cfg.column_required_attributes,
        )
        if res.valid:
            res = setval.validate_unique_fqn(res)
        if res.valid:
            res = setval.validate_dependencies(res)
        results.append(res)
        if not res.valid:
            any_invalid = True
        if cfg.output_level != "silent":
            if res.valid and cfg.output_level != "verbose":
                pass
            elif cfg.output_format == "json":
                print(_json.dumps(res.to_dict()))
            else:
                icon = "✅" if res.valid else "❌"
                print(f"{icon} {p}")
                for e in res.errors:
                    print(f"  ↳ {e.error_at}: {e.message}")
        if not res.valid and cfg.fail_mode == "fast":
            return 1
    cycle_errors = setval.validate_no_cycles()
    for e in cycle_errors:
        any_invalid = True
        if cfg.output_level != "silent":
            if cfg.output_format == "json":
                print(_json.dumps(
                    {"type": e.type, "error_at": e.error_at,
                     "message": e.message}
                ))
            else:
                print(f"❌ {e.message}")
    if any_invalid and cfg.fail_mode == "never":
        print("spec validation failed (exit suppressed by fail_mode=never)",
              file=sys.stderr)
        return 0
    return 1 if any_invalid else 0


def diff_main(ns) -> int:
    """``diff OLD NEW``: spec evolution report. Exit 0 when every
    change is compatible, 1 when any is breaking, 2 when either file
    fails to load — the same exit vocabulary as validate."""
    import json as _json

    from py_schemax_spark.specs.diff import spec_diff

    specs = []
    for path in (ns.old_spec, ns.new_spec):
        res = load_spec(path)
        if not res.valid:
            for e in res.errors:
                print(
                    f"❌ {path}: {e.error_at}: {e.message}", file=sys.stderr
                )
            return 2
        specs.append(res.spec)
    changes = spec_diff(specs[0], specs[1])
    breaking = [c for c in changes if c["breaking"]]
    if ns.use_json:
        for c in changes:
            print(_json.dumps(c))
    else:
        for c in changes:
            mark = "❌" if c["breaking"] else "✅"
            print(f"{mark} {c['error_at']}: {c['type']}: {c['message']}")
        print(
            f"{len(changes)} changes, {len(breaking)} breaking "
            f"({specs[0].version or '?'} -> {specs[1].version or '?'})"
        )
    return 1 if breaking else 0


def curate_main(ns, spark=None) -> int:
    """``curate TABLE --out DIR``: the composed curation pipeline.
    Writes ``DIR/curated`` (parquet) + ``DIR/report.json``; prints one
    line per stage. Exit 2 on config errors, 0 otherwise."""
    import json as _json
    from pathlib import Path as _P

    from py_schemax_spark.curate import CurationConfig, run_curation

    budgets = {}
    for b in ns.budget:
        lang, sep, tok = b.partition("=")
        if not sep or not tok.isdigit():
            print(
                f"error: bad --budget {b!r} (want LANG=TOKENS, "
                "non-negative integer)",
                file=sys.stderr,
            )
            return 2
        budgets[lang] = int(tok)
    if ns.default_budget < 0:
        print("error: --default-budget must be non-negative",
              file=sys.stderr)
        return 2
    rules = []
    for r in ns.pattern_rule:
        name, sep, pat = r.partition("=")
        if not sep or not name:
            print(f"error: bad --pattern-rule {r!r} (want NAME=REGEX)",
                  file=sys.stderr)
            return 2
        rules.append((name, pat))
    try:
        cfg = CurationConfig(
            key_col=ns.key_col,
            text_col=ns.text_col,
            lang_col=ns.lang_col,
            url_col=ns.url_col,
            steps=tuple(
                s.strip() for s in ns.steps.split(",") if s.strip()
            ) if ns.steps else None,
            pattern_rules=rules,
            min_line_docs=ns.min_line_docs,
            jaccard_threshold=ns.jaccard_threshold,
            budgets=budgets,
            default_budget=ns.default_budget,
            dsir_threshold_per_kterm=ns.dsir_threshold,
            dsir_buckets=ns.dsir_buckets,
        )
    except ValueError as e:
        print(f"error: {e}", file=sys.stderr)
        return 2
    if ns.blocklist and not ns.url_col:
        print("error: --blocklist requires --url-col", file=sys.stderr)
        return 2
    if ns.robots and not ns.url_col:
        print("error: --robots requires --url-col", file=sys.stderr)
        return 2

    own_spark = spark is None
    if own_spark:
        from py_schemax_spark.session import get_spark

        spark = get_spark(master=ns.master)
    try:
        df = read_table(spark, ns.table)
        blocked = None
        if ns.blocklist:
            doms = [
                ln.strip()
                for ln in open(ns.blocklist, encoding="utf-8")
                if ln.strip() and not ln.startswith("#")
            ]
            blocked = spark.createDataFrame(
                [(d,) for d in doms], "domain string"
            )
        rules_df = None
        if ns.robots:
            from py_schemax_spark.operators.robots import parse_robots

            rules_df = parse_robots(
                spark.read.parquet(ns.robots),
                user_agent=ns.robots_agent,
            )
        dsir_target = (
            spark.read.parquet(ns.dsir_target) if ns.dsir_target else None
        )
        try:
            curated, rep = run_curation(
                df, cfg, blocked_domains=blocked, robots_rules=rules_df,
                dsir_target=dsir_target,
            )
        except ValueError as e:
            print(f"error: {e}", file=sys.stderr)
            return 2
        out_dir = _P(ns.out)
        out_dir.mkdir(parents=True, exist_ok=True)
        curated.write.mode("overwrite").parquet(str(out_dir / "curated"))
        rep["table"] = ns.table
        if ns.export_shards:
            if ns.shard_budget <= 0:
                print("error: --shard-budget must be positive",
                      file=sys.stderr)
                return 2
            from pyspark.sql import functions as F

            from py_schemax_spark.operators.chunking import NON_WS_RUN
            from py_schemax_spark.sources.shards import (
                plan_shards,
                write_jsonl_shards,
            )

            sized = curated.withColumn(
                "n_units",
                F.coalesce(
                    F.regexp_count(F.col(cfg.text_col), F.lit(NON_WS_RUN)),
                    F.lit(0),
                ).cast("long"),
            )
            plan = plan_shards(
                sized.select(cfg.key_col, "n_units"),
                key_col=cfg.key_col,
                max_units_per_shard=ns.shard_budget,
            )
            sharded = sized.drop("n_units").join(plan, cfg.key_col)
            write_jsonl_shards(
                sharded, str(out_dir / "shards"), mode="overwrite"
            )
            rep["shards"] = {
                # one directory per shard: count them, not the plan
                "n_shards": len(list((out_dir / "shards").glob("shard_id=*"))),
                "budget": ns.shard_budget,
            }
        with open(out_dir / "report.json", "w") as f:
            _json.dump(rep, f, indent=1)
        if ns.use_json:
            print(_json.dumps(rep))
        else:
            for stage, io in rep["stages"].items():
                print(f"✂️  {stage}: {io['in']} -> {io['out']}")
            print(f"curated table: {out_dir / 'curated'}")
        from py_schemax_spark.operators.dedup import (
            release_all_intermediates,
        )

        release_all_intermediates()
        # the result is written — its own checkpoint blocks (kept out
        # of the registry so a drain can't break the frame) can go too
        final = getattr(curated, "_schemax_result_blocks", None)
        if final is not None:
            final.unpersist()
        return 0
    finally:
        if own_spark:
            spark.stop()


def profile_main(ns, spark=None) -> int:
    """``profile TABLE``: bounded per-column discovery report (JSON or
    text). Exit 2 on bad args (unknown column, k < 2), 0 otherwise —
    profiling never judges, it only describes."""
    import json as _json

    from py_schemax_spark.operators.profile import profile_table

    if ns.hh_k < 2 or ns.mad_k < 1:
        print("error: --hh-k must be >= 2 and --mad-k >= 1",
              file=sys.stderr)
        return 2
    cols = (
        [c.strip() for c in ns.columns.split(",") if c.strip()]
        if ns.columns else None
    )
    own_spark = spark is None
    if own_spark:
        from py_schemax_spark.session import get_spark

        spark = get_spark(master=ns.master)
    try:
        try:
            df = read_table(spark, ns.table)
            rep = profile_table(
                df, columns=cols, hh_k=ns.hh_k, mad_k=ns.mad_k,
                key_col=ns.key_col, hh_mode=ns.hh_mode,
            )
        except ValueError as e:
            print(f"error: {e}", file=sys.stderr)
            return 2
        except Exception as e:  # unreadable table (AnalysisException…)
            print(f"❌ {ns.table}: {e}", file=sys.stderr)
            return 2
        rep["table"] = ns.table
        if ns.emit_spec:
            import yaml

            from py_schemax_spark.operators.profile import infer_spec
            from py_schemax_spark.specs.loader import validate_spec_dict

            from pathlib import Path

            fqn = ns.fqn or Path(ns.table).name.replace(".parquet", "")
            # unprofiled table columns must still be DECLARED (schema
            # conformance is extra="forbid"): permissive type-only
            # entries so the table passes the spec inferred from it
            # for any --columns selection
            extra = [
                (n, t) for n, t in df.dtypes
                if n not in rep["columns"]
            ]
            draft = infer_spec(
                rep, fqn=fqn, key=ns.key_col, extra_columns=extra
            )
            res = validate_spec_dict(draft, file_path=ns.emit_spec)
            if not res.valid:
                # inference produced an invalid spec = a bug, not a
                # user error; surface it loudly
                for e in res.errors:
                    print(f"error: {e.error_at}: {e.message}",
                          file=sys.stderr)
                return 2
            with open(ns.emit_spec, "w", encoding="utf-8") as fh:
                yaml.safe_dump(draft, fh, sort_keys=False,
                               allow_unicode=True)
            print(f"spec draft written: {ns.emit_spec}", file=sys.stderr)
        if ns.use_json:
            print(_json.dumps(rep))
        else:
            print(f"table {ns.table}: {rep['n_rows']} rows")
            for c, info in rep["columns"].items():
                line = (
                    f"  {c} ({info['type']}): nulls={info['null_count']}"
                    f" min={info['min']} max={info['max']}"
                )
                if "mad_outliers" in info:
                    line += f" mad_outliers={info['mad_outliers']}"
                print(line)
                for h in info["heavy_hitters"]:
                    print(
                        f"    ▸ {h['value']!r}: {h['cnt']} rows "
                        f"({h['share_bp']/100:.1f}%)"
                    )
        return 0
    finally:
        if own_spark:
            spark.stop()


def main(argv: Optional[list[str]] = None, spark=None) -> int:
    ns = build_parser().parse_args(argv)
    if ns.command == "check-specs":
        return check_specs_main(ns)
    if ns.command == "diff":
        return diff_main(ns)
    if ns.command == "curate":
        return curate_main(ns, spark=spark)
    if ns.command == "profile":
        return profile_main(ns, spark=spark)
    try:
        cfg = resolve_config(
            {
                "output_format": (
                    "json" if ns.use_json else ns.output_format
                ),
                "output_level": ns.output_level or ns.output_level_choice,
                "fail_mode": ns.fail_mode or ns.fail_mode_choice,
                "checks": ns.checks,
                "skip": ns.skip,
                "checkpoint_dir": ns.checkpoint_dir,
                "salt": ns.salt,
                "order_col": ns.order_col,
                "required_attributes": ns.required_attributes,
                "column_required_attributes": ns.column_required_attributes,
                "dim_broadcast_limit": ns.dim_broadcast_limit,
            },
            config_files=tuple(ns.config_files) if ns.config_files else None,
        )
    except ValueError as e:
        print(f"error: {e}", file=sys.stderr)
        return 2
    out = Output(cfg.output_format, cfg.output_level)

    spec_result = load_spec(
        ns.spec,
        required_attributes=cfg.required_attributes,
        column_required_attributes=cfg.column_required_attributes,
    )
    if not spec_result.valid:
        for e in spec_result.errors:
            print(f"❌ {ns.spec}: {e.error_at}: {e.message}", file=sys.stderr)
        return 1

    tables = accept_paths_from_stdin(ns.tables)
    if not tables:
        print("no table paths given (args or stdin)", file=sys.stderr)
        return 2

    own_spark = spark is None
    if own_spark:
        from py_schemax_spark.session import get_spark

        spark = get_spark(master=ns.master)
    try:
        dims = {}
        for d in ns.dim:
            name, _, path = d.partition("=")
            dims[name] = spark.read.parquet(path)
        baseline = (
            spark.read.parquet(ns.baseline) if ns.baseline else None
        )
        try:
            rc = RunConfig(
                checks=cfg.checks or RunConfig.checks,
                skip=cfg.skip,
                fail_mode=cfg.fail_mode,
                order_col=cfg.order_col,
                checkpoint_dir=cfg.checkpoint_dir,
                salt=cfg.salt,
                dim_broadcast_limit=cfg.dim_broadcast_limit,
            )
        except ValueError as e:
            print(f"error: {e}", file=sys.stderr)
            return 2
        worst = 0
        for i, t in enumerate(tables):
            try:
                if rc.checkpoint_dir and t.startswith("iceberg:"):
                    # resumable runs must read ONE immutable snapshot
                    # on EVERY attempt: the first attempt resolves the
                    # pin and records it under the checkpoint dir;
                    # restarts reuse the recorded pin (re-resolving
                    # after a commit would key the manifest on the new
                    # snapshot and restart from scratch)
                    from py_schemax_spark.checkpoint import (
                        pinned_source_uri,
                    )

                    t = pinned_source_uri(spark, t, rc.checkpoint_dir)
                df = read_table(spark, t)
            except (RuntimeError, ValueError) as e:
                print(f"❌ {t}: {e}", file=sys.stderr)
                return 2
            if ns.where:
                from pyspark.sql import functions as F

                df = df.filter(F.expr(ns.where))
            run = ValidationRun(spark, spec_result.spec, dims, baseline, rc)
            if ns.explain:
                plans, schema_errors = run.explain_plans(df)
                for cls, plan in plans.items():
                    print(f"== {cls} ==")
                    print(plan)
                # a gated table plans nothing: say why, and exit as
                # the gated run would
                for err in schema_errors:
                    print(f"❌ {t}: schema: {err['error_at']}: "
                          f"{err['message']}", file=sys.stderr)
                if schema_errors and cfg.fail_mode != "never":
                    if cfg.fail_mode == "fast":
                        return 1
                    worst = 1
                continue
            # S8 result sink: the run writes the violations parquet
            # itself, before computing the summary from it
            sink = (
                f"{ns.output_dir}/violations_{i}" if ns.output_dir else None
            )
            try:
                result = run.run(df, source=t, sink=sink)
            except LegacyCheckpointError as e:
                print(f"❌ {t}: {e}", file=sys.stderr)
                return 2
            out.print_result(result)
            if ns.output_dir:
                import json as _json
                from pathlib import Path as _P

                _P(ns.output_dir).mkdir(parents=True, exist_ok=True)
                with open(f"{ns.output_dir}/summary_{i}.json", "w") as f:
                    _json.dump(
                        {"table": t, **result.run_summary.to_dict(),
                         "drift": result.drift,
                         "schema_errors": result.schema_errors},
                        f, default=str, indent=2,
                    )
            # all terminal actions on this result are done — release
            # the run's cached intermediates so a many-table
            # invocation doesn't accumulate cache blocks
            result.release()
            code = out.end_control(result, cfg.fail_mode)
            worst = max(worst, code)
            if code != 0 and cfg.fail_mode == "fast":
                return code
        return worst
    finally:
        if own_spark:
            spark.stop()


if __name__ == "__main__":
    raise SystemExit(main())
