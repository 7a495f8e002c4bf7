"""The user journeys and the isolated per-layer calls.

A journey is one CLI invocation through ``py_schemax_spark.cli.main``,
checked against the DuckDB oracle right after it returns.
"""

from __future__ import annotations

import contextlib
import io
import shutil
import time
from dataclasses import dataclass
from pathlib import Path

from perfbench import inputs, oracle
from perfbench.tracing import PhaseSpans, cpu_seconds

CURATE_STEPS = ("robots", "quality", "dsir", "lines", "exact_dedup",
                "near_dedup")
# the curate_e2e oracle's configuration (see __spark_entry__.q_curate_e2e)
_CURATE_FLAGS = {
    "robots_agent": "mybot",
    "dsir_threshold": -70_000_000,
    "dsir_buckets": 1024,
    "min_line_docs": 30,
    "shard_budget": 40_000,
}


@dataclass(frozen=True)
class Workload:
    name: str
    family: str  # "validate" | "curate"
    size: int  # pages rows or raw documents
    words_scale: int = 1


WORKLOADS = {
    w.name: w
    for w in (
        Workload("validate_sink", "validate", 60_000, words_scale=4),
        Workload("curate_shards", "curate", 2_000),
    )
}


def generate(spark, wl: Workload, work: Path, seed: int) -> dict:
    if wl.family == "validate":
        return inputs.write_pages_inputs(spark, work, seed, wl.size,
                                         wl.words_scale)
    return inputs.write_curate_inputs(spark, work, seed, wl.size)


def expected(wl: Workload, paths: dict) -> dict:
    if wl.family == "validate":
        return oracle.expected_violations(paths["pages"], paths["lang_dim"])
    return oracle.expected_curation(paths["documents"])


def n_docs(wl: Workload, exp: dict) -> int:
    if wl.family == "validate":
        return exp["__rows__"]
    return exp["stages"]["n_docs"]


def validate_argv(paths: dict, out: Path, ckpt: Path | None = None) -> list:
    argv = [
        "validate", paths["pages"], "--spec", paths["spec"],
        "--dim", f"lang_dim={paths['lang_dim']}",
        "--baseline", paths["baseline"], "--order-col", "warc_ts",
        "--check", "schema,rows,extraction,uniqueness,referential,"
                   "cardinality,drift",
        "--output-dir", str(out), "--fail-never", "--silent",
    ]
    if ckpt is not None:
        argv += ["--checkpoint-dir", str(ckpt)]
    return argv


def curate_argv(paths: dict, out: Path) -> list:
    f = _CURATE_FLAGS
    return [
        "curate", paths["corpus"], "--out", str(out), "--url-col", "url",
        "--robots", paths["robots"], "--robots-agent", f["robots_agent"],
        "--dsir-target", paths["target"],
        "--dsir-threshold", str(f["dsir_threshold"]),
        "--dsir-buckets", str(f["dsir_buckets"]),
        "--min-line-docs", str(f["min_line_docs"]),
        "--steps", ",".join(CURATE_STEPS),
        "--export-shards", "--shard-budget", str(f["shard_budget"]),
    ]


def invoke(spark, argv: list) -> tuple[float, float, int]:
    """One CLI invocation, as a user runs it minus JVM start: wall time,
    CPU time (see ``tracing.cpu_seconds``) and exit code. The CLI's own
    stdout is discarded."""
    from py_schemax_spark import cli

    c0, t0 = cpu_seconds(), time.perf_counter()
    with contextlib.redirect_stdout(io.StringIO()):
        rc = cli.main(argv, spark=spark)
    return time.perf_counter() - t0, cpu_seconds() - c0, rc


@dataclass
class JourneyResult:
    wall_s: float
    cpu_s: float
    problems: list
    digest: str


def _invoke_checked(spark, argv: list, check, out: Path,
                    exp: dict) -> JourneyResult:
    wall, cpu, rc = invoke(spark, argv)
    problems, digest = check(str(out), exp)
    if rc != 0:
        problems.append(f"exit code {rc}")
    return JourneyResult(wall, cpu, problems, digest)


def run_journey(spark, wl: Workload, paths: dict, exp: dict,
                work: Path) -> JourneyResult:
    """Run one journey from a clean output dir and check it."""
    out = work / "out"
    shutil.rmtree(out, ignore_errors=True)
    if wl.family == "curate":
        return _invoke_checked(spark, curate_argv(paths, out),
                               oracle.check_curate_output, out, exp)
    return _invoke_checked(spark, validate_argv(paths, out),
                           oracle.check_validate_output, out, exp)


# --- isolated layer calls (traced run only) --------------------------------


def _noop(df) -> None:
    """Force every output column: a bare count() lets Catalyst prune a
    projection-only UDF."""
    df.write.format("noop").mode("overwrite").save()


def _timed(ev, name: str, fn) -> tuple[float, dict]:
    with ev.group(name):
        t0 = time.perf_counter()
        fn()
        wall = time.perf_counter() - t0
    return wall, ev.take(name)


def validate_layers(spark, ev, paths: dict, violations_dir: str) -> dict:
    """Each check class alone over the pages table, plus the scan floor
    and the verdict summary over already-written violations."""
    from pyspark.sql import functions as F

    from py_schemax_spark.operators.drift import drift_verdicts
    from py_schemax_spark.operators.extraction_check import (
        extraction_violations,
    )
    from py_schemax_spark.operators.referential import (
        referential_violations,
    )
    from py_schemax_spark.operators.uniqueness import uniqueness_violations
    from py_schemax_spark.operators.violations import row_violations
    from py_schemax_spark.plans.compiler import schema_conformance
    from py_schemax_spark.sources.readers import read_table
    from py_schemax_spark.specs.loader import load_spec
    from py_schemax_spark.verdict import (
        partition_summary,
        summarize_partitions,
    )

    spec = load_spec(paths["spec"]).spec
    df = read_table(spark, paths["pages"])
    dims = {"lang_dim": spark.read.parquet(paths["lang_dim"])}
    baseline = spark.read.parquet(paths["baseline"])
    violations = spark.read.parquet(violations_dir)
    part = F.to_date("warc_ts").cast("string")
    calls = {
        "sources.scan": lambda: _noop(df),
        "plans.schema": lambda: schema_conformance(df, spec),
        "operators.rows": lambda: _noop(
            row_violations(df, spec, partition_expr=part)),
        "operators.extraction": lambda: _noop(
            extraction_violations(df, spec, partition_expr=part)),
        "operators.uniqueness": lambda: _noop(uniqueness_violations(
            df, spec, order_col="warc_ts", partition_expr=part)),
        "operators.referential": lambda: _noop(
            referential_violations(df, spec, dims, partition_expr=part)),
        "verdict.summary": lambda: summarize_partitions(
            partition_summary(df, violations, part), max_rows=10_000),
        "operators.drift": lambda: drift_verdicts(df, spec, baseline),
    }
    out = {}
    for name, fn in calls.items():
        wall, m = _timed(ev, name, fn)
        out[f"{name}_s"] = wall
        if name == "operators.extraction":
            out["operators.extraction_py_rows"] = m["py_rows"]
            out["operators.extraction_py_bytes"] = (
                m["py_bytes_out"] + m["py_bytes_in"]
            )
        elif name == "operators.uniqueness":
            out["operators.uniqueness_shuffle_bytes"] = m["shuffle_bytes"]
    return out


def checkpoint_layers(spark, paths: dict, exp: dict,
                      work: Path) -> tuple[dict, list]:
    """The validate journey with ``--checkpoint-dir``: a fresh attempt,
    then a resume against the completed dir, traced. Returns the
    metrics and both checked invocations."""
    out, ckpt = work / "out", work / "ckpt"
    shutil.rmtree(out, ignore_errors=True)
    shutil.rmtree(ckpt, ignore_errors=True)
    argv = validate_argv(paths, out, ckpt)
    check = oracle.check_validate_output
    with PhaseSpans() as spans:
        fresh = _invoke_checked(spark, argv, check, out, exp)
        resume = _invoke_checked(spark, argv, check, out, exp)
    skipped = len(spans.results[-1].skipped_parts)
    if skipped != exp["__parts__"]:
        resume.problems.append(f"resume skipped {skipped} of "
                               f"{exp['__parts__']} partitions")
    return {
        "checkpoint.fresh_run_s": spans.core_walls[0],
        "checkpoint.resume_run_s": spans.core_walls[1],
        "checkpoint.resume_s": resume.wall_s,
        "checkpoint.bytes_written": sum(
            p.stat().st_size for p in ckpt.rglob("*") if p.is_file()
        ),
        "checkpoint.parts_skipped": skipped,
    }, [fresh, resume]


def curate_layers(spark, ev, paths: dict, work: Path) -> dict:
    """Each curate stage alone, as ``run_curation(prev, steps=(stage,))``
    on the previous stage's output, then the shard plan and write."""
    from pyspark.sql import functions as F

    from py_schemax_spark.curate import CurationConfig, run_curation
    from py_schemax_spark.operators.dedup import release_all_intermediates
    from py_schemax_spark.operators.robots import parse_robots
    from py_schemax_spark.sources.readers import read_table
    from py_schemax_spark.sources.shards import (
        plan_shards,
        write_jsonl_shards,
    )

    f = _CURATE_FLAGS
    robots = parse_robots(spark.read.parquet(paths["robots"]),
                          user_agent=f["robots_agent"])
    target = spark.read.parquet(paths["target"])
    prev = read_table(spark, paths["corpus"])
    out: dict = {}
    for stage in CURATE_STEPS:
        cfg = CurationConfig(
            url_col="url", steps=(stage,),
            min_line_docs=f["min_line_docs"],
            dsir_threshold_per_kterm=f["dsir_threshold"],
            dsir_buckets=f["dsir_buckets"],
        )
        holder = {}

        def call(cfg=cfg, src=prev):
            holder["res"] = run_curation(
                src, cfg, robots_rules=robots, dsir_target=target,
                report=True,
            )

        wall, _ = _timed(ev, f"curate.{stage}", call)
        prev, rep = holder["res"]
        io_ = rep["stages"][stage]
        out[f"curate.{stage}_s"] = wall
        out[f"curate.{stage}_keep"] = io_["out"] / io_["in"]
    sized = prev.withColumn(
        "n_units",
        F.coalesce(F.regexp_count(F.col("text"), F.lit(r"[^ \t\n\r\f]+")),
                   F.lit(0)).cast("long"),
    )
    plan = plan_shards(sized.select("doc_id", "n_units"), key_col="doc_id",
                       max_units_per_shard=f["shard_budget"])
    out["shards.plan_s"], _ = _timed(ev, "shards.plan",
                                     lambda: _noop(plan))
    out["shards.write_s"], _ = _timed(ev, "shards.write", lambda: (
        write_jsonl_shards(sized.drop("n_units").join(plan, "doc_id"),
                           str(work / "layer_shards"), mode="overwrite")
    ))
    release_all_intermediates()
    return out
