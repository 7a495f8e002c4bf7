"""Rule pipeline: registry of constraint classes, short-circuit, fail
modes — the analogue of RuleSetBasedValidation (reference
py_schemax/rulesets.py:17-49) and the fail-mode control flow
(config.py:18-21, output.py:46-65).

Reference semantics → data-level semantics:

- registry order + per-file short-circuit (rulesets.py:41-47):
  constraint CLASSES run in registry order; ``fail_mode="fast"`` stops
  after the first class that reports violations (remaining Spark jobs
  are simply not submitted — the data-level analogue of stopping at
  the first failing rule).
- fail modes (config.py:137-150, output.py:55-65): ``after`` = run
  everything, exit 1 if any violation; ``fast`` = exit 1 at first
  failing class; ``never`` = always exit 0 (verdicts still produced).
- rule selection (cli.py:241-250): ``checks`` whitelists classes,
  ``skip`` subtracts, mirroring --rule-apply / --rule-ignore.

Each verdict is materialized once: ``run(df, sink=path)`` writes the
merged violations to the sink first, then computes the per-partition
summary and the run totals from what was written, so the summary
describes exactly the artifact on disk and ``RunResult.violations``
reads it back. Without a sink the violations are persisted once
(released by ``RunResult.release``). Under ``fail_mode="fast"`` each
class is persisted and counted as it runs, so its probe is the one
execution the sink write and the summary then read.

Checkpoint/resume: with a ``checkpoint_dir``, completed partitions are
excluded from the scan predicate (partition pruning does the skipping).
The partition-local classes write their violations straight into the
checkpoint dir, and the final verdict is that dir (done ∪ fresh
partitions) ∪ the global classes, each of which runs once per attempt
— resumed runs produce verdicts identical to single runs.
"""

from __future__ import annotations

from dataclasses import dataclass, field
from typing import Optional

from pyspark import StorageLevel
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from py_schemax_spark.checkpoint import (
    CheckpointManifest,
    snapshot_id_for,
    spec_fingerprint,
)
from py_schemax_spark.operators.drift import drift_verdicts, drift_violations
from py_schemax_spark.operators.referential import referential_violations
from py_schemax_spark.operators.stats import column_stats
from py_schemax_spark.operators.uniqueness import uniqueness_violations
from py_schemax_spark.operators.violations import row_violations
from py_schemax_spark.plans.compiler import schema_conformance
from py_schemax_spark.specs.model import TableSpec
from py_schemax_spark.verdict import (
    TABLE_PART,
    RunSummary,
    merge_violations,
    partition_summary,
    summarize_partitions,
)


@dataclass(frozen=True)
class _Sink:
    """A parquet directory that receives a run's violations in one
    overwriting write. ``partitioned`` is the checkpoint layout: one
    directory per ``part`` value, replaced by dynamic overwrite, with
    ``exclude_parts`` (partitions completed earlier) left out of the
    read-back.

    Every read follows a write to the same directory, which Spark
    creates even for an empty frame, so a read failure is never "no
    violations yet" and propagates."""

    path: str
    partitioned: bool = False
    exclude_parts: frozenset = frozenset()

    def write(self, violations: DataFrame) -> None:
        w = violations.write.mode("overwrite")
        if self.partitioned:
            w = w.option("partitionOverwriteMode", "dynamic").partitionBy(
                "part"
            )
        w.parquet(self.path)

    def read(self, spark: SparkSession, schema: StructType) -> DataFrame:
        out = spark.read.schema(schema).option("basePath", self.path).parquet(
            self.path
        )
        if self.exclude_parts:
            out = out.filter(~F.col("part").isin(sorted(self.exclude_parts)))
        return out


def _spec_has_cardinality(spec) -> bool:
    """True when any column's ``references`` declares min/max_rows —
    the cardinality class is a spec-opt-in no-op otherwise."""
    return any(
        cs.references is not None
        and (cs.references.min_rows is not None
             or cs.references.max_rows is not None)
        for cs in spec.columns
    )


#: registry order — the analogue of VALIDATORS_IN_ORDER
#: (reference rulesets.py:17-21); DEFAULT_CHECKS mirrors the default
#: rule set (rulesets.py:24) extended with the data-level classes.
ALL_CHECKS = (
    "schema", "rows", "extraction", "uniqueness", "referential",
    "cardinality", "drift"
)
DEFAULT_CHECKS = ALL_CHECKS

EXIT_OK = 0
EXIT_INVALID = 1


@dataclass
class RunConfig:
    checks: tuple[str, ...] = DEFAULT_CHECKS
    skip: tuple[str, ...] = ()
    fail_mode: str = "after"  # after | fast | never  (C1)
    order_col: Optional[str] = None  # duplicate-attribution order (V3)
    checkpoint_dir: Optional[str] = None
    salt: int = 1  # salted stats pass
    # referential dims above this many rows take the distinct-keys
    # strategy instead of broadcast (None = always broadcast)
    dim_broadcast_limit: Optional[int] = None
    drift_compression: float = 200.0
    drift_fan: int = 32
    # fuse extraction + tiny-dim referential into the rows projection
    # (one scan instead of three); disabled under fail_mode="fast",
    # which needs per-class short-circuit order
    fuse_row_checks: bool = True
    # per-partition summary rows materialized on the driver are capped
    # at this many (worst partitions first); run totals stay exact via
    # a single-row aggregate (verdict.summarize_partitions)
    max_summary_partitions: int = 10_000

    def __post_init__(self) -> None:
        # unknown check names are a config error, not a silent no-op —
        # the analogue of the reference's click.Choice rejection on
        # --rule-apply/--rule-ignore (reference cli.py:142-157)
        known = set(ALL_CHECKS)
        bad = [c for c in (*self.checks, *self.skip) if c not in known]
        if bad:
            raise ValueError(
                f"unknown check class(es) {bad}; valid: {list(ALL_CHECKS)}"
            )

    @property
    def enabled(self) -> tuple[str, ...]:
        return tuple(c for c in self.checks if c not in set(self.skip))


@dataclass
class RunResult:
    violations: DataFrame
    summary_rows: list
    run_summary: RunSummary
    exit_code: int
    stats: Optional[DataFrame] = None
    drift: list = field(default_factory=list)
    schema_errors: list = field(default_factory=list)
    skipped_parts: list = field(default_factory=list)
    checks_run: tuple = ()
    # DataFrames run() persisted into the session cache (the violations
    # of a run without a sink). A long-lived session validating many
    # tables must release them after its terminal action on the
    # result, or cache blocks accumulate for the session lifetime.
    persisted: tuple = ()

    def release(self) -> None:
        """Unpersist every cached intermediate this run pinned.
        After release, re-materializing `violations` recomputes the
        released plans (correct, just uncached)."""
        for df in self.persisted:
            try:
                df.unpersist()
            except Exception:
                pass


class ValidationRun:
    """One compiled run over one table — constraints compiled once,
    reused across every partition (the analogue of the one-time model
    compilation at reference validator.py:99-101 / rulesets.py:32)."""

    def __init__(
        self,
        spark: SparkSession,
        spec: TableSpec,
        dims: Optional[dict[str, DataFrame]] = None,
        baseline: Optional[DataFrame] = None,
        config: Optional[RunConfig] = None,
    ):
        self.spark = spark
        self.spec = spec
        self.dims = dims or {}
        self.baseline = baseline
        self.config = config or RunConfig()

    # -- helpers -----------------------------------------------------------

    def _partition_expr(self, df: DataFrame):
        if "warc_ts" in df.columns:
            return F.to_date("warc_ts").cast("string")
        return F.lit("all")

    def _empty_violations(self, df: DataFrame, key: str) -> DataFrame:
        return (
            df.select(F.col(key).cast("string").alias(key))
            .limit(0)
            .select(
                key,
                F.lit("").alias("constraint_id"),
                F.lit("").alias("observed"),
                F.lit("").alias("expected"),
                F.lit("").alias("part"),
            )
        )

    # -- main entry ----------------------------------------------------------

    def run(
        self,
        df: DataFrame,
        source: str = "<dataframe>",
        sink: Optional[str] = None,
    ) -> RunResult:
        """Validate ``df``. ``sink`` is a parquet directory (replaced)
        that receives the violations before the summary is computed
        from it; ``RunResult.violations`` then reads that directory."""
        if self.config.checkpoint_dir:
            return self._run_with_checkpoint(df, source, sink)
        return self._run_plain(df, _Sink(sink) if sink else None)

    def _class_violations(self, name: str, df: DataFrame, part) -> DataFrame:
        key = self.spec.key_column
        if name == "rows":
            return row_violations(df, self.spec, partition_expr=part)
        if name == "extraction":
            from py_schemax_spark.operators.extraction_check import (
                extraction_violations,
            )

            return extraction_violations(df, self.spec, partition_expr=part)
        if name == "uniqueness":
            return uniqueness_violations(
                df, self.spec, order_col=self.config.order_col,
                partition_expr=part,
            )
        if name == "referential":
            return referential_violations(
                df, self.spec, self.dims, partition_expr=part,
                max_broadcast_rows=self.config.dim_broadcast_limit,
            )
        raise ValueError(name)

    def _run_plain(
        self, df: DataFrame, sink: Optional[_Sink] = None
    ) -> RunResult:
        cfg = self.config
        key = self.spec.key_column
        part = self._partition_expr(df)
        enabled = cfg.enabled
        fail_fast = cfg.fail_mode == "fast"

        schema_errors: list[dict] = []
        drift_list: list[dict] = []
        parts: list[DataFrame] = []
        persisted_dfs: list[DataFrame] = []
        checks_run: list[str] = []
        failed_early = False

        def add(v: DataFrame) -> None:
            """Queue one class's violations. Under fail-fast the class
            is persisted and counted now: that one execution is both
            the short-circuit probe (reference rulesets.py:41-47) and
            what the sink write and the summary read later."""
            nonlocal failed_early
            if fail_fast:
                v = v.persist(StorageLevel.MEMORY_AND_DISK)
                persisted_dfs.append(v)
                failed_early = v.count() > 0
            parts.append(v)

        # fused single-scan path: extraction + literal-dim referential
        # checks compile into the SAME projection as the row constraints
        # (one scan instead of three). fail_fast keeps per-class order,
        # so fusion is disabled there.
        fused: set[str] = set()
        extra_constraints: list = []
        if cfg.fuse_row_checks and not fail_fast and "rows" in enabled:
            from py_schemax_spark.plans.compiler import (
                extraction_constraint,
                referential_literal_constraints,
            )

            if "extraction" in enabled and self.spec.extraction is not None:
                ec = extraction_constraint(self.spec)
                if ec is not None:
                    extra_constraints.append(ec)
                    fused.add("extraction")
            if "referential" in enabled:
                lits, remaining = referential_literal_constraints(
                    df, self.spec, self.dims
                )
                extra_constraints.extend(lits)
                if not remaining:
                    fused.add("referential")
                # big dims (if any) still run the anti-join path; the
                # operator re-derives its own column list, so fused
                # literal dims would double-report — only fuse when ALL
                # referenced dims are literal-sized
                if remaining and lits:
                    extra_constraints = [
                        c for c in extra_constraints
                        if not c.constraint_id.endswith(".references")
                    ]

        for name in enabled:
            if failed_early:
                break
            if name == "schema":
                checks_run.append(name)
                schema_errors = schema_conformance(df, self.spec)
                # parse-gate semantics (rulesets.py:35-39): a spec that
                # doesn't structurally match the table stops everything.
                if schema_errors:
                    break
            elif name == "extraction" and self.spec.extraction is None:
                continue
            elif name in fused:
                checks_run.append(name)  # ran inside the rows projection
                continue
            elif name == "rows":
                checks_run.append(name)
                add(row_violations(
                    df, self.spec, partition_expr=part,
                    extra_constraints=extra_constraints,
                ))
            elif name in ("extraction", "uniqueness", "referential"):
                checks_run.append(name)
                add(self._class_violations(name, df, part))
            elif name == "cardinality":
                if not _spec_has_cardinality(self.spec):
                    continue  # no bounds declared: a no-op class
                checks_run.append(name)
                from py_schemax_spark.operators.referential import (
                    cardinality_violations,
                )

                add(cardinality_violations(
                    df, self.spec, self.dims, partition_expr=part
                ))
            elif name == "drift":
                if self.baseline is None:
                    continue
                checks_run.append(name)
                drift_list = drift_verdicts(
                    df, self.spec, self.baseline,
                    compression=cfg.drift_compression, fan=cfg.drift_fan,
                )
                dv = drift_violations(self.spark, drift_list, key_name=key)
                parts.append(dv.withColumn("part", F.lit(TABLE_PART)))
                failed_early = fail_fast and any(
                    d["drifted"] for d in drift_list
                )

        violations = (
            merge_violations(*parts) if parts else self._empty_violations(df, key)
        )
        if sink is not None:
            # the one execution of the pipeline (or, under fail-fast,
            # a copy out of the per-class caches, freed right after)
            sink.write(violations)
            violations = sink.read(self.spark, violations.schema)
            for v in persisted_dfs:
                v.unpersist()
            persisted_dfs.clear()
        elif not fail_fast:  # fail-fast classes are cached one by one
            violations = violations.persist(StorageLevel.MEMORY_AND_DISK)
            persisted_dfs.append(violations)
        # bounded collect: totals are exact for ALL partitions; at most
        # max_summary_partitions per-partition rows reach the driver
        # (worst first), so a 10^6-partition table cannot flood it
        summary, run_summary = summarize_partitions(
            partition_summary(df, violations, part),
            max_rows=cfg.max_summary_partitions,
        )
        invalid = not run_summary.valid or bool(schema_errors)
        exit_code = (
            EXIT_OK
            if cfg.fail_mode == "never" or not invalid
            else EXIT_INVALID
        )
        return RunResult(
            violations=violations,
            summary_rows=summary,
            run_summary=run_summary,
            exit_code=exit_code,
            drift=drift_list,
            schema_errors=schema_errors,
            checks_run=tuple(checks_run),
            persisted=tuple(persisted_dfs),
        )

    def explain_plans(self, df: DataFrame) -> dict[str, str]:
        """Physical plan per enabled constraint class, WITHOUT running
        any jobs — the plan-first workflow (`validate --explain`):
        inspect where the exchanges, broadcasts, and pushed filters
        land before paying for a 100-TB pass. Classes that are
        no-ops for this spec (no extraction template, no cardinality
        bounds, no baseline) are omitted."""
        part = self._partition_expr(df)
        out: dict[str, str] = {}
        for name in self.config.enabled:
            v = None
            if name == "rows":
                v = row_violations(df, self.spec, partition_expr=part)
            elif name == "extraction" and self.spec.extraction is not None:
                v = self._class_violations(name, df, part)
            elif name == "uniqueness":
                v = self._class_violations(name, df, part)
            elif name == "referential" and any(
                cs.references is not None for cs in self.spec.columns
            ):
                v = self._class_violations(name, df, part)
            elif name == "cardinality" and _spec_has_cardinality(
                self.spec
            ):
                from py_schemax_spark.operators.referential import (
                    cardinality_violations,
                )

                v = cardinality_violations(
                    df, self.spec, self.dims, partition_expr=part
                )
            if v is not None:
                out[name] = (
                    v._jdf.queryExecution().executedPlan().toString()
                )
        return out

    # -- checkpointed run -----------------------------------------------------

    #: checks whose verdicts are a pure function of one partition's rows
    #: — these are resumable (skipped when the manifest says done).
    #: uniqueness and drift are GLOBAL (cross-partition) semantics: a
    #: duplicate pair may span partitions, and drift is a whole-table
    #: distribution — they re-run over the full (column-pruned) table on
    #: every attempt, which keeps resumed verdicts identical to a single
    #: uninterrupted run (SURVEY.md §7 hard-point (e)). The re-run is
    #: cheap relative to the local pass: uniqueness scans only
    #: (key, order) columns; drift scans one numeric expression.
    LOCAL_CHECKS = ("schema", "rows", "extraction", "referential")
    GLOBAL_CHECKS = ("uniqueness", "cardinality", "drift")

    def _run_with_checkpoint(
        self, df: DataFrame, source: str, sink: Optional[str] = None
    ) -> RunResult:
        cfg = self.config
        key = self.spec.key_column
        part = self._partition_expr(df)
        manifest = CheckpointManifest(
            cfg.checkpoint_dir,
            snapshot_id=snapshot_id_for(source),
            spec_fingerprint=spec_fingerprint(self.spec),
        )
        done = manifest.completed_parts
        remaining_df = df.withColumn("_part", part).filter(
            ~F.col("_part").isin(list(done)) if done else F.lit(True)
        ).drop("_part")

        # resumable (partition-local) pipeline on remaining partitions
        # only — the isin predicate prunes completed partitions at scan
        enabled = cfg.enabled
        local = tuple(c for c in enabled if c in self.LOCAL_CHECKS)
        global_ = tuple(c for c in enabled if c in self.GLOBAL_CHECKS)
        sub = ValidationRun(
            self.spark, self.spec, self.dims, self.baseline,
            RunConfig(**{**cfg.__dict__, "checkpoint_dir": None,
                         "checks": local, "skip": ()}),
        )
        # the local pipeline writes its violations straight into the
        # checkpoint dir, and its summary reads them back from there.
        # Dynamic partition OVERWRITE, not append: a run that crashed
        # after writing a partition but before mark_done re-runs that
        # partition on resume — append would then duplicate its rows,
        # dynamic overwrite replaces exactly the re-run partitions and
        # leaves completed ones untouched.
        res = sub._run_plain(remaining_df, _Sink(
            manifest.violations_dir, partitioned=True,
            exclude_parts=frozenset(done),
        ))
        parts_metrics = {
            str(r["part"]): {
                "row_count": r["row_count"],
                "violation_count": r["violation_count"],
                "valid": bool(r["valid"]),
            }
            for r in res.summary_rows
        }
        manifest.mark_done_many(parts_metrics)

        # global checks run over the FULL table every attempt
        global_parts: list[DataFrame] = []
        drift_list: list[dict] = []
        checks_run = list(res.checks_run)
        if "uniqueness" in global_:
            checks_run.append("uniqueness")
            global_parts.append(
                uniqueness_violations(
                    df, self.spec, order_col=cfg.order_col, partition_expr=part
                )
            )
        if "cardinality" in global_ and _spec_has_cardinality(self.spec):
            checks_run.append("cardinality")
            from py_schemax_spark.operators.referential import (
                cardinality_violations,
            )

            global_parts.append(
                cardinality_violations(
                    df, self.spec, self.dims, partition_expr=part
                )
            )
        if "drift" in global_ and self.baseline is not None:
            checks_run.append("drift")
            drift_list = drift_verdicts(
                df, self.spec, self.baseline,
                compression=cfg.drift_compression, fan=cfg.drift_fan,
            )
            global_parts.append(
                drift_violations(self.spark, drift_list, key_name=key)
                .withColumn("part", F.lit(TABLE_PART))
            )

        # final verdict = persisted (done ∪ fresh) local violations ∪
        # global violations, each global class executed once: in the
        # sink write, or into one cached frame the count and the
        # union both read
        local_v = _Sink(manifest.violations_dir, partitioned=True).read(
            self.spark, res.violations.schema
        )
        persisted: list[DataFrame] = []
        if sink is not None:
            out = _Sink(sink)
            out.write(merge_violations(local_v, *global_parts))
            all_violations = out.read(self.spark, local_v.schema)
            n_global = all_violations.count() - local_v.count()
        elif global_parts:
            gv = merge_violations(*global_parts).persist(
                StorageLevel.MEMORY_AND_DISK
            )
            persisted.append(gv)
            n_global = gv.count()
            all_violations = merge_violations(local_v, gv)
        else:
            all_violations, n_global = local_v, 0
        # summary across ALL partitions (manifest metrics for done ones)
        run_summary = RunSummary()
        for p in sorted(manifest.completed_parts):
            rec = manifest.record(p)
            run_summary.total_partitions += 1
            run_summary.total_rows += rec.get("row_count", 0)
            run_summary.total_violations += rec.get("violation_count", 0)
            if rec.get("valid", True):
                run_summary.valid_partitions += 1
            else:
                run_summary.invalid_partitions += 1
                run_summary.failed_parts.append(p)
        # global-check violations count for the table, not a partition
        run_summary.table_violations = n_global
        run_summary.total_violations += n_global
        invalid = not run_summary.valid or bool(res.schema_errors)
        exit_code = (
            EXIT_OK if cfg.fail_mode == "never" or not invalid else EXIT_INVALID
        )
        return RunResult(
            violations=all_violations,
            summary_rows=list(res.summary_rows),
            run_summary=run_summary,
            exit_code=exit_code,
            drift=drift_list,
            schema_errors=res.schema_errors,
            skipped_parts=sorted(done),
            checks_run=tuple(checks_run),
            persisted=tuple(persisted),
        )

    def stats(self, df: DataFrame, exact_distinct: bool = False) -> DataFrame:
        return column_stats(
            df, self.spec, exact_distinct=exact_distinct, salt=self.config.salt
        )
