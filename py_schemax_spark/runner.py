"""Rule pipeline: one ordered table of check classes, short-circuit,
fail modes — the analogue of RuleSetBasedValidation (reference
py_schemax/rulesets.py:17-49) and the fail-mode control flow
(config.py:18-21, output.py:46-65).

``CHECK_CLASSES`` is the registry (the analogue of VALIDATORS_IN_ORDER,
reference rulesets.py:17-21) and the only place that maps a check name
to its operator. Each entry says whether it applies to this run
(extraction needs a template, cardinality needs bounds, drift needs a
baseline), builds its violations, and — extraction and referential —
may instead fuse into the rows projection (one scan instead of three).
Partition-local classes come first, whole-table classes after:

    schema, rows, extraction, referential | uniqueness, cardinality, drift

``run`` (plain and checkpointed) and ``explain_plans`` all walk that
table with one loop, so they execute, short-circuit and explain the
classes in the same order.

Reference semantics → data-level semantics:

- registry order + per-file short-circuit (rulesets.py:41-47):
  constraint CLASSES run in table order; ``fail_mode="fast"`` stops
  after the first class that reports violations (remaining Spark jobs
  are simply not submitted — the data-level analogue of stopping at
  the first failing rule). ``schema`` is a parse gate
  (rulesets.py:35-39): a spec that does not match the table stops
  everything, in every fail mode.
- fail modes (config.py:137-150, output.py:55-65): ``after`` = run
  everything, exit 1 if any violation; ``fast`` = exit 1 at first
  failing class; ``never`` = always exit 0 (verdicts still produced).
- rule selection (cli.py:241-250): ``checks`` whitelists classes,
  ``skip`` subtracts, mirroring --rule-apply / --rule-ignore; the
  selection runs in table order, not in the order it was given.

Each verdict is materialized once: ``run(df, sink=path)`` writes the
merged violations to the sink first, then computes the per-partition
summary and the run totals from what was written, so the summary
describes exactly the artifact on disk and ``RunResult.violations``
reads it back. Without a sink the violations are persisted once
(released by ``RunResult.release``). Under ``fail_mode="fast"`` each
class is persisted and counted as it runs, so its probe is the one
execution the sink write and the summary then read.

Checkpoint/resume: with a ``checkpoint_dir``, completed partitions are
excluded from the scan predicate. The local classes run on the
remaining partitions and write their violations straight into the
checkpoint dir. Only if that loop did not stop (schema gate,
fail-fast) are the partitions marked done and the global classes run
over the full table, each once per attempt; the final verdict is the
checkpoint dir (done ∪ fresh partitions) ∪ the global classes. The
checkpoint scope is keyed by the spec, the enabled local classes and
fail-fast, so a changed selection starts afresh — resumed runs produce
verdicts identical to single runs.
"""

from __future__ import annotations

from dataclasses import dataclass, field
from typing import Callable, Optional

from pyspark import StorageLevel
from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from py_schemax_spark.checkpoint import (
    CheckpointManifest,
    snapshot_id_for,
    spec_fingerprint,
)
from py_schemax_spark.operators.drift import drift_verdicts, drift_violations
from py_schemax_spark.operators.extraction_check import extraction_violations
from py_schemax_spark.operators.referential import (
    cardinality_violations,
    referential_violations,
)
from py_schemax_spark.operators.stats import column_stats
from py_schemax_spark.operators.uniqueness import uniqueness_violations
from py_schemax_spark.operators.violations import row_violations
from py_schemax_spark.plans.compiler import (
    extraction_constraint,
    referential_literal_constraints,
    schema_conformance,
)
from py_schemax_spark.specs.model import TableSpec
from py_schemax_spark.verdict import (
    TABLE_PART,
    RunSummary,
    default_partition_expr,
    empty_violations,
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


# -- the check-class table ------------------------------------------------------

#: a LOCAL class's verdict is a pure function of one partition's rows,
#: so checkpointed runs resume it per partition; a GLOBAL class judges
#: the whole table (a duplicate pair or a dim key's fact count spans
#: partitions, drift is a whole-table distribution) and re-runs over
#: the full table on every attempt (SURVEY.md §7 hard-point (e))
LOCAL, GLOBAL = "local", "global"


@dataclass
class _Pass:
    """One walk over the check table: the run it belongs to and what
    the classes produced so far."""

    run: "ValidationRun"
    fail_fast: bool
    violations: dict = field(default_factory=dict)  # name -> DataFrame
    #: name -> RowConstraints evaluated inside the rows projection
    fused: dict = field(default_factory=dict)
    checks_run: list = field(default_factory=list)
    schema_errors: list = field(default_factory=list)
    drift: list = field(default_factory=list)
    persisted: list = field(default_factory=list)
    stopped: bool = False

    def unpersist(self) -> None:
        for v in self.persisted:
            v.unpersist()
        self.persisted.clear()


@dataclass(frozen=True)
class CheckClass:
    """One entry of the registry. ``build(p, df, part)`` returns the
    class's violations (None for the schema gate, which reports into
    ``p.schema_errors``); ``fuse(p, df)`` returns the RowConstraints
    that evaluate inside the rows projection instead, or None when the
    class needs its own plan. ``lazy=False`` marks a class whose build
    itself runs jobs (drift collects its grid counts), which
    ``explain_plans`` leaves out."""

    name: str
    scope: str
    applies: Callable[[_Pass, DataFrame], bool]
    build: Callable[[_Pass, DataFrame, object], Optional[DataFrame]]
    fuse: Optional[Callable[[_Pass, DataFrame], Optional[list]]] = None
    lazy: bool = True


def _always(p: _Pass, df: DataFrame) -> bool:
    return True


def _schema(p: _Pass, df: DataFrame, part) -> None:
    p.schema_errors = schema_conformance(df, p.run.spec)


def _rows(p: _Pass, df: DataFrame, part) -> DataFrame:
    return row_violations(
        df, p.run.spec, partition_expr=part,
        extra_constraints=[c for cs in p.fused.values() for c in cs],
    )


def _fuse_referential(p: _Pass, df: DataFrame) -> Optional[list]:
    lits, remaining = referential_literal_constraints(
        df, p.run.spec, p.run.dims
    )
    # a dim too big for an IN-list keeps the anti-join, and the
    # operator then checks every referenced column itself — fusing the
    # literal-sized ones too would double-report them
    return None if remaining else lits


def _has_bounds(p: _Pass, df: DataFrame) -> bool:
    """Cardinality is a spec opt-in: some ``references`` declares
    min/max_rows."""
    return any(
        cs.references is not None
        and (cs.references.min_rows is not None
             or cs.references.max_rows is not None)
        for cs in p.run.spec.columns
    )


def _drift(p: _Pass, df: DataFrame, part) -> DataFrame:
    run = p.run
    p.drift = drift_verdicts(df, run.spec, run.baseline)
    return drift_violations(
        run.spark, p.drift, key_name=run.spec.key_column
    ).withColumn("part", F.lit(TABLE_PART))


#: registry order — local classes, then global ones. DEFAULT_CHECKS
#: mirrors the default rule set (reference rulesets.py:24) extended
#: with the data-level classes.
CHECK_CLASSES = (
    CheckClass("schema", LOCAL, _always, _schema),
    CheckClass("rows", LOCAL, _always, _rows),
    CheckClass(
        "extraction", LOCAL,
        lambda p, df: p.run.spec.extraction is not None,
        lambda p, df, part: extraction_violations(
            df, p.run.spec, partition_expr=part
        ),
        fuse=lambda p, df: [extraction_constraint(p.run.spec)],
    ),
    CheckClass(
        "referential", LOCAL, _always,
        lambda p, df, part: referential_violations(
            df, p.run.spec, p.run.dims, partition_expr=part,
            max_broadcast_rows=p.run.config.dim_broadcast_limit,
        ),
        fuse=_fuse_referential,
    ),
    CheckClass(
        "uniqueness", GLOBAL, _always,
        lambda p, df, part: uniqueness_violations(
            df, p.run.spec, order_col=p.run.config.order_col,
            partition_expr=part,
        ),
    ),
    CheckClass(
        "cardinality", GLOBAL, _has_bounds,
        lambda p, df, part: cardinality_violations(
            df, p.run.spec, p.run.dims, partition_expr=part
        ),
    ),
    CheckClass(
        "drift", GLOBAL, lambda p, df: p.run.baseline is not None, _drift,
        lazy=False,
    ),
)
ALL_CHECKS = tuple(c.name for c in CHECK_CLASSES)
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
    # per-partition summary rows materialized on the driver are capped
    # at this many (worst partitions first); run totals stay exact via
    # an Observation on the same collect (verdict.summarize_partitions)
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
        """Selected classes, in table order."""
        return tuple(
            c for c in ALL_CHECKS if c in self.checks and c not in self.skip
        )


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

    # -- the table walk -----------------------------------------------------

    def _classes(self, scope: Optional[str] = None) -> list[CheckClass]:
        enabled = self.config.enabled
        return [
            c for c in CHECK_CLASSES
            if c.name in enabled and scope in (None, c.scope)
        ]

    def _pass(self) -> _Pass:
        return _Pass(self, fail_fast=self.config.fail_mode == "fast")

    def _walk(
        self, p: _Pass, df: DataFrame, part, classes: list[CheckClass],
        act: bool = True,
    ) -> None:
        """Run ``classes`` over ``df`` in table order, into ``p``.
        ``act=False`` only builds the plans (``explain_plans``): no
        fail-fast probe, and classes that are not lazy are left out."""
        classes = [
            c for c in classes if (act or c.lazy) and c.applies(p, df)
        ]
        # fusable classes compile into the rows projection (one scan
        # instead of three); fail-fast keeps one probe per class, so
        # nothing fuses there
        if not p.fail_fast and "rows" in {c.name for c in classes}:
            for c in classes:
                constraints = c.fuse(p, df) if c.fuse else None
                if constraints is not None:
                    p.fused[c.name] = constraints
        for c in classes:
            if p.stopped:
                break
            p.checks_run.append(c.name)
            if c.name in p.fused:
                continue  # ran inside the rows projection
            v = c.build(p, df, part)
            # parse gate (rulesets.py:35-39): stops every fail mode
            p.stopped = bool(p.schema_errors)
            if v is None:
                continue
            if act and p.fail_fast:
                # this one execution is both the short-circuit probe
                # (reference rulesets.py:41-47) and what the sink write
                # and the summary read later
                v = v.persist(StorageLevel.MEMORY_AND_DISK)
                p.persisted.append(v)
                p.stopped = v.count() > 0
            p.violations[c.name] = v

    def _finish(
        self, p: _Pass, df: DataFrame, part, sink: Optional[_Sink],
        skipped: tuple = (), all_rows: bool = False,
    ) -> RunResult:
        """Merge the pass's violations, write them to ``sink`` (or
        persist them), and summarize ``df``'s partitions from that one
        materialization (every partition's row when ``all_rows``)."""
        violations = (
            merge_violations(*p.violations.values()) if p.violations
            else empty_violations(df, self.spec.key_column)
        )
        if sink is not None:
            # the one execution of the pipeline (or, under fail-fast,
            # a copy out of the per-class caches, freed right after)
            sink.write(violations)
            violations = sink.read(self.spark, violations.schema)
            p.unpersist()
        elif not p.fail_fast:  # fail-fast classes are cached one by one
            violations = violations.persist(StorageLevel.MEMORY_AND_DISK)
            p.persisted.append(violations)
        # bounded collect: totals are exact for ALL partitions; at most
        # max_summary_partitions per-partition rows reach the driver
        # (worst first), so a 10^6-partition table cannot flood it
        summary, run_summary = summarize_partitions(
            partition_summary(df, violations, part),
            max_rows=None if all_rows else self.config.max_summary_partitions,
        )
        return self._result(p, violations, summary, run_summary, skipped)

    def _result(
        self, p: _Pass, violations: DataFrame, summary_rows: list,
        run_summary: RunSummary, skipped,
    ) -> RunResult:
        invalid = not run_summary.valid or bool(p.schema_errors)
        exit_code = (
            EXIT_OK
            if self.config.fail_mode == "never" or not invalid
            else EXIT_INVALID
        )
        return RunResult(
            violations=violations,
            summary_rows=summary_rows,
            run_summary=run_summary,
            exit_code=exit_code,
            drift=p.drift,
            schema_errors=p.schema_errors,
            skipped_parts=sorted(skipped),
            checks_run=tuple(p.checks_run),
            persisted=tuple(p.persisted),
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
        out = _Sink(sink) if sink else None
        if self.config.checkpoint_dir:
            return self._run_with_checkpoint(df, source, out)
        part = default_partition_expr(df)
        p = self._pass()
        self._walk(p, df, part, self._classes())
        return self._finish(p, df, part, out)

    def explain_plans(self, df: DataFrame) -> tuple[dict[str, str], list]:
        """Physical plan of each check class ``run()`` would execute on
        ``df``, built by the same table walk — the plan-first workflow
        (`validate --explain`): inspect where the exchanges, broadcasts
        and pushed filters land before paying for a 100-TB pass.
        Returns ``(plans, schema_errors)``: a failing schema gate plans
        nothing after it, and its errors say why.

        Runs no job over the validated table; the dims may be probed
        (a literal-sized dim's IN-list reads at most
        ``LITERAL_DIM_MAX + 1`` rows, ``dim_broadcast_limit`` one more
        bounded probe — and a dim above that limit sizes its invalid
        key set, which does read the table). A class fused into the
        rows projection shows inside the ``rows`` plan. Omitted: no-op
        classes (no extraction template, no cardinality bounds, no
        baseline), drift (a driver-side compare of collected counts),
        and every class after a failing schema gate."""
        p = self._pass()
        self._walk(
            p, df, default_partition_expr(df), self._classes(), act=False
        )
        return {
            name: v._jdf.queryExecution().executedPlan().toString()
            for name, v in p.violations.items()
        }, p.schema_errors

    # -- checkpointed run -----------------------------------------------------

    def _run_with_checkpoint(
        self, df: DataFrame, source: str, sink: Optional[_Sink]
    ) -> RunResult:
        cfg = self.config
        part = default_partition_expr(df)
        local = self._classes(LOCAL)
        # a done partition is only reusable under the same local
        # classes; fail-fast marks parts done only when every local
        # class was clean, so a fast scope holds no violations
        scope = [c.name for c in local] + (
            ["fail_fast"] if cfg.fail_mode == "fast" else []
        )
        manifest = CheckpointManifest(
            cfg.checkpoint_dir,
            snapshot_id=snapshot_id_for(source),
            spec_fingerprint=spec_fingerprint(self.spec, scope),
        )
        done = manifest.completed_parts
        # the isin predicate prunes completed partitions at scan
        remaining_df = df.filter(~part.isin(sorted(done))) if done else df

        p = self._pass()
        self._walk(p, remaining_df, part, local)
        if p.stopped:
            # schema gate or fail-fast: no partition is complete and no
            # global class runs. The verdict is what ran, as in a plain
            # run: a gated run reports no violations, and a fast scope
            # holds only parts on which every local class was clean
            return self._finish(p, df, part, sink, skipped=done)

        # the local classes write their violations straight into the
        # checkpoint dir. Dynamic partition OVERWRITE, not append: a
        # run that crashed after writing a partition but before
        # mark_done re-runs that partition on resume — append would
        # then duplicate its rows, dynamic overwrite replaces exactly
        # the re-run partitions and leaves completed ones untouched.
        # every fresh partition is marked done (the manifest is driver-
        # resident anyway); the display keeps the worst of them
        res = self._finish(p, remaining_df, part, _Sink(
            manifest.violations_dir, partitioned=True,
            exclude_parts=frozenset(done),
        ), all_rows=True)
        manifest.mark_done_many({
            str(r["part"]): {
                "row_count": r["row_count"],
                "violation_count": r["violation_count"],
                "valid": bool(r["valid"]),
            }
            for r in res.summary_rows
        })
        shown = sorted(  # stable: ties stay in partition order
            res.summary_rows, key=lambda r: (r["valid"], -r["violation_count"])
        )[:cfg.max_summary_partitions]
        shown.sort(key=lambda r: str(r["part"]))

        # global classes run over the FULL table every attempt
        p.violations.clear()
        self._walk(p, df, part, self._classes(GLOBAL))

        # final verdict = persisted (done ∪ fresh) local violations ∪
        # global violations, each global class executed once: in the
        # sink write, whose job also delivers the global count, or
        # into one cached frame the count and the union both read
        local_v = _Sink(manifest.violations_dir, partitioned=True).read(
            self.spark, res.violations.schema
        )
        gv = merge_violations(*p.violations.values()) if p.violations else None
        if sink is not None:
            if gv is not None:
                n_obs = Observation()
                gv = gv.observe(n_obs, F.count(F.lit(1)).alias("n"))
            sink.write(merge_violations(local_v, gv))
            all_violations = sink.read(self.spark, local_v.schema)
            n_global = n_obs.get["n"] if gv is not None else 0
            p.unpersist()
        elif gv is not None:
            if not p.fail_fast:
                gv = gv.persist(StorageLevel.MEMORY_AND_DISK)
                p.persisted.append(gv)
            n_global = gv.count()
            all_violations = merge_violations(local_v, gv)
        else:
            all_violations, n_global = local_v, 0
        # summary across ALL partitions (manifest metrics for done ones)
        run_summary = RunSummary()
        for part_value in sorted(manifest.completed_parts):
            rec = manifest.record(part_value)
            run_summary.total_partitions += 1
            run_summary.total_rows += rec.get("row_count", 0)
            run_summary.total_violations += rec.get("violation_count", 0)
            if rec.get("valid", True):
                run_summary.valid_partitions += 1
            else:
                run_summary.invalid_partitions += 1
                run_summary.failed_parts.append(part_value)
        # global-check violations count for the table, not a partition
        run_summary.table_violations = n_global
        run_summary.total_violations += n_global
        run_summary.suppressed_parts = len(res.summary_rows) - len(shown)
        return self._result(p, all_violations, shown, run_summary, done)

    def stats(self, df: DataFrame, exact_distinct: bool = False) -> DataFrame:
        return column_stats(
            df, self.spec, exact_distinct=exact_distinct, salt=self.config.salt
        )
