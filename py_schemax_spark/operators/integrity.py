"""Dataset-integrity checks: exact two-sample KS drift, per-key
monotonicity, rolling volume anomalies, functional-dependency
conformance, dense-id sequence gaps, cross-snapshot reconciliation,
and row-level snapshot diff.

No reference analogue — the reference (`/root/reference/validator.py`)
validates one file's metadata at a time and has no cross-row or
cross-snapshot vocabulary; these are the table-level integrity checks
the north star's validation tier needs on a production crawl ingest
(is today's partition the same distribution / volume / ordering /
dependency structure as yesterday's?). All are integer-exact by
construction so a SQL engine reproduces them hash-identically.

Scale shapes (the part that must survive 10^12 rows):

- ``exact_ks_2samp`` aggregates to per-VALUE counts first (map-side
  combine collapses the corpus before its one shuffle), so the window
  that builds the two CDFs runs over *distinct values*, not rows. For
  naturally bounded domains (doc lengths, scores, bucketed floats)
  that is ≤ ~1e6 rows on one task — fine; for unbounded domains,
  bucket first (``drift_buckets``) and run KS on the bucketed CDF.
- ``monotonicity_violations`` is ONE key-granular window exchange
  (lag over ``partitionBy(key)``), the minimum for any per-key
  ordering check.
- ``volume_anomaly`` reduces to per-bucket counts before its global
  ordered window; time buckets are bounded (hourly × years < 1e5
  rows), so the single-task window is safe by construction.
- ``fd_violations`` is two (det, dep)-granular aggregations plus a
  det-granular window — all post-aggregation, corpus never shuffles
  at row granularity more than once.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

# decimal(20,0) per side keeps products inside Spark's decimal(38,0)
# without overflow up to ~1e18-row samples (BIGINT products would
# overflow at n0*n1 > 9.2e18, i.e. ~3e9 rows per side).
_DEC = "decimal(20,0)"


def exact_ks_2samp(
    df: DataFrame, value_col: str, group_col: str
) -> DataFrame:
    """Exact two-sample Kolmogorov-Smirnov statistic, in basis points.

    ``group_col`` must be boolean-like (0/1 after cast); rows with a
    null value or null group are dropped (KS is defined over observed
    values). Returns ONE row ``(n_a, n_b, ks_bp)`` where
    ``ks_bp = floor(10000 * max_v |CDF_a(v) - CDF_b(v)|)`` computed in
    exact integer arithmetic (``|cum_a*n_b - cum_b*n_a|`` over a
    common value grid), so any SQL engine reproduces it bit-for-bit.
    (`drift.drift_verdicts` instead measures KS against a baseline
    quantile grid, not between two samples.)
    """
    g = F.col(group_col).cast("int")
    counts = (
        df.filter(F.col(value_col).isNotNull() & g.isNotNull())
        .groupBy(F.col(value_col).alias("_v"))
        .agg(
            F.sum(F.when(g == 0, 1).otherwise(0)).alias("_ca"),
            F.sum(F.when(g == 1, 1).otherwise(0)).alias("_cb"),
        )
    )
    w = Window.orderBy("_v").rowsBetween(Window.unboundedPreceding, 0)
    cum = counts.select(
        F.sum("_ca").over(w).cast(_DEC).alias("_cuma"),
        F.sum("_cb").over(w).cast(_DEC).alias("_cumb"),
    )
    totals = counts.agg(
        F.sum("_ca").cast(_DEC).alias("_na"),
        F.sum("_cb").cast(_DEC).alias("_nb"),
    )
    joined = cum.crossJoin(F.broadcast(totals))
    diff = F.abs(
        F.col("_cuma") * F.col("_nb") - F.col("_cumb") * F.col("_na")
    )
    # `div` (integral division) on decimals is exact — a decimal `/`
    # rounds to the result scale and the subsequent floor could flip
    # at quotients within the rounding epsilon of an integer; DuckDB's
    # HUGEINT `//` is the bit-exact twin
    return joined.select(diff.alias("_d"), "_na", "_nb").agg(
        F.max("_na").cast("long").alias("n_a"),
        F.max("_nb").cast("long").alias("n_b"),
        F.expr("CAST((max(_d) * 10000) div (max(_na) * max(_nb)) AS BIGINT)")
        .alias("ks_bp"),
    )


def monotonicity_violations(
    df: DataFrame,
    key_col: str,
    order_col: str,
    ts_col: str,
) -> DataFrame:
    """Rows where ``ts_col`` DECREASES along ``order_col`` within a
    key — the ordering invariant of any append-only event/crawl log
    (a violation means late re-ingest, clock skew, or a merge bug).

    Returns ``(key, order, prev_order, ts, prev_ts)`` for each
    violating row. Null timestamps never violate (3VL: the ``<``
    comparison is null). One key-granular window exchange.
    """
    w = Window.partitionBy(key_col).orderBy(order_col)
    prev_ts = F.lag(ts_col).over(w)
    prev_ord = F.lag(order_col).over(w)
    return (
        df.select(
            F.col(key_col).alias("key"),
            F.col(order_col).alias("pos"),
            prev_ord.alias("prev_pos"),
            F.col(ts_col).alias("ts"),
            prev_ts.alias("prev_ts"),
        )
        .filter(F.col("ts") < F.col("prev_ts"))
    )


def volume_anomaly(
    df: DataFrame,
    ts_col: str,
    bucket: str = "hour",
    lookback: int = 24,
    min_history: int = 12,
    tol_pct: int = 50,
) -> DataFrame:
    """Per-time-bucket row-volume anomalies vs a trailing window.

    Buckets ``ts_col`` with ``date_trunc(bucket)``, counts rows per
    bucket, and flags buckets whose count deviates more than
    ``tol_pct`` percent from the trailing ``lookback``-bucket mean
    (only once ``min_history`` prior buckets exist — the warm-up rows
    can't be judged). The comparison is exact integer arithmetic
    (``cnt * n * 100`` vs ``sum * (100 ± tol)``), never a float mean.

    Returns ``(bucket_ts, cnt, trail_sum, trail_n, direction)`` for
    anomalous buckets, direction ∈ {'low', 'high'}.
    """
    b = F.date_trunc(bucket, F.col(ts_col))
    counts = (
        df.filter(F.col(ts_col).isNotNull())
        .groupBy(b.alias("bucket_ts"))
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    w = Window.orderBy("bucket_ts").rowsBetween(-lookback, -1)
    trail = counts.select(
        "bucket_ts",
        "cnt",
        F.sum("cnt").over(w).alias("trail_sum"),
        F.count("cnt").over(w).alias("trail_n"),
    )
    lhs = F.col("cnt") * F.col("trail_n") * 100
    low = lhs < F.col("trail_sum") * (100 - tol_pct)
    high = lhs > F.col("trail_sum") * (100 + tol_pct)
    return (
        trail.filter(F.col("trail_n") >= min_history)
        .withColumn(
            "direction",
            F.when(low, F.lit("low")).when(high, F.lit("high")),
        )
        .filter(F.col("direction").isNotNull())
    )


def sequence_gaps(
    df: DataFrame, id_col: str, bucket_size: int = 100_000
) -> DataFrame:
    """Missing runs in a dense integer id space — dropped batches /
    lost files show up as ``(gap_start, gap_end, n_missing)`` rows
    (consecutive missing ids merge into one row). Null ids are
    ignored; duplicate ids are harmless (a gap is a VALUE hole).

    Two-phase shape (never a global window over the corpus):

    1. per-BUCKET aggregation (``floor(id / bucket_size)``) with
       map-side combine → ``(bucket, n_distinct, min, max)``; the one
       corpus-granular exchange.
    2. bucket-granular work only: inter-bucket gaps via ONE ordered
       window over the (corpus/bucket_size)-row bucket table —
       value-based (``min > prev_max + 1``), so fully-empty buckets
       are spanned correctly; in-bucket gaps re-scan ONLY the dirty
       buckets (``n_distinct != max - min + 1``) with a window
       PARTITIONED by bucket, so no single task ever sorts more than
       one bucket's ids.
    """
    # integral `div`, not floor(a/b): the double round-trip loses
    # exactness past 2^53 — ids at 10^18 would land in wrong buckets.
    # (div truncates toward zero, so bucket 0 spans -(B-1)..B-1 when
    # negatives exist — still contiguous, ordered, non-overlapping
    # ranges, which is all the algorithm needs.)
    ids = (
        df.filter(F.col(id_col).isNotNull())
        .select(
            F.col(id_col).alias("_id"),
            F.expr(f"`{id_col}` div {int(bucket_size)}").alias("_b"),
        )
    )
    per_bucket = ids.groupBy("_b").agg(
        F.count_distinct(F.col("_id")).alias("_nd"),
        F.min("_id").alias("_mn"),
        F.max("_id").alias("_mx"),
    )
    wb = Window.orderBy("_b")
    inter = (
        per_bucket.select(
            "_mn", F.lag("_mx").over(wb).alias("_pmx")
        )
        .filter(F.col("_pmx").isNotNull() & (F.col("_mn") > F.col("_pmx") + 1))
        .select(
            (F.col("_pmx") + 1).alias("gap_start"),
            (F.col("_mn") - 1).alias("gap_end"),
        )
    )
    dirty = per_bucket.filter(
        F.col("_nd") != F.col("_mx") - F.col("_mn") + 1
    ).select("_b")
    wi = Window.partitionBy("_b").orderBy("_id")
    intra = (
        ids.join(dirty, "_b")
        .select("_b", "_id", F.lag("_id").over(wi).alias("_prev"))
        .filter(F.col("_prev").isNotNull() & (F.col("_id") > F.col("_prev") + 1))
        .select(
            (F.col("_prev") + 1).alias("gap_start"),
            (F.col("_id") - 1).alias("gap_end"),
        )
    )
    return inter.unionByName(intra).select(
        "gap_start",
        "gap_end",
        (F.col("gap_end") - F.col("gap_start") + 1).alias("n_missing"),
    )


def fd_violations(
    df: DataFrame, det_col: str, dep_col: str
) -> DataFrame:
    """Functional-dependency conformance: report determinant values
    for which ``det_col → dep_col`` does NOT hold.

    For each violating determinant returns
    ``(det, n_rows, n_dep_values, majority_dep, n_violations)`` where
    ``majority_dep`` is the most frequent dependent value (ties broken
    by dependent value ascending, nulls last — deterministic) and
    ``n_violations`` counts rows disagreeing with it. Null dependents
    group as a value (same semantics in Spark groupBy and SQL GROUP
    BY), so ``det → NULL-vs-'en'`` splits are caught too.
    """
    pairs = (
        df.groupBy(
            F.col(det_col).alias("det"), F.col(dep_col).alias("dep")
        )
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    w = Window.partitionBy("det").orderBy(
        F.col("cnt").desc(), F.col("dep").asc_nulls_last()
    )
    ranked = pairs.select(
        "det",
        "dep",
        "cnt",
        F.row_number().over(w).alias("_rk"),
        F.sum("cnt")
        .over(Window.partitionBy("det"))
        .alias("n_rows"),
        F.count(F.lit(1))
        .over(Window.partitionBy("det"))
        .alias("n_dep_values"),
    )
    return (
        ranked.filter((F.col("_rk") == 1) & (F.col("n_dep_values") > 1))
        .select(
            "det",
            "n_rows",
            "n_dep_values",
            F.col("dep").alias("majority_dep"),
            (F.col("n_rows") - F.col("cnt")).alias("n_violations"),
        )
    )


def snapshot_reconcile(
    cur: DataFrame,
    prev: DataFrame,
    partition_col: str,
) -> DataFrame:
    """Cross-snapshot reconciliation: per-partition row-count deltas
    between today's snapshot and yesterday's — the admission check a
    daily crawl ingest runs before promoting a snapshot (the
    north-star's "compared against a baseline snapshot" applied to
    VOLUME rather than distribution; `volume_anomaly` is the
    within-snapshot twin).

    Returns one row per DIFFERING partition:
    ``(part, rows_prev, rows_cur, delta, status)`` with status ∈
    {'added', 'removed', 'shrunk', 'grown'} — 'removed' and 'shrunk'
    are the data-loss signals. Identical partitions produce no row, so
    the output is bounded by the change set. Null partition values
    group as one ordinary partition (both engines agree).

    Scale shape: each snapshot reduces to per-partition counts first
    (ONE corpus-granular exchange each, map-side combined); the
    full-outer join runs at partition granularity — bounded.
    """
    def counts(df: DataFrame, part_alias: str, alias: str) -> DataFrame:
        return df.groupBy(
            F.col(partition_col).alias(part_alias)
        ).agg(F.count(F.lit(1)).alias(alias))

    cc = counts(cur, "_cp", "_cur")
    pc = counts(prev, "_pp", "_prev")
    # eqNullSafe, not a USING join: plain join keys never match null,
    # which would split a null partition into a spurious added+removed
    # pair instead of one compared row
    j = cc.join(
        pc, cc["_cp"].eqNullSafe(pc["_pp"]), "full_outer"
    ).withColumn("part", F.coalesce("_cp", "_pp"))
    rows_prev = F.coalesce("_prev", F.lit(0))
    rows_cur = F.coalesce("_cur", F.lit(0))
    status = (
        F.when(F.col("_prev").isNull(), F.lit("added"))
        .when(F.col("_cur").isNull(), F.lit("removed"))
        .when(rows_cur < rows_prev, F.lit("shrunk"))
        .when(rows_cur > rows_prev, F.lit("grown"))
    )
    return (
        j.select(
            "part",
            rows_prev.alias("rows_prev"),
            rows_cur.alias("rows_cur"),
            (rows_cur - rows_prev).alias("delta"),
            status.alias("status"),
        )
        .filter(F.col("status").isNotNull())
    )


def row_diff(
    cur: DataFrame,
    prev: DataFrame,
    key_col: str,
    compare_cols: list[str] | None = None,
) -> DataFrame:
    """Row-level snapshot diff: which KEYS were added, removed, or
    changed between two snapshots, and WHICH columns changed — the
    row-granular drill-down under `snapshot_reconcile`'s per-partition
    counts (reconcile says "partition shrank"; this says "these urls
    vanished and those flipped language").

    ``key_col`` must uniquely identify a row within each snapshot
    (re-crawled pages keyed by url); duplicate keys make 'changed'
    attribution ambiguous and are the caller's bug — run
    `uniqueness` first. ``compare_cols`` defaults to every shared
    non-key column, compared null-safely in that order. Returns one
    row per differing key: ``(key, status, changed_cols)`` with
    status ∈ {'added', 'removed', 'changed'} and ``changed_cols`` a
    ','-joined list ('' for added/removed). Identical rows produce no
    row, so output is bounded by the change set.

    Scale shape: ONE key-granular full-outer sort-merge join — the
    minimum any row diff needs; with both snapshots bucketed by key
    (the Iceberg layout a daily diff would use) it runs shuffle-free.
    Column comparison is a codegen'd projection on the join output;
    no second corpus pass, nothing driver-side.
    """
    if compare_cols is None:
        compare_cols = [
            c for c in cur.columns
            if c != key_col and c in prev.columns
        ]
    c = cur.select(
        F.col(key_col).alias("_ck"),
        F.lit(1).alias("_cpresent"),
        *[F.col(x).alias(f"_c_{x}") for x in compare_cols],
    )
    p = prev.select(
        F.col(key_col).alias("_pk"),
        F.lit(1).alias("_ppresent"),
        *[F.col(x).alias(f"_p_{x}") for x in compare_cols],
    )
    # eqNullSafe so a null-keyed row diffs against its null-keyed twin
    # instead of reporting a spurious added+removed pair
    j = c.join(p, c["_ck"].eqNullSafe(p["_pk"]), "full_outer")
    # concat_ws skips nulls in both engines, so each unchanged column
    # contributes nothing and the list stays ordered by compare_cols
    changed_cols = F.concat_ws(
        ",",
        *[
            F.when(
                ~F.col(f"_c_{x}").eqNullSafe(F.col(f"_p_{x}")),
                F.lit(x),
            )
            for x in compare_cols
        ],
    )
    status = (
        F.when(F.col("_ppresent").isNull(), F.lit("added"))
        .when(F.col("_cpresent").isNull(), F.lit("removed"))
        .when(changed_cols != "", F.lit("changed"))
    )
    return (
        j.select(
            F.coalesce("_ck", "_pk").alias("key"),
            status.alias("status"),
            F.when(status == "changed", changed_cols)
            .otherwise(F.lit(""))
            .alias("changed_cols"),
        )
        .filter(F.col("status").isNotNull())
    )


def missing_partitions(
    df: DataFrame,
    ts_col: str = "ts",
    part_col: str | None = None,
) -> DataFrame:
    """``(missing_day)`` — calendar days with ZERO rows between the
    table's first and last day (an ingest-completeness check: a crawl
    that lands daily should have no holes). Pass ``part_col`` for a
    date-typed partition column, or ``ts_col`` to derive days from a
    timestamp.

    Scale shape: ONE aggregation to distinct observed days (bounded:
    ≤ days, map-side combine), the expected calendar built with
    ``sequence`` over the min/max SCALARS (single row — never a
    corpus-sized range), and a days-granular anti-join. The corpus is
    touched exactly once.
    """
    day = (
        F.col(part_col) if part_col is not None
        else F.to_date(F.col(ts_col))
    )
    observed = (
        df.select(day.alias("day"))
        .filter(F.col("day").isNotNull())
        .distinct()
    )
    bounds = observed.agg(
        F.min("day").alias("_mn"), F.max("day").alias("_mx")
    )
    expected = bounds.select(
        F.explode(
            F.sequence(
                F.col("_mn"), F.col("_mx"), F.expr("interval 1 day")
            )
        ).alias("day")
    )
    return (
        expected.join(observed, "day", "left_anti")
        .select(F.col("day").alias("missing_day"))
    )


def fk_cardinality_violations(
    parent: DataFrame,
    child: DataFrame,
    parent_key: str,
    child_fk: str,
    min_children: int = 1,
    max_children: int | None = None,
) -> DataFrame:
    """``(key, n_children, violation)`` — parents whose child count
    falls outside ``[min_children, max_children]``. The cardinality
    companion of the referential check: `referential_violations`
    catches orphan CHILDREN; this catches parents with missing or
    runaway child sets (an extractor emitting zero or thousands of
    records per page is broken either way).

    Scale shape: one child-side aggregation with map-side combine
    (output bounded by parent cardinality) and one key-granular left
    join — both on the same key, so AQE/bucketing co-locates them.
    """
    if min_children < 0:
        raise ValueError("fk_cardinality: min_children must be >= 0")
    if max_children is not None and max_children < min_children:
        raise ValueError(
            "fk_cardinality: max_children must be >= min_children"
        )
    counts = (
        child.filter(F.col(child_fk).isNotNull())
        .groupBy(F.col(child_fk).alias("key"))
        .agg(F.count(F.lit(1)).cast("long").alias("n_children"))
    )
    joined = (
        parent.select(F.col(parent_key).alias("key"))
        .join(counts, "key", "left")
        .select(
            "key",
            F.coalesce(F.col("n_children"), F.lit(0)).cast("long")
            .alias("n_children"),
        )
    )
    too_few = F.col("n_children") < min_children
    verdict = F.when(too_few, F.lit("too_few"))
    if max_children is not None:
        verdict = verdict.when(
            F.col("n_children") > max_children, F.lit("too_many")
        )
    return (
        joined.withColumn("violation", verdict)
        .filter(F.col("violation").isNotNull())
    )
