"""Column-profile validation operators: categorical drift, exact
heavy hitters, and robust (MAD) outlier detection.

No reference analogue — the reference (`/root/reference/validator.py`)
checks one file's declared metadata; these are the data-profile checks
a crawl-ingest validator runs per snapshot (did the language mix move?
which values dominate a column? which rows are numerically absurd?).
All three are integer-exact by construction so a SQL engine reproduces
them hash-identically.

Scale shapes at 10^12 rows:

- ``categorical_tv`` and ``heavy_hitters`` reduce the corpus to
  per-VALUE counts first (ONE shuffle with map-side combine); every
  later step runs over distinct values, which for categorical columns
  (lang, source, tld, content-type) is bounded by construction. Like
  ``integrity.exact_ks_2samp``, cross-products ride decimal(20,0) so
  ~1e18-row snapshots cannot overflow.
- ``mad_outliers`` needs a median of medians-of-deviations; both
  medians run over the per-value count table (bounded distinct values
  for the length/score/count columns this targets — for unbounded
  float domains, bucket first). The flagging pass is then a single
  broadcast of two scalars into a corpus projection: no second corpus
  shuffle.
- ``benford_check`` reduces to 9 first-digit groups in one map-side
  combined aggregation; everything after runs on ≤ 9 rows.
- ``dup_rate_by_group`` is two stacked aggregations — (group, digest)
  then group — both with map-side combine; output is bounded by the
  number of groups (sources/domains), never by corpus size.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

# decimal(20,0) per side keeps cross-products inside decimal(38,0)
# (see integrity._DEC — BIGINT products overflow past ~3e9 rows/side)
_DEC = "decimal(20,0)"


def profile_table(
    df: DataFrame,
    columns: list[str] | None = None,
    hh_k: int = 10,
    mad_k: int = 5,
    key_col: str | None = None,
    hh_mode: str = "exact",
) -> dict:
    """Spec-less table profile — the discovery pass a user runs BEFORE
    writing a constraint spec. Returns a bounded driver-side dict:
    table row count, then per column: null count, basic min/max, exact
    heavy hitters (> 1/hh_k share, ≤ hh_k-1 rows by construction), and
    for numeric columns the MAD-outlier count at ``mad_k``.

    One combined aggregation computes row count + per-column
    null/min/max in a SINGLE corpus pass (map-side combined); heavy
    hitters and MAD add per-column passes over per-value count tables.
    Every returned object is O(columns × hh_k) — nothing row-scale
    ever reaches the driver.
    """
    numeric = {"tinyint", "smallint", "int", "bigint", "float",
               "double", "long", "integer", "short", "byte"}
    fields = {f.name: f.dataType.simpleString() for f in df.schema.fields}
    cols = columns or [
        c for c, t in fields.items() if t != "binary"
    ]
    unknown = [c for c in cols if c not in fields]
    if unknown:
        raise ValueError(f"unknown column(s): {', '.join(unknown)}")

    aggs = [F.count(F.lit(1)).alias("__n")]
    for c in cols:
        aggs.append(
            F.sum(F.when(F.col(c).isNull(), 1).otherwise(0))
            .alias(f"__nulls_{c}")
        )
        aggs.append(F.min(F.col(c)).cast("string").alias(f"__min_{c}"))
        aggs.append(F.max(F.col(c)).cast("string").alias(f"__max_{c}"))
    base = df.agg(*aggs).collect()[0]

    out: dict = {"n_rows": base["__n"], "columns": {}}
    for c in cols:
        info: dict = {
            "type": fields[c],
            "null_count": int(base[f"__nulls_{c}"] or 0),
            "min": base[f"__min_{c}"],
            "max": base[f"__max_{c}"],
        }
        if hh_mode == "sketch":
            # Misra-Gries candidates + exact confirm: identical rows
            # to the exact path, but the corpus is never shuffled at
            # value granularity (high-cardinality columns)
            from py_schemax_spark.operators.sketches import (
                approx_heavy_hitters,
            )

            hh_df = approx_heavy_hitters(df, c, k=hh_k)
        elif hh_mode == "exact":
            hh_df = heavy_hitters(df, c, k=hh_k)
        else:
            raise ValueError(
                f"unknown hh_mode {hh_mode!r} (exact | sketch)"
            )
        info["heavy_hitters"] = [
            {"value": r["value"], "cnt": r["cnt"],
             "share_bp": r["share_bp"]}
            for r in hh_df.orderBy(F.desc("cnt"), "value").collect()
        ]
        if fields[c] in numeric:
            key = key_col or cols[0]
            info["mad_outliers"] = mad_outliers(
                df, c, key, k=mad_k
            ).count()
        out["columns"][c] = info
    return out


# Spark simpleString → spec type (the reference's SupportedDataTypes
# vocabulary, /root/reference/py_schemax/model.py:20-26, plus the
# engine's binary extension)
_SPARK_TO_SPEC = {
    "string": "string",
    "tinyint": "integer", "smallint": "integer", "int": "integer",
    "bigint": "integer", "long": "integer", "short": "integer",
    "byte": "integer", "integer": "integer",
    "float": "float", "double": "float",
    "boolean": "boolean",
    "date": "date",
    "timestamp": "datetime", "timestamp_ntz": "datetime",
    "binary": "binary",
}

_INT_SPARK_TYPES = {
    "tinyint", "smallint", "int", "bigint", "long", "short", "byte",
    "integer",
}


def infer_spec(
    profile: dict,
    fqn: str,
    key: str | None = None,
    extra_columns: list[tuple[str, str]] | None = None,
) -> dict:
    """Draft a constraint-spec dict from a `profile_table` report —
    the closing move of the discovery pass (profile → eyeball → emit →
    tighten). Pure function of the profile dict (no Spark).

    Inference is strictly observational, so a table ALWAYS passes the
    spec inferred from itself (tested): ``nullable`` only where nulls
    were observed, numeric ``minimum``/``maximum`` from the observed
    (inclusive) range. Columns whose Spark type has no spec analogue
    (arrays, maps, decimals) are skipped with a ``skipped`` entry
    rather than guessed at. The caller tightens from there — the draft
    is a floor, not a verdict.

    ``extra_columns`` are (name, spark_type) pairs present in the table
    but NOT profiled (a ``--columns`` subset run). Schema conformance
    is extra="forbid", so a spec that omits them would fail on the very
    table it was inferred from; they are declared as permissive
    type-only entries (``nullable: true``, no bounds — nothing was
    observed) to keep the closure property for any column selection.
    """
    cols = []
    skipped = []
    for name, info in profile["columns"].items():
        spark_t = info["type"]
        spec_t = _SPARK_TO_SPEC.get(spark_t)
        if spec_t is None:
            skipped.append({"name": name, "type": spark_t})
            continue
        col: dict = {
            "name": name,
            "type": spec_t,
            "nullable": info["null_count"] > 0,
        }
        if (
            spark_t in _INT_SPARK_TYPES
            and info["min"] is not None
            and info["max"] is not None
        ):
            col["minimum"] = int(info["min"])
            col["maximum"] = int(info["max"])
        elif (
            spark_t in ("float", "double")
            and info["min"] is not None
            and info["max"] is not None
        ):
            col["minimum"] = float(info["min"])
            col["maximum"] = float(info["max"])
        cols.append(col)
    for name, spark_t in extra_columns or []:
        spec_t = _SPARK_TO_SPEC.get(spark_t)
        if spec_t is None:
            skipped.append({"name": name, "type": spark_t})
            continue
        cols.append({"name": name, "type": spec_t, "nullable": True})
    spec: dict = {"fqn": fqn, "columns": cols}
    if key is not None:
        spec["key"] = key
    if skipped:
        spec["metadata"] = {"skipped_columns": skipped}
    return spec


def categorical_tv(
    df: DataFrame, value_col: str, group_col: str
) -> DataFrame:
    """Total-variation distance between two categorical snapshots,
    in basis points.

    ``group_col`` must be boolean-like (0/1 after int cast); rows with
    a null group are dropped, null VALUES count as a category (a
    null-rate shift between snapshots is drift). Returns ONE row
    ``(n_a, n_b, n_values, tv_bp)`` where
    ``tv_bp = floor(10000 * 1/2 * sum_v |p_a(v) - p_b(v)|)`` computed
    as exact integers (``sum_v |c_a*n_b - c_b*n_a|`` over the common
    category grid, divided by ``2*n_a*n_b`` with integral ``div``) —
    the categorical companion of `integrity.exact_ks_2samp` for
    columns where an ordered CDF makes no sense (lang, source, tld).
    """
    g = F.col(group_col).cast("int")
    counts = (
        df.filter(g.isNotNull())
        .groupBy(F.col(value_col).alias("_v"))
        .agg(
            F.sum(F.when(g == 0, 1).otherwise(0)).cast(_DEC).alias("_ca"),
            F.sum(F.when(g == 1, 1).otherwise(0)).cast(_DEC).alias("_cb"),
        )
    )
    totals = counts.agg(
        F.sum("_ca").cast(_DEC).alias("_na"),
        F.sum("_cb").cast(_DEC).alias("_nb"),
        F.count(F.lit(1)).alias("_nv"),
    )
    joined = counts.crossJoin(F.broadcast(totals))
    dev = F.abs(
        F.col("_ca") * F.col("_nb") - F.col("_cb") * F.col("_na")
    )
    return joined.select(dev.alias("_d"), "_na", "_nb", "_nv").agg(
        F.max("_na").cast("long").alias("n_a"),
        F.max("_nb").cast("long").alias("n_b"),
        F.max("_nv").cast("long").alias("n_values"),
        F.expr(
            "CAST((sum(_d) * 10000) div (2 * max(_na) * max(_nb)) AS BIGINT)"
        ).alias("tv_bp"),
    )


def heavy_hitters(
    df: DataFrame, value_col: str, k: int = 10
) -> DataFrame:
    """EXACT heavy hitters: values occurring in more than ``1/k`` of
    rows (the deterministic ground truth a Misra-Gries / count-min
    sketch approximates; at most ``k-1`` rows can qualify, so the
    output is bounded by construction). Null values count (a column
    that went >10% null IS a heavy hitter worth seeing).

    Returns ``(value, cnt, n_total, share_bp)`` with value rendered as
    a string (nulls as NULL) and ``share_bp = floor(10000*cnt/n)``.
    One count shuffle with map-side combine; the total rides a window
    over the (≤ distinct-values sized) count table, not a second job.
    """
    counts = df.groupBy(
        F.col(value_col).cast("string").alias("value")
    ).agg(F.count(F.lit(1)).alias("cnt"))
    w = Window.partitionBy()
    tot = counts.select(
        "value", "cnt", F.sum("cnt").over(w).alias("n_total")
    )
    return tot.filter(F.col("cnt") * k > F.col("n_total")).select(
        "value",
        "cnt",
        "n_total",
        F.expr("CAST((cnt * 10000) div n_total AS BIGINT)").alias(
            "share_bp"
        ),
    )


def _lower_median(counts: DataFrame, value_col: str, cnt_col: str):
    """Lower median over a per-value count table: the smallest value
    whose cumulative count reaches ceil(n/2). Runs on the BOUNDED
    count table (one ordered window over distinct values) and returns
    a 1-row DataFrame ``(med)`` — exact, engine-agnostic (no
    interpolation, no even/odd averaging)."""
    w = Window.orderBy(value_col).rowsBetween(
        Window.unboundedPreceding, 0
    )
    cum = counts.select(
        F.col(value_col).alias("_v"),
        F.sum(cnt_col).over(w).alias("_cum"),
        F.sum(cnt_col).over(Window.partitionBy()).alias("_n"),
    )
    return (
        cum.filter(F.col("_cum") * 2 >= F.col("_n"))
        .agg(F.min("_v").alias("med"))
    )


def mad_outliers(
    df: DataFrame,
    value_col: str,
    key_col: str,
    k: int = 5,
) -> DataFrame:
    """Robust outliers by median absolute deviation: rows where
    ``|v - med| > k * mad`` with ``med`` the lower median of
    ``value_col`` and ``mad`` the lower median of ``|v - med|``.

    Both medians are exact lower medians over per-value count tables
    (see `_lower_median`) so the verdict is integer-exact for integer
    columns — unlike mean/stddev z-scores, one absurd value cannot
    drag the threshold. When ``mad = 0`` (over half the rows share one
    value) the check degenerates to ``v != med``, the strictest
    reading — callers wanting slack should pre-bucket.

    Returns the violating rows ``(key, value, med, mad)``. Null values
    never violate. Plan: one count shuffle + two bounded windows to
    derive the scalars, then ONE corpus projection against the
    crossJoin-broadcast scalar row — the corpus is never shuffled.
    """
    vals = df.filter(F.col(value_col).isNotNull())
    counts = vals.groupBy(F.col(value_col).alias("_v")).agg(
        F.count(F.lit(1)).alias("_c")
    )
    med_df = _lower_median(counts, "_v", "_c")
    dev_counts = (
        counts.crossJoin(F.broadcast(med_df))
        .groupBy(F.abs(F.col("_v") - F.col("med")).alias("_d"))
        .agg(F.sum("_c").alias("_c"))
    )
    mad_df = (
        _lower_median(dev_counts, "_d", "_c")
        .withColumnRenamed("med", "mad")
    )
    scalars = med_df.crossJoin(mad_df)
    return (
        vals.crossJoin(F.broadcast(scalars))
        .filter(
            F.abs(F.col(value_col) - F.col("med")) > F.lit(k) * F.col("mad")
        )
        .select(
            F.col(key_col).alias("key"),
            F.col(value_col).alias("value"),
            "med",
            "mad",
        )
    )


# floor(log10(1 + 1/d) * 10000) for d = 1..9 — the Benford first-digit
# law in basis points, floored so both engines share exact integers
# (sums to 9995, not 10000, by construction of the floor).
BENFORD_BP = (3010, 1760, 1249, 969, 791, 669, 579, 511, 457)


def benford_check(df: DataFrame, value_col: str) -> DataFrame:
    """First-significant-digit distribution vs Benford's law, per digit.

    The classic fabricated-/corrupted-numeric-column screen: naturally
    occurring multi-scale positive quantities (file sizes, view
    counts, crawl byte lengths) follow ``P(d) = log10(1 + 1/d)``;
    uniform or templated synthetic columns do not. This reports the
    deviation rather than judging it — narrow-range columns (ports,
    years) legitimately deviate, so the threshold belongs to the spec,
    not the operator.

    Only strictly positive, non-null values participate (Benford is
    undefined at ≤ 0). The first digit is taken from the decimal
    rendering — exact for integer columns, and exactly reproducible by
    any SQL engine (no float log10 anywhere). Returns one row per
    observed digit, ordered: ``(digit, n, observed_bp, expected_bp,
    dev_bp)`` with ``observed_bp = floor(10000 * n_d / n)`` and
    ``dev_bp = observed_bp - expected_bp`` (signed).

    Plan shape: ONE aggregation to ≤ 9 digit groups (map-side combine
    collapses each partition to ≤ 9 rows before the shuffle); the
    total rides a window over the 9-row table. Scale-free.
    """
    digit = F.substring(
        F.col(value_col).cast("decimal(38,0)").cast("string"), 1, 1
    ).cast("int")
    counts = (
        df.filter(F.col(value_col).isNotNull() & (F.col(value_col) > 0))
        .groupBy(digit.alias("digit"))
        .agg(F.count(F.lit(1)).alias("n"))
    )
    w = Window.partitionBy()
    expected = F.element_at(
        F.array(*[F.lit(v) for v in BENFORD_BP]), F.col("digit")
    )
    return (
        counts.select(
            "digit",
            "n",
            F.expr("CAST((n * 10000) div sum(n) OVER () AS BIGINT)").alias(
                "observed_bp"
            ),
            expected.cast("int").alias("expected_bp"),
        )
        .withColumn(
            "dev_bp",
            (F.col("observed_bp") - F.col("expected_bp")).cast("bigint"),
        )
        .orderBy("digit")
    )


def dup_rate_by_group(
    df: DataFrame, group_col: str, text_col: str
) -> DataFrame:
    """Per-group exact-duplication profile: how much of each source /
    domain / snapshot is byte-identical repeated content.

    The crawl-health companion of `operators.dedup.exact_duplicates`:
    instead of listing duplicate rows (corpus-sized output), it rolls
    the duplication RATE up to one bounded row per group — the number
    a validator thresholds ("source X went from 3% to 40% duplicated
    ⇒ its extractor broke or it started serving a parked page").

    Null texts form their own digest class within the group (a source
    suddenly full of null texts is exactly what this should surface).
    Returns ``(group, n_docs, n_distinct, n_dup, dup_bp)`` where
    ``n_dup = n_docs - n_distinct`` and
    ``dup_bp = floor(10000 * n_dup / n_docs)``.

    Plan shape: aggregation to (group, md5(text)) — map-side combine
    collapses within-partition repeats before the one data-granular
    shuffle — then a second aggregation to group granularity over the
    already-collapsed table. No window over the corpus, no join. The
    digest keeps shuffle rows at 32 hex chars regardless of document
    size.
    """
    digest = F.md5(
        F.coalesce(
            F.col(text_col).cast("string"),
            # \x01 prefix cannot collide with real text rendered by
            # cast (same in-band-sentinel avoidance as sketches.py)
            F.lit("\x01null"),
        )
    )
    per_digest = df.groupBy(
        F.col(group_col).alias("group"), digest.alias("_digest")
    ).agg(F.count(F.lit(1)).alias("_c"))
    return (
        per_digest.groupBy("group")
        .agg(
            F.sum("_c").alias("n_docs"),
            F.count(F.lit(1)).alias("n_distinct"),
        )
        .select(
            "group",
            "n_docs",
            "n_distinct",
            (F.col("n_docs") - F.col("n_distinct")).alias("n_dup"),
            F.expr(
                "CAST(((n_docs - n_distinct) * 10000) div n_docs"
                " AS BIGINT)"
            ).alias("dup_bp"),
        )
    )


def corpus_report(
    df: DataFrame,
    text_col: str = "text",
    lang_col: str = "lang",
) -> DataFrame:
    """One-row corpus datasheet — the bounded summary a data card or
    crawl-health dashboard starts from: document/token/char totals,
    null-text count, exact-duplication rate, language spread with the
    dominant language's share, and PII incidence (the
    `operators.pii` pattern contract), all in exact integer basis
    points.

    Scale shape: ONE corpus aggregation (the two ``countDistinct``
    terms make it Spark's expand/two-phase distinct — the shuffle
    carries digest-width tuples with map-side partials, never
    document bodies) plus ONE lang-granular aggregation whose output
    is bounded by language cardinality; the two single-row/tiny
    results cross-join driver-side. Output is exactly one row
    regardless of corpus size. Dominant-language tie-break is
    ``(count desc, lang asc nulls last)`` — rendered identically in
    the SQL oracle (Spark default sorts nulls first, DuckDB last;
    the explicit ordering removes the divergence).
    """
    from py_schemax_spark.operators.chunking import NON_WS_RUN
    from py_schemax_spark.operators.pii import PII_PATTERNS

    c = F.col(text_col)
    tok = F.regexp_count(c, F.lit(NON_WS_RUN))
    any_pii = None
    for _, pat, _rep in PII_PATTERNS:
        hit = F.regexp_count(c, F.lit(pat)) > 0
        any_pii = hit if any_pii is None else (any_pii | hit)
    # sums coalesced OUTSIDE the agg too: SUM over zero rows is NULL,
    # and the empty-corpus datasheet row must read 0, not null
    base = df.agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.coalesce(F.sum(c.isNull().cast("long")), F.lit(0))
        .cast("long").alias("n_null_text"),
        F.coalesce(F.sum(F.coalesce(tok, F.lit(0))), F.lit(0))
        .cast("long").alias("total_tokens"),
        F.coalesce(F.sum(F.coalesce(F.length(c), F.lit(0))), F.lit(0))
        .cast("long").alias("total_chars"),
        F.countDistinct(F.md5(c)).cast("long").alias("n_distinct_texts"),
        F.coalesce(
            F.sum(F.coalesce(any_pii.cast("long"), F.lit(0))), F.lit(0)
        ).cast("long").alias("pii_docs"),
        F.countDistinct(F.col(lang_col)).cast("long").alias("n_langs"),
    )
    top = (
        df.groupBy(lang_col)
        .agg(F.count(F.lit(1)).cast("long").alias("top_lang_n"))
        .orderBy(F.desc("top_lang_n"), F.asc_nulls_last(lang_col))
        .limit(1)
        .select(F.col(lang_col).alias("top_lang"), "top_lang_n")
    )
    with_text = F.col("n_docs") - F.col("n_null_text")
    # LEFT join on a constant key, not crossJoin: `top` has ZERO rows
    # on an empty corpus (groupBy of nothing), and a cross join would
    # erase the datasheet row — the one-row contract must survive an
    # empty input with null top_lang/top_lang_n (ADVICE r04).
    joined = (
        base.withColumn("_j", F.lit(1))
        .join(top.withColumn("_j", F.lit(1)), "_j", "left")
        .drop("_j")
    )
    return joined.select(
        "n_docs", "n_null_text", "total_tokens", "total_chars",
        "n_distinct_texts", "pii_docs", "n_langs", "top_lang",
        "top_lang_n",
        F.when(
            with_text > 0,
            F.expr(
                "(n_docs - n_null_text - n_distinct_texts) * 10000 "
                "div (n_docs - n_null_text)"
            ),
        ).cast("long").alias("exact_dup_bp"),
        F.when(
            F.col("n_docs") > 0, F.expr("pii_docs * 10000 div n_docs")
        ).cast("long").alias("pii_bp"),
        F.when(
            F.col("n_docs") > 0,
            F.expr("top_lang_n * 10000 div n_docs"),
        ).cast("long").alias("top_lang_bp"),
    )


def group_quantiles(
    df: DataFrame,
    group_col: str,
    value_col: str,
    qs: tuple[float, ...] = (0.5, 0.9, 0.99),
    exact: bool = False,
    accuracy: int = 10_000,
) -> DataFrame:
    """Per-group quantile profile ``(group, q, value)`` — the
    distribution companion of the per-group rollups (per-lang doc
    lengths, per-source quality scores).

    Two paths, chosen explicitly:

    - ``exact=False`` (default, the SCALE path):
      ``approx_percentile`` — bounded sketch state per group, safe at
      any group size; values are approximate (rows-only checkable).
    - ``exact=True``: Spark's exact interpolated ``percentile``. The
      aggregation buffers each group's values, so this is for
      BOUNDED groups (dashboards over sampled slices, oracle
      fixtures) — at corpus-scale groups use the sketch path. The exact
      interpolated definition matches DuckDB's ``quantile_cont``, so
      this path is hash-oracle-able (values rounded to 4 decimals:
      same rationals, same IEEE interpolation, same rounding).

    Null values are excluded by both engines' percentile semantics;
    groups with no non-null values produce null quantiles.
    """
    if not qs:
        raise ValueError("group_quantiles: qs must be non-empty")
    if any(not (0.0 <= q <= 1.0) for q in qs):
        raise ValueError("group_quantiles: quantiles must be in [0, 1]")
    qlist = ", ".join(repr(float(q)) for q in qs)
    if exact:
        agg = F.expr(f"percentile({value_col}, array({qlist}))")
    else:
        agg = F.expr(
            f"approx_percentile({value_col}, array({qlist}), {accuracy})"
        ).cast("array<double>")
    rolled = df.groupBy(F.col(group_col).alias("group")).agg(
        agg.alias("_v")
    )
    pairs = F.arrays_zip(
        F.array(*[F.lit(float(q)) for q in qs]).alias("q"),
        F.col("_v").alias("value"),
    )
    return rolled.select(
        "group", F.explode(pairs).alias("_p")
    ).select(
        "group",
        F.col("_p.q").alias("q"),
        F.round(F.col("_p.value"), 4).alias("value"),
    )
