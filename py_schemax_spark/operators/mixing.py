"""Corpus mixing: deterministic sampling to per-group token budgets.

Training mixtures are specified as token counts per source/language
("300B tokens web, 30B code, …" — GPT-3 table 2.2, LLaMA table 1, The
Pile §1). Turning a raw corpus into that mixture means: for each
group, keep a uniform-at-random subset totalling ≈ the group's token
budget — reproducibly, so reruns and resumes pick the identical
subset. No reference analogue (the reference has no data plane); part
of the north star's training-pipeline toolkit.

Contract (chosen so a SQL window reproduces it exactly):

- documents in a group are ordered by ``(md5(key), key)`` — a
  deterministic shuffle that is stable across engines, runs,
  partition counts, and row order (``rand(seed)`` is none of those);
- ``cum_before`` is the group's exclusive running token sum in that
  order; a document is **kept** iff ``cum_before < budget(group)`` —
  every nonempty group with a positive budget keeps ≥1 document, and
  the kept total overshoots the budget by at most one document;
- groups without a configured budget get ``default_budget`` (0 =
  dropped); a null group value is one ordinary group under
  ``default_budget``; null text counts 0 tokens but still occupies a
  slot (kept rows with 0 tokens don't consume budget).

Scale shape: a per-group prefix sum, computed the scalable way — NOT
``Window.partitionBy(group)`` (a handful of language-sized partitions
would put the whole English web on one task). Same two-level scheme
as ``pack_chunks``: (1) a range exchange on ``(group, md5, key)``
makes partitions order-contiguous; (2) a partition-local window sums
within ``(partition, group)``; (3) per-(partition, group) totals —
one tiny row each — collect to the driver, fold into exclusive
per-group offsets, broadcast back. Boundary-invariant, so the single
SQL window is the exact oracle. Token counts are codegen'd
``regexp_count`` — the token array is never built.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from py_schemax_spark.operators.chunking import NON_WS_RUN
from py_schemax_spark.operators.common import check_passthrough_collisions


def grouped_exclusive_cumsum(
    base: DataFrame,
    order_cols: list[str],
    key_col: str,
    group_col: str = "_grp",
    value_col: str = "n_tokens",
):
    """The scalable per-group exclusive running sum shared by
    :func:`sample_to_token_budget` and ``perplexity_buckets`` — range
    exchange on (group, order, key) → partition-local window →
    per-(partition, group) totals collected (bounded rows) → exclusive
    offsets broadcast back. NOT ``Window.partitionBy(group)``: a
    handful of group-sized partitions puts the largest group on one
    task.

    ``base`` must already carry ``group_col``/``order_cols``/
    ``value_col``/``key_col``. Returns ``(with_cum, group_totals,
    pinned)``: ``with_cum`` = ``base`` columns + ``cum_before``;
    ``group_totals`` maps group value → total of ``value_col``;
    ``pinned`` = intermediates for the caller's release registry.
    Boundary-invariant: the result does not depend on where the range
    partitioning cut, so a single SQL window is the exact oracle."""
    from pyspark import StorageLevel
    from pyspark.sql import Window

    order = [F.col(c) for c in order_cols]
    ranged = base.repartitionByRange(
        F.col(group_col), *order, F.col(key_col)
    ).withColumn("_pid", F.spark_partition_id())
    # persist pins _pid to ONE materialized partitioning for both the
    # local-sum branch and the totals branch (AQE cannot re-plan them
    # apart once the blocks exist)
    ranged = ranged.persist(StorageLevel.MEMORY_AND_DISK)
    wlocal = (
        Window.partitionBy("_pid", group_col)
        .orderBy(*order, F.col(key_col))
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    local = ranged.withColumn(
        "_local", F.coalesce(F.sum(value_col).over(wlocal), F.lit(0))
    )
    totals = (
        ranged.groupBy("_pid", group_col)
        .agg(F.sum(value_col).alias("_tot"))
        .collect()
    )
    running: dict[object, int] = {}
    offsets = []
    for r in sorted(
        totals,
        key=lambda r: (r[group_col] is not None, r[group_col], r["_pid"]),
    ):
        g = r[group_col]
        offsets.append((r["_pid"], g, running.get(g, 0)))
        running[g] = running.get(g, 0) + (r["_tot"] or 0)
    off_df = base.sparkSession.createDataFrame(
        offsets, "_opid int, _ogrp string, _off bigint"
    )
    with_cum = (
        local.join(
            F.broadcast(off_df),
            (F.col("_pid") == F.col("_opid"))
            & F.col(group_col).eqNullSafe(F.col("_ogrp")),
        )
        .withColumn("cum_before", F.col("_local") + F.col("_off"))
        .drop("_opid", "_ogrp", "_off", "_local", "_pid")
    )
    return with_cum, running, [ranged]


def sample_to_token_budget(
    df: DataFrame,
    budgets: dict[str, int],
    group_col: str = "lang",
    text_col: str = "text",
    key_col: str = "doc_id",
    default_budget: int = 0,
    passthrough: bool = False,
) -> DataFrame:
    """Per-document mixture verdict: ``(key_col, group_col, n_tokens,
    cum_before, kept)`` for every input row (callers filter on
    ``kept``). ``passthrough=True`` carries every input column through
    the range exchange instead (heavier shuffle payload, one pass)."""
    for g, b in budgets.items():
        if b < 0:
            raise ValueError(f"negative budget for group {g!r}: {b}")
    if default_budget < 0:
        raise ValueError(f"negative default_budget: {default_budget}")
    if passthrough:
        check_passthrough_collisions(
            df,
            ["n_tokens", "cum_before", "kept", "_grp", "_h", "_pid",
             "_opid", "_ogrp", "_off", "_local"],
            "sample_to_token_budget",
        )

    n_tokens = F.coalesce(
        F.regexp_count(F.col(text_col), F.lit(NON_WS_RUN)), F.lit(0)
    )
    base_cols = list(df.columns) if passthrough else [key_col]
    base = df.select(
        *[F.col(x) for x in base_cols],
        # group values travel as strings (budgets keys are strings and
        # the broadcast offset table needs one concrete type)
        F.col(group_col).cast("string").alias("_grp"),
        F.md5(F.col(key_col).cast("string")).alias("_h"),
        n_tokens.alias("n_tokens"),
    )
    with_cum, _totals, pinned = grouped_exclusive_cumsum(
        base, order_cols=["_h"], key_col=key_col
    )
    budget = F.lit(default_budget)
    for g, b in budgets.items():
        budget = F.when(F.col("_grp") == g, F.lit(int(b))).otherwise(budget)
    out = with_cum.select(
        *(
            [F.col(x) for x in base_cols]
            if passthrough
            # non-passthrough keeps the (stringified) group value
            # as its own output column
            else [F.col(key_col), F.col("_grp").alias(group_col)]
        ),
        F.col("n_tokens"),
        F.col("cum_before"),
        (F.col("cum_before") < budget).alias("kept"),
    )
    from py_schemax_spark.operators.dedup import _track_persisted

    return _track_persisted(out, pinned)


def perplexity_buckets(
    df: DataFrame,
    score_col: str,
    group_col: str = "lang",
    text_col: str = "text",
    key_col: str = "doc_id",
    n_buckets: int = 3,
    labels: tuple[str, ...] = ("head", "middle", "tail"),
    best_first_descending: bool = True,
    passthrough: bool = False,
) -> DataFrame:
    """CCNet-style per-group quality bucketing (Wenzek et al. 2020
    §4.4): order each group's documents by a quality score and cut the
    group's TOKEN MASS into ``n_buckets`` equal parts — head/middle/
    tail. Head buckets feed high-quality training mixes; tail buckets
    get dropped or down-weighted.

    ``score_col`` must be an INTEGER-exact quality score (e.g. a
    quantized log-probability — ``round(logprob * 10⁴)``): float
    scores sort differently across engines at ULP distance, and the
    bucket boundary is a running sum over the sort order, so exactness
    of the ORDER is what makes the single-window SQL oracle byte-exact.
    ``best_first_descending``: higher score = better (log-prob
    convention); ties break by key.

    Returns ``(key, group, score, n_tokens, bucket_id, bucket)``:
    ``bucket_id = n_buckets · cum_before // group_total`` (clamped) —
    the bucket of the document's FIRST token in the group's ordered
    token stream. Same two-level prefix-sum shape as
    :func:`sample_to_token_budget`; one range exchange, no group-wide
    window."""
    if len(labels) != n_buckets:
        raise ValueError(
            f"{n_buckets} buckets need {n_buckets} labels, got {labels}"
        )
    from pyspark.sql import types as T

    dtype = df.schema[score_col].dataType
    if not isinstance(
        dtype, (T.ByteType, T.ShortType, T.IntegerType, T.LongType)
    ):
        raise TypeError(
            f"perplexity_buckets: score column {score_col!r} is "
            f"{dtype.simpleString()}, but the bucket contract needs an "
            "INTEGER-exact score (float orderings diverge across "
            "engines at ULP distance and every bucket boundary is a "
            "running sum over that order) — quantize first, e.g. "
            "cast(round(score * 10000) as bigint)"
        )
    if passthrough:
        check_passthrough_collisions(
            df,
            ["n_tokens", "cum_before", "bucket_id", "bucket", "_grp",
             "_s", "_pid", "_opid", "_ogrp", "_off", "_local",
             "_score_out", "_tgrp", "_gtot"],
            "perplexity_buckets",
        )
    n_tokens = F.coalesce(
        F.regexp_count(F.col(text_col), F.lit(NON_WS_RUN)), F.lit(0)
    )
    base_cols = list(df.columns) if passthrough else [key_col]
    score = F.col(score_col).cast("long")
    # null score (e.g. token-less doc) sorts WORST in both directions —
    # explicitly, because Spark orders nulls first ASC and DuckDB
    # orders them last, so a bare null would break oracle parity
    worst = F.lit(2**62)
    order_score = (
        F.coalesce(-score, worst).alias("_s")
        if best_first_descending
        else F.coalesce(score, worst).alias("_s")
    )
    base = df.select(
        *[F.col(x) for x in base_cols],
        F.col(group_col).cast("string").alias("_grp"),
        order_score,
        n_tokens.alias("n_tokens"),
        *([] if passthrough else [score.alias("_score_out")]),
    )
    with_cum, totals, pinned = grouped_exclusive_cumsum(
        base, order_cols=["_s"], key_col=key_col
    )
    spark = df.sparkSession
    tot_df = spark.createDataFrame(
        [(g, t) for g, t in totals.items()], "_tgrp string, _gtot bigint"
    )
    joined = with_cum.join(
        F.broadcast(tot_df), F.col("_grp").eqNullSafe(F.col("_tgrp"))
    )
    bucket_id = F.when(
        F.col("_gtot") > 0,
        F.least(
            F.expr(f"({n_buckets} * cum_before) div _gtot"),
            F.lit(n_buckets - 1),
        ),
    ).otherwise(F.lit(0))
    label = F.element_at(
        F.array(*[F.lit(x) for x in labels]),
        (bucket_id + 1).cast("int"),
    )
    out = joined.select(
        *(
            [F.col(x) for x in base_cols]
            if passthrough
            else [
                F.col(key_col),
                F.col("_grp").alias(group_col),
                F.col("_score_out").alias(score_col),
            ]
        ),
        F.col("n_tokens"),
        F.col("cum_before"),
        bucket_id.cast("int").alias("bucket_id"),
        label.alias("bucket"),
    )
    from py_schemax_spark.operators.dedup import _track_persisted

    return _track_persisted(out, pinned)
