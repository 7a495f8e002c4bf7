"""Deterministic corpus splitting and sampling for training pipelines.

Train/val/test assignment and per-stratum downsampling must be (a)
reproducible across runs and engines, (b) stable under repartitioning
and row order, (c) a pure projection — no shuffle, no global state.
``rand(seed)`` fails (a)-(b): it is seeded per-partition, so the same
row can land in different splits after a repartition.

The split key here is the first 4 hex chars of ``md5(key || salt)``
— a uniform 16-bit bucket in '0000'..'ffff' that every engine
computes identically (fixed-width lowercase hex compares
lexicographically = numerically, so split boundaries are plain string
comparisons and the DuckDB oracle is the same three-line expression).
Granularity 1/65536 per weight; change ``salt`` to draw a fresh
independent assignment.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def _bucket(key: Column, salt: str) -> Column:
    # A null key hashes as the NUL-byte sentinel (Spark's concat is
    # null-propagating, so without this every null-key row would get a
    # null bucket, fail every `<` comparison, and silently fall through
    # to the LAST split — a fully-correlated leak into one split). With
    # the sentinel, null keys behave like one ordinary key value: they
    # land together, in a salt-dependent split. DuckDB oracle twin:
    # coalesce(cast(k AS VARCHAR), chr(1)).
    return F.substring(
        F.md5(
            F.concat(
                F.coalesce(key.cast("string"), F.lit("\x01")), F.lit(salt)
            )
        ),
        1,
        4,
    )


def _threshold(frac: float) -> str:
    """4-hex-char cut for ``bucket < threshold``. Fraction 1.0 must
    admit bucket 'ffff' too — 'g' sorts after every hex char, so it is
    the all-pass cut (a 5-char '10000' would compare LESS than 'ffff'
    lexicographically)."""
    f = min(max(frac, 0.0), 1.0)
    return "g" if f >= 1.0 else format(int(f * 65536), "04x")


def hash_split(
    df: DataFrame,
    key_col: str,
    weights: dict[str, float],
    salt: str = "",
    out_col: str = "split",
) -> DataFrame:
    """Assign every row a split label with probability proportional to
    ``weights`` (normalized), deterministically in ``key_col`` — the
    same key lands in the same split in every run, engine, partition
    count, and row order. Pure projection: rides the scan, no shuffle.
    """
    if not weights:
        raise ValueError("weights must be non-empty")
    total = sum(weights.values())
    if total <= 0:
        raise ValueError("weights must sum to a positive number")
    b = _bucket(F.col(key_col), salt)
    expr = None
    cum = 0.0
    names = list(weights)
    for name in names[:-1]:
        cum += weights[name] / total
        branch = b < F.lit(_threshold(cum))
        expr = (
            F.when(branch, F.lit(name))
            if expr is None
            else expr.when(branch, F.lit(name))
        )
    last = F.lit(names[-1])
    out = last if expr is None else expr.otherwise(last)
    return df.withColumn(out_col, out)


def stratified_sample(
    df: DataFrame,
    key_col: str,
    fractions: dict[str, float],
    strata_col: str,
    salt: str = "",
    default_fraction: float = 0.0,
) -> DataFrame:
    """Deterministic per-stratum downsampling: keep a row iff its hash
    bucket falls under its stratum's fraction threshold (strata absent
    from ``fractions`` use ``default_fraction``). The workhorse of
    corpus rebalancing — e.g. cap boilerplate-heavy domains at 10%
    while keeping 100% of rare languages — as a pure filter: no
    shuffle, no per-stratum pass, stable under resampling of any other
    stratum (each row's fate depends only on its own key + salt)."""
    b = _bucket(F.col(key_col), salt)
    cond = None
    for stratum, frac in fractions.items():
        branch = (F.col(strata_col) == stratum) & (b < F.lit(_threshold(frac)))
        cond = branch if cond is None else cond | branch
    # NULL strata take default_fraction too: a bare ~isin(...) is NULL
    # (not TRUE) for a null stratum under three-valued logic, which
    # would silently drop every null-stratum row regardless of
    # default_fraction.
    others = (
        F.col(strata_col).isNull() | ~F.col(strata_col).isin(list(fractions))
    ) & (b < F.lit(_threshold(default_fraction)))
    cond = others if cond is None else cond | others
    return df.filter(cond)


def cap_per_group(
    df: DataFrame,
    group_col: str,
    key_col: str,
    n: int,
    salt: str = "",
    prune_buckets: int = 16,
    max_broadcast_groups: int = 2_000_000,
) -> DataFrame:
    """Keep at most ``n`` rows per group, chosen deterministically in
    hash order of ``key_col`` (RefinedWeb/Dolma-style per-domain
    document caps: the head of a Zipf domain distribution must not
    dominate the training mixture). Same row set in every run, engine,
    partition count, and row order: preference order is
    ``(md5(key||salt), key)``, null keys via the chr(1) sentinel.

    Scale shape — the naive ``row_number() OVER (PARTITION BY group)``
    sorts the ENTIRE corpus through one exchange and serializes each
    hot domain into a single task. Here the corpus is never globally
    sorted:

    1. per-group counts (one map-side-combined aggregation over keys,
       output = distinct groups);
    2. the OVER-CAP group set — the Zipf head, tiny by construction —
       broadcasts (`broadcast_gate`, shuffle-join fallback above
       ``max_broadcast_groups``);
    3. rows of under-cap groups pass through via an anti-join against
       that set: NO sort, NO exchange of the corpus when broadcast;
    4. only over-cap rows are ranked, in two levels: a salted window
       over ``(group, bucket)`` keeps ``n`` per bucket (hot groups
       split across ``prune_buckets`` tasks), then the final window
       ranks the ≤ ``prune_buckets × n`` survivors per group — exact
       top-n, never more than that many rows in one task.

    Null groups are one ordinary group (eqNullSafe joins — a plain
    column join would silently exempt them from the cap).
    """
    from py_schemax_spark.operators.common import broadcast_gate

    if n < 1:
        raise ValueError("n must be >= 1")
    key_str = F.coalesce(F.col(key_col).cast("string"), F.lit("\x01"))
    ord_col = F.md5(F.concat(key_str, F.lit(salt)))

    counts = df.groupBy(F.col(group_col).alias("_g")).agg(
        F.count(F.lit(1)).alias("_c")
    )
    over = counts.filter(F.col("_c") > n).select("_g")
    over, _ = broadcast_gate(over, max_broadcast_groups, "over-cap groups")
    match = F.col(group_col).eqNullSafe(F.col("_g"))
    passthrough = df.join(over, match, "left_anti")
    hot = df.join(over, match, "left_semi")

    ranked = hot.select(
        *df.columns,
        ord_col.alias("_ord"),
        key_str.alias("_tie"),
        F.pmod(F.xxhash64(ord_col), F.lit(prune_buckets)).alias("_b"),
    )
    w1 = Window.partitionBy(group_col, "_b").orderBy("_ord", "_tie")
    w2 = Window.partitionBy(group_col).orderBy("_ord", "_tie")
    capped = (
        ranked.withColumn("_r1", F.row_number().over(w1))
        .filter(F.col("_r1") <= n)
        .withColumn("_r2", F.row_number().over(w2))
        .filter(F.col("_r2") <= n)
        .select(*df.columns)
    )
    return passthrough.unionByName(capped)
