"""Sketch-based profile operators: distributed Misra-Gries heavy
hitters with an exact confirmation pass.

`profile.heavy_hitters` is the exact ground truth: ONE corpus shuffle
keyed by value. That shape is right for categorical columns (bounded
distinct values) but wrong for high-cardinality columns (url hosts,
tokens) at 10^12 rows — the count table is corpus-scale and the
shuffle moves everything. The sketch path here never shuffles the
corpus at value granularity:

1. **Candidate generation** (`mapInPandas`, zero shuffles): each input
   partition maintains ONE Misra-Gries summary of size ``k-1`` across
   its Arrow batches and emits its surviving (value, weight) counters
   — at most ``k-1`` rows per partition. The pigeonhole guarantee: a
   value with global count > N/k has partition count > N_p/k in at
   least one partition (else summing the per-partition bounds
   contradicts the global count), and an MG(k) summary always retains
   any value with count > N_p/k. So the union of per-partition
   candidates is a SUPERSET of the true heavy hitters — the sketch can
   only over-generate, never miss (Misra & Gries 1982; mergeability:
   Agarwal et al., PODS 2012).
2. **Exact confirmation** (one bounded aggregation): candidates are
   deduplicated (≤ (k-1) × partitions rows — KBs against a 100-TB
   corpus; guarded by ``max_candidates``) and the corpus is aggregated
   ONCE keyed by candidate-or-⊥: rows whose value is not a candidate
   collapse into a single ⊥ group map-side, so the shuffle carries at
   most ``len(candidates)+1`` groups per map task regardless of column
   cardinality. Exact counts for candidates + the exact total fall out
   of the same pass; false positives are dropped by the final
   ``cnt * k > n_total`` filter.

Output contract == `profile.heavy_hitters` (value, cnt, n_total,
share_bp), so the EXACT heavy-hitters SQL is this operator's oracle —
the approximation is confined to candidate generation, where it is
provably one-sided.

No reference analogue (the reference validates schema files, not
data); this is the §2.4/profile family's scale path for unbounded
domains.
"""

from __future__ import annotations

from typing import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

# Values travel through the sketch PREFIX-ENCODED — "v" + value for
# real values, "n" for SQL NULL — so no in-band sentinel can alias a
# real value (web text can contain any codepoint, including the
# control chars other operators use as null sentinels on KEY columns).
_NULL_TOKEN = "n"


def _encode(val) -> str:
    if val is None or (isinstance(val, float) and pd.isna(val)):
        return _NULL_TOKEN
    return "v" + val


def _mg_update(counters: dict, val: str, k: int) -> None:
    """One per-row Misra-Gries step (reference semantics, used by the
    property tests): increment if tracked, insert if room, else
    decrement every counter (dropping zeros)."""
    if val in counters:
        counters[val] += 1
    elif len(counters) < k - 1:
        counters[val] = 1
    else:
        dead = []
        for key in counters:
            counters[key] -= 1
            if counters[key] == 0:
                dead.append(key)
        for key in dead:
            del counters[key]


def _mg_merge_batch(counters: dict, batch_counts, k: int) -> None:
    """Merge one batch's EXACT value counts into a running MG(k)
    summary — the mergeable-summaries MERGE step (Agarwal et al.,
    PODS 2012): add counters pointwise, then if more than k-1 remain,
    subtract the k-th largest counter value from all and drop ≤0.

    This is the vectorized replacement for per-row `_mg_update`
    (VERDICT r04 #7 — the row loop was corpus-granular Python): the
    per-row work moves into pandas ``value_counts`` (C speed); Python
    touches one dict entry per DISTINCT batch value. The guarantee is
    unchanged — an exact batch summary has MG error 0, merging keeps
    every counter a lower bound on the true partition count with
    total error < N_p/k, so any value with partition count > N_p/k
    still survives (the superset property `approx_heavy_hitters`'
    confirm pass relies on)."""
    for val, cnt in batch_counts.items():
        counters[val] = counters.get(val, 0) + int(cnt)
    if len(counters) > k - 1:
        d = sorted(counters.values(), reverse=True)[k - 1]
        for key in list(counters):
            c = counters[key] - d
            if c > 0:
                counters[key] = c
            else:
                del counters[key]


def _batch_counts(values: pd.Series) -> dict[str, int]:
    """Exact prefix-encoded counts of one batch. None and NaN are
    separate ``value_counts`` entries that both encode to the null
    token, so their counts add up instead of overwriting each other."""
    counts: dict[str, int] = {}
    for val, cnt in values.value_counts(dropna=False).items():
        token = _NULL_TOKEN if pd.isna(val) else "v" + val
        counts[token] = counts.get(token, 0) + int(cnt)
    return counts


def misra_gries_partition_candidates(
    df: DataFrame, value_col: str, k: int
) -> DataFrame:
    """Per-partition MG(k) summaries: ≤ k-1 rows ``(value, weight)``
    per input partition, computed in a single forward pass with zero
    shuffles (`mapInPandas` keeps partition boundaries). ``weight`` is
    the MG residual — a lower bound on the partition count, retained
    for diagnostics; the heavy-hitter guarantee only needs membership.
    Null values are tracked like any other value (rendered back as
    NULL by `approx_heavy_hitters`). Emitted ``value`` strings are
    prefix-encoded ("v"+value / "n" for null) — decode with
    ``value[1:]``."""
    if k < 2:
        raise ValueError("k must be >= 2 (share threshold 1/k)")
    schema = T.StructType(
        [
            T.StructField("value", T.StringType()),
            T.StructField("weight", T.LongType()),
        ]
    )

    def summarize(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        counters: dict[str, int] = {}
        for batch in batches:
            # exact per-batch counts at C speed, then one weighted MG
            # merge per distinct batch value (never per row)
            _mg_merge_batch(counters, _batch_counts(batch[value_col]), k)
        yield pd.DataFrame(
            {
                "value": list(counters.keys()),
                "weight": [int(w) for w in counters.values()],
            }
        )

    return df.select(F.col(value_col).cast("string").alias(value_col)).mapInPandas(
        summarize, schema=schema
    )


def approx_heavy_hitters(
    df: DataFrame,
    value_col: str,
    k: int = 10,
    max_candidates: int = 100_000,
) -> DataFrame:
    """Heavy hitters (> 1/k corpus share) for HIGH-CARDINALITY columns:
    Misra-Gries candidate generation (no corpus shuffle) + one exact
    confirmation aggregation whose shuffle is bounded by the candidate
    count, not the column cardinality. Exact result — identical rows
    to `profile.heavy_hitters` (same schema, same SQL oracle); the
    sketch can only over-generate candidates, and the confirm pass
    drops the excess.

    ``max_candidates`` guards the driver-side candidate list (bounded
    by (k-1) × partitions before dedup; in practice tiny because true
    heavy values recur in every partition's summary). Exceeding it
    raises — at that point the column is so adversarially distributed
    that the caller should repartition coarser or use the exact path.
    """
    cand_rows = (
        misra_gries_partition_candidates(df, value_col, k)
        .select("value")
        .distinct()
        .limit(max_candidates + 1)
        .collect()
    )
    if len(cand_rows) > max_candidates:
        raise ValueError(
            f"approx_heavy_hitters: > {max_candidates} distinct MG "
            "candidates — repartition coarser or use the exact "
            "profile.heavy_hitters path"
        )
    cands = [r["value"] for r in cand_rows]
    has_null = _NULL_TOKEN in cands
    non_null = [c[1:] for c in cands if c.startswith("v")]

    v = F.col(value_col).cast("string")
    is_cand = v.isin(non_null) if non_null else F.lit(False)
    # candidate-or-⊥ key (same prefix encoding as the sketch, so no
    # real value can alias the null/other markers): non-candidate
    # values collapse into one "o" group map-side; the shuffle carries
    # ≤ |cands|+1 groups per map task.
    key = F.when(v.isNull(), F.lit(_NULL_TOKEN if has_null else "o")).when(
        is_cand, F.concat(F.lit("v"), v)
    ).otherwise(F.lit("o"))
    counts = df.groupBy(key.alias("_k")).agg(
        F.count(F.lit(1)).alias("cnt")
    )
    tot = counts.agg(F.sum("cnt").alias("n_total"))
    confirmed = (
        counts.filter(F.col("_k") != "o")
        .crossJoin(F.broadcast(tot))
        .filter(F.col("cnt") * k > F.col("n_total"))
    )
    return confirmed.select(
        F.when(F.col("_k") == _NULL_TOKEN, F.lit(None).cast("string"))
        .otherwise(F.expr("substring(_k, 2)"))
        .alias("value"),
        "cnt",
        "n_total",
        F.expr("CAST((cnt * 10000) div n_total AS BIGINT)").alias(
            "share_bp"
        ),
    )
