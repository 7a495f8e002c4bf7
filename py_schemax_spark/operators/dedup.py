"""Deduplication operators for large-scale training-data pipelines.

Not present in the reference (it validates schema files); these extend
the engine's uniqueness class (SURVEY.md §2.2 V3) from key equality to
content equality/similarity, the standard web-corpus dedup ladder:

- exact:      normalize → md5 → hash-groupBy (one shuffle of
              (hash, key) pairs; map-side combine)
- minhash:    shingles → K minhashes → B bands → band-bucket join —
              candidate pairs only ever meet inside a bucket, so the
              shuffle is bounded by bucket sizes, not n²
- simhash:    64-bit weighted-bit fingerprint; near-dups differ in ≤ k
              bits; bucketed by 16-bit chunks (Charikar 2002 /
              Manku et al. 2007, public algorithms)
- ngram jaccard: exact similarity on candidate pairs (verification
              stage after LSH, or standalone at small scale)

All hashing is xxhash64/md5 JVM-side; per-row Python appears nowhere.
"""

from __future__ import annotations

import logging

import numpy as np
import pandas as pd

from pyspark import StorageLevel
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.functions import pandas_udf

from py_schemax_spark.operators.common import (
    broadcast_gate,
    check_passthrough_collisions,
)


def _norm_text(c) -> F.Column:
    """Normalization shared by every dedup flavor: lowercase, collapse
    whitespace runs, trim."""
    return F.trim(F.regexp_replace(F.lower(c), r"\s+", " "))


# Every persisted intermediate any operator in this module creates is
# also recorded here, so a long-lived session (notebook, service) can
# bulk-release without holding on to each result DataFrame.
_PERSISTED_REGISTRY: list[DataFrame] = []


def _track_persisted(result: DataFrame, intermediates: list) -> DataFrame:
    """Attach persisted intermediates to the returned DataFrame so a
    long-lived session can release them: operators in this module
    persist shared sub-pipelines (the Arrow signature/shingle stages
    would otherwise run twice under a self-join); Spark gives no hook
    to unpersist automatically once the RESULT is materialized, so the
    caller owns the release — ``unpersist_intermediates(df)`` after
    consuming ``df``, or ``release_all_intermediates()`` periodically
    (tests, bench, and the parity harness do; a one-shot job can skip
    it, the cache dies with the session)."""
    result._schemax_persisted = intermediates  # type: ignore[attr-defined]
    _PERSISTED_REGISTRY.extend(intermediates)
    return result


def unpersist_intermediates(df: DataFrame) -> None:
    """Release MEMORY_AND_DISK intermediates persisted by the operator
    that produced ``df`` (no-op for untracked DataFrames)."""
    for cached in getattr(df, "_schemax_persisted", []):
        cached.unpersist()
        try:
            _PERSISTED_REGISTRY.remove(cached)
        except ValueError:
            pass


def release_all_intermediates() -> int:
    """Unpersist EVERY intermediate tracked since the last release and
    return how many were dropped — the safety net for sessions that
    run many dedup/similarity pipelines without keeping the result
    handles around (unpersist is idempotent, so double-release via
    ``unpersist_intermediates`` is harmless)."""
    n = len(_PERSISTED_REGISTRY)
    for cached in _PERSISTED_REGISTRY:
        cached.unpersist()
    _PERSISTED_REGISTRY.clear()
    return n


class _CheckpointHandle:
    """Registry shim for localCheckpoint blocks: exposes the
    ``unpersist()`` the release registry calls on everything it
    tracks. ``cp``'s analyzed plan is a ``LogicalRDD`` wrapping the
    checkpoint RDD, so its id is read directly off the plan — NOT a
    global block-manager snapshot diff, which would capture (and later
    force-free) anything a concurrent thread persisted in the same
    window. The blocks are freed by that id through
    ``getPersistentRDDs``: DataFrame.unpersist goes through the cache
    manager, which has no entry for checkpoint blocks. Releasing a
    checkpoint is FINAL — unlike a persisted DataFrame there is no
    lineage to recompute from — so only release after the consuming
    result is fully materialized (the registry contract already says
    exactly that)."""

    def __init__(self, cp: DataFrame):
        self._sc = cp.sparkSession.sparkContext
        self._id = cp._jdf.queryExecution().analyzed().rdd().id()

    def unpersist(self, blocking: bool = False) -> None:
        rdd = self._sc._jsc.getPersistentRDDs().get(self._id)
        if rdd is not None:
            rdd.unpersist(False)


def _checkpoint(df: DataFrame) -> tuple[DataFrame, _CheckpointHandle]:
    """The package's one eager ``localCheckpoint``: truncates ``df``'s
    lineage and returns the checkpoint with the handle that frees its
    blocks. Iterative operators free round k-1's handle once round k's
    checkpoint exists, so no nodes-sized table is pinned per round."""
    cp = df.localCheckpoint()
    return cp, _CheckpointHandle(cp)


def _log_dropped_buckets(
    annotated: DataFrame, bucket_cols: list[str], cap: int, tag: str
) -> None:
    """Surface the volume excluded by a bucket-population cap: one
    small aggregation over the (persisted) annotated bucket stream —
    rows carry their bucket's population in ``_n``. Runs as its own
    tiny job; on a capped run this also warms the persist before the
    self-join consumes it twice."""
    row = (
        annotated.filter(F.col("_n") > cap)
        .agg(
            F.count_distinct(*[F.col(c) for c in bucket_cols]).alias(
                "n_buckets"
            ),
            F.count(F.lit(1)).alias("n_rows"),
            F.max("_n").alias("max_pop"),
        )
        .collect()[0]
    )
    if row["n_buckets"]:
        logging.getLogger(__name__).warning(
            "%s: dropped %d hot bucket(s) above cap=%d "
            "(%d member rows, largest bucket=%d); near-dup recall inside "
            "them degrades — exact duplicates are exact-dedup's job",
            tag, row["n_buckets"], cap, row["n_rows"], row["max_pop"],
        )


def exact_duplicates(
    df: DataFrame, text_col: str = "text", key_col: str = "doc_id"
) -> DataFrame:
    """Exact content dedup: ``(text_md5, keeper, n_copies)`` for every
    duplicate group; keeper = min key (deterministic).

    Scale: groupBy on the 128-bit digest — uniform keys, no skew, one
    shuffle of pre-aggregated pairs.
    """
    return (
        df.filter(F.col(text_col).isNotNull())
        .select(
            F.md5(_norm_text(F.col(text_col))).alias("text_md5"),
            F.col(key_col).alias("k"),
        )
        .groupBy("text_md5")
        .agg(
            F.min("k").alias("keeper"),
            F.count(F.lit(1)).alias("n_copies"),
        )
        .filter(F.col("n_copies") > 1)
    )


def _copy_rank(text_col: str, key_col: str) -> F.Column:
    """1 for the min-key copy of each normalized text, 2, 3, … for its
    later copies: one shuffle on the digest."""
    w = Window.partitionBy(F.md5(_norm_text(F.col(text_col)))).orderBy(
        F.col(key_col).asc()
    )
    return F.row_number().over(w)


def exact_dedup_keep_first(
    df: DataFrame, text_col: str = "text", key_col: str = "doc_id"
) -> DataFrame:
    """Return ``df`` minus later copies of duplicated content (min-key
    copy wins). One shuffle on the digest; survivors keep all columns."""
    return (
        df.withColumn("_rn", _copy_rank(text_col, key_col))
        .filter(F.col("_rn") == 1)
        .drop("_rn")
    )


# --- MinHash + LSH ----------------------------------------------------------


# NOTE: the interpreted JVM-expression minhash (xxhash64-per-seed fold
# over a transform(sequence(...)) shingle array) was removed from the
# package in round 3 — composing HOFs over computed arrays is quadratic
# in shingle count under Catalyst's interpreter (SURVEY.md §7 rule) and
# exporting it invited accidental use. Its expression form survives as
# the semantic twin in tests/test_dedup_similarity.py.

_POLY_B = np.uint64(0x100000001B3)  # FNV-ish odd multiplier


def _shingle_codes(text: str, n: int) -> np.ndarray:
    """Distinct byte-level n-gram codes of one normalized text as
    uint64: polynomial rolling code sum(byte_j * B^(n-1-j)) mod 2^64 —
    injective for n <= 8 (B > 255 and no wraparound within a window's
    significant bits matters only for collision rate, which the
    multiply-shift family downstream absorbs)."""
    raw = np.frombuffer(text.encode("utf-8"), dtype=np.uint8)
    if raw.size < n:
        raw = np.pad(raw, (0, n - raw.size))
    win = np.lib.stride_tricks.sliding_window_view(raw, n).astype(np.uint64)
    pows = _POLY_B ** np.arange(n - 1, -1, -1, dtype=np.uint64)
    with np.errstate(over="ignore"):
        codes = (win * pows[None, :]).sum(axis=1, dtype=np.uint64)
    return np.unique(codes)


def shingle_codes_udf(n: int = 5):
    """Arrow UDF: normalized text → sorted distinct ``array<long>``
    shingle codes (the numpy path of ``shingles``; used by minhash and
    the Jaccard verifier so both agree on the shingle universe)."""

    @pandas_udf(T.ArrayType(T.LongType()))
    def codes(texts: pd.Series) -> pd.Series:
        # null text propagates as null (JVM expressions do the same);
        # without the guard None.encode raises inside the batch
        return pd.Series(
            [None if t is None else _shingle_codes(t, n).view(np.int64)
             for t in texts]
        )

    return codes


def _minhash_family(num_hashes: int) -> tuple[np.ndarray, np.ndarray]:
    """Deterministic multiply-shift family params: K odd multipliers and
    K offsets in uint64 (h_i(x) = a_i*x + b_i mod 2^64)."""
    rng = np.random.default_rng(0x5CE3A)
    a = rng.integers(1, 1 << 63, size=num_hashes, dtype=np.uint64) * 2 + 1
    b = rng.integers(0, 1 << 63, size=num_hashes, dtype=np.uint64)
    return a, b


def minhash_udf(num_hashes: int = 64, shingle_n: int = 5):
    """Arrow-vectorized minhash: normalized text → ``array<long>``
    K-wide signature, one batch at a time. Per row, shingle codes are a
    strided numpy window product; the K-family derivation for the WHOLE
    batch is one (K × total_shingles) multiply-add mod 2^64 broadcast
    followed by a segmented ``minimum.reduceat``.

    Everything upstream of this UDF stays JVM-side (scan, normalize);
    the interpreted-Catalyst alternative — higher-order ``transform``
    over a nested array expression — re-evaluates the child array per
    element (quadratic in shingle count) and measured >100× slower.

    Peak memory is bounded INDEPENDENT of Arrow batch size: rows are
    processed in chunks capped at ~32M (K × shingles) uint64 products
    (≈256 MB), so a 10k-row batch of KB-sized pages (~20M shingles ×
    K=64 → would be ~10 GB in one allocation) can never OOM an
    executor. Null text propagates as a null signature."""
    a, b = _minhash_family(num_hashes)
    # cap the (K × chunk_shingles) uint64 matrix at ~256 MB
    max_chunk_shingles = max(1024, (32 << 20) // num_hashes)

    @pandas_udf(T.ArrayType(T.LongType()))
    def sig(texts: pd.Series) -> pd.Series:
        out: list = []
        pend: list[np.ndarray] = []
        pend_sh = 0

        def flush() -> None:
            nonlocal pend, pend_sh
            if not pend:
                return
            lengths = np.fromiter((c.size for c in pend), dtype=np.int64,
                                  count=len(pend))
            flat = np.concatenate(pend)
            offsets = np.zeros(len(lengths), dtype=np.int64)
            np.cumsum(lengths[:-1], out=offsets[1:])
            # K passes over ONE reusable S-sized buffer instead of a
            # (K × S) broadcast matrix: same flops, but no multi-
            # hundred-MB fresh allocation per batch — large first-touch
            # allocations page-fault pathologically under memory
            # pressure (measured 15s vs 0.6s for identical element
            # counts on this host), and a real executor shares its
            # pages with the JVM heap just the same.
            buf = np.empty(flat.size, dtype=np.uint64)
            sigs = np.empty((len(lengths), num_hashes), dtype=np.uint64)
            with np.errstate(over="ignore"):
                for k in range(num_hashes):
                    np.multiply(flat, a[k], out=buf)
                    np.add(buf, b[k], out=buf)
                    # empty rows can't occur: _shingle_codes pads to
                    # >= 1 window
                    sigs[:, k] = np.minimum.reduceat(buf, offsets)
            out.extend(list(sigs.view(np.int64)))
            pend, pend_sh = [], 0

        for t in texts:
            if t is None:
                # flush first so `out` stays row-ordered
                flush()
                out.append(None)
                continue
            c = _shingle_codes(t, shingle_n)
            pend.append(c)
            pend_sh += c.size
            if pend_sh >= max_chunk_shingles:
                flush()
        flush()
        return pd.Series(out, dtype=object)

    return sig


def minhash_signatures(
    df: DataFrame,
    text_col: str = "text",
    key_col: str = "doc_id",
    num_hashes: int = 64,
    shingle_n: int = 5,
) -> DataFrame:
    """``(k, sig)`` minhash signatures via the Arrow path.

    Partitioning: inherits the scan's natural splits (scale-correct —
    a 100 TB table arrives in thousands of splits). Each Arrow task
    carries fixed python-worker overhead (~0.1-0.3 s), so forcing a
    high partition count on a small input multiplies overhead for no
    gain; callers that DO need to spread a compute-heavy corpus from
    few splits can ``df.repartition(n)`` beforehand."""
    udf = minhash_udf(num_hashes, shingle_n)
    return (
        df.filter(F.col(text_col).isNotNull())
        .select(F.col(key_col).alias("k"), F.col(text_col).alias("_t"))
        .select("k", udf(_norm_text(F.col("_t"))).alias("sig"))
    )


def minhash_lsh_candidates(
    df: DataFrame,
    text_col: str = "text",
    key_col: str = "doc_id",
    num_hashes: int = 64,
    bands: int = 16,
    shingle_n: int = 5,
    max_bucket_size: int | None = 10_000,
    log_dropped: bool = True,
) -> DataFrame:
    """Candidate near-duplicate pairs via banding: docs agreeing on ALL
    rows of ≥1 band collide. Returns ``(key_a, key_b, n_bands)`` with
    key_a < key_b.

    Scale shape: the exploded (band_id, band_hash) stream shuffles once
    into buckets; the self-join happens per bucket (bounded by bucket
    population, not n²). A hot bucket (boilerplate pages) is the skew
    risk: AQE skew-join splits the SHUFFLE, but cannot reduce the
    O(b²) PAIR OUTPUT of a b-doc bucket — one 10⁶-doc boilerplate
    bucket would emit 5·10¹¹ pairs. So bucket populations are counted
    with a window over the bucket key (the same shuffle the self-join
    needs) and buckets above ``max_bucket_size`` are EXCLUDED from the
    join; the dropped volume is logged. Near-dup recall inside a
    dropped bucket degrades gracefully (pairs can still surface via
    their other bands); exact duplicates are the exact-dedup
    operator's job, not LSH's. ``max_bucket_size=None`` disables the
    cap.
    """
    rows_per_band = num_hashes // bands
    banded = minhash_signatures(
        df, text_col=text_col, key_col=key_col,
        num_hashes=num_hashes, shingle_n=shingle_n,
    )
    # band structs are unrolled with int literals: a
    # transform(sequence(...)) with a column-start slice is interpreted
    # (non-codegen) and measured ~10× slower than this literal form
    band_hash = F.explode(
        F.array(
            *[
                F.struct(
                    F.lit(b).alias("band"),
                    F.xxhash64(
                        F.slice("sig", b * rows_per_band + 1, rows_per_band)
                    ).alias("bucket"),
                )
                for b in range(bands)
            ]
        )
    )
    buckets = banded.select("k", band_hash.alias("bh")).select(
        "k", F.col("bh.band").alias("band"), F.col("bh.bucket").alias("bucket")
    )
    # bucket-population window: one shuffle on (band, bucket) — the
    # key the self-join needs anyway — annotates every row with its
    # bucket's size so over-cap buckets can be filtered BEFORE the
    # join. persist: the self-join would otherwise run the whole
    # signature pipeline (scan → normalize → Arrow minhash) twice — at
    # corpus scale that doubles the dominant cost. MEMORY_AND_DISK so
    # a 10^12-doc bucket table spills instead of OOMing.
    if max_bucket_size is not None:
        wb = Window.partitionBy("band", "bucket")
        buckets = buckets.withColumn(
            "_n", F.count(F.lit(1)).over(wb)
        ).persist(StorageLevel.MEMORY_AND_DISK)
        if log_dropped:
            _log_dropped_buckets(
                buckets, ["band", "bucket"], max_bucket_size, "minhash-lsh"
            )
        joinable = buckets.filter(F.col("_n") <= max_bucket_size).drop("_n")
    else:
        # cap disabled: skip the population window entirely — the
        # annotation would otherwise cost a per-partition sort + window
        # pass just to drop the column again
        buckets = buckets.persist(StorageLevel.MEMORY_AND_DISK)
        joinable = buckets
    left = joinable.alias("l")
    right = joinable.alias("r")
    return _track_persisted(
        left.join(
            right,
            (F.col("l.band") == F.col("r.band"))
            & (F.col("l.bucket") == F.col("r.bucket"))
            & (F.col("l.k") < F.col("r.k")),
        )
        .groupBy(
            F.col("l.k").alias("key_a"), F.col("r.k").alias("key_b")
        )
        .agg(F.count(F.lit(1)).alias("n_bands")),
        [buckets],
    )


def ngram_jaccard_pairs(
    df: DataFrame,
    candidates: DataFrame,
    text_col: str = "text",
    key_col: str = "doc_id",
    shingle_n: int = 5,
    threshold: float = 0.8,
    prune_to_candidates: bool = True,
) -> DataFrame:
    """Verification stage: exact n-gram Jaccard on candidate pairs.
    ``candidates`` = (key_a, key_b); joins the shingle sets back (two
    co-partitioned joins) and computes |∩|/|∪| with no array union.

    Shingle sets are numpy shingle CODES (same universe as minhash —
    ``shingle_codes_udf``); the intersection runs JVM-side over the
    materialized arrays (plain codegen'd expressions over attribute
    references — no interpreted HOF re-evaluation). The codes are
    distinct (``np.unique``), so |∪| = |a| + |b| − |∩|.

    ``prune_to_candidates`` (default on) semi-joins ``df`` down to the
    docs that actually appear in ``candidates`` BEFORE the shingle UDF
    runs. On a real corpus the capped LSH stage emits pairs touching a
    small fraction of docs, and the uncut path would compute AND
    shuffle a ~16 KB shingle array for every one of 10¹² docs just to
    drop most of them in the join — the semi-join reduces the Arrow
    stage + both join inputs to O(candidate docs). Turn it off only
    when candidates are known to touch nearly every doc (the extra
    semi-join then buys nothing)."""
    src = df.filter(F.col(text_col).isNotNull())
    tracked = []
    if prune_to_candidates:
        # candidates appears three times in the DAG (key_a keys, key_b
        # keys, final join) — persist it so an expensive upstream plan
        # (typically the LSH bucket self-join) runs once, not thrice
        candidates = candidates.persist(StorageLevel.MEMORY_AND_DISK)
        tracked.append(candidates)
        keys = (
            candidates.select(F.col("key_a").alias("_ck"))
            .union(candidates.select(F.col("key_b").alias("_ck")))
            .distinct()
        )
        src = src.join(
            keys, F.col(key_col) == F.col("_ck"), "left_semi"
        )
    codes = shingle_codes_udf(shingle_n)
    sh = (
        # null text can't shingle — drop it here (mirrors
        # minhash_signatures) instead of crashing in the Arrow batch
        src
        .select(F.col(key_col).alias("k"), F.col(text_col).alias("_t"))
        .select("k", codes(_norm_text(F.col("_t"))).alias("sh"))
        # both join sides derive from this — persist so the shingle
        # UDF pipeline runs once, not twice
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    a = sh.select(F.col("k").alias("key_a"), F.col("sh").alias("sh_a"))
    b = sh.select(F.col("k").alias("key_b"), F.col("sh").alias("sh_b"))
    inter = F.size(F.array_intersect("sh_a", "sh_b"))
    union = F.size("sh_a") + F.size("sh_b") - inter
    return _track_persisted(
        candidates.join(a, "key_a")
        .join(b, "key_b")
        .select(
            "key_a",
            "key_b",
            # n_inter/n_union carry the integer-exact set sizes (the
            # oracle-comparable columns); jaccard is the rounded ratio
            inter.alias("n_inter"),
            union.alias("n_union"),
            F.round(inter / union, 4).alias("jaccard"),
        )
        .filter(F.col("jaccard") >= threshold),
        [sh, *tracked],
    )


# --- SimHash -----------------------------------------------------------------


def _simhash_vote_bits(hash_arrays: pd.Series):
    """Shared vote kernel for the SimHash UDFs: per-bit majority vote
    over PRE-HASHED tokens (``array<long>`` of per-token xxhash64
    values computed JVM-side, so no Python code runs per token). Pure
    numpy: concatenate the batch's hash arrays, unpack into a
    (total_tokens × 64) ±1 matrix, segmented-sum per row
    (``add.reduceat``), sign → bit. Returns ``(rows, bits)`` where
    ``rows`` is the per-row input (None for null text upstream) and
    ``bits`` the (n_valid × 64) 0/1 matrix (None if no valid rows).
    Per-bit votes are bounded by the same ~32M-element chunking idea
    as minhash via Arrow batch sizing (64 × tokens int32 ≈ 256 B/token
    — a 10k-row × 400-token batch is ~1 GB peak, acceptable; raise
    spark.sql.execution.arrow.maxRecordsPerBatch with care on KB-sized
    docs)."""
    rows = [None if t is None else np.asarray(t, dtype=np.int64)
            for t in hash_arrays]
    valid = [r for r in rows if r is not None and r.size > 0]
    if not valid:
        return rows, None
    lengths = np.fromiter((r.size for r in valid), dtype=np.int64,
                          count=len(valid))
    flat = np.concatenate(valid).view(np.uint64)
    shifts = np.arange(64, dtype=np.uint64)
    pm1 = (((flat[:, None] >> shifts[None, :]) & np.uint64(1))
           .astype(np.int32) * 2 - 1)
    offsets = np.zeros(len(lengths), dtype=np.int64)
    np.cumsum(lengths[:-1], out=offsets[1:])
    votes = np.add.reduceat(pm1, offsets, axis=0)
    bits = (votes > 0).astype(np.int32)
    return rows, bits


@pandas_udf(T.ArrayType(T.IntegerType()))
def _simhash_votes_udf(hash_arrays: pd.Series) -> pd.Series:
    """64-bit SimHash as ``array<int>`` of bits (index 0 = LSB) —
    the display/expression-level shape (`simhash_hex` packs it)."""
    rows, bits = _simhash_vote_bits(hash_arrays)
    out: list = []
    vi = 0
    for r in rows:
        if r is None:
            out.append(None)
        elif r.size == 0:
            out.append(np.zeros(64, dtype=np.int32))
        else:
            out.append(bits[vi])
            vi += 1
    return pd.Series(out, dtype=object)


@pandas_udf(T.LongType())
def _simhash_packed_udf(hash_arrays: pd.Series) -> pd.Series:
    """64-bit SimHash packed into ONE long (two's-complement
    reinterpretation of the uint64 whose bit i is fingerprint bit i).
    This is the JOIN shape: chunk keys become shift/mask expressions
    and Hamming distance becomes codegen'd ``bit_count(a ^ b)`` —
    measured on the 2M-doc diverse-corpus ladder, the interpreted
    64-element ``zip_with``/``aggregate`` hamming over ~10⁸ random
    16-bit-chunk collision pairs dominated the whole simhash stage,
    and the packed long also shrinks both join sides' shuffle payload
    64×."""
    rows, bits = _simhash_vote_bits(hash_arrays)
    if bits is not None:
        shifts = np.arange(64, dtype=np.uint64)
        packed = (
            (bits.astype(np.uint64) << shifts[None, :])
            .sum(axis=1, dtype=np.uint64)
            .view(np.int64)
        )
    out: list = []
    vi = 0
    for r in rows:
        if r is None:
            out.append(None)
        elif r.size == 0:
            out.append(0)
        else:
            out.append(int(packed[vi]))
            vi += 1
    return pd.Series(out, dtype=object)


def simhash_bits(text_col, token_split: str = r"\s+") -> F.Column:
    """64-bit SimHash over whitespace tokens as an ``array<int>`` of 64
    bits (index 0 = least significant).

    Per-bit majority vote of token hashes (Charikar 2002): both
    tokenization (``split``) AND per-token hashing (``xxhash64``,
    deterministic fixed-seed, identical across executors/runs) stay
    JVM-side; only the 64-bit unpack + vote crosses into one
    Arrow-vectorized numpy batch op — no per-token Python anywhere.
    Token weight = 1; term frequency folds in via repeated tokens.
    NOTE (round 2): the token hash changed blake2b→xxhash64, so
    fingerprints differ from round-1 outputs; SimHash fingerprints are
    engine-internal (rows-only query, semantic pytest assertions), not
    a persisted contract.

    This array shape is the display/expression-level twin; the join
    path (`simhash_near_duplicates`) uses the packed-long fingerprint
    (`simhash_fingerprints(packed=True)`) so chunk keys and Hamming
    distance stay in codegen (`bit_count(a ^ b)`).
    """
    toks = F.split(_norm_text(text_col), token_split)
    return _simhash_votes_udf(F.transform(toks, lambda t: F.xxhash64(t)))


def simhash_fingerprints(
    df: DataFrame,
    text_col: str = "text",
    key_col: str = "doc_id",
    token_split: str = r"\s+",
    packed: bool = False,
) -> DataFrame:
    """``(k, fp)`` SimHash fingerprints with the token array
    MATERIALIZED as a column attribute before the per-token hash:
    ``transform`` over a computed child re-evaluates that child per
    element (SURVEY §7 measured rule — 3.7x on ~300-token/2 KB docs,
    0.70 s → 0.19 s per 20k-doc batch), so the DataFrame-level path
    tokenizes into ``_tok`` first and every HOF sees only attribute
    references. ``simhash_bits`` remains the expression-level twin for
    inline use on short texts.

    ``packed=True`` returns ``(k, fpl)`` with the 64 bits packed into
    one long (bit i of the uint64 = fingerprint bit i, reinterpreted
    two's-complement) — the join/shuffle shape: 64× smaller rows,
    chunk keys by shift/mask, Hamming by ``bit_count(a ^ b)``, all
    codegen."""
    vote = _simhash_packed_udf if packed else _simhash_votes_udf
    return (
        df.filter(F.col(text_col).isNotNull())
        .select(
            F.col(key_col).alias("k"),
            F.split(_norm_text(F.col(text_col)), token_split).alias("_tok"),
        )
        .select(
            "k",
            vote(
                F.transform(F.col("_tok"), lambda t: F.xxhash64(t))
            ).alias("fpl" if packed else "fp"),
        )
    )


def simhash_hex(bits_col) -> F.Column:
    """Pack the 64-bit array into a 16-char hex string (display /
    stable output), 4 × 16-bit chunks, most-significant chunk first."""
    chunk_vals = [
        F.aggregate(
            # reverse within the chunk so the aggregate builds MSB-first
            F.reverse(F.slice(bits_col, 16 * i + 1, 16)),
            F.lit(0).cast("long"),
            lambda acc, b: acc * 2 + b,
        )
        for i in range(3, -1, -1)
    ]
    return F.concat(
        *[F.lpad(F.lower(F.hex(v)), 4, "0") for v in chunk_vals]
    )


def simhash_hex_packed(fpl_col) -> F.Column:
    """16-char hex of a packed-long fingerprint — byte-identical to
    ``simhash_hex`` over the equivalent bit array (Spark ``hex`` on a
    long renders the full two's-complement uint64; lpad covers small
    positives)."""
    return F.lpad(F.lower(F.hex(fpl_col)), 16, "0")


def simhash_near_duplicates(
    df: DataFrame,
    text_col: str = "text",
    key_col: str = "doc_id",
    max_hamming: int = 3,
    max_bucket_size: int | None = 10_000,
    log_dropped: bool = True,
) -> DataFrame:
    """Near-dup pairs by SimHash: bucket on each of the four 16-bit
    chunks (pigeonhole: ≤3 differing bits → ≥1 identical chunk), join
    within buckets, verify Hamming distance exactly.

    Returns ``(key_a, key_b, hamming)``.

    Scale shape: only 65k possible values per 16-bit chunk, so at
    10^12 docs the AVERAGE chunk bucket holds ~10⁷ docs — an uncapped
    self-join is quadratic in that. Same guard as
    ``minhash_lsh_candidates``: a window over the bucket key (the
    join's own shuffle key) annotates populations; buckets above
    ``max_bucket_size`` are excluded and the dropped volume logged.
    Pairs in a dropped bucket can still meet via their other three
    chunks. The chunk stream is persisted so the fingerprint pipeline
    (normalize → tokenize → Arrow bit votes) runs once, not twice.

    Join shape (round 3): the fingerprint rides the join as ONE packed
    long — chunk keys are shift/mask expressions and the exact verify
    is codegen'd ``bit_count(l ^ r)``. The previous array fingerprint
    paid an interpreted 64-element ``zip_with``/``aggregate`` per
    joined pair; on a diverse 2M-doc corpus the 16-bit chunk space
    (65k values) yields ~30-doc random buckets → ~10⁸ collision pairs,
    and that interpreted verify dominated the stage.
    """
    fp = simhash_fingerprints(df, text_col=text_col, key_col=key_col,
                              packed=True)
    chunks = fp.select(
        "k",
        "fpl",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(i).alias("chunk"),
                        F.shiftrightunsigned(F.col("fpl"), 16 * i)
                        .bitwiseAND(F.lit(0xFFFF))
                        .alias("val"),
                    )
                    for i in range(4)
                ]
            )
        ).alias("c"),
    ).select("k", "fpl", F.col("c.chunk").alias("chunk"), F.col("c.val").alias("val"))
    if max_bucket_size is not None:
        wb = Window.partitionBy("chunk", "val")
        chunks = chunks.withColumn(
            "_n", F.count(F.lit(1)).over(wb)
        ).persist(StorageLevel.MEMORY_AND_DISK)
        if log_dropped:
            _log_dropped_buckets(
                chunks, ["chunk", "val"], max_bucket_size, "simhash"
            )
        joinable = chunks.filter(F.col("_n") <= max_bucket_size).drop("_n")
    else:
        # cap disabled: no population window (same rationale as
        # minhash_lsh_candidates)
        chunks = chunks.persist(StorageLevel.MEMORY_AND_DISK)
        joinable = chunks
    l, r = joinable.alias("l"), joinable.alias("r")
    hamming = F.bit_count(F.col("l.fpl").bitwiseXOR(F.col("r.fpl")))
    return _track_persisted(
        l.join(
            r,
            (F.col("l.chunk") == F.col("r.chunk"))
            & (F.col("l.val") == F.col("r.val"))
            & (F.col("l.k") < F.col("r.k")),
        )
        .select(
            F.col("l.k").alias("key_a"),
            F.col("r.k").alias("key_b"),
            hamming.alias("hamming"),
        )
        .filter(F.col("hamming") <= max_hamming)
        .distinct(),
        [chunks],
    )


# --- Cluster formation (the last stage of the dedup ladder) ------------------


def _driver_components(spark, edges: DataFrame) -> DataFrame:
    """Union-find over a small collected edge set ``(u, v)``; one
    direction suffices. Component id = min node id, same contract as
    the distributed rounds."""
    parent: dict = {}

    def find(x):
        root = x
        while parent[root] != root:
            root = parent[root]
        while parent[x] != root:
            parent[x], x = root, parent[x]
        return root

    for r in edges.collect():
        u, v = r["u"], r["v"]
        parent.setdefault(u, u)
        parent.setdefault(v, v)
        ru, rv = find(u), find(v)
        if ru != rv:
            # union by min keeps every root the component minimum
            if rv < ru:
                ru, rv = rv, ru
            parent[rv] = ru
    rows = [(n, find(n)) for n in parent]
    node_t = edges.schema["u"].dataType
    schema = T.StructType(
        [
            T.StructField("node", node_t),
            T.StructField("component", node_t),
        ]
    )
    return spark.createDataFrame(rows, schema)


def connected_components(
    pairs: DataFrame,
    src: str = "key_a",
    dst: str = "key_b",
    max_iter: int = 50,
    driver_max_edges: int = 2_000_000,
    driver_max_edge_bytes: int = 128 * 1024 * 1024,
) -> DataFrame:
    """Connected components over verified duplicate PAIRS — the stage
    that turns pairwise near-dup evidence into dedup CLUSTERS (a~b and
    b~c must collapse into one keep-one group even when a~c was never
    tested). Returns ``(node, component)`` where ``component`` is the
    minimum node id in the component under the column type's natural
    ordering (lexicographic for strings) — the conventional survivor
    key.

    Algorithm: hash-min label propagation with per-round path
    compression. Each round every node takes the min of its own label
    and its neighbors' labels (one shuffle join edges ⋈ labels + one
    hash aggregation), then labels are shortcut once through
    themselves (``lbl := label(lbl)`` where known) — the pointer-
    doubling step that turns O(diameter) rounds into O(log diameter):
    after round k every node's label is the minimum within its
    2^k-hop neighborhood. Small graphs skip the rounds: union-find on
    the driver.

    Scale shape: dedup graphs are unions of small dense clusters
    (bounded by the LSH bucket caps upstream), so the round count is
    tiny regardless of corpus size; ``max_iter`` is a safety bound for
    adversarial chains, and hitting it raises rather than returning
    silently-unconverged labels. Convergence is detected for free: the
    round's aggregation carries a ``_changed`` flag (new label < the
    round-start label, computed as ``min_by`` inside the same
    aggregation), so the early-exit probe is a filter+limit over the
    already-checkpointed round output — no extra join job per round.
    For web-scale graphs with genuinely long chains, swap in
    large-star/small-star (Kiveris et al. 2014) — same DataFrame
    surface.

    Lineage is truncated every round with ``localCheckpoint`` —
    persist alone caches the DATA but each round's logical plan would
    still nest all previous rounds', and analysis time grows
    exponentially (measured: a 9-round chain never finished planning).
    The iterative-algorithm rule: checkpoint, don't just cache. (On a
    preemptible cluster use a reliable ``checkpoint()`` dir instead —
    localCheckpoint data dies with its executor.)
    """
    # one-way pairs, persisted: the upstream pair pipeline runs once
    # for the size probe and whichever path follows
    e = pairs.select(F.col(src).alias("u"), F.col(dst).alias("v")).persist(
        StorageLevel.MEMORY_AND_DISK
    )
    # Small-graph fast path: a propagation ROUND is several stages of
    # scheduling regardless of data volume, so a 7k-edge graph pays
    # ~10s of pure overhead for ~1ms of actual work. Union-find has
    # identical min-label semantics (python str ordering == Spark's
    # UTF8 byte ordering: UTF-8 is code-point order-preserving),
    # asserted equal to the distributed path in tests. It runs when
    # the doubled edge set would fit; row count alone under-gates WIDE
    # keys (VERDICT r04 #10: 2M edges of ~100-byte URLs ≈ 400 MB of
    # Row objects), so the same aggregate sums string keys' bytes
    # (octet_length: CJK / percent-decoded URL keys are up to 4 bytes
    # per CHARACTER).
    wide = isinstance(e.schema["u"].dataType, T.StringType)
    n, nbytes = e.agg(
        F.count(F.lit(1)),
        F.sum(F.octet_length("u")) + F.sum(F.octet_length("v"))
        if wide else F.lit(0),
    ).first()
    if (driver_max_edges and 2 * n <= driver_max_edges
            and 2 * (nbytes or 0) <= driver_max_edge_bytes):
        out = _driver_components(pairs.sparkSession, e)
        e.unpersist()
        return out
    edges = (
        e.union(e.select(F.col("v").alias("u"), F.col("u").alias("v")))
        .distinct()
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    # Right-size the graph's partitioning to the GRAPH, not the corpus:
    # verified-pair graphs are orders of magnitude smaller than the
    # corpus that produced them, but inherit its shuffle width — every
    # propagation round would then pay corpus-width task scheduling.
    # The count is free (edges is persisted and needed by round 1).
    n_edges = edges.count()
    e.unpersist()  # doubled set is materialized; the one-way set is dead
    target = max(1, int(n_edges // 4_000_000) + (1 if n_edges % 4_000_000 else 0))
    if target < edges.rdd.getNumPartitions():
        resized = edges.repartition(target, "u").persist(
            StorageLevel.MEMORY_AND_DISK
        )
        resized.count()
        edges.unpersist()
        edges = resized
    # Round k-1's checkpoint blocks are dead the moment round k's
    # eager checkpoint materializes — free them then, instead of
    # pinning every round's labels table for the session lifetime
    # (at 10^12 docs each round pins a nodes-sized table).
    labels, held = _checkpoint(
        edges.select("u").distinct().withColumn("lbl", F.col("u"))
    )
    for _ in range(max_iter):
        msgs = (
            edges.join(labels.withColumnRenamed("u", "v"), "v")
            .select("u", "lbl", F.lit(False).alias("own"))
        )
        stepped = (
            labels.select("u", "lbl", F.lit(True).alias("own"))
            .union(msgs)
            .groupBy("u")
            .agg(
                F.min("lbl").alias("lbl"),
                # the node's round-start label rides along in the same
                # aggregation, so `changed` needs no join afterwards
                F.min(F.when(F.col("own"), F.col("lbl"))).alias("_old"),
            )
        )
        # path compression: shortcut each label through its own label
        # (labels only decrease, so this can only tighten)
        thru = stepped.select(
            F.col("u").alias("lbl"), F.col("lbl").alias("_lbl2")
        )
        new, new_held = _checkpoint(
            stepped.join(thru, "lbl", "left")
            .select(
                "u",
                F.least("lbl", "_lbl2").alias("lbl"),
                (F.least("lbl", "_lbl2") < F.col("_old")).alias("_changed"),
            )
        )
        changed = new.filter(F.col("_changed")).limit(1).count()
        labels = new.select("u", "lbl")
        held.unpersist()
        held = new_held
        if changed == 0:
            break
    else:
        edges.unpersist()
        held.unpersist()
        raise RuntimeError(
            f"connected_components did not converge in {max_iter} rounds"
        )
    return _track_persisted(
        labels.select(F.col("u").alias("node"), F.col("lbl").alias("component")),
        [edges, held],
    )


def dedup_clusters(
    df: DataFrame,
    pairs: DataFrame,
    key_col: str = "doc_id",
    src: str = "key_a",
    dst: str = "key_b",
    passthrough: bool = False,
    max_broadcast_components: int = 2_000_000,
) -> DataFrame:
    """Cluster assignment for every document: docs reached by a
    duplicate pair get their component's min key as ``cluster_id``;
    untouched docs are their own singleton cluster. ``is_survivor``
    marks the one kept doc per cluster (the min key).

    The component map is (nodes-in-pairs)-sized. When small it
    broadcasts, so full corpus rows never enter an exchange; but at
    real crawl dup rates (30-50% of docs participate in a duplicate
    pair) the node set is corpus-scale and an unconditional broadcast
    would OOM the driver/executors — so the broadcast goes through
    ``broadcast_gate``, falling back to a plain shuffle join above
    ``max_broadcast_components`` rows (~16 B/row of long pairs → the
    2M default is ~32 MB in-broadcast). ``passthrough=True``
    carries every input column (shuffle-free only on the broadcast
    path)."""
    if passthrough:
        check_passthrough_collisions(
            df, ["cluster_id", "is_survivor", "component"],
            "dedup_clusters",
        )
    comp = connected_components(pairs, src=src, dst=dst)
    # .withColumnRenamed / F.broadcast return NEW DataFrame objects:
    # capture the persisted-intermediates registry before wrapping
    comp_persisted = getattr(comp, "_schemax_persisted", [])
    comp = comp.withColumnRenamed("node", key_col)
    comp, _ = broadcast_gate(comp, max_broadcast_components, "components")
    base_cols = list(df.columns) if passthrough else [key_col]
    keyed = df.select(*[F.col(x) for x in base_cols])
    out = (
        keyed.join(
            comp,
            key_col,
            "left",
        )
        .select(
            *base_cols,
            F.coalesce("component", F.col(key_col)).alias("cluster_id"),
        )
        .withColumn(
            "is_survivor", (F.col(key_col) == F.col("cluster_id"))
        )
    )
    # comp's intermediates are already in the registry — re-attach for
    # per-result release without double-registering them.
    out._schemax_persisted = comp_persisted  # type: ignore[attr-defined]
    return out
