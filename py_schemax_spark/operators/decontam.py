"""Benchmark decontamination: flag training documents that share token
n-grams with an evaluation/benchmark set.

A training corpus that contains benchmark text inflates downstream
eval scores; the standard guard (e.g. GPT-3 appendix C, PaLM §7) is
exact n-gram overlap — a document is contaminated if any of its token
n-grams (n≈8-13) also occurs in the benchmark. No reference analogue
(the reference validates schema files, not corpora); this is part of
the LLM-training-pipeline operator set the north star adds on top of
the reference's constraint vocabulary.

Scale shape (the part that must survive 10^12 docs):

- Each side's n-gram hashes are computed INSIDE the row by an
  Arrow-batched UDF (``token_ngram_md5_udf``) — no token explode, no
  per-doc window, so the corpus never shuffles at token granularity.
  The JVM alternative (posexplode + ``lead(tok, k)`` over a per-doc
  window) is codegen'd but costs a token-scale shuffle + sort; the
  HOF alternative (``transform`` slicing a computed array) is
  interpreted and re-evaluates the child per element (SURVEY §7).
- The benchmark side is aggregated to DISTINCT hashes (benchmarks are
  MB-scale against a 100-TB corpus) and broadcast — the only join is
  a broadcast hash join against the exploded doc hashes.
- The one exchange is the final ``groupBy(doc key)``; exploded hash
  rows of one doc stay inside their input partition, so the partial
  aggregation collapses them map-side before the shuffle.

The hash is ``md5`` of the space-joined, lowercased whitespace tokens
— chosen (over xxhash) so a SQL engine reproduces it verbatim:
``md5(array_to_string(list_slice(toks, i, i+n-1), ' '))`` in DuckDB is
the exact oracle twin (see ``__spark_entry__.oracle_sql['decontam']``).
"""

from __future__ import annotations

import hashlib
import re

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.pandas.functions import pandas_udf

from py_schemax_spark.operators.chunking import WS_CLASS

# Explicit whitespace class = RE2's \s EXACTLY ([\t\n\f\r ]): Python
# Unicode \s would also split on U+00A0/U+2028, and even re.ASCII \s
# (like Java \s) additionally includes \x0B where RE2 does not — the
# oracle's token universe is the canonical one, so use the explicit
# class every engine shares.
_WS = re.compile(WS_CLASS)


def _ngram_hashes(text: str | None, n: int) -> list[str]:
    """All token n-gram md5 hex digests of ``text`` (empty list for
    null/short text). Tokens: lowercased, whitespace-split, empties
    dropped — the normalization a SQL twin can reproduce exactly."""
    if text is None:
        return []
    toks = [w for w in _WS.split(text.lower()) if w]
    return [
        hashlib.md5(" ".join(toks[i : i + n]).encode()).hexdigest()
        for i in range(len(toks) - n + 1)
    ]


def token_ngram_md5_udf(n: int = 8):
    """Arrow UDF factory: text → ``array<string>`` of token n-gram md5
    hashes. Per-row Python is unavoidable here (variable-length string
    hashing has no numpy kernel), but the work is O(tokens) per row
    with no shuffle — the batch crosses to Python once via Arrow."""

    @pandas_udf(T.ArrayType(T.StringType()))
    def hashes(texts: pd.Series) -> pd.Series:
        return pd.Series([_ngram_hashes(t, n) for t in texts])

    return hashes


def benchmark_ngram_hashes(
    benchmark: DataFrame, text_col: str = "text", n: int = 8
) -> DataFrame:
    """DISTINCT n-gram hashes of the benchmark set — the small side of
    the decontamination join (one column ``h``)."""
    udf = token_ngram_md5_udf(n)
    return (
        benchmark.select(F.explode(udf(F.col(text_col))).alias("h"))
        .distinct()
    )


def contamination_report(
    df: DataFrame,
    benchmark: DataFrame,
    text_col: str = "text",
    key_col: str = "doc_id",
    bench_text_col: str | None = None,
    n: int = 8,
) -> DataFrame:
    """Per-document contamination vs ``benchmark``: returns
    ``(key_col, n_total, n_overlap, contaminated)`` for EVERY input
    row — ``n_total`` the document's token n-gram count, ``n_overlap``
    how many of those occur anywhere in the benchmark, ``contaminated``
    = any overlap. Filter ``contaminated`` to drop, or threshold
    ``n_overlap / n_total`` for a softer policy.

    Documents shorter than ``n`` tokens have no n-grams: n_total = 0,
    never contaminated (standard n-gram decontamination semantics).
    """
    udf = token_ngram_md5_udf(n)
    bench = F.broadcast(
        benchmark_ngram_hashes(
            benchmark, text_col=bench_text_col or text_col, n=n
        ).withColumn("_hit", F.lit(1))
    )
    docs = df.select(
        F.col(key_col), udf(F.col(text_col)).alias("_hashes")
    )
    ex = docs.select(
        key_col, F.explode_outer("_hashes").alias("h")
    )
    return (
        ex.join(bench, "h", "left")
        .groupBy(key_col)
        .agg(
            # count("h") skips the explode_outer null of an
            # n-gram-less doc, so it lands at n_total = 0
            F.count("h").alias("n_total"),
            F.count("_hit").alias("n_overlap"),
        )
        .withColumn("contaminated", F.col("n_overlap") > 0)
    )


# ---------------------------------------------------------------------------
# Bloom-filter scale path
#
# `contamination_report` broadcasts the benchmark's DISTINCT md5 set —
# right for MB-scale benchmarks, wrong when the "benchmark" is itself
# large (a held-out eval corpus, a licensing blocklist of books: 10^9
# n-grams × 32-hex strings ≈ 70 GB of broadcast strings + a Python
# set). A Bloom filter holds the same membership surface in
# ``-n·ln(fpp)/ln(2)²`` BITS (10^9 n-grams at 1% fpp ≈ 1.2 GB — an
# executor-feasible broadcast), at the cost of false POSITIVES only:
# a bloom-flagged doc may be clean, a bloom-clean doc is PROVABLY
# clean. That direction is the safe one for decontamination (drop or
# re-check flagged docs; never ship a contaminated one), and it gives
# the containment oracle: exact-contaminated ∖ bloom-flagged ≡ ∅.

_BLOOM_HASHES = 7  # k = m/n·ln2 at m/n ≈ 9.6 bits/item (fpp ≈ 1%)


def _bloom_positions(hex_digest: str, m_bits: int) -> list[int]:
    """k bit positions from one md5 hex digest via double hashing
    (Kirsch & Mitzenmacher 2006): pos_i = (h1 + i·h2) mod m with h1/h2
    the two 64-bit halves — deterministic across engines and runs.
    Scalar reference; the hot paths use `_bloom_positions_np`."""
    h1 = int(hex_digest[:16], 16)
    h2 = int(hex_digest[16:32], 16)
    return [(h1 + i * h2) % m_bits for i in range(_BLOOM_HASHES)]


def _bloom_positions_np(hex_digests, m_bits: int):
    """Vectorized `_bloom_positions` over a sequence of md5 hex
    digests → int64 array of shape (len, k), bit-identical to the
    scalar path. Hex parsing is ONE ``bytes.fromhex`` over the
    concatenated digests (C speed) viewed as big-endian u64 pairs.
    The double hash must avoid uint64 overflow (h1 + i·h2 is a
    127-bit sum, and (x mod 2^64) mod m ≠ x mod m), so it reduces
    residues first: (h1%m + (i·(h2%m))%m) % m. With m ≤ 2^31 every
    intermediate fits uint64 exactly — one broadcasted multiply-add;
    larger bitmaps fall back to exact Python-int arithmetic per
    digest (k multiplies each — still no per-position inner loop)."""
    import numpy as np

    joined = "".join(hex_digests)
    raw = np.frombuffer(bytes.fromhex(joined), dtype=">u8")
    h1 = raw[0::2].astype(np.uint64)
    h2 = raw[1::2].astype(np.uint64)
    m = np.uint64(m_bits)
    i = np.arange(_BLOOM_HASHES, dtype=np.uint64)
    if m_bits <= (1 << 31):
        # fast path: all residues < 2^31, so every product/sum of two
        # residues fits uint64 exactly — pure vectorized uint64 math
        h1m = (h1 % m)[:, None]
        h2m = (h2 % m)[:, None]
        pos = (h1m + (i[None, :] * h2m) % m) % m
        return pos.astype(np.int64)
    # huge-bitmap path (m ≥ 2 Gbit): do the exact arithmetic with
    # Python ints per digest (k multiplies each) — still ~100× fewer
    # interpreter ops than per-position bit twiddling
    out = np.empty((len(h1), _BLOOM_HASHES), dtype=np.int64)
    for r, (a, b) in enumerate(zip(h1.tolist(), h2.tolist())):
        out[r] = [(a + j * b) % m_bits for j in range(_BLOOM_HASHES)]
    return out


# Bitmap segment size for the distributed OR-reduce: 2^22 bits
# = 512 KiB per segment. Small segments buy reduce-side PARALLELISM
# (a 12.5 MB bitmap is 25 reduce tasks instead of 3 — measured 1.5×
# on the 10^7-n-gram ladder) while the driver still receives exactly
# m/8 bytes total; the 1.25 GB design-point bitmap is ~2.5k segment
# rows, trivially collectable.
_BLOOM_SEG_BITS = 1 << 22


def build_ngram_bloom(
    benchmark: DataFrame,
    text_col: str = "text",
    n: int = 8,
    m_bits: int | None = None,
    bits_per_item: int = 10,
    seg_bits: int = _BLOOM_SEG_BITS,
):
    """Bloom bitmap (numpy uint8 array, length m_bits/8 + 1) over the
    benchmark's distinct token-n-gram md5 set.

    Built DISTRIBUTED with a segmented OR-reduce (VERDICT r04 #2: the
    old shape collected one m/8-byte partial bitmap PER PARTITION —
    P × 1.25 GB through the driver at the 10⁹-n-gram design point):

    1. one Arrow pass over the distinct-hash table emits each hash's
       k bit positions (vectorized `_bloom_positions_np` — hex parse
       and double-hash are numpy ops, no per-position Python);
    2. positions shuffle BY SEGMENT (``pos >> log2(seg_bits)``) — the
       shuffle carries 8-byte longs ∝ k·n_items, never bitmaps;
    3. each segment's reduce task sets its bits with
       ``np.bitwise_or.at`` and emits ONE seg_bits/8-byte row;
    4. the driver receives exactly ⌈m/seg_bits⌉ segment rows — one
       bitmap total — and lays them into place.

    ``m_bits`` defaults to ``bits_per_item × distinct-n-gram-count``
    (≈1% fpp at 10), sized by one count over the distinct-hash table.
    ``seg_bits`` must be a power of two (shift-based segment key)."""
    import numpy as np
    import pyspark.sql.types as T2

    if seg_bits < 8 or seg_bits & (seg_bits - 1):
        raise ValueError("seg_bits must be a power of two >= 8")
    hashes = benchmark_ngram_hashes(benchmark, text_col=text_col, n=n)
    persisted = False
    if m_bits is None:
        # the sizing count and the position pass both need the
        # distinct-hash table — persist it or the n-gram UDF +
        # distinct shuffle run twice
        from pyspark import StorageLevel

        hashes = hashes.persist(StorageLevel.MEMORY_AND_DISK)
        persisted = True
        n_items = hashes.count()
        m_bits = max(64, bits_per_item * n_items)
    m = int(m_bits)
    seg_shift = seg_bits.bit_length() - 1
    n_bytes = m // 8 + 1
    n_segs = (n_bytes + seg_bits // 8 - 1) // (seg_bits // 8)

    def emit_positions(batches):
        for batch in batches:
            col = [h for h in batch["h"] if h is not None]
            if not col:
                continue
            pos = _bloom_positions_np(col, m)
            yield pd.DataFrame({"pos": pos.ravel()})

    pos_df = hashes.mapInPandas(
        emit_positions,
        schema=T2.StructType([T2.StructField("pos", T2.LongType())]),
    )

    seg_bytes = seg_bits // 8

    def build_segment(key, pdf):
        seg = int(key[0])
        base = seg * seg_bytes
        length = min(seg_bytes, n_bytes - base)
        bm = np.zeros(length, dtype=np.uint8)
        off = pdf["pos"].to_numpy(np.int64) - seg * seg_bits
        np.bitwise_or.at(
            bm, off >> 3, (np.uint8(1) << (off & 7).astype(np.uint8))
        )
        return pd.DataFrame({"seg": [seg], "bm": [bm.tobytes()]})

    parts = (
        pos_df.withColumn("seg", F.shiftright(F.col("pos"), seg_shift))
        .groupBy("seg")
        .applyInPandas(build_segment, "seg long, bm binary")
        .collect()
    )
    if persisted:
        hashes.unpersist()
    bitmap = np.zeros(n_bytes, dtype=np.uint8)
    for row in parts:
        if not (0 <= row["seg"] < n_segs):  # pragma: no cover
            raise AssertionError(f"segment {row['seg']} out of range")
        base = int(row["seg"]) * seg_bytes
        chunk = np.frombuffer(row["bm"], dtype=np.uint8)
        bitmap[base : base + len(chunk)] = chunk
    return bitmap, m


def bloom_contamination_report(
    df: DataFrame,
    benchmark: DataFrame,
    text_col: str = "text",
    key_col: str = "doc_id",
    bench_text_col: str | None = None,
    n: int = 8,
    m_bits: int | None = None,
) -> DataFrame:
    """`contamination_report` with a Bloom membership surface instead
    of the exact broadcast hash set: returns ``(key_col, n_total,
    n_maybe, contaminated_maybe)`` where ``contaminated_maybe`` is
    TRUE for every exactly-contaminated document (no false negatives —
    the containment invariant the `bloom_decontam` oracle pins) and
    may be true for ≈fpp of clean ones. Corpus side: ONE Arrow pass
    computing n-gram hashes and testing them in-row against the
    broadcast bitmap — no explode, no join, zero corpus exchanges
    (the output aggregation is per-doc rows already)."""
    import numpy as np

    bitmap, m = build_ngram_bloom(
        benchmark,
        text_col=bench_text_col or text_col,
        n=n,
        m_bits=m_bits,
    )
    sc = df.sparkSession.sparkContext
    bc = sc.broadcast(bitmap.tobytes())

    @pandas_udf(
        T.StructType(
            [
                T.StructField("n_total", T.LongType()),
                T.StructField("n_maybe", T.LongType()),
            ]
        )
    )
    def score(texts: pd.Series) -> pd.DataFrame:
        bm = np.frombuffer(bc.value, dtype=np.uint8)
        totals, maybes = [], []
        for t in texts:
            hs = _ngram_hashes(t, n)
            totals.append(len(hs))
            if not hs:
                maybes.append(0)
                continue
            # vectorized membership probe: (n_grams × k) positions in
            # one numpy gather — a hash is "maybe present" iff ALL k
            # of its bits are set (VERDICT r04 #7: the per-position
            # Python loop here was corpus-granular)
            pos = _bloom_positions_np(hs, m)
            bits = bm[pos >> 3] & (
                np.uint8(1) << (pos & 7).astype(np.uint8)
            )
            maybes.append(int((bits != 0).all(axis=1).sum()))
        return pd.DataFrame({"n_total": totals, "n_maybe": maybes})

    out = df.select(
        F.col(key_col), score(F.col(text_col)).alias("_s")
    )
    return out.select(
        key_col,
        F.col("_s.n_total").alias("n_total"),
        F.col("_s.n_maybe").alias("n_maybe"),
        (F.col("_s.n_maybe") > 0).alias("contaminated_maybe"),
    )
