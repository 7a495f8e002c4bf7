"""Similarity search over embedding columns (``array<float>``).

Training-pipeline extension (no reference analogue): approximate
nearest neighbors for near-dup mining / retrieval over web-scale
corpora.

- Top-k family (``brute_force_topk``, ``lsh_topk``, ``ivf_topk``,
  ``pq_topk``/``pq_search``, ``ivfpq_topk``): the query side is small
  by contract and is read once, by one bounded collect
  (``_query_side``). The brute-force, PQ and IVF-PQ scorers run as
  numpy over Arrow batches of the corpus against the broadcast query
  constants, through one partial-top-k kernel (``_scored_topk``), so
  the corpus never shuffles; LSH and IVF join the corpus to a
  broadcast frame of the collected queries. All five rank through one
  window (``_rank``): sim rounded to 4 desc, vec_id asc.
- LSH-bucketed (random hyperplanes / SignRandomProjection): the scale
  path — b sign bits per vector → bucket id; probe only same-bucket
  vectors. Recall tunable via number of tables; deterministic planes
  derived from a seed (hash-based, no RNG state).
- IVF (k-means-lite): coarse centroids sampled deterministically,
  vectors assigned to nearest centroid (one broadcast join), queries
  probe ``nprobe`` nearest lists.
- PQ / IVF-PQ: product-quantized codes scored by table gathers (ADC);
  in their degenerate regimes they reconstruct exactly and equal brute
  force.
- All pairs above a threshold: ``all_pairs_above_np`` broadcasts a
  small corpus, ``all_pairs_above_blocked`` decomposes a large one
  into block pairs with no driver collect; both emit the same pairs.

Every scorer casts to float64 before it multiplies, so results
reproduce across runs; top-k sims are rounded to 4 decimals, which is
what a DuckDB oracle ranks by.
"""

from __future__ import annotations

import hashlib
from typing import Iterator

import numpy as np
import pandas as pd

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.functions import pandas_udf


# The top-k family collects/broadcasts the QUERY side (queries ≪
# corpus by contract). The contract is enforced, not assumed: the one
# query collect is bounded at limit+1 rows, so a caller passing a
# corpus-sized query set gets a clear error instead of a driver OOM.
_MAX_QUERY_ROWS = 100_000

_TOPK_SCHEMA = T.StructType(
    [
        T.StructField("query_id", T.LongType()),
        T.StructField("vec_id", T.LongType()),
        T.StructField("sim", T.DoubleType()),
    ]
)


def _query_side(
    queries: DataFrame,
    api: str,
    max_query_rows: int,
    vec_col: str,
    query_id_col: str,
) -> tuple[np.ndarray, np.ndarray]:
    """``(q_ids int64, q_mat float64)`` of the non-null query vectors,
    read by ONE collect of at most ``max_query_rows + 1`` rows. The
    bound counts the rows the caller passed; nulls drop after it."""
    rows = (
        queries.select(query_id_col, vec_col)
        .limit(max_query_rows + 1)
        .collect()
    )
    if len(rows) > max_query_rows:
        raise ValueError(
            f"{api}: query side exceeds max_query_rows="
            f"{max_query_rows:,}. The top-k family broadcasts the "
            "query set (queries << corpus by contract) — batch the "
            "queries, raise max_query_rows explicitly if the driver "
            "can hold them, or use all_pairs_above_np / "
            "all_pairs_above_blocked for corpus-scale both-sides."
        )
    rows = [r for r in rows if r[1] is not None]
    return (
        np.array([r[0] for r in rows], dtype=np.int64),
        np.array([r[1] for r in rows], dtype=np.float64),
    )


def _empty_topk(spark) -> DataFrame:
    """No usable queries: an empty result with the full output schema."""
    return spark.createDataFrame(
        [], "query_id bigint, vec_id bigint, sim double, rank int"
    )


def _rank(sim: DataFrame, k: int) -> DataFrame:
    """Top ``k`` per query in the total order (sim desc, vec_id asc)."""
    w = Window.partitionBy("query_id").orderBy(
        F.col("sim").desc(), F.col("vec_id").asc()
    )
    return sim.withColumn("rank", F.row_number().over(w)).filter(
        F.col("rank") <= k
    )


def _scored_topk(frame: DataFrame, q_ids: np.ndarray, k: int, score):
    """The map-side half of the top-k family: ``score(pdf) -> (b_ids,
    sims)`` gives one (batch × Q) matrix of 4-decimal sims per Arrow
    batch of ``frame`` (``-inf`` = not a candidate); each batch emits
    only its per-query partial top-k (≤ k·|Q| rows), self-matches
    excluded. The order is total, so batch-local top-k merges exactly
    into the global top-k in ``_rank``."""

    def partial_topk(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if pdf.empty:
                continue
            b_ids, sims = score(pdf)
            sims[b_ids[:, None] == q_ids[None, :]] = -np.inf
            take = min(k, b_ids.size)
            # order: sim desc, vec_id asc — lexsort keys last-first
            order = np.lexsort(
                (b_ids[:, None].repeat(len(q_ids), 1), -sims), axis=0
            )[:take]
            out = pd.DataFrame(
                {
                    "query_id": np.repeat(q_ids, take),
                    "vec_id": b_ids[order].T.ravel(),
                    "sim": np.take_along_axis(sims, order, axis=0).T.ravel(),
                }
            )
            yield out[np.isfinite(out["sim"])]

    return _rank(frame.mapInPandas(partial_topk, _TOPK_SCHEMA), k)


def cosine_similarity_arrow(a: Column, b: Column) -> Column:
    """Row-wise cosine as ONE vectorized numpy op per Arrow batch —
    the hot-path replacement for the interpreted ``zip_with``/
    ``aggregate`` expression cosine (which runs in Catalyst's
    expression interpreter per pair; its form survives only as the
    semantic twin in tests). Same float64 math; summation order is
    numpy's SIMD blocking, so last-ulp results can differ from the
    sequential fold — round before comparing across engines."""

    @pandas_udf(T.DoubleType())
    def cos(va: pd.Series, vb: pd.Series) -> pd.Series:
        ma = np.array(list(va), dtype=np.float64)
        mb = np.array(list(vb), dtype=np.float64)
        if ma.size == 0:
            return pd.Series([], dtype=np.float64)
        num = np.einsum("ij,ij->i", ma, mb)
        den = np.sqrt(np.einsum("ij,ij->i", ma, ma)
                      * np.einsum("ij,ij->i", mb, mb))
        return pd.Series(num / den)

    return cos(a, b)


def brute_force_topk(
    df: DataFrame,
    queries: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    max_query_rows: int = _MAX_QUERY_ROWS,
) -> DataFrame:
    """Exact top-k neighbors per query: broadcast the (small) query set
    against the corpus, window per query. Returns
    ``(query_id, vec_id, sim, rank)``.

    Scale: the query matrix is collected (small by contract) and
    broadcast; each Arrow batch of the corpus does ONE numpy matmul
    against it and emits only its per-query partial top-k — the corpus
    never shuffles and the final window ranks k·|Q|·n_batches
    candidate rows, not n·|Q|."""
    q_ids, q_mat = _query_side(
        queries, "brute_force_topk", max_query_rows, vec_col, query_id_col
    )
    if not q_ids.size:
        return _empty_topk(df.sparkSession)
    q_norm = np.sqrt((q_mat * q_mat).sum(axis=1))
    bc = df.sparkSession.sparkContext.broadcast((q_mat, q_norm))

    def score(pdf: pd.DataFrame):
        mat_q, nrm_q = bc.value
        b_mat = np.array(list(pdf["_v"]), dtype=np.float64)
        b_norm = np.sqrt((b_mat * b_mat).sum(axis=1))
        sims = (b_mat @ mat_q.T) / np.outer(b_norm, nrm_q)
        return pdf["_id"].to_numpy(dtype=np.int64), np.round(sims, 4)

    corpus = df.filter(F.col(vec_col).isNotNull()).select(
        F.col(id_col).alias("_id"), F.col(vec_col).alias("_v")
    )
    return _scored_topk(corpus, q_ids, k, score)


def hyperplane_bucket(
    vec: Column, dim: int, n_planes: int = 16, seed: int = 42
) -> Column:
    """SignRandomProjection bucket id: sign pattern of ``n_planes``
    pseudo-random hyperplanes. Plane components are deterministic ±1
    derived driver-side from blake2b("seed:plane:component") and folded
    in as constant literals — no RNG state to ship, identical across
    executors/runs. (Round 1 briefly derived planes differently;
    bucket ids are session-internal, not a persisted contract — do not
    compare bucket tables across engine versions.)"""

    def comp(p: int, i: int) -> float:
        h = hashlib.blake2b(
            f"{seed}:{p}:{i}".encode(), digest_size=2
        ).digest()
        return 1.0 if h[0] & 1 == 0 else -1.0

    # plane components are CONSTANT per (seed, plane, i) — derived
    # driver-side once; all n_planes projections happen in ONE numpy
    # matmul per Arrow batch (the previous form ran n_planes
    # interpreted zip_with/aggregate folds per row)
    planes = np.array(
        [[comp(p, i) for i in range(dim)] for p in range(n_planes)],
        dtype=np.float64,
    )
    weights = (1 << np.arange(n_planes - 1, -1, -1, dtype=np.int64))

    @pandas_udf(T.LongType())
    def bucket(vs: pd.Series) -> pd.Series:
        rows = list(vs)
        valid_idx = [i for i, v in enumerate(rows) if v is not None]
        out: list = [None] * len(rows)
        if valid_idx:
            m = np.array([rows[i] for i in valid_idx], dtype=np.float64)
            bits = (m @ planes.T) >= 0  # (batch × n_planes)
            vals = (bits.astype(np.int64) * weights[None, :]).sum(axis=1)
            for j, i in enumerate(valid_idx):
                out[i] = int(vals[j])
        return pd.Series(out, dtype=object)

    return bucket(vec)


def lsh_topk(
    df: DataFrame,
    queries: DataFrame,
    dim: int,
    k: int = 10,
    n_planes: int = 12,
    seed: int = 42,
    n_tables: int = 1,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    max_query_rows: int = _MAX_QUERY_ROWS,
) -> DataFrame:
    """Approximate top-k: corpus and queries bucketed by the same
    hyperplane signs; exact cosine only within matching buckets.

    Scale shape: corpus scanned once to attach bucket ids (pure
    projection), then a bucket-equality join replaces the all-pairs
    product — candidate count ≈ n/2^planes per query per table.
    Recall < 1.0 by construction; ``n_tables`` independent plane sets
    (distinct derived seeds) multiply the candidate sets — a vector
    missed by one table is caught by another, the standard LSH
    recall/cost dial. Candidates are deduped before ranking, so
    results with T tables are a superset-of-candidates refinement of
    T=1, and still exact-cosine-ranked."""
    q_ids, q_mat = _query_side(
        queries, "lsh_topk", max_query_rows, vec_col, query_id_col
    )

    def tabs(vec):
        return F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(t).alias("t"),
                        hyperplane_bucket(
                            vec, dim, n_planes, seed + 7919 * t
                        ).alias("b"),
                    )
                    for t in range(max(n_tables, 1))
                ]
            )
        )

    c = df.select(
        F.col(id_col).alias("vec_id"),
        F.col(vec_col).alias("vec"),
        tabs(F.col(vec_col)).alias("tb"),
    ).select(
        "vec_id", "vec",
        F.col("tb.t").alias("t"), F.col("tb.b").alias("bucket"),
    )
    q = df.sparkSession.createDataFrame(
        pd.DataFrame({"query_id": q_ids, "qvec": list(q_mat)}),
        "query_id bigint, qvec array<double>",
    )
    q = q.select("query_id", "qvec", tabs(F.col("qvec")).alias("tb")).select(
        "query_id", "qvec",
        F.col("tb.t").alias("t"), F.col("tb.b").alias("bucket"),
    )
    sim = (
        c.join(F.broadcast(q), ["t", "bucket"])
        .filter(F.col("vec_id") != F.col("query_id"))
        .select(
            "query_id",
            "vec_id",
            F.round(
                cosine_similarity_arrow(F.col("vec"), F.col("qvec")), 4
            ).alias("sim"),
        )
    )
    if n_tables > 1:
        # a pair colliding in several tables appears once per table;
        # sim is identical, so distinct dedupes exactly
        sim = sim.distinct()
    return _rank(sim, k)


def _assign_lists(
    df: DataFrame, centroids, vec_col: str, out_col: str, nprobe: int = 1
):
    """Attach the id(s) of the ``nprobe`` nearest centroids (cosine) to
    every row via one numpy matmul per Arrow batch. Returns df +
    ``out_col`` (exploded → one row per probed list)."""
    cmat = np.asarray(centroids, dtype=np.float64)
    cmat = cmat / np.maximum(np.linalg.norm(cmat, axis=1, keepdims=True), 1e-12)
    bc = df.sparkSession.sparkContext.broadcast(cmat)
    fields = df.schema.fields + [
        T.StructField(out_col, T.ArrayType(T.IntegerType()))
    ]
    out_schema = T.StructType(fields)
    cols = [f.name for f in df.schema.fields]

    def assign(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        c = bc.value
        topn = min(nprobe, c.shape[0])
        for pdf in batches:
            m = np.array(list(pdf[vec_col]), dtype=np.float64)
            if m.size == 0:
                pdf[out_col] = pd.Series([], dtype=object)
                yield pdf
                continue
            m = m / np.maximum(np.linalg.norm(m, axis=1, keepdims=True), 1e-12)
            sims = m @ c.T
            # nprobe nearest lists, nearest first (argpartition + sort)
            idx = np.argpartition(-sims, topn - 1, axis=1)[:, :topn]
            order = np.take_along_axis(sims, idx, axis=1).argsort(axis=1)[:, ::-1]
            probed = np.take_along_axis(idx, order, axis=1).astype(np.int32)
            pdf[out_col] = pd.Series(list(probed))
            yield pdf

    return df.mapInPandas(assign, out_schema)


def train_centroids(
    df: DataFrame,
    dim: int,
    n_lists: int = 16,
    iters: int = 1,
    seed: int = 42,
    id_col: str = "vec_id",
    vec_col: str = "vec",
) -> list[list[float]]:
    """Deterministic coarse k-means centroids (shared by ``ivf_topk``
    and ``semantic_dedup``): seeds are the ``n_lists`` corpus vectors
    with smallest ``xxhash64(id, seed)`` (an order-free pseudo-random
    sample), refined with ``iters`` distributed Lloyd steps — the
    per-list mean is one aggregation of n_lists × dim scalars; the
    corpus never shuffles (assignment is a matmul per Arrow batch)."""
    seeds = (
        df.orderBy(F.xxhash64(F.col(id_col), F.lit(seed)))
        .limit(n_lists)
        .select(vec_col)
        .collect()
    )
    centroids = [list(r[vec_col]) for r in seeds]

    for _ in range(max(iters, 0)):
        assigned = _assign_lists(df, centroids, vec_col, "_lists", nprobe=1)
        assigned = assigned.select(
            F.col(vec_col).alias("vec"),
            F.element_at("_lists", 1).alias("list_id"),
        )
        sums = (
            assigned.groupBy("list_id")
            .agg(
                F.count(F.lit(1)).alias("n"),
                *[
                    F.sum(F.element_at("vec", i + 1).cast("double")).alias(
                        f"s{i}"
                    )
                    for i in range(dim)
                ],
            )
            .collect()
        )
        new_c = list(centroids)  # empty lists keep their old centroid
        for r in sums:
            new_c[r["list_id"]] = [r[f"s{i}"] / r["n"] for i in range(dim)]
        centroids = new_c
    return centroids


def ivf_topk(
    df: DataFrame,
    queries: DataFrame,
    dim: int,
    k: int = 10,
    n_lists: int = 16,
    nprobe: int = 4,
    iters: int = 1,
    seed: int = 42,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    max_query_rows: int = _MAX_QUERY_ROWS,
) -> DataFrame:
    """IVF (inverted-file) approximate top-k: the corpus is coarsely
    quantized into ``n_lists`` inverted lists; each query probes its
    ``nprobe`` nearest lists and computes exact cosine only there.

    Deterministic throughout: coarse centroids start from the
    ``n_lists`` corpus vectors with smallest ``xxhash64(id, seed)``
    (an order-free pseudo-random sample) and are refined with
    ``iters`` Lloyd steps where the per-list mean is a distributed
    aggregation (``sum(element_at(vec, i))`` per dimension — dim agg
    expressions, one shuffle of n_lists × dim scalars).

    Scale shape: assignment is one numpy matmul per Arrow batch over a
    broadcast (n_lists × dim) matrix — the corpus never shuffles; the
    search join moves only rows in probed lists (≈ nprobe/n_lists of
    the corpus per query batch). Returns (query_id, vec_id, sim, rank).
    """
    q_ids, q_mat = _query_side(
        queries, "ivf_topk", max_query_rows, vec_col, query_id_col
    )
    base = df.select(
        F.col(id_col).alias("vec_id"), F.col(vec_col).alias("vec")
    )
    centroids = train_centroids(
        base, dim, n_lists=n_lists, iters=iters, seed=seed,
        id_col="vec_id", vec_col="vec",
    )

    corpus = _assign_lists(base, centroids, "vec", "_lists", nprobe=1).select(
        "vec_id", "vec", F.element_at("_lists", 1).alias("list_id")
    )
    q = df.sparkSession.createDataFrame(
        pd.DataFrame({"query_id": q_ids, "qvec": list(q_mat)}),
        "query_id bigint, qvec array<double>",
    )
    probes = _assign_lists(q, centroids, "qvec", "_lists", nprobe=nprobe).select(
        "query_id", "qvec", F.explode("_lists").alias("list_id")
    )
    sim = (
        corpus.join(F.broadcast(probes), "list_id")
        .filter(F.col("vec_id") != F.col("query_id"))
        .select(
            "query_id",
            "vec_id",
            F.round(
                cosine_similarity_arrow(F.col("vec"), F.col("qvec")), 4
            ).alias("sim"),
        )
    )
    return _rank(sim, k)


def all_pairs_above_np(
    df: DataFrame,
    threshold: float,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    max_broadcast_rows: int = 1_000_000,
    n_blocks: int = 16,
    approx_rows: int | None = None,
) -> DataFrame:
    """All-pairs cosine ≥ threshold. Two physical strategies behind one
    result contract (``(key_a, key_b, sim)``, key_a < key_b, raw
    double sim, identical output either way):

    - corpus ≤ ``max_broadcast_rows``: broadcast path — the corpus
      matrix is collected once and broadcast; each Arrow batch does
      ONE numpy matmul against it (fast constant factor, zero shuffle,
      but driver/executor memory is O(n·dim)).
    - larger corpora: ``all_pairs_above_blocked`` — block-pair
      decomposition with NO driver collect and per-task memory bounded
      by two blocks, the shape that survives a 100× scale-up.

    Strategy choice never full-scans the corpus: callers that know the
    (approximate) row count pass ``approx_rows`` (catalog metadata, a
    prior action) and no probe job runs at all; otherwise a bounded
    ``limit(max_broadcast_rows + 1)`` probe reads just enough rows to
    answer "bigger than the broadcast ceiling?" — at 100 TB that is a
    ~max_broadcast_rows-row scan, not a full count of the input.
    """
    _require_integral_id(df, id_col, "all_pairs_above_np")
    if approx_rows is not None:
        too_big = approx_rows > max_broadcast_rows
    else:
        too_big = (
            df.select(id_col).limit(max_broadcast_rows + 1).count()
            > max_broadcast_rows
        )
    if too_big:
        return all_pairs_above_blocked(
            df, threshold, id_col=id_col, vec_col=vec_col, n_blocks=n_blocks
        )
    return _all_pairs_above_broadcast(df, threshold, id_col, vec_col)


def _all_pairs_above_broadcast(
    df: DataFrame,
    threshold: float,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Broadcast small-corpus all-pairs (see ``all_pairs_above_np``)."""
    rows = (
        df.filter(F.col(vec_col).isNotNull())
        .select(id_col, vec_col).collect()
    )
    ids = np.array([r[0] for r in rows], dtype=np.int64)
    mat = np.array([r[1] for r in rows], dtype=np.float64)
    norms = np.sqrt((mat * mat).sum(axis=1))
    bc = df.sparkSession.sparkContext.broadcast((ids, mat, norms))

    out_schema = T.StructType(
        [
            T.StructField("key_a", T.LongType()),
            T.StructField("key_b", T.LongType()),
            T.StructField("sim", T.DoubleType()),
        ]
    )

    def compute(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        c_ids, c_mat, c_norms = bc.value
        for pdf in batches:
            b_ids = pdf["_id"].to_numpy(dtype=np.int64)
            b_mat = np.array(list(pdf["_v"]), dtype=np.float64)
            b_norms = np.sqrt((b_mat * b_mat).sum(axis=1))
            sims = (b_mat @ c_mat.T) / np.outer(b_norms, c_norms)
            # key_a < key_b once per pair; threshold filter
            mask = (b_ids[:, None] < c_ids[None, :]) & (sims >= threshold)
            ai, bi = np.nonzero(mask)
            yield pd.DataFrame(
                {
                    "key_a": b_ids[ai],
                    "key_b": c_ids[bi],
                    "sim": sims[ai, bi],
                }
            )

    # partition count sized to the corpus (known — it was collected for
    # the broadcast): each Arrow task has fixed worker overhead, so a
    # small corpus should not fan out to every core
    par = max(
        1,
        min(df.sparkSession.sparkContext.defaultParallelism, len(ids) // 2000),
    )
    pruned = df.filter(F.col(vec_col).isNotNull()).select(
        F.col(id_col).alias("_id"), F.col(vec_col).alias("_v")
    ).repartition(par)
    return pruned.mapInPandas(compute, out_schema)


def all_pairs_above_blocked(
    df: DataFrame,
    threshold: float,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_blocks: int = 16,
    chunk_elems: int = 64_000_000,
) -> DataFrame:
    """Scale path for all-pairs cosine ≥ threshold: NO driver collect
    anywhere (the broadcast path's ``collect()`` is a driver OOM at
    ~10M×128).

    Shape: ids hash into ``n_blocks`` blocks; each row is replicated
    to its B block-pairs (one shuffle of B× the corpus), and each of
    the B(B+1)/2 ``applyInPandas`` groups holds exactly two blocks —
    its (n_i × n_j) similarity matrix is computed as chunked numpy
    matmuls bounded by ``chunk_elems`` float64s (~512 MB), so per-task
    peak memory is two blocks of vectors plus one bounded chunk.
    Size ``n_blocks`` so a block fits a task: B ≈ n·dim·8B / 500 MB
    (e.g. 100M×128 → B≈200 → ~20k tasks). Each qualifying unordered
    pair is emitted exactly once as ``(key_a, key_b, sim)`` with
    key_a < key_b — byte-identical contract to the broadcast path.
    """
    _require_integral_id(df, id_col, "all_pairs_above_blocked")
    B = n_blocks
    tagged = df.filter(F.col(vec_col).isNotNull()).select(
        F.col(id_col).alias("_id"),
        F.col(vec_col).alias("_v"),
        F.pmod(F.xxhash64(F.col(id_col)), F.lit(B)).cast("int").alias("_blk"),
    )
    # row in block i meets block p inside group (min(i,p), max(i,p));
    # every unordered block pair {i,j} gets each of its rows exactly once
    pairs = tagged.select(
        "_id", "_v", "_blk",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.least(F.col("_blk"), F.lit(p)).alias("pi"),
                        F.greatest(F.col("_blk"), F.lit(p)).alias("pj"),
                    )
                    for p in range(B)
                ]
            )
        ).alias("_pp"),
    ).select(
        "_id", "_v", "_blk",
        F.col("_pp.pi").alias("_pi"), F.col("_pp.pj").alias("_pj"),
    )

    out_schema = T.StructType(
        [
            T.StructField("key_a", T.LongType()),
            T.StructField("key_b", T.LongType()),
            T.StructField("sim", T.DoubleType()),
        ]
    )
    empty = pd.DataFrame({"key_a": [], "key_b": [], "sim": []})

    # no type hints: pyspark warns on a partly hinted callback
    def crunch(key, pdf):
        pi, pj = int(key[0]), int(key[1])
        same = pi == pj
        a = pdf[pdf["_blk"] == pi]
        b = a if same else pdf[pdf["_blk"] == pj]
        if len(a) == 0 or len(b) == 0:
            return empty
        ids_a = a["_id"].to_numpy(dtype=np.int64)
        ids_b = b["_id"].to_numpy(dtype=np.int64)
        mat_a = np.array(list(a["_v"]), dtype=np.float64)
        mat_b = np.array(list(b["_v"]), dtype=np.float64)
        norm_a = np.sqrt((mat_a * mat_a).sum(axis=1))
        norm_b = np.sqrt((mat_b * mat_b).sum(axis=1))
        step = max(1, chunk_elems // max(len(b), 1))
        frames = []
        for s in range(0, len(a), step):
            sl = slice(s, s + step)
            sims = (mat_a[sl] @ mat_b.T) / np.outer(norm_a[sl], norm_b)
            if same:
                # each unordered pair appears twice in the square
                # matrix — keep the id_a < id_b half only
                mask = (ids_a[sl][:, None] < ids_b[None, :]) & (
                    sims >= threshold
                )
            else:
                mask = sims >= threshold
            ai, bi = np.nonzero(mask)
            if ai.size == 0:
                continue
            ka, kb = ids_a[sl][ai], ids_b[bi]
            frames.append(
                pd.DataFrame(
                    {
                        "key_a": np.minimum(ka, kb),
                        "key_b": np.maximum(ka, kb),
                        "sim": sims[ai, bi],
                    }
                )
            )
        return pd.concat(frames, ignore_index=True) if frames else empty

    return pairs.groupBy("_pi", "_pj").applyInPandas(crunch, out_schema)


def _require_integral_id(df: DataFrame, id_col: str, api: str) -> None:
    """Both all-pairs strategies are numpy-int paths (the broadcast
    matrix carries ids as int64; the blocked path's output schema is
    ``key_a/key_b bigint``). A string id would fail deep inside an
    Arrow batch with an opaque cast error — reject it at the API
    boundary with the fix spelled out instead."""
    dt = df.schema[id_col].dataType
    if not isinstance(dt, (T.ByteType, T.ShortType, T.IntegerType, T.LongType)):
        raise TypeError(
            f"{api} requires an integral id column; '{id_col}' is "
            f"{dt.simpleString()}. Derive one first, e.g. "
            f".withColumn('vid', F.xxhash64('{id_col}')) or a "
            "monotonically_increasing_id(), and join names back after."
        )


# --- product quantization (Jégou et al. 2011): the embedding-scale
# memory path ----------------------------------------------------------


def train_pq_codebooks(
    df: DataFrame,
    dim: int,
    m: int = 8,
    n_codes: int = 16,
    sample: int = 4096,
    iters: int = 5,
    seed: int = 42,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
):
    """Deterministic PQ codebooks: ``(m, n_codes, dim/m)`` numpy array.

    The vector space splits into ``m`` subspaces; each gets a
    ``n_codes``-entry euclidean k-means codebook trained LOCALLY on a
    bounded deterministic sample (the ``sample`` corpus vectors with
    smallest ``xxhash64(id, seed)`` — order-free, like
    ``train_centroids``). Training on a sample is the standard PQ
    regime (faiss does the same): the collect is bounded at
    ``sample × dim`` floats regardless of corpus size, and the
    codebooks broadcast at ``m × n_codes × dim/m`` floats. Init =
    first ``n_codes`` sample subvectors in hash order; empty clusters
    keep their previous centroid (same rule as ``train_centroids``).
    """
    if dim % m != 0:
        raise ValueError(f"dim={dim} not divisible by m={m} subspaces")
    rows = (
        df.filter(F.col(vec_col).isNotNull())
        .orderBy(F.xxhash64(F.col(id_col), F.lit(seed)))
        .limit(sample)
        .select(vec_col)
        .collect()
    )
    if len(rows) < n_codes:
        raise ValueError(
            f"sample of {len(rows)} vectors < n_codes={n_codes}"
        )
    smat = np.array([r[vec_col] for r in rows], dtype=np.float64)
    dsub = dim // m
    books = np.empty((m, n_codes, dsub), dtype=np.float64)
    for j in range(m):
        x = smat[:, j * dsub : (j + 1) * dsub]
        c = x[:n_codes].copy()
        for _ in range(max(iters, 0)):
            # argmin ||x - c||^2 = argmin ||c||^2 - 2 x·c (ties -> lowest
            # code index, deterministic)
            d = (c * c).sum(axis=1)[None, :] - 2.0 * (x @ c.T)
            a = d.argmin(axis=1)
            for code in range(n_codes):
                mask = a == code
                if mask.any():
                    c[code] = x[mask].mean(axis=0)
        books[j] = c
    return books


PQ_CODES_SCHEMA = T.StructType(
    [
        T.StructField("vec_id", T.LongType()),
        T.StructField("codes", T.ArrayType(T.IntegerType())),
    ]
)


def pq_encode(
    df: DataFrame,
    codebooks,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Encode every vector as ``m`` small code ints — the stored PQ
    index. THIS is the 100-TB win: a dim=768 float32 embedding is
    3 KB; its m=8 code row is 8 ints (compresses to 8 bytes at
    n_codes≤256), so the search scan reads ~1/400th the bytes and the
    whole index fits where the raw vectors never would. One numpy
    pass per Arrow batch against the broadcast codebooks; the corpus
    never shuffles."""
    books = np.asarray(codebooks, dtype=np.float64)
    m, _, dsub = books.shape
    bc = df.sparkSession.sparkContext.broadcast(books)

    def encode(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        bks = bc.value
        cn2 = [(bks[j] * bks[j]).sum(axis=1) for j in range(m)]
        for pdf in batches:
            ids = pdf["_id"].to_numpy(dtype=np.int64)
            mat = np.array(list(pdf["_v"]), dtype=np.float64)
            if mat.size == 0:
                continue
            codes = np.empty((len(ids), m), dtype=np.int32)
            for j in range(m):
                x = mat[:, j * dsub : (j + 1) * dsub]
                d = cn2[j][None, :] - 2.0 * (x @ bks[j].T)
                codes[:, j] = d.argmin(axis=1).astype(np.int32)
            yield pd.DataFrame({"vec_id": ids, "codes": list(codes)})

    return (
        df.filter(F.col(vec_col).isNotNull())
        .select(F.col(id_col).alias("_id"), F.col(vec_col).alias("_v"))
        .mapInPandas(encode, PQ_CODES_SCHEMA)
    )


def _pq_adc(codes_df: DataFrame, q_ids, q_mat, books, k: int) -> DataFrame:
    """ADC top-k of collected queries over a PQ code table (see
    ``pq_search``)."""
    if not q_ids.size:
        return _empty_topk(codes_df.sparkSession)
    m, n_codes, dsub = books.shape
    q_norm = np.sqrt((q_mat * q_mat).sum(axis=1))
    # LUT[q, j, code] = <q_j, c_{j,code}>, flattened to (Q, m*n_codes);
    # cn2[j, code] = ||c||^2, flattened to (m*n_codes,)
    lut = np.stack(
        [
            q_mat[:, j * dsub : (j + 1) * dsub] @ books[j].T
            for j in range(m)
        ],
        axis=1,
    ).reshape(len(q_ids), -1)
    cn2 = (books * books).sum(axis=2).reshape(-1)
    bc = codes_df.sparkSession.sparkContext.broadcast((q_norm, lut, cn2))
    off = np.arange(m, dtype=np.int64) * n_codes

    def score(pdf: pd.DataFrame):
        nrm_q, flat, c2f = bc.value
        codes = np.array(list(pdf["codes"]), dtype=np.int64) + off
        dots = flat[:, codes].sum(axis=2).T  # (batch, Q)
        b_norm = np.sqrt(np.maximum(c2f[codes].sum(axis=1), 1e-24))
        sims = np.round(dots / np.outer(b_norm, nrm_q), 4)
        return pdf["vec_id"].to_numpy(dtype=np.int64), sims

    return _scored_topk(codes_df.select("vec_id", "codes"), q_ids, k, score)


def pq_search(
    codes_df: DataFrame,
    queries: DataFrame,
    codebooks,
    k: int = 10,
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    max_query_rows: int = _MAX_QUERY_ROWS,
) -> DataFrame:
    """ADC (asymmetric distance computation) top-k over a PQ-encoded
    corpus: each query builds an ``(m × n_codes)`` inner-product
    lookup table against the broadcast codebooks, and scoring a code
    row is ``m`` table gathers — no per-candidate float vector is ever
    read. Cosine is reconstructed exactly as
    ``Σ_m LUT[m, code_m] / (‖q‖ · ‖x̂‖)`` with the reconstruction norm
    ``‖x̂‖² = Σ_m ‖c_{m,code_m}‖²`` gathered the same way.

    Same scale shape as ``brute_force_topk``: per Arrow batch of CODE
    rows one gather + partial top-k (≤ k·|Q| emitted rows per batch),
    zero corpus shuffles, final window over candidates only. In the
    degenerate regime (m=1, n_codes ≥ corpus, iters=0) reconstruction
    is exact and the result equals brute force — the hash-oracled
    contract (`ann_pq_exact`); realistic (m, n_codes) trade recall
    for the ~400× smaller scan (recall pytested)."""
    q_ids, q_mat = _query_side(
        queries, "pq_search", max_query_rows, vec_col, query_id_col
    )
    books = np.asarray(codebooks, dtype=np.float64)
    return _pq_adc(codes_df, q_ids, q_mat, books, k)


def pq_topk(
    df: DataFrame,
    queries: DataFrame,
    dim: int,
    k: int = 10,
    m: int = 8,
    n_codes: int = 16,
    sample: int = 4096,
    iters: int = 5,
    seed: int = 42,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    max_query_rows: int = _MAX_QUERY_ROWS,
) -> DataFrame:
    """Train + encode + ADC search in one call (the all-in-one used by
    the demo queries; a production pipeline trains/encodes once via
    ``train_pq_codebooks``/``pq_encode``, persists the code table —
    ideally bucketed, see ``sources/bucketed.py`` — and calls
    ``pq_search`` per query batch)."""
    # the query side is read BEFORE training, so an oversized one
    # fails fast
    q_ids, q_mat = _query_side(
        queries, "pq_topk", max_query_rows, vec_col, query_id_col
    )
    books = train_pq_codebooks(
        df, dim, m=m, n_codes=n_codes, sample=sample, iters=iters,
        seed=seed, id_col=id_col, vec_col=vec_col,
    )
    codes = pq_encode(df, books, id_col=id_col, vec_col=vec_col)
    return _pq_adc(codes, q_ids, q_mat, books, k)


def ivfpq_topk(
    df: DataFrame,
    queries: DataFrame,
    dim: int,
    k: int = 10,
    n_lists: int = 16,
    nprobe: int = 4,
    m: int = 8,
    n_codes: int = 16,
    sample: int = 4096,
    iters_kmeans: int = 1,
    iters_pq: int = 5,
    seed: int = 42,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    max_query_rows: int = _MAX_QUERY_ROWS,
) -> DataFrame:
    """IVF+PQ — the production 10^12-scale ANN architecture (what
    faiss calls IVFxx,PQyy): coarse centroids prune WHICH vectors a
    query scores, PQ codes over the RESIDUAL (x − centroid) shrink
    WHAT a score reads. The corpus persists as (vec_id, list_id,
    m codes) — bytes per vector instead of dim floats.

    Shapes: coarse centroids via ``train_centroids`` (distributed,
    deterministic); residual PQ codebooks trained LOCALLY on the
    bounded hash-order sample (assign → residual → per-subspace
    k-means, all numpy on sample×dim); corpus encoded in ONE
    mapInPandas pass (assign + residual + encode per Arrow batch,
    float residuals never materialize into Spark rows). Scoring
    gathers per-query LUTs and masks rows outside the query's
    ``nprobe`` probed lists — zero corpus shuffles here; at scale,
    persist the code table PARTITIONED/bucketed by ``list_id``
    (``sources/bucketed.py``) and probed-list pruning becomes storage
    partition pruning.

    Cosine reconstructs exactly from gathered terms: numerator =
    ⟨q,c_l⟩ + Σ_m LUT[m,code]; ‖x̂‖² = ‖c_l‖² + 2Σ_m ⟨c_l⟩_m·code
    cross-terms + Σ_m ‖pq_code‖². Degenerate regime (n_lists=1,
    nprobe=1, m=1, n_codes=corpus, iters_pq=0) reconstructs every
    vector exactly → equals brute force (the `ann_ivfpq_exact` hash
    gate); realistic settings trade recall (pytested via planted
    twins) for the pruned, ~100× smaller scan.
    """
    q_ids, q_mat = _query_side(
        queries, "ivfpq_topk", max_query_rows, vec_col, query_id_col
    )
    base = df.filter(F.col(vec_col).isNotNull()).select(
        F.col(id_col).alias("vec_id"), F.col(vec_col).alias("vec")
    )
    cents = np.asarray(
        train_centroids(
            base, dim, n_lists=n_lists, iters=iters_kmeans, seed=seed,
            id_col="vec_id", vec_col="vec",
        ),
        dtype=np.float64,
    )
    cn = cents / np.maximum(
        np.linalg.norm(cents, axis=1, keepdims=True), 1e-12
    )

    # residual PQ codebooks from the bounded deterministic sample
    srows = (
        base.orderBy(F.xxhash64(F.col("vec_id"), F.lit(seed)))
        .limit(sample)
        .select("vec")
        .collect()
    )
    if len(srows) < n_codes:
        raise ValueError(f"sample of {len(srows)} vectors < n_codes={n_codes}")
    if dim % m != 0:
        raise ValueError(f"dim={dim} not divisible by m={m} subspaces")
    smat = np.array([r["vec"] for r in srows], dtype=np.float64)
    s_assign = (
        (smat / np.maximum(
            np.linalg.norm(smat, axis=1, keepdims=True), 1e-12
        )) @ cn.T
    ).argmax(axis=1)
    sres = smat - cents[s_assign]
    dsub = dim // m
    books = np.empty((m, n_codes, dsub), dtype=np.float64)
    for j in range(m):
        x = sres[:, j * dsub : (j + 1) * dsub]
        c = x[:n_codes].copy()
        for _ in range(max(iters_pq, 0)):
            d = (c * c).sum(axis=1)[None, :] - 2.0 * (x @ c.T)
            a = d.argmin(axis=1)
            for code in range(n_codes):
                mask = a == code
                if mask.any():
                    c[code] = x[mask].mean(axis=0)
        books[j] = c

    sc = df.sparkSession.sparkContext
    bc_idx = sc.broadcast((cn, cents, books))

    idx_schema = T.StructType(
        [
            T.StructField("vec_id", T.LongType()),
            T.StructField("list_id", T.IntegerType()),
            T.StructField("codes", T.ArrayType(T.IntegerType())),
        ]
    )

    def build_index(
        batches: Iterator[pd.DataFrame],
    ) -> Iterator[pd.DataFrame]:
        cnorm, craw, bks = bc_idx.value
        bn2 = [(bks[j] * bks[j]).sum(axis=1) for j in range(m)]
        for pdf in batches:
            ids = pdf["vec_id"].to_numpy(dtype=np.int64)
            mat = np.array(list(pdf["vec"]), dtype=np.float64)
            if mat.size == 0:
                continue
            nm = mat / np.maximum(
                np.linalg.norm(mat, axis=1, keepdims=True), 1e-12
            )
            lists = (nm @ cnorm.T).argmax(axis=1)
            res = mat - craw[lists]
            codes = np.empty((len(ids), m), dtype=np.int32)
            for j in range(m):
                x = res[:, j * dsub : (j + 1) * dsub]
                d = bn2[j][None, :] - 2.0 * (x @ bks[j].T)
                codes[:, j] = d.argmin(axis=1).astype(np.int32)
            yield pd.DataFrame(
                {
                    "vec_id": ids,
                    "list_id": lists.astype(np.int32),
                    "codes": list(codes),
                }
            )

    index = base.mapInPandas(build_index, idx_schema)

    # query-side constants: probed lists + LUTs + reconstruction terms
    if not q_ids.size:
        return _empty_topk(df.sparkSession)
    q_norm = np.sqrt((q_mat * q_mat).sum(axis=1))
    qn = q_mat / np.maximum(q_norm[:, None], 1e-12)
    topn = min(nprobe, n_lists)
    qsims = qn @ cn.T
    pidx = np.argpartition(-qsims, topn - 1, axis=1)[:, :topn]
    probed = np.zeros((len(q_ids), n_lists), dtype=bool)
    np.put_along_axis(probed, pidx, True, axis=1)
    q_dot_c = q_mat @ cents.T  # (Q, n_lists)
    lut = np.stack(
        [q_mat[:, j * dsub : (j + 1) * dsub] @ books[j].T for j in range(m)],
        axis=1,
    ).reshape(len(q_ids), -1)  # (Q, m*n_codes)
    cross = np.stack(
        [cents[:, j * dsub : (j + 1) * dsub] @ books[j].T for j in range(m)],
        axis=1,
    ).reshape(n_lists, -1)  # (n_lists, m*n_codes)
    pqn2 = (books * books).sum(axis=2).reshape(-1)  # (m*n_codes,)
    c2 = (cents * cents).sum(axis=1)  # (n_lists,)
    bc_q = sc.broadcast((q_norm, probed, q_dot_c, lut, cross, pqn2, c2))
    off = np.arange(m, dtype=np.int64) * n_codes

    def score(pdf: pd.DataFrame):
        nrm_q, prb, qc, flat, crs_f, n2f, cc2 = bc_q.value
        lst = pdf["list_id"].to_numpy(dtype=np.int64)
        codes = np.array(list(pdf["codes"]), dtype=np.int64) + off
        dots = flat[:, codes].sum(axis=2).T + qc[:, lst].T  # (batch, Q)
        cross_sum = np.take_along_axis(crs_f[lst], codes, axis=1).sum(axis=1)
        b_norm = np.sqrt(
            np.maximum(
                cc2[lst] + 2.0 * cross_sum + n2f[codes].sum(axis=1), 1e-24
            )
        )
        sims = np.round(dots / np.outer(b_norm, nrm_q), 4)
        # outside the query's probed lists -> not a candidate
        sims[~prb[:, lst].T] = -np.inf
        return pdf["vec_id"].to_numpy(dtype=np.int64), sims

    return _scored_topk(index, q_ids, k, score)
