"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)`` — flagship: full constraint-validation run (row
violations + referential + uniqueness) over the pages table derived
from sf0.001 documents.

``queries()`` / ``oracle_sql()`` — one entry per implemented operator
from SURVEY.md §2 plus the training-pipeline extensions. Oracle SQL
runs on DuckDB over the same parquet views; Spark/SQL column names and
value representations are aligned (integer-exact arithmetic or
floor-scaled doubles where FP summation order could differ).
Non-SQL-expressible ops (minhash/simhash LSH, multimodal metadata)
have no oracle entry → driver records rows-only.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from py_schemax_spark.operators.dedup import (
    exact_duplicates,
    minhash_lsh_candidates,
    ngram_jaccard_pairs,
)
from py_schemax_spark.operators.drift import build_baseline, drift_verdicts
from py_schemax_spark.operators.referential import referential_violations
from py_schemax_spark.operators.similarity import (
    brute_force_topk,
    lsh_topk,
)
from py_schemax_spark.operators.stats import column_stats
from py_schemax_spark.operators.textstats import (
    bpe_token_estimate,
    fingerprint,
    lang_id,
    token_count,
    tokens,
)
from py_schemax_spark.operators.uniqueness import uniqueness_violations
from py_schemax_spark.operators.violations import row_violations
from py_schemax_spark.operators.multimodal import image_metadata
from py_schemax_spark.sources.pages_view import (
    EXTRACT_SQL,
    PAGES_SQL_CTE,
    pages_from_documents,
)
from py_schemax_spark.specs.loader import validate_spec_dict

# ---------------------------------------------------------------------------
# specs over the driver tables

DOCS_SPEC = validate_spec_dict(
    {
        "fqn": "testdata.documents",
        "key": "doc_id",
        "columns": [
            {"name": "doc_id", "type": "integer", "nullable": False,
             "unique": True},
            {"name": "text", "type": "string", "nullable": False,
             "min_length": 100},
            {"name": "lang", "type": "string", "nullable": False,
             "pattern": "^[a-z]{2}$",
             "references": {"table": "lang_dim", "column": "lang"}},
            {"name": "source", "type": "string"},
            {"name": "n_chars", "type": "integer", "maximum": 500},
        ],
    }
).spec

PAGES_SPEC = validate_spec_dict(
    {
        "fqn": "warehouse.pages",
        "key": "url",
        "extraction": {"source": "html", "target": "text"},
        "columns": [
            {"name": "url", "type": "string", "nullable": False,
             "unique": True, "pattern": "^https?://"},
            {"name": "warc_ts", "type": "datetime", "nullable": False},
            {"name": "html", "type": "binary"},
            {"name": "text", "type": "string", "min_length": 100,
             "nullable": False,
             "drift": {"on": "length", "psi_threshold": 0.2,
                        "ks_threshold": 0.1}},
            {"name": "lang", "type": "string",
             "references": {"table": "lang_dim", "column": "lang"}},
        ],
    }
).spec

# referential dimension: deliberately missing 'zh' so violations exist
_LANG_DIM_ROWS = [("en",), ("de",), ("fr",), ("es",)]
_LANG_DIM_SQL = "(VALUES ('en'), ('de'), ('fr'), ('es')) AS lang_dim(lang)"


def _docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/documents.parquet")


def _lang_dim(spark: SparkSession) -> DataFrame:
    return spark.createDataFrame(_LANG_DIM_ROWS, ["lang"])


def _dup_injected(spark: SparkSession, sf_dir: str) -> DataFrame:
    """documents ∪ a copy of every doc_id % 50 == 0 row — deterministic
    duplicate corpus for uniqueness/dedup checks (the driver data has
    no duplicates of its own). row_id = doc_id-copy."""
    d = _docs(spark, sf_dir)
    d1 = d.withColumn("copy", F.lit(1))
    d2 = d.filter(F.col("doc_id") % 50 == 0).withColumn("copy", F.lit(2))
    u = d1.unionByName(d2)
    return u.withColumn(
        "row_id",
        F.concat(F.col("doc_id").cast("string"), F.lit("-"),
                 F.col("copy").cast("string")),
    )


_DUP_SQL_CTE = """
dupdocs AS (
  SELECT *, 1 AS copy, CAST(doc_id AS VARCHAR) || '-1' AS row_id
  FROM documents
  UNION ALL
  SELECT *, 2 AS copy, CAST(doc_id AS VARCHAR) || '-2' AS row_id
  FROM documents WHERE doc_id % 50 = 0
)
"""

_NORM_SQL = "trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))"


# ---------------------------------------------------------------------------
# entry


def entry(spark: SparkSession) -> DataFrame:
    """Flagship: full validation verdict over the derived pages table
    at sf0.001 — row constraints + referential (broadcast anti-join) +
    uniqueness, merged into the violation contract."""
    sf_dir = "/root/testdata/sf0.001"
    pages = pages_from_documents(spark, sf_dir)
    dims = {"lang_dim": _lang_dim(spark)}
    rv = row_violations(pages, PAGES_SPEC)
    uv = uniqueness_violations(pages, PAGES_SPEC, order_col="warc_ts")
    fv = referential_violations(pages, PAGES_SPEC, dims)
    return rv.unionByName(uv).unionByName(fv)


# ---------------------------------------------------------------------------
# queries (spark, sf_dir) -> DataFrame


def q_stats(spark, sf_dir):
    """V1: one-pass per-column stats (exact distinct for oracle parity;
    production path uses HLL++/salted variants — see operators/stats)."""
    return column_stats(_docs(spark, sf_dir), DOCS_SPEC, exact_distinct=True)


def q_stats_salted_exact(spark, sf_dir):
    """The salted two-phase production stats path, ORACLED on its
    exact metrics: every metric except the HLL `distinct` estimate
    must match the single-pass oracle bit-for-bit (the salt shuffle
    changes the plan, not the arithmetic — counts/min/max/sums are
    integer-or-order-free)."""
    return column_stats(_docs(spark, sf_dir), DOCS_SPEC, salt=8).filter(
        F.col("metric") != "distinct"
    )


def q_row_violations(spark, sf_dir):
    """V1/V8/V9: row-level constraint violations over documents."""
    return row_violations(_docs(spark, sf_dir), DOCS_SPEC)


def q_referential(spark, sf_dir):
    """V4: broadcast anti-join referential check (lang ∉ dim)."""
    return referential_violations(
        _docs(spark, sf_dir), DOCS_SPEC, {"lang_dim": _lang_dim(spark)}
    )


def q_referential_large_dim(spark, sf_dir):
    """V4 at non-broadcastable dimension scale (round 3): same check,
    same violation rows, but the strategy a 10⁹-row URL-allowlist dim
    forces — the fact's DISTINCT values anti-join the dim's key column
    and the (tiny) invalid set broadcasts back as a left-semi tag, so
    full fact rows never enter an exchange. ``max_broadcast_rows=0``
    forces the path; ORACLED on the same SQL as `referential` (the two
    strategies are result-identical by contract)."""
    return referential_violations(
        _docs(spark, sf_dir), DOCS_SPEC, {"lang_dim": _lang_dim(spark)},
        max_broadcast_rows=0,
    )


def q_uniqueness(spark, sf_dir):
    """V3: duplicate attribution — later copy (by order col) flagged."""
    dup = _dup_injected(spark, sf_dir)
    spec = validate_spec_dict(
        {
            "fqn": "t", "key": "row_id",
            "columns": [
                {"name": "row_id", "type": "string"},
                {"name": "doc_id", "type": "integer", "unique": True},
                {"name": "copy", "type": "integer"},
            ],
        }
    ).spec
    return uniqueness_violations(dup, spec, order_col="copy")


def q_extraction(spark, sf_dir):
    """Byte-identical extraction invariant over derived pages: the
    JVM template inverse must reproduce the stored text for every url."""
    from py_schemax_spark.functions.extraction import extract_text_expr

    pages = pages_from_documents(spark, sf_dir)
    return pages.select(
        "url",
        extract_text_expr(F.col("html")).eqNullSafe(F.col("text")).alias("ok"),
    ).orderBy("url")


def q_pages_violations(spark, sf_dir):
    """Pages-spec row violations on the derived pages table."""
    return row_violations(
        pages_from_documents(spark, sf_dir), PAGES_SPEC
    )


def q_exact_dedup(spark, sf_dir):
    """Exact content dedup: duplicate groups with deterministic keeper."""
    return exact_duplicates(
        _dup_injected(spark, sf_dir), text_col="text", key_col="row_id"
    )


def q_passage_dedup(spark, sf_dir):
    """Passage-level exact dedup (the training-data flavor of substring
    dedup): non-overlapping 20-token windows hashed and grouped; a
    passage appearing in >1 distinct document is duplicated content.
    Runs on the dup-injected corpus so duplicates deterministically
    exist. Scale shape: explode multiplies rows by ~n_tokens/20, the
    groupBy shuffles (md5, row_id) pairs with map-side combine."""
    W = 20
    d = _dup_injected(spark, sf_dir).filter(F.col("text").isNotNull())
    # token array + window index are materialized as real columns so
    # the transform lambda only references attributes (SURVEY §7 rule);
    # the optimized plan then carries ONE split() instead of three
    # inlined copies. Measured flat-or-better vs the inlined form at
    # 2000 docs × 8000 tokens (0.058 → 0.052 s) on Spark 4.1.
    d = (
        d.withColumn("_toks", F.split(F.trim(F.col("text")), r"\s+"))
        .withColumn("_npass", F.floor(F.size("_toks") / W).cast("int"))
        .withColumn(
            "_idx",
            F.when(
                F.col("_npass") > 0,
                F.sequence(F.lit(0), F.col("_npass") - 1),
            ).otherwise(F.array().cast("array<int>")),
        )
    )
    passages = F.transform(
        F.col("_idx"),
        lambda i: F.concat_ws(" ", F.slice(F.col("_toks"), i * W + 1, W)),
    )
    ex = d.select("row_id", F.explode(passages).alias("passage"))
    return (
        ex.groupBy(F.md5("passage").alias("passage_md5"))
        .agg(
            F.count_distinct("row_id").alias("n_docs"),
            F.count(F.lit(1)).alias("n_occurrences"),
            F.min("row_id").alias("keeper"),
        )
        .filter(F.col("n_docs") > 1)
    )


def q_dedup_keep_first(spark, sf_dir):
    """Survivor set of exact content dedup (min-key copy wins): the
    complement view of exact_dedup, returning the kept row ids."""
    from py_schemax_spark.operators.dedup import exact_dedup_keep_first

    dup = _dup_injected(spark, sf_dir).filter(F.col("text").isNotNull())
    return exact_dedup_keep_first(dup, text_col="text", key_col="row_id") \
        .select("row_id")


def q_quality_topk_per_lang(spark, sf_dir):
    """Training-data curation: keep the top-5 documents per language by
    an integer-exact quality metric (stopword density in basis points,
    ties broken by doc_id) — the per-group window selection every
    corpus-filtering pipeline runs."""
    from pyspark.sql import Window

    from py_schemax_spark.operators.textstats import stopword_hits

    d = _docs(spark, sf_dir).filter(
        F.col("text").isNotNull() & F.col("lang").isNotNull()
    )
    lc = F.lower(F.col("text"))
    hits = stopword_hits(lc, ["the", "a", "and", "of", "to"])
    n = token_count(lc)
    scored = d.select(
        "lang", "doc_id",
        F.floor(hits * 10000 / n).cast("long").alias("quality_bp"),
    )
    w = Window.partitionBy("lang").orderBy(
        F.col("quality_bp").desc(), F.col("doc_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= 5)
    )


def q_quantiles(spark, sf_dir):
    """Exact interpolated quantiles of n_chars (the column the drift
    class compares against its baseline grid): the EXACT companion
    the grid's ``percentile_approx`` estimates are judged against.
    Both engines use the same linear-interpolation definition (Spark
    `percentile` == DuckDB `quantile_cont`); values floor-scaled to
    1e-4 so a last-ulp interpolation difference cannot flip the hash."""
    d = _docs(spark, sf_dir)
    probs = [0.25, 0.5, 0.75, 0.95]
    aggs = [
        F.floor(F.percentile("n_chars", F.lit(p)) * 10000)
        .cast("long").alias(f"p{int(p * 100)}")
        for p in probs
    ]
    return d.agg(*aggs)


def q_drift_buckets(spark, sf_dir):
    """Exact drift histogram (fixed-width buckets of n_chars) — the
    SQL-checkable companion of the grid-count PSI/KS path (pytested
    in test_drift.py, with a DuckDB twin of its counts; the baseline
    grid is accuracy-gated by drift_grid_accuracy)."""
    return (
        _docs(spark, sf_dir)
        .groupBy(F.floor(F.col("n_chars") / 50).cast("long").alias("bucket"))
        .agg(F.count(F.lit(1)).alias("cnt"))
    )


def q_drift_grid_accuracy(spark, sf_dir):
    """Accuracy oracle for the baseline grid (the drift analogue of
    minhash_containment / ann_lsh_containment): every point of the
    ``percentile_approx`` quantile grid must bracket its target rank
    within TOL in RANK space — the guarantee a quantile sketch makes,
    stated tie-robustly for discrete data (doc lengths repeat):

        P(X < v_q) <= q + TOL   and   P(X <= v_q) >= q - TOL

    One wide aggregation computes both exact CDF sides for all 101
    grid points in a single corpus pass (the grid itself is a KB-sized
    driver value, like the IVF centroid set). Returns the grid points
    violating either bound; the oracle is the empty set — any row is
    a real grid-accuracy bug."""
    TOL = 0.05
    docs = _docs(spark, sf_dir).filter(F.col("text").isNotNull())
    base = build_baseline(docs, PAGES_SPEC)
    grid = base.filter(F.col("column_name") == "text").first()["quantiles"]
    lengths = docs.select(F.length("text").cast("double").alias("v"))
    aggs = [F.count("v").alias("n")]
    for i, v in enumerate(grid):
        aggs.append(
            F.sum((F.col("v") < F.lit(v)).cast("long")).alias(f"lt_{i}")
        )
        aggs.append(
            F.sum((F.col("v") <= F.lit(v)).cast("long")).alias(f"le_{i}")
        )
    row = lengths.agg(*aggs).first()
    n = row["n"]
    bad = []
    for i, v in enumerate(grid):
        q = i / (len(grid) - 1)
        rank_lt = row[f"lt_{i}"] / n
        rank_le = row[f"le_{i}"] / n
        if rank_lt > q + TOL or rank_le < q - TOL:
            bad.append((round(q, 2), float(v), round(rank_lt, 6),
                        round(rank_le, 6)))
    return spark.createDataFrame(
        bad, "q double, value double, rank_lt double, rank_le double"
    )


def q_datetime_conformance(spark, sf_dir):
    """Datetime format/timezone enforcement on string physical columns
    (round-2: reference models.py:92-103 declares format/timezone;
    this engine checks the DATA): a derived string-ts table with
    deterministic corruption classes — wrong-but-parseable format
    (`.format`), garbage (`.type`), wrong UTC-offset suffix
    (`.timezone`)."""
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    ts_str = (
        F.when(F.col("event_id") % 101 == 0, F.lit("not-a-date"))
        .when(
            F.col("event_id") % 97 == 0,
            F.date_format("ts", "yyyy-MM-dd'T'HH:mm:ss"),
        )
        .otherwise(F.date_format("ts", "yyyy-MM-dd HH:mm:ss"))
    )
    ts_tz = F.concat(
        F.date_format("ts", "yyyy-MM-dd HH:mm:ss"),
        F.when(F.col("event_id") % 89 == 0, F.lit("+02:00")).otherwise(
            F.lit("Z")
        ),
    )
    derived = ev.select(
        "event_id", ts_str.alias("ts_str"), ts_tz.alias("ts_tz")
    )
    spec = validate_spec_dict(
        {
            "fqn": "t", "key": "event_id",
            "columns": [
                {"name": "event_id", "type": "integer"},
                {"name": "ts_str", "type": "datetime",
                 "format": "%Y-%m-%d %H:%M:%S"},
                {"name": "ts_tz", "type": "datetime", "timezone": "UTC"},
            ],
        }
    ).spec
    return row_violations(derived, spec)


def q_pricing_summary(spark, sf_dir):
    """TPC-H Q1-shaped aggregation (integer-exact cents arithmetic so
    the oracle matches bit-for-bit regardless of summation order)."""
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    price_cents = F.round(F.col("l_extendedprice") * 100).cast("long")
    disc_bp = F.round(F.col("l_discount") * 100).cast("long")
    return (
        li.filter(F.col("l_shipdate") <= F.lit("1998-09-02"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.sum("l_quantity").cast("long").alias("sum_qty"),
            F.sum(price_cents).alias("sum_price_cents"),
            F.sum(price_cents * (100 - disc_bp)).alias("revenue_cents_bp"),
            F.count(F.lit(1)).alias("n_rows"),
        )
        .orderBy("l_returnflag", "l_linestatus")
    )


def q_token_counts(spark, sf_dir):
    """Text analysis: whitespace token count + BPE-ish estimate."""
    d = _docs(spark, sf_dir)
    return d.select(
        "doc_id",
        token_count(F.col("text")).alias("n_tokens"),
        F.length("text").alias("n_chars_actual"),
        bpe_token_estimate(F.col("text")).cast("long").alias("n_bpe_est"),
    )


def q_fingerprint(spark, sf_dir):
    """Document fingerprint (md5 of normalized text)."""
    return _docs(spark, sf_dir).select(
        "doc_id", fingerprint(F.col("text")).alias("fp")
    )


def q_lang_id(spark, sf_dir):
    """Marker-word language-ID heuristic — oracled: the DuckDB twin
    reproduces the same argmax-with-lexicographic-tie-break over the
    same marker lists (generated from one shared dict)."""
    d = _docs(spark, sf_dir)
    return d.select("doc_id", "lang", lang_id(F.col("text")).alias("lang_pred"))


def q_ann_pairs_blocked(spark, sf_dir):
    """Embedding near-dup via the SCALE path (block-pair decomposition,
    no driver collect) — same oracle as ann_pairs: the two physical
    strategies must produce byte-identical results."""
    from py_schemax_spark.operators.similarity import all_pairs_above_blocked

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    return all_pairs_above_blocked(emb, threshold=0.25, n_blocks=4).select(
        "key_a", "key_b",
        F.floor(F.col("sim") * 100).cast("long").alias("sim_c"),
    )


def q_ann_topk(spark, sf_dir):
    """Brute-force cosine top-k vs a query set — oracled: both engines
    rank by the 4-decimal-rounded similarity with a vec_id tie-break,
    so rank order is deterministic and identical (verified empirically
    at sf0.001/sf0.01 on the deterministic driver data)."""
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    queries = emb.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    return brute_force_topk(emb, queries, k=10)


def q_ann_pq_exact(spark, sf_dir):
    """PQ in its EXACT regime (m=1, n_codes = corpus size, iters=0 →
    the codebook IS the corpus, every vector reconstructs exactly, and
    ADC equals brute-force cosine by construction) — ORACLED on
    ann_topk's SQL. This pins the entire PQ machinery (deterministic
    sampling/init, euclidean encode with lowest-code tie-break, LUT
    gather, reconstruction-norm division, final window) to a
    DuckDB-checked exact answer; realistic (m, n_codes) runs then
    differ only by quantization error."""
    from py_schemax_spark.operators.similarity import pq_topk

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet").filter(
        F.col("embedding").isNotNull()
    )
    queries = emb.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    n = emb.count()
    return pq_topk(emb, queries, dim=64, k=10, m=1, n_codes=n,
                   sample=n, iters=0)


def q_ann_ivfpq_exact(spark, sf_dir):
    """IVF+PQ in its EXACT regime (one list probed of one, residual
    codebook = every corpus residual → reconstruction exact, ADC
    equals brute-force cosine) — ORACLED on ann_topk's SQL. Pins the
    full pipeline: coarse assign, residual computation, residual
    encode, LUT + cross-term + reconstruction-norm algebra, probed-
    list masking, final window."""
    from py_schemax_spark.operators.similarity import ivfpq_topk

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet").filter(
        F.col("embedding").isNotNull()
    )
    queries = emb.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    n = emb.count()
    return ivfpq_topk(emb, queries, dim=64, k=10, n_lists=1, nprobe=1,
                      m=1, n_codes=n, sample=n, iters_kmeans=0,
                      iters_pq=0)


def q_ann_ivf_exact(spark, sf_dir):
    """IVF in its EXACT regime (nprobe = n_lists → every list probed →
    identical to brute force by construction) — ORACLED on ann_topk's
    SQL: same 4-decimal-rounded cosine ranking with vec_id tie-break.
    This pins the whole IVF machinery (deterministic centroid seeding,
    Lloyd assignment, per-list search, final window) to a DuckDB-checked
    exact answer; approximate nprobe<n_lists runs then differ only by
    which lists are probed."""
    from py_schemax_spark.operators.similarity import ivf_topk

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    queries = emb.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    return ivf_topk(emb, queries, dim=64, k=10, n_lists=16, nprobe=16)


def q_ann_lsh_containment(spark, sf_dir):
    """Containment oracle for LSH top-k (the ann analogue of
    minhash_containment): planted EXACT-duplicate embeddings share
    every hyperplane sign, so each twin lands in its query's bucket in
    every table and, at cosine 1.0, cannot be ranked out of the top-k.
    Returns the (query_id, expected twin) rows MISSING from the LSH
    result; the oracle is the empty set — any row is a real LSH bug."""
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet").select(
        "vec_id", "embedding"
    )
    base = emb.filter(
        (F.col("vec_id") % 50 == 0) & F.col("embedding").isNotNull()
    )
    twins = base.select(
        (F.col("vec_id") + 1_000_000).alias("vec_id"), "embedding"
    )
    corpus = emb.unionByName(twins)
    queries = twins.select(F.col("vec_id").alias("query_id"), "embedding")
    cand = lsh_topk(
        corpus, queries, dim=64, k=5, n_planes=8, n_tables=2
    ).select("query_id", "vec_id")
    expected = queries.select(
        "query_id", (F.col("query_id") - 1_000_000).alias("vec_id")
    )
    return expected.join(cand, ["query_id", "vec_id"], "left_anti")


def q_ngram_jaccard(spark, sf_dir):
    """Exact n-gram Jaccard on a SQL-expressible candidate set (pairs
    within a deterministic doc_id//10 bucket of the dup-injected
    corpus) — ORACLED: DuckDB recomputes the BYTE-level 5-gram shingle
    sets via hex(encode(text)) 10-grams (2 hex chars per byte, '0'-padded
    to one window for short texts — exactly the engine's zero-padding);
    the engine's polynomial shingle codes are injective for n<=8, so set
    sizes (n_inter, n_union) and the floor-scaled jaccard_bp match
    integer-exactly on ANY corpus, multibyte included."""
    dup = _dup_injected(spark, sf_dir).filter(F.col("text").isNotNull())
    bkt = F.floor(F.col("doc_id") / 10).alias("bkt")
    a = dup.select(F.col("row_id").alias("key_a"), bkt)
    b = dup.select(F.col("row_id").alias("key_b"), bkt)
    cand = (
        a.join(b, "bkt")
        .filter(F.col("key_a") < F.col("key_b"))
        .select("key_a", "key_b")
    )
    return ngram_jaccard_pairs(
        dup, cand, text_col="text", key_col="row_id", threshold=0.2
    ).select(
        "key_a", "key_b", "n_inter", "n_union",
        F.floor(F.col("n_inter") * 10000 / F.col("n_union"))
        .cast("long").alias("jaccard_bp"),
    )


def q_minhash_containment(spark, sf_dir):
    """Containment oracle for MinHash LSH: identical-content pairs
    have identical signatures, hence agree on every band — so every
    exact-duplicate pair MUST appear in the candidate set. Returns the
    exact-dup pairs MISSING from the candidates; the oracle is the
    empty set (any row = a real LSH bug)."""
    dup = _dup_injected(spark, sf_dir).filter(F.col("text").isNotNull())
    cand = minhash_lsh_candidates(
        dup, text_col="text", key_col="row_id", num_hashes=64, bands=4
    ).select("key_a", "key_b")
    fp = dup.select(
        F.md5(F.trim(F.regexp_replace(F.lower("text"), r"\s+", " ")))
        .alias("fp"),
        F.col("row_id"),
    )
    exact_pairs = (
        fp.alias("a")
        .join(fp.alias("b"), "fp")
        .filter(F.col("a.row_id") < F.col("b.row_id"))
        .select(
            F.col("a.row_id").alias("key_a"),
            F.col("b.row_id").alias("key_b"),
        )
    )
    return exact_pairs.join(cand, ["key_a", "key_b"], "left_anti")


def q_simhash(spark, sf_dir):
    """SimHash fingerprints (rows-only; near-dup detection asserted in
    pytest via simhash_near_duplicates). Uses the packed-long
    fingerprint — hex output is byte-identical to the array path
    (asserted in test_dedup_similarity)."""
    from py_schemax_spark.operators.dedup import (
        simhash_fingerprints,
        simhash_hex_packed,
    )

    d = _docs(spark, sf_dir)
    return simhash_fingerprints(d, packed=True).select(
        F.col("k").alias("doc_id"),
        simhash_hex_packed(F.col("fpl")).alias("simhash"),
    )


def q_tz_conformance(spark, sf_dir):
    """Typed-column timezone assertion (round 3, closing the former
    warning no-op): for a physical TIMESTAMP column, the declared
    `timezone` is checked against the SESSION zone the instants were
    parsed in. Runs schema_conformance twice over the derived pages
    table — a conforming 'UTC' spec (session is UTC) and a mismatched
    'America/New_York' spec — and returns the structural error rows;
    the oracle is the single expected mismatch row."""
    from py_schemax_spark.plans.compiler import schema_conformance

    pages = pages_from_documents(spark, sf_dir)

    def spec_with_tz(tz):
        return validate_spec_dict(
            {
                "fqn": "warehouse.pages", "key": "url",
                "columns": [
                    {"name": "url", "type": "string"},
                    {"name": "warc_ts", "type": "datetime",
                     "timezone": tz},
                    {"name": "html", "type": "binary"},
                    {"name": "text", "type": "string"},
                    {"name": "lang", "type": "string"},
                ],
            }
        ).spec

    errs = schema_conformance(pages, spec_with_tz("UTC"))
    errs += schema_conformance(pages, spec_with_tz("America/New_York"))
    return spark.createDataFrame(
        [(e["type"], e["error_at"], e["message"]) for e in errs],
        "err_type string, error_at string, message string",
    )


def q_image_meta_ppm(spark, sf_dir):
    """REAL image decode end-to-end, ORACLED: renders a deterministic
    P6 PPM per document (width = 1 + doc_id%13, height = 1 + doc_id%7,
    constant pixel value doc_id%256), decodes it with the pure-numpy
    netpbm/BMP decoder inside mapInPandas, and emits typed metadata.
    Every output column is a closed-form function of doc_id, so DuckDB
    recomputes all of it: n_bytes = 9-byte fixed header + digit widths
    + w*h*3 payload; mean_intensity of a constant image is the value."""
    from py_schemax_spark.operators.multimodal import (
        decode_image_real,
        render_ppm_udf,
    )

    pages = _docs(spark, sf_dir).select("doc_id").withColumn(
        "payload", render_ppm_udf()(F.col("doc_id"))
    )
    meta = image_metadata(
        pages, key_col="doc_id", payload_col="payload",
        decoder=decode_image_real,
    )
    return meta.select(
        F.col("key").cast("long").alias("doc_id"),
        "width", "height", "channels", "n_bytes",
        F.round("mean_intensity", 4).alias("mean_intensity"),
    )


def q_audio_meta(spark, sf_dir):
    """REAL audio decode end-to-end, ORACLED: renders a deterministic
    mono 16-bit PCM WAV per document (rate = 8000·(1+doc_id%3),
    frames = 16+doc_id%32, sample k = ((3·doc_id+7k) mod 256)−128,
    doc_id%5==0 payloads carry an odd-sized junk LIST chunk so RIFF
    chunk walking + even-byte padding are exercised on real data),
    decodes with the pure-numpy RIFF parser inside mapInPandas, and
    emits INTEGER-exact metadata. DuckDB re-derives the per-sample
    statistics independently via generate_series — a decoder or
    arithmetic bug anywhere breaks the hash."""
    from py_schemax_spark.operators.multimodal import (
        audio_metadata,
        render_wav_udf,
    )

    pages = _docs(spark, sf_dir).select("doc_id").withColumn(
        "payload", render_wav_udf()(F.col("doc_id"))
    )
    meta = audio_metadata(pages, key_col="doc_id", payload_col="payload")
    return meta.select(
        F.col("key").cast("long").alias("doc_id"),
        "channels", "sample_rate", "bits", "n_frames", "duration_ms",
        "peak_abs", "mean_abs_x100",
    )


def q_frame_sample(spark, sf_dir):
    """REAL video frame sampling (round 5 — closes the last plan-only
    modality): deterministic uncompressed RIFF/AVI payloads rendered
    per doc_id, decoded by the pure-numpy container walk, every 2nd
    frame's integer-exact pixel statistics emitted. Every output
    column is a closed-form function of doc_id, so the oracle
    recomputes the per-frame pixel sums independently with
    generate_series — a bug anywhere in the chunk walk, DIB
    row-flip/BGR swap, stride unpadding, or sampling stride breaks
    the hash."""
    from py_schemax_spark.operators.multimodal import (
        render_avi_udf,
        sample_frames,
    )

    d = _docs(spark, sf_dir)
    vids = d.select(
        F.col("doc_id").cast("string").alias("url"),
        render_avi_udf()(F.col("doc_id")).alias("html"),
    )
    return sample_frames(vids, every_n=2)


def q_repetition_profile(spark, sf_dir):
    """Gopher-style within-doc repetition signals (duplicated-token
    basis points, top-token frequency + deterministic tie-broken top
    token), ORACLED integer-exactly: DuckDB recomputes the same
    explode → two-level aggregation."""
    from py_schemax_spark.operators.textstats import repetition_profile

    d = _docs(spark, sf_dir).filter(
        F.col("text").isNotNull() & (F.trim("text") != "")
    )
    return repetition_profile(d, text_col="text", key_col="doc_id")


def q_pii_scan(spark, sf_dir):
    """PII detection + redaction, ORACLED byte-exactly: the corpus
    text contains no PII, so the query PLANTS deterministic emails /
    IPv4s / phones (pure functions of doc_id, identical expression in
    the DuckDB oracle) and both engines must agree on per-class match
    counts AND the md5 of the fully redacted text. The patterns avoid
    lookaround so Java regex (Spark) and RE2 (DuckDB) have identical
    semantics."""
    from py_schemax_spark.operators.pii import pii_scan

    d = _docs(spark, sf_dir)
    planted = d.select(
        "doc_id",
        F.concat(
            F.col("text"),
            F.when(
                F.col("doc_id") % 7 == 0,
                F.concat(
                    F.lit(" contact user"),
                    F.col("doc_id").cast("string"),
                    F.lit("@example.com"),
                ),
            ).otherwise(F.lit("")),
            F.when(
                F.col("doc_id") % 11 == 0,
                F.concat(
                    F.lit(" from 10.0."),
                    (F.col("doc_id") % 256).cast("string"),
                    F.lit(".5"),
                ),
            ).otherwise(F.lit("")),
            F.when(
                F.col("doc_id") % 13 == 0,
                F.concat(
                    F.lit(" call +1 555 01"),
                    F.lpad((F.col("doc_id") % 100).cast("string"), 2, "0"),
                    F.lit(" 0199"),
                ),
            ).otherwise(F.lit("")),
        ).alias("text"),
    )
    return pii_scan(planted, text_col="text", key_col="doc_id")


def q_dedup_clusters(spark, sf_dir):
    """Duplicate-CLUSTER formation — the stage after pairwise verify:
    connected components (hash-min label propagation, no driver-side
    graph) over the exact n-gram-Jaccard pairs of `ngram_jaccard`,
    then per-doc cluster assignment with min-key survivor selection.
    ORACLED end-to-end: DuckDB recomputes the pairs AND the transitive
    closure via a recursive CTE — transitivity is genuinely exercised
    (a~b, b~c chains collapse without a direct a~c pair)."""
    from py_schemax_spark.operators.dedup import dedup_clusters

    dup = _dup_injected(spark, sf_dir).filter(F.col("text").isNotNull())
    bkt = F.floor(F.col("doc_id") / 10).alias("bkt")
    a = dup.select(F.col("row_id").alias("key_a"), bkt)
    b = dup.select(F.col("row_id").alias("key_b"), bkt)
    cand = (
        a.join(b, "bkt")
        .filter(F.col("key_a") < F.col("key_b"))
        .select("key_a", "key_b")
    )
    pairs = ngram_jaccard_pairs(
        dup, cand, text_col="text", key_col="row_id", threshold=0.2
    ).select("key_a", "key_b")
    return dedup_clusters(dup, pairs, key_col="row_id")


def q_chunk_documents(spark, sf_dir):
    """Token-window chunking (training-sample prep): 16-token windows
    with 4-token overlap over every document — full coverage, short
    final chunk, whitespace-normalized chunk text. A pure
    projection+generate plan (zero shuffles; plan-asserted in pytest).
    The oracle rebuilds the identical windows with DuckDB list
    functions over the same explicit-ASCII-whitespace tokens."""
    from py_schemax_spark.operators.chunking import chunk_documents

    d = _docs(spark, sf_dir)
    return chunk_documents(
        d, text_col="text", key_col="doc_id",
        chunk_tokens=16, overlap_tokens=4,
    )


def q_pack_chunks(spark, sf_dir):
    """Concat-then-chunk sequence packing plan: global token offsets
    (exclusive prefix sum in doc_id order) and the 256-token training
    window each document starts in. The prefix sum runs the scalable
    way — range exchange + partition-local window + a per-partition
    offset broadcast (never one global window sort); the result is
    partitioning-invariant, so the DuckDB single-window oracle
    reproduces it exactly."""
    from py_schemax_spark.operators.chunking import pack_chunks

    d = _docs(spark, sf_dir)
    return pack_chunks(
        d, text_col="text", key_col="doc_id", budget_tokens=256
    )


def q_keywords(spark, sf_dir):
    """Per-document keyword extraction — distributed tf-idf with NO
    vocabulary cutoff (rare terms are the informative ones, so the
    unigram operator's bounded-broadcast trick doesn't apply): tf agg,
    df agg over the tf table, term join, per-doc top-5 window. The
    ranking key is integer-exact (tf * (N div df), df, term) so rank
    boundaries can't move by a ULP between engines; the textbook
    ln-based tfidf rides along rounded to 4 decimals."""
    from py_schemax_spark.operators.keywords import tfidf_topk_terms

    d = _docs(spark, sf_dir)
    return tfidf_topk_terms(d, text_col="text", key_col="doc_id", k=5)


def q_html_meta(spark, sf_dir):
    """Crawl-index metadata extraction (title / meta description /
    canonical / html lang) from planted markup: attribute ORDER varies
    by doc_id (name-then-content vs content-then-name, rel-then-href
    vs href-then-rel) so both coalesced patterns are exercised; some
    docs omit each field (NULL, not ''). Oracle recomputes every field
    in closed form from the planting formulas."""
    from py_schemax_spark.operators.htmlstats import html_metadata

    d = _docs(spark, sf_dir)
    did = F.col("doc_id")
    ds = did.cast("string")
    html = F.concat(
        F.when(F.col("lang").isNull(), F.lit("<html><head>")).otherwise(
            F.concat(F.lit('<html lang="'), F.col("lang"),
                     F.lit('"><head>'))
        ),
        F.when(did % 5 == 4, F.lit("")).otherwise(
            F.concat(F.lit("<title>Doc "), ds, F.lit("</title>"))
        ),
        F.when(
            did % 3 == 0,
            F.concat(F.lit('<meta name="description" content="about '),
                     ds, F.lit('">')),
        ).when(
            did % 3 == 1,
            F.concat(F.lit('<meta content="rev about '), ds,
                     F.lit('" name="description">')),
        ).otherwise(F.lit("")),
        F.when(
            did % 4 == 0,
            F.concat(F.lit('<link rel="canonical" href="https://c.org/'),
                     ds, F.lit('">')),
        ).when(
            did % 4 == 1,
            F.concat(F.lit('<link href="https://c.org/r/'), ds,
                     F.lit('" rel="canonical">')),
        ).otherwise(F.lit("")),
        F.lit("</head><body>x</body></html>"),
    )
    return html_metadata(
        d.select("doc_id", html.alias("html")), key_col="doc_id"
    )


def q_lang_agreement(spark, sf_dir):
    """Declared-vs-detected language conformance — the validation
    cross-check a crawl table needs on its `lang` column: per
    declared lang, how often the n-gram detector agrees, in exact
    integer basis points. Reuses the oracled lang_id detector; the
    SQL oracle nests the full lang_id recomputation as a CTE and
    re-aggregates."""
    d = _docs(spark, sf_dir)
    match = F.coalesce(
        (lang_id(F.col("text")) == F.col("lang")).cast("long"), F.lit(0)
    )
    return (
        d.groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(match).alias("n_match"),
        )
        .select(
            "lang",
            F.col("n_docs").cast("bigint").alias("n_docs"),
            F.col("n_match").cast("bigint").alias("n_match"),
            F.expr("n_match * 10000 div n_docs").cast("bigint")
            .alias("match_bp"),
        )
    )


def q_anchors(spark, sf_dir):
    """Anchor-text edge extraction from planted markup: every doc
    links its hub (dst https://t<doc_id%7>.org/a with labeled anchor
    text), doc_id%3==0 adds an attribute-bearing deep link,
    doc_id%4==1 adds a RELATIVE link (dropped by absolute_only) and
    doc_id%5==2 an href-less named anchor (dropped). Oracle
    enumerates the surviving triples in closed form."""
    from py_schemax_spark.operators.linkgraph import extract_anchors

    d = _docs(spark, sf_dir)
    did = F.col("doc_id")
    ds = did.cast("string")
    hub = (did % 7).cast("string")
    html = F.concat(
        F.lit('<p>x</p><a href="https://t'), hub,
        F.lit('.org/a">go to '), hub, F.lit(" </a>"),
        F.when(
            did % 3 == 0,
            F.concat(F.lit('<a class="x" href="https://u.org/'), ds,
                     F.lit('">deep link</a>')),
        ).otherwise(F.lit("")),
        F.when(did % 4 == 1,
               F.lit('<a href="/rel">rel</a>')).otherwise(F.lit("")),
        F.when(did % 5 == 2,
               F.lit('<a name="anchor">no href</a>')).otherwise(F.lit("")),
    )
    return extract_anchors(
        d.select("doc_id", html.alias("html")), url_col="doc_id"
    ).withColumnRenamed("src_url", "doc_id")


def q_inverted_index(spark, sf_dir):
    """Inverted-index build over the corpus vocabulary: the synthetic
    vocab's terms all have df 380-410 (truncation at max_postings=50
    exercised on every one), and planted rare tokens (doc_id%100==0
    gets ' zxqj'||doc_id%3) add df=2 terms (kept, NOT truncated) and
    a df=1 term (excluded by min_df=2). Oracle rebuilds the whole
    index in SQL: distinct pairs, df gate BEFORE postings, sorted
    slice; both engines render postings with to_json."""
    from py_schemax_spark.operators.index import build_inverted_index

    d = _docs(spark, sf_dir)
    planted = F.when(
        F.col("doc_id") % 100 == 0,
        F.concat(F.col("text"), F.lit(" zxqj"),
                 (F.col("doc_id") % 3).cast("string")),
    ).otherwise(F.col("text"))
    return build_inverted_index(
        d.select("doc_id", planted.alias("text")),
        min_df=2, max_df=495, max_postings=50,
    ).withColumn("postings", F.to_json("postings"))


def q_card_scan(spark, sf_dir):
    """Card-number PII with Luhn validation: planted candidates are a
    valid test number (doc_id%4==0), a checksum-broken twin (%4==1 —
    the regex-only false positive the Luhn fold rejects), and an
    11-digit string below the candidate floor (%4==2). The oracle
    INDEPENDENTLY recomputes the Luhn checksum in SQL (list_transform
    with 1-based index lambda), so the whole fold is cross-engine
    verified, not just asserted."""
    from py_schemax_spark.operators.pii import card_scan

    d = _docs(spark, sf_dir)
    planted = F.concat(
        F.col("text"),
        F.when(F.col("doc_id") % 4 == 0,
               F.lit(" card 4539 5787 6362 1486 ok"))
        .when(F.col("doc_id") % 4 == 1,
              F.lit(" ref 4539-5787-6362-1487 x"))
        .when(F.col("doc_id") % 4 == 2, F.lit(" acct 79927398713 end"))
        .otherwise(F.lit("")),
    )
    return card_scan(d.select("doc_id", planted.alias("text")))


def q_dsir(spark, sf_dir):
    """DSIR importance weighting (Xie et al. 2023) of the corpus
    toward a deterministic target subset (doc_id%7==0): hashed
    unigram+bigram models on both sides, integer fixed-point
    per-bucket log-ratios (floor at 1e-6 — float ln confined to the
    1024-entry ratio table, identical expression order in Python and
    DuckDB), engine-exact integer document scores. ``keep`` is the
    `dsir_select` length-normalized threshold decision rendered as a
    column (integer cross-multiplication, no float on the boundary).
    """
    from py_schemax_spark.operators.dsir import dsir_weights

    d = _docs(spark, sf_dir)
    target = d.filter((F.col("doc_id") % 7 == 0)
                      & F.col("text").isNotNull())
    w = dsir_weights(
        d, target, n_buckets=1024, word_ngrams=2
    )
    s, n = F.col("dsir_score"), F.col("n_terms")
    return w.select(
        "doc_id", "n_terms", "dsir_score",
        F.when(
            s.isNull() | n.isNull(), F.lit(None).cast("boolean")
        ).otherwise(
            (n > 0) & (s * 1000 >= F.lit(-50) * n)
        ).alias("keep"),
    )


def q_main_content(spark, sf_dir):
    """jusText-style main-content extraction over planted messy pages:
    nav/footer link blocks (density-dropped), a script element
    (content-stripped), a short block (length-dropped), one or two
    content paragraphs (doc_id%3 adds the second, carrying an
    ``&amp;`` entity), and null html for doc_id%11==5. Binary payload
    exercises the decode path. The oracle states main_text / block
    counts in CLOSED FORM from the planting formulas — a bug anywhere
    in strip/split/score/join breaks the hash."""
    from py_schemax_spark.operators.extract import extract_main_content

    d = _docs(spark, sf_dir)
    did = F.col("doc_id")
    ds = did.cast("string")
    html = F.concat(
        F.lit('<html><body><div><a href="/a">Home</a> '
              '<a href="/b">About</a></div><script>var x=9;</script>'
              '<p>alpha bravo charlie delta echo foxtrot golf hotel '
              'india juliet kilo '),
        ds,
        F.lit("</p><p>tiny</p>"),
        F.when(
            did % 3 == 0,
            F.concat(
                F.lit("<p>lima mike november oscar papa quebec romeo "
                      "sierra tango &amp; uniform "),
                ds, F.lit("</p>"),
            ),
        ).otherwise(F.lit("")),
        F.lit('<div><a href="/c">Contact</a></div></body></html>'),
    )
    payload = F.when(
        did % 11 == 5, F.lit(None).cast("binary")
    ).otherwise(F.encode(html, "UTF-8"))
    return extract_main_content(
        d.select("doc_id", payload.alias("html")), key_col="doc_id"
    )


def q_shard_plan(spark, sf_dir):
    """Deterministic training-shard plan over the corpus: sizes are
    whitespace token counts (null text → 0), global order is
    ``(md5(doc_id), doc_id)``, shards budgeted at 40k tokens. The
    oracle is ONE SQL window in the same order — the engine's
    two-level prefix sum must be boundary-invariant to match it."""
    from py_schemax_spark.sources.shards import plan_shards

    d = _docs(spark, sf_dir)
    sized = d.select(
        "doc_id",
        F.coalesce(
            F.regexp_count(F.col("text"), F.lit(r"[^ \t\n\r\f]+")),
            F.lit(0),
        ).cast("long").alias("n_units"),
    )
    return plan_shards(
        sized, key_col="doc_id", size_col="n_units",
        max_units_per_shard=40_000,
    )


def q_sitemap(spark, sf_dir):
    """Sitemap-protocol parsing over planted payloads: urlset docs
    carry an entity-escaped loc + lastmod, a whitespace-padded loc
    (trim exercised) and a loc-less entry (dropped); doc_id%5==0 is a
    sitemapindex (uppercase second element exercises case folding);
    doc_id%11==7 is a null payload (no rows). Oracle enumerates the
    surviving entries in closed form."""
    from py_schemax_spark.operators.robots import parse_sitemaps

    d = _docs(spark, sf_dir)
    did = F.col("doc_id")
    ds = did.cast("string")
    hs = (did % 20).cast("string")
    urlset = F.concat(
        F.lit('<?xml version="1.0"?><urlset><url><loc>https://h'),
        hs, F.lit(".org/p/"), ds, F.lit("?a=1&amp;b="), ds,
        F.lit("</loc><lastmod>2024-03-0"),
        (did % 9 + 1).cast("string"),
        F.lit("</lastmod></url><url><loc> https://h"),
        hs, F.lit(".org/q/"), ds,
        F.lit(" </loc></url><url><lastmod>2024-01-01</lastmod></url>"
              "</urlset>"),
    )
    index = F.concat(
        F.lit("<sitemapindex><sitemap><loc>https://h"),
        hs, F.lit(".org/sm"), ds, F.lit("a.xml"),
        F.lit("</loc></sitemap><SITEMAP><loc>https://h"),
        hs, F.lit(".org/sm"), ds, F.lit("b.xml"),
        F.lit("</loc></SITEMAP></sitemapindex>"),
    )
    xml = F.when(did % 11 == 7, F.lit(None).cast("string")).otherwise(
        F.when(did % 5 == 0, index).otherwise(urlset)
    )
    return parse_sitemaps(
        d.select("doc_id", xml.alias("xml")), key_col="doc_id"
    )


def q_html_profile(spark, sf_dir):
    """Markup-density pre-filter signals (tag/link/script counts,
    text-to-markup basis points) as pure regexp projections. The
    corpus has no html column, so the page markup is PLANTED
    deterministically from doc_id/source/text (identical expression in
    the oracle, like pii_scan's planted PII) — scripts on every 3rd
    doc, doc_id%5 nav links, multibyte text exercising byte-based
    ratios."""
    from py_schemax_spark.operators.htmlstats import html_profile

    d = _docs(spark, sf_dir)
    html = F.concat(
        F.lit("<html><body>"),
        F.when(
            F.col("doc_id") % 3 == 0,
            F.lit('<script src="x.js"></script>'),
        ).otherwise(F.lit("")),
        F.lit("<h1>"), F.col("source"), F.lit("</h1><p>"),
        F.col("text"), F.lit("</p>"),
        F.expr(
            "repeat('<a href=\"/l\">link</a>', CAST(doc_id % 5 AS INT))"
        ),
        F.lit("</body></html>"),
    )
    return html_profile(
        d.withColumn("html", html), html_col="html", key_col="doc_id"
    )


def q_asof_purchase(spark, sf_dir):
    """As-of join (Spark has no built-in; DuckDB oracles with its
    native ASOF JOIN): each non-purchase event gets the user's most
    recent purchase at-or-before its timestamp, nulled beyond a
    24-hour tolerance. The engine side is the scalable union-and-carry
    form — one window per user, no pair explosion; the right side is
    pre-deduped per (user, ts) with max_by for deterministic ties."""
    from py_schemax_spark.operators.joins import asof_join

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    purchases = (
        ev.filter(F.col("event_type") == "purchase")
        .groupBy("user_id", "ts")
        .agg(
            F.max("event_id").alias("purchase_id"),
            F.max_by("value", "event_id").alias("purchase_value"),
        )
    )
    lefts = ev.filter(F.col("event_type") != "purchase").select(
        "event_id", "user_id", "ts", "event_type"
    )
    return asof_join(
        lefts, purchases, on="ts", by="user_id",
        right_cols=["purchase_id", "purchase_value"],
        tolerance="24 HOURS",
    ).select(
        "event_id", "user_id", "ts", "event_type",
        "purchase_id", "purchase_value",
    )


def q_hash_split(spark, sf_dir):
    """Deterministic 90/5/5 train/val/test assignment by hash bucket
    (first 4 md5 hex chars of key+salt) — reproducible across runs,
    engines, partition counts, and row order; a pure projection. The
    oracle recomputes the same buckets and cuts in three lines of
    SQL."""
    from py_schemax_spark.operators.sampling import hash_split

    d = _docs(spark, sf_dir)
    return hash_split(
        d, "doc_id",
        {"train": 0.9, "val": 0.05, "test": 0.05},
        salt="r3",
    ).select("doc_id", "split")


def q_stratified_sample(spark, sf_dir):
    """Deterministic per-language downsampling (corpus rebalancing):
    keep 50% of 'en', 100% of 'de', 25% of everything else — a pure
    hash-bucket filter, each row's fate independent of every other
    row's."""
    from py_schemax_spark.operators.sampling import stratified_sample

    d = _docs(spark, sf_dir)
    return stratified_sample(
        d, "doc_id", {"en": 0.5, "de": 1.0}, strata_col="lang",
        salt="s", default_fraction=0.25,
    ).select("doc_id", "lang")


def q_decontam(spark, sf_dir):
    """Benchmark decontamination: per document, how many of its token
    8-grams occur in the benchmark set (docs with doc_id % 97 == 0 —
    a stand-in eval set drawn from the same corpus, so the planted
    exact-duplicate docs light up as contaminated alongside the
    benchmark members themselves). Arrow-side n-gram hashing (no token
    shuffle), broadcast join on the benchmark's distinct hashes, one
    groupBy(doc_id) exchange. Oracle recomputes the identical md5
    n-gram universe in SQL."""
    from py_schemax_spark.operators.decontam import contamination_report

    d = _docs(spark, sf_dir)
    bench = d.filter(F.col("doc_id") % 97 == 0)
    return contamination_report(
        d, bench, text_col="text", key_col="doc_id", n=8
    ).select("doc_id", "n_total", "n_overlap", "contaminated")


def q_line_dedup(spark, sf_dir):
    """CCNet-style boilerplate line removal. The synthetic corpus is
    single-line, so lines are synthesized deterministically (space →
    newline, identically on both sides): every token becomes a line,
    and tokens occurring in ≥ 50 distinct docs are 'boilerplate'. The
    cleaned text (rare tokens only, order kept), line count, and
    removed count are hash-compared against a DuckDB rebuild of the
    exact same contract."""
    from py_schemax_spark.operators.lines import remove_boilerplate

    d = _docs(spark, sf_dir).withColumn(
        "text", F.translate("text", " ", "\n")
    )
    return remove_boilerplate(
        d, text_col="text", key_col="doc_id", min_docs=50
    ).select("doc_id", "clean_text", "n_lines", "n_removed")


def q_sessionize(spark, sf_dir):
    """30-minute-gap sessionization of the events stream: one hash
    exchange (the groupBy reuses the window's partitioning), exact
    integer-microsecond gap comparison, (ts, event_id) tie-break —
    all reproduced verbatim by the DuckDB window oracle."""
    from py_schemax_spark.operators.sessions import sessionize

    e = spark.read.parquet(f"{sf_dir}/events.parquet")
    return sessionize(
        e, user_col="user_id", ts_col="ts", id_col="event_id",
        gap_seconds=1800, value_col="value",
    ).select(
        "user_id", "session_idx", "session_start", "session_end",
        "n_events", "total_value",
    )


def q_unigram_logprob(spark, sf_dir):
    """Corpus-unigram log-probability quality score with a top-50
    vocabulary cutoff (OOV smoothing to count 1) — the KenLM-filter
    stand-in. One token shuffle for the counts, driver-bounded top-k
    collect, in-row Arrow scoring (no second shuffle). The oracle
    recomputes counts, the same deterministic top-k (count desc, token
    asc), and the same smoothed mean in SQL."""
    from py_schemax_spark.operators.textstats import unigram_logprob_scores

    d = _docs(spark, sf_dir)
    return unigram_logprob_scores(
        d, text_col="text", key_col="doc_id", top_k=50
    ).select("doc_id", "n_tokens", "logprob")


def q_url_features(spark, sf_dir):
    """URL structure profile (scheme/host/path-depth/params/tld) as
    pure codegen'd regexp expressions that fuse into the scan
    projection. The corpus URL shape is uniform, so half the rows get
    a deterministic query-string suffix (same expression in the
    oracle) to exercise the parameter counter."""
    from py_schemax_spark.functions.urls import url_features

    d = _docs(spark, sf_dir)
    url = F.concat(
        F.lit("https://"), F.col("source"), F.lit(".example.org/doc/"),
        F.col("doc_id").cast("string"),
        F.when(
            F.col("doc_id") % 2 == 0,
            F.concat(
                F.lit("?page="), (F.col("doc_id") % 3).cast("string"),
                F.lit("&ref=rss"),
            ),
        ).otherwise(F.lit("")),
    )
    return url_features(
        d.withColumn("url", url), url_col="url", key_col="doc_id"
    )


def _quality_planted_text(spark, sf_dir):
    """Shared planting for the quality-filter queries: the corpus text
    is single-line prose, so line-anchored and phrase rules would all
    trivially pass — plant bullets / ellipsis lines / C4 drop phrases
    deterministically from doc_id (same expression in the oracle)."""
    d = _docs(spark, sf_dir)
    c = F.col("text")
    planted = (
        F.when(
            F.col("doc_id") % 4 == 0,
            F.concat(F.lit("- item one\n- item two\n"), c),
        )
        .when(
            F.col("doc_id") % 4 == 1,
            F.concat(c, F.lit("\nto be continued...")),
        )
        .when(
            F.col("doc_id") % 4 == 2,
            F.concat(F.lit("#tag {code} javascript lorem ipsum. "), c),
        )
        .otherwise(c)
    )
    return d.withColumn("text", planted)


_QUALITY_PLANT_SQL = """
  SELECT doc_id,
         CASE CAST(doc_id % 4 AS INT)
           WHEN 0 THEN '- item one' || chr(10) || '- item two'
                       || chr(10) || text
           WHEN 1 THEN text || chr(10) || 'to be continued...'
           WHEN 2 THEN '#tag {code} javascript lorem ipsum. ' || text
           ELSE text
         END AS text
  FROM documents
"""


def q_gopher_quality(spark, sf_dir):
    """Gopher rule signals + per-rule flags + verdict over the planted
    corpus — one codegen'd projection, zero exchanges."""
    from py_schemax_spark.operators.quality import gopher_profile

    return gopher_profile(_quality_planted_text(spark, sf_dir))


def q_domain_blocklist(spark, sf_dir):
    """Domain blocklist induction from per-document Gopher verdicts:
    gopher_profile (passthrough, still one projection) -> ONE
    domain-granular groupBy. The planting makes it discriminative:
    source = 'src'||doc_id%20, so each domain's docs share one plant
    class (doc_id%4) and domains land at fail_bp 0 or 10000 — the
    induced `blocked` set is exactly the domains whose plant class
    fails Gopher. min_docs/null-verdict edge cases are pytested
    (`test_quality.py`)."""
    from py_schemax_spark.operators.quality import (
        gopher_profile,
        induce_domain_blocklist,
    )

    prof = gopher_profile(_quality_planted_text(spark, sf_dir),
                          passthrough=True)
    return induce_domain_blocklist(
        prof, pass_col="gopher_pass", domain_col="source",
        min_docs=5, max_fail_bp=2500,
    )


def q_c4_filters(spark, sf_dir):
    """C4 page-filter signals over the planted corpus."""
    from py_schemax_spark.operators.quality import c4_profile

    return c4_profile(_quality_planted_text(spark, sf_dir))


# normalization plant suffixes, shared verbatim with the oracle: the
# corpus text is clean ASCII, so the multibyte/control/edge cases are
# planted as a pure function of doc_id (decomposed accents that NFC
# must compose, control bytes to strip, tab runs to collapse, and a
# trailing newline exercising the \z-not-$ trim contract)
_NORM_PLANT = [
    "",
    " café résumé ",
    "\tnaïve\t\tpiñata",
    " a\x08b\x7fc\x01",
    " tail\n",
]


def _sql_str_expr(s: str) -> str:
    """Render a python string as a DuckDB SQL expression — printable
    ASCII as quoted literals, everything else as chr(codepoint) — so
    plant constants with control bytes / combining marks round-trip
    into the oracle exactly."""
    if not s:
        return "''"
    parts: list[str] = []
    run: list[str] = []
    for ch in s:
        if " " <= ch <= "~":
            run.append(ch)
        else:
            if run:
                parts.append("'" + "".join(run).replace("'", "''") + "'")
                run = []
            parts.append(f"chr({ord(ch)})")
    if run:
        parts.append("'" + "".join(run).replace("'", "''") + "'")
    return " || ".join(parts)


def q_normalize(spark, sf_dir):
    """Unicode normalization (NFC + control strip + whitespace
    canonicalization) over the planted corpus; oracled against
    DuckDB's utf8proc ``nfc_normalize`` + the shared RE2/Java
    rewrite patterns."""
    from py_schemax_spark.operators.normalize import normalize_text

    d = _docs(spark, sf_dir)
    plant = F.when(F.col("doc_id") % 5 == 0, F.lit(_NORM_PLANT[0]))
    for i in range(1, 5):
        plant = plant.when(F.col("doc_id") % 5 == i, F.lit(_NORM_PLANT[i]))
    planted = d.select(
        "doc_id", F.concat(F.col("text"), plant).alias("text")
    )
    return normalize_text(planted)


def q_ccnet_buckets(spark, sf_dir):
    """CCNet-style head/middle/tail quality bucketing: per-language
    token mass cut into thirds by unigram-logprob order. The score is
    QUANTIZED to an integer (round(logprob·10⁴)) before ordering —
    logprob itself is oracled 4-dp-exact, so the quantized order (and
    with it every running-sum bucket boundary) is engine-identical.
    Two-level prefix sum, no language-wide window."""
    from py_schemax_spark.operators.mixing import perplexity_buckets
    from py_schemax_spark.operators.textstats import (
        unigram_logprob_scores,
    )

    d = _docs(spark, sf_dir).select("doc_id", "lang", "text")
    scored = unigram_logprob_scores(
        d, text_col="text", key_col="doc_id", top_k=50, passthrough=True
    ).withColumn(
        "score_x1e4",
        F.expr("cast(round(logprob * 10000) as bigint)"),
    )
    return perplexity_buckets(
        scored.select("doc_id", "lang", "text", "score_x1e4"),
        score_col="score_x1e4",
        group_col="lang",
        text_col="text",
        key_col="doc_id",
    )


def q_url_blocklist(spark, sf_dir):
    """Domain-blocklist + pattern-rule filtering via the bounded
    broadcast-join suffix ladder (zero corpus exchanges). URLs and the
    blocklist are planted deterministically: every host is
    ``<source>.s<doc_id%4>.example.org``; the blocklist carries one
    3-label suffix entry (blocks the whole ``s0`` bucket) plus exact
    hosts derived from the corpus itself (``doc_id%10==3`` sources in
    the ``s1`` bucket); gambling/tracking pattern rules are planted in
    path/query."""
    from py_schemax_spark.operators.urlfilter import block_urls

    d = _docs(spark, sf_dir)
    url = F.concat(
        F.lit("https://"), F.col("source"), F.lit(".s"),
        (F.col("doc_id") % 4).cast("string"),
        F.lit(".example.org/doc/"), F.col("doc_id").cast("string"),
        F.when(F.col("doc_id") % 11 == 5, F.lit("/casino")).otherwise(
            F.lit("")
        ),
        F.when(F.col("doc_id") % 7 == 2, F.lit("?utm_source=x")).otherwise(
            F.lit("")
        ),
    )
    bl = (
        d.filter(F.col("doc_id") % 10 == 3)
        .select(
            F.concat(F.col("source"), F.lit(".s1.example.org")).alias(
                "domain"
            )
        )
        .distinct()
        .union(spark.createDataFrame([("s0.example.org",)], "domain string"))
    )
    return block_urls(
        d.select("doc_id", url.alias("url")),
        bl,
        pattern_rules=[("gambling", "casino"), ("tracking", r"[?&]utm_")],
    )


def q_robots(spark, sf_dir):
    """robots.txt disallow filtering (RFC 9309 subset), end-to-end:
    per-domain robots bodies are synthesized DETERMINISTICALLY from
    the source id, parsed with `parse_robots` (group structure,
    exact-agent override of '*', comments), and applied with
    `apply_robots` (longest-prefix, Allow-on-tie). The oracle does NOT
    re-parse — it computes the expected verdict directly from the
    planting formulas, so a parse bug anywhere in the pipeline breaks
    the hash. Run as agent='mybot' so the exact-group-override path
    (src%7==3 domains carry a mybot group that HIDES their '*' group)
    is exercised on real data."""
    from py_schemax_spark.operators.robots import apply_robots, parse_robots

    d = _docs(spark, sf_dir)
    src_num = F.regexp_extract("source", r"(\d+)$", 1).cast("int")
    path = (
        F.when(F.col("doc_id") % 5 == 0,
               F.concat(F.lit("/private/"), F.col("doc_id").cast("string")))
        .when(F.col("doc_id") % 5 == 1,
              F.concat(F.lit("/private/ok/"), F.col("doc_id").cast("string")))
        .when(F.col("doc_id") % 5 == 2,
              F.concat(F.lit("/tmp/"), F.col("doc_id").cast("string")))
        .otherwise(
            F.concat(F.lit("/doc/"), F.col("doc_id").cast("string")))
    )
    docs = d.select(
        "doc_id",
        F.concat(
            F.lit("https://"), F.col("source"), F.lit(".example.org"), path
        ).alias("url"),
    )
    star_block = (
        "User-agent: badbot\nDisallow: /\n\n# synthetic robots\n"
        "User-agent: *\nDisallow: /private/\nAllow: /private/ok\n"
    )
    robots = (
        d.select("source").distinct()
        .select(
            F.concat(F.col("source"), F.lit(".example.org")).alias("domain"),
            F.concat(
                F.when(
                    src_num % 7 == 3,
                    F.lit("User-agent: mybot\nDisallow: /doc/\n\n"),
                ).otherwise(F.lit("")),
                F.lit(star_block),
                F.when(src_num % 2 == 0, F.lit("Disallow: /tmp/\n"))
                .otherwise(F.lit("")),
            ).alias("robots_txt"),
        )
    )
    return apply_robots(docs, parse_robots(robots, user_agent="mybot"))


def q_semdedup(spark, sf_dir):
    """SemDeDup over the embeddings table plus planted semantic
    duplicates (the synthetic vectors' max natural pairwise cosine is
    ~0.51, so duplicates are planted: exact twins on vec_id%50, scaled
    twins on vec_id%33 — scaling is cosine-invariant, sim 1.0).
    Rows-only by design (float k-means is not SQL-reproducible);
    `semdedup_containment` is the hash-green exactness gate."""
    from py_schemax_spark.operators.semdedup import semantic_dedup

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet").select(
        "vec_id", "embedding"
    )
    nn = emb.filter(F.col("embedding").isNotNull())
    exact = nn.filter(F.col("vec_id") % 50 == 0).select(
        (F.col("vec_id") + 1_000_000).alias("vec_id"), "embedding"
    )
    scaled = nn.filter(F.col("vec_id") % 33 == 0).select(
        (F.col("vec_id") + 2_000_000).alias("vec_id"),
        F.transform("embedding", lambda x: x * F.lit(2.0)).alias(
            "embedding"
        ),
    )
    corpus = emb.unionByName(exact).unionByName(scaled)
    return semantic_dedup(corpus, dim=64, threshold=0.9999, n_lists=8)


def q_semdedup_containment(spark, sf_dir):
    """Containment oracle for semantic dedup: planted EXACT-duplicate
    embeddings (cosine 1.0) must always share a cluster list (same
    matmul, same argmax) and collapse into one component with the
    lower id surviving. Returns violation rows — expected collapses
    missing from the verdict; the oracle is the empty set."""
    from py_schemax_spark.operators.semdedup import semantic_dedup

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet").select(
        "vec_id", "embedding"
    )
    base = emb.filter(
        (F.col("vec_id") % 50 == 0) & F.col("embedding").isNotNull()
    )
    twins = base.select(
        (F.col("vec_id") + 1_000_000).alias("vec_id"), "embedding"
    )
    corpus = emb.unionByName(twins)
    verdict = semantic_dedup(corpus, dim=64, threshold=0.9999, n_lists=8)
    # every twin must be non-surviving and share its original's cluster
    v_orig = verdict.select(
        F.col("vec_id").alias("orig_id"),
        F.col("cluster_id").alias("orig_cluster"),
    )
    v_twin = verdict.select(
        F.col("vec_id").alias("twin_id"),
        F.col("cluster_id").alias("twin_cluster"),
        F.col("is_survivor").alias("twin_survives"),
    )
    joined = base.select(
        F.col("vec_id").alias("orig_id"),
        (F.col("vec_id") + 1_000_000).alias("twin_id"),
    ).join(v_orig, "orig_id").join(v_twin, "twin_id")
    return joined.filter(
        (F.col("orig_cluster") != F.col("twin_cluster"))
        | F.col("twin_survives")
    ).select("orig_id", "twin_id")


_MIX_BUDGETS = {"en": 2500, "de": 800, "fr": 0}
_MIX_DEFAULT = 300


def q_corpus_mix(spark, sf_dir):
    """Deterministic corpus mixing to per-language token budgets via
    the two-level prefix sum (no group-wide window). The (md5(key),
    key) order and exclusive-cumsum keep rule are SQL-reproducible, so
    the single-window DuckDB oracle is byte-exact."""
    from py_schemax_spark.operators.mixing import sample_to_token_budget

    return sample_to_token_budget(
        _docs(spark, sf_dir),
        _MIX_BUDGETS,
        group_col="lang",
        default_budget=_MIX_DEFAULT,
    )


def q_drift_ks(spark, sf_dir):
    """Exact two-sample KS statistic (basis points) between the even-
    and odd-doc_id halves of the corpus over n_chars — the integer-
    exact two-sample companion of the drift class's KS against a
    baseline grid (test_drift.py). Per-value aggregation with
    map-side combine before the one CDF window (distinct n_chars
    values, not rows)."""
    from py_schemax_spark.operators.integrity import exact_ks_2samp

    d = _docs(spark, sf_dir).select(
        "n_chars", (F.col("doc_id") % 2).cast("int").alias("grp")
    )
    return exact_ks_2samp(d, "n_chars", "grp")


def q_monotonicity(spark, sf_dir):
    """Per-user event-time ordering check with planted late-arrival
    violations (event_id % 97 == 13 shifted back one hour — interval
    arithmetic both engines share): the append-only-log invariant a
    crawl ingest validates per url/domain. One key-granular window
    exchange."""
    from py_schemax_spark.operators.integrity import (
        monotonicity_violations,
    )

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    shifted = ev.select(
        "user_id",
        "event_id",
        F.when(
            F.col("event_id") % 97 == 13,
            F.col("ts") - F.expr("INTERVAL 1 HOUR"),
        )
        .otherwise(F.col("ts"))
        .alias("ts"),
    )
    return monotonicity_violations(shifted, "user_id", "event_id", "ts")


def q_volume_anomaly(spark, sf_dir):
    """Hourly ingest-volume anomalies vs a trailing 24-bucket mean
    (integer-exact tolerance arithmetic, never a float mean): the
    freshness/volume check a daily crawl partition gets before it is
    admitted. Reduces to per-bucket counts before the single ordered
    window (bounded: hours, not rows)."""
    from py_schemax_spark.operators.integrity import volume_anomaly

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    return volume_anomaly(ev, "ts")


def q_fd_check(spark, sf_dir):
    """Functional-dependency conformance source → lang: reports each
    source whose documents carry more than one language, with the
    deterministic majority value and disagreement count — the
    cross-column dependency class (det → dep) the reference's per-file
    attribute checks cannot express. Post-aggregation exchanges only."""
    from py_schemax_spark.operators.integrity import fd_violations

    return fd_violations(_docs(spark, sf_dir), "source", "lang")


def q_substring_dedup(spark, sf_dir):
    """Exact substring-window dedup report (Lee et al. 2022 re-shaped
    for a shared-nothing engine): 12-token stride-1 windows hashed
    in-row (decontamination's md5 token contract), corpus-wide window
    document-frequency, per-doc duplicated-window counts in basis
    points."""
    from py_schemax_spark.operators.substrings import (
        substring_dedup_report,
    )

    return substring_dedup_report(
        _docs(spark, sf_dir), text_col="text", key_col="doc_id", n=12
    )


def q_sequence_gaps(spark, sf_dir):
    """Dense-id gap detection with planted holes (every doc_id % 37 ==
    5 plus the run 100-105 — shared arithmetic both engines):
    consecutive missing ids merge into one (gap_start, gap_end,
    n_missing) row. bucket_size=64 exercises the two-phase shape
    (inter-bucket value check + dirty-bucket-only intra windows) on
    the 500-doc table."""
    from py_schemax_spark.operators.integrity import sequence_gaps

    d = _docs(spark, sf_dir).filter(
        (F.col("doc_id") % 37 != 5)
        & ~F.col("doc_id").between(100, 105)
    )
    return sequence_gaps(d, "doc_id", bucket_size=64)


def q_snapshot_reconcile(spark, sf_dir):
    """Cross-snapshot per-partition reconciliation with planted deltas
    (shared construction both engines): prev = documents; cur drops
    source 'src3' entirely (removed), drops doc_id % 7 == 2 rows
    (shrunk where hit), re-appends all of src1 (grown), and re-labels
    a copy of src2 as 'brand_new' (added). Partitions with identical
    counts produce no row."""
    from py_schemax_spark.operators.integrity import snapshot_reconcile

    prev = _docs(spark, sf_dir)
    base = prev.filter(
        (F.col("source") != "src3") & (F.col("doc_id") % 7 != 2)
    )
    cur = (
        base.unionByName(prev.filter(F.col("source") == "src1"))
        .unionByName(
            prev.filter(F.col("source") == "src2").withColumn(
                "source", F.lit("brand_new")
            )
        )
    )
    return snapshot_reconcile(cur, prev, "source")


def q_conditional_checks(spark, sf_dir):
    """Table-level conditional CHECK constraints (round 4): the same
    ANSI-SQL `when`/`expect` strings compile into the engine's fused
    row projection AND run verbatim in the oracle — cross-column
    constraints the reference's per-column vocabulary cannot express.
    3VL: null `expect` in scope = violation; `when` null/false = out
    of scope."""
    spec = validate_spec_dict(
        {
            "fqn": "t.documents",
            "key": "doc_id",
            "columns": [
                {"name": "doc_id", "type": "integer"},
                {"name": "lang", "type": "string"},
                {"name": "n_chars", "type": "integer"},
            ],
            "checks": [
                {"name": "en_cap", "when": "lang = 'en'",
                 "expect": "n_chars <= 450"},
                {"name": "doc_nonneg", "expect": "doc_id >= 0"},
            ],
        }
    ).spec
    return row_violations(_docs(spark, sf_dir), spec)


def q_categorical_tv(spark, sf_dir):
    """Total-variation distance (basis points) between the lang
    distributions of the even- and odd-doc_id halves — the categorical
    drift companion of q_drift_ks for columns with no meaningful order
    (lang/source/tld). One per-value count shuffle; exact decimal
    cross-products."""
    from py_schemax_spark.operators.profile import categorical_tv

    d = _docs(spark, sf_dir).filter(F.col("doc_id").isNotNull()).select(
        "lang", (F.col("doc_id") % 2).cast("int").alias("grp")
    )
    return categorical_tv(d, "lang", "grp")


def q_heavy_hitters(spark, sf_dir):
    """Exact heavy hitters over lang (values holding > 1/7 of the
    corpus) — the deterministic ground truth a count-min/Misra-Gries
    sketch approximates, bounded to ≤ 6 output rows by construction.
    k=7 slices through the sf0.01 lang mix (en 43.6%, zh 15.0%,
    es 14.6% qualify; de 14.0%, fr 12.8% fall under the strict >)."""
    from py_schemax_spark.operators.profile import heavy_hitters

    return heavy_hitters(_docs(spark, sf_dir), "lang", k=7)


def q_mad_outliers(spark, sf_dir):
    """Robust MAD outliers over n_chars with planted absurd values
    (doc_id % 101 == 7 scaled ×100 — shared arithmetic both engines):
    rows where |v - median| > 5 × MAD, both medians exact lower
    medians over the bounded per-value count table. The corpus is
    never shuffled — scalars broadcast into one projection."""
    from py_schemax_spark.operators.profile import mad_outliers

    d = _docs(spark, sf_dir).select(
        "doc_id",
        F.when(
            F.col("doc_id") % 101 == 7, F.col("n_chars") * 100
        )
        .otherwise(F.col("n_chars"))
        .alias("n_chars"),
    )
    return mad_outliers(d, "n_chars", "doc_id", k=5)


def q_approx_heavy_hitters(spark, sf_dir):
    """Misra-Gries heavy hitters (sketch candidates + exact confirm):
    same rows as q_heavy_hitters — the MG sketch provably cannot miss
    a true > 1/k value (pigeonhole over partitions) and the confirm
    pass drops over-generation, so the EXACT heavy-hitters SQL is the
    oracle. Scale difference: the corpus is never shuffled at value
    granularity — candidates come from a zero-shuffle mapInPandas
    pass, the confirm aggregation collapses non-candidates into one
    group map-side."""
    from py_schemax_spark.operators.sketches import approx_heavy_hitters

    return approx_heavy_hitters(_docs(spark, sf_dir), "lang", k=7)


def q_domain_cap(spark, sf_dir):
    """Per-group document cap (RefinedWeb-style: the Zipf head must
    not dominate the mixture): keep at most 15 docs per source, chosen
    deterministically by (md5(doc_id), doc_id). Skew-aware shape:
    under-cap groups pass through an anti-join against the broadcast
    over-cap set (no sort, no corpus exchange); only over-cap rows are
    ranked, salted two-level so a hot group never serializes into one
    task. Oracle = the single-window row_number SQL (boundary-
    invariant, so the shapes agree exactly)."""
    from py_schemax_spark.operators.sampling import cap_per_group

    return cap_per_group(
        _docs(spark, sf_dir), "source", "doc_id", 15
    ).select("doc_id", "source")


def q_bloom_decontam(spark, sf_dir):
    """Containment oracle for the Bloom decontamination scale path: a
    Bloom filter has NO false negatives, so every exactly-contaminated
    document (q_decontam's contract, same benchmark = doc_id % 97 == 0)
    MUST be flagged by the bloom pass. Returns exact-contaminated docs
    NOT bloom-flagged; the oracle is the empty set (any row = a real
    bitmap/hash bug)."""
    from py_schemax_spark.operators.decontam import (
        bloom_contamination_report,
        contamination_report,
    )

    d = _docs(spark, sf_dir)
    bench = d.filter(F.col("doc_id") % 97 == 0)
    exact = (
        contamination_report(d, bench, text_col="text", key_col="doc_id")
        .filter("contaminated")
        .select("doc_id")
    )
    maybe = (
        bloom_contamination_report(
            d, bench, text_col="text", key_col="doc_id"
        )
        .filter("contaminated_maybe")
        .select("doc_id")
    )
    return exact.join(maybe, "doc_id", "left_anti")


def q_mojibake(spark, sf_dir):
    """Encoding-anomaly scan with planted mojibake (the corpus is
    clean, so artifacts are planted as pure functions of doc_id with
    the identical chr() construction in the DuckDB oracle): Latin-1
    2-byte damage on doc_id % 41 == 3, cp1252 3-byte damage (curly
    quote) on % 43 == 5, U+FFFD on % 47 == 7, a bare C1 control on
    % 53 == 9. Both engines count with the same lookaround-free
    character-class patterns."""
    from py_schemax_spark.operators.normalize import encoding_anomalies

    d = _docs(spark, sf_dir)
    planted = d.select(
        "doc_id",
        F.concat(
            # coalesce BEFORE planting (null-propagating concat would
            # silently skip planting on null-text docs; the oracle
            # plants onto coalesce(text, '') identically)
            F.coalesce(F.col("text"), F.lit("")),
            F.when(
                F.col("doc_id") % 41 == 3,
                F.lit(" caf\u00c3\u00a9"),
            ).otherwise(F.lit("")),
            F.when(
                F.col("doc_id") % 43 == 5,
                F.lit(" \u00e2\u20ac\u2122"),
            ).otherwise(F.lit("")),
            F.when(
                F.col("doc_id") % 47 == 7, F.lit(" \ufffd")
            ).otherwise(F.lit("")),
            F.when(
                F.col("doc_id") % 53 == 9, F.lit(" \u0085")
            ).otherwise(F.lit("")),
        ).alias("text"),
    )
    return encoding_anomalies(planted, text_col="text", key_col="doc_id")


# planted foreign-script runs for q_script_profile — shared constant:
# the Spark side plants the literal string, the oracle renders the
# same codepoints as chr() calls (pure function of doc_id both sides)
_SCRIPT_PLANTS: dict[int, tuple[int, str]] = {
    # modulus: (remainder, planted text)
    31: (2, "привет"),          # Cyrillic
    37: (4, "你好世界"),                      # CJK
    41: (6, "مرحبا"),                # Arabic
    43: (8, "안녕"),                                  # Hangul
}


def q_vocab_stats(spark, sf_dir):
    """One-row corpus vocabulary report (total tokens, distinct types,
    hapax count, type-token / hapax / top-type shares in basis points)
    — the Zipf/coverage summary of the corpus. One token-granular
    aggregation with map-side combine + a bounded rollup; token
    contract shared with decontamination (lowercase, explicit
    whitespace class), so the oracle rebuilds the identical universe."""
    from py_schemax_spark.operators.textstats import vocab_stats

    return vocab_stats(_docs(spark, sf_dir), text_col="text")


def q_script_profile(spark, sf_dir):
    """Unicode script mix with planted foreign-script runs (the
    synthetic corpus is ASCII, so Cyrillic/CJK/Arabic/Hangul text is
    planted as pure functions of doc_id — the oracle renders the same
    codepoints via chr()). Five codegen regexp_count classes in ONE
    scan projection, zero exchanges; dominant script via a fixed-order
    CASE chain both engines share; 'mixed' = non-dominant mass >= 20%
    of dominant."""
    from py_schemax_spark.operators.textstats import script_profile

    d = _docs(spark, sf_dir)
    t = F.coalesce(F.col("text"), F.lit(""))
    for mod, (rem, s) in _SCRIPT_PLANTS.items():
        t = F.concat(
            t,
            F.when(F.col("doc_id") % mod == rem, F.lit(" " + s)).otherwise(
                F.lit("")
            ),
        )
    planted = d.select("doc_id", t.alias("text"))
    return script_profile(planted, text_col="text", key_col="doc_id")


def q_benford(spark, sf_dir):
    """Benford first-digit screen over n_chars: per-digit observed vs
    expected basis points with signed deviation — the fabricated/
    templated-numeric-column detector. ONE aggregation to ≤ 9 digit
    groups (map-side combine), everything else on 9 rows. The
    synthetic length column legitimately deviates from Benford — the
    operator reports, the spec judges — so every digit row carries a
    meaningful nonzero dev_bp."""
    from py_schemax_spark.operators.profile import benford_check

    return benford_check(_docs(spark, sf_dir), "n_chars")


def q_dup_rate(spark, sf_dir):
    """Per-source exact-duplication rate with planted boilerplate (the
    corpus texts are distinct, so doc_id % 6 == 5 rows collapse to one
    per-source parked-page string — same CASE in the oracle): the
    crawl-health rollup a validator thresholds per snapshot. Two
    stacked map-side-combined aggregations — (source, md5) then
    source; output bounded by source count."""
    from py_schemax_spark.operators.profile import dup_rate_by_group

    d = _docs(spark, sf_dir).withColumn(
        "text",
        F.when(
            F.col("doc_id") % 6 == 5,
            F.concat(F.lit("parked page "), F.col("source")),
        ).otherwise(F.col("text")),
    )
    return dup_rate_by_group(d, "source", "text")


def q_canonical_dedup(spark, sf_dir):
    """Canonical-URL duplicate groups: each doc pair (2k, 2k+1) is
    crawled under two decorated spellings of the same page — uppercase
    scheme/host, userinfo, www., default :443 port, trailing slash,
    shuffled query params, utm_* tracking tags, a fragment, a trailing
    empty param — and the canonicalizer must collapse BOTH to the one
    canonical string the oracle computes in closed form. Scan-fused
    projection + ONE map-side-combined aggregation; no join."""
    from py_schemax_spark.functions.urls import canonical_dedup_report

    d = _docs(spark, sf_dir).filter(F.col("doc_id").isNotNull())
    k = F.expr("doc_id div 2")  # integral, no float rounding ever
    host = F.concat(F.lit("d"), (k % 97).cast("string"))
    even = F.concat(
        F.lit("HTTPS://crawler:pw@WWW."), F.upper(host),
        F.lit(".Example.ORG:443/p/"), k.cast("string"),
        F.lit("/?b=2&a=1&utm_source=feed&#frag"),
    )
    odd = F.concat(
        F.lit("https://"), host, F.lit(".example.org/p/"),
        k.cast("string"), F.lit("?a=1&b=2"),
    )
    url = F.when(F.col("doc_id") % 2 == 0, even).otherwise(odd)
    return canonical_dedup_report(
        d.withColumn("url", url), "url", "doc_id"
    )


def q_row_diff(spark, sf_dir):
    """Row-level snapshot diff with planted mutations (shared
    arithmetic both engines): doc_id % 13 == 3 rows removed,
    % 17 == 4 flip lang, % 19 == 6 bump n_chars (rows hit by both
    report 'lang,n_chars' in compare-column order), % 23 == 1 rows
    re-appear shifted +1e6 (added). ONE key-granular full-outer
    sort-merge join — the minimum a row diff needs; bucketed
    snapshots would run it shuffle-free."""
    from py_schemax_spark.operators.integrity import row_diff

    prev = _docs(spark, sf_dir).filter(F.col("doc_id").isNotNull())
    base = (
        prev.filter(F.col("doc_id") % 13 != 3)
        .withColumn(
            "lang",
            F.when(F.col("doc_id") % 17 == 4, F.lit("xx")).otherwise(
                F.col("lang")
            ),
        )
        .withColumn(
            "n_chars",
            F.when(
                F.col("doc_id") % 19 == 6, F.col("n_chars") + 1
            ).otherwise(F.col("n_chars")),
        )
    )
    cur = base.unionByName(
        prev.filter(F.col("doc_id") % 23 == 1).withColumn(
            "doc_id", F.col("doc_id") + 1000000
        )
    )
    return row_diff(cur, prev, "doc_id")


def q_text_classifier(spark, sf_dir):
    """fastText-style hashed-feature linear scoring over the corpus:
    unigram+bigram terms, bucket = md5-hex-prefix % 2^18, planted
    integer weight formula (bucket % 997 - 498) so the score — not
    just the label — is engine-exact. ONE ArrowEvalPython projection,
    ZERO exchanges (plan-asserted in tests); the oracle rebuilds the
    identical term/bucket/weight universe in SQL."""
    from py_schemax_spark.operators.classifier import (
        linear_text_classifier,
    )

    return linear_text_classifier(
        _docs(spark, sf_dir), n_buckets=1 << 18, word_ngrams=2
    )


def q_classifier_eval(spark, sf_dir):
    """Integer-exact confusion/precision/recall of the hashed
    classifier against planted truth labels (doc_id % 7 < 3, nulled
    where doc_id % 37 == 11 to exercise the null policy): the
    calibration gate a pipeline runs before shipping a retrained
    quality filter. One aggregation to a single row."""
    from py_schemax_spark.operators.classifier import (
        confusion_report,
        linear_text_classifier,
    )

    scored = linear_text_classifier(
        _docs(spark, sf_dir), n_buckets=1 << 18, word_ngrams=2
    )
    labeled = scored.select(
        F.col("label").alias("pred"),
        F.when(F.col("doc_id") % 37 == 11, F.lit(None).cast("boolean"))
        .otherwise(F.col("doc_id") % 7 < 3)
        .alias("truth"),
    )
    return confusion_report(labeled, "pred", "truth")


def q_domain_graph(spark, sf_dir):
    """Domain-level link graph degrees from raw html: planted hrefs
    (one per doc to s{(7k+1)%24}.example.org, a second for k%3==0 to
    s{(13k+5)%24}.example.org, a relative link for k%11==0 that
    absolute-only filtering must drop) → regexp outlink extraction →
    weighted domain graph → per-domain in/out degrees. The oracle
    computes every domain in closed form from doc_id, so an
    extraction or host-parsing bug hash-mismatches."""
    from py_schemax_spark.operators.linkgraph import (
        domain_degrees,
        domain_graph,
        extract_outlinks,
    )

    d = _docs(spark, sf_dir)
    k = F.col("doc_id")
    link1 = F.concat(
        F.lit('<a href="https://s'),
        ((k * 7 + 1) % 24).cast("string"),
        F.lit(".example.org/p/"),
        (k % 5).cast("string"),
        F.lit('">x</a>'),
    )
    link2 = F.when(
        k % 3 == 0,
        F.concat(
            F.lit("<a href='https://s"),
            ((k * 13 + 5) % 24).cast("string"),
            F.lit(".example.org/q'>y</a>"),
        ),
    ).otherwise(F.lit(""))
    rel = F.when(
        k % 11 == 0, F.lit('<a href="/local/x">r</a>')
    ).otherwise(F.lit(""))
    pages = d.select(
        F.concat(
            F.lit("https://"), F.col("source"),
            F.lit(".example.org/doc/"), k.cast("string"),
        ).alias("url"),
        F.concat(
            F.lit("<html><body>"), link1, link2, rel,
            F.lit("</body></html>"),
        ).alias("html"),
    )
    return domain_degrees(domain_graph(extract_outlinks(pages)))


def q_pagerank(spark, sf_dir):
    """Integer fixed-point PageRank (3 iterations, scale 10^6,
    damping 0.85) over a planted 40-node graph derived from doc_id —
    every rank engine-exact, oracled against a 3-level unrolled
    DuckDB CTE computing the identical floor-div recurrence."""
    from py_schemax_spark.operators.linkgraph import pagerank

    d = _docs(spark, sf_dir)
    k = F.col("doc_id")
    e1 = d.select(
        (k % 40).alias("src"), ((k * 7 + 1) % 40).alias("dst")
    )
    e2 = d.filter(k % 2 == 0).select(
        (k % 40).alias("src"), ((k * 13 + 5) % 40).alias("dst")
    )
    edges = e1.union(e2).filter(F.col("src") != F.col("dst"))
    return pagerank(edges, iters=3)


def q_trustrank(spark, sf_dir):
    """Personalized PageRank (TrustRank) over the same planted
    40-node graph as `pagerank`, seeds = nodes divisible by 5 —
    teleportation restricted to the trusted set, every rank
    engine-exact, oracled against a 3-level unrolled DuckDB CTE with
    the seed-gated base term."""
    from py_schemax_spark.operators.linkgraph import personalized_pagerank

    d = _docs(spark, sf_dir)
    k = F.col("doc_id")
    e1 = d.select(
        (k % 40).alias("src"), ((k * 7 + 1) % 40).alias("dst")
    )
    e2 = d.filter(k % 2 == 0).select(
        (k % 40).alias("src"), ((k * 13 + 5) % 40).alias("dst")
    )
    edges = e1.union(e2).filter(F.col("src") != F.col("dst"))
    seeds = (
        d.select((k % 40).alias("node"))
        .filter(F.col("node") % 5 == 0)
        .distinct()
    )
    return personalized_pagerank(edges, seeds, iters=3)


def q_frontier(spark, sf_dir):
    """Frontier expansion over planted candidates: each doc pair
    (2k, 2k+1) references the same page under two decorated
    spellings (the `canonical_dedup` plant — n_refs 2 after
    collapse), doc_id%10==0 adds a fresh single-reference URL, and
    doc_id%7==3 contributes a null candidate (dropped). The seen set
    is the k%4==0 pages under a THIRD decorated spelling (www. +
    uppercase host), so both sides must canonicalize for the
    anti-join to land. Oracle enumerates the surviving frontier in
    closed form."""
    from py_schemax_spark.operators.frontier import build_frontier

    d = _docs(spark, sf_dir).filter(F.col("doc_id").isNotNull())
    did = F.col("doc_id")
    k = F.expr("doc_id div 2")
    host = F.concat(F.lit("d"), (k % 97).cast("string"))
    even = F.concat(
        F.lit("HTTPS://crawler:pw@WWW."), F.upper(host),
        F.lit(".Example.ORG:443/p/"), k.cast("string"),
        F.lit("/?b=2&a=1&utm_source=feed&#frag"),
    )
    odd = F.concat(
        F.lit("https://"), host, F.lit(".example.org/p/"),
        k.cast("string"), F.lit("?a=1&b=2"),
    )
    pair = d.select(
        F.when(did % 2 == 0, even).otherwise(odd).alias("url")
    )
    extra = d.filter(did % 10 == 0).select(
        F.concat(F.lit("https://new.example.org/s/"),
                 did.cast("string")).alias("url")
    )
    nulls = d.filter(did % 7 == 3).select(
        F.lit(None).cast("string").alias("url")
    )
    candidates = pair.union(extra).union(nulls)
    seen = d.filter((k % 4 == 0) & (did % 2 == 0)).select(
        F.concat(
            F.lit("https://WWW."), F.upper(host),
            F.lit(".example.org/p/"), k.cast("string"),
            F.lit("?a=1&b=2"),
        ).alias("url")
    )
    return build_frontier(candidates, seen)


def q_corpus_report(spark, sf_dir):
    """One-row corpus datasheet with planted PII (doc_id%23==9 gains
    an email) so the incidence term is non-trivially exercised; every
    statistic is an exact integer the oracle recomputes from the same
    table."""
    from py_schemax_spark.operators.profile import corpus_report

    d = _docs(spark, sf_dir)
    planted = F.when(
        F.col("doc_id") % 23 == 9,
        F.concat(F.col("text"), F.lit(" contact op@example.org now")),
    ).otherwise(F.col("text"))
    return corpus_report(d.withColumn("text", planted))


def q_bpe_pairs(spark, sf_dir):
    """Round-1 BPE pair counts over the top-200 word-frequency table
    (cap tie-break exercised) — the SQL-reproducible half of BPE
    training; the iterative merge sequence is the rows-only
    `bpe_merges` twin pinned by the pytest python-twin."""
    from py_schemax_spark.operators.bpe import bpe_pair_counts

    d = _docs(spark, sf_dir)
    return bpe_pair_counts(d, top_words=200)


def q_bpe_merges(spark, sf_dir):
    """First 8 learned BPE merges on the same capped word table —
    rows-only by design (the merge loop is iterative; its reference
    is the pure-Python twin in tests/test_bpe.py)."""
    from py_schemax_spark.operators.bpe import train_bpe

    d = _docs(spark, sf_dir)
    return train_bpe(d, n_merges=8, top_words=200)


def q_funnel(spark, sf_dir):
    """view → click → purchase conversion funnel over the events
    table; the oracle rebuilds the greedy subsequence match with
    chained first-occurrence-after joins over a row_number ordering
    identical to the engine's (ts, event_id) sort."""
    from py_schemax_spark.operators.funnel import funnel_report

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    return funnel_report(ev, ("view", "click", "purchase"))


def q_retention(spark, sf_dir):
    """Day-grain cohort retention over the events table (offset capped
    at 30 days); the oracle mirrors the null-safe cohort join and the
    anonymous-cohort counting term exactly."""
    from py_schemax_spark.operators.retention import retention_cohorts

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    return retention_cohorts(ev, max_offset_days=30)


def q_missing_days(spark, sf_dir):
    """Ingest-completeness check over events with planted holes
    (days-of-month ≡ 2 mod 5 filtered out BEFORE the check, shared
    expression both engines); the oracle rebuilds the calendar with
    generate_series and EXCEPTs the observed days."""
    from py_schemax_spark.operators.integrity import missing_partitions

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    kept = ev.filter(
        F.col("ts").isNotNull() & (F.dayofmonth(F.col("ts")) % 5 != 2)
    )
    return missing_partitions(kept, ts_col="ts")


def q_fk_cardinality(spark, sf_dir):
    """Orders whose lineitem count falls outside [1, 4] — parents
    with zero children (planted: every 97th order's lineitems
    dropped) or runaway child sets (TPC-H orders carry up to 7).
    Oracle recomputes counts + verdicts in plain SQL."""
    from py_schemax_spark.operators.integrity import (
        fk_cardinality_violations,
    )

    orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet").filter(
        F.col("l_orderkey") % 97 != 0
    )
    return fk_cardinality_violations(
        orders, li, "o_orderkey", "l_orderkey",
        min_children=1, max_children=4,
    )


def q_anchor_profile(spark, sf_dir):
    """Per-target anchor-text profiles over planted markup: hub pages
    accumulate identical 'go to h' labels across referrers, %3==0
    docs add singleton deep links, and %6==1 docs contribute an
    ELEMENTFUL (empty-text) anchor to one shared target — counted in
    n_refs, excluded from top_anchors. Oracle states every profile in
    closed form; both engines render top_anchors with to_json."""
    from py_schemax_spark.operators.linkgraph import (
        anchor_text_profile,
        extract_anchors,
    )

    d = _docs(spark, sf_dir)
    did = F.col("doc_id")
    hub = (did % 7).cast("string")
    html = F.concat(
        F.lit('<p>x</p><a href="https://t'), hub,
        F.lit('.org/a">go to '), hub, F.lit(" </a>"),
        F.when(
            did % 3 == 0,
            F.concat(F.lit('<a href="https://u.org/'),
                     did.cast("string"), F.lit('">deep link</a>')),
        ).otherwise(F.lit("")),
        F.when(
            did % 6 == 1,
            F.lit('<a href="https://e.org/x"><img/></a>'),
        ).otherwise(F.lit("")),
    )
    anchors = extract_anchors(
        d.select("doc_id", html.alias("html")), url_col="doc_id"
    )
    return anchor_text_profile(anchors, top_k=3).withColumn(
        "top_anchors", F.to_json("top_anchors")
    )


def q_hits(spark, sf_dir):
    """Unnormalized integer HITS (2 iterations, scale 10^3) over the
    planted 40-node graph — hubs and authorities engine-exact,
    oracled against a 2-level unrolled DuckDB CTE of the identical
    integer recurrence."""
    from py_schemax_spark.operators.linkgraph import hits

    d = _docs(spark, sf_dir)
    k = F.col("doc_id")
    e1 = d.select(
        (k % 40).alias("src"), ((k * 7 + 1) % 40).alias("dst")
    )
    e2 = d.filter(k % 2 == 0).select(
        (k % 40).alias("src"), ((k * 13 + 5) % 40).alias("dst")
    )
    edges = e1.union(e2).filter(F.col("src") != F.col("dst"))
    return hits(edges, iters=2)


def q_stats_merge(spark, sf_dir):
    """Incremental stats: two snapshot manifests (doc_id parity
    halves) merged WITHOUT rescanning data; exact fields oracled
    against a direct full-table SQL recomputation (the HLL
    incremental==batch identity is pytested — a sketch cannot
    hash-oracle against DuckDB)."""
    from py_schemax_spark.sources.stats_manifest import (
        merge_stats_manifests,
        stats_manifest,
    )

    d = _docs(spark, sf_dir)
    m = stats_manifest(d.filter("doc_id % 2 = 0"), snapshot_id="even") \
        .union(stats_manifest(d.filter("doc_id % 2 = 1"),
                              snapshot_id="odd"))
    return merge_stats_manifests(m).drop("approx_distinct")


def q_group_quantiles(spark, sf_dir):
    """Per-lang n_chars quantiles on the EXACT interpolated path
    (bounded groups at sf scale) — oracled against DuckDB
    quantile_cont, same definition, 4-decimal rounding. The
    approx_percentile sketch path is the production default
    (rows-only by nature)."""
    from py_schemax_spark.operators.profile import group_quantiles

    d = _docs(spark, sf_dir)
    return group_quantiles(
        d, "lang", "n_chars", qs=(0.5, 0.9, 0.99), exact=True
    )


# --- curate_e2e plant constants (shared VERBATIM with the oracle;
# plain printable ASCII without quotes so they splice into SQL string
# literals directly) ---------------------------------------------------------
_CUR_HDR = "NAVIGATION MENU HOME"
_CUR_FTR = "COPYRIGHT FOOTER NOTICE"
_CUR_SENT = " It is a good page. It is a fine page. It is the best page."
def _curate_planted(spark, sf_dir):
    """Deterministic curation corpus: every doc gets a boilerplate
    header/footer line (line-dedup fodder once they recur in ≥30
    surviving docs) and a 3-sentence suffix (C4 needs sentences; the
    raw corpus text has none). Plant classes make each stage
    discriminative: doc_id%8==7 copies the doc_id-4 partner's body
    (exact-dedup pairs — same %4 class, so partners share every
    content-level verdict, and REAL corpus text, so their DSIR score
    is typical; a planted out-of-domain passage scored below every
    genuine doc and could never reach the dedup stage); doc_id%4==1
    appends two ellipsis lines (Gopher ellipsis_bp fail); doc_id%4==2
    appends ' lorem ipsum' (C4 fail); word-count pass/fail falls out
    of the natural 10-99-word length spread (+24 planted words vs the
    ≥50 Gopher floor). URLs reuse the q_robots path planting so the
    robots stage drops its closed-form subset."""
    d = _docs(spark, sf_dir)
    did = F.col("doc_id")
    partner = d.select(
        (F.col("doc_id") + 4).alias("doc_id"),
        F.col("text").alias("_ptext"),
    )
    d = d.join(partner, "doc_id", "left")
    src_text = F.when(
        (did % 8 == 7) & F.col("_ptext").isNotNull(), F.col("_ptext")
    ).otherwise(F.col("text"))
    content = F.concat(src_text, F.lit(_CUR_SENT))
    body = (
        F.when(did % 4 == 1,
               F.concat(content, F.lit("\nloading...\nread more...")))
        .when(did % 4 == 2, F.concat(content, F.lit(" lorem ipsum")))
        .otherwise(content)
    )
    text = F.concat(
        F.lit(_CUR_HDR + "\n"), body, F.lit("\n" + _CUR_FTR)
    )
    path = (
        F.when(did % 5 == 0,
               F.concat(F.lit("/private/"), did.cast("string")))
        .when(did % 5 == 1,
              F.concat(F.lit("/private/ok/"), did.cast("string")))
        .when(did % 5 == 2,
              F.concat(F.lit("/tmp/"), did.cast("string")))
        .otherwise(F.concat(F.lit("/doc/"), did.cast("string")))
    )
    url = F.concat(
        F.lit("https://"), F.col("source"), F.lit(".example.org"), path
    )
    return d.select(
        "doc_id", text.alias("text"), "lang", "source", "n_chars",
        url.alias("url"),
    )


def q_curate_e2e(spark, sf_dir):
    """The flagship curation journey as ONE hash-green row (VERDICT
    r04 next-round #9): robots → quality (Gopher∧C4) → DSIR selection
    → CCNet line dedup → exact keep-first dedup via `run_curation`,
    then a training-shard plan over the survivors. Output is the final
    survivor set ``(doc_id, n_units, offset, shard_id, final_md5)``
    with ``final_md5`` the md5 of the fully-rewritten text — a bug in
    ANY stage's filter, rewrite, model, or ordering breaks the hash.
    The oracle recomputes the whole chain as chained CTEs (each
    stage's already-proven SQL twin re-targeted at the previous
    stage's survivor set)."""
    from py_schemax_spark.curate import CurationConfig, run_curation
    from py_schemax_spark.operators.robots import parse_robots
    from py_schemax_spark.sources.shards import plan_shards

    d = _curate_planted(spark, sf_dir)
    # robots bodies: same planting as q_robots (closed-form verdicts)
    src_num = F.regexp_extract("source", r"(\d+)$", 1).cast("int")
    star_block = (
        "User-agent: badbot\nDisallow: /\n\n# synthetic robots\n"
        "User-agent: *\nDisallow: /private/\nAllow: /private/ok\n"
    )
    robots = (
        d.select("source").distinct()
        .select(
            F.concat(F.col("source"), F.lit(".example.org")).alias("domain"),
            F.concat(
                F.when(
                    src_num % 7 == 3,
                    F.lit("User-agent: mybot\nDisallow: /doc/\n\n"),
                ).otherwise(F.lit("")),
                F.lit(star_block),
                F.when(src_num % 2 == 0, F.lit("Disallow: /tmp/\n"))
                .otherwise(F.lit("")),
            ).alias("robots_txt"),
        )
    )
    target = d.filter(F.col("doc_id") % 7 == 0).select("doc_id", "text")
    cfg = CurationConfig(
        key_col="doc_id", text_col="text", lang_col="lang",
        url_col="url",
        steps=("robots", "quality", "dsir", "lines", "exact_dedup"),
        min_line_docs=30,
        # lam units are ln×10^6 fixed point, so per-kterm scores land
        # around ±10^8; -7×10^7 keeps ~65% of quality
        # survivors incl. duplicate pairs for the dedup stage to
        # collapse (measured at sf0.001 and sf0.01)
        dsir_threshold_per_kterm=-70_000_000,
        dsir_buckets=1024,
    )
    out, _rep = run_curation(
        d, cfg,
        robots_rules=parse_robots(robots, user_agent="mybot"),
        dsir_target=target,
        report=False,
    )
    sized = out.select(
        "doc_id",
        F.coalesce(
            F.regexp_count(F.col("text"), F.lit(r"[^ \t\n\r\f]+")),
            F.lit(0),
        ).cast("long").alias("n_units"),
        F.md5("text").alias("final_md5"),
    )
    plan = plan_shards(
        sized, key_col="doc_id", size_col="n_units",
        max_units_per_shard=40_000,
    )
    return plan.join(
        sized.select("doc_id", "final_md5"), "doc_id"
    ).select("doc_id", "n_units", "offset", "shard_id", "final_md5")


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """Ordered so the driver's 50-entry correctness window covers the
    queries that most need a fresh record. Round-5 policy (VERDICT r04
    next-round #1): (a) the steady-state set is CONSOLIDATED to ~106
    entries — redundant demo/variant queries folded into their kept
    twins (relational demos -> `pricing_summary`; `ann_pairs` ->
    `ann_pairs_blocked`; `image_meta`/`image_resize` ->
    `image_meta_ppm` + pytests; rows-only ANN variants `ann_lsh`/
    `ann_ivf`/`ann_pq`/`ann_ivfpq` -> their oracled containment/exact
    twins + recall pytests; `minhash_candidates`/`ngram_jaccard_lsh`
    -> `minhash_containment`/`ngram_jaccard`; `stats_salted` ->
    `stats_salted_exact`; `drift_psi` -> `drift_buckets`/`drift_ks`;
    `hourly_events`/`top_event_by_user`/`sessions`/`domain_stats`/
    `top_tokens`/`stopword_bp`/`punct_bp` -> the sessionize/funnel/
    retention/corpus_report/vocab_stats/quality family) so the whole
    set fits ~2 windows; (b) the window leads with `curate_e2e` (the
    new flagship chain) followed by the 26-minus-consolidated queries
    that had NO driver record across r01-r04 (positions 51-76 last
    round), then queries TOUCHED by round-5 changes (Bloom rebuild,
    MG batch merge, ANN guards, CC byte gate, cardinality persist,
    manifest int extrema) plus the §2-core validation set. Block 2
    (below the boundary) = everything with driver-green history,
    each green in >=1 of the r01-r04 driver records or twinned
    above."""
    return {
        # ---- window block A: the flagship chain + every query owed
        # its FIRST driver record (r04 verdict #1/#9) ----
        "curate_e2e": q_curate_e2e,
        "dsir": q_dsir,
        "main_content": q_main_content,
        "shard_plan": q_shard_plan,
        "sitemap": q_sitemap,
        "trustrank": q_trustrank,
        "frontier": q_frontier,
        "corpus_report": q_corpus_report,
        "bpe_pairs": q_bpe_pairs,
        "bpe_merges": q_bpe_merges,
        "funnel": q_funnel,
        "retention": q_retention,
        "missing_days": q_missing_days,
        "fk_cardinality": q_fk_cardinality,
        "anchor_profile": q_anchor_profile,
        "hits": q_hits,
        "stats_merge": q_stats_merge,
        "group_quantiles": q_group_quantiles,
        "html_meta": q_html_meta,
        "card_scan": q_card_scan,
        "inverted_index": q_inverted_index,
        "anchors": q_anchors,
        "lang_agreement": q_lang_agreement,
        "semdedup": q_semdedup,
        "semdedup_containment": q_semdedup_containment,
        # ---- window block B: queries touched by round-5 changes +
        # the §2-core validation set (fresh confirmation after the
        # Bloom/MG/ANN/CC/cardinality/manifest edits) ----
        "bloom_decontam": q_bloom_decontam,
        "approx_heavy_hitters": q_approx_heavy_hitters,
        "heavy_hitters": q_heavy_hitters,
        "dedup_clusters": q_dedup_clusters,
        "ann_topk": q_ann_topk,
        "ann_pairs_blocked": q_ann_pairs_blocked,
        "ann_lsh_containment": q_ann_lsh_containment,
        "ann_ivf_exact": q_ann_ivf_exact,
        "ann_pq_exact": q_ann_pq_exact,
        "ann_ivfpq_exact": q_ann_ivfpq_exact,
        "minhash_containment": q_minhash_containment,
        "line_dedup": q_line_dedup,
        "exact_dedup": q_exact_dedup,
        "decontam": q_decontam,
        "stats": q_stats,
        "stats_salted_exact": q_stats_salted_exact,
        "row_violations": q_row_violations,
        "referential": q_referential,
        "referential_large_dim": q_referential_large_dim,
        "uniqueness": q_uniqueness,
        "extraction": q_extraction,
        "quantiles": q_quantiles,
        "drift_ks": q_drift_ks,
        "sessionize": q_sessionize,
        # frame_sample moved IN-window in round 5: its contract is new
        # (real AVI decode + per-frame stats, first-ever oracle), so
        # it needs a first driver record under the new schema;
        # ngram_jaccard (driver-green r02 AND r03) rotated below
        "frame_sample": q_frame_sample,
        # ---- 50-entry window boundary ----
        # every entry below has >=1 green row in the r01-r04 driver
        # records (verify by unioning CORRECTNESS_r01-r04.json), or is
        # a rows-only variant whose oracled twin sits above
        "audio_meta": q_audio_meta,
        "robots": q_robots,
        "domain_blocklist": q_domain_blocklist,
        "domain_graph": q_domain_graph,
        "pagerank": q_pagerank,
        "text_classifier": q_text_classifier,
        "classifier_eval": q_classifier_eval,
        "benford": q_benford,
        "dup_rate": q_dup_rate,
        "canonical_dedup": q_canonical_dedup,
        "row_diff": q_row_diff,
        "domain_cap": q_domain_cap,
        "mojibake": q_mojibake,
        "vocab_stats": q_vocab_stats,
        "script_profile": q_script_profile,
        "monotonicity": q_monotonicity,
        "volume_anomaly": q_volume_anomaly,
        "fd_check": q_fd_check,
        "substring_dedup": q_substring_dedup,
        "categorical_tv": q_categorical_tv,
        "mad_outliers": q_mad_outliers,
        "conditional_checks": q_conditional_checks,
        "sequence_gaps": q_sequence_gaps,
        "snapshot_reconcile": q_snapshot_reconcile,
        "pii_scan": q_pii_scan,
        "asof_purchase": q_asof_purchase,
        "hash_split": q_hash_split,
        "stratified_sample": q_stratified_sample,
        "chunk_documents": q_chunk_documents,
        "pack_chunks": q_pack_chunks,
        "keywords": q_keywords,
        "html_profile": q_html_profile,
        "unigram_logprob": q_unigram_logprob,
        "url_features": q_url_features,
        "gopher_quality": q_gopher_quality,
        "c4_filters": q_c4_filters,
        "normalize": q_normalize,
        "url_blocklist": q_url_blocklist,
        "corpus_mix": q_corpus_mix,
        "ccnet_buckets": q_ccnet_buckets,
        "pages_violations": q_pages_violations,
        "datetime_conformance": q_datetime_conformance,
        "tz_conformance": q_tz_conformance,
        "drift_grid_accuracy": q_drift_grid_accuracy,
        "simhash": q_simhash,
        "repetition_profile": q_repetition_profile,
        "image_meta_ppm": q_image_meta_ppm,
        "passage_dedup": q_passage_dedup,
        "dedup_keep_first": q_dedup_keep_first,
        "token_counts": q_token_counts,
        "lang_id": q_lang_id,
        "fingerprint": q_fingerprint,
        "drift_buckets": q_drift_buckets,
        "ngram_jaccard": q_ngram_jaccard,
        "quality_topk_per_lang": q_quality_topk_per_lang,
        "pricing_summary": q_pricing_summary,
    }


# ---------------------------------------------------------------------------
# oracle SQL (DuckDB, views pre-registered)


def oracle_sql() -> dict[str, str]:
    stats_parts = []
    distinct_parts = []
    for col, typ in [
        ("doc_id", "num"), ("text", "str"), ("lang", "str"),
        ("source", "str"), ("n_chars", "num"),
    ]:
        stats_parts.append(
            f"SELECT '{col}' AS \"column\", 'count' AS metric, "
            f"CAST(count({col}) AS VARCHAR) AS value FROM documents"
        )
        stats_parts.append(
            f"SELECT '{col}', 'null_count', CAST(sum(CASE WHEN {col} IS NULL "
            f"THEN 1 ELSE 0 END) AS VARCHAR) FROM documents"
        )
        stats_parts.append(
            f"SELECT '{col}', 'min', CAST(min({col}) AS VARCHAR) FROM documents"
        )
        stats_parts.append(
            f"SELECT '{col}', 'max', CAST(max({col}) AS VARCHAR) FROM documents"
        )
        distinct_parts.append(
            f"SELECT '{col}', 'distinct', CAST(count(DISTINCT {col}) "
            f"AS VARCHAR) FROM documents"
        )
        if typ == "str":
            stats_parts.append(
                f"SELECT '{col}', 'min_length', CAST(min(length({col})) "
                f"AS VARCHAR) FROM documents"
            )
            stats_parts.append(
                f"SELECT '{col}', 'max_length', CAST(max(length({col})) "
                f"AS VARCHAR) FROM documents"
            )
            stats_parts.append(
                f"SELECT '{col}', 'avg_length', CAST(round(avg(length({col})), 4) "
                f"AS VARCHAR) FROM documents"
            )
        else:
            stats_parts.append(
                f"SELECT '{col}', 'sum', CAST(sum({col}) AS VARCHAR) "
                f"FROM documents"
            )
            stats_parts.append(
                f"SELECT '{col}', 'avg', CAST(round(avg({col}), 4) AS VARCHAR) "
                f"FROM documents"
            )
    # plain stats = exact metrics + exact distinct; the salted
    # production path is oracled on the exact metrics only (its
    # `distinct` is an HLL estimate)
    stats_sql = " UNION ALL ".join(stats_parts + distinct_parts)
    stats_salted_exact_sql = " UNION ALL ".join(stats_parts)

    row_viol_sql = """
SELECT CAST(doc_id AS VARCHAR) AS doc_id, 'text.min_length' AS constraint_id,
       'length=' || CAST(length(text) AS VARCHAR) AS observed,
       'length(text) >= 100' AS expected
FROM documents WHERE length(text) < 100
UNION ALL
SELECT CAST(doc_id AS VARCHAR), 'lang.pattern', substr(lang, 1, 256),
       'lang matches /^[a-z]{2}$/'
FROM documents WHERE NOT regexp_matches(lang, '^[a-z]{2}$')
UNION ALL
SELECT CAST(doc_id AS VARCHAR), 'n_chars.maximum',
       substr(CAST(n_chars AS VARCHAR), 1, 256), 'n_chars <= 500'
FROM documents WHERE n_chars > 500
UNION ALL
SELECT CAST(doc_id AS VARCHAR), 'doc_id.nullable', NULL,
       'doc_id is not nullable'
FROM documents WHERE doc_id IS NULL
UNION ALL
SELECT CAST(doc_id AS VARCHAR), 'text.nullable', NULL,
       'text is not nullable'
FROM documents WHERE text IS NULL
UNION ALL
SELECT CAST(doc_id AS VARCHAR), 'lang.nullable', NULL,
       'lang is not nullable'
FROM documents WHERE lang IS NULL
"""

    referential_sql = f"""
SELECT CAST(doc_id AS VARCHAR) AS doc_id,
       'lang.references' AS constraint_id,
       lang AS observed,
       'lang in lang_dim.lang' AS expected
FROM documents
WHERE lang IS NOT NULL
  AND lang NOT IN (SELECT lang FROM {_LANG_DIM_SQL})
"""

    uniqueness_sql = f"""
WITH {_DUP_SQL_CTE.strip()}
SELECT row_id,
       'doc_id.unique' AS constraint_id,
       CAST(doc_id AS VARCHAR) AS observed,
       'doc_id is unique; first occurrence wins' AS expected
FROM (
  SELECT row_id, doc_id,
         row_number() OVER (PARTITION BY doc_id ORDER BY copy, row_id) AS rn
  FROM dupdocs
) WHERE rn > 1
"""

    extraction_sql = f"""
WITH {PAGES_SQL_CTE.strip()}
SELECT url, ({EXTRACT_SQL} = text) AS ok FROM pages ORDER BY url
"""

    pages_viol_sql = f"""
WITH {PAGES_SQL_CTE.strip()}
SELECT url, 'text.min_length' AS constraint_id,
       'length=' || CAST(length(text) AS VARCHAR) AS observed,
       'length(text) >= 100' AS expected
FROM pages WHERE length(text) < 100
"""

    exact_dedup_sql = f"""
WITH {_DUP_SQL_CTE.strip()}
SELECT md5({_NORM_SQL}) AS text_md5,
       min(row_id) AS keeper,
       count(*) AS n_copies
FROM dupdocs
WHERE text IS NOT NULL
GROUP BY 1 HAVING count(*) > 1
"""

    datetime_conformance_sql = r"""
WITH d AS (
  SELECT event_id,
         CASE WHEN event_id % 101 = 0 THEN 'not-a-date'
              WHEN event_id % 97 = 0 THEN strftime(ts, '%Y-%m-%dT%H:%M:%S')
              ELSE strftime(ts, '%Y-%m-%d %H:%M:%S') END AS ts_str,
         strftime(ts, '%Y-%m-%d %H:%M:%S') ||
           CASE WHEN event_id % 89 = 0 THEN '+02:00' ELSE 'Z' END AS ts_tz
  FROM events
)
SELECT CAST(event_id AS VARCHAR) AS event_id,
       'ts_str.type' AS constraint_id,
       substr(ts_str, 1, 256) AS observed,
       'value castable to datetime' AS expected
FROM d WHERE ts_str IS NOT NULL AND TRY_CAST(ts_str AS TIMESTAMP) IS NULL
UNION ALL
SELECT CAST(event_id AS VARCHAR), 'ts_str.format', substr(ts_str, 1, 256),
       'ts_str parses with format ''%Y-%m-%d %H:%M:%S'''
FROM d WHERE ts_str IS NOT NULL
        AND TRY_CAST(ts_str AS TIMESTAMP) IS NOT NULL
        AND try_strptime(ts_str, '%Y-%m-%d %H:%M:%S') IS NULL
UNION ALL
SELECT CAST(event_id AS VARCHAR), 'ts_tz.type', substr(ts_tz, 1, 256),
       'value castable to datetime'
FROM d WHERE ts_tz IS NOT NULL AND TRY_CAST(ts_tz AS TIMESTAMP) IS NULL
UNION ALL
SELECT CAST(event_id AS VARCHAR), 'ts_tz.timezone', substr(ts_tz, 1, 256),
       'ts_tz carries timezone UTC'
FROM d WHERE ts_tz IS NOT NULL
        AND NOT regexp_matches(ts_tz, '(Z|\+00:?00)$')
"""

    quantiles_sql = """
SELECT CAST(floor(quantile_cont(n_chars, 0.25) * 10000) AS BIGINT) AS p25,
       CAST(floor(quantile_cont(n_chars, 0.50) * 10000) AS BIGINT) AS p50,
       CAST(floor(quantile_cont(n_chars, 0.75) * 10000) AS BIGINT) AS p75,
       CAST(floor(quantile_cont(n_chars, 0.95) * 10000) AS BIGINT) AS p95
FROM documents
"""

    drift_buckets_sql = """
SELECT CAST(floor(n_chars / 50) AS BIGINT) AS bucket, count(*) AS cnt
FROM documents GROUP BY 1
"""

    passage_dedup_sql = f"""
WITH {_DUP_SQL_CTE.strip()},
t AS (
  SELECT row_id, string_split_regex(trim(text), '\\s+') AS toks
  FROM dupdocs WHERE text IS NOT NULL
),
p AS (
  SELECT row_id,
         unnest(list_transform(
             range(0, CAST(floor(len(toks) / 20) AS BIGINT)),
             i -> array_to_string(toks[(i*20+1):(i*20+20)], ' '))) AS passage
  FROM t
)
SELECT md5(passage) AS passage_md5,
       count(DISTINCT row_id) AS n_docs,
       count(*) AS n_occurrences,
       min(row_id) AS keeper
FROM p GROUP BY 1 HAVING count(DISTINCT row_id) > 1
"""

    dedup_keep_first_sql = f"""
WITH {_DUP_SQL_CTE.strip()}
SELECT row_id FROM (
  SELECT row_id,
         row_number() OVER (PARTITION BY md5({_NORM_SQL})
                            ORDER BY row_id ASC) AS rn
  FROM dupdocs WHERE text IS NOT NULL
) WHERE rn = 1
"""


    quality_topk_sql = r"""
SELECT lang, doc_id, quality_bp, rank FROM (
  SELECT lang, doc_id,
         CAST(floor(len(list_filter(
                 string_split_regex(trim(lower(text)), '\s+'),
                 x -> x IN ('the', 'a', 'and', 'of', 'to'))) * 10000
               / len(string_split_regex(trim(lower(text)), '\s+')))
           AS BIGINT) AS quality_bp,
         row_number() OVER (
           PARTITION BY lang
           ORDER BY floor(len(list_filter(
                      string_split_regex(trim(lower(text)), '\s+'),
                      x -> x IN ('the', 'a', 'and', 'of', 'to'))) * 10000
                    / len(string_split_regex(trim(lower(text)), '\s+')))
                    DESC, doc_id ASC) AS rank
  FROM documents WHERE text IS NOT NULL AND lang IS NOT NULL
) WHERE rank <= 5
"""

    pricing_sql = """
SELECT l_returnflag, l_linestatus,
       CAST(sum(l_quantity) AS BIGINT) AS sum_qty,
       CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)) AS BIGINT)
         AS sum_price_cents,
       CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)
                * (100 - CAST(round(l_discount * 100) AS BIGINT))) AS BIGINT)
         AS revenue_cents_bp,
       count(*) AS n_rows
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
GROUP BY l_returnflag, l_linestatus
ORDER BY l_returnflag, l_linestatus
"""







    token_counts_sql = r"""
SELECT doc_id,
       len(string_split_regex(trim(text), '\s+')) AS n_tokens,
       length(text) AS n_chars_actual,
       CAST((SELECT sum(1 + CAST(floor((length(w) - 1) / 4) AS INT))
             FROM unnest(string_split_regex(trim(text), '\s+')) AS t(w))
            + (length(text) - length(regexp_replace(text, '[^\w\s]', '', 'g')))
            AS BIGINT) AS n_bpe_est
FROM documents
"""




    fingerprint_sql = f"""
SELECT doc_id, md5({_NORM_SQL}) AS fp FROM documents
"""

    # Byte-level shingle twin: the engine shingles over UTF-8 BYTES
    # (zero-padding texts shorter than 5 bytes to one window), so the
    # oracle maps text → hex(encode(t)) — pure ASCII, 2 chars per byte —
    # and takes hex 10-grams at odd offsets ≡ byte 5-grams, rpad'ing
    # with '0' (hex of the zero byte) to at least one window. Character
    # shingling would diverge on any multibyte text ('café' → 26 char
    # 5-grams vs 28 byte 5-grams) and on <5-char texts.
    jaccard_ctes = f"""{_DUP_SQL_CTE.strip()},
d AS (
  SELECT row_id, doc_id,
         rpad(hex(encode({_NORM_SQL})),
              CAST(greatest(strlen({_NORM_SQL}) * 2, 10) AS INTEGER), '0') AS h,
         greatest(strlen({_NORM_SQL}) - 4, 1) AS nw
  FROM dupdocs WHERE text IS NOT NULL
),
sh AS (
  SELECT row_id, doc_id,
         list_distinct(list_transform(range(1, nw + 1),
                                      i -> substr(h, 2*i - 1, 10))) AS s
  FROM d
),
cand AS (
  SELECT a.row_id AS key_a, b.row_id AS key_b, a.s AS sa, b.s AS sb
  FROM sh a JOIN sh b
    ON (a.doc_id // 10) = (b.doc_id // 10) AND a.row_id < b.row_id
),
j AS (
  SELECT key_a, key_b,
         len(list_intersect(sa, sb)) AS n_inter,
         len(list_distinct(list_concat(sa, sb))) AS n_union
  FROM cand
)"""

    ngram_jaccard_sql = f"""
WITH {jaccard_ctes}
SELECT key_a, key_b, n_inter, n_union,
       CAST(floor(n_inter * 10000.0 / n_union) AS BIGINT) AS jaccard_bp
FROM j WHERE round(n_inter * 1.0 / n_union, 4) >= 0.2
"""

    # dedup_clusters: transitive closure of the same verified pairs —
    # min reachable label over the symmetrized edge set (recursive CTE
    # with set-union dedup = guaranteed fixpoint), then every doc gets
    # its component min (or itself when untouched by any pair)
    dedup_clusters_sql = f"""
WITH RECURSIVE {jaccard_ctes},
prs AS (
  SELECT key_a, key_b FROM j
  WHERE round(n_inter * 1.0 / n_union, 4) >= 0.2
),
edges AS (
  SELECT key_a AS u, key_b AS v FROM prs
  UNION
  SELECT key_b AS u, key_a AS v FROM prs
),
reach(u, lbl) AS (
  SELECT u, u FROM edges
  UNION
  SELECT e.u, r.lbl FROM edges e JOIN reach r ON r.u = e.v
),
comp AS (SELECT u, min(lbl) AS cluster_id FROM reach GROUP BY u)
SELECT dd.row_id,
       coalesce(c.cluster_id, dd.row_id) AS cluster_id,
       (dd.row_id = coalesce(c.cluster_id, dd.row_id)) AS is_survivor
FROM dupdocs dd LEFT JOIN comp c ON c.u = dd.row_id
WHERE dd.text IS NOT NULL
"""

    # repetition_profile: same explode → two-level aggregation, all
    # counters integer-exact; top-token tie-break = min token at the
    # max per-doc frequency
    repetition_sql = r"""
WITH toks AS (
  SELECT doc_id, unnest(string_split_regex(trim(text), '\s+')) AS tok
  FROM documents WHERE text IS NOT NULL AND trim(text) <> ''
),
tc AS (SELECT doc_id, tok, count(*) AS c FROM toks GROUP BY 1, 2),
agg AS (
  SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_tokens,
         count(*) AS n_distinct, max(c) AS top_token_n
  FROM tc GROUP BY 1
),
top AS (
  SELECT tc.doc_id, min(tok) AS top_token
  FROM tc JOIN agg ON tc.doc_id = agg.doc_id AND tc.c = agg.top_token_n
  GROUP BY 1
)
SELECT a.doc_id, n_tokens, n_distinct,
       CAST(floor((n_tokens - n_distinct) * 10000.0 / n_tokens) AS BIGINT)
         AS dup_token_bp,
       top_token_n, top_token
FROM agg a JOIN top USING (doc_id)
"""

    # pii_scan: identical planted-PII expression, identical RE2/Java-
    # compatible patterns (imported from the operator module so the
    # two sides cannot drift), byte-exact redaction md5. Built by
    # concatenation — the patterns contain regex braces that f-strings
    # would mangle.
    from py_schemax_spark.operators.pii import PII_PATTERNS

    _pp = {k: p for k, p, _ in PII_PATTERNS}
    _planted_sql = (
        "text"
        " || CASE WHEN doc_id % 7 = 0 THEN ' contact user' ||"
        " CAST(doc_id AS VARCHAR) || '@example.com' ELSE '' END"
        " || CASE WHEN doc_id % 11 = 0 THEN ' from 10.0.' ||"
        " CAST(doc_id % 256 AS VARCHAR) || '.5' ELSE '' END"
        " || CASE WHEN doc_id % 13 = 0 THEN ' call +1 555 01' ||"
        " lpad(CAST(doc_id % 100 AS VARCHAR), 2, '0') || ' 0199'"
        " ELSE '' END"
    )
    pii_sql = (
        "WITH t AS (SELECT doc_id, "
        + _planted_sql
        + " AS t2 FROM documents),\n"
        "r AS (SELECT doc_id, t2,\n"
        "  regexp_replace(regexp_replace(regexp_replace(t2,\n"
        "    '" + _pp["email"] + "', '<EMAIL>', 'g'),\n"
        "    '" + _pp["ipv4"] + "', '<IP>', 'g'),\n"
        "    '" + _pp["phone"] + "', '<PHONE>', 'g') AS red FROM t)\n"
        "SELECT doc_id,\n"
        "  CAST(len(regexp_extract_all(t2, '" + _pp["email"]
        + "')) AS BIGINT) AS n_email,\n"
        "  CAST(len(regexp_extract_all(t2, '" + _pp["ipv4"]
        + "')) AS BIGINT) AS n_ipv4,\n"
        "  CAST(len(regexp_extract_all(t2, '" + _pp["phone"]
        + "')) AS BIGINT) AS n_phone,\n"
        "  CAST(length(red) AS BIGINT) AS redacted_len,\n"
        "  md5(red) AS redacted_md5\n"
        "FROM r"
    )

    # asof_purchase: DuckDB's native ASOF JOIN is the oracle for the
    # engine's union-and-carry implementation; the tolerance re-null
    # is a CASE on the matched timestamp (ASOF picks the nearest —
    # tolerance can only reject it, identical to the engine)
    asof_sql = """
WITH p AS (
  SELECT user_id, ts, max(event_id) AS purchase_id,
         arg_max(value, event_id) AS purchase_value
  FROM events WHERE event_type = 'purchase' GROUP BY 1, 2
),
l AS (SELECT event_id, user_id, ts, event_type FROM events
      WHERE event_type != 'purchase'),
j AS (
  SELECT l.event_id, l.user_id, l.ts, l.event_type, p.ts AS pts,
         p.purchase_id, p.purchase_value
  FROM l ASOF LEFT JOIN p ON l.user_id = p.user_id AND l.ts >= p.ts
)
SELECT event_id, user_id, ts, event_type,
       CASE WHEN pts >= ts - INTERVAL 24 HOUR THEN purchase_id END
         AS purchase_id,
       CASE WHEN pts >= ts - INTERVAL 24 HOUR THEN purchase_value END
         AS purchase_value
FROM j
"""

    # hash_split / stratified_sample: same md5-prefix buckets, same
    # cuts — 0.9 → int(0.9*65536) = 58982 = e666, 0.95 → f333,
    # 0.5 → 8000, 0.25 → 4000, 1.0 → 'g' (sorts after all hex)
    hash_split_sql = """
SELECT doc_id,
       CASE WHEN b < 'e666' THEN 'train'
            WHEN b < 'f333' THEN 'val'
            ELSE 'test' END AS split
FROM (SELECT doc_id,
             substr(md5(coalesce(CAST(doc_id AS VARCHAR), chr(1)) || 'r3'),
                    1, 4) AS b
      FROM documents)
"""

    stratified_sample_sql = """
SELECT doc_id, lang
FROM (SELECT doc_id, lang,
             substr(md5(coalesce(CAST(doc_id AS VARCHAR), chr(1)) || 's'),
                    1, 4) AS b
      FROM documents)
WHERE (lang = 'en' AND b < '8000')
   OR (lang = 'de' AND b < 'g')
   OR ((lang IS NULL OR lang NOT IN ('en', 'de')) AND b < '4000')
"""

    # decontamination: the SAME token/n-gram/md5 universe as the
    # engine's Arrow UDF (lowercase, \s+ split, drop empties, md5 of
    # the space-joined 8-gram), built in SQL. range(1, len-6) yields
    # i = 1..len-7, i.e. len-7 8-grams (list_slice is 1-based
    # inclusive); greatest(..., 1) empties the range for short docs.
    decontam_sql = r"""
WITH doks AS (
  SELECT doc_id,
         list_filter(string_split_regex(lower(text), '\s+'),
                     x -> x <> '') AS toks
  FROM documents
),
dng AS (
  SELECT doc_id,
         md5(array_to_string(list_slice(toks, i, i + 7), ' ')) AS h
  FROM doks, UNNEST(range(1, greatest(len(toks) - 6, 1))) AS t(i)
),
bh AS (SELECT DISTINCT h FROM dng WHERE doc_id % 97 = 0),
base AS (
  SELECT doc_id, coalesce(greatest(len(toks) - 7, 0), 0) AS n_total
  FROM doks
),
ov AS (
  SELECT doc_id, count(*) AS n_overlap
  FROM dng
  WHERE h IN (SELECT h FROM bh)
  GROUP BY doc_id
)
SELECT base.doc_id,
       n_total,
       coalesce(n_overlap, 0) AS n_overlap,
       coalesce(n_overlap, 0) > 0 AS contaminated
FROM base LEFT JOIN ov USING (doc_id)
"""

    # exact two-sample KS: same per-value counts → common grid →
    # integer cross-products; HUGEINT sums and `//` keep it bit-exact
    drift_ks_sql = """
WITH d AS (
  SELECT n_chars AS v, CAST(doc_id % 2 AS INT) AS grp
  FROM documents
  WHERE n_chars IS NOT NULL AND doc_id IS NOT NULL
),
counts AS (
  SELECT v,
         SUM(CASE WHEN grp = 0 THEN 1 ELSE 0 END) AS ca,
         SUM(CASE WHEN grp = 1 THEN 1 ELSE 0 END) AS cb
  FROM d GROUP BY v
),
cum AS (
  SELECT SUM(ca) OVER (ORDER BY v) AS cuma,
         SUM(cb) OVER (ORDER BY v) AS cumb
  FROM counts
),
tot AS (SELECT SUM(ca) AS na, SUM(cb) AS nb FROM counts)
SELECT CAST(tot.na AS BIGINT) AS n_a,
       CAST(tot.nb AS BIGINT) AS n_b,
       CAST((MAX(ABS(cum.cuma * tot.nb - cum.cumb * tot.na)) * 10000)
            // (tot.na * tot.nb) AS BIGINT) AS ks_bp
FROM cum, tot
GROUP BY tot.na, tot.nb
"""

    # monotonicity: same planted late-arrival shift, same per-key lag
    monotonicity_sql = """
WITH shifted AS (
  SELECT user_id AS key, event_id AS pos,
         CASE WHEN event_id % 97 = 13 THEN ts - INTERVAL 1 HOUR
              ELSE ts END AS ts
  FROM events
),
lagd AS (
  SELECT key, pos,
         lag(pos) OVER (PARTITION BY key ORDER BY pos) AS prev_pos,
         ts,
         lag(ts) OVER (PARTITION BY key ORDER BY pos) AS prev_ts
  FROM shifted
)
SELECT key, pos, prev_pos, ts, prev_ts FROM lagd WHERE ts < prev_ts
"""

    # volume anomaly: hourly counts, trailing 24-bucket integer-exact
    # tolerance (cnt*n*100 vs sum*(100±50)), min 12 buckets history
    volume_anomaly_sql = """
WITH counts AS (
  SELECT date_trunc('hour', ts) AS bucket_ts, COUNT(*) AS cnt
  FROM events WHERE ts IS NOT NULL GROUP BY 1
),
trail AS (
  SELECT bucket_ts, cnt,
         SUM(cnt) OVER w AS trail_sum,
         COUNT(cnt) OVER w AS trail_n
  FROM counts
  WINDOW w AS (ORDER BY bucket_ts ROWS BETWEEN 24 PRECEDING AND 1 PRECEDING)
)
SELECT bucket_ts, CAST(cnt AS BIGINT) AS cnt,
       CAST(trail_sum AS BIGINT) AS trail_sum,
       CAST(trail_n AS BIGINT) AS trail_n,
       CASE WHEN cnt * trail_n * 100 < trail_sum * 50 THEN 'low'
            ELSE 'high' END AS direction
FROM trail
WHERE trail_n >= 12
  AND (cnt * trail_n * 100 < trail_sum * 50
       OR cnt * trail_n * 100 > trail_sum * 150)
"""

    # functional dependency source → lang: deterministic majority
    # (count desc, dep asc nulls last), violating determinants only
    fd_check_sql = """
WITH pairs AS (
  SELECT source AS det, lang AS dep, COUNT(*) AS cnt
  FROM documents GROUP BY 1, 2
),
ranked AS (
  SELECT det, dep, cnt,
         ROW_NUMBER() OVER (
           PARTITION BY det ORDER BY cnt DESC, dep ASC NULLS LAST
         ) AS rk,
         SUM(cnt) OVER (PARTITION BY det) AS n_rows,
         COUNT(*) OVER (PARTITION BY det) AS n_dep_values
  FROM pairs
)
SELECT det, CAST(n_rows AS BIGINT) AS n_rows,
       CAST(n_dep_values AS BIGINT) AS n_dep_values,
       dep AS majority_dep,
       CAST(n_rows - cnt AS BIGINT) AS n_violations
FROM ranked WHERE rk = 1 AND n_dep_values > 1
"""

    # substring dedup: the decontam token/md5 contract at n=12 —
    # within-doc DISTINCT windows, document frequency >= 2, per-doc
    # duplicated-window counts in basis points
    substring_dedup_sql = r"""
WITH doks AS (
  SELECT doc_id,
         list_filter(string_split_regex(lower(text), '\s+'),
                     x -> x <> '') AS toks
  FROM documents
),
dng AS (
  SELECT doc_id,
         md5(array_to_string(list_slice(toks, i, i + 11), ' ')) AS h
  FROM doks, UNNEST(range(1, greatest(len(toks) - 10, 1))) AS t(i)
),
dd AS (SELECT DISTINCT doc_id, h FROM dng),
perdoc AS (SELECT doc_id, count(*) AS n_distinct FROM dd GROUP BY doc_id),
hot AS (SELECT h FROM dd GROUP BY h HAVING count(*) >= 2),
dup AS (
  SELECT doc_id, count(*) AS n_dup
  FROM dd WHERE h IN (SELECT h FROM hot) GROUP BY doc_id
)
SELECT d.doc_id,
       CAST(coalesce(greatest(len(d.toks) - 11, 0), 0) AS INT)
         AS n_windows,
       CAST(coalesce(p.n_distinct, 0) AS INT) AS n_distinct,
       CAST(coalesce(u.n_dup, 0) AS BIGINT) AS n_dup,
       CAST(CASE WHEN coalesce(p.n_distinct, 0) > 0
                 THEN floor(coalesce(u.n_dup, 0) * 10000.0 / p.n_distinct)
                 ELSE 0 END AS BIGINT) AS dup_bp
FROM doks d
LEFT JOIN perdoc p USING (doc_id)
LEFT JOIN dup u USING (doc_id)
"""

    # categorical TV drift: same per-value counts, HUGEINT
    # cross-products, integral `//`
    categorical_tv_sql = """
WITH d AS (
  SELECT lang AS v, CAST(doc_id % 2 AS INT) AS grp
  FROM documents WHERE doc_id IS NOT NULL
),
counts AS (
  SELECT v,
         SUM(CASE WHEN grp = 0 THEN 1 ELSE 0 END) AS ca,
         SUM(CASE WHEN grp = 1 THEN 1 ELSE 0 END) AS cb
  FROM d GROUP BY v
),
tot AS (SELECT SUM(ca) AS na, SUM(cb) AS nb, COUNT(*) AS nv FROM counts)
SELECT CAST(tot.na AS BIGINT) AS n_a,
       CAST(tot.nb AS BIGINT) AS n_b,
       CAST(tot.nv AS BIGINT) AS n_values,
       CAST((SUM(ABS(counts.ca * tot.nb - counts.cb * tot.na)) * 10000)
            // (2 * tot.na * tot.nb) AS BIGINT) AS tv_bp
FROM counts, tot
GROUP BY tot.na, tot.nb, tot.nv
"""

    # exact heavy hitters over lang, strict > 1/7 share
    heavy_hitters_sql = """
WITH counts AS (
  SELECT CAST(lang AS VARCHAR) AS value, COUNT(*) AS cnt
  FROM documents GROUP BY 1
),
tot AS (SELECT SUM(cnt) AS n FROM counts)
SELECT value, cnt, CAST(tot.n AS BIGINT) AS n_total,
       CAST((cnt * 10000) // tot.n AS BIGINT) AS share_bp
FROM counts, tot WHERE cnt * 7 > tot.n
"""

    # MAD outliers: same planted scaling, same exact lower medians
    mad_outliers_sql = """
WITH d AS (
  SELECT doc_id,
         CASE WHEN doc_id % 101 = 7 THEN n_chars * 100
              ELSE n_chars END AS v
  FROM documents
),
vals AS (SELECT doc_id, v FROM d WHERE v IS NOT NULL),
counts AS (SELECT v, COUNT(*) AS c FROM vals GROUP BY v),
med AS (
  SELECT MIN(v) AS med FROM (
    SELECT v, SUM(c) OVER (ORDER BY v) AS cum, SUM(c) OVER () AS n
    FROM counts
  ) WHERE cum * 2 >= n
),
devc AS (
  SELECT ABS(v - med.med) AS dv, SUM(c) AS c
  FROM counts, med GROUP BY 1
),
mad AS (
  SELECT MIN(dv) AS mad FROM (
    SELECT dv, SUM(c) OVER (ORDER BY dv) AS cum, SUM(c) OVER () AS n
    FROM devc
  ) WHERE cum * 2 >= n
)
SELECT vals.doc_id AS key, vals.v AS value, med.med AS med,
       mad.mad AS mad
FROM vals, med, mad
WHERE ABS(vals.v - med.med) > 5 * mad.mad
"""

    # mojibake: identical planting (chr() codepoints) and identical
    # lookaround-free character-class patterns, imported from the
    # operator module so both engines compile the same source string
    from py_schemax_spark.operators.normalize import (
        _C1_PAT,
        _FFFD_PAT,
        _MB2_PAT,
        _MB3_PAT,
    )

    mojibake_sql = f"""
WITH planted AS (
  SELECT doc_id,
         coalesce(text, '')
         || CASE WHEN doc_id % 41 = 3
                 THEN ' caf' || chr(195) || chr(169) ELSE '' END
         || CASE WHEN doc_id % 43 = 5
                 THEN ' ' || chr(226) || chr(8364) || chr(8482)
                 ELSE '' END
         || CASE WHEN doc_id % 47 = 7
                 THEN ' ' || chr(65533) ELSE '' END
         || CASE WHEN doc_id % 53 = 9
                 THEN ' ' || chr(133) ELSE '' END
         AS t
  FROM documents
),
counted AS (
  SELECT doc_id,
         CAST(len(regexp_extract_all(t, '{_MB2_PAT}')) AS BIGINT)
           AS n_mb2,
         CAST(len(regexp_extract_all(t, '{_MB3_PAT}')) AS BIGINT)
           AS n_mb3,
         CAST(len(regexp_extract_all(t, '{_FFFD_PAT}')) AS BIGINT)
           AS n_fffd,
         CAST(len(regexp_extract_all(t, '{_C1_PAT}')) AS BIGINT)
           AS n_c1
  FROM planted
)
SELECT doc_id, n_mb2, n_mb3, n_fffd, n_c1,
       (n_mb2 > 0 OR n_mb3 > 0 OR n_fffd > 0 OR n_c1 > 0) AS mojibake
FROM counted
"""

    # vocab stats: identical token universe (lowercase, explicit
    # whitespace class), rebuilt as non-ws runs via regexp_extract_all
    vocab_stats_sql = r"""
WITH toks AS (
  SELECT unnest(regexp_extract_all(lower(text), '[^ '||chr(9)||chr(10)
               ||chr(13)||chr(12)||']+')) AS tok
  FROM documents WHERE text IS NOT NULL
),
counts AS (SELECT tok, COUNT(*) AS cnt FROM toks GROUP BY tok)
SELECT CAST(SUM(cnt) AS BIGINT) AS n_tokens,
       CAST(COUNT(*) AS BIGINT) AS n_types,
       CAST(SUM(CASE WHEN cnt = 1 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_hapax,
       CAST(MAX(cnt) AS BIGINT) AS max_type_cnt,
       CAST((COUNT(*) * 10000) // SUM(cnt) AS BIGINT) AS ttr_bp,
       CAST((SUM(CASE WHEN cnt = 1 THEN 1 ELSE 0 END) * 10000)
            // COUNT(*) AS BIGINT) AS hapax_bp,
       CAST((MAX(cnt) * 10000) // SUM(cnt) AS BIGINT) AS top_share_bp
FROM counts
"""

    # script profile: same planted codepoints (chr()) and the same
    # literal character-class patterns, dominant via the same
    # fixed-order CASE chain
    from py_schemax_spark.operators.textstats import SCRIPT_CLASSES

    _plant_sql = "".join(
        "|| CASE WHEN doc_id % {m} = {r} THEN ' ' || {chrs} "
        "ELSE '' END\n".format(
            m=mod,
            r=rem,
            chrs=" || ".join(f"chr({ord(ch)})" for ch in s),
        )
        for mod, (rem, s) in _SCRIPT_PLANTS.items()
    )
    _script_counts = ",\n".join(
        f"         CAST(len(regexp_extract_all(t, '{pat}')) AS BIGINT)"
        f" AS n_{name}"
        for name, pat in SCRIPT_CLASSES.items()
    )
    _names = list(SCRIPT_CLASSES)
    _total = " + ".join(f"n_{n}" for n in _names)
    _greatest = "greatest(" + ", ".join(f"n_{n}" for n in _names) + ")"
    _dom_chain = "\n         ".join(
        f"WHEN n_{n} = _dom THEN '{n}'" for n in _names
    )
    _present = " + ".join(
        f"(CASE WHEN n_{n} > 0 THEN 1 ELSE 0 END)" for n in _names
    )
    script_profile_sql = f"""
WITH planted AS (
  SELECT doc_id,
         coalesce(text, '')
         {_plant_sql}
         AS t
  FROM documents
),
counted AS (
  SELECT doc_id,
{_script_counts}
  FROM planted
),
derived AS (
  SELECT *, ({_total}) AS n_scripted, {_greatest} AS _dom,
         ({_present}) AS _np
  FROM counted
)
SELECT doc_id, {", ".join("n_" + n for n in _names)}, n_scripted,
       CASE WHEN n_scripted = 0 THEN NULL
         {_dom_chain}
       END AS dominant,
       (_np >= 2 AND (n_scripted - _dom) * 5 >= _dom) AS mixed
FROM derived
"""

    # line dedup: identical contract rebuilt in SQL — lines are
    # split(chr(10)), a line is boilerplate iff trimmed-non-empty and
    # present in >= 50 distinct docs, clean_text rejoins survivors in
    # order ('' when all removed, NULL for null text)
    line_dedup_sql = """
WITH src AS (
  SELECT doc_id, replace(text, ' ', chr(10)) AS text FROM documents
),
base AS (
  SELECT doc_id, text, string_split(text, chr(10)) AS lines FROM src
),
ln AS (
  SELECT doc_id, i AS pos, lines[i] AS line
  FROM base, UNNEST(range(1, len(lines) + 1)) AS t(i)
),
hot AS (
  SELECT line FROM ln WHERE trim(line) <> ''
  GROUP BY line HAVING count(DISTINCT doc_id) >= 50
),
lh AS (
  SELECT ln.doc_id, ln.pos, ln.line, hot.line IS NOT NULL AS is_hot
  FROM ln LEFT JOIN hot USING (line)
),
agg AS (
  SELECT doc_id,
         count(*) AS n_lines,
         sum(CASE WHEN is_hot THEN 1 ELSE 0 END) AS n_removed,
         coalesce(
           string_agg(line, chr(10) ORDER BY pos)
             FILTER (WHERE NOT is_hot),
           '') AS clean_text
  FROM lh GROUP BY doc_id
)
SELECT b.doc_id,
       CASE WHEN b.text IS NULL THEN NULL
            ELSE coalesce(a.clean_text, '') END AS clean_text,
       CAST(coalesce(a.n_lines, 0) AS BIGINT) AS n_lines,
       CAST(coalesce(a.n_removed, 0) AS BIGINT) AS n_removed
FROM base b LEFT JOIN agg a USING (doc_id)
"""

    # token-window chunking: identical windows rebuilt with DuckDB
    # list functions — same explicit-whitespace tokens, same
    # 1 + ceil((n - chunk)/stride) chunk count, same 1-based
    # inclusive slices (chunk=16, stride=12)
    chunk_documents_sql = r"""
WITH t AS (
  SELECT doc_id,
         list_filter(string_split_regex(text, '[ \t\n\r\f]+'),
                     x -> x <> '') AS toks
  FROM documents WHERE text IS NOT NULL
),
n AS (SELECT doc_id, toks, len(toks) AS n FROM t WHERE len(toks) > 0)
SELECT doc_id,
       CAST(i AS INT) AS chunk_id,
       CAST(least(16, n - i * 12) AS INT) AS n_tokens,
       array_to_string(
         list_slice(toks, i * 12 + 1, least(i * 12 + 16, n)), ' '
       ) AS chunk_text
FROM n, UNNEST(range(0,
       CASE WHEN n <= 16 THEN 1
            ELSE 1 + CAST(ceil((n - 16) / 12.0) AS BIGINT) END)) AS u(i)
"""

    # sequence packing: one SQL window reproduces the engine's
    # two-level prefix sum (boundary-invariant by construction);
    # token count = non-delimiter runs, null text -> 0
    pack_chunks_sql = r"""
WITH t AS (
  SELECT doc_id,
         coalesce(len(regexp_extract_all(text, '[^ \t\n\r\f]+')), 0)
           AS n_tokens
  FROM documents
),
s AS (
  SELECT doc_id, n_tokens,
         coalesce(sum(n_tokens) OVER (
           ORDER BY doc_id
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
           AS start_token
  FROM t
)
SELECT doc_id,
       CAST(n_tokens AS INT) AS n_tokens,
       CAST(start_token AS BIGINT) AS start_token,
       CAST(start_token // 256 AS BIGINT) AS bin_id,
       CAST(start_token % 256 AS BIGINT) AS bin_offset
FROM s
"""

    # keyword extraction: the identical tf/df/ranking pipeline in SQL
    # — integer-exact rank key (tf * (N // df), df, term), textbook
    # tfidf rounded to 4 decimals as a value column only
    keywords_sql = r"""
WITH toks AS (
  SELECT doc_id,
         unnest(list_filter(
           string_split_regex(lower(text), '[ \t\n\r\f]+'),
           x -> x <> '')) AS term
  FROM documents WHERE text IS NOT NULL
),
tf AS (
  SELECT doc_id, term, count(*) AS tf FROM toks GROUP BY doc_id, term
),
nd AS (SELECT count(DISTINCT doc_id) AS n FROM tf),
dfreq AS (SELECT term, count(*) AS df FROM tf GROUP BY term),
scored AS (
  SELECT tf.doc_id, tf.term, tf.tf, dfreq.df,
         tf.tf * (nd.n // dfreq.df) AS score_exact,
         round(tf.tf * ln(CAST(nd.n AS DOUBLE) / dfreq.df), 4) AS tfidf
  FROM tf JOIN dfreq USING (term) CROSS JOIN nd
),
ranked AS (
  SELECT *,
         row_number() OVER (PARTITION BY doc_id
                            ORDER BY score_exact DESC, df ASC, term ASC)
           AS rank
  FROM scored
)
SELECT doc_id, CAST(rank AS INT) AS rank, term,
       CAST(tf AS BIGINT) AS tf, CAST(df AS BIGINT) AS df,
       CAST(score_exact AS BIGINT) AS score_exact, tfidf
FROM ranked WHERE rank <= 5
"""

    # html profile: identical planted markup + identical lexical
    # regexes (lookaround-free; DuckDB regexp_replace needs the 'g'
    # flag — Spark's is global by default); strlen = bytes in DuckDB
    html_profile_sql = r"""
WITH h AS (
  SELECT doc_id,
         '<html><body>'
         || CASE WHEN doc_id % 3 = 0
                 THEN '<script src="x.js"></script>' ELSE '' END
         || '<h1>' || source || '</h1><p>' || text || '</p>'
         || repeat('<a href="/l">link</a>', CAST(doc_id % 5 AS INT))
         || '</body></html>' AS html
  FROM documents
)
SELECT doc_id,
       CAST(strlen(html) AS INT) AS html_bytes,
       CAST(len(regexp_extract_all(html, '<[a-zA-Z][^>]*>')) AS INT)
         AS n_tags,
       CAST(len(regexp_extract_all(html, '<[aA][ \t\n\r\f>]')) AS INT)
         AS n_links,
       CAST(len(regexp_extract_all(html,
             '<[sS][cC][rR][iI][pP][tT][ \t\n\r\f>]')) AS INT)
         AS n_scripts,
       CASE WHEN strlen(html) > 0 THEN
         CAST((10000 * strlen(regexp_replace(html, '<[^>]*>', '', 'g')))
              // strlen(html) AS BIGINT) END AS text_bp
FROM h
"""

    # sessionization: identical window recipe — exact µs gaps,
    # (ts, event_id) tie-break, cumulative-sum session index
    sessionize_sql = """
WITH e AS (
  SELECT event_id, user_id, ts, value FROM events WHERE ts IS NOT NULL
),
m AS (
  SELECT *,
         CASE WHEN lag(epoch_us(ts)) OVER w IS NULL
                OR epoch_us(ts) - lag(epoch_us(ts)) OVER w > 1800000000
              THEN 1 ELSE 0 END AS new_s
  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
),
s AS (
  SELECT *,
         sum(new_s) OVER (PARTITION BY user_id ORDER BY ts, event_id
                          ROWS UNBOUNDED PRECEDING) AS session_idx
  FROM m
)
SELECT user_id,
       CAST(session_idx AS BIGINT) AS session_idx,
       min(ts) AS session_start,
       max(ts) AS session_end,
       count(*) AS n_events,
       round(sum(value), 2) AS total_value
FROM s GROUP BY user_id, session_idx
"""

    # unigram logprob: same token universe (lowercase, \\s+ split,
    # empties dropped), same top-50 vocabulary (count desc, token asc),
    # same OOV-to-1 smoothing, same mean-minus-ln(total) and rounding
    unigram_logprob_sql = r"""
WITH base AS (
  SELECT doc_id, text,
         len(list_filter(string_split_regex(lower(text), '\s+'),
                         x -> x <> '')) AS n_tokens
  FROM documents
),
toks AS (
  SELECT doc_id,
         unnest(list_filter(string_split_regex(lower(text), '\s+'),
                            x -> x <> '')) AS tok
  FROM documents
),
vocab AS (SELECT tok, count(*) AS cnt FROM toks GROUP BY tok),
tot AS (SELECT sum(cnt) AS total FROM vocab),
top AS (SELECT tok, cnt FROM vocab ORDER BY cnt DESC, tok ASC LIMIT 50),
scored AS (
  SELECT toks.doc_id, avg(ln(coalesce(top.cnt, 1))) AS mean_ln
  FROM toks LEFT JOIN top USING (tok)
  GROUP BY toks.doc_id
)
SELECT b.doc_id,
       CAST(b.n_tokens AS INT) AS n_tokens,
       round(s.mean_ln - ln((SELECT total FROM tot)), 4) AS logprob
FROM base b LEFT JOIN scored s USING (doc_id)
"""

    # ccnet buckets: the unigram-logprob oracle runs as a nested CTE;
    # ordering/bucket math uses the quantized integer score + the same
    # null-sorts-worst sentinel as the engine (Spark and DuckDB
    # disagree on bare null ordering)
    ccnet_buckets_sql = (
        "WITH u AS ("
        + unigram_logprob_sql
        + r"""),
s AS (
  SELECT d.doc_id, d.lang,
         CAST(round(u.logprob * 10000) AS BIGINT) AS score_x1e4,
         CAST(coalesce(len(regexp_extract_all(d.text, '[^ \t\n\r\f]+')),
                       0) AS INT) AS n_tokens
  FROM documents d JOIN u USING (doc_id)
),
o AS (
  SELECT *, coalesce(-score_x1e4, 4611686018427387904) AS s2 FROM s
),
c AS (
  SELECT *,
         CAST(coalesce(sum(n_tokens) OVER (
           PARTITION BY lang ORDER BY s2, doc_id
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
           AS BIGINT) AS cum_before,
         sum(n_tokens) OVER (PARTITION BY lang) AS gtot
  FROM o
),
b AS (
  SELECT *,
         CAST(CASE WHEN gtot > 0
                   THEN least((3 * cum_before) // gtot, 2)
                   ELSE 0 END AS INT) AS bucket_id
  FROM c
)
SELECT doc_id, lang, score_x1e4, n_tokens, cum_before, bucket_id,
       CASE bucket_id WHEN 0 THEN 'head' WHEN 1 THEN 'middle'
            ELSE 'tail' END AS bucket
FROM b"""
    )

    # url features: identical lookaround-free patterns (Java regex ↔
    # RE2), identical deterministic query-string suffix
    url_features_sql = r"""
WITH u AS (
  SELECT doc_id,
         'https://' || source || '.example.org/doc/'
           || CAST(doc_id AS VARCHAR)
           || CASE WHEN doc_id % 2 = 0
                   THEN '?page=' || CAST(doc_id % 3 AS VARCHAR) || '&ref=rss'
                   ELSE '' END AS url
  FROM documents
),
h AS (
  SELECT doc_id, url,
         lower(regexp_replace(
           regexp_replace(
             regexp_extract(url, '^[A-Za-z][A-Za-z0-9+.-]*://([^/?#]+)', 1),
             '^[^@]*@', ''),
           ':\d+\z', '')) AS host
  FROM u
)
SELECT doc_id,
       lower(regexp_extract(url, '^([A-Za-z][A-Za-z0-9+.-]*):', 1))
         AS scheme,
       host,
       CAST(len(regexp_extract_all(
         regexp_extract(url, '^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]*([^?#]*)', 1),
         '/[^/]+')) AS INT) AS path_depth,
       CAST(len(regexp_extract_all(
         regexp_extract(url, '^[^#?]*\?([^#]*)', 1), '[^&]+')) AS INT)
         AS n_params,
       regexp_extract(host, '\.([A-Za-z0-9-]+)\z', 1) AS tld
FROM h
"""

    # Gopher/C4 quality filters: every signal is integer-exact and
    # every regexp pattern is imported from the operator module, so
    # Java regex and RE2 run the SAME lookaround-free pattern; the
    # stop-word count is recomputed from first principles with
    # list_filter over the same explicit-whitespace tokens.
    from py_schemax_spark.operators.quality import (
        ALPHA_WORD_RE as _Q_ALPHA,
        BULLET_LINE_RE as _Q_BULLET,
        C4_BAD_PHRASES as _Q_PHRASES,
        ELLIPSIS_LINE_RE as _Q_ELLIPSIS,
        GOPHER_STOPWORDS as _Q_STOPS,
        SENTENCE_RE as _Q_SENT,
        SYMBOL_RE as _Q_SYM,
        TERMINAL_LINE_RE as _Q_TERM,
        WORD_RE as _Q_WORD,
        WS_CHAR_RE as _Q_WS,
    )

    _q_stop_list = ", ".join(f"'{w}'" for w in _Q_STOPS)
    gopher_sql = f"""
WITH planted AS ({_QUALITY_PLANT_SQL}),
raw AS (
  SELECT doc_id, text,
         len(regexp_extract_all(text, '{_Q_WORD}')) AS n_words,
         length(regexp_replace(text, '{_Q_WS}', '', 'g')) AS word_chars,
         len(regexp_extract_all(text, '{_Q_SYM}')) AS n_symbols,
         len(regexp_extract_all(text, '\\n')) + 1 AS n_lines,
         len(regexp_extract_all(chr(10) || text || chr(10),
                                '{_Q_BULLET}')) AS bullet_lines,
         len(regexp_extract_all(chr(10) || text || chr(10),
                                '{_Q_ELLIPSIS}')) AS ellipsis_lines,
         len(regexp_extract_all(text, '{_Q_ALPHA}')) AS alpha_words,
         len(list_filter(
               string_split_regex(trim(lower(text)), '[ \\t\\n\\r\\f]+'),
               x -> x IN ({_q_stop_list}))) AS stop_hits
  FROM planted
),
sig AS (
  -- `//` = exact integral division, matching the engine's `div`
  -- (a floored double quotient can sit a ULP off a rule boundary)
  SELECT doc_id,
         CAST(n_words AS BIGINT) AS n_words,
         CASE WHEN n_words > 0
              THEN CAST((word_chars * 100) // n_words AS BIGINT)
         END AS mean_word_len_x100,
         CASE WHEN n_words > 0
              THEN CAST((n_symbols * 10000) // n_words AS BIGINT)
         END AS symbol_bp,
         CASE WHEN text IS NOT NULL
              THEN CAST(n_lines AS BIGINT) END AS n_lines,
         CASE WHEN n_lines > 0
              THEN CAST((bullet_lines * 10000) // n_lines AS BIGINT)
         END AS bullet_bp,
         CASE WHEN n_lines > 0
              THEN CAST((ellipsis_lines * 10000) // n_lines AS BIGINT)
         END AS ellipsis_bp,
         CASE WHEN n_words > 0
              THEN CAST((alpha_words * 10000) // n_words AS BIGINT)
         END AS alpha_bp,
         CAST(stop_hits AS BIGINT) AS stop_hits
  FROM raw
)
SELECT doc_id, n_words, mean_word_len_x100, symbol_bp, n_lines,
       bullet_bp, ellipsis_bp, alpha_bp, stop_hits,
       coalesce(n_words BETWEEN 50 AND 100000, false) AS flag_word_count,
       coalesce(mean_word_len_x100 BETWEEN 300 AND 1000, false)
         AS flag_word_len,
       coalesce(symbol_bp <= 1000, false) AS flag_symbol,
       coalesce(bullet_bp <= 9000, false) AS flag_bullet,
       coalesce(ellipsis_bp <= 3000, false) AS flag_ellipsis,
       coalesce(alpha_bp >= 8000, false) AS flag_alpha,
       coalesce(stop_hits >= 2, false) AS flag_stopword,
       coalesce(n_words BETWEEN 50 AND 100000, false)
         AND coalesce(mean_word_len_x100 BETWEEN 300 AND 1000, false)
         AND coalesce(symbol_bp <= 1000, false)
         AND coalesce(bullet_bp <= 9000, false)
         AND coalesce(ellipsis_bp <= 3000, false)
         AND coalesce(alpha_bp >= 8000, false)
         AND coalesce(stop_hits >= 2, false) AS gopher_pass
FROM sig
"""

    _q_bad_phrase = " OR ".join(
        f"contains(lower(text), '{p}')" for p in _Q_PHRASES
    )
    c4_sql = f"""
WITH planted AS ({_QUALITY_PLANT_SQL}),
raw AS (
  SELECT doc_id, text,
         len(regexp_extract_all(text, '{_Q_SENT}')) AS n_sentences,
         len(regexp_extract_all(text, '\\n')) + 1 AS n_lines,
         len(regexp_extract_all(chr(10) || text || chr(10),
                                '{_Q_TERM.replace(chr(39), chr(39) * 2)}'))
           AS terminal_lines,
         contains(lower(text), 'lorem ipsum') AS has_lorem_ipsum,
         (contains(text, '{{') OR contains(text, '}}')) AS has_curly,
         (len(regexp_extract_all(
            ' ' || regexp_replace(trim(lower(text)),
                                  '[ \\t\\n\\r\\f]+', '  ', 'g') || ' ',
            ' javascript ')) > 0) AS has_javascript,
         ({_q_bad_phrase}) AS has_bad_phrase
  FROM planted
)
SELECT doc_id,
       CAST(n_sentences AS BIGINT) AS n_sentences,
       CASE WHEN n_lines > 0
            THEN CAST((terminal_lines * 10000) // n_lines AS BIGINT)
       END AS terminal_line_bp,
       has_lorem_ipsum, has_curly, has_javascript, has_bad_phrase,
       coalesce(NOT has_lorem_ipsum, false)
         AND coalesce(NOT has_curly, false)
         AND coalesce(NOT has_javascript, false)
         AND coalesce(NOT has_bad_phrase, false)
         AND coalesce(n_sentences >= 3, false) AS c4_keep
FROM raw
"""

    # curate_e2e: the full curation chain as chained CTEs — each
    # stage's proven SQL twin re-targeted at the previous stage's
    # survivor set. planted → robots (closed-form verdicts) → quality
    # (gopher ∧ c4 signals inline, null-free by construction so the
    # coalesce guards collapse) → dsir (raw model over the quality
    # SURVIVORS, target over the planted %7 slice, each survivor kept
    # on its own score — exactly dsir_select(dsir_weights(cur, target))
    # in curate.run_curation) → line dedup (hot = lines in ≥50 distinct
    # SURVIVING docs) → keep-first exact dedup on normalized text →
    # shard-plan window.
    curate_e2e_sql = f"""
WITH src AS (
  SELECT d.doc_id, d.source,
         CASE WHEN d.doc_id % 8 = 7 AND p.text IS NOT NULL
              THEN p.text ELSE d.text END AS text
  FROM documents d
  LEFT JOIN documents p ON p.doc_id = d.doc_id - 4
),
planted AS (
  SELECT doc_id,
         CAST(regexp_extract(source, '(\\d+)$', 1) AS INT) AS src_num,
         '{_CUR_HDR}' || chr(10) ||
         CASE WHEN doc_id % 4 = 1 THEN text || '{_CUR_SENT}'
                   || chr(10) || 'loading...'
                   || chr(10) || 'read more...'
              WHEN doc_id % 4 = 2 THEN text || '{_CUR_SENT}'
                   || ' lorem ipsum'
              ELSE text || '{_CUR_SENT}' END
         || chr(10) || '{_CUR_FTR}' AS text
  FROM src
),
after_robots AS (
  SELECT doc_id, text FROM planted
  WHERE NOT (CASE WHEN src_num % 7 = 3 THEN doc_id % 5 IN (3, 4)
                  WHEN doc_id % 5 = 0 THEN TRUE
                  WHEN doc_id % 5 = 2 THEN src_num % 2 = 0
                  ELSE FALSE END)
),
graw AS (
  SELECT doc_id, text,
         len(regexp_extract_all(text, '{_Q_WORD}')) AS n_words,
         length(regexp_replace(text, '{_Q_WS}', '', 'g')) AS word_chars,
         len(regexp_extract_all(text, '{_Q_SYM}')) AS n_symbols,
         len(regexp_extract_all(text, '\\n')) + 1 AS n_lines,
         len(regexp_extract_all(chr(10) || text || chr(10),
                                '{_Q_BULLET}')) AS bullet_lines,
         len(regexp_extract_all(chr(10) || text || chr(10),
                                '{_Q_ELLIPSIS}')) AS ellipsis_lines,
         len(regexp_extract_all(text, '{_Q_ALPHA}')) AS alpha_words,
         len(list_filter(
               string_split_regex(trim(lower(text)), '[ \\t\\n\\r\\f]+'),
               x -> x IN ({_q_stop_list}))) AS stop_hits,
         len(regexp_extract_all(text, '{_Q_SENT}')) AS n_sentences,
         contains(lower(text), 'lorem ipsum') AS has_lorem_ipsum,
         (contains(text, '{{') OR contains(text, '}}')) AS has_curly,
         (len(regexp_extract_all(
            ' ' || regexp_replace(trim(lower(text)),
                                  '[ \\t\\n\\r\\f]+', '  ', 'g') || ' ',
            ' javascript ')) > 0) AS has_javascript,
         ({_q_bad_phrase}) AS has_bad_phrase
  FROM after_robots
),
quality AS (
  SELECT doc_id, text FROM graw
  WHERE n_words BETWEEN 50 AND 100000
    AND (word_chars * 100) // n_words BETWEEN 300 AND 1000
    AND (n_symbols * 10000) // n_words <= 1000
    AND (bullet_lines * 10000) // n_lines <= 9000
    AND (ellipsis_lines * 10000) // n_lines <= 3000
    AND (alpha_words * 10000) // n_words >= 8000
    AND stop_hits >= 2
    AND NOT has_lorem_ipsum AND NOT has_curly
    AND NOT has_javascript AND NOT has_bad_phrase
    AND n_sentences >= 3
),
dtok AS (
  SELECT doc_id,
         list_filter(string_split_regex(lower(text), '[ \\t\\n\\r\\f]+'),
                     x -> x <> '') AS toks
  FROM quality
),
dterms AS (
  SELECT doc_id,
         unnest(list_concat(
           toks,
           [toks[i] || ' ' || toks[i+1] for i in range(1, len(toks))]
         )) AS term
  FROM dtok
),
db AS (
  SELECT doc_id,
         CAST(('0x' || substr(md5(term), 1, 8))::UBIGINT % 1024
              AS BIGINT) AS bucket
  FROM dterms
),
rawh AS (SELECT bucket, COUNT(*) AS cnt FROM db GROUP BY bucket),
ttok AS (
  SELECT doc_id,
         list_filter(string_split_regex(lower(text), '[ \\t\\n\\r\\f]+'),
                     x -> x <> '') AS toks
  FROM planted WHERE doc_id % 7 = 0
),
tterms AS (
  SELECT doc_id,
         unnest(list_concat(
           toks,
           [toks[i] || ' ' || toks[i+1] for i in range(1, len(toks))]
         )) AS term
  FROM ttok
),
tb AS (
  SELECT doc_id,
         CAST(('0x' || substr(md5(term), 1, 8))::UBIGINT % 1024
              AS BIGINT) AS bucket
  FROM tterms
),
tgth AS (SELECT bucket, COUNT(*) AS cnt FROM tb GROUP BY bucket),
tot AS (
  SELECT (SELECT COALESCE(SUM(cnt), 0) FROM rawh) AS tr,
         (SELECT COALESCE(SUM(cnt), 0) FROM tgth) AS tt
),
lam AS (
  SELECT g.range AS bucket,
         CAST(floor((ln(COALESCE(tg.cnt, 0) + 1) - ln(tt + 1024)
                     - ln(COALESCE(r.cnt, 0) + 1) + ln(tr + 1024))
                    * 1000000) AS BIGINT) AS lam
  FROM range(1024) g
  CROSS JOIN tot
  LEFT JOIN rawh r ON r.bucket = g.range
  LEFT JOIN tgth tg ON tg.bucket = g.range
),
dscore AS (
  SELECT db.doc_id,
         CAST(COUNT(*) AS BIGINT) AS n_terms,
         CAST(SUM(l.lam) AS BIGINT) AS score
  FROM db JOIN lam l USING (bucket) GROUP BY db.doc_id
),
dsir AS (
  SELECT q.doc_id, q.text
  FROM quality q JOIN dscore s USING (doc_id)
  WHERE s.n_terms > 0 AND s.score * 1000 >= -70000000 * s.n_terms
),
ln AS (
  SELECT doc_id, i AS pos, l[i] AS line
  FROM (SELECT doc_id, string_split(text, chr(10)) AS l FROM dsir) b,
       UNNEST(range(1, len(l) + 1)) AS u(i)
),
hot AS (
  SELECT line FROM ln WHERE trim(line) <> ''
  GROUP BY line HAVING count(DISTINCT doc_id) >= 30
),
cleaned AS (
  SELECT ln.doc_id,
         coalesce(
           string_agg(ln.line, chr(10) ORDER BY ln.pos)
             FILTER (WHERE hot.line IS NULL),
           '') AS text
  FROM ln LEFT JOIN hot USING (line)
  GROUP BY ln.doc_id
),
dd AS (
  SELECT doc_id, text,
         row_number() OVER (
           PARTITION BY md5({_NORM_SQL}) ORDER BY doc_id) AS rn
  FROM cleaned
),
final AS (SELECT doc_id, text FROM dd WHERE rn = 1),
sz AS (
  SELECT doc_id,
         CAST(COALESCE(len(regexp_extract_all(text,
                '[^ \\t\\n\\r\\f]+')), 0) AS BIGINT) AS n_units,
         md5(text) AS final_md5
  FROM final
),
cum AS (
  SELECT doc_id, n_units, final_md5,
         CAST(COALESCE(SUM(n_units) OVER (
           ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
         AS BIGINT) AS "offset"
  FROM sz
)
SELECT doc_id, n_units, "offset",
       CAST("offset" // 40000 AS BIGINT) AS shard_id, final_md5
FROM cum
"""

    # domain blocklist induction: reuse the full gopher oracle as a
    # nested CTE (a wrong per-doc verdict OR a wrong aggregation both
    # break the hash); `//` = exact integral division like the
    # engine's `div`
    domain_blocklist_sql = f"""
WITH g AS ({gopher_sql})
SELECT d.source AS domain,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(CASE WHEN NOT coalesce(g.gopher_pass, false)
                     THEN 1 ELSE 0 END) AS BIGINT) AS n_fail,
       CAST((sum(CASE WHEN NOT coalesce(g.gopher_pass, false)
                      THEN 1 ELSE 0 END) * 10000) // count(*)
            AS BIGINT) AS fail_bp,
       count(*) >= 5
         AND sum(CASE WHEN NOT coalesce(g.gopher_pass, false)
                      THEN 1 ELSE 0 END) * 10000 > 2500 * count(*)
         AS blocked
FROM g JOIN documents d USING (doc_id)
GROUP BY d.source
"""

    norm_case = " ".join(
        f"WHEN {i} THEN text || {_sql_str_expr(p)}"
        for i, p in enumerate(_NORM_PLANT)
    )
    normalize_sql = (
        "WITH planted AS (\n"
        "  SELECT doc_id, CASE CAST(doc_id % 5 AS INT) "
        + norm_case
        + " END AS text\n  FROM documents\n"
        "), n AS (\n"
        "  SELECT doc_id, text, length(text) AS n_raw,\n"
        # identical rewrite chain to operators/normalize.py, in the
        # same order: NFC -> control strip -> hws collapse -> \A/\z
        # trim (RE2 and Java agree on every pattern here)
        "         regexp_replace(regexp_replace(regexp_replace("
        "regexp_replace(nfc_normalize(text),\n"
        "           '[\\x00-\\x08\\x0B\\x0C\\x0E-\\x1F\\x7F]', '', 'g'),\n"
        "           '[ \\t]+', ' ', 'g'),\n"
        "           '\\A[ \\t\\n\\r\\f]+', ''),\n"
        "           '[ \\t\\n\\r\\f]+\\z', '') AS norm_text\n"
        "  FROM planted\n)\n"
        "SELECT doc_id, norm_text, n_raw,\n"
        "       length(norm_text) AS n_norm,\n"
        "       coalesce(norm_text <> text, false) AS changed\n"
        "FROM n"
    )

    mix_case = " ".join(
        f"WHEN '{g}' THEN {b}" for g, b in _MIX_BUDGETS.items()
    )
    corpus_mix_sql = (
        r"""
WITH t AS (
  SELECT doc_id, lang,
         md5(CAST(doc_id AS VARCHAR)) AS h,
         coalesce(len(regexp_extract_all(text, '[^ \t\n\r\f]+')), 0)
           AS n_tokens
  FROM documents
), c AS (
  SELECT doc_id, lang, n_tokens,
         coalesce(sum(n_tokens) OVER (
           PARTITION BY lang ORDER BY h, doc_id
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
           AS cum_before
  FROM t
)
SELECT doc_id, lang, CAST(n_tokens AS BIGINT) AS n_tokens,
       CAST(cum_before AS BIGINT) AS cum_before,
       cum_before < (CASE lang """
        + mix_case
        + f" ELSE {_MIX_DEFAULT} END) AS kept\nFROM c"
    )

    url_blocklist_sql = r"""
WITH planted AS (
  SELECT doc_id,
         source || '.s' || CAST(doc_id % 4 AS INT) || '.example.org' AS host,
         'https://' || source || '.s' || CAST(doc_id % 4 AS INT)
           || '.example.org/doc/' || doc_id
           || CASE WHEN doc_id % 11 = 5 THEN '/casino' ELSE '' END
           || CASE WHEN doc_id % 7 = 2 THEN '?utm_source=x' ELSE '' END
           AS url
  FROM documents
),
bl AS (
  SELECT DISTINCT source || '.s1.example.org' AS domain
  FROM documents WHERE doc_id % 10 = 3
  UNION
  SELECT 's0.example.org'
),
dmatch AS (
  -- most-specific (longest) matching suffix wins, like the engine's
  -- deepest-level-first coalesce
  SELECT p.doc_id, max_by(b.domain, length(b.domain)) AS mdom
  FROM planted p
  JOIN bl b ON p.host = b.domain OR ends_with(p.host, '.' || b.domain)
  GROUP BY p.doc_id
)
SELECT p.doc_id, p.host,
       reason IS NOT NULL AS blocked, reason
FROM (
  SELECT p.doc_id, p.host,
         CASE WHEN m.mdom IS NOT NULL THEN 'domain:' || m.mdom
              WHEN regexp_matches(p.url, 'casino') THEN 'pattern:gambling'
              WHEN regexp_matches(p.url, '[?&]utm_') THEN 'pattern:tracking'
         END AS reason
  FROM planted p LEFT JOIN dmatch m USING (doc_id)
) p
"""

    # robots: the oracle does NOT re-parse the robots bodies — it
    # computes the expected verdict straight from the planting
    # formulas (agent='mybot'; src%7==3 domains have an exact mybot
    # group that hides their '*' group per RFC 9309; even-src domains
    # add a '*'-group Disallow:/tmp/), so a parse or precedence bug
    # anywhere in the Spark pipeline breaks the hash
    robots_sql = r"""
WITH planted AS (
  SELECT doc_id,
         CAST(regexp_extract(source, '(\d+)$', 1) AS INT) AS src_num,
         source || '.example.org' AS host,
         CASE WHEN doc_id % 5 = 0 THEN '/private/' || doc_id
              WHEN doc_id % 5 = 1 THEN '/private/ok/' || doc_id
              WHEN doc_id % 5 = 2 THEN '/tmp/' || doc_id
              ELSE '/doc/' || doc_id END AS path
  FROM documents
)
SELECT doc_id, host, path,
       CASE WHEN src_num % 7 = 3 THEN doc_id % 5 IN (3, 4)
            WHEN doc_id % 5 = 0 THEN TRUE
            WHEN doc_id % 5 = 2 THEN src_num % 2 = 0
            ELSE FALSE END AS robots_blocked,
       CASE WHEN src_num % 7 = 3 THEN
              CASE WHEN doc_id % 5 IN (3, 4) THEN 'disallow:/doc/' END
            WHEN doc_id % 5 = 0 THEN 'disallow:/private/'
            WHEN doc_id % 5 = 1 THEN 'allow:/private/ok'
            WHEN doc_id % 5 = 2 AND src_num % 2 = 0 THEN 'disallow:/tmp/'
       END AS rule
FROM planted
"""

    # containment contract: the Spark query returns exact-dup pairs
    # MISSING from the LSH candidates — correct iff EMPTY, so the
    # oracle is the empty relation with the same schema
    minhash_containment_sql = """
SELECT CAST(NULL AS VARCHAR) AS key_a, CAST(NULL AS VARCHAR) AS key_b
WHERE 1 = 0
"""

    ann_topk_sql = """
SELECT query_id, vec_id, sim, rank FROM (
  SELECT q.vec_id AS query_id, c.vec_id AS vec_id,
         round(list_cosine_similarity(CAST(c.embedding AS DOUBLE[]),
                                      CAST(q.embedding AS DOUBLE[])), 4) AS sim,
         row_number() OVER (
           PARTITION BY q.vec_id
           ORDER BY round(list_cosine_similarity(CAST(c.embedding AS DOUBLE[]),
                                                 CAST(q.embedding AS DOUBLE[])), 4)
                    DESC, c.vec_id ASC) AS rank
  FROM embeddings c
  JOIN embeddings q ON q.vec_id < 3 AND c.vec_id != q.vec_id
) WHERE rank <= 10
"""

    from py_schemax_spark.operators.textstats import _LANG_MARKERS

    score_parts = []
    for lang, markers in _LANG_MARKERS.items():
        inlist = ", ".join(f"'{m}'" for m in markers)
        score_parts.append(
            f"SELECT doc_id, '{lang}' AS lang_c, "
            f"len(list_filter(t, x -> x IN ({inlist}))) AS hits FROM toks"
        )
    lang_id_sql = (
        r"WITH toks AS (SELECT doc_id, "
        r"string_split_regex(trim(lower(text)), '\s+') AS t FROM documents), "
        "scores AS (" + " UNION ALL ".join(score_parts) + "), "
        "best AS (SELECT doc_id, lang_c, hits, row_number() OVER ("
        "PARTITION BY doc_id ORDER BY hits DESC, lang_c DESC) AS rn "
        "FROM scores) "
        "SELECT b.doc_id, d.lang, "
        "CASE WHEN b.hits > 0 THEN b.lang_c ELSE 'und' END AS lang_pred "
        "FROM best b JOIN documents d USING (doc_id) WHERE rn = 1"
    )

    frame_sample_sql = f"""
WITH {PAGES_SQL_CTE.strip()}
SELECT url AS key,
       unnest(range(0, strlen(html_str) // 100 + 1, 7)) AS frame_index
FROM pages WHERE html_str IS NOT NULL
"""

    ann_pairs_sql = """
SELECT a.vec_id AS key_a, b.vec_id AS key_b,
       CAST(floor(list_cosine_similarity(
           CAST(a.embedding AS DOUBLE[]),
           CAST(b.embedding AS DOUBLE[])) * 100) AS BIGINT) AS sim_c
FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
WHERE list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
                             CAST(b.embedding AS DOUBLE[])) * 100 >= 25
"""

    # Benford: same floored-bp expected table (profile.BENFORD_BP),
    # first digit from the decimal rendering — no float log10 anywhere
    benford_sql = """
WITH c AS (
  SELECT CAST(substr(CAST(n_chars AS VARCHAR), 1, 1) AS INTEGER)
           AS digit,
         COUNT(*) AS n
  FROM documents WHERE n_chars IS NOT NULL AND n_chars > 0
  GROUP BY 1
),
e(digit, expected_bp) AS (VALUES
  (1, 3010), (2, 1760), (3, 1249), (4, 969), (5, 791),
  (6, 669), (7, 579), (8, 511), (9, 457))
SELECT c.digit, c.n,
       CAST((c.n * 10000) // (SUM(c.n) OVER ()) AS BIGINT)
         AS observed_bp,
       CAST(e.expected_bp AS INTEGER) AS expected_bp,
       CAST((c.n * 10000) // (SUM(c.n) OVER ()) - e.expected_bp
            AS BIGINT) AS dev_bp
FROM c JOIN e USING (digit)
"""

    # dup rate: COUNT(DISTINCT) over the same planted text (the md5
    # digest is injective over the distinct-count, so plain DISTINCT
    # on the sentinel-coalesced text is the identical statistic)
    dup_rate_sql = """
WITH d AS (
  SELECT source,
         CASE WHEN doc_id % 6 = 5 THEN 'parked page ' || source
              ELSE text END AS text
  FROM documents
)
SELECT source AS "group",
       COUNT(*) AS n_docs,
       COUNT(DISTINCT coalesce(text, chr(1) || 'null')) AS n_distinct,
       COUNT(*) - COUNT(DISTINCT coalesce(text, chr(1) || 'null'))
         AS n_dup,
       CAST(((COUNT(*) - COUNT(DISTINCT coalesce(text, chr(1)
           || 'null'))) * 10000) // COUNT(*) AS BIGINT) AS dup_bp
FROM d GROUP BY source
"""

    # canonical URL dedup: the oracle computes the canonical string in
    # CLOSED FORM (both decorated spellings of pair k must collapse to
    # exactly this), so any canonicalization bug hash-mismatches
    canonical_dedup_sql = """
WITH m AS (
  SELECT doc_id, doc_id // 2 AS k FROM documents
  WHERE doc_id IS NOT NULL
)
SELECT 'https://d' || CAST(k % 97 AS VARCHAR) || '.example.org/p/'
         || CAST(k AS VARCHAR) || '?a=1&b=2' AS canonical_url,
       COUNT(*) AS n_docs,
       MIN(doc_id) AS keep_key
FROM m GROUP BY k HAVING COUNT(*) > 1
"""

    # row diff: same planted mutations, full-outer with IS NOT
    # DISTINCT FROM; concat_ws skips NULLs in both engines so
    # changed_cols lists differing columns in compare order
    row_diff_sql = """
WITH prev AS (
  SELECT * FROM documents WHERE doc_id IS NOT NULL
),
cur AS (
  SELECT doc_id, text,
         CASE WHEN doc_id % 17 = 4 THEN 'xx' ELSE lang END AS lang,
         source,
         CASE WHEN doc_id % 19 = 6 THEN n_chars + 1
              ELSE n_chars END AS n_chars
  FROM prev WHERE doc_id % 13 <> 3
  UNION ALL
  SELECT doc_id + 1000000, text, lang, source, n_chars
  FROM prev WHERE doc_id % 23 = 1
),
j AS (
  SELECT c.doc_id AS ck, p.doc_id AS pk,
         (c.doc_id IS NOT NULL) AS cpresent,
         (p.doc_id IS NOT NULL) AS ppresent,
         concat_ws(',',
           CASE WHEN c.text IS DISTINCT FROM p.text THEN 'text' END,
           CASE WHEN c.lang IS DISTINCT FROM p.lang THEN 'lang' END,
           CASE WHEN c.source IS DISTINCT FROM p.source
                THEN 'source' END,
           CASE WHEN c.n_chars IS DISTINCT FROM p.n_chars
                THEN 'n_chars' END) AS chg
  FROM cur c FULL OUTER JOIN prev p
    ON c.doc_id IS NOT DISTINCT FROM p.doc_id
)
SELECT coalesce(ck, pk) AS key,
       CASE WHEN NOT ppresent THEN 'added'
            WHEN NOT cpresent THEN 'removed'
            ELSE 'changed' END AS status,
       CASE WHEN ppresent AND cpresent THEN chg ELSE '' END
         AS changed_cols
FROM j
WHERE NOT ppresent OR NOT cpresent OR chg <> ''
"""

    # hashed classifier: the oracle rebuilds the exact term universe
    # (unigrams + bigrams of lowercased [ \t\n\r\f]+ tokens), the exact
    # bucket (md5-hex-prefix % 2^18 — verified engine-identical), and
    # the exact integer weight formula; LEFT JOIN keeps token-less docs
    # at (0, 0, false) and null-text docs at (null, null, null)
    classifier_cte = r"""
WITH t AS (
  SELECT doc_id,
         list_filter(string_split_regex(lower(text), '[ \t\n\r\f]+'),
                     x -> x <> '') AS toks
  FROM documents WHERE text IS NOT NULL
),
terms AS (
  SELECT doc_id,
         unnest(list_concat(
           toks,
           [toks[i] || ' ' || toks[i+1] for i in range(1, len(toks))]
         )) AS term
  FROM t
),
s AS (
  SELECT doc_id,
         CAST(COUNT(*) AS BIGINT) AS n_terms,
         CAST(SUM(
           CAST(('0x' || substr(md5(term), 1, 8))::UBIGINT % 262144
                AS BIGINT) % 997 - 498
         ) AS BIGINT) AS score
  FROM terms GROUP BY doc_id
),
lab AS (
  SELECT d.doc_id,
         CASE WHEN d.text IS NULL THEN NULL
              ELSE coalesce(s.n_terms, 0) END AS n_terms,
         CASE WHEN d.text IS NULL THEN NULL
              ELSE coalesce(s.score, 0) END AS score,
         CASE WHEN d.text IS NULL THEN NULL
              ELSE coalesce(s.score, 0) > 0 END AS label
  FROM documents d LEFT JOIN s USING (doc_id)
)
"""

    text_classifier_sql = classifier_cte + """
SELECT doc_id, n_terms, score, label FROM lab
"""

    # DSIR: the classifier term universe at n_buckets=1024, target =
    # doc_id%7==0; lam reproduces operators/dsir._fit_log_ratios
    # EXPRESSION-FOR-EXPRESSION (same ln association order, same
    # floor, same 1e6 scale) — everything after the floor is integer
    dsir_sql = r"""
WITH t AS (
  SELECT doc_id,
         list_filter(string_split_regex(lower(text), '[ \t\n\r\f]+'),
                     x -> x <> '') AS toks
  FROM documents WHERE text IS NOT NULL
),
terms AS (
  SELECT doc_id,
         unnest(list_concat(
           toks,
           [toks[i] || ' ' || toks[i+1] for i in range(1, len(toks))]
         )) AS term
  FROM t
),
b AS (
  SELECT doc_id,
         CAST(('0x' || substr(md5(term), 1, 8))::UBIGINT % 1024
              AS BIGINT) AS bucket
  FROM terms
),
rawh AS (SELECT bucket, COUNT(*) AS cnt FROM b GROUP BY bucket),
tgth AS (SELECT bucket, COUNT(*) AS cnt FROM b
         WHERE doc_id % 7 = 0 GROUP BY bucket),
tot AS (
  SELECT (SELECT COALESCE(SUM(cnt), 0) FROM rawh) AS tr,
         (SELECT COALESCE(SUM(cnt), 0) FROM tgth) AS tt
),
lam AS (
  SELECT g.range AS bucket,
         CAST(floor((ln(COALESCE(tg.cnt, 0) + 1) - ln(tt + 1024)
                     - ln(COALESCE(r.cnt, 0) + 1) + ln(tr + 1024))
                    * 1000000) AS BIGINT) AS lam
  FROM range(1024) g
  CROSS JOIN tot
  LEFT JOIN rawh r ON r.bucket = g.range
  LEFT JOIN tgth tg ON tg.bucket = g.range
),
s AS (
  SELECT b.doc_id,
         CAST(COUNT(*) AS BIGINT) AS n_terms,
         CAST(SUM(l.lam) AS BIGINT) AS score
  FROM b JOIN lam l USING (bucket) GROUP BY b.doc_id
),
w AS (
  SELECT d.doc_id,
         CASE WHEN d.text IS NULL THEN NULL
              ELSE coalesce(s.n_terms, 0) END AS n_terms,
         CASE WHEN d.text IS NULL THEN NULL
              ELSE coalesce(s.score, 0) END AS dsir_score
  FROM documents d LEFT JOIN s USING (doc_id)
)
SELECT doc_id, n_terms, dsir_score,
       CASE WHEN dsir_score IS NULL OR n_terms IS NULL THEN NULL
            ELSE n_terms > 0 AND dsir_score * 1000 >= -50 * n_terms
       END AS keep
FROM w
"""

    classifier_eval_sql = classifier_cte + """
, j AS (
  SELECT label AS pred,
         CASE WHEN doc_id % 37 = 11 THEN NULL
              ELSE doc_id % 7 < 3 END AS truth
  FROM lab
),
c AS (
  SELECT
    CAST(SUM(CASE WHEN pred IS NOT NULL AND truth IS NOT NULL
                   AND pred AND truth THEN 1 ELSE 0 END)
         AS BIGINT) AS tp,
    CAST(SUM(CASE WHEN pred IS NOT NULL AND truth IS NOT NULL
                   AND pred AND NOT truth THEN 1 ELSE 0 END)
         AS BIGINT) AS fp,
    CAST(SUM(CASE WHEN pred IS NOT NULL AND truth IS NOT NULL
                   AND NOT pred AND truth THEN 1 ELSE 0 END)
         AS BIGINT) AS fn,
    CAST(SUM(CASE WHEN pred IS NOT NULL AND truth IS NOT NULL
                   AND NOT pred AND NOT truth THEN 1 ELSE 0 END)
         AS BIGINT) AS tn,
    CAST(SUM(CASE WHEN pred IS NULL OR truth IS NULL
                  THEN 1 ELSE 0 END) AS BIGINT) AS n_null
  FROM j
)
SELECT tp, fp, fn, tn, n_null,
       CASE WHEN tp + fp > 0
            THEN CAST((tp * 10000) // (tp + fp) AS BIGINT) END
         AS precision_bp,
       CASE WHEN tp + fn > 0
            THEN CAST((tp * 10000) // (tp + fn) AS BIGINT) END
         AS recall_bp,
       CASE WHEN 2 * tp + fp + fn > 0
            THEN CAST((tp * 20000) // (2 * tp + fp + fn) AS BIGINT) END
         AS f1_bp,
       CASE WHEN tp + fp + fn + tn > 0
            THEN CAST(((tp + tn) * 10000) // (tp + fp + fn + tn)
                      AS BIGINT) END
         AS accuracy_bp
FROM c
"""

    # closed-form twin of q_domain_graph's planted link structure:
    # link1 for every doc, link2 for doc_id%3==0; the relative link
    # (doc_id%11==0) is absolute-only-filtered on the Spark side and
    # therefore absent here by construction
    domain_graph_sql = """
WITH e AS (
  SELECT source || '.example.org' AS src_domain,
         's' || CAST((doc_id * 7 + 1) % 24 AS VARCHAR)
             || '.example.org' AS dst_domain
  FROM documents
  UNION ALL
  SELECT source || '.example.org',
         's' || CAST((doc_id * 13 + 5) % 24 AS VARCHAR)
             || '.example.org'
  FROM documents WHERE doc_id % 3 = 0
),
g AS (
  SELECT src_domain, dst_domain, CAST(COUNT(*) AS BIGINT) AS weight
  FROM e GROUP BY 1, 2
),
od AS (
  SELECT src_domain AS domain,
         CAST(COUNT(*) AS BIGINT) AS out_degree,
         CAST(SUM(weight) AS BIGINT) AS out_weight
  FROM g GROUP BY 1
),
idg AS (
  SELECT dst_domain AS domain,
         CAST(COUNT(*) AS BIGINT) AS in_degree,
         CAST(SUM(weight) AS BIGINT) AS in_weight
  FROM g GROUP BY 1
)
SELECT coalesce(od.domain, idg.domain) AS domain,
       CAST(coalesce(out_degree, 0) AS BIGINT) AS out_degree,
       CAST(coalesce(in_degree, 0) AS BIGINT) AS in_degree,
       CAST(coalesce(out_weight, 0) AS BIGINT) AS out_weight,
       CAST(coalesce(in_weight, 0) AS BIGINT) AS in_weight
FROM od FULL OUTER JOIN idg ON od.domain = idg.domain
"""

    # 3-level unrolled twin of the integer fixed-point PageRank
    # recurrence: base = (1500*10^6)//10^4 = 150000, every division a
    # floor div over non-negative bigints (DuckDB // == Spark div)
    pagerank_sql = """
WITH e0 AS (
  SELECT doc_id % 40 AS src, (doc_id * 7 + 1) % 40 AS dst
  FROM documents
  UNION ALL
  SELECT doc_id % 40, (doc_id * 13 + 5) % 40
  FROM documents WHERE doc_id % 2 = 0
),
e AS (SELECT DISTINCT src, dst FROM e0 WHERE src <> dst),
od AS (SELECT src, CAST(COUNT(*) AS BIGINT) AS d FROM e GROUP BY src),
n AS (SELECT DISTINCT src AS node FROM e
      UNION SELECT DISTINCT dst FROM e),
r0 AS (SELECT node, CAST(1000000 AS BIGINT) AS rank FROM n),
i1 AS (
  SELECT n.node,
         CAST(150000 + (8500 * coalesce(s.inc, 0)) // 10000
              AS BIGINT) AS rank
  FROM n LEFT JOIN (
    SELECT e.dst AS node, SUM(r0.rank // od.d) AS inc
    FROM e JOIN r0 ON r0.node = e.src JOIN od ON od.src = e.src
    GROUP BY e.dst) s ON n.node = s.node
),
i2 AS (
  SELECT n.node,
         CAST(150000 + (8500 * coalesce(s.inc, 0)) // 10000
              AS BIGINT) AS rank
  FROM n LEFT JOIN (
    SELECT e.dst AS node, SUM(i1.rank // od.d) AS inc
    FROM e JOIN i1 ON i1.node = e.src JOIN od ON od.src = e.src
    GROUP BY e.dst) s ON n.node = s.node
),
i3 AS (
  SELECT n.node,
         CAST(150000 + (8500 * coalesce(s.inc, 0)) // 10000
              AS BIGINT) AS rank
  FROM n LEFT JOIN (
    SELECT e.dst AS node, SUM(i2.rank // od.d) AS inc
    FROM e JOIN i2 ON i2.node = e.src JOIN od ON od.src = e.src
    GROUP BY e.dst) s ON n.node = s.node
)
SELECT node, rank FROM i3
"""

    trustrank_sql = """
WITH e0 AS (
  SELECT doc_id % 40 AS src, (doc_id * 7 + 1) % 40 AS dst
  FROM documents
  UNION ALL
  SELECT doc_id % 40, (doc_id * 13 + 5) % 40
  FROM documents WHERE doc_id % 2 = 0
),
e AS (SELECT DISTINCT src, dst FROM e0 WHERE src <> dst),
od AS (SELECT src, CAST(COUNT(*) AS BIGINT) AS d FROM e GROUP BY src),
n AS (SELECT DISTINCT src AS node FROM e
      UNION SELECT DISTINCT dst FROM e),
r0 AS (SELECT node,
              CAST(CASE WHEN node % 5 = 0 THEN 1000000 ELSE 0 END
                   AS BIGINT) AS rank
       FROM n),
i1 AS (
  SELECT n.node,
         CAST(CASE WHEN n.node % 5 = 0 THEN 150000 ELSE 0 END
              + (8500 * coalesce(s.inc, 0)) // 10000
              AS BIGINT) AS rank
  FROM n LEFT JOIN (
    SELECT e.dst AS node, SUM(r0.rank // od.d) AS inc
    FROM e JOIN r0 ON r0.node = e.src JOIN od ON od.src = e.src
    GROUP BY e.dst) s ON n.node = s.node
),
i2 AS (
  SELECT n.node,
         CAST(CASE WHEN n.node % 5 = 0 THEN 150000 ELSE 0 END
              + (8500 * coalesce(s.inc, 0)) // 10000
              AS BIGINT) AS rank
  FROM n LEFT JOIN (
    SELECT e.dst AS node, SUM(i1.rank // od.d) AS inc
    FROM e JOIN i1 ON i1.node = e.src JOIN od ON od.src = e.src
    GROUP BY e.dst) s ON n.node = s.node
),
i3 AS (
  SELECT n.node,
         CAST(CASE WHEN n.node % 5 = 0 THEN 150000 ELSE 0 END
              + (8500 * coalesce(s.inc, 0)) // 10000
              AS BIGINT) AS rank
  FROM n LEFT JOIN (
    SELECT e.dst AS node, SUM(i2.rank // od.d) AS inc
    FROM e JOIN i2 ON i2.node = e.src JOIN od ON od.src = e.src
    GROUP BY e.dst) s ON n.node = s.node
)
SELECT node, rank FROM i3
"""

    hits_sql = """
WITH e0 AS (
  SELECT doc_id % 40 AS src, (doc_id * 7 + 1) % 40 AS dst
  FROM documents
  UNION ALL
  SELECT doc_id % 40, (doc_id * 13 + 5) % 40
  FROM documents WHERE doc_id % 2 = 0
),
e AS (SELECT DISTINCT src, dst FROM e0 WHERE src <> dst),
n AS (SELECT DISTINCT src AS node FROM e
      UNION SELECT DISTINCT dst FROM e),
h0 AS (SELECT node, CAST(1000 AS BIGINT) AS h FROM n),
i1a AS (
  SELECT n.node, CAST(COALESCE(s.v, 0) AS BIGINT) AS a
  FROM n LEFT JOIN (
    SELECT e.dst AS node, SUM(h0.h) AS v
    FROM e JOIN h0 ON h0.node = e.src GROUP BY e.dst) s
    ON n.node = s.node
),
i1h AS (
  SELECT n.node, CAST(COALESCE(s.v, 0) AS BIGINT) AS h
  FROM n LEFT JOIN (
    SELECT e.src AS node, SUM(i1a.a) AS v
    FROM e JOIN i1a ON i1a.node = e.dst GROUP BY e.src) s
    ON n.node = s.node
),
i2a AS (
  SELECT n.node, CAST(COALESCE(s.v, 0) AS BIGINT) AS a
  FROM n LEFT JOIN (
    SELECT e.dst AS node, SUM(i1h.h) AS v
    FROM e JOIN i1h ON i1h.node = e.src GROUP BY e.dst) s
    ON n.node = s.node
),
i2h AS (
  SELECT n.node, CAST(COALESCE(s.v, 0) AS BIGINT) AS h
  FROM n LEFT JOIN (
    SELECT e.src AS node, SUM(i2a.a) AS v
    FROM e JOIN i2a ON i2a.node = e.dst GROUP BY e.src) s
    ON n.node = s.node
)
SELECT n.node, i2h.h AS hub, i2a.a AS authority
FROM n JOIN i2h ON i2h.node = n.node JOIN i2a ON i2a.node = n.node
"""

    return {
        "domain_graph": domain_graph_sql,
        "pagerank": pagerank_sql,
        "trustrank": trustrank_sql,
        "hits": hits_sql,
        "text_classifier": text_classifier_sql,
        "classifier_eval": classifier_eval_sql,
        "dsir": dsir_sql,
        # exact interpolated per-group quantiles (quantile_cont twin)
        "group_quantiles": """
SELECT lang AS "group", CAST(0.5 AS DOUBLE) AS q,
       round(CAST(quantile_cont(n_chars, 0.5) AS DOUBLE), 4) AS value
FROM documents GROUP BY lang
UNION ALL
SELECT lang, CAST(0.9 AS DOUBLE),
       round(CAST(quantile_cont(n_chars, 0.9) AS DOUBLE), 4)
FROM documents GROUP BY lang
UNION ALL
SELECT lang, CAST(0.99 AS DOUBLE),
       round(CAST(quantile_cont(n_chars, 0.99) AS DOUBLE), 4)
FROM documents GROUP BY lang
""",
        # merged-manifest exact fields == direct full-table stats
        "stats_merge": """
SELECT 'doc_id' AS "column", 'bigint' AS dtype,
       CAST(COUNT(doc_id) AS BIGINT) AS cnt,
       CAST(SUM(CASE WHEN doc_id IS NULL THEN 1 ELSE 0 END)
            AS BIGINT) AS nulls,
       CAST(MIN(doc_id) AS BIGINT) AS min_int,
       CAST(MAX(doc_id) AS BIGINT) AS max_int,
       CAST(NULL AS DOUBLE) AS min_num,
       CAST(NULL AS DOUBLE) AS max_num,
       CAST(NULL AS VARCHAR) AS min_str,
       CAST(NULL AS VARCHAR) AS max_str
FROM documents
UNION ALL
SELECT 'n_chars', 'bigint', CAST(COUNT(n_chars) AS BIGINT),
       CAST(SUM(CASE WHEN n_chars IS NULL THEN 1 ELSE 0 END)
            AS BIGINT),
       CAST(MIN(n_chars) AS BIGINT), CAST(MAX(n_chars) AS BIGINT),
       CAST(NULL AS DOUBLE), CAST(NULL AS DOUBLE),
       NULL, NULL
FROM documents
UNION ALL
SELECT 'text', 'string', CAST(COUNT(text) AS BIGINT),
       CAST(SUM(CASE WHEN text IS NULL THEN 1 ELSE 0 END) AS BIGINT),
       CAST(NULL AS BIGINT), CAST(NULL AS BIGINT),
       CAST(NULL AS DOUBLE), CAST(NULL AS DOUBLE),
       MIN(text), MAX(text)
FROM documents
UNION ALL
SELECT 'lang', 'string', CAST(COUNT(lang) AS BIGINT),
       CAST(SUM(CASE WHEN lang IS NULL THEN 1 ELSE 0 END) AS BIGINT),
       CAST(NULL AS BIGINT), CAST(NULL AS BIGINT),
       CAST(NULL AS DOUBLE), CAST(NULL AS DOUBLE),
       MIN(lang), MAX(lang)
FROM documents
UNION ALL
SELECT 'source', 'string', CAST(COUNT(source) AS BIGINT),
       CAST(SUM(CASE WHEN source IS NULL THEN 1 ELSE 0 END)
            AS BIGINT),
       CAST(NULL AS BIGINT), CAST(NULL AS BIGINT),
       CAST(NULL AS DOUBLE), CAST(NULL AS DOUBLE),
       MIN(source), MAX(source)
FROM documents
""",
        # closed-form twin of q_anchor_profile's planted link labels
        "anchor_profile": """
WITH hubs AS (
  SELECT doc_id % 7 AS h, CAST(COUNT(*) AS BIGINT) AS n
  FROM documents GROUP BY doc_id % 7
)
SELECT 'https://t' || CAST(h AS VARCHAR) || '.org/a' AS dst_url,
       n AS n_refs, CAST(1 AS BIGINT) AS n_texts,
       to_json(['go to ' || CAST(h AS VARCHAR)]) AS top_anchors
FROM hubs
UNION ALL
SELECT 'https://u.org/' || CAST(doc_id AS VARCHAR),
       CAST(1 AS BIGINT), CAST(1 AS BIGINT), to_json(['deep link'])
FROM documents WHERE doc_id % 3 = 0
UNION ALL
SELECT 'https://e.org/x', CAST(COUNT(*) AS BIGINT),
       CAST(0 AS BIGINT), to_json(CAST([] AS VARCHAR[]))
FROM documents WHERE doc_id % 6 = 1
HAVING COUNT(*) > 0
""",
        # calendar EXCEPT observed days over the same planted holes
        "missing_days": """
WITH d AS (
  SELECT DISTINCT CAST(ts AS DATE) AS day
  FROM events
  WHERE ts IS NOT NULL AND EXTRACT(day FROM ts) % 5 <> 2
),
b AS (SELECT MIN(day) AS mn, MAX(day) AS mx FROM d),
cal AS (
  SELECT CAST(unnest(generate_series(CAST(mn AS TIMESTAMP),
                                     CAST(mx AS TIMESTAMP),
                                     INTERVAL 1 DAY)) AS DATE)
           AS missing_day
  FROM b
)
SELECT missing_day FROM cal
EXCEPT
SELECT day FROM d
""",
        # child-count bounds recomputed in plain SQL
        "fk_cardinality": """
WITH c AS (
  SELECT l_orderkey AS key, CAST(COUNT(*) AS BIGINT) AS n_children
  FROM lineitem
  WHERE l_orderkey IS NOT NULL AND l_orderkey % 97 <> 0
  GROUP BY l_orderkey
),
j AS (
  SELECT o.o_orderkey AS key,
         CAST(COALESCE(c.n_children, 0) AS BIGINT) AS n_children
  FROM orders o LEFT JOIN c ON c.key = o.o_orderkey
)
SELECT key, n_children,
       CASE WHEN n_children < 1 THEN 'too_few'
            WHEN n_children > 4 THEN 'too_many' END AS violation
FROM j WHERE n_children < 1 OR n_children > 4
""",
        # cohort retention with the null-safe anonymous-cohort terms
        "retention": """
WITH ev AS (
  SELECT user_id AS u, CAST(ts AS DATE) AS day
  FROM events WHERE ts IS NOT NULL
),
f AS (SELECT u, MIN(day) AS cohort_day FROM ev GROUP BY u),
j AS (
  SELECT ev.u, f.cohort_day,
         CAST(date_diff('day', f.cohort_day, ev.day) AS BIGINT)
           AS offset_days
  FROM ev JOIN f ON ev.u IS NOT DISTINCT FROM f.u
)
SELECT cohort_day, offset_days,
       CAST(COUNT(DISTINCT u)
            + MAX(CASE WHEN u IS NULL THEN 1 ELSE 0 END)
            AS BIGINT) AS n_users
FROM j WHERE offset_days <= 30
GROUP BY cohort_day, offset_days
""",
        # greedy subsequence funnel as chained min-occurrence joins
        "funnel": """
WITH ev AS (
  SELECT user_id, event_type,
         ROW_NUMBER() OVER (PARTITION BY user_id
                            ORDER BY ts, event_id) AS ord
  FROM events WHERE ts IS NOT NULL
),
e1 AS (SELECT user_id, MIN(ord) AS o1 FROM ev
       WHERE event_type = 'view' GROUP BY user_id),
e2 AS (SELECT ev.user_id, MIN(ord) AS o2
       FROM ev JOIN e1 USING (user_id)
       WHERE event_type = 'click' AND ord > o1
       GROUP BY ev.user_id),
e3 AS (SELECT ev.user_id, MIN(ord) AS o3
       FROM ev JOIN e2 USING (user_id)
       WHERE event_type = 'purchase' AND ord > o2
       GROUP BY ev.user_id)
SELECT CAST(1 AS BIGINT) AS stage,
       CAST((SELECT COUNT(*) FROM e1) AS BIGINT) AS n_users
UNION ALL
SELECT CAST(2 AS BIGINT), CAST((SELECT COUNT(*) FROM e2) AS BIGINT)
UNION ALL
SELECT CAST(3 AS BIGINT), CAST((SELECT COUNT(*) FROM e3) AS BIGINT)
""",
        # the decontam token contract + DuckDB list comprehension
        # rebuild the capped word table and its char pairs exactly
        "bpe_pairs": r"""
WITH w AS (
  SELECT word, CAST(COUNT(*) AS BIGINT) AS cnt FROM (
    SELECT unnest(list_filter(
             string_split_regex(lower(text), '[ \t\n\r\f]+'),
             x -> x <> '')) AS word
    FROM documents WHERE text IS NOT NULL
  ) GROUP BY word
  ORDER BY cnt DESC, word ASC LIMIT 200
),
s AS (SELECT cnt, regexp_extract_all(word, '.') AS sym FROM w),
p AS (
  SELECT cnt,
         unnest([{'l': sym[i], 'r': sym[i+1]}
                 for i in range(1, len(sym))]) AS pr
  FROM s
)
SELECT pr.l AS l, pr.r AS r, CAST(SUM(cnt) AS BIGINT) AS n
FROM p GROUP BY pr.l, pr.r
""",
        # corpus datasheet over the same planted-PII text; every term
        # recomputed independently in SQL
        "corpus_report": r"""
WITH p AS (
  SELECT lang,
         CASE WHEN doc_id % 23 = 9
              THEN text || ' contact op@example.org now'
              ELSE text END AS text
  FROM documents
),
base AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
         CAST(SUM(CASE WHEN text IS NULL THEN 1 ELSE 0 END)
              AS BIGINT) AS n_null_text,
         CAST(SUM(COALESCE(len(regexp_extract_all(text,
                '[^ \t\n\r\f]+')), 0)) AS BIGINT) AS total_tokens,
         CAST(SUM(COALESCE(length(text), 0)) AS BIGINT)
           AS total_chars,
         CAST(COUNT(DISTINCT md5(text)) AS BIGINT)
           AS n_distinct_texts,
         CAST(SUM(CASE WHEN text IS NOT NULL AND (
                regexp_matches(text,
                  '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')
                OR regexp_matches(text,
                  '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b')
                OR regexp_matches(text,
                  '\+\d{1,3}[ -]\d{3}[ -]\d{3,4}[ -]\d{3,4}\b')
              ) THEN 1 ELSE 0 END) AS BIGINT) AS pii_docs,
         CAST(COUNT(DISTINCT lang) AS BIGINT) AS n_langs
  FROM p
),
top AS (
  SELECT lang AS top_lang,
         CAST(COUNT(*) AS BIGINT) AS top_lang_n
  FROM p GROUP BY lang
  ORDER BY COUNT(*) DESC, lang ASC NULLS LAST LIMIT 1
)
SELECT n_docs, n_null_text, total_tokens, total_chars,
       n_distinct_texts, pii_docs, n_langs, top_lang, top_lang_n,
       CASE WHEN n_docs - n_null_text > 0 THEN
         CAST(((n_docs - n_null_text - n_distinct_texts) * 10000)
              // (n_docs - n_null_text) AS BIGINT) END AS exact_dup_bp,
       CASE WHEN n_docs > 0 THEN
         CAST((pii_docs * 10000) // n_docs AS BIGINT) END AS pii_bp,
       CASE WHEN n_docs > 0 THEN
         CAST((top_lang_n * 10000) // n_docs AS BIGINT) END
         AS top_lang_bp
FROM base CROSS JOIN top
""",
        # closed-form twin of q_frontier: pair pages for k%4<>0 plus
        # the fresh doc_id%10==0 singletons; seen (k%4==0) and null
        # candidates are absent by construction
        "frontier": """
WITH ks AS (SELECT doc_id // 2 AS k, CAST(COUNT(*) AS BIGINT) AS c
            FROM documents WHERE doc_id IS NOT NULL
            GROUP BY doc_id // 2),
pair AS (
  SELECT 'https://d' || CAST(k % 97 AS VARCHAR) || '.example.org/p/'
           || CAST(k AS VARCHAR) || '?a=1&b=2' AS url,
         c AS n_refs
  FROM ks WHERE k % 4 <> 0
),
extra AS (
  SELECT 'https://new.example.org/s/' || CAST(doc_id AS VARCHAR)
           AS url,
         CAST(1 AS BIGINT) AS n_refs
  FROM documents WHERE doc_id % 10 = 0
)
SELECT url, n_refs FROM pair
UNION ALL
SELECT url, n_refs FROM extra
""",
        # closed-form twin of q_sitemap's planted payload structure
        "sitemap": """
WITH d AS (
  SELECT doc_id FROM documents WHERE doc_id % 11 <> 7
),
u AS (
  SELECT doc_id, 'urlset' AS kind,
         'https://h' || CAST(doc_id % 20 AS VARCHAR) || '.org/p/'
           || CAST(doc_id AS VARCHAR) || '?a=1&b='
           || CAST(doc_id AS VARCHAR) AS loc,
         '2024-03-0' || CAST(doc_id % 9 + 1 AS VARCHAR) AS lastmod
  FROM d WHERE doc_id % 5 <> 0
  UNION ALL
  SELECT doc_id, 'urlset',
         'https://h' || CAST(doc_id % 20 AS VARCHAR) || '.org/q/'
           || CAST(doc_id AS VARCHAR),
         NULL
  FROM d WHERE doc_id % 5 <> 0
  UNION ALL
  SELECT doc_id, 'sitemapindex',
         'https://h' || CAST(doc_id % 20 AS VARCHAR) || '.org/sm'
           || CAST(doc_id AS VARCHAR) || 'a.xml',
         NULL
  FROM d WHERE doc_id % 5 = 0
  UNION ALL
  SELECT doc_id, 'sitemapindex',
         'https://h' || CAST(doc_id % 20 AS VARCHAR) || '.org/sm'
           || CAST(doc_id AS VARCHAR) || 'b.xml',
         NULL
  FROM d WHERE doc_id % 5 = 0
)
SELECT doc_id, kind, loc, lastmod FROM u
""",
        # one-window twin of the engine's two-level shard prefix sum
        "shard_plan": r"""
WITH s AS (
  SELECT doc_id,
         CAST(COALESCE(len(regexp_extract_all(text,
                '[^ \t\n\r\f]+')), 0) AS BIGINT) AS n_units
  FROM documents
),
c AS (
  SELECT doc_id, n_units,
         CAST(COALESCE(SUM(n_units) OVER (
           ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
         AS BIGINT) AS "offset"
  FROM s
)
SELECT doc_id, n_units, "offset",
       CAST("offset" // 40000 AS BIGINT) AS shard_id
FROM c
""",
        # closed-form twin of q_main_content's planted page structure
        "main_content": """
WITH e AS (
  SELECT doc_id,
         doc_id % 11 = 5 AS is_null,
         'alpha bravo charlie delta echo foxtrot golf hotel india '
           || 'juliet kilo ' || CAST(doc_id AS VARCHAR) AS b1,
         'lima mike november oscar papa quebec romeo sierra tango '
           || '& uniform ' || CAST(doc_id AS VARCHAR) AS b2
  FROM documents
),
m AS (
  SELECT doc_id,
         CASE WHEN is_null THEN NULL
              WHEN doc_id % 3 = 0 THEN b1 || chr(10) || b2
              ELSE b1 END AS main_text,
         CASE WHEN is_null THEN NULL
              WHEN doc_id % 3 = 0 THEN 5 ELSE 4 END AS n_blocks,
         CASE WHEN is_null THEN NULL
              WHEN doc_id % 3 = 0 THEN 2 ELSE 1 END AS n_kept
  FROM e
)
SELECT doc_id, main_text,
       CAST(n_blocks AS BIGINT) AS n_blocks,
       CAST(n_kept AS BIGINT) AS n_kept,
       CAST(length(main_text) AS BIGINT) AS n_chars
FROM m
""",
        "benford": benford_sql,
        "dup_rate": dup_rate_sql,
        "canonical_dedup": canonical_dedup_sql,
        "row_diff": row_diff_sql,
        "stats": stats_sql,
        "stats_salted_exact": stats_salted_exact_sql,
        "row_violations": row_viol_sql,
        "referential": referential_sql,
        # result-identical by contract to the broadcast strategy —
        # same SQL, different physical plan on the Spark side
        "referential_large_dim": referential_sql,
        "uniqueness": uniqueness_sql,
        "extraction": extraction_sql,
        "pages_violations": pages_viol_sql,
        "datetime_conformance": datetime_conformance_sql,
        "exact_dedup": exact_dedup_sql,
        "passage_dedup": passage_dedup_sql,
        "dedup_keep_first": dedup_keep_first_sql,
        "quality_topk_per_lang": quality_topk_sql,
        "quantiles": quantiles_sql,
        "drift_buckets": drift_buckets_sql,
        # drift_grid_accuracy: rank-space containment — any row is a
        # sketch-accuracy bug, so the oracle is the empty set
        "drift_grid_accuracy": """
SELECT CAST(NULL AS DOUBLE) AS q, CAST(NULL AS DOUBLE) AS value,
       CAST(NULL AS DOUBLE) AS rank_lt, CAST(NULL AS DOUBLE) AS rank_le
WHERE 1 = 0
""",
        "pricing_summary": pricing_sql,
        "token_counts": token_counts_sql,
        "fingerprint": fingerprint_sql,
        "ngram_jaccard": ngram_jaccard_sql,
        "minhash_containment": minhash_containment_sql,
        "ann_lsh_containment": """
SELECT CAST(NULL AS BIGINT) AS query_id, CAST(NULL AS BIGINT) AS vec_id
WHERE 1 = 0
""",
        "ann_ivf_exact": ann_topk_sql,
        "frame_sample": frame_sample_sql,
        # tz_conformance: the conforming spec contributes no rows; the
        # mismatched spec contributes exactly this structural error
        "tz_conformance": """
SELECT 'timezone_mismatch' AS err_type,
       '$.warc_ts.timezone' AS error_at,
       'Column ''warc_ts'' declares timezone ''America/New_York'' but '
         || 'the session parses and renders timestamps in ''UTC''.'
         AS message
""",
        # image_meta_ppm: every metadata column is a closed-form
        # function of doc_id (constant-pixel P6 payload rendered from
        # it): header = "P6\n" + w + " " + h + "\n255\n" = 9 + digits
        "image_meta_ppm": """
SELECT doc_id,
       CAST(1 + doc_id % 13 AS INTEGER) AS width,
       CAST(1 + doc_id % 7 AS INTEGER) AS height,
       CAST(3 AS INTEGER) AS channels,
       CAST(9 + length(CAST(1 + doc_id % 13 AS VARCHAR))
              + length(CAST(1 + doc_id % 7 AS VARCHAR))
              + (1 + doc_id % 13) * (1 + doc_id % 7) * 3
            AS BIGINT) AS n_bytes,
       round(CAST(doc_id % 256 AS DOUBLE), 4) AS mean_intensity
FROM documents
""",
        # audio_meta: the oracle re-derives the planted PCM samples
        # (sample k = ((3·doc_id+7k) mod 256) − 128) with
        # generate_series and recomputes every statistic in exact
        # integer arithmetic (`//` = the engine's `div`)
        "audio_meta": """
WITH d AS (
  SELECT doc_id,
         CAST(8000 * (1 + doc_id % 3) AS INTEGER) AS sample_rate,
         CAST(16 + doc_id % 32 AS BIGINT) AS n_frames
  FROM documents
),
s AS (
  SELECT d.doc_id, abs(((3 * d.doc_id + 7 * g.k) % 256) - 128) AS a
  FROM d, LATERAL (
    SELECT unnest(generate_series(0, d.n_frames - 1)) AS k
  ) g
),
st AS (
  SELECT doc_id, max(a) AS peak, sum(a) AS total, count(*) AS n
  FROM s GROUP BY doc_id
)
SELECT d.doc_id,
       CAST(1 AS INTEGER) AS channels,
       d.sample_rate,
       CAST(16 AS INTEGER) AS bits,
       d.n_frames,
       CAST((d.n_frames * 1000) // d.sample_rate AS BIGINT) AS duration_ms,
       CAST(st.peak AS INTEGER) AS peak_abs,
       CAST((st.total * 100) // st.n AS BIGINT) AS mean_abs_x100
FROM d JOIN st USING (doc_id)
""",
        "ann_pairs_blocked": ann_pairs_sql,
        "ann_topk": ann_topk_sql,
        # PQ exact regime reconstructs every vector exactly -> same
        # answer (and SQL) as brute-force ann_topk
        "ann_pq_exact": ann_topk_sql,
        "ann_ivfpq_exact": ann_topk_sql,
        "lang_id": lang_id_sql,
        # declared-vs-detected conformance: nests the full lang_id
        # oracle and re-aggregates (`//` = the engine's `div`)
        "lang_agreement": (
            "WITH li AS (" + lang_id_sql + ") "
            "SELECT lang, CAST(count(*) AS BIGINT) AS n_docs, "
            "CAST(sum(CASE WHEN lang_pred = lang THEN 1 ELSE 0 END) "
            "AS BIGINT) AS n_match, "
            "CAST((sum(CASE WHEN lang_pred = lang THEN 1 ELSE 0 END) "
            "* 10000) // count(*) AS BIGINT) AS match_bp "
            "FROM li GROUP BY lang"
        ),
        "repetition_profile": repetition_sql,
        "pii_scan": pii_sql,
        "dedup_clusters": dedup_clusters_sql,
        "asof_purchase": asof_sql,
        "hash_split": hash_split_sql,
        "stratified_sample": stratified_sample_sql,
        "decontam": decontam_sql,
        "line_dedup": line_dedup_sql,
        "sessionize": sessionize_sql,
        "chunk_documents": chunk_documents_sql,
        "pack_chunks": pack_chunks_sql,
        "keywords": keywords_sql,
        "html_profile": html_profile_sql,
        # html_meta: closed-form recomputation of every planted field,
        # incl. the attribute-order variants and NULL-absent fields
        "anchors": r"""
SELECT doc_id,
       'https://t' || CAST(doc_id % 7 AS INT) || '.org/a' AS dst_url,
       'go to ' || CAST(doc_id % 7 AS INT) AS anchor
FROM documents
UNION ALL
SELECT doc_id, 'https://u.org/' || doc_id AS dst_url,
       'deep link' AS anchor
FROM documents WHERE doc_id % 3 = 0
""",
        "inverted_index": r"""
WITH planted AS (
  SELECT doc_id,
         CASE WHEN doc_id % 100 = 0
              THEN text || ' zxqj' || CAST(doc_id % 3 AS INT)
              ELSE text END AS text
  FROM documents
),
pairs AS (
  SELECT DISTINCT d.doc_id AS doc, t.term
  FROM planted d,
  LATERAL unnest(string_split_regex(lower(d.text), '[ \t\n\r\f]+'))
    AS t(term)
  WHERE d.text IS NOT NULL AND t.term != ''
),
freq AS (SELECT term, count(*) AS df FROM pairs GROUP BY term),
surv AS (SELECT term, df FROM freq WHERE df >= 2 AND df <= 495)
SELECT s.term, CAST(s.df AS BIGINT) AS df,
       to_json((list_sort(list(p.doc)))[1:50]) AS postings,
       s.df > 50 AS truncated
FROM surv s JOIN pairs p USING (term)
GROUP BY s.term, s.df
""",
        "card_scan": r"""
WITH planted AS (
  SELECT doc_id,
    text || CASE CAST(doc_id % 4 AS INT)
      WHEN 0 THEN ' card 4539 5787 6362 1486 ok'
      WHEN 1 THEN ' ref 4539-5787-6362-1487 x'
      WHEN 2 THEN ' acct 79927398713 end'
      ELSE '' END AS text
  FROM documents
),
c AS (
  SELECT doc_id, regexp_extract_all(text, '\b\d[\d -]{11,21}\d\b') AS cands
  FROM planted
)
SELECT doc_id,
  CAST(len(cands) AS INT) AS n_candidates,
  -- independent Luhn recomputation (1-based lambda index: DuckDB's
  -- even i = the engine's odd 0-based reverse position)
  CAST(len(list_filter(cands, cnd ->
    length(regexp_replace(cnd, '[^0-9]', '', 'g')) BETWEEN 13 AND 19
    AND list_aggregate(
      list_transform(
        list_reverse(regexp_extract_all(
          regexp_replace(cnd, '[^0-9]', '', 'g'), '\d')),
        (d, i) -> CASE WHEN i % 2 = 0
          THEN CASE WHEN CAST(d AS INT)*2 > 9 THEN CAST(d AS INT)*2 - 9
               ELSE CAST(d AS INT)*2 END
          ELSE CAST(d AS INT) END
      ), 'sum') % 10 = 0
  )) AS INT) AS n_valid_cards
FROM c
""",
        "html_meta": """
SELECT doc_id,
       CASE WHEN doc_id % 5 = 4 THEN NULL
            ELSE 'Doc ' || doc_id END AS title,
       CASE WHEN doc_id % 3 = 0 THEN 'about ' || doc_id
            WHEN doc_id % 3 = 1 THEN 'rev about ' || doc_id
       END AS meta_description,
       CASE WHEN doc_id % 4 = 0 THEN 'https://c.org/' || doc_id
            WHEN doc_id % 4 = 1 THEN 'https://c.org/r/' || doc_id
       END AS canonical_url,
       lang AS html_lang
FROM documents
""",
        "unigram_logprob": unigram_logprob_sql,
        "url_features": url_features_sql,
        "gopher_quality": gopher_sql,
        "c4_filters": c4_sql,
        "normalize": normalize_sql,
        "url_blocklist": url_blocklist_sql,
        "robots": robots_sql,
        "curate_e2e": curate_e2e_sql,
        # closed-form twin of q_frame_sample's rendered AVI corpus
        "frame_sample": """
WITH dims AS (
  SELECT doc_id,
         4 + doc_id % 3 AS w, 2 + doc_id % 2 AS h,
         3 + doc_id % 4 AS n,
         CAST(1000000000 // (40000 * (1 + doc_id % 2)) AS BIGINT)
           AS fps_x1000
  FROM documents
),
f AS (
  SELECT d.*, CAST(u.fi AS INT) AS frame_index
  FROM dims d, UNNEST(range(0, d.n, 2)) AS u(fi)
),
px AS (
  SELECT f.doc_id, f.frame_index, f.w, f.h, f.n, f.fps_x1000,
         SUM((f.doc_id * 7 + f.frame_index * 31 + y.range * 13
              + x.range * 5 + c.range * 3) % 256) AS sum_px
  FROM f, range(0, 3) y, range(0, 6) x, range(0, 3) c
  WHERE y.range < f.h AND x.range < f.w
  GROUP BY ALL
)
SELECT CAST(doc_id AS VARCHAR) AS key, frame_index,
       CAST(w AS INT) AS width, CAST(h AS INT) AS height,
       CAST(n AS INT) AS n_frames, fps_x1000,
       CAST(sum_px AS BIGINT) AS sum_px,
       CAST(sum_px * 100 // (w * h * 3) AS BIGINT) AS mean_px_x100
FROM px
""",
        "domain_blocklist": domain_blocklist_sql,
        "corpus_mix": corpus_mix_sql,
        # semdedup: rows-only by design (float k-means); its exactness
        # gate is the empty-relation containment twin below
        "semdedup_containment": """
SELECT CAST(NULL AS BIGINT) AS orig_id, CAST(NULL AS BIGINT) AS twin_id
WHERE 1 = 0
""",
        "ccnet_buckets": ccnet_buckets_sql,
        "drift_ks": drift_ks_sql,
        "monotonicity": monotonicity_sql,
        "volume_anomaly": volume_anomaly_sql,
        "fd_check": fd_check_sql,
        "substring_dedup": substring_dedup_sql,
        "categorical_tv": categorical_tv_sql,
        "heavy_hitters": heavy_hitters_sql,
        # the sketch path's confirm pass makes it row-identical to the
        # exact ground truth — SAME oracle SQL (the approximation is
        # confined to candidate generation, provably one-sided)
        "approx_heavy_hitters": heavy_hitters_sql,
        # per-group cap: the boundary-invariant single-window twin of
        # the engine's skew-aware anti-join + salted two-level ranking
        "domain_cap": """
SELECT doc_id, source FROM (
  SELECT doc_id, source, row_number() OVER (
    PARTITION BY source
    ORDER BY md5(coalesce(CAST(doc_id AS VARCHAR), chr(1))),
             coalesce(CAST(doc_id AS VARCHAR), chr(1))
  ) AS rn FROM documents
) WHERE rn <= 15
""",
        # bloom decontamination containment: a Bloom filter cannot
        # produce false negatives, so exact-contaminated minus
        # bloom-flagged is the empty relation
        "bloom_decontam": """
SELECT CAST(NULL AS BIGINT) AS doc_id WHERE 1 = 0
""",
        "mojibake": mojibake_sql,
        "vocab_stats": vocab_stats_sql,
        "script_profile": script_profile_sql,
        "mad_outliers": mad_outliers_sql,
        # conditional checks: the spec's when/expect strings verbatim,
        # 3VL exactly as CheckSpec documents
        "conditional_checks": """
SELECT CAST(doc_id AS VARCHAR) AS doc_id,
       'check.en_cap' AS constraint_id,
       '(n_chars <= 450) = ' ||
         CASE WHEN (n_chars <= 450) IS NULL THEN 'NULL'
              ELSE CAST((n_chars <= 450) AS VARCHAR) END AS observed,
       'n_chars <= 450 (when lang = ''en'')' AS expected
FROM documents
WHERE (lang = 'en') IS TRUE AND (n_chars <= 450) IS NOT TRUE
UNION ALL
SELECT CAST(doc_id AS VARCHAR), 'check.doc_nonneg',
       '(doc_id >= 0) = ' ||
         CASE WHEN (doc_id >= 0) IS NULL THEN 'NULL'
              ELSE CAST((doc_id >= 0) AS VARCHAR) END,
       'doc_id >= 0'
FROM documents WHERE (doc_id >= 0) IS NOT TRUE
""",
        # sequence gaps: same planted holes, single-window formulation
        # (the engine's two-phase bucket shape is result-identical)
        "sequence_gaps": """
WITH ids AS (
  SELECT DISTINCT doc_id AS id FROM documents
  WHERE doc_id IS NOT NULL AND doc_id % 37 <> 5
    AND doc_id NOT BETWEEN 100 AND 105
),
l AS (SELECT id, lag(id) OVER (ORDER BY id) AS prev FROM ids)
SELECT prev + 1 AS gap_start, id - 1 AS gap_end,
       id - prev - 1 AS n_missing
FROM l WHERE prev IS NOT NULL AND id > prev + 1
""",
        # snapshot reconcile: same planted snapshot construction
        "snapshot_reconcile": """
WITH cur AS (
  SELECT source FROM documents
  WHERE source <> 'src3' AND doc_id % 7 <> 2
  UNION ALL
  SELECT source FROM documents WHERE source = 'src1'
  UNION ALL
  SELECT 'brand_new' AS source FROM documents WHERE source = 'src2'
),
cc AS (SELECT source AS part, COUNT(*) AS c FROM cur GROUP BY 1),
pc AS (SELECT source AS part, COUNT(*) AS p FROM documents GROUP BY 1),
j AS (
  SELECT coalesce(cc.part, pc.part) AS part, cc.c AS c, pc.p AS p
  FROM cc FULL OUTER JOIN pc ON cc.part IS NOT DISTINCT FROM pc.part
)
SELECT part,
       CAST(coalesce(p, 0) AS BIGINT) AS rows_prev,
       CAST(coalesce(c, 0) AS BIGINT) AS rows_cur,
       CAST(coalesce(c, 0) - coalesce(p, 0) AS BIGINT) AS delta,
       CASE WHEN p IS NULL THEN 'added'
            WHEN c IS NULL THEN 'removed'
            WHEN c < p THEN 'shrunk'
            WHEN c > p THEN 'grown' END AS status
FROM j
WHERE p IS NULL OR c IS NULL OR c <> p
""",
    }
