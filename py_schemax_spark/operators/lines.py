"""Boilerplate line removal (CCNet-style line-level dedup).

Web pages share enormous amounts of repeated line-level boilerplate —
navigation, cookie banners, footers. The standard curation step
(CCNet, "CCNet: Extracting High Quality Monolingual Datasets from Web
Crawl Data", Wenzek et al. 2020) removes lines that occur in many
distinct documents, keeping each document's unique content. No
reference analogue (the reference has no data plane); part of the
north star's training-pipeline toolkit.

Contract (chosen so a SQL engine reproduces it byte-for-byte):

- a document's lines are ``split(text, '\\n')`` — exact strings, no
  normalization beyond the boilerplate test below;
- a line is *boilerplate* iff its trimmed form is non-empty and the
  EXACT line string occurs in ≥ ``min_docs`` distinct documents;
- the cleaned text is the surviving lines re-joined with ``\\n`` in
  original order ('' when every line was removed); null text stays
  null.

Scale shape:

- one line-granular shuffle builds the distinct-doc counts (map-side
  partial aggregation collapses within-partition duplicates first —
  boilerplate is by definition massively duplicated, so the shuffle
  moves far fewer rows than the explode emits);
- the hot-line set (lines with count ≥ min_docs — small by
  construction: at most total_lines / min_docs) broadcasts into the
  tagging join; ``broadcast_gate`` falls back to a plain shuffle join
  if a pathological corpus makes it large;
- one doc-granular shuffle reassembles surviving lines
  (``collect_list`` of (pos, line) structs → ``array_sort`` →
  projection). Per-doc line counts are small, so the post-agg HOF
  projection over the materialized array is linear and cheap.
"""

from __future__ import annotations

from pyspark import StorageLevel
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from py_schemax_spark.operators.common import (
    broadcast_gate,
    check_passthrough_collisions,
)
from py_schemax_spark.operators.dedup import _track_persisted


def boilerplate_lines(
    df: DataFrame,
    text_col: str = "text",
    key_col: str = "doc_id",
    min_docs: int = 10,
) -> DataFrame:
    """Lines (exact strings, trimmed-non-empty) occurring in at least
    ``min_docs`` DISTINCT documents — one column ``line`` plus the
    distinct-doc count ``n_docs``."""
    ln = df.select(
        F.col(key_col).alias("_k"),
        F.explode(F.split(F.col(text_col), "\n")).alias("line"),
    )
    return (
        ln.filter(F.trim("line") != "")
        .groupBy("line")
        .agg(F.countDistinct("_k").alias("n_docs"))
        .filter(F.col("n_docs") >= min_docs)
    )


def remove_boilerplate(
    df: DataFrame,
    text_col: str = "text",
    key_col: str = "doc_id",
    min_docs: int = 10,
    max_broadcast_lines: int = 5_000_000,
    passthrough: bool = False,
) -> DataFrame:
    """Per-document boilerplate removal: returns
    ``(key_col, clean_text, n_lines, n_removed)`` for every input row
    (plus every other input column when ``passthrough=True``).

    ``clean_text``: the document with boilerplate lines (see module
    contract) dropped, order preserved; '' if everything was removed;
    null for null input text. ``n_lines``/``n_removed`` count the
    document's total and removed lines.

    The hot-line set broadcasts when ``broadcast_gate`` finds it fits
    (≤ ``max_broadcast_lines``); otherwise the tag join runs as a
    plain shuffle join on the line string (the CCNet sharded-hash
    shape).
    """
    # above the cap the tag join re-reads the hot set — persist so
    # the line-counting aggregation runs once
    hot_p = (
        boilerplate_lines(
            df, text_col=text_col, key_col=key_col, min_docs=min_docs
        )
        .select("line")
        .withColumn("_hot", F.lit(1))
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    hot, _ = broadcast_gate(hot_p, max_broadcast_lines, "boilerplate")

    ln = df.select(
        F.col(key_col).alias("_k"),
        F.posexplode(F.split(F.col(text_col), "\n")).alias("pos", "line"),
    )
    tagged = ln.join(hot, "line", "left")
    agg = tagged.groupBy("_k").agg(
        F.count(F.lit(1)).alias("n_lines"),
        F.count("_hot").alias("n_removed"),
        # collect_list skips nulls → only surviving lines enter;
        # array_sort on (pos, line) structs restores document order
        F.collect_list(
            F.when(
                F.col("_hot").isNull(),
                F.struct(F.col("pos"), F.col("line")),
            )
        ).alias("_kept"),
    )
    cleaned = agg.select(
        "_k",
        "n_lines",
        "n_removed",
        F.array_join(
            F.transform(F.array_sort("_kept"), lambda x: x["line"]), "\n"
        ).alias("_clean"),
    )
    if passthrough:
        check_passthrough_collisions(
            df,
            ["clean_text", "n_lines", "n_removed", "_has_text", "_k",
             "_hot", "_kept", "_clean", "line", "pos"],
            "remove_boilerplate",
        )
    base_cols = list(df.columns) if passthrough else [key_col]
    base = df.select(
        *[F.col(x) for x in base_cols],
        F.col(text_col).isNotNull().alias("_has_text"),
    )
    # eqNullSafe: a plain equality would never match a null key, so a
    # null-key document's text would silently come back as '' — null
    # keys group under one null key like any other value instead
    out = base.join(
        cleaned, base[key_col].eqNullSafe(cleaned["_k"]), "left"
    )
    result = out.select(
        *[base[x] for x in base_cols],
        F.when(F.col("_has_text"), F.coalesce("_clean", F.lit(""))).alias(
            "clean_text"
        ),
        F.coalesce("n_lines", F.lit(0)).alias("n_lines"),
        F.coalesce("n_removed", F.lit(0)).alias("n_removed"),
    )
    return _track_persisted(result, [hot_p])
