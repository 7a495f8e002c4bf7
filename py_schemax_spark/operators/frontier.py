"""Crawl-frontier expansion: candidates − seen, in canonical URL space.

Closes the crawl loop the toolkit already feeds: `extract_outlinks`
and `parse_sitemaps` produce candidate URLs, `canonicalize_url`
collapses decorated spellings, and the frontier is what remains after
subtracting the already-crawled set — the next crawl's input. No
reference analogue (the reference has no data plane); part of the
north star's training-pipeline toolkit (SURVEY.md §2.4).

Scale shape:

- Candidate URLs canonicalize in the scan projection (pure codegen)
  and aggregate ONCE to ``(url, n_refs)`` with map-side combine —
  the multiset of raw references never shuffles, only the distinct
  canonical set does.
- The seen set also canonicalizes in its scan; a web-scale seen set
  is CORPUS-SCALE, so the anti-join is a plain shuffle join by
  default — broadcast only when `broadcast_gate` finds the seen set
  genuinely small (never an unconditional broadcast — the round-3
  `dedup_clusters` lesson).
- Downstream policy (robots, blocklists, per-domain caps) composes
  as further operators on the output: ``apply_robots``,
  ``block_urls``, ``cap_per_group``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from py_schemax_spark.functions.urls import canonicalize_url
from py_schemax_spark.operators.common import broadcast_gate


def build_frontier(
    candidates: DataFrame,
    seen: DataFrame,
    url_col: str = "url",
    seen_url_col: str | None = None,
    max_seen_broadcast_rows: int = 5_000_000,
) -> DataFrame:
    """``(url, n_refs)`` — canonical candidate URLs not yet crawled,
    with their reference count (the frontier-priority signal: a page
    linked from many crawled pages is fetched first).

    Both inputs canonicalize through `canonicalize_url`; null/empty
    candidates are dropped. ``n_refs`` counts RAW references (every
    outlink/sitemap occurrence), not distinct referrers.
    """
    seen_url_col = seen_url_col or url_col
    cand = (
        candidates.select(
            canonicalize_url(F.col(url_col)).alias("url")
        )
        .filter(F.col("url").isNotNull() & (F.col("url") != ""))
        .groupBy("url")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_refs"))
    )
    seen_c = (
        seen.select(
            canonicalize_url(F.col(seen_url_col)).alias("url")
        )
        .filter(F.col("url").isNotNull() & (F.col("url") != ""))
        .distinct()
    )
    seen_c, _ = broadcast_gate(seen_c, max_seen_broadcast_rows, "seen")
    return cand.join(seen_c, "url", "left_anti")
