"""URL blocklist filtering (domain suffixes + pattern rules).

Crawl curation drops documents by where they came from before looking
at what they say: UT1/adult-domain blocklists in RefinedWeb (Penedo et
al. 2023 §3.1), spam-domain lists in C4. Two rule kinds:

- **domain rules**: a blocklist entry ``d`` blocks a URL whose host IS
  ``d`` or is a subdomain of it (host ends with ``.d`` at a label
  boundary) — blocking ``tracker.org`` must block
  ``cdn.eu.tracker.org``;
- **pattern rules**: ordered ``(name, regex)`` pairs over the full URL
  (path keywords, tracking parameters); first match names the reason.

No reference analogue (the reference has no data plane); part of the
north star's training-pipeline toolkit.

Scale shape — the interesting part is suffix matching, which is not an
equi-join on the host. The standard rewrites:

- explode each host into its label suffixes and join ONCE — but the
  re-aggregation to one row per document is a full-corpus shuffle;
- a nested-loop ``ends_with`` join — O(corpus × blocklist), dead on
  arrival.

This operator instead runs a bounded LADDER of broadcast equi-joins:
the last-``i``-labels suffix (``i`` = 1..``max_labels``) is a pure
projection, and each level left-broadcast-joins the blocklist on
string equality. Every join is a BroadcastHashJoin inside one
codegen'd stage — ZERO exchanges over the corpus (plan-asserted), and
the most-specific (longest) matching suffix wins via ``coalesce`` from
the deepest level down. Blocklist entries with more than
``max_labels`` labels can never match and are rejected up front
(loudly — a silently ignored blocklist row is a curation hole).

The blocklist must fit in a broadcast (domain lists are ≤ millions of
rows against a 10^12-doc corpus); ``broadcast_gate`` builds it once
and ``block_urls`` raises if it does not fit.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from py_schemax_spark.functions.urls import url_host
from py_schemax_spark.operators.common import (
    broadcast_gate,
    check_passthrough_collisions,
)


def _suffix(labels: Column, i: int) -> Column:
    """Last-``i``-labels suffix of a split host ('' when the host has
    fewer than ``i`` labels — matches nothing, blocklist entries are
    non-empty)."""
    return F.array_join(F.slice(labels, -i, i), ".")


def block_urls(
    df: DataFrame,
    blocked_domains: DataFrame,
    url_col: str = "url",
    key_col: str = "doc_id",
    pattern_rules: list[tuple[str, str]] | None = None,
    max_labels: int = 6,
    max_broadcast_domains: int = 5_000_000,
    passthrough: bool = False,
) -> DataFrame:
    """Per-document block verdict: ``(key_col, host, blocked,
    reason)`` — or every input column plus the verdict columns when
    ``passthrough=True`` (the plan stays broadcast-joins-only either
    way, so a curation pipeline filters without a join back).

    ``blocked_domains`` needs one string column ``domain`` (lowercase,
    no scheme). ``reason`` is ``'domain:<matched suffix>'`` for the
    most-specific matching blocklist entry, else ``'pattern:<name>'``
    for the first matching pattern rule, else null; ``blocked`` is
    false (never null) for clean or null URLs.
    """
    # sanitize: duplicate entries would double-match a level's join
    # (breaking one-row-per-document), and an empty/null entry equals
    # the '' that _suffix() yields past the host's label count — it
    # would block nearly the whole corpus
    dom = (
        blocked_domains.select(F.col("domain").cast("string"))
        .filter(F.col("domain").isNotNull() & (F.col("domain") != ""))
        .distinct()
    )
    dom, small = broadcast_gate(dom, max_broadcast_domains, "blocklist")
    over = dom.filter(
        F.size(F.split("domain", r"\.")) > max_labels
    ).limit(1).collect()
    if over:
        raise ValueError(
            f"blocklist entry {over[0]['domain']!r} has more than "
            f"max_labels={max_labels} labels and could never match — "
            "raise max_labels"
        )
    if not small:
        raise ValueError(
            f"blocklist exceeds max_broadcast_domains="
            f"{max_broadcast_domains}; domain lists are expected to "
            "broadcast — shard the list or raise the cap"
        )

    if passthrough:
        check_passthrough_collisions(
            df,
            ["host", "blocked", "reason", "_labels"]
            + [f"_m{i}" for i in range(1, max_labels + 1)],
            "block_urls",
        )
    url = F.col(url_col)
    base_cols = list(df.columns) if passthrough else [key_col, url_col]
    # materialize host + split labels as real columns BEFORE slicing:
    # a HOF/slice over a computed child is re-evaluated per element
    # (SURVEY §7); attribute references are evaluated once
    base = df.select(
        *[F.col(x) for x in dict.fromkeys(base_cols)],
        url_host(url).alias("host"),
    ).withColumn("_labels", F.split(F.col("host"), r"\."))

    out = base
    match_cols: list[Column] = []
    # deepest (most specific) suffix first: coalesce order = precedence
    for i in range(max_labels, 0, -1):
        alias = f"_m{i}"
        out = out.join(
            dom.select(F.col("domain").alias(alias)),
            _suffix(F.col("_labels"), i) == F.col(alias),
            "left",
        )
        match_cols.append(F.col(alias))
    domain_reason = F.concat(F.lit("domain:"), F.coalesce(*match_cols))

    pattern_reason = None
    for name, pat in pattern_rules or []:
        hit = F.when(
            F.col(url_col).rlike(pat), F.lit(f"pattern:{name}")
        )
        pattern_reason = (
            hit if pattern_reason is None else F.coalesce(pattern_reason, hit)
        )

    reasons = [domain_reason]
    if pattern_reason is not None:
        reasons.append(pattern_reason)
    reason = F.coalesce(*reasons) if len(reasons) > 1 else reasons[0]
    keep = (
        [F.col(x) for x in df.columns] if passthrough else [F.col(key_col)]
    )
    return out.select(
        *keep,
        F.col("host"),
        reason.isNotNull().alias("blocked"),
        reason.alias("reason"),
    )
