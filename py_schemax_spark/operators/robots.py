"""robots.txt parsing and per-document disallow verdicts.

Responsible crawl curation drops pages the site told crawlers not to
fetch: C4 and RefinedWeb both start from robots-respecting crawls, and
re-filtering against CURRENT robots rules is standard when re-using an
old crawl (Common Crawl publishes the robots.txt captures alongside
the WARC data for exactly this). No reference analogue (the reference
has no data plane); part of the north star's training-pipeline
toolkit.

Semantics follow RFC 9309 (the Google robots.txt spec):

- a robots body is a sequence of GROUPS; consecutive ``User-agent:``
  lines open one group that applies to all the named agents;
- a crawler obeys the MOST SPECIFIC matching group only: if any group
  names the crawler's product token exactly, the ``*`` groups are
  ignored for that host;
- within the applicable groups, the longest matching ``Allow:`` /
  ``Disallow:`` prefix wins; on a length tie, ``Allow`` wins (least
  restrictive);
- ``Disallow:`` with an empty value is "allow everything" (no rule);
  comments (``#`` to end of line) and blank lines are ignored.

Deliberately out of scope (documented, not silently wrong): ``*`` /
``$`` wildcards inside rule paths and ``Crawl-delay`` — rule values
are treated as literal path prefixes, the pre-wildcard subset of the
spec that the original 1994 REP defined.

Scale shape: ALL parsing work (``posexplode`` + two windows + two
aggregations) happens on the ROBOTS table, which is domain-granular —
a few 10^8 rows against a 10^12-doc corpus — and the per-domain line
counts are robots-file-sized (bounded), so the windows never see a
skewed partition. The corpus-side apply is ONE equi-join on the host
(``broadcast_gate``: broadcast when the grouped rules table is small,
plain shuffle join otherwise)
followed by pure higher-order-function expressions; the corpus is
never exploded per rule and never shuffled in the broadcast regime.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from py_schemax_spark.functions.urls import url_host, url_path
from py_schemax_spark.operators.common import (
    broadcast_gate,
    check_passthrough_collisions,
)

_UA_RE = r"(?i)^\s*user-agent\s*:\s*(\S+)"
_RULE_RE = r"(?i)^\s*(allow|disallow)\s*:\s*(\S*)"


def parse_robots(
    robots: DataFrame,
    domain_col: str = "domain",
    robots_col: str = "robots_txt",
    user_agent: str = "*",
) -> DataFrame:
    """Parse robots bodies into the rules in effect for ``user_agent``.

    Input: one row per domain — ``(domain_col, robots_col)``. Output:
    ``(domain, prefix, is_allow)``, one row per effective Allow /
    Disallow rule, already restricted to the most-specific group set
    per RFC 9309 (exact product-token groups beat ``*`` groups), and
    deduplicated (a repeated identical rule line is one rule).

    Every step is a projection / window / aggregation over the robots
    table only — the corpus never enters this function.
    """
    agent = user_agent.lower()
    # one row per (domain, line); strip comments BEFORE matching so
    # 'Disallow: /x # inline' keeps '/x' and '# Disallow: /y' is inert
    lines = (
        robots.select(
            F.col(domain_col).alias("domain"),
            F.posexplode(
                F.split(F.coalesce(F.col(robots_col), F.lit("")), r"\r?\n")
            ).alias("pos", "line"),
        )
        .withColumn(
            "line", F.regexp_replace(F.col("line"), r"#.*\z", "")
        )
        .withColumn("ua", F.lower(F.regexp_extract("line", _UA_RE, 1)))
        .withColumn("verb", F.lower(F.regexp_extract("line", _RULE_RE, 1)))
        .withColumn("value", F.regexp_extract("line", _RULE_RE, 2))
    )

    # group structure: consecutive User-agent lines open ONE group
    w = Window.partitionBy("domain").orderBy("pos")
    run = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    is_ua = F.col("ua") != ""
    prev_is_ua = F.coalesce(F.lag(is_ua).over(w), F.lit(False))
    lines = lines.withColumn(
        "group_id", F.sum((is_ua & ~prev_is_ua).cast("int")).over(run)
    )

    # which groups name our agent / name '*'
    groups = lines.groupBy("domain", "group_id").agg(
        F.max((F.col("ua") == agent).cast("int")).alias("has_exact"),
        F.max((F.col("ua") == "*").cast("int")).alias("has_star"),
    )
    # RFC 9309: if ANY group on the host names the agent exactly, the
    # '*' groups are ignored for that host
    dom_exact = groups.groupBy("domain").agg(
        F.max("has_exact").alias("dom_has_exact")
    )
    applicable = (
        groups.join(dom_exact, "domain")
        .filter(
            ((F.col("dom_has_exact") == 1) & (F.col("has_exact") == 1))
            | ((F.col("dom_has_exact") == 0) & (F.col("has_star") == 1))
        )
        .select("domain", "group_id")
    )

    # rules inside the applicable groups; an empty value means "allow
    # everything" (no rule) per the spec — drop it
    return (
        lines.filter(
            (F.col("verb") != "") & (F.col("value") != "")
            # group_id 0 = rules before any User-agent line: invalid
            # per spec, belong to no group
            & (F.col("group_id") > 0)
        )
        .join(applicable, ["domain", "group_id"])
        .select(
            "domain",
            F.col("value").alias("prefix"),
            (F.col("verb") == "allow").alias("is_allow"),
        )
        .distinct()
    )


def apply_robots(
    df: DataFrame,
    rules: DataFrame,
    url_col: str = "url",
    key_col: str = "doc_id",
    max_broadcast_domains: int = 5_000_000,
    passthrough: bool = False,
) -> DataFrame:
    """Per-document robots verdict: ``(key_col, host, path,
    robots_blocked, rule)`` — or every input column plus the verdict
    columns when ``passthrough=True`` (the plan stays one gated
    equi-join either way, so the curate pipeline filters without a
    join back).

    ``rules`` is ``parse_robots`` output ``(domain, prefix,
    is_allow)``. ``rule`` names the winning rule
    (``'disallow:<prefix>'`` / ``'allow:<prefix>'``), null when no
    rule matched; ``robots_blocked`` is false (never null) for
    unmatched, rule-less, or null-URL documents — no robots file means
    crawling is allowed.

    Longest-prefix-wins (Allow beats Disallow on a length tie) is an
    ``aggregate`` over the per-domain rule array — pure JVM
    expressions, no corpus explosion. The grouped rules table is
    broadcast when small (``broadcast_gate``), else the join
    degrades to a plain shuffle equi-join on the host.
    """
    grouped = rules.groupBy("domain").agg(
        F.collect_list(F.struct("prefix", "is_allow")).alias("_rules")
    )
    grouped, _ = broadcast_gate(grouped, max_broadcast_domains, "robots")

    if passthrough:
        check_passthrough_collisions(
            df,
            ["host", "path", "robots_blocked", "rule", "_rules", "_best",
             "domain"],
            "apply_robots",
        )
    base_cols = list(df.columns) if passthrough else [key_col]
    # materialize host/path as real columns BEFORE the HOF: a lambda
    # over a computed child is re-evaluated per element (SURVEY §7)
    url = F.col(url_col)
    base = df.select(
        *[F.col(x) for x in base_cols],
        url_host(url).alias("host"),
        # an absent path means the root — robots prefixes match '/'
        F.when(url_path(url) == "", F.lit("/"))
        .otherwise(url_path(url))
        .alias("path"),
    )
    joined = base.join(
        grouped, base["host"] == grouped["domain"], "left"
    ).drop("domain")

    matched = F.filter(
        F.coalesce(F.col("_rules"), F.array()),
        lambda r: F.col("path").startswith(r["prefix"]),
    )
    # longest prefix wins; Allow wins length ties (least restrictive)
    best = F.aggregate(
        matched,
        F.struct(
            F.lit(-1).alias("len"),
            F.lit(True).alias("is_allow"),
            F.lit(None).cast("string").alias("prefix"),
        ),
        lambda acc, r: F.when(
            (F.length(r["prefix"]) > acc["len"])
            | (
                (F.length(r["prefix"]) == acc["len"])
                & r["is_allow"]
                & ~acc["is_allow"]
            ),
            F.struct(
                F.length(r["prefix"]).alias("len"),
                r["is_allow"].alias("is_allow"),
                r["prefix"].alias("prefix"),
            ),
        ).otherwise(acc),
    )
    out = joined.withColumn("_best", best)
    b = F.col("_best")
    keep = base_cols if passthrough else [key_col]
    return out.select(
        *keep,
        "host",
        "path",
        ((b["len"] >= 0) & ~b["is_allow"]).alias("robots_blocked"),
        F.when(
            b["len"] >= 0,
            F.concat(
                F.when(b["is_allow"], F.lit("allow:")).otherwise(
                    F.lit("disallow:")
                ),
                b["prefix"],
            ),
        ).alias("rule"),
    )


# ---------------------------------------------------------------------------
# Sitemaps (the discovery half of the crawl-frontier toolkit)

_SM_BLOCK_RE = r"(?is)<(url|sitemap)\s*>(.*?)</\1\s*>"
_SM_LOC_RE = r"(?is)<loc\s*>\s*(.*?)\s*</loc\s*>"
_SM_LASTMOD_RE = r"(?is)<lastmod\s*>\s*(.*?)\s*</lastmod\s*>"


def parse_sitemaps(
    df: DataFrame,
    xml_col: str = "xml",
    key_col: str = "host",
) -> DataFrame:
    """Sitemap-protocol parsing (sitemaps.org XML): one row per
    ``<url>``/``<sitemap>`` entry — ``(key, kind, loc, lastmod)``.

    ``kind`` is ``urlset`` for page entries and ``sitemapindex`` for
    nested-sitemap entries (the <url>/<sitemap> element itself is the
    discriminator, so a file mixing both — invalid but seen in the
    wild — still parses per entry). ``loc`` gets the minimal XML
    entity unescape (``&lt; &gt; &quot; &apos; &amp;``, amp LAST —
    URLs with query strings are routinely ``&amp;``-escaped);
    ``lastmod`` is NULL when absent, kept as its raw string (W3C
    datetime validation belongs to `datetime conformance`, not the
    parser). Entries without a ``<loc>`` are dropped (nothing to
    fetch). Null/entry-less payloads contribute no rows.

    Scale shape: pure codegen — the entry array is MATERIALIZED before
    the per-entry lambdas (SURVEY §7), then one ``explode``; no
    Python, no exchanges on the sitemap table beyond the explode
    projection itself (plan-asserted in tests). Sitemap tables are
    domain-granular — millions of rows at web scale, never
    corpus-scale.
    """
    raw = F.col(xml_col)
    if "binary" in df.schema[xml_col].dataType.simpleString():
        raw = F.decode(raw, "UTF-8")
    blocks = F.regexp_extract_all(raw, F.lit(_SM_BLOCK_RE), 0)
    with_blocks = df.select(
        F.col(key_col), blocks.alias("_entries")
    )
    loc = lambda x: F.regexp_extract(x, _SM_LOC_RE, 1)  # noqa: E731

    def _unescape(c):
        for ent, ch in (("&lt;", "<"), ("&gt;", ">"), ("&quot;", '"'),
                        ("&apos;", "'"), ("&amp;", "&")):
            c = F.replace(c, F.lit(ent), F.lit(ch))
        return c

    parsed = with_blocks.select(
        key_col,
        F.explode(
            F.filter(
                F.transform(
                    F.col("_entries"),
                    lambda x: F.struct(
                        F.when(
                            F.lower(F.regexp_extract(
                                x, r"(?is)^<(url|sitemap)", 1
                            )) == "url",
                            F.lit("urlset"),
                        ).otherwise(F.lit("sitemapindex")).alias("kind"),
                        _unescape(loc(x)).alias("loc"),
                        F.nullif(
                            F.regexp_extract(x, _SM_LASTMOD_RE, 1),
                            F.lit(""),
                        ).alias("lastmod"),
                    ),
                ),
                lambda e: e["loc"] != "",
            )
        ).alias("_e"),
    )
    return parsed.select(
        key_col,
        F.col("_e.kind").alias("kind"),
        F.col("_e.loc").alias("loc"),
        F.col("_e.lastmod").alias("lastmod"),
    )
