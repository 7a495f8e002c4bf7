"""Web link-graph operators: outlink extraction, domain graph, and
fixed-point PageRank.

Link structure is the other half of a web corpus (the reference,
`/root/reference/validator.py`, sees only per-file schema metadata and
has no notion of cross-document structure): spam filtering, crawl
prioritization, and quality weighting (Common Crawl's harmonic-
centrality ranking, Google's original PageRank) all start from the
(src, dst) edge list embedded in the HTML itself. This module extends
the LLM-pipeline operator set of SURVEY.md §2.4 with the three layers
a curation pipeline needs:

1. `extract_outlinks` — html → (src_url, dst_url) edges as ONE
   codegen'd ``regexp_extract_all`` + ``explode``. Zero Python, zero
   shuffles; fuses into the parquet scan like `htmlstats.html_profile`.
2. `domain_graph` / `domain_degrees` — collapse the URL-level edges to
   a weighted domain-level graph and per-domain in/out degrees. The
   only corpus-granular shuffle is the first (src_domain, dst_domain)
   groupBy with map-side combine; everything after runs on the
   domain-granular (bounded, ~10^7 rows for the whole web) edge table.
3. `pagerank` — damped PageRank in INTEGER fixed-point arithmetic:
   ranks are bigints scaled by ``scale``, every division is a floor
   div, so the result is engine-exact (bit-identical on any partition
   count, any executor count, and reproducible by the DuckDB oracle as
   an unrolled CTE — a float PageRank could only ever be
   approximately checked).

Scale shape of `pagerank` at 10^12 edges: the (deduped) edge table is
joined with outdegree ONCE, repartitioned by src, and persisted; each
iteration is then [join ranks on src] + [groupBy dst] — two exchanges
of rank-sized tables per round, the textbook Pregel schedule. Each
round's ranks are eagerly ``localCheckpoint``-ed by ``dedup._checkpoint``
(plan growth would otherwise be quadratic) and the previous round's
checkpoint blocks are freed immediately (the
`dedup.connected_components` idiom, so no nodes-sized table is pinned
per round). `personalized_pagerank` runs the same recurrence
(`_damped_rank`) with teleportation restricted to its seed set.
Dangling nodes (no outlinks) keep the damping base and distribute
nothing — the standard simplification; total mass is therefore not
conserved, which is irrelevant for ranking use.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.storagelevel import StorageLevel

from ..functions.urls import url_host
from .common import broadcast_gate
from .dedup import _checkpoint, _track_persisted

#: href attribute values, either quote style. Group 1 is the target.
#: Deliberately permissive (real crawl HTML is tag soup): anything in
#: an href attribute counts; filtering to absolute http(s) URLs is the
#: next operator's job.
_HREF_RE = r"""href=["']([^"']*)["']"""


def extract_outlinks(
    df: DataFrame,
    html_col: str = "html",
    url_col: str = "url",
    absolute_only: bool = True,
) -> DataFrame:
    """(src_url, dst_url) edge list from the pages table.

    ``regexp_extract_all`` over the html column (cast to string —
    the target table stores html as binary per BASELINE.json
    input_hint) + ``explode``: one codegen'd projection, ZERO
    exchanges (plan-asserted in tests). Pages with no links produce
    no rows (explode of an empty array). ``absolute_only`` keeps only
    ``http(s)://`` targets — relative links need base-URL resolution,
    which host-level analytics don't pay for.
    """
    links = F.regexp_extract_all(
        F.col(html_col).cast("string"), F.lit(_HREF_RE), F.lit(1)
    )
    edges = df.select(
        F.col(url_col).alias("src_url"), F.explode(links).alias("dst_url")
    )
    if absolute_only:
        edges = edges.filter(F.col("dst_url").rlike(r"^https?://"))
    return edges


def domain_graph(
    edges: DataFrame,
    src_col: str = "src_url",
    dst_col: str = "dst_url",
    drop_self: bool = False,
) -> DataFrame:
    """Weighted domain-level graph ``(src_domain, dst_domain,
    weight)`` — weight = number of URL-level links between the two
    hosts (every occurrence counts; dedup first if you want distinct
    pages).

    ONE corpus-granular shuffle (the groupBy, map-side combined down
    to the domain-pair cardinality per task); output is bounded by
    the number of observed domain pairs.
    """
    g = edges.select(
        url_host(F.col(src_col)).alias("src_domain"),
        url_host(F.col(dst_col)).alias("dst_domain"),
    ).filter((F.col("src_domain") != "") & (F.col("dst_domain") != ""))
    if drop_self:
        g = g.filter(F.col("src_domain") != F.col("dst_domain"))
    return g.groupBy("src_domain", "dst_domain").agg(
        F.count(F.lit(1)).cast("bigint").alias("weight")
    )


def domain_degrees(domain_edges: DataFrame) -> DataFrame:
    """Per-domain degree profile over a `domain_graph` output:
    ``(domain, out_degree, in_degree, out_weight, in_weight)`` —
    degrees count DISTINCT neighbor domains, weights sum link
    occurrences; 0 on the side where the domain doesn't appear.

    Runs entirely on the domain-granular edge table (bounded —
    ~10^7 rows for the full web), so both groupBys and the outer
    join are trivial at any corpus size.
    """
    out_d = domain_edges.groupBy(
        F.col("src_domain").alias("domain")
    ).agg(
        F.count(F.lit(1)).cast("bigint").alias("out_degree"),
        F.sum("weight").cast("bigint").alias("out_weight"),
    )
    in_d = domain_edges.groupBy(
        F.col("dst_domain").alias("domain")
    ).agg(
        F.count(F.lit(1)).cast("bigint").alias("in_degree"),
        F.sum("weight").cast("bigint").alias("in_weight"),
    )
    return (
        out_d.join(in_d, "domain", "full_outer")
        .select(
            "domain",
            F.coalesce("out_degree", F.lit(0)).cast("bigint").alias(
                "out_degree"
            ),
            F.coalesce("in_degree", F.lit(0)).cast("bigint").alias(
                "in_degree"
            ),
            F.coalesce("out_weight", F.lit(0)).cast("bigint").alias(
                "out_weight"
            ),
            F.coalesce("in_weight", F.lit(0)).cast("bigint").alias(
                "in_weight"
            ),
        )
    )


def pagerank(
    edges: DataFrame,
    src_col: str = "src",
    dst_col: str = "dst",
    iters: int = 3,
    scale: int = 1_000_000,
    damping_bp: int = 8500,
) -> DataFrame:
    """Damped PageRank in integer fixed-point: ``(node, rank)``.

    Semantics (engine-exact by construction — all values are
    non-negative bigints and every division is a floor div, so the
    same numbers fall out of Spark ``div``, DuckDB ``//``, and
    Python ``//``):

    - the MULTISET of edges is first deduplicated (simple graph);
    - ``r0(node) = scale`` for every node in src ∪ dst;
    - each iteration::

        contrib(e)  = r(src(e)) div outdeg(src(e))
        inc(node)   = sum of contrib over in-edges   (0 if none)
        r'(node)    = ((10000 - damping_bp) * scale) div 10000
                      + (damping_bp * inc(node)) div 10000

    Dangling nodes distribute nothing (their mass evaporates) —
    the standard simplification, fine for ranking.

    ``iters`` is FIXED (no convergence probe): the oracle unrolls
    exactly ``iters`` CTE levels, and a data-dependent round count
    would make the result non-reproducible across engines. With
    damping 0.85, 10-20 rounds is the usual production setting;
    rank ordering stabilizes much earlier.

    Overflow headroom: ranks are ≲ scale × n_nodes in the worst
    (star-graph) case; ``damping_bp * rank`` must stay under 2^63,
    i.e. scale × n_nodes < 2^63/10^4 ≈ 9·10^14 — at the default
    scale=10^6 that's 9·10^8 nodes; lower ``scale`` for bigger
    graphs.
    """
    if iters < 1:
        raise ValueError("pagerank: iters must be >= 1")
    e, nodes = _simple_graph(edges, src_col, dst_col)
    return _damped_rank(
        e, nodes.withColumn("_seed", F.lit(True)), iters, scale, damping_bp
    )


def _simple_graph(
    edges: DataFrame, src_col: str, dst_col: str
) -> tuple[DataFrame, DataFrame]:
    """The rank operators' shared prologue: the non-null, deduplicated
    ``(src, dst)`` edges (a simple graph) and their distinct ``node``
    set."""
    src, dst = F.col(src_col), F.col(dst_col)
    e = (
        edges.select(src.alias("src"), dst.alias("dst"))
        .filter(src.isNotNull() & dst.isNotNull())
        .distinct()
    )
    nodes = (
        e.select(F.col("src").alias("node"))
        .union(e.select(F.col("dst").alias("node")))
        .distinct()
    )
    return e, nodes


def _damped_rank(
    e: DataFrame, nodes: DataFrame, iters: int, scale: int, damping_bp: int
) -> DataFrame:
    """The damped-rank recurrence of `pagerank` and
    `personalized_pagerank` over ``nodes(node, _seed)``: seeds start at
    ``scale`` and receive the damping base each round, other nodes get
    neither. Returns ``(node, rank)``; the persisted tables and the
    last round's checkpoint are tracked for release."""
    outdeg = e.groupBy("src").agg(
        F.count(F.lit(1)).cast("bigint").alias("_outdeg")
    )
    # one edges⋈outdeg join up front, partitioned by src so every
    # iteration's ranks join shuffles only the rank table
    ewd = (
        e.join(outdeg, "src")
        .repartition("src")
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    nodes = nodes.persist(StorageLevel.MEMORY_AND_DISK)
    base = ((10000 - damping_bp) * scale) // 10000

    def seeded(v: int) -> F.Column:
        return F.when(F.col("_seed"), v).otherwise(0).cast("bigint")

    ranks, held = _checkpoint(
        nodes.select("node", seeded(scale).alias("rank"))
    )
    for _ in range(iters):
        inc = (
            ewd.join(ranks.withColumnRenamed("node", "src"), "src")
            .select(
                F.col("dst").alias("node"),
                F.expr("rank div _outdeg").alias("_contrib"),
            )
            .groupBy("node")
            .agg(F.sum("_contrib").alias("_inc"))
        )
        ranks, new_held = _checkpoint(
            nodes.join(inc, "node", "left").select(
                "node",
                (
                    seeded(base)
                    + F.expr(f"({damping_bp} * coalesce(_inc, 0)) div 10000")
                ).cast("bigint").alias("rank"),
            )
        )
        held.unpersist()
        held = new_held
    return _track_persisted(ranks, [ewd, nodes, held])


# anchor snippet: the tag (attrs contain no '>') plus the immediate
# text run after it — lookaround-free, RE2-compatible
_ANCHOR_SNIPPET_RE = r"<[aA][ \t\n\r\f][^>]*>[^<]*"
_ANCHOR_TEXT_RE = r">([^<]*)"


def extract_anchors(
    df: DataFrame,
    html_col: str = "html",
    url_col: str = "url",
    absolute_only: bool = True,
) -> DataFrame:
    """(src_url, dst_url, anchor) triples — the anchor-TEXT edge list.

    Anchor text is the web's human-written label for the target page
    (classic training signal: anchor-text corpora for retrieval /
    query generation; TrustRank-style link spam screens look at
    anchor/target mismatch). Two-step lexical extract, zero
    exchanges: snippets (``<a ...>text-run``) come out in ONE
    codegen'd ``regexp_extract_all``; href and the post-tag text run
    are then plain per-row ``regexp_extract`` projections over the
    exploded snippet — the snippet array is materialized as a real
    column first (SURVEY §7: HOFs/explode over computed children
    re-evaluate per element). href-less anchors (``<a name=...>``)
    drop; ``absolute_only`` mirrors ``extract_outlinks``; anchor text
    is whitespace-trimmed, '' when the element body is empty or
    elementful (``<a><img/></a>`` yields '' — lexical semantics, not
    a DOM parse, same contract as ``html_profile``)."""
    snippets = F.regexp_extract_all(
        F.col(html_col).cast("string"), F.lit(_ANCHOR_SNIPPET_RE), F.lit(0)
    )
    pairs = df.select(
        F.col(url_col).alias("src_url"), snippets.alias("_snips")
    ).select("src_url", F.explode("_snips").alias("_s"))
    out = pairs.select(
        "src_url",
        F.regexp_extract("_s", _HREF_RE, 1).alias("dst_url"),
        F.trim(F.regexp_extract("_s", _ANCHOR_TEXT_RE, 1)).alias("anchor"),
    ).filter(F.col("dst_url") != "")
    if absolute_only:
        out = out.filter(F.col("dst_url").rlike(r"^https?://"))
    return out


def personalized_pagerank(
    edges: DataFrame,
    seeds: DataFrame,
    src_col: str = "src",
    dst_col: str = "dst",
    seed_col: str = "node",
    iters: int = 3,
    scale: int = 1_000_000,
    damping_bp: int = 8500,
    max_seed_broadcast_rows: int = 5_000_000,
) -> DataFrame:
    """TrustRank-style personalized PageRank: `pagerank`'s integer
    fixed-point recurrence with teleportation restricted to a SEED
    set (Gyöngyi et al. 2004) — trust flows out from hand-vetted
    domains, so link-spam clusters that inflate vanilla PageRank
    score ~0 here. The standard web-curation companion to
    `induce_domain_blocklist` (blocklist = distrust, this = trust).

    Recurrence (every term a non-negative bigint, floor divs only —
    engine-exact like `pagerank`):

        r0(node) = scale if node in seeds else 0
        r'(node) = (seed ? ((10000-damping_bp)*scale) div 10000 : 0)
                   + (damping_bp * inc(node)) div 10000

    Seed membership joins onto the node table ONCE before the loop —
    broadcast when the seed list is small (`broadcast_gate`;
    trusted-seed lists are typically 10^2-10^5 domains), plain
    shuffle join otherwise. The rounds are `pagerank`'s own
    (`_damped_rank`): the rank table is the only thing that shuffles,
    and the previous round's checkpoint blocks are released as soon as
    the next materializes.
    """
    if iters < 1:
        raise ValueError("personalized_pagerank: iters must be >= 1")
    e, nodes = _simple_graph(edges, src_col, dst_col)
    seed_flags = seeds.select(
        F.col(seed_col).alias("node"), F.lit(True).alias("_seed")
    ).distinct()
    seed_flags, _ = broadcast_gate(
        seed_flags, max_seed_broadcast_rows, "seeds"
    )
    nodes = nodes.join(seed_flags, "node", "left").select(
        "node", F.coalesce(F.col("_seed"), F.lit(False)).alias("_seed")
    )
    return _damped_rank(e, nodes, iters, scale, damping_bp)


def anchor_text_profile(
    anchors: DataFrame,
    top_k: int = 3,
    dst_col: str = "dst_url",
    anchor_col: str = "anchor",
) -> DataFrame:
    """Per-target anchor-text profile — the classic document-expansion
    signal (anchor-text corpora index a page under what OTHER pages
    call it): ``(dst_url, n_refs, n_texts, top_anchors)`` with
    ``top_anchors`` the ``top_k`` most frequent non-empty anchor
    strings in deterministic ``(count desc, text asc)`` order.

    Scale shape: one (dst, anchor)-granular aggregation with map-side
    combine, then one dst-granular window over the ALREADY-aggregated
    text table (rows bounded by distinct (dst, text) pairs, never the
    raw edge multiset), then one dst rollup. Empty-text anchors
    (elementful bodies) count toward ``n_refs`` but never appear in
    ``top_anchors``.
    """
    if top_k < 1:
        raise ValueError("anchor_text_profile: top_k must be >= 1")
    from pyspark.sql import Window

    # NULL anchor text would sort BEFORE false in the empty-text
    # ordering below (asc puts nulls first), silently eating a top_k
    # rank slot while excluded from top_anchors/n_texts (ADVICE r04).
    # extract_anchors never emits nulls, but arbitrary caller tables
    # may — coalesce them into the empty-text rank-last handling.
    per_text = anchors.groupBy(
        F.col(dst_col).alias("dst_url"),
        F.coalesce(F.col(anchor_col), F.lit("")).alias("_text"),
    ).agg(F.count(F.lit(1)).cast("long").alias("_n"))
    # empty-text rows rank LAST so they never consume a top_k slot
    # (they still count toward n_refs in the rollup)
    w = Window.partitionBy("dst_url").orderBy(
        F.asc(F.col("_text") == ""), F.desc("_n"), F.asc("_text")
    )
    ranked = per_text.withColumn("_rk", F.row_number().over(w))
    return (
        ranked.groupBy("dst_url")
        .agg(
            F.sum("_n").cast("long").alias("n_refs"),
            F.sum(
                F.when(F.col("_text") != "", 1).otherwise(0)
            ).cast("long").alias("n_texts"),
            F.array_sort(
                F.collect_list(
                    F.when(
                        (F.col("_rk") <= top_k) & (F.col("_text") != ""),
                        F.struct(
                            F.col("_rk").alias("rk"),
                            F.col("_text").alias("text"),
                        ),
                    )
                )
            ).alias("_top"),
        )
        .select(
            "dst_url", "n_refs", "n_texts",
            F.transform(F.col("_top"), lambda s: s["text"])
            .alias("top_anchors"),
        )
    )


def hits(
    edges: DataFrame,
    src_col: str = "src",
    dst_col: str = "dst",
    iters: int = 2,
    scale: int = 1_000,
) -> DataFrame:
    """HITS hubs & authorities (Kleinberg 1999) in integer fixed
    point, UNNORMALIZED: ``(node, hub, authority)``.

    Recurrence (all integer sums — engine-exact on any partitioning,
    the `pagerank` contract)::

        h0(n) = a0(n) = scale
        a'(n) = sum of h(src) over in-edges   (0 if none)
        h'(n) = sum of a'(dst) over out-edges (0 if none)

    The classic formulation L2-normalizes each round; that is a
    RANK-preserving scalar division, so the unnormalized integer
    iterate carries the same ordering while staying bit-exact
    cross-engine (a float norm could differ in the last ulp and flip
    a tie). Magnitudes grow ~(max degree)² per round — with the
    default ``scale=10^3`` and 2 rounds, degrees up to ~10^6 stay
    inside int64; lower ``scale`` or ``iters`` for denser graphs
    (documented, not hidden).

    Plan shape per round: two rank-table joins + two map-side-combined
    aggregations over the deduplicated edge table (persisted once,
    partitioned by src); localCheckpoint with previous-round release.
    """
    if iters < 1:
        raise ValueError("hits: iters must be >= 1")
    e, nodes = _simple_graph(edges, src_col, dst_col)
    ep = e.repartition("src").persist(StorageLevel.MEMORY_AND_DISK)
    nodes = nodes.persist(StorageLevel.MEMORY_AND_DISK)
    ranks, held = _checkpoint(nodes.select(
        "node",
        F.lit(scale).cast("bigint").alias("hub"),
        F.lit(scale).cast("bigint").alias("authority"),
    ))
    for _ in range(iters):
        auth = (
            ep.join(
                ranks.select(F.col("node").alias("src"), "hub"), "src"
            )
            .groupBy(F.col("dst").alias("node"))
            .agg(F.sum("hub").cast("bigint").alias("_a"))
        )
        with_a = nodes.join(auth, "node", "left").select(
            "node", F.coalesce(F.col("_a"), F.lit(0)).alias("_a")
        )
        hub = (
            ep.join(
                with_a.select(F.col("node").alias("dst"), "_a"), "dst"
            )
            .groupBy(F.col("src").alias("node"))
            .agg(F.sum("_a").cast("bigint").alias("_h"))
        )
        ranks, new_held = _checkpoint(
            with_a.join(hub, "node", "left").select(
                "node",
                F.coalesce(F.col("_h"), F.lit(0)).cast("bigint")
                .alias("hub"),
                F.col("_a").cast("bigint").alias("authority"),
            )
        )
        held.unpersist()
        held = new_held
    return _track_persisted(ranks, [ep, nodes, held])
