"""Link-graph operators: outlink extraction, domain graph/degrees,
and integer fixed-point PageRank (engine-exact contract)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from py_schemax_spark.operators.dedup import release_all_intermediates
from py_schemax_spark.operators.linkgraph import (
    domain_degrees,
    domain_graph,
    extract_outlinks,
    pagerank,
)


def _pages(spark, rows):
    return spark.createDataFrame(rows, ["url", "html"])


class TestExtractOutlinks:
    def test_both_quote_styles_and_order(self, spark):
        df = _pages(
            spark,
            [
                (
                    "https://a.org/x",
                    '<a href="https://b.org/1">x</a>'
                    "<a href='https://c.org/2'>y</a>",
                )
            ],
        )
        got = {
            (r.src_url, r.dst_url)
            for r in extract_outlinks(df).collect()
        }
        assert got == {
            ("https://a.org/x", "https://b.org/1"),
            ("https://a.org/x", "https://c.org/2"),
        }

    def test_relative_links_filtered_unless_asked(self, spark):
        df = _pages(
            spark, [("https://a.org", '<a href="/rel">r</a>')]
        )
        assert extract_outlinks(df).count() == 0
        got = extract_outlinks(df, absolute_only=False).collect()
        assert [r.dst_url for r in got] == ["/rel"]

    def test_no_links_null_html_binary_html(self, spark):
        df = _pages(
            spark,
            [
                ("https://a.org", "<p>no links</p>"),
                ("https://b.org", None),
            ],
        )
        assert extract_outlinks(df).count() == 0
        # binary html column (the BASELINE input_hint shape)
        b = df.select("url", F.encode(F.col("html"), "UTF-8").alias("html"))
        assert extract_outlinks(b).count() == 0
        b2 = _pages(
            spark, [("https://a.org", '<a href="https://z.org">z</a>')]
        ).select("url", F.encode(F.col("html"), "UTF-8").alias("html"))
        assert extract_outlinks(b2).count() == 1

    def test_pure_projection_plan(self, spark):
        df = _pages(
            spark, [("https://a.org", '<a href="https://b.org">x</a>')]
        )
        plan = (
            extract_outlinks(df)
            ._jdf.queryExecution()
            .executedPlan()
            .toString()
        )
        assert "Exchange" not in plan  # projection + generate only


class TestDomainGraph:
    def test_weights_and_degrees(self, spark):
        df = _pages(
            spark,
            [
                (
                    "https://a.org/1",
                    '<a href="https://b.org/x">1</a>'
                    '<a href="https://b.org/y">2</a>'
                    '<a href="https://c.org/z">3</a>',
                ),
                ("https://a.org/2", '<a href="https://b.org/w">4</a>'),
                ("https://b.org/1", '<a href="https://c.org/q">5</a>'),
            ],
        )
        g = domain_graph(extract_outlinks(df))
        got = {
            (r.src_domain, r.dst_domain): r.weight for r in g.collect()
        }
        assert got == {
            ("a.org", "b.org"): 3,
            ("a.org", "c.org"): 1,
            ("b.org", "c.org"): 1,
        }
        deg = {r.domain: r for r in domain_degrees(g).collect()}
        assert set(deg) == {"a.org", "b.org", "c.org"}
        a, b, c = deg["a.org"], deg["b.org"], deg["c.org"]
        assert (a.out_degree, a.in_degree, a.out_weight, a.in_weight) == (
            2, 0, 4, 0,
        )
        assert (b.out_degree, b.in_degree, b.out_weight, b.in_weight) == (
            1, 1, 1, 3,
        )
        assert (c.out_degree, c.in_degree, c.out_weight, c.in_weight) == (
            0, 2, 0, 2,
        )

    def test_port_and_case_fold_into_domain(self, spark):
        df = _pages(
            spark,
            [("https://A.Org:8080/x", '<a href="https://B.ORG:443/y">x</a>')],
        )
        g = domain_graph(extract_outlinks(df)).collect()
        assert [(r.src_domain, r.dst_domain) for r in g] == [
            ("a.org", "b.org")
        ]


def _py_pagerank(edges, iters, scale=1_000_000, damping_bp=8500):
    """Single-process reference of the exact integer contract."""
    e = sorted(set(edges))
    nodes = sorted({s for s, _ in e} | {d for _, d in e})
    outdeg = {}
    for s, _ in e:
        outdeg[s] = outdeg.get(s, 0) + 1
    base = ((10000 - damping_bp) * scale) // 10000
    r = {n: scale for n in nodes}
    for _ in range(iters):
        inc = {n: 0 for n in nodes}
        for s, d in e:
            inc[d] += r[s] // outdeg[s]
        r = {n: base + (damping_bp * inc[n]) // 10000 for n in nodes}
    return r


class TestPagerank:
    EDGES = [(1, 2), (2, 3), (3, 1), (1, 3), (4, 1), (1, 2)]  # dup edge

    def _spark_ranks(self, spark, iters, parts=1):
        df = spark.createDataFrame(self.EDGES, ["src", "dst"]).repartition(
            parts
        )
        out = pagerank(df, iters=iters)
        got = {r.node: r["rank"] for r in out.collect()}
        release_all_intermediates()
        return got

    @pytest.mark.parametrize("iters", [1, 3])
    def test_matches_python_reference(self, spark, iters):
        assert self._spark_ranks(spark, iters) == _py_pagerank(
            self.EDGES, iters
        )

    def test_partitioning_invariant(self, spark):
        assert self._spark_ranks(spark, 3, parts=1) == self._spark_ranks(
            spark, 3, parts=7
        )

    def test_dangling_node_keeps_base_plus_damped_zero(self, spark):
        # 4 has no outlinks-in (only an out-edge) → pure-sink check is
        # node 3's twin: node 4 never RECEIVES, rank settles at base
        got = self._spark_ranks(spark, 3)
        ref = _py_pagerank(self.EDGES, 3)
        assert got[4] == ref[4]
        base = (1500 * 1_000_000) // 10000
        assert got[4] == base  # receives nothing after round 1

    def test_null_keys_dropped_and_bad_iters(self, spark):
        df = spark.createDataFrame(
            [(1, 2), (None, 3), (2, None)], ["src", "dst"]
        )
        out = pagerank(df, iters=1)
        nodes = {r.node for r in out.collect()}
        release_all_intermediates()
        assert nodes == {1, 2}
        with pytest.raises(ValueError):
            pagerank(df, iters=0)


def test_extract_anchors_triples(spark):
    from py_schemax_spark.operators.linkgraph import extract_anchors

    html = (
        '<a href="https://a.org/1">First Link</a>'
        '<a class="nav" href="https://b.org/2"> spaced  </a>'
        '<a href="/relative">rel</a>'
        '<a name="x">no href</a>'
        '<a href="https://c.org/3"><img src="i.png"/></a>'
    )
    df = spark.createDataFrame([("u", html)], "url string, html string")
    got = {
        (r["dst_url"], r["anchor"])
        for r in extract_anchors(df).collect()
    }
    assert got == {
        ("https://a.org/1", "First Link"),
        ("https://b.org/2", "spaced"),
        ("https://c.org/3", ""),  # elementful body -> lexical ''
    }
    rel = extract_anchors(df, absolute_only=False).collect()
    assert ("/relative", "rel") in {
        (r["dst_url"], r["anchor"]) for r in rel
    }


def test_extract_anchors_zero_exchanges_and_binary(spark):
    from pyspark.sql import functions as F

    from py_schemax_spark.operators.linkgraph import extract_anchors

    df = spark.createDataFrame([("u",)], "url string").select(
        "url",
        F.encode(F.lit('<a href="https://x.org">B</a>'), "utf-8")
        .alias("html"),
    )
    out = extract_anchors(df)
    assert out.collect()[0]["anchor"] == "B"
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan


# ---------------------------------------------------------------------------
# Personalized PageRank (TrustRank)


def _ppr_py(edges, seeds, iters=3, scale=1_000_000, damping_bp=8500):
    e = sorted(set(edges))
    outdeg = {}
    for s, _ in e:
        outdeg[s] = outdeg.get(s, 0) + 1
    nodes = {s for s, _ in e} | {d for _, d in e}
    base = ((10000 - damping_bp) * scale) // 10000
    r = {n: (scale if n in seeds else 0) for n in nodes}
    for _ in range(iters):
        inc = {n: 0 for n in nodes}
        for s, d in e:
            inc[d] += r[s] // outdeg[s]
        r = {
            n: (base if n in seeds else 0)
            + (damping_bp * inc[n]) // 10000
            for n in nodes
        }
    return r


def test_trustrank_matches_python_fixed_point(spark):
    from py_schemax_spark.operators.linkgraph import personalized_pagerank

    edges = [(0, 1), (1, 2), (2, 0), (3, 4), (4, 3), (1, 3), (5, 0)]
    seeds = [0]
    got = {
        r["node"]: r["rank"]
        for r in personalized_pagerank(
            spark.createDataFrame(edges, "src long, dst long"),
            spark.createDataFrame([(s,) for s in seeds], "node long"),
            iters=3,
        ).collect()
    }
    assert got == _ppr_py(edges, set(seeds))
    # every node seeded is plain PageRank: the two share one recurrence
    edf = spark.createDataFrame(edges, "src long, dst long")
    everyone = {
        r["node"]: r["rank"]
        for r in personalized_pagerank(
            edf,
            spark.createDataFrame([(n,) for n in range(6)], "node long"),
            iters=3,
        ).collect()
    }
    plain = {r["node"]: r["rank"] for r in pagerank(edf, iters=3).collect()}
    release_all_intermediates()
    assert everyone == _py_pagerank(edges, 3) == plain


def test_trustrank_spam_cluster_scores_zero(spark):
    from py_schemax_spark.operators.linkgraph import personalized_pagerank

    # spam farm 10<->11<->12 is unreachable from the trusted seed 0
    edges = [(0, 1), (1, 0), (10, 11), (11, 12), (12, 10), (10, 12)]
    got = {
        r["node"]: r["rank"]
        for r in personalized_pagerank(
            spark.createDataFrame(edges, "src long, dst long"),
            spark.createDataFrame([(0,)], "node long"),
            iters=4,
        ).collect()
    }
    assert got[10] == got[11] == got[12] == 0
    assert got[0] > 0 and got[1] > 0


def test_trustrank_partitioning_invariance(spark):
    from py_schemax_spark.operators.linkgraph import personalized_pagerank

    edges = [(i % 9, (i * 5 + 2) % 9) for i in range(40)]
    edges = [e for e in edges if e[0] != e[1]]
    edf = spark.createDataFrame(edges, "src long, dst long")
    sdf = spark.createDataFrame([(0,), (4,)], "node long")
    a = sorted(map(tuple, personalized_pagerank(edf, sdf).collect()))
    b = sorted(
        map(
            tuple,
            personalized_pagerank(
                edf.repartition(7), sdf.repartition(2)
            ).collect(),
        )
    )
    assert a == b


def test_trustrank_iters_validation(spark):
    from py_schemax_spark.operators.linkgraph import personalized_pagerank

    edf = spark.createDataFrame([(0, 1)], "src long, dst long")
    sdf = spark.createDataFrame([(0,)], "node long")
    with pytest.raises(ValueError):
        personalized_pagerank(edf, sdf, iters=0)


# ---------------------------------------------------------------------------
# anchor_text_profile


def _anchors_df(spark, rows):
    return spark.createDataFrame(
        rows, "src_url string, dst_url string, anchor string"
    )


def test_anchor_profile_hand_computed(spark):
    from py_schemax_spark.operators.linkgraph import anchor_text_profile

    rows = [
        ("a", "https://t.org", "home"),
        ("b", "https://t.org", "home"),
        ("c", "https://t.org", "homepage"),
        ("d", "https://t.org", ""),        # elementful body
        ("e", "https://u.org", "docs"),
    ]
    got = {
        r["dst_url"]: (r["n_refs"], r["n_texts"], r["top_anchors"])
        for r in anchor_text_profile(
            _anchors_df(spark, rows), top_k=2
        ).collect()
    }
    assert got["https://t.org"] == (4, 2, ["home", "homepage"])
    assert got["https://u.org"] == (1, 1, ["docs"])


def test_anchor_profile_topk_and_tiebreak(spark):
    from py_schemax_spark.operators.linkgraph import anchor_text_profile

    rows = [("s", "d", t) for t in
            ["b", "b", "a", "a", "c", "z", "z", "z"]]
    got = anchor_text_profile(
        _anchors_df(spark, rows), top_k=2
    ).collect()[0]
    # z(3) first; a/b tie at 2 -> text asc -> a
    assert got["top_anchors"] == ["z", "a"]


def test_anchor_profile_empty_never_takes_a_slot(spark):
    from py_schemax_spark.operators.linkgraph import anchor_text_profile

    rows = [("s", "d", "")] * 5 + [("s", "d", "label")]
    got = anchor_text_profile(
        _anchors_df(spark, rows), top_k=1
    ).collect()[0]
    assert got["n_refs"] == 6
    assert got["n_texts"] == 1
    assert got["top_anchors"] == ["label"]


def test_anchor_profile_validation(spark):
    from py_schemax_spark.operators.linkgraph import anchor_text_profile

    with pytest.raises(ValueError):
        anchor_text_profile(_anchors_df(spark, []), top_k=0)


# ---------------------------------------------------------------------------
# HITS


def _hits_py(edges, iters=2, scale=1000):
    e = sorted(set(edges))
    nodes = {s for s, _ in e} | {d for _, d in e}
    h = {n: scale for n in nodes}
    a = {n: scale for n in nodes}
    for _ in range(iters):
        a = {n: 0 for n in nodes}
        for s, d in e:
            a[d] += h[s]
        h = {n: 0 for n in nodes}
        for s, d in e:
            h[s] += a[d]
    return {n: (h[n], a[n]) for n in nodes}


def test_hits_matches_python_fixed_point(spark):
    from py_schemax_spark.operators.linkgraph import hits

    edges = [(0, 1), (0, 2), (3, 1), (3, 2), (1, 4), (2, 4), (4, 0)]
    got = {
        r["node"]: (r["hub"], r["authority"])
        for r in hits(
            spark.createDataFrame(edges, "src long, dst long"), iters=2
        ).collect()
    }
    assert got == _hits_py(edges)


def test_hits_hub_vs_authority_structure(spark):
    from py_schemax_spark.operators.linkgraph import hits

    # 0 and 1 both point at 2,3,4 (pure hubs); 2,3,4 point nowhere
    edges = [(s, d) for s in (0, 1) for d in (2, 3, 4)]
    got = {
        r["node"]: (r["hub"], r["authority"])
        for r in hits(
            spark.createDataFrame(edges, "src long, dst long"), iters=2
        ).collect()
    }
    for hub_node in (0, 1):
        assert got[hub_node][0] > 0 and got[hub_node][1] == 0
    for auth_node in (2, 3, 4):
        assert got[auth_node][0] == 0 and got[auth_node][1] > 0


def test_hits_partitioning_invariance_and_validation(spark):
    from py_schemax_spark.operators.linkgraph import hits

    edges = [(i % 9, (i * 5 + 2) % 9) for i in range(40)]
    edges = [e for e in edges if e[0] != e[1]]
    edf = spark.createDataFrame(edges, "src long, dst long")
    assert sorted(map(tuple, hits(edf).collect())) == sorted(
        map(tuple, hits(edf.repartition(7)).collect())
    )
    with pytest.raises(ValueError):
        hits(edf, iters=0)


def test_anchor_profile_null_text_ranks_last(spark):
    """A NULL anchor in a caller-supplied table must share the
    empty-text handling (counted in n_refs, excluded from n_texts and
    top_anchors, never consuming a rank slot) — ADVICE r04: null
    sorted FIRST in the rank ordering."""
    from py_schemax_spark.operators.linkgraph import anchor_text_profile

    anchors = spark.createDataFrame(
        [
            ("https://t.org/", None),
            ("https://t.org/", None),
            ("https://t.org/", "home"),
            ("https://t.org/", ""),
        ],
        "dst_url string, anchor string",
    )
    r = anchor_text_profile(anchors, top_k=1).collect()[0]
    assert r["n_refs"] == 4
    assert r["n_texts"] == 1
    assert r["top_anchors"] == ["home"]
