"""``operators.common.broadcast_gate``: one bounded materialization
decides broadcast or shuffle for every gated join side, and the join
reads what the gate built instead of re-running the side's pipeline.

Each gated operator is run to completion on a small side read from
parquet; the scan under the side must report rows exactly as often as
one ``collect()`` of the side does (the SQL execution metrics of
``conftest._plan_nodes``), and the gate must log one decision."""

from __future__ import annotations

import logging
import re

import pytest
from conftest import _last_execution_id, _plan_nodes
from pyspark.sql import functions as F

from py_schemax_spark.operators.common import broadcast_gate
from py_schemax_spark.operators.dedup import (
    connected_components,
    dedup_clusters,
)
from py_schemax_spark.operators.frontier import build_frontier
from py_schemax_spark.operators.lines import remove_boilerplate
from py_schemax_spark.operators.linkgraph import personalized_pagerank
from py_schemax_spark.operators.referential import referential_violations
from py_schemax_spark.operators.robots import apply_robots, parse_robots
from py_schemax_spark.operators.sampling import cap_per_group
from py_schemax_spark.operators.urlfilter import block_urls
from py_schemax_spark.specs.loader import validate_spec_dict

GATE_LOG = "py_schemax_spark.operators.common"


def _scans(spark, pattern: str, action) -> int:
    """Leaf scans (parquet or checkpoint) matching ``pattern`` that
    output rows while ``action`` runs: one per execution of the
    pipeline above them."""
    since = _last_execution_id(spark)
    action()
    return sum(
        1 for name, desc, rows in _plan_nodes(spark, since)
        if re.match(r"(FileScan|Scan ExistingRDD)", desc) and rows > 0
        and re.search(pattern, desc)
    )


def _parquet(spark, d, name, rows, schema):
    path = str(d / name)
    spark.createDataFrame(rows, schema).write.parquet(path)
    return spark.read.parquet(path)


def _lang_spec():
    return validate_spec_dict({
        "fqn": "t", "key": "id",
        "columns": [
            {"name": "id", "type": "string"},
            {"name": "lang", "type": "string",
             "references": {"table": "lang_dim", "column": "lang"}},
        ],
    }).spec


def _robots(spark, d):
    rules = parse_robots(_parquet(
        spark, d, "robots",
        [("a.com", "User-agent: *\nDisallow: /private"),
         ("b.com", "User-agent: *\nAllow: /\nDisallow: /x")],
        "domain string, robots_txt string",
    ))
    docs = spark.createDataFrame(
        [(1, "http://a.com/private/1"), (2, "http://b.com/x/y"),
         (3, "http://c.com/")], "doc_id long, url string",
    )
    return rules.collect, lambda: apply_robots(docs, rules)


def _urlfilter(spark, d):
    blocked = _parquet(
        spark, d, "blocklist", [("bad.com",), ("evil.org",)],
        "domain string",
    )
    docs = spark.createDataFrame(
        [(1, "http://x.bad.com/a"), (2, "http://good.com/")],
        "doc_id long, url string",
    )
    return blocked.collect, lambda: block_urls(docs, blocked)


def _frontier(spark, d):
    seen = _parquet(
        spark, d, "seen", [("http://a.com/",), ("http://b.com/p",)],
        "seen_url string",
    )
    cand = spark.createDataFrame(
        [("http://a.com/",), ("http://c.com/",)], "url string"
    )
    return seen.collect, lambda: build_frontier(
        cand, seen, seen_url_col="seen_url"
    )


def _sampling(spark, d):
    df = _parquet(
        spark, d, "groups",
        [("g0", i) for i in range(10)] + [("g1", 1)], "grp string, k int",
    )
    return df.select("grp").collect, lambda: cap_per_group(
        df, "grp", "k", 3
    )


def _linkgraph(spark, d):
    seeds = _parquet(spark, d, "seeds", [(1,), (2,)], "seed_node long")
    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 1)], "src long, dst long"
    )
    return seeds.collect, lambda: personalized_pagerank(
        edges, seeds, seed_col="seed_node", iters=1
    )


def _lines(spark, d):
    docs = _parquet(
        spark, d, "docs", [(i, f"nav\nbody {i}") for i in range(6)],
        "doc_id long, text string",
    )
    return docs.collect, lambda: remove_boilerplate(docs, min_docs=3)


def _dedup(spark, d):
    pairs = _parquet(
        spark, d, "pairs", [(1, 2), (2, 3), (5, 6)], "key_a long, key_b long"
    )
    docs = spark.createDataFrame([(i,) for i in range(8)], "doc_id long")
    return (
        lambda: connected_components(pairs).collect(),
        lambda: dedup_clusters(docs, pairs),
    )


def _referential_dim(spark, d):
    dim = _parquet(spark, d, "dim", [("en",), ("de",)], "lang string")
    fact = spark.createDataFrame(
        [("k1", "en"), ("k2", "zz")], "id string, lang string"
    )
    return dim.collect, lambda: referential_violations(
        fact, _lang_spec(), {"lang_dim": dim}, max_broadcast_rows=10
    )


def _referential_invalid(spark, d):
    fact = _parquet(
        spark, d, "fact", [("k1", "en"), ("k2", "zz"), ("k3", "xx")],
        "id string, lang string",
    )
    dim = spark.createDataFrame([("en",), ("de",)], "lang string")
    return fact.select("lang").collect, lambda: referential_violations(
        fact, _lang_spec(), {"lang_dim": dim}, max_broadcast_rows=0
    )


# gate -> (inputs, decision log label, the side's leaf scan, scans of
# the same file that are not the side's)
GATES = {
    "robots": (_robots, "robots", r"^FileScan.*robots_txt#", 0),
    "urlfilter": (_urlfilter, "blocklist", r"^FileScan.*domain#", 0),
    "frontier": (_frontier, "seen", r"^FileScan.*seen_url#", 0),
    # the group counts read only ``grp``; the row passes ``grp, k``
    "sampling": (
        _sampling, "over-cap groups", r"^FileScan parquet \[grp#\d+\]", 0
    ),
    "linkgraph": (_linkgraph, "seeds", r"^FileScan.*seed_node#", 0),
    # the hot set is persisted, as before the gate: its scan, plus the
    # two passes over the documents
    "lines": (_lines, "boilerplate", r"^FileScan.*text#", 2),
    # the component map is read from the connected_components labels
    "dedup_clusters": (
        _dedup, "components", r"^Scan ExistingRDD\[node#", 0
    ),
    # matched by location: a bare count scans no column
    "referential_dim": (_referential_dim, "lang_dim", r"^FileScan.*/dim\]", 0),
    # the invalid set reads only ``lang``, the tag join ``id, lang``;
    # it is persisted, as before the gate
    "referential_invalid": (
        _referential_invalid, "invalid", r"^FileScan parquet \[lang#\d+\]", 0
    ),
}


@pytest.mark.parametrize("gate", sorted(GATES))
def test_gate_builds_small_side_once(spark, tmp_path_factory, caplog, gate):
    build, label, pattern, other_scans = GATES[gate]
    # a short path: the scan description abbreviates long locations
    side, op = build(spark, tmp_path_factory.mktemp("g"))
    once = _scans(spark, pattern, side)
    with caplog.at_level(logging.INFO, logger=GATE_LOG):
        n = _scans(spark, pattern, lambda: op().collect())
    assert n == once + other_scans, (n, once)
    decisions = [
        r.getMessage() for r in caplog.records
        if r.name == GATE_LOG and f" {label}:" in r.getMessage()
    ]
    assert len(decisions) == 1 and decisions[0].endswith("broadcast"), (
        decisions
    )


# --- the helper --------------------------------------------------------------


def _pinned(spark) -> int:
    return spark.sparkContext._jsc.getPersistentRDDs().size()


def _ids(spark, n: int):
    return spark.range(n).withColumnRenamed("id", "v")


@pytest.mark.parametrize(
    "n_rows, max_rows, small",
    [(0, 5, True), (0, 0, True), (1, 0, False), (3, 3, True), (4, 3, False)],
    ids=["empty", "empty-cap0", "one-cap0", "at-cap", "over-cap"],
)
def test_gate_decides_from_observed_rows(spark, n_rows, max_rows, small):
    from py_schemax_spark.operators.dedup import release_all_intermediates

    release_all_intermediates()
    before = _pinned(spark)
    side = _ids(spark, n_rows)
    out, broadcast = broadcast_gate(side, max_rows, "ids")
    assert broadcast is small
    assert sorted(r.v for r in out.collect()) == list(range(n_rows))
    if small:
        # the join broadcasts the checkpoint, pinned until released
        plan = (
            _ids(spark, 8).join(out, "v")
            ._jdf.queryExecution().executedPlan().toString()
        )
        assert "BroadcastExchange" in plan and "ExistingRDD" in plan, plan
        assert _pinned(spark) == before + 1
        release_all_intermediates()
    else:
        # above the cap the bounded checkpoint is freed at once and the
        # side is returned as it came in
        assert out is side
    assert _pinned(spark) == before


def test_gate_broadcasts_a_persisted_side_itself(spark):
    """A persisted side is filled by the probe and broadcast as is, so
    it is not stored twice and the join plan keeps its lineage."""
    side = _ids(spark, 3).filter(F.col("v") >= 0).cache()
    try:
        before = _pinned(spark)
        out, broadcast = broadcast_gate(side, 3, "ids")
        assert broadcast and _pinned(spark) == before + 1  # side's cache
        plan = (
            _ids(spark, 8).join(out, "v")
            ._jdf.queryExecution().executedPlan().toString()
        )
        assert "InMemoryTableScan" in plan and "Filter" in plan, plan
    finally:
        side.unpersist()


def test_gate_logs_its_decision(spark, caplog):
    """One INFO line per gate: label, rows observed (capped at
    max_rows + 1), cap and decision."""
    rules = spark.createDataFrame(
        [("a.com", "/x", False), ("b.com", "/y", False),
         ("c.com", "/z", False)],
        "domain string, prefix string, is_allow boolean",
    )
    docs = spark.createDataFrame(
        [(1, "http://a.com/x")], "doc_id long, url string"
    )
    with caplog.at_level(logging.INFO, logger=GATE_LOG):
        out = apply_robots(docs, rules, max_broadcast_domains=1)
    assert out.collect()[0]["robots_blocked"] is True
    assert [r.getMessage() for r in caplog.records if r.name == GATE_LOG] == [
        "broadcast gate robots: 2 rows observed (cap 1) -> shuffle"
    ]


def test_block_urls_empty_blocklist_fits_cap_zero(spark):
    """An empty blocklist has no rows to broadcast, so it fits any cap:
    ``max_broadcast_domains=0`` must not reject it."""
    docs = spark.createDataFrame(
        [(1, "http://a.com/"), (2, None)], "doc_id long, url string"
    )
    empty = spark.createDataFrame([], "domain string")
    rows = block_urls(docs, empty, max_broadcast_domains=0).collect()
    assert sorted((r.doc_id, r.blocked) for r in rows) == [
        (1, False), (2, False)
    ]
    one = spark.createDataFrame([("a.com",)], "domain string")
    with pytest.raises(ValueError, match="max_broadcast_domains=0"):
        block_urls(docs, one, max_broadcast_domains=0)
