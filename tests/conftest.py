"""Shared fixtures — the analogue of the reference's fixture corpus
(/root/reference/tests/conftest.py:8-120): one session-scoped Spark,
deterministic tiny pages tables (valid + per-violation-class), and a
full-coverage spec (the analogue of valid_complex_schema.yaml)."""

from __future__ import annotations

import pytest

from py_schemax_spark.session import get_spark
from py_schemax_spark.sources.datagen import gen_lang_dim, gen_pages
from py_schemax_spark.specs.loader import validate_spec_dict


@pytest.fixture(scope="session")
def spark():
    s = get_spark(
        app_name="py_schemax_spark_tests", master="local[4]",
        shuffle_partitions=4,
    )
    yield s
    s.stop()


PAGES_SPEC_DOC = {
    "fqn": "warehouse.pages",
    "key": "url",
    "extraction": {"source": "html", "target": "text"},
    "columns": [
        {"name": "url", "type": "string", "nullable": False, "unique": True,
         "pattern": "^https?://", "max_length": 2048},
        {"name": "warc_ts", "type": "datetime", "nullable": False},
        {"name": "html", "type": "binary"},
        {"name": "text", "type": "string", "min_length": 1, "nullable": False,
         "drift": {"on": "length", "psi_threshold": 0.2, "ks_threshold": 0.1}},
        {"name": "lang", "type": "string", "min_length": 2, "max_length": 2,
         "references": {"table": "lang_dim", "column": "lang"}},
    ],
}


@pytest.fixture(scope="session")
def pages_spec():
    res = validate_spec_dict(PAGES_SPEC_DOC)
    assert res.valid, res.errors
    return res.spec


@pytest.fixture(scope="session")
def pages(spark):
    """Dirty pages table (seeded violations of every class)."""
    return gen_pages(spark, 2000).cache()


@pytest.fixture(scope="session")
def clean_pages(spark):
    """Violation-free pages table (golden / baseline runs)."""
    return gen_pages(spark, 2000, clean=True).cache()


@pytest.fixture(scope="session")
def lang_dim(spark):
    return gen_lang_dim(spark)


# --- SQL execution metrics ---------------------------------------------------


def _seq(seq):
    it = seq.iterator()
    while it.hasNext():
        yield it.next()


def _sql_store(spark):
    spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty(30_000)
    return spark._jsparkSession.sharedState().statusStore()


def _last_execution_id(spark) -> int:
    store = _sql_store(spark)
    n = store.executionsCount()
    return store.executionsList(n - 1, 1).head().executionId() if n else -1


def _plan_nodes(spark, since: int) -> list[tuple[str, str, int]]:
    """``(name, description, output rows)`` of every plan node in the
    SQL executions after execution ``since``. A node this execution did
    not run (e.g. the plan under a cached relation it only reads)
    reports 0 rows."""
    store = _sql_store(spark)
    n = store.executionsCount()
    out = []
    for e in _seq(store.executionsList(max(0, n - 500), 500)):
        eid = e.executionId()
        if eid <= since:
            continue
        values = store.executionMetrics(eid)
        for node in _seq(store.planGraph(eid).allNodes()):
            rows = 0
            for m in _seq(node.metrics()):
                if m.name() == "number of output rows":
                    v = values.get(m.accumulatorId())
                    if v.isDefined():
                        rows = int(v.get().replace(",", ""))
            out.append((node.name(), node.desc(), rows))
    return out
