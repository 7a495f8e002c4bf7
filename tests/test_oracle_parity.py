"""Local mirror of the driver's correctness gate: run every oracled
query on Spark AND its oracle SQL on DuckDB over the same parquet,
compare column names, row counts, and order-insensitive values."""

from __future__ import annotations

import math

import duckdb
import pytest
from pyspark.sql.types import ArrayType, MapType, StructType

import __spark_entry__ as entrymod

SF_DIR = "/root/testdata/sf0.001"
TABLES = (
    "region nation customer supplier part orders lineitem events "
    "documents embeddings"
).split()


@pytest.fixture(scope="module")
def duck():
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM '{SF_DIR}/{t}.parquet'"
        )
    yield con
    con.close()


def _normalize(v):
    if v is None:
        return "␀"
    if isinstance(v, bool):
        return str(v).lower()
    if isinstance(v, float):
        if math.isnan(v):
            return "nan"
        return repr(round(v, 9))
    return str(v)


def _spark_rows(df):
    cols = sorted(df.columns)
    rows = [tuple(_normalize(r[c]) for c in cols) for r in df.collect()]
    return cols, sorted(rows)


def _duck_rows(con, sql):
    cur = con.execute(sql)
    names = [d[0] for d in cur.description]
    order = sorted(range(len(names)), key=lambda i: names[i])
    rows = [tuple(_normalize(r[i]) for i in order) for r in cur.fetchall()]
    return sorted(names), sorted(rows)


ORACLED = sorted(entrymod.oracle_sql().keys())


@pytest.mark.parametrize("name", ORACLED)
def test_query_matches_oracle(spark, duck, name):
    q = entrymod.queries()[name]
    sdf = q(spark, SF_DIR)
    # the driver's oracle comparison takes scalar columns only
    nested = [
        f.name for f in sdf.schema.fields
        if isinstance(f.dataType, (ArrayType, MapType, StructType))
    ]
    assert not nested, f"{name}: nested top-level column(s) {nested}"
    scols, srows = _spark_rows(sdf)
    dcols, drows = _duck_rows(duck, entrymod.oracle_sql()[name])
    assert scols == dcols, f"{name}: column mismatch {scols} vs {dcols}"
    assert len(srows) == len(drows), (
        f"{name}: row count {len(srows)} vs {len(drows)}"
    )
    mismatches = [
        (a, b) for a, b in zip(srows, drows) if a != b
    ][:5]
    assert srows == drows, f"{name}: first diffs {mismatches}"


def test_entry_runs(spark):
    df = entrymod.entry(spark)
    assert df.count() >= 0
    assert df.columns == ["url", "constraint_id", "observed", "expected"]


def test_rows_only_queries_run(spark):
    oracled = set(ORACLED)
    for name, q in entrymod.queries().items():
        if name in oracled:
            continue
        df = q(spark, SF_DIR)
        assert df.count() >= 0, name
