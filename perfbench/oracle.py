"""Independent output checks: DuckDB recomputes what each journey must
produce from the same generated parquet the program read.

Validation: per-``constraint_id`` violation counts. The extraction
check reuses the template inverse ``EXTRACT_SQL`` that
``__spark_entry__.oracle_sql`` uses. Curation: the per-stage survivor counts and final text digests of
the ``curate_e2e`` oracle chain in ``__spark_entry__.oracle_sql``.
"""

from __future__ import annotations

import hashlib
import json
from pathlib import Path

import duckdb

# the fixed html template the pages generator renders (see
# functions/extraction.py); EXTRACT_SQL slices between these markers
_PRE = "<html><head><title>d</title></head><body><article>"
_POST = "</article></body></html>"


def _pages_sql(pages: str) -> str:
    return f"read_parquet('{pages}/*/*.parquet', hive_partitioning = true)"


def expected_violations(pages: str, lang_dim: str) -> dict[str, int]:
    """Violation rows per constraint id the spec in ``inputs.PAGES_SPEC``
    must produce over ``pages`` (drift excluded: a t-digest verdict has
    no SQL twin)."""
    from py_schemax_spark.sources.pages_view import EXTRACT_SQL

    sql = f"""
WITH p AS (SELECT *, decode(html) AS html_str FROM {_pages_sql(pages)}),
x AS (
  SELECT *,
         CASE WHEN starts_with(html_str, '{_PRE}')
                   AND ends_with(html_str, '{_POST}')
                   AND length(html_str) >= {len(_PRE) + len(_POST)}
              THEN {EXTRACT_SQL} END AS extracted
  FROM p
),
dim AS (SELECT lang FROM read_parquet('{lang_dim}/*.parquet'))
SELECT
  count(*) FILTER (WHERE url IS NULL) AS "url.nullable",
  count(*) FILTER (WHERE length(url) > 2048) AS "url.max_length",
  count(*) FILTER (WHERE NOT regexp_matches(url, '^https?://'))
    AS "url.pattern",
  count(*) - count(DISTINCT url) AS "url.unique",
  count(*) FILTER (WHERE warc_ts IS NULL) AS "warc_ts.nullable",
  count(*) FILTER (WHERE text IS NULL) AS "text.nullable",
  count(*) FILTER (WHERE length(text) < 1) AS "text.min_length",
  count(*) FILTER (WHERE length(lang) < 2) AS "lang.min_length",
  count(*) FILTER (WHERE length(lang) > 2) AS "lang.max_length",
  count(*) FILTER (WHERE lang NOT IN (SELECT lang FROM dim))
    AS "lang.references",
  count(*) FILTER (WHERE extracted IS DISTINCT FROM text)
    AS "html.extraction",
  count(*) AS "__rows__",
  count(DISTINCT day) AS "__parts__"
FROM x
"""
    with duckdb.connect() as con:
        cur = con.execute(sql)
        names = [d[0] for d in cur.description]
        row = cur.fetchone()
    return {n: int(v) for n, v in zip(names, row)}


def check_validate_output(out_dir: str, expected: dict[str, int]) -> tuple[
        list[str], str]:
    """Compare one ``validate --output-dir`` result with the oracle.
    Returns ``(problems, digest)``; the digest covers every violation
    row, so repetitions of one journey must agree on it."""
    problems: list[str] = []
    vdir = f"{out_dir}/violations_0"
    with duckdb.connect() as con:
        got = dict(con.execute(
            f"SELECT constraint_id, count(*) FROM "
            f"read_parquet('{vdir}/**/*.parquet') GROUP BY 1"
        ).fetchall())
        digest = con.execute(
            f"SELECT md5(string_agg(url || '|' || constraint_id || '|' "
            f"|| coalesce(observed, '') || '|' || part, chr(10) "
            f"ORDER BY url, constraint_id, observed, part)) "
            f"FROM read_parquet('{vdir}/**/*.parquet', "
            f"hive_partitioning = false)"
        ).fetchone()[0]
    for cid, n in expected.items():
        if cid.startswith("__"):
            continue
        if got.get(cid, 0) != n:
            problems.append(f"{cid}: got {got.get(cid, 0)}, oracle {n}")
    drift = got.get("text.drift", 0)
    extra = set(got) - set(expected) - {"text.drift"}
    if extra:
        problems.append(f"unexpected constraint ids {sorted(extra)}")
    if drift > 1:
        problems.append(f"text.drift: {drift} rows, at most 1 expected")
    summary = json.loads(Path(f"{out_dir}/summary_0.json").read_text())
    if summary["total_rows"] != expected["__rows__"]:
        problems.append(
            f"summary total_rows {summary['total_rows']} != "
            f"{expected['__rows__']}"
        )
    if summary["total_partitions"] != expected["__parts__"]:
        problems.append(
            f"summary total_partitions {summary['total_partitions']} != "
            f"{expected['__parts__']}"
        )
    if summary["total_violations"] != sum(got.values()):
        problems.append(
            f"summary total_violations {summary['total_violations']} != "
            f"{sum(got.values())} written rows"
        )
    return problems, str(digest)


# --- curation --------------------------------------------------------------

#: CLI stage name -> oracle CTE holding that stage's survivors
_STAGE_CTES = {
    "robots": "after_robots",
    "quality": "quality",
    "dsir": "dsir",
    "lines": "cleaned",
    "exact_dedup": "final",
}


def expected_curation(documents: str) -> dict:
    """Stage survivor counts and ``doc_id -> md5(final text)`` after
    exact dedup, from the ``curate_e2e`` oracle chain."""
    from __spark_entry__ import oracle_sql

    chain = oracle_sql()["curate_e2e"]
    head, sep, _ = chain.rpartition('\nSELECT doc_id, n_units, "offset"')
    if not sep:
        raise RuntimeError("curate_e2e oracle SQL changed shape")
    # evaluate each CTE once: inlined, the regex-heavy stages re-run per
    # reference (9 s instead of 0.2 s on 2,000 documents)
    head = head.replace(" AS (\n", " AS MATERIALIZED (\n")
    counts = ", ".join(
        f"(SELECT count(*) FROM {cte}) AS {stage}"
        for stage, cte in _STAGE_CTES.items()
    )
    with duckdb.connect() as con:
        con.execute(
            f"CREATE VIEW documents AS SELECT * FROM "
            f"read_parquet('{documents}')"
        )
        cur = con.execute(
            f"{head}\nSELECT {counts}, "
            f"(SELECT count(*) FROM hot) AS hot_lines"
        )
        names = [d[0] for d in cur.description]
        stats = dict(zip(names, (int(v) for v in cur.fetchone())))
        final = dict(con.execute(
            f"{head}\nSELECT doc_id, final_md5 FROM sz"
        ).fetchall())
        stats["n_docs"] = con.execute(
            "SELECT count(*) FROM documents"
        ).fetchone()[0]
    return {"stages": stats, "final_md5": final}


def _check_near_dedup(before: dict, kept: set) -> list[str]:
    """Near dedup must drop one member of every planted near-duplicate
    pair (``doc_id % 8 == 4`` and its ``doc_id - 4`` partner, see
    ``inputs._documents``) that survived exact dedup, and nothing else:
    no two unplanted documents share 80% of their 5-shingles."""
    pairs = [d for d in before if d % 8 == 4 and d - 4 in before]
    both = [d for d in pairs if d in kept and d - 4 in kept]
    problems = []
    if not pairs:
        problems.append("no planted near-duplicate pair reached near_dedup")
    if both:
        problems.append(f"near_dedup kept both members of {len(both)} of "
                        f"{len(pairs)} planted pairs")
    removed = len(before) - len(kept & set(before))
    if removed != len(pairs):
        problems.append(f"near_dedup removed {removed} documents, "
                        f"{len(pairs)} planted pairs")
    return problems


def check_curate_output(out_dir: str, expected: dict) -> tuple[
        list[str], str]:
    """Compare one ``curate --export-shards`` result with the oracle.
    Every stage must change the row count or the text."""
    problems: list[str] = []
    stats = expected["stages"]
    report = json.loads(Path(f"{out_dir}/report.json").read_text())
    stages = report["stages"]
    prev = stats["n_docs"]
    for stage in _STAGE_CTES:
        got = stages.get(stage, {}).get("out")
        if got != stats[stage]:
            problems.append(f"{stage}: {got} survivors, oracle {stats[stage]}")
        if stage != "lines" and stats[stage] >= prev:
            problems.append(f"{stage} removed no documents")
        prev = stats[stage]
    if stats["hot_lines"] == 0:
        problems.append("lines stage rewrote no text")
    with duckdb.connect() as con:
        rows = con.execute(
            f"SELECT doc_id, md5(text) FROM "
            f"read_parquet('{out_dir}/curated/*.parquet') ORDER BY doc_id"
        ).fetchall()
        n_shard_rows = con.execute(
            f"SELECT count(*) FROM read_json_auto("
            f"'{out_dir}/shards/*/*.json', format = 'newline_delimited', "
            f"hive_partitioning = false)"
        ).fetchone()[0]
    near_out = stages.get("near_dedup", {}).get("out")
    if near_out != len(rows):
        problems.append(f"near_dedup reports {near_out}, wrote {len(rows)}")
    final = expected["final_md5"]
    problems += _check_near_dedup(final, {d for d, _ in rows})
    wrong = [d for d, h in rows if final.get(d) != h]
    if wrong:
        problems.append(f"{len(wrong)} survivors differ from the oracle text")
    if n_shard_rows != len(rows):
        problems.append(f"shards hold {n_shard_rows} rows, curated {len(rows)}")
    digest = hashlib.md5(
        "\n".join(f"{d}|{h}" for d, h in rows).encode()
    ).hexdigest()
    return problems, digest
