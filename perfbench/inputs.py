"""Seeded benchmark inputs: the pages tables the validate journeys read
and the planted corpus the curate journey reads.

Everything is a pure function of the seed. The program under test only
ever sees the parquet written here.
"""

from __future__ import annotations

import json
from pathlib import Path

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

#: constraint spec over the day-partitioned pages table. The `day`
#: partition column must be declared: schema conformance forbids extra
#: columns.
PAGES_SPEC = {
    "fqn": "warehouse.pages",
    "key": "url",
    "extraction": {"source": "html", "target": "text"},
    "columns": [
        {"name": "url", "type": "string", "nullable": False, "unique": True,
         "pattern": "^https?://", "max_length": 2048},
        {"name": "warc_ts", "type": "datetime", "nullable": False},
        {"name": "html", "type": "binary"},
        {"name": "text", "type": "string", "min_length": 1, "nullable": False,
         "drift": {"on": "length", "psi_threshold": 0.2,
                   "ks_threshold": 0.1}},
        {"name": "lang", "type": "string", "min_length": 2, "max_length": 2,
         "references": {"table": "lang_dim", "column": "lang"}},
        {"name": "day", "type": "date"},
    ],
}

#: rows of the clean table the drift baseline is built from
BASELINE_ROWS = 5_000


def write_pages_inputs(spark, work: Path, seed: int, n_rows: int,
                       words_scale: int) -> dict:
    """Pages table (day-partitioned), lang dimension, drift baseline and
    spec file for one validate workload. Returns their paths."""
    from py_schemax_spark.operators.drift import build_baseline
    from py_schemax_spark.sources.datagen import (
        gen_lang_dim,
        gen_pages,
        write_pages,
    )
    from py_schemax_spark.specs.loader import validate_spec_dict

    work.mkdir(parents=True, exist_ok=True)
    paths = {
        "pages": str(work / "pages"),
        "lang_dim": str(work / "lang_dim"),
        "baseline": str(work / "baseline"),
        "spec": str(work / "spec.json"),
    }
    (work / "spec.json").write_text(json.dumps(PAGES_SPEC))
    write_pages(spark, paths["pages"], n_rows, seed=seed,
                words_scale=words_scale)
    gen_lang_dim(spark).write.mode("overwrite").parquet(paths["lang_dim"])
    spec = validate_spec_dict(PAGES_SPEC).spec
    clean = gen_pages(spark, BASELINE_ROWS, seed=seed + 1, clean=True,
                      words_scale=words_scale)
    build_baseline(clean, spec).write.mode("overwrite").parquet(
        paths["baseline"]
    )
    return paths


# --- curate corpus ---------------------------------------------------------

_STOP = ["the", "be", "to", "of", "and", "that", "have", "with"]
_COMMON = _STOP + [
    "page", "house", "river", "garden", "window", "market", "letter",
    "morning", "travel", "family", "story", "village", "number", "history",
    "season", "simple", "bright", "quiet", "green", "open", "early",
]
#: two topic vocabularies. The DSIR target slice (doc_id % 7 == 0) is
#: all topic 0, so DSIR keeps topic-0 documents and drops topic-1 ones.
_TOPICS = [
    ["engine", "turbine", "voltage", "circuit", "sensor", "battery",
     "signal", "motor", "piston", "current", "magnet", "rotor"],
    ["recipe", "butter", "flour", "pepper", "onion", "garlic", "oven",
     "sauce", "cheese", "tomato", "honey", "basil"],
]
_LANGS = ["en", "de", "fr", "es"]
N_SOURCES = 40


def _documents(seed: int, n_docs: int) -> pa.Table:
    """Raw documents ``(doc_id, text, lang, source, n_chars)``.

    Plants near-duplicates: every ``doc_id % 8 == 4`` document is its
    ``doc_id - 4`` partner's text with one word replaced, which keeps
    word 5-shingle Jaccard above 0.8 for every length generated here,
    so the near-dedup stage has pairs to collapse.
    """
    rng = np.random.default_rng(seed)
    texts: list[str] = []
    for doc_id in range(n_docs):
        if doc_id % 8 == 4:
            words = texts[doc_id - 4].split(" ")
            pos = int(rng.integers(0, len(words)))
            choices = [w for w in _COMMON if w != words[pos]]
            words[pos] = choices[int(rng.integers(0, len(choices)))]
            texts.append(" ".join(words))
            continue
        topic = 0 if doc_id % 7 == 0 else int(rng.integers(0, 2))
        n_words = int(rng.integers(20, 90))
        is_topic = rng.random(n_words) < 0.35
        common = rng.integers(0, len(_COMMON), n_words)
        topical = rng.integers(0, len(_TOPICS[topic]), n_words)
        texts.append(" ".join(
            _TOPICS[topic][t] if it else _COMMON[c]
            for it, c, t in zip(is_topic, common, topical)
        ))
    return pa.table({
        "doc_id": pa.array(range(n_docs), pa.int64()),
        "text": texts,
        "lang": [_LANGS[i] for i in rng.integers(0, len(_LANGS), n_docs)],
        "source": [f"src{i}" for i in rng.integers(0, N_SOURCES, n_docs)],
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })


def write_curate_inputs(spark, work: Path, seed: int, n_docs: int) -> dict:
    """Raw documents, the planted curation corpus (``_curate_planted``
    from ``__spark_entry__.py``), robots bodies and the DSIR
    target slice. Returns their paths."""
    from pyspark.sql import functions as F

    from __spark_entry__ import _curate_planted

    work.mkdir(parents=True, exist_ok=True)
    paths = {
        "documents": str(work / "documents.parquet"),
        "corpus": str(work / "corpus"),
        "robots": str(work / "robots"),
        "target": str(work / "target"),
    }
    pq.write_table(_documents(seed, n_docs), paths["documents"])
    corpus = _curate_planted(spark, str(work))
    corpus.write.mode("overwrite").parquet(paths["corpus"])
    d = spark.read.parquet(paths["corpus"])
    # robots bodies: the planting `q_curate_e2e` uses, so the verdicts
    # are closed-form in the oracle
    src_num = F.regexp_extract("source", r"(\d+)$", 1).cast("int")
    star_block = (
        "User-agent: badbot\nDisallow: /\n\n# synthetic robots\n"
        "User-agent: *\nDisallow: /private/\nAllow: /private/ok\n"
    )
    d.select("source").distinct().select(
        F.concat(F.col("source"), F.lit(".example.org")).alias("domain"),
        F.concat(
            F.when(src_num % 7 == 3,
                   F.lit("User-agent: mybot\nDisallow: /doc/\n\n"))
            .otherwise(F.lit("")),
            F.lit(star_block),
            F.when(src_num % 2 == 0, F.lit("Disallow: /tmp/\n"))
            .otherwise(F.lit("")),
        ).alias("robots_txt"),
    ).write.mode("overwrite").parquet(paths["robots"])
    d.filter(F.col("doc_id") % 7 == 0).select("doc_id", "text").write.mode(
        "overwrite"
    ).parquet(paths["target"])
    return paths


def parquet_bytes(path: str) -> int:
    """Bytes of the parquet data files under ``path``."""
    return sum(p.stat().st_size for p in Path(path).rglob("*.parquet"))
