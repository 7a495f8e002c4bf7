"""End-to-end web-corpus curation pipeline.

Composes the training-data operators into the standard curation
sequence (RefinedWeb fig. 1 / CCNet / C4 order — source filtering,
text normalization, quality filtering, repetition removal, dedup,
mixing) behind one call / one CLI subcommand, with a per-stage
in/out-count report. A user of the individual operators could wire
this themselves; the pipeline exists so the common case is one
command and so the FUSION story is explicit:

- **blocklist → normalize → quality** are all pure projections /
  broadcast joins (the operators' ``passthrough=True`` mode), so the
  entire pre-dedup pipeline executes inside the ONE scan stage —
  zero exchanges until line-level dedup;
- **line dedup** (2 line-granular exchanges), **exact dedup** (1
  digest exchange), **near dedup** (LSH banding + verify + cluster,
  all bucket-bounded), **mixing** (1 range exchange) each add only
  their documented shuffles.

Every stage boundary is an EAGER ``localCheckpoint`` — the engine's
iterative-algorithm rule (see ``connected_components``): persist
alone caches the data but each stage's logical plan still nests all
previous stages', and the dedup stages reference their input ~6 times
(minhash self-join + jaccard's two shingle sides + candidates), so
Catalyst analysis goes super-linear on the nested plan (measured:
a 7-stage pipeline over 10 rows spent ~9 minutes in the driver
before truncation, ~40 s after). Checkpoint blocks are registered
for release like every other operator intermediate. On a preemptible
cluster swap in a reliable ``checkpoint()`` dir. Stage counts are
``Observation``s that each stage's checkpoint query delivers, so they
cost no job; ``report=False`` only leaves the stage table empty.
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import DataFrame, Observation
from pyspark.sql import functions as F

STAGES = (
    "robots",
    "blocklist",
    "normalize",
    "redact",
    "quality",
    "dsir",
    "lines",
    "exact_dedup",
    "near_dedup",
    "mix",
)


@dataclass
class CurationConfig:
    key_col: str = "doc_id"
    text_col: str = "text"
    lang_col: str = "lang"
    url_col: str | None = None
    # None = "all APPLICABLE stages" (inapplicable ones silently skip);
    # an EXPLICIT tuple is strict — naming a stage whose configuration
    # is missing raises, because silently skipping a curation stage the
    # user asked for is a curation hole
    steps: tuple[str, ...] | None = None
    pattern_rules: list[tuple[str, str]] = field(default_factory=list)
    min_line_docs: int = 10
    jaccard_threshold: float = 0.8
    minhash_bands: int = 16
    minhash_hashes: int = 64
    budgets: dict[str, int] = field(default_factory=dict)
    default_budget: int = 0
    # DSIR stage: importance threshold in score-per-1000-terms
    # (integer; see operators.dsir.dsir_select) and model width
    dsir_threshold_per_kterm: int = 0
    dsir_buckets: int = 4096

    def __post_init__(self):
        unknown = set(self.steps or ()) - set(STAGES)
        if unknown:
            raise ValueError(
                f"unknown curation steps {sorted(unknown)}; "
                f"valid: {list(STAGES)}"
            )


def run_curation(
    df: DataFrame,
    config: CurationConfig | None = None,
    blocked_domains: DataFrame | None = None,
    robots_rules: DataFrame | None = None,
    dsir_target: DataFrame | None = None,
    report: bool = True,
) -> tuple[DataFrame, dict]:
    """Run the enabled stages over ``df``; returns ``(curated_df,
    report_dict)``. The curated frame keeps the input columns (text
    rewritten in place by normalize/lines); the report maps stage →
    ``{"in": n, "out": n}`` (empty when ``report=False``)."""
    from py_schemax_spark.operators.dedup import (
        _checkpoint_rdd_ids,
        _CheckpointHandle,
        _copy_rank,
        _track_persisted,
        dedup_clusters,
        minhash_lsh_candidates,
        ngram_jaccard_pairs,
    )
    from py_schemax_spark.operators.lines import remove_boilerplate
    from py_schemax_spark.operators.mixing import sample_to_token_budget
    from py_schemax_spark.operators.normalize import normalize_text
    from py_schemax_spark.operators.quality import c4_profile, gopher_profile
    from py_schemax_spark.operators.urlfilter import block_urls

    cfg = config or CurationConfig()
    k, t = cfg.key_col, cfg.text_col
    explicit = cfg.steps is not None
    steps = list(cfg.steps if explicit else STAGES)
    if "robots" in steps and (robots_rules is None or not cfg.url_col):
        if explicit:
            raise ValueError(
                "steps explicitly include 'robots' but "
                + ("no robots_rules table was given"
                   if robots_rules is None
                   else "url_col is not configured")
            )
        steps.remove("robots")
    if "blocklist" in steps and (blocked_domains is None or not cfg.url_col):
        if explicit:
            raise ValueError(
                "steps explicitly include 'blocklist' but "
                + ("no blocked_domains table was given"
                   if blocked_domains is None
                   else "url_col is not configured")
            )
        steps.remove("blocklist")
    if "dsir" in steps and dsir_target is None:
        if explicit:
            raise ValueError(
                "steps explicitly include 'dsir' but no dsir_target "
                "corpus was given"
            )
        steps.remove("dsir")
    if "mix" in steps and not cfg.budgets and not cfg.default_budget:
        if explicit:
            raise ValueError(
                "steps explicitly include 'mix' but no budgets / "
                "default_budget are configured"
            )
        steps.remove("mix")

    stats: dict[str, dict] = {}
    pinned: list = []
    sc = df.sparkSession.sparkContext

    def _observed(frame: DataFrame) -> tuple[DataFrame, Observation]:
        obs = Observation()
        return frame.observe(obs, F.count(F.lit(1)).alias("n")), obs

    n_in: Observation | None = None
    last_handle: list = []
    in_cols = list(df.columns)

    def _rows_in(rows: DataFrame) -> DataFrame:
        """``rows`` has one row per input row of the stage, and the
        stage's output is a projection or filter of it. The first stage
        observes its `in` there: in the checkpoint query, above every
        exchange. Observed on the input, below an exchange, the count
        is lost whenever AQE drops that query stage because a stage it
        feeds turned out empty."""
        nonlocal n_in
        if n_in is None:
            rows, n_in = _observed(rows)
        return rows

    def _record(stage: str, out_frame: DataFrame) -> DataFrame:
        """Truncate lineage at the stage boundary (eager
        localCheckpoint of the input columns — see module docstring),
        which delivers the stage's `out`; blocks join the release
        registry."""
        nonlocal n_in
        out_frame, n_out = _observed(out_frame.select(*in_cols))
        cp = out_frame.localCheckpoint()
        handle = _CheckpointHandle(sc, _checkpoint_rdd_ids(cp))
        pinned.append(handle)
        last_handle[:] = [handle]
        if report:
            stats[stage] = {"in": n_in.get["n"], "out": n_out.get["n"]}
        n_in = n_out
        return cp

    cur = df

    if "robots" in steps:
        from py_schemax_spark.operators.robots import apply_robots

        # robots comes FIRST: a page the site forbade crawling should
        # not even reach content-level curation (rules = parse_robots
        # output, domain-granular, gated broadcast inside the op)
        robots = apply_robots(
            cur, robots_rules, url_col=cfg.url_col, key_col=k,
            passthrough=True,
        )
        cur = _record(
            "robots", _rows_in(robots).filter(~F.col("robots_blocked"))
        )

    if "blocklist" in steps:
        listed = block_urls(
            cur, blocked_domains, url_col=cfg.url_col, key_col=k,
            pattern_rules=cfg.pattern_rules, passthrough=True,
        )
        cur = _record("blocklist", _rows_in(listed).filter(~F.col("blocked")))

    if "normalize" in steps:
        cur = _record(
            "normalize",
            _rows_in(
                normalize_text(cur, text_col=t, key_col=k, passthrough=True)
            ).withColumn(t, F.col("norm_text")),
        )

    if "redact" in steps:
        from py_schemax_spark.operators.pii import redact_pii

        # PII redaction rewrites text in place (like normalize): runs
        # AFTER normalize (canonical text -> stable regex hits) and
        # BEFORE quality/dedup so downstream signals and shingles see
        # the redacted bytes, never the PII. Pure projection, rides
        # the same scan stage.
        cur = _record(
            "redact", _rows_in(cur.withColumn(t, redact_pii(F.col(t))))
        )

    if "quality" in steps:
        g = _rows_in(
            gopher_profile(cur, text_col=t, key_col=k, passthrough=True)
        )
        gc = g.filter(F.col("gopher_pass")).select(*in_cols)
        c = c4_profile(gc, text_col=t, key_col=k, passthrough=True)
        cur = _record("quality", c.filter(F.col("c4_keep")))

    if "dsir" in steps:
        from py_schemax_spark.operators.dsir import dsir_select, dsir_weights

        # DSIR selection runs AFTER quality (score clean text) and
        # BEFORE the dedup stages (shrink the corpus before the
        # expensive candidate generation). One bounded model fit, then
        # a filter over the scored frame itself: each row passes on
        # its own score, so the stage joins nothing back.
        w = dsir_weights(
            cur, dsir_target, text_col=t, n_buckets=cfg.dsir_buckets
        )
        pinned.extend(getattr(w, "_schemax_persisted", []))
        cur = _record(
            "dsir", dsir_select(_rows_in(w), cfg.dsir_threshold_per_kterm)
        )

    if "lines" in steps:
        cleaned = remove_boilerplate(
            cur,
            text_col=t,
            key_col=k,
            min_docs=cfg.min_line_docs,
            passthrough=True,
        )
        cur = _record(
            "lines",
            _rows_in(cleaned).withColumn(t, F.col("clean_text")),
        )

    if "exact_dedup" in steps:
        ranked = _rows_in(cur.withColumn("_rn", _copy_rank(t, k)))
        cur = _record("exact_dedup", ranked.filter(F.col("_rn") == 1))

    if "near_dedup" in steps:
        cand = minhash_lsh_candidates(
            cur,
            text_col=t,
            key_col=k,
            num_hashes=cfg.minhash_hashes,
            bands=cfg.minhash_bands,
        )
        pairs = ngram_jaccard_pairs(
            cur,
            cand,
            text_col=t,
            key_col=k,
            threshold=cfg.jaccard_threshold,
        ).select("key_a", "key_b")
        clustered = dedup_clusters(cur, pairs, key_col=k, passthrough=True)
        pinned.extend(getattr(clustered, "_schemax_persisted", []))
        cur = _record(
            "near_dedup", _rows_in(clustered).filter(F.col("is_survivor"))
        )

    if "mix" in steps:
        mixed = sample_to_token_budget(
            cur,
            cfg.budgets,
            group_col=cfg.lang_col,
            text_col=t,
            key_col=k,
            default_budget=cfg.default_budget,
            passthrough=True,
        )
        pinned.extend(getattr(mixed, "_schemax_persisted", []))
        cur = _record("mix", _rows_in(mixed).filter(F.col("kept")))

    rep = {
        "stages": stats,
        "enabled": steps,
        "columns": in_cols,
    }
    # the FINAL stage's checkpoint backs the returned frame itself —
    # keep it OUT of the release registry (a registry drain would
    # free blocks a LogicalRDD cannot recompute, permanently breaking
    # the result). It rides on the result as `_schemax_result_blocks`
    # for callers to release after their terminal action.
    if last_handle:
        pinned.remove(last_handle[0])
    out = _track_persisted(cur, pinned)
    out._schemax_result_blocks = (  # type: ignore[attr-defined]
        last_handle[0] if last_handle else None
    )
    return out, rep
