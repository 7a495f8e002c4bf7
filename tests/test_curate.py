import json

import pytest

from py_schemax_spark.curate import STAGES, CurationConfig, run_curation

def _text(i: int) -> str:
    """A gopher/c4-passing document UNIQUE to doc ``i`` — every doc is
    one distinct line, so the line-dedup stage only ever removes the
    explicitly planted BOILER line (a corpus where many docs share
    their whole text AS A LINE would correctly be gutted by CCNet-rule
    line dedup — that's the operator working, not a test scenario)."""
    return " ".join(
        f"the quick brown fox{i} saw item{i}x{j} and jumped over many "
        f"lazy dogs today."
        for j in range(8)
    )


BOILER = "subscribe to our newsletter"
NEAR_DUP = _text(0).replace("today", "tonight", 1)


def _corpus(spark):
    rows = [
        # survivors
        (0, "https://good.example.org/a", _text(0), "en"),
        (1, "https://good.example.org/b", _text(1), "en"),
        # blocked domain
        (2, "https://spam.bad.site/x", _text(2), "en"),
        # low quality (short, curly braces)
        (3, "https://good.example.org/c", "tiny {code} text.", "en"),
        # exact duplicate of 0 (later key loses)
        (4, "https://good.example.org/d", _text(0), "en"),
        # near duplicate of 0
        (5, "https://good.example.org/e", NEAR_DUP, "en"),
        # boilerplate line planted in three distinct good docs
        (6, "https://good.example.org/f", _text(6) + "\n" + BOILER, "en"),
        (7, "https://good.example.org/g", _text(7) + "\n" + BOILER, "en"),
        (8, "https://good.example.org/h", _text(8) + "\n" + BOILER, "en"),
        # wrong language (mix stage drops: no budget)
        (9, "https://good.example.org/i", _text(9), "de"),
    ]
    return spark.createDataFrame(
        rows, "doc_id long, url string, text string, lang string"
    )


def test_run_curation_end_to_end(spark):
    bl = spark.createDataFrame([("bad.site",)], "domain string")
    cfg = CurationConfig(
        url_col="url",
        min_line_docs=3,
        jaccard_threshold=0.8,
        budgets={"en": 10**9},
    )
    curated, rep = run_curation(_corpus(spark), cfg, blocked_domains=bl)
    rows = {r["doc_id"]: r for r in curated.collect()}

    # blocked: 2; quality: 3; exact dup: 4; near dup: 5; lang: 9
    assert set(rows) == {0, 1, 6, 7, 8}
    # boilerplate line removed, body survives
    for i in (6, 7, 8):
        assert BOILER not in rows[i]["text"]
        assert "newsletter" not in rows[i]["text"]
    assert rows[0]["text"] == _text(0)  # untouched text round-trips

    st = rep["stages"]
    assert st["blocklist"] == {"in": 10, "out": 9}
    assert st["quality"]["out"] == st["quality"]["in"] - 1
    assert st["exact_dedup"]["out"] == st["exact_dedup"]["in"] - 1
    assert st["near_dedup"]["out"] == st["near_dedup"]["in"] - 1
    assert st["mix"]["out"] == st["mix"]["in"] - 1
    assert rep["enabled"][0] == "blocklist"


def test_run_curation_no_report_skips_counts_and_is_equal(spark):
    bl = spark.createDataFrame([("bad.site",)], "domain string")
    cfg = CurationConfig(
        url_col="url",
        min_line_docs=3,
        budgets={"en": 10**9},
    )
    curated, rep = run_curation(
        _corpus(spark), cfg, blocked_domains=bl, report=False
    )
    assert rep["stages"] == {}
    assert sorted(r["doc_id"] for r in curated.collect()) == [0, 1, 6, 7, 8]


def test_run_curation_default_steps_skip_inapplicable(spark):
    # default steps=None: stages whose config is missing drop out
    curated, rep = run_curation(
        _corpus(spark).select("doc_id", "text", "lang"),
        CurationConfig(),
    )
    assert "blocklist" not in rep["enabled"]
    assert "mix" not in rep["enabled"]
    assert "quality" in rep["enabled"]


def test_run_curation_explicit_steps_are_strict(spark):
    # naming a stage whose config is missing must raise, not skip
    df = _corpus(spark).select("doc_id", "text", "lang")
    with pytest.raises(ValueError, match="blocklist"):
        run_curation(df, CurationConfig(steps=("blocklist", "quality")))
    with pytest.raises(ValueError, match="mix"):
        run_curation(df, CurationConfig(steps=("quality", "mix")))


def test_curation_config_rejects_unknown_step():
    with pytest.raises(ValueError, match="unknown curation steps"):
        CurationConfig(steps=("normalize", "frobnicate"))


def test_curate_cli_end_to_end(spark, tmp_path):
    from py_schemax_spark.cli import main

    src = str(tmp_path / "corpus")
    _corpus(spark).write.parquet(src)
    bl = tmp_path / "blocklist.txt"
    bl.write_text("# comment\nbad.site\n")
    out = str(tmp_path / "out")
    rc = main(
        [
            "curate", src, "--out", out,
            "--url-col", "url", "--blocklist", str(bl),
            "--min-line-docs", "3", "--budget", "en=1000000000",
        ],
        spark=spark,
    )
    assert rc == 0
    rep = json.loads((tmp_path / "out" / "report.json").read_text())
    assert rep["stages"]["blocklist"] == {"in": 10, "out": 9}
    back = spark.read.parquet(out + "/curated")
    assert sorted(r["doc_id"] for r in back.collect()) == [0, 1, 6, 7, 8]
    assert sorted(back.columns) == ["doc_id", "lang", "text", "url"]


def test_curate_cli_bad_budget_exits_2(spark, tmp_path):
    from py_schemax_spark.cli import main

    src = str(tmp_path / "c2")
    _corpus(spark).write.parquet(src)
    rc = main(
        ["curate", src, "--out", str(tmp_path / "o2"),
         "--budget", "en=lots"],
        spark=spark,
    )
    assert rc == 2


def test_curation_robots_stage_first(spark):
    """robots runs before every content stage; its report row records
    the drop; rules come from parse_robots output."""
    from pyspark.sql import functions as F

    from py_schemax_spark.curate import CurationConfig, run_curation
    from py_schemax_spark.operators.robots import parse_robots

    docs = spark.createDataFrame(
        [(i,
          f"https://ex.org/{'private' if i % 2 else 'pub'}/{i}",
          "the be to of and that have with some words here. " * 10,
          "en")
         for i in range(20)],
        "doc_id long, url string, text string, lang string",
    )
    robots = spark.createDataFrame(
        [("ex.org", "User-agent: *\nDisallow: /private\n")],
        "domain string, robots_txt string",
    )
    out, rep = run_curation(
        docs,
        CurationConfig(url_col="url", steps=("robots", "exact_dedup")),
        robots_rules=parse_robots(robots),
    )
    assert rep["stages"]["robots"] == {"in": 20, "out": 10}
    assert out.filter(F.col("doc_id") % 2 == 1).count() == 0


def test_curation_robots_stage_strict_when_explicit(spark):
    import pytest as _pytest

    from py_schemax_spark.curate import CurationConfig, run_curation

    docs = spark.createDataFrame(
        [(0, "https://a.org/x", "t", "en")],
        "doc_id long, url string, text string, lang string",
    )
    with _pytest.raises(ValueError, match="robots"):
        run_curation(docs, CurationConfig(url_col="url", steps=("robots",)))


def test_curation_redact_stage_rewrites_text_in_place(spark):
    from pyspark.sql import functions as F

    from py_schemax_spark.curate import CurationConfig, run_curation

    docs = spark.createDataFrame(
        [(0, "mail me at bob@example.com or 10.0.0.1", "en"),
         (1, "clean text here", "en")],
        "doc_id long, text string, lang string",
    )
    out, rep = run_curation(
        docs, CurationConfig(steps=("redact", "exact_dedup"))
    )
    got = {r["doc_id"]: r["text"] for r in out.collect()}
    assert got[0] == "mail me at <EMAIL> or <IP>"
    assert got[1] == "clean text here"
    assert rep["stages"]["redact"] == {"in": 2, "out": 2}
    assert set(out.columns) == {"doc_id", "text", "lang"}


def test_curate_cli_export_shards(spark, tmp_path):
    from py_schemax_spark.cli import main

    src = str(tmp_path / "c3")
    _corpus(spark).write.parquet(src)
    out = str(tmp_path / "o3")
    rc = main(
        ["curate", src, "--out", out, "--steps", "normalize",
         "--export-shards", "--shard-budget", "20"],
        spark=spark,
    )
    assert rc == 0
    rep = json.loads((tmp_path / "o3" / "report.json").read_text())
    assert rep["shards"]["budget"] == 20
    assert rep["shards"]["n_shards"] >= 2
    curated = spark.read.parquet(out + "/curated")
    shards = spark.read.json(out + "/shards")
    assert shards.count() == curated.count()
    assert rep["shards"]["n_shards"] == (
        shards.select("shard_id").distinct().count()
    )
    # every curated column survives into the shard rows, plus the plan
    for c in curated.columns:
        assert c in shards.columns
    assert "shard_id" in shards.columns and "offset" in shards.columns


def test_curate_cli_bad_shard_budget_exits_2(spark, tmp_path):
    from py_schemax_spark.cli import main

    src = str(tmp_path / "c4")
    _corpus(spark).write.parquet(src)
    rc = main(
        ["curate", src, "--out", str(tmp_path / "o4"),
         "--export-shards", "--shard-budget", "0"],
        spark=spark,
    )
    assert rc == 2


def test_curation_dsir_stage_threshold_semantics(spark):
    df = _corpus(spark).select("doc_id", "text", "lang")
    target = df.filter("doc_id in (0, 1)").select("doc_id", "text")
    # permissive threshold: the stage runs but keeps everything the
    # quality stage passed (wiring + join-back verified)
    cfg = CurationConfig(steps=("quality", "dsir"),
                         dsir_threshold_per_kterm=-(10 ** 9),
                         dsir_buckets=512)
    curated, rep = run_curation(df, cfg, dsir_target=target)
    assert "dsir" in rep["stages"]
    assert rep["stages"]["dsir"]["out"] == rep["stages"]["dsir"]["in"]
    assert rep["stages"]["dsir"]["in"] == rep["stages"]["quality"]["out"]
    # prohibitive threshold: everything dropped
    cfg2 = CurationConfig(steps=("quality", "dsir"),
                          dsir_threshold_per_kterm=10 ** 9,
                          dsir_buckets=512)
    curated2, rep2 = run_curation(df, cfg2, dsir_target=target)
    assert rep2["stages"]["dsir"]["out"] == 0
    assert curated2.count() == 0


def test_curation_dsir_decides_per_row(spark):
    """Each document passes or fails on its own score: a NULL-key doc
    that passes survives, and of two docs sharing a key only the one
    that passes survives."""
    target = spark.createDataFrame(
        [(0, "the cat sat on the mat"), (1, "the dog sat on the log")],
        "doc_id long, text string",
    )
    df = spark.createDataFrame(
        [
            (None, "the cat sat on the mat"),
            (7, "the dog sat on the log"),
            (7, "stock market rally extends gains"),
            (8, "quantum flux capacitor alignment manual"),
        ],
        "doc_id long, text string",
    )
    cfg = CurationConfig(steps=("dsir",), dsir_threshold_per_kterm=0)
    curated, rep = run_curation(df, cfg, dsir_target=target)
    assert sorted(
        (r["doc_id"] is None, r["text"]) for r in curated.collect()
    ) == [(False, "the dog sat on the log"), (True, "the cat sat on the mat")]
    assert rep["stages"]["dsir"] == {"in": 4, "out": 2}


def _jobs_in_group(spark, group, fn):
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return len(sc.statusTracker().getJobIdsForGroup(group))


def test_curation_dsir_stage_job_bound(spark):
    """The DSIR stage is one model-fit aggregation and one filtered
    checkpoint of the scored frame: at most 3 jobs (2 for the fit's
    shuffle and collect under AQE, 1 for the checkpoint). A second
    histogram pass or a join of the corpus back to its scores adds
    more."""
    from py_schemax_spark.operators.dedup import release_all_intermediates

    def run():
        run_curation(
            _corpus(spark), _stage_config(steps=("dsir",)),
            **_stage_inputs(spark),
        )
        release_all_intermediates()

    assert _jobs_in_group(spark, "curate-dsir-jobs", run) <= 3


def test_curation_dsir_strict_when_explicit_without_target(spark):
    df = _corpus(spark).select("doc_id", "text", "lang")
    with pytest.raises(ValueError, match="dsir"):
        run_curation(df, CurationConfig(steps=("dsir",)))


def test_curation_dsir_skipped_implicitly_without_target(spark):
    df = _corpus(spark).select("doc_id", "text", "lang")
    curated, rep = run_curation(
        df, CurationConfig(steps=None, default_budget=10**9)
    )
    assert "dsir" not in rep["stages"]


def _stage_inputs(spark):
    from py_schemax_spark.operators.robots import parse_robots

    robots = spark.createDataFrame(
        [("good.example.org", "User-agent: *\nDisallow: /c\n")],
        "domain string, robots_txt string",
    )
    return dict(
        blocked_domains=spark.createDataFrame(
            [("bad.site",)], "domain string"
        ),
        robots_rules=parse_robots(robots),
        dsir_target=_corpus(spark).filter("doc_id in (0, 1)"),
    )


def _stage_config(**kw):
    return CurationConfig(
        url_col="url", min_line_docs=3, budgets={"en": 10**9},
        dsir_buckets=512, **kw,
    )


@pytest.mark.parametrize("stage", STAGES)
def test_stage_counts_are_observed_exactly(spark, stage):
    """Each stage alone, as the first stage: the observed ``in`` is the
    input's row count, including the stages whose plans read their
    input more than once, and ``out`` the returned frame's."""
    from py_schemax_spark.operators.dedup import release_all_intermediates

    df = _corpus(spark)
    out, rep = run_curation(
        df, _stage_config(steps=(stage,)), **_stage_inputs(spark)
    )
    assert rep["stages"][stage] == {"in": df.count(), "out": out.count()}
    release_all_intermediates()


@pytest.mark.parametrize("stage, where", [
    # no line reaches min_line_docs: the hot-line set is empty
    ("lines", "doc_id in (0, 1)"),
    ("near_dedup", "false"),
    ("dsir", "false"),
    ("exact_dedup", "false"),
])
def test_first_stage_in_survives_empty_query_stages(spark, stage, where):
    """A query stage that reads empty lets AQE drop the stages below
    it. The first stage's ``in`` is still exact: it is observed above
    every exchange of the stage's checkpoint query."""
    from py_schemax_spark.operators.dedup import release_all_intermediates

    df = _corpus(spark).filter(where)
    out, rep = run_curation(
        df, _stage_config(steps=(stage,)), **_stage_inputs(spark)
    )
    assert rep["stages"][stage] == {"in": df.count(), "out": out.count()}
    release_all_intermediates()


def test_stage_counts_run_no_job(spark):
    """Reporting is free: the stage counts come with the work the
    pipeline runs anyway, so ``report=True`` runs no more Spark jobs
    than ``report=False`` on the same input. AQE is off here: its
    run-time re-planning makes the job count vary by one with load."""
    from py_schemax_spark.operators.dedup import release_all_intermediates

    def jobs(report):
        def run():
            run_curation(
                _corpus(spark), _stage_config(), report=report,
                **_stage_inputs(spark),
            )
            release_all_intermediates()

        return _jobs_in_group(spark, f"curate-report-{report}", run)

    aqe = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try:
        with_counts, without = jobs(True), jobs(False)
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", aqe)
    assert 0 < with_counts <= without


def test_repeated_curation_compiles_nothing_new(spark):
    """Every class a curation generates stays in the session's codegen
    cache, so running the same curation again compiles (almost) nothing.
    With Spark's default 100-entry cache the second run recompiles
    ~150 of its classes."""
    from py_schemax_spark.operators.dedup import release_all_intermediates

    compiles = (spark._jvm.org.apache.spark.metrics.source.CodegenMetrics
                .METRIC_COMPILATION_TIME())

    def run():
        curated, _ = run_curation(
            _corpus(spark), CurationConfig(default_budget=10**9)
        )
        curated.write.format("noop").mode("overwrite").save()
        release_all_intermediates()

    run()
    before = compiles.getCount()
    run()
    assert compiles.getCount() - before <= 20
