"""End-to-end curation recipe tests on planted data."""

import pytest
from pyspark.sql import functions as F


BASE = (
    "the quick brown fox jumps over the lazy dog and keeps on running "
    "through the quiet green field toward the river bend every day"
)
NEAR = BASE.replace("river bend", "river crossing")  # near-dup of BASE
OTHER = (
    "catalyst compiles the logical plan into physical operators and "
    "tungsten generates the bytecode for the whole stage at runtime"
)


def _corpus(spark):
    rows = [
        (0, BASE),            # survivor of the exact clique
        (1, BASE),            # exact dup -> removed by exact dedup
        (2, NEAR),            # near-dup of 0 -> witness-marked
        (3, OTHER),           # clean doc
        (4, None),            # NULL text -> filtered at the gate
        (5, "too short"),     # fails min_tokens
    ]
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_annotate_documents_single_projection_and_gates(spark):
    from traject_spark.corpus import annotate_documents

    out = annotate_documents(
        _corpus(spark), min_tokens=5, num_hashes=32
    )
    rows = {r["id"]: r for r in out.collect()}
    # NULL text and the too-short doc are gone; the rest annotated
    assert set(rows) == {0, 1, 2, 3}
    assert rows[0]["n_tokens"] >= 20 and rows[0]["fp"] == rows[1]["fp"]
    assert rows[0]["msig"] == rows[1]["msig"]
    assert len(rows[0]["msig"]) == 32
    assert rows[0]["lang"] == "en"
    # the whole annotate+filter stage is ONE narrow stage: no Exchange
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan, plan[:1500]


def test_annotate_documents_build_py4j_budget(spark, py4j_calls):
    """The default annotate build is one SQL projection over the
    builders' session functions: a handful of JVM calls once they are
    registered (the Column-tree build made about 2,000)."""
    from traject_spark.corpus import annotate_documents

    df = _corpus(spark)
    annotate_documents(df)  # registers the session functions
    n, out = py4j_calls(lambda: annotate_documents(df))
    assert n <= 50, n
    assert out.columns == [
        "id", "text", "n_tokens", "quality", "lang", "fp", "msig"
    ]


def test_curate_documents_mark(spark, tmp_path):
    from traject_spark.corpus import curate_documents

    out = curate_documents(
        _corpus(spark),
        min_tokens=5,
        near_dup="mark",
        num_hashes=32,
        bands=8,
        min_est=0.7,
        work_dir=str(tmp_path / "work"),
        output_path=str(tmp_path / "curated"),
    )
    rows = {r["doc_id"]: r for r in out.collect()}
    # exact dup 1 removed; near-dup 2 kept but marked against 0
    assert set(rows) == {0, 2, 3}
    assert rows[2]["near_dup_of"] == 0
    assert rows[2]["near_dup_est"] >= 0.7
    assert rows[0]["near_dup_of"] is None
    assert rows[3]["near_dup_of"] is None
    assert "msig" not in out.columns  # internal column stays internal


def test_curate_documents_drop_and_cluster(spark, tmp_path):
    from traject_spark.corpus import curate_documents

    dropped = curate_documents(
        _corpus(spark),
        min_tokens=5,
        near_dup="drop",
        num_hashes=32,
        bands=8,
        min_est=0.7,
        work_dir=str(tmp_path / "w1"),
    )
    assert {r["doc_id"] for r in dropped.collect()} == {0, 3}

    clustered = curate_documents(
        _corpus(spark),
        min_tokens=5,
        near_dup="cluster",
        num_hashes=32,
        bands=8,
        min_est=0.7,
        work_dir=str(tmp_path / "w2"),
    )
    labels = {r["doc_id"]: r["cluster_id"] for r in clustered.collect()}
    assert labels == {0: 0, 2: 0, 3: 3}


def test_curate_documents_lang_filter_and_none_mode(spark, tmp_path):
    from traject_spark.corpus import curate_documents

    df = spark.createDataFrame(
        [(0, BASE), (1, "der und die das ein mit von zu ist nicht " * 3)],
        "doc_id long, text string",
    )
    out = curate_documents(
        df,
        min_tokens=5,
        langs=["en"],
        near_dup=None,
        num_hashes=32,
        work_dir=str(tmp_path / "w"),
    )
    rows = out.collect()
    assert [r["doc_id"] for r in rows] == [0]
    assert "near_dup_of" not in out.columns


def test_curate_documents_rejects_bad_mode(spark):
    from traject_spark.corpus import curate_documents

    with pytest.raises(ValueError, match="near_dup"):
        curate_documents(_corpus(spark), near_dup="nope")


def test_curate_documents_decontaminates(spark, tmp_path):
    """A benchmark DataFrame drops contaminated docs after the quality
    gate and before dedup; clean docs are untouched."""
    from traject_spark.corpus import curate_documents

    # benchmark shares BASE's text verbatim -> docs 0, 1 AND the
    # near-dup 2 (which still shares >= one 13-gram run with BASE) go
    bench = spark.createDataFrame([(BASE,)], "text string")
    out = curate_documents(
        _corpus(spark),
        min_tokens=5,
        near_dup=None,
        num_hashes=32,
        benchmark=bench,
        work_dir=str(tmp_path / "w"),
    )
    assert {r["doc_id"] for r in out.collect()} == {3}


def test_curate_default_work_dir_guard():
    """The default (driver-local temp) work_dir must be refused under a
    non-local master — silent wrong results otherwise (VERDICT r7 #4)."""
    import pytest

    from traject_spark.corpus.recipes import _check_default_work_dir_ok

    _check_default_work_dir_ok("local[32]")
    _check_default_work_dir_ok("local")
    for master in ("spark://host:7077", "yarn", "k8s://https://api:6443"):
        with pytest.raises(ValueError, match="executor-visible work_dir"):
            _check_default_work_dir_ok(master)


def test_annotate_gate_expr_paper_gates(spark):
    """gate_expr (r14): the Gopher+C4 paper gates compose into the one
    narrow annotate projection — a junk doc that clears the thin
    quality score still drops, the plan stays Exchange-free, and a NULL
    gate means drop (not a NULL-poisoned keep)."""
    from pyspark.sql import functions as F

    from traject_spark.corpus import (
        annotate_documents,
        c4_quality_expr,
        gopher_quality_expr,
        gopher_repetition_expr,
    )

    # genuinely varied prose — a x3-repeated sentence correctly FAILS
    # the top-4-gram repetition gate (0.1866 > 0.16), which is the
    # point of the filter
    prose = (
        "The committee said that the new policy would be approved with "
        "broad support from members of the board next week. Analysts "
        "expect the decision to have a lasting effect on the industry "
        "and its workers. Several regional groups also welcomed the "
        "announcement with cautious optimism about future funding. "
        "Meanwhile smaller firms continue to press for clearer rules."
    )
    junk = "buy now " * 60  # repeats: fails the repetition gates
    df = spark.createDataFrame(
        [(1, prose), (2, junk), (3, None)], "doc_id long, text string"
    )
    gate = (
        gopher_quality_expr(F.col("text"))["passes"]
        & gopher_repetition_expr(F.col("text"))["passes"]
        & c4_quality_expr(F.col("text"))["passes"]
    )
    out = annotate_documents(df, min_tokens=5, gate_expr=gate)
    assert [r["id"] for r in out.collect()] == [1]
    assert out.columns == ["id", "text", "n_tokens", "quality", "lang", "fp", "msig"]
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan


def test_curate_documents_gate_expr_threads_through(spark, tmp_path):
    from pyspark.sql import functions as F

    from traject_spark.corpus import curate_documents, gopher_repetition_expr

    docs = spark.createDataFrame(
        [(1, "a perfectly varied document with enough distinct words here"),
         (2, "spam spam " * 40)],
        "doc_id long, text string",
    )
    out = curate_documents(
        docs, near_dup=None, min_tokens=1,
        gate_expr=gopher_repetition_expr(F.col("text"))["passes"],
    )
    assert [r["doc_id"] for r in out.collect()] == [1]


def test_curate_documents_badword_gate_composes(spark):
    """The documented one-call composition (VERDICT r14 #4): a licensed
    bad-words list drops pages through curate_documents' gate_expr
    hook, AND-composable with the paper gates."""
    from pyspark.sql import functions as F

    from traject_spark.corpus import c4_badword_gate_expr, curate_documents

    docs = spark.createDataFrame(
        [
            (1, "a clean and perfectly acceptable document with words"),
            (2, "this document contains forbiddenword in its body"),
            (3, None),
        ],
        "doc_id long, text string",
    )
    out = curate_documents(
        docs,
        near_dup=None,
        min_tokens=1,
        gate_expr=c4_badword_gate_expr(["forbiddenword"]),
    )
    assert [r["doc_id"] for r in out.collect()] == [1]
