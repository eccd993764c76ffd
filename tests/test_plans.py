"""Physical-plan SHAPE regression tests — the 100 TB posture, pinned
structurally instead of living only in docstrings and soak numbers
(VERDICT r8 item 6).

Invariants a refactor must not silently break:

1. The FLAGSHIP mapping pipeline (the exact one ``entry()`` exposes and
   B1 times) is one narrow stage: zero ``Exchange`` operators. On a
   1000-executor cluster an accidental shuffle in the per-record map
   path turns an embarrassingly-parallel scan into the job bottleneck.
2. ``ivf_topk_from_layout`` keeps dynamic partition pruning on the
   ``cell`` column — file-level pruning is the whole point of the
   partitioned layout; losing it re-reads the full corpus per probe.
3. The hyperplane banding projection (``_banded``) scans the corpus
   ONCE, regardless of how many hash tables it explodes — ``tables``
   must multiply rows AFTER one scan, never re-scan the parquet per
   table.
4. ``curate_documents(near_dup="cluster")`` labels the survivors with
   ONE join.
"""

import pytest
from pyspark.sql import functions as F

SF_DIR = "/root/testdata/sf0.001"


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_flagship_pipeline_zero_exchange(spark):
    """The B1 / entry() pipeline compiles to a single narrow select over
    the parquet scan: no Exchange anywhere in the physical plan."""
    from __spark_entry__ import _marc, flagship_pipeline

    plan = _plan(flagship_pipeline().apply(_marc(spark, SF_DIR)))
    assert "Exchange" not in plan, plan[:2000]


def test_ivf_layout_plan_keeps_dynamic_pruning(spark, tmp_path):
    """The partitioned-IVF probe join must carry a dynamicpruning
    subquery on cell — structural twin of the behavioral test in
    test_similarity.py, kept here so plan guards live in one module."""
    from traject_spark.corpus import (
        ivf_topk_from_layout,
        train_centroids,
        write_ivf_layout,
    )

    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    corpus = emb.filter(F.col("vec_id") >= 8)
    cents = train_centroids(corpus, n_centroids=4, sample=200)
    path = str(tmp_path / "ivf")
    write_ivf_layout(corpus, cents, path)
    out = ivf_topk_from_layout(
        spark, path, emb.filter(F.col("vec_id") < 8), cents, k=5, nprobe=2
    )
    assert "dynamicpruning" in _plan(out).lower()


def _scan_count(plan: str, token: str = "Scan parquet") -> int:
    return plan.count(token)


def test_banded_pair_plan_scans_corpus_once_per_side(spark):
    """cosine_near_dup_witness reads the embeddings parquet exactly three
    times: once for the banding pass and once for each of the two
    id-keyed vector fetches (the candidate and its witness). The
    ``tables`` fan-out is an explode over the banding scan's output,
    not a per-table re-scan: 4 tables -> still 3 scans."""
    from traject_spark.corpus import cosine_near_dup_witness

    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    out = cosine_near_dup_witness(emb, threshold=0.35, bits=4, tables=4)
    n = _scan_count(_plan(out))
    assert n == 3, f"expected 3 parquet scans, got {n}"


def test_banded_witness_plan_scan_count(spark):
    """cosine_near_dup_witness's parquet scan count is INDEPENDENT of
    ``tables`` (banding + candidate derivations + two id-keyed vector
    fetches — a small constant): a regression that re-scans per table
    would grow the count with t."""
    from traject_spark.corpus import cosine_near_dup_witness

    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    counts = {
        t: _scan_count(
            _plan(cosine_near_dup_witness(emb, threshold=0.9, bits=4,
                                           tables=t))
        )
        for t in (2, 8)
    }
    assert counts[2] == counts[8] <= 5, counts


def test_curate_cluster_labels_survivors_with_one_join(spark):
    """``curate_documents(near_dup="cluster")`` hands the survivors to
    ``witness_clusters`` as its members: the labels arrive by ONE left
    join of the survivors to the converged parent pointers (the
    pointer-doubling rounds are checkpointed, so they add no join to
    the result's plan). Joining the survivors again to attach the
    labels would be a second join over the same rows."""
    from traject_spark.corpus import curate_documents

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet").select(
        "doc_id", "text"
    )
    out = curate_documents(docs, near_dup="cluster", num_hashes=16, bands=4)
    plan = out._jdf.queryExecution().optimizedPlan().toString()
    joins = [line for line in plan.splitlines() if "Join " in line]
    assert len(joins) == 1, joins
    assert out.columns[0] == "doc_id" and out.columns[-1] == "cluster_id"


def test_minhash_banding_scans_documents_once_per_side(spark):
    """minhash_lsh_candidates: signature computation + band explode run
    over ONE scan per join side (band_hash fan-out is an explode, not a
    union of per-band scans)."""
    from traject_spark.corpus import minhash_lsh_candidates

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    out = minhash_lsh_candidates(docs, num_hashes=16, bands=4)
    n = _scan_count(_plan(out))
    assert n <= 2, f"expected <=2 parquet scans, got {n}"


def test_pruning_and_pushdown_reach_the_scan(spark):
    """Declarative plans keep Catalyst's free wins: a 2-column
    projection with a filter over lineitem must show the predicate in
    PushedFilters and a ReadSchema WITHOUT the unused wide columns —
    a scan that reads l_comment for a quantity sum is reading ~30% of
    100 TB for nothing."""
    li = spark.read.parquet(f"{SF_DIR}/lineitem.parquet")
    q = li.filter(F.col("l_quantity") > 30).groupBy("l_returnflag").agg(
        F.sum("l_quantity").alias("sum_qty")
    )
    plan = _plan(q)
    assert "PushedFilters: [" in plan
    assert "GreaterThan(l_quantity" in plan, plan[plan.find("PushedFilters"):][:300]
    rs = plan[plan.find("ReadSchema:"):].splitlines()[0]
    assert "l_quantity" in rs and "l_returnflag" in rs
    assert "l_comment" not in rs and "l_extendedprice" not in rs, rs


def test_flagship_compile_build_cost_regression(spark):
    """Driver-side build of the flagship: a warm ``apply`` on an empty
    ``MARC_SOURCE_SCHEMA`` frame compiles the pipeline to SQL text and
    has Spark parse and analyze the one projection. It measured
    0.39-0.52 s min-of-3 warm on a 4-core host; the bound is about 3x
    that. (``compile()`` alone is ~15 ms of pure Python, so bounding it
    could not catch a build regression.) The min absorbs host stalls;
    one settle-and-retry keeps a slow window from failing the run,
    while a real regression fails both attempts."""
    import time

    from __spark_entry__ import flagship_pipeline
    from traject_spark.marc.schema import MARC_SOURCE_SCHEMA

    bound = 1.2
    df = spark.createDataFrame([], MARC_SOURCE_SCHEMA)
    flagship_pipeline().apply(df)  # warm: session functions, JIT
    attempts = []
    for attempt in range(2):
        builds = []
        for _ in range(3):
            t0 = time.monotonic()
            out = flagship_pipeline().apply(df)
            builds.append(time.monotonic() - t0)
        assert len(out.columns) == 13
        attempts.append(builds)
        if min(builds) < bound:
            break
        time.sleep(5)
    assert min(min(b) for b in attempts) < bound, attempts


def test_marc8_ingest_plan_is_narrow(spark, tmp_path):
    """The MARC-8 binary ingest (bench lane ingest_iso2709_marc8) must
    stay one narrow stage: binaryFile scan -> Arrow-batched parse, zero
    Exchange — on a cluster the decode parallelism is exactly the file
    split parallelism, nothing to shuffle."""
    from traject_spark.marc.io import read_iso2709
    from traject_spark.marc.serialize import to_iso2709

    rec = {
        "leader": "00000cam a2200000 a 4500",
        "controlfields": [{"tag": "001", "value": "p1"}],
        "datafields": [
            {"tag": "245", "ind1": "1", "ind2": "0",
             "subfields": [{"code": "a", "value": "Мир"}]},
        ],
    }
    p = tmp_path / "r.mrc"
    p.write_bytes(to_iso2709(rec, encoding="MARC-8") * 4)
    df = read_iso2709(spark, str(p), encoding="MARC-8")
    plan = _plan(df)
    assert "Exchange" not in plan, plan[:2000]
    assert df.count() == 4


def test_flagship_apply_py4j_budget(spark, py4j_calls):
    """The flagship ``apply``, compile included, hands Spark SQL text:
    a handful of JVM calls (one ``selectExpr``, the source checks)
    instead of one per ``F.*`` node. Deterministic, unlike the wall-time
    bound above: a macro or glue step that goes back to building Column
    trees adds hundreds of round trips."""
    from __spark_entry__ import flagship_pipeline
    from traject_spark.marc.schema import MARC_SOURCE_SCHEMA

    df = spark.createDataFrame([], MARC_SOURCE_SCHEMA)
    n, out = py4j_calls(lambda: flagship_pipeline().apply(df))
    assert n <= 50, n
    assert len(out.columns) == 13


def test_demo_config_apply_py4j_budget(spark, py4j_calls):
    """The ported demo_config bridges nine Columns (two Column
    transforms, an each_record add_output, extraction fallbacks) and
    keeps Column-built macros (serialized_marc, the series, era and
    instrumentation facets). Its apply, config load and compile
    included, made 15,040 round trips when every macro built Column
    trees and about 9,200 with text macros and the bridge; a text macro
    that goes back to Column trees crosses the bound.
    (``test_pipeline.py::test_bridged_columns_project_once_per_dependency_level``
    pins the bridge's projection count.)"""
    import os

    from traject_spark import Pipeline
    from traject_spark.marc.schema import MARC_SOURCE_SCHEMA

    conf = os.path.join(os.path.dirname(__file__), "demo_config.py")
    df = spark.createDataFrame([], MARC_SOURCE_SCHEMA)
    # the first apply in a session registers the SQL functions some
    # macros call; count a warm one
    Pipeline().load_config_file(conf).apply(df)
    n, out = py4j_calls(lambda: Pipeline().load_config_file(conf).apply(df))
    assert n <= 10_000, n
    assert "title3_t" in out.columns
