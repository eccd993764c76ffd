"""IVF / near-dup similarity operators (sf0.001 embeddings, 64-dim)."""

import pytest
from pyspark.sql import functions as F

from traject_spark.corpus import (
    brute_force_topk,
    cosine_near_dup,
    ivf_topk,
    train_centroids,
)

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def emb(spark):
    return spark.read.parquet(f"{SF}/embeddings.parquet").cache()


def test_train_centroids_deterministic(emb):
    c1 = train_centroids(emb, n_centroids=8, iters=5)
    c2 = train_centroids(emb, n_centroids=8, iters=5)
    assert c1 == c2
    assert len(c1) == 8 and len(c1[0][1]) == 64


def test_ivf_topk_recall(emb):
    corpus = emb.filter(F.col("vec_id") >= 8)
    queries = emb.filter(F.col("vec_id") < 8)
    cents = train_centroids(corpus, n_centroids=8, iters=5)
    exact = brute_force_topk(corpus, queries, k=5)
    approx = ivf_topk(corpus, queries, cents, k=5, nprobe=3)
    e = {(r["query_id"], r["neighbor_id"]) for r in exact.collect()}
    a = {(r["query_id"], r["neighbor_id"]) for r in approx.collect()}
    # every approx hit must be a real corpus vector scored exactly;
    # recall against brute force should beat random cell luck (3/8)
    recall = len(e & a) / len(e)
    assert recall >= 0.3
    # deterministic across runs
    a2 = {(r["query_id"], r["neighbor_id"]) for r in
          ivf_topk(corpus, queries, cents, k=5, nprobe=3).collect()}
    assert a == a2


def test_ivf_full_probe_equals_brute_force(emb):
    """Probing every cell must recover the exact result."""
    corpus = emb.filter(F.col("vec_id") >= 8)
    queries = emb.filter(F.col("vec_id") < 8).limit(4)
    cents = train_centroids(corpus, n_centroids=4, iters=3)
    exact = brute_force_topk(corpus, queries, k=5)
    full = ivf_topk(corpus, queries, cents, k=5, nprobe=4)
    e = sorted(tuple(r) for r in exact.collect())
    f = sorted(tuple(r) for r in full.collect())
    assert e == f


def test_near_dup_exact_nonempty_and_symmetric_free(emb):
    pairs = cosine_near_dup(emb, threshold=0.35).collect()
    assert len(pairs) > 0
    for r in pairs:
        assert r["id_a"] < r["id_b"]
        assert r["score"] >= 0.35


def test_minhash_name_and_column_inputs_match_goldens(spark):
    """minhash_signature_expr takes a column name or a Column; both reach
    the one session function and give the recorded signatures on every
    golden text, for non-default num_hashes and ngram too."""
    import json

    from tests.test_corpus_goldens import GOLDEN_PATH, TEXTS
    from traject_spark.corpus.dedup import minhash_signature_expr

    with open(GOLDEN_PATH, encoding="utf-8") as fh:
        goldens = json.load(fh)
    df = spark.createDataFrame(TEXTS, "text_id string, text string")
    for num_hashes, ngram in ((64, 3), (32, 3), (8, 2)):
        want = goldens[f"minhash_{num_hashes}_{ngram}"]
        rows = df.select(
            "text_id",
            minhash_signature_expr(F.col("text"), num_hashes, ngram).alias(
                "col"
            ),
            minhash_signature_expr("text", num_hashes, ngram).alias("name"),
        ).collect()
        for r in rows:
            assert r["col"] == r["name"] == want[r["text_id"]], (
                num_hashes, ngram, r["text_id"],
            )


def test_ivf_layout_partition_pruning(spark, emb, tmp_path):
    """write_ivf_layout + ivf_topk_from_layout: results identical to the
    in-memory ivf_topk, AND the probe join dynamically prunes unprobed
    cell partitions at the file level (the 100 TB access path)."""
    from traject_spark.corpus import (
        ivf_topk,
        ivf_topk_from_layout,
        train_centroids,
        write_ivf_layout,
    )

    corpus = emb.filter(F.col("vec_id") >= 8)
    queries = emb.filter(F.col("vec_id") < 8)
    cents = train_centroids(corpus, n_centroids=4, sample=200)
    path = str(tmp_path / "ivf")
    write_ivf_layout(corpus, cents, path)

    import os

    cells = [d for d in os.listdir(path) if d.startswith("cell=")]
    assert len(cells) >= 2, "expected multiple cell partitions on disk"

    out = ivf_topk_from_layout(
        spark, path, queries, cents, k=5, nprobe=2
    )
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "dynamicpruning" in plan.lower(), (
        "probe join must trigger dynamic partition pruning on cell"
    )
    got = {
        (r["query_id"], r["rank"]): r["neighbor_id"] for r in out.collect()
    }
    expected = {
        (r["query_id"], r["rank"]): r["neighbor_id"]
        for r in ivf_topk(corpus, queries, cents, k=5, nprobe=2).collect()
    }
    assert got == expected


def test_quantizer_paths_handle_invalid_vectors(spark):
    """NULL / wrong-dim / null-element embeddings: the quantizer and the
    hyperplane buckets yield NULL (no silent cell-0 pileup, no
    ragged-batch crash); a 1-centroid quantizer plans and runs; training
    skips invalid sampled rows instead of crashing the driver."""
    from pyspark.sql import functions as F

    from traject_spark.corpus import train_centroids
    from traject_spark.corpus.similarity import (
        _signs_sql,
        assign_cell_udf,
        probe_cells_udf,
    )

    df = spark.createDataFrame(
        [
            (0, [1.0, 0.0, 0.0, 0.0]),
            (1, None),
            (2, [1.0, 2.0]),            # wrong dim
            (3, [1.0, None, 0.0, 0.0]),  # null element
        ],
        "vec_id long, embedding array<float>",
    )
    cents = [(7, [1.0, 0.0, 0.0, 0.0]), (9, [0.0, 1.0, 0.0, 0.0])]
    got = df.select(
        "vec_id",
        assign_cell_udf(cents).alias("cu"),
        probe_cells_udf(cents, 2).alias("pe"),
        F.expr(_signs_sql("embedding", 4, 3, 0)).alias("bucket"),
    ).collect()
    rows = {r["vec_id"]: r for r in got}
    assert rows[0]["cu"] == 7 and rows[0]["pe"] == [7, 9]
    assert rows[0]["bucket"] is not None
    for bad in (1, 2, 3):
        assert rows[bad]["cu"] is None, (bad, rows[bad])
        assert rows[bad]["pe"] is None, (bad, rows[bad])
        assert rows[bad]["bucket"] is None, (bad, rows[bad])
    # 1-centroid quantizer: plans and assigns
    one = df.select(assign_cell_udf(cents[:1]).alias("c")).collect()
    assert one[0]["c"] == 7
    # training over a corpus containing invalid rows must not crash
    trained = train_centroids(df, n_centroids=1, iters=2)
    assert len(trained) == 1 and len(trained[0][1]) == 4


def test_cosine_near_dup_witness_linear_output(spark):
    """Embedding witness marking: a 6-copy exact vector clique yields 5
    witness rows at score 1.0 (not 15 pairs); orthogonal vectors stay
    unmarked; wrong-dim vectors are excluded rather than bucket-collapsed."""
    from pyspark.sql import functions as F

    from traject_spark.corpus import cosine_near_dup, cosine_near_dup_witness

    v = [1.0, 0.5, -0.25, 0.125]
    rows = [(i, v) for i in range(6)]
    rows += [(100, [0.0, 0.0, 1.0, 0.0]), (101, [0.0, 0.0, 0.0, 1.0])]
    rows += [(200, [1.0, 2.0])]  # wrong dim
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    out = cosine_near_dup_witness(
        df, threshold=0.95, dim=4, bits=2, tables=4
    ).collect()
    marked = {r["id"]: r for r in out}
    assert set(marked) == {1, 2, 3, 4, 5}
    assert all(r["witness_id"] < r["id"] for r in out)
    assert all(abs(r["score"] - 1.0) < 1e-6 for r in out)
    pairs = cosine_near_dup(df, threshold=0.95)
    assert pairs.count() == 15 and len(out) == 5
    # bits=None auto-sizes without error
    auto = cosine_near_dup_witness(df, threshold=0.95, dim=4, bits=None)
    assert {r["id"] for r in auto.collect()} == {1, 2, 3, 4, 5}


def test_auto_lsh_bits_scaling():
    """bits=None sizes the hash table so bucket occupancy stays constant
    as the corpus grows (fixed bits -> quadratic candidate volume, the
    10x-soak cliff)."""
    from traject_spark.corpus import auto_lsh_bits

    assert auto_lsh_bits(100) == 4          # tiny corpus: floor
    assert auto_lsh_bits(2_000) == 4        # sf0.1 embeddings
    assert auto_lsh_bits(20_000) == 8       # sf1: 10x rows -> +~3 bits
    assert auto_lsh_bits(2_000_000) == 14
    assert auto_lsh_bits(10**12) == 16      # ceiling


def test_train_centroids_empty_input(spark):
    from traject_spark.corpus.similarity import train_centroids

    df = spark.createDataFrame([], "vec_id long, embedding array<float>")
    assert train_centroids(df, n_centroids=4) == []


def test_nan_vectors_excluded_everywhere(spark):
    """A right-length vector with a NaN element must be EXCLUDED, never
    falsely matched: Spark's ordering treats NaN as greater than any
    value, so an unguarded NaN cosine ranks #1 / passes any threshold."""
    from pyspark.sql import functions as F
    from traject_spark.corpus.similarity import (
        brute_force_topk,
        cosine_near_dup,
        cosine_near_dup_witness,
        train_centroids,
    )

    nan = float("nan")
    rows = [
        (1, [1.0, 0.0, 0.0, 0.0]),
        (2, [1.0, 0.0, 0.0, 0.0]),   # exact copy of 1
        (3, [0.0, 1.0, 0.0, 0.0]),   # orthogonal to 1/2
        (4, [nan, 1.0, 1.0, 1.0]),   # NaN element, right length
        (5, [1.0, nan, 0.0, 0.0]),   # NaN element, right length
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")

    # brute force: NaN rows never appear as neighbors (or queries)
    topk = brute_force_topk(df, df.filter("vec_id = 1"), k=5).collect()
    assert {r["neighbor_id"] for r in topk} == {1, 2, 3}
    assert topk[0]["neighbor_id"] in (1, 2)  # NaN didn't steal rank 1

    # exact pair mode: no NaN pair passes the threshold
    pairs = cosine_near_dup(df, threshold=0.9).collect()
    assert {(r["id_a"], r["id_b"]) for r in pairs} == {(1, 2)}

    # witness path: NULL buckets dropped, invalid vectors never marked
    wit = cosine_near_dup_witness(
        df, threshold=0.9, dim=4, bits=2, tables=2
    ).collect()
    marked = {r["id"] for r in wit}
    assert marked == {2}, wit
    assert all(r["witness_id"] == 1 for r in wit)

    # centroid training: the NaN vector cannot poison a centroid
    cents = train_centroids(df, n_centroids=2)
    assert cents and all(
        all(x == x for x in c) for _, c in cents  # no NaN coordinates
    )


def test_zero_vectors_excluded_not_crash(spark):
    """An all-zero embedding has no direction: its cosine is 0/0, which
    under ANSI mode is a job-killing DivideByZero, not NaN. Every
    scoring path must EXCLUDE zero vectors like the other invalid
    shapes (r9: one zero row would otherwise crash a 100 TB scan)."""
    rows = [
        (1, [1.0, 0.0, 0.0, 0.0]),
        (2, [1.0, 0.0, 0.0, 0.0]),
        (3, [0.0, 0.0, 0.0, 0.0]),
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    from traject_spark.corpus import (
        brute_force_topk,
        cosine_near_dup,
        cosine_near_dup_witness,
    )
    from traject_spark.corpus.similarity import (
        assign_cell_udf,
        probe_cells_udf,
        train_centroids,
    )

    exact = cosine_near_dup(df, threshold=0.5).collect()
    assert {(r["id_a"], r["id_b"]) for r in exact} == {(1, 2)}

    bf = brute_force_topk(df, df, k=5, id_col="vec_id").collect()
    assert 3 not in {r["neighbor_id"] for r in bf}
    assert 3 not in {r["query_id"] for r in bf}

    wit = cosine_near_dup_witness(df, threshold=0.5, dim=4, bits=2).collect()
    assert {r["id"] for r in wit} == {2}

    cents = [(0, [1.0, 0.0, 0.0, 0.0])]
    cells = df.orderBy("vec_id").select(
        assign_cell_udf(cents).alias("cell"),
        probe_cells_udf(cents, 1).alias("probe"),
    ).collect()
    assert [r["cell"] for r in cells] == [0, 0, None]  # zero row: NULL
    assert [r["probe"] for r in cells] == [[0], [0], None]

    # and training tolerates it (sample filter keeps it out of centroids)
    got = train_centroids(df, n_centroids=2)
    assert got and all(any(x != 0 for x in c) for _, c in got)


def test_exact_mode_ignores_dim_parameter(spark):
    """cosine_near_dup is the 'scores all pairs' baseline: it must work
    on any uniform dimension, with no dimension parameter at all
    (r9 review: the zero-vector filter briefly added a size==dim clause
    that silently emptied exact results for non-64-dim corpora)."""
    rows = [(1, [1.0] * 128), (2, [1.0] * 128), (3, [0.0] * 128)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    from traject_spark.corpus import cosine_near_dup

    got = cosine_near_dup(df, threshold=0.9).collect()
    assert {(r["id_a"], r["id_b"]) for r in got} == {(1, 2)}


def test_centroid_guards_symmetric_across_paths(spark):
    """Assignment and probe reject the same bad centroid lists at build
    time: NaN coordinates and zero norms (a NaN score loses every
    comparison — all rows silently pile into cell 0)."""
    import pytest as _pytest

    from traject_spark.corpus.similarity import (
        assign_cell_udf,
        probe_cells_udf,
    )

    bad_nan = [(0, [float("nan"), 1.0]), (1, [1.0, 0.0])]
    bad_zero = [(0, [0.0, 0.0]), (1, [1.0, 0.0])]
    for cents, msg in [(bad_nan, "finite"), (bad_zero, "zero norm")]:
        with _pytest.raises(ValueError, match=msg):
            assign_cell_udf(cents, "embedding")
        with _pytest.raises(ValueError, match=msg):
            probe_cells_udf(cents, 1, "embedding")


def test_topk_recall_math(spark):
    """topk_recall: per-query |approx ∩ truth|/|truth| averaged; a query
    the approximate path dropped entirely counts as recall 0."""
    from traject_spark.corpus import topk_recall

    truth = spark.createDataFrame(
        [(1, 10), (1, 11), (2, 20), (2, 21), (3, 30)],
        "query_id long, neighbor_id long",
    )
    # q1: both hit; q2: one of two; q3: dropped entirely
    approx = spark.createDataFrame(
        [(1, 10), (1, 11), (2, 20), (2, 99)],
        "query_id long, neighbor_id long",
    )
    row = topk_recall(truth, approx).collect()[0]
    assert row["n_queries"] == 3
    assert abs(row["mean_recall"] - (1.0 + 0.5 + 0.0) / 3) < 1e-9


def test_ann_recall_locked_values(spark):
    """EXACT recall@10 of the production IVF shape vs brute force,
    locked per-SF (the driver's ann_recall oracle row pins only the
    SF-independent >= 0.9 boolean — this is where a retune that MOVES
    recall, even staying above the gate, surfaces and forces a
    conscious re-lock). Deterministic end to end: hash-filter sample +
    sorted init + fixed iters (train_centroids), 6dp score rounding,
    (score desc, neighbor_id) tie-break."""
    from __spark_entry__ import q_ann_recall

    rows = q_ann_recall(spark, SF).collect()
    assert [r["method"] for r in rows] == ["ivf"]
    assert rows[0]["recall_ge_090"] and rows[0]["n_queries"] == 8
    # exact locked value (r10, sf0.001): a hash-grade pin on the
    # candidate-set quality, not just the gate
    from pyspark.sql import functions as F
    from traject_spark.corpus import (
        brute_force_topk, ivf_topk, topk_recall, train_centroids,
    )

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    corpus = emb.filter(F.col("vec_id") >= 8)
    queries = emb.filter(F.col("vec_id") < 8)
    truth = brute_force_topk(corpus, queries, k=10)
    cents = train_centroids(corpus, n_centroids=16, iters=5)
    ivf = topk_recall(
        truth, ivf_topk(corpus, queries, cents, k=10, nprobe=12)
    ).collect()[0]
    assert round(ivf["mean_recall"], 4) == 0.9375, ivf


def test_string_name_fast_paths_accept_nested_refs(spark):
    """ADVICE r15: the string-name overloads previously backtick-quoted
    the WHOLE name, so 'payload.text' became one dotted identifier and
    failed to resolve while F.col('payload.text') worked. A name is now
    rendered part by part (``sqlutil.sql_ref``), so it reads the nested
    field F.col does."""
    from traject_spark.corpus.dedup import minhash_signature_expr
    from traject_spark.corpus.textstats import langid_ngram_expr

    df = spark.createDataFrame(
        [(1, "the cat sat on the mat",)],
        "doc_id: long, text: string",
    ).select("doc_id", F.struct(F.col("text").alias("text")).alias("payload"))
    row = df.select(
        minhash_signature_expr("payload.text", 8, 3).alias("m_name"),
        minhash_signature_expr(F.col("payload.text"), 8, 3).alias("m_col"),
        langid_ngram_expr("payload.text").alias("l_name"),
        langid_ngram_expr(F.col("payload.text")).alias("l_col"),
    ).collect()[0]
    assert row["m_name"] == row["m_col"]
    assert row["l_name"] == row["l_col"]


def test_signature_checkpoint_is_lazy_and_size_warned(
    spark, monkeypatch, tmp_path
):
    """ADVICE r15 (medium): building a text-path dedup query must not
    trigger a Spark job (localCheckpoint is now lazy), and the (id, sig)
    checkpoint warns when the optimizer's input estimate exceeds the
    threshold, pointing at the durable sig_col posture. The warning
    reaches the user under the interpreter's default filters (which
    drop ResourceWarning); an input without statistics
    (createDataFrame) is no estimate and does not warn."""
    import warnings

    from traject_spark.corpus import dedup as _d
    from traject_spark.corpus.dedup import minhash_lsh_candidates

    rows = spark.createDataFrame(
        [(i, f"doc {i} words {' '.join(str(j) for j in range(10))}")
         for i in range(20)],
        "doc_id: long, text: string",
    )
    rows.write.parquet(str(tmp_path / "docs"))
    df = spark.read.parquet(str(tmp_path / "docs"))
    spark.sparkContext.setJobGroup("lazy-check", "builder laziness probe")
    try:
        out = minhash_lsh_candidates(df, num_hashes=16, bands=4)
        jobs = spark.sparkContext.statusTracker().getJobIdsForGroup(
            "lazy-check"
        )
        assert jobs == [], "builder construction ran a Spark job"
    finally:
        spark.sparkContext.setJobGroup(None, None)
    assert out.count() >= 0  # still executes fine

    def warned(frame) -> bool:
        with warnings.catch_warnings(record=True) as caught:
            minhash_lsh_candidates(frame, num_hashes=16, bands=4)
        return any("sig_col" in str(w.message) for w in caught)

    assert not warned(df) and not warned(rows)
    with monkeypatch.context() as m:
        m.setattr(_d, "_SIG_CHECKPOINT_WARN_BYTES", 0)
        assert warned(df)
        assert not warned(rows)
